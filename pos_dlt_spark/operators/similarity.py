"""Similarity search over embedding columns (array<float>).

Determinism note: cosine similarity is computed over embeddings
**quantized to integers** (floor(x * 1000)) so the dot products and norms
are exact integer math — bit-identical in any engine and any summation
order. The final similarity is a fixed-order double expression over those
exact integers. This is what makes ANN results verifiable against a SQL
oracle; un-quantized float sums would differ in the last ulp between
engines and could flip near-tied top-k ranks.

Scale design:
- brute-force top-k broadcasts the (small) probe set against the corpus —
  one scan, no shuffle on the corpus side, per-partition top-k via window;
  right for "a handful of probes x billions of vectors".
- LSH-bucketed ANN (random hyperplane signs) prunes the corpus to matching
  buckets first — right for "all-pairs / many probes". Plane vectors are
  generated from a seeded RNG on the driver and inlined as literals, so
  the plan stays deterministic and executor-side.
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pos_dlt_spark.pyworker import map_in_pandas


def _sql_json_arr(data, dtype: str) -> str:
    """Render a nested integer array as ONE foldable literal: a JSON
    string parsed by ``from_json``, which ConstantFolding collapses to a
    single Literal node before execution (verified: it folds inside HOF
    lambdas too, and the folded plan shows the plain array literal).

    Why not ``array(1L,2L,...)``: that form costs a Catalyst node per
    element — n_centroids x dim nodes per inlined model — and for the
    small ANN gate queries expression-tree ANALYSIS/codegen, not
    execution, dominated the wall (the unrolled trees were ~5 KB of SQL
    per model reference, re-analyzed at every consumer). Values are
    integers rendered by json.dumps, so the parsed literal is exactly
    the old literal array."""
    import json

    payload = json.dumps(data, separators=(",", ":"))
    # the payload is spliced into a single-quoted SQL string with no
    # escaping — sound only while every value is numeric. Fail loudly if
    # a future model artifact smuggles in a quote (VERDICT r12 #8).
    if "'" in payload or "\\" in payload:
        raise ValueError(
            "_sql_json_arr payload must be quote-free (numeric-only model data)"
        )
    return f"from_json('{payload}', '{dtype}')"


def quantized(vec: Column, scale: int = 1000) -> Column:
    """array<float> -> array<bigint>, floor(x*scale). floor (not round):
    round's half-way tie-breaking differs between engines; floor never ties."""
    return F.transform(vec, lambda x: F.floor(x.cast("double") * scale).cast("bigint"))


def quantized_int8(vec: Column) -> Column:
    """array<float> -> int8-range codes (as bigint for exact arithmetic):
    symmetric per-vector scalar quantization, q = floor(x * 127/max|x|).

    Cosine is invariant under per-vector uniform scaling, so the codes
    drop straight into the same integer dot/norm machinery — this is the
    4x-compression storage path (1 byte/dim on disk vs float32; the scale
    factor need not even be kept for cosine). A zero vector gets all-zero
    codes instead of a division by zero. Deterministic across engines: the
    scale is one double division of exact values, the code one double
    multiply + floor."""
    max_abs = F.array_max(F.transform(vec, lambda x: F.abs(x.cast("double"))))
    scale = F.when(max_abs > 0, F.lit(127.0) / max_abs).otherwise(F.lit(0.0))
    return F.transform(vec, lambda x: F.floor(x.cast("double") * scale).cast("bigint"))


def int_dot(a: Column, b: Column) -> Column:
    """Exact integer dot product — order-independent."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0).cast("bigint"), lambda acc, x: acc + x
    )


def cosine_sim_quantized(a: Column, b: Column) -> Column:
    """dot / sqrt(|a|^2) / sqrt(|b|^2) over quantized vectors; fixed
    left-to-right division order."""
    return (
        int_dot(a, b).cast("double")
        / F.sqrt(int_dot(a, a).cast("double"))
        / F.sqrt(int_dot(b, b).cast("double"))
    )


def norm(q: Column) -> Column:
    """sqrt(|q|^2) of a quantized vector — precompute this per ROW before a
    pair join; recomputing it per PAIR triples the (interpreted) dot-product
    work and repeats each row's norm once per partner."""
    return F.sqrt(int_dot(q, q).cast("double"))


def cosine_sim_prenormed(qa: Column, qb: Column, na: Column, nb: Column) -> Column:
    """Same value as :func:`cosine_sim_quantized` — identical double op
    sequence (dot, sqrt, /, /) — but with the norms taken from precomputed
    columns."""
    return int_dot(qa, qb).cast("double") / na / nb


def brute_force_topk(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quantizer=quantized,
) -> DataFrame:
    """Exact cosine top-k per probe: broadcast probes x scan corpus,
    rank by (sim desc, id asc) — the deterministic baseline every ANN
    variant is validated against. ``quantizer`` picks the code scheme
    (default milli-quantized bigints; :func:`quantized_int8` for the
    1-byte-per-dim compressed path)."""
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), quantizer(F.col(vec_col)).alias("qc")
    ).select("neighbor_id", "qc", norm(F.col("qc")).alias("nc"))
    p = probes.select(
        F.col(id_col).alias("probe_id"), quantizer(F.col(vec_col)).alias("qp")
    ).select("probe_id", "qp", norm(F.col("qp")).alias("np_"))
    sim = cosine_sim_prenormed(F.col("qp"), F.col("qc"), F.col("np_"), F.col("nc"))
    w = Window.partitionBy("probe_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        c.crossJoin(F.broadcast(p))
        .filter(F.col("probe_id") != F.col("neighbor_id"))
        .select("probe_id", "neighbor_id", sim.alias("sim"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def cosine_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str | None = "label",
) -> DataFrame:
    """Embedding near-duplicate pairs above a cosine threshold. With a
    blocking column the self-join shuffles on it (candidates only within a
    block); without one this is all-pairs — use :func:`lsh_ann_pairs` at
    scale instead."""
    base = df.select(
        F.col(id_col), quantized(F.col(vec_col)).alias("q"),
        *( [F.col(block_col)] if block_col else [] ),
    )
    base = base.select("*", norm(F.col("q")).alias("n"))
    a, b = base.alias("a"), base.alias("b")
    cond = [F.col(f"a.{id_col}") < F.col(f"b.{id_col}")]
    if block_col:
        cond.append(F.col(f"a.{block_col}") == F.col(f"b.{block_col}"))
    sim = cosine_sim_prenormed(F.col("a.q"), F.col("b.q"), F.col("a.n"), F.col("b.n"))
    return (
        a.join(b, on=cond)
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            sim.alias("sim"),
        )
        .filter(F.col("sim") >= threshold)
    )


def hyperplane_signature(qvec: str, planes: list[list[int]]) -> Column:
    """Random-hyperplane LSH bucket id: bit i = sign(dot(qvec, plane_i)).

    Planes are INTEGER (Rademacher ±1) literal arrays and ``qvec`` (a
    column NAME — the whole signature renders as one SQL string, see
    :func:`_centroid_sims` for why) is the quantized vector, so every dot
    product is exact bigint math — the bucket id is bit-identical in any
    engine (a float dot near zero could flip a sign between engines and
    desynchronize candidate sets). Sign-random-projection LSH with ±1
    entries has the same collision guarantee as Gaussian planes
    (Charikar, STOC'02 — SimHash family). ``qvec`` must be a materialized
    attribute (HOF lambdas re-evaluate their inputs per element)."""
    n = len(planes)
    pl = _sql_json_arr([[int(v) for v in p] for p in planes], "array<array<bigint>>")
    dot = (
        f"aggregate(zip_with({qvec}, element_at({pl}, i + 1), (x, y) -> x * y), "
        "CAST(0 AS BIGINT), (acc, x) -> acc + x)"
    )
    # bit i = sign(dot_i): same left-to-right bigint sum as the old
    # unrolled `0 + t0 + t1 + ...` chain; shiftleft(1L, i) == {1 << i}L
    return F.expr(
        f"aggregate(sequence(0, {n - 1}), CAST(0 AS BIGINT), (sig, i) -> "
        f"sig + (CASE WHEN {dot} >= 0 THEN shiftleft(CAST(1 AS BIGINT), i) ELSE 0L END))"
    )


def make_planes(dim: int, n_planes: int = 12, seed: int = 42) -> list[list[int]]:
    """Seeded Rademacher (±1) hyperplanes, driver-side, inlined as literals."""
    rng = random.Random(seed)
    return [[rng.choice((-1, 1)) for _ in range(dim)] for _ in range(n_planes)]


def lsh_ann_pairs(
    df: DataFrame,
    dim: int,
    threshold: float = 0.9,
    n_planes: int = 12,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Scale path for near-dup pairs: bucket by hyperplane signature
    (vectors with high cosine land in the same bucket with probability
    (1 - theta/pi)^n_planes), self-join within buckets only, verify with
    exact quantized cosine."""
    planes = make_planes(dim, n_planes, seed)
    q_df = df.select(F.col(id_col), quantized(F.col(vec_col)).alias("q"))
    sig = q_df.select(
        F.col(id_col),
        F.col("q"),
        norm(F.col("q")).alias("n"),
        hyperplane_signature("q", planes).alias("bucket"),
    )
    a, b = sig.alias("a"), sig.alias("b")
    sim = cosine_sim_prenormed(F.col("a.q"), F.col("b.q"), F.col("a.n"), F.col("b.n"))
    return (
        a.join(b, on=[F.col("a.bucket") == F.col("b.bucket"), F.col(f"a.{id_col}") < F.col(f"b.{id_col}")])
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            sim.alias("sim"),
        )
        .filter(F.col("sim") >= threshold)
    )


# -- vectorized (Arrow/numpy) brute force ------------------------------------


def brute_force_topk_vectorized(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Same result as :func:`brute_force_topk`, different physical path:
    the probe matrix is collected (a model-artifact-sized broadcast) and
    each Arrow batch of the corpus does ONE int64 numpy matmul against it —
    SIMD instead of an interpreted per-pair lambda. Exactness is preserved:
    quantized int64 dots are exact, and the double ops (divide by each
    sqrt'd norm) replicate the expression version's IEEE sequence, so the
    two paths and the SQL oracle are bit-identical.

    Per-batch top-k is emitted (global top-k is a subset of the union of
    per-batch top-k), then the final per-probe window ranks exactly."""
    import numpy as np
    import pandas as pd

    probe_rows = probes.select(F.col(id_col), quantized(F.col(vec_col))).collect()
    probe_rows.sort(key=lambda r: r[0])
    pids = np.array([r[0] for r in probe_rows], dtype=np.int64)
    P = np.array([r[1] for r in probe_rows], dtype=np.int64)  # (p, d)
    pn = np.sqrt((P * P).sum(axis=1).astype(np.float64))

    out_schema = "probe_id long, neighbor_id long, sim double"

    def fn(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            C = np.array(
                [np.floor(np.asarray(v, dtype=np.float64) * 1000).astype(np.int64) for v in pdf[vec_col]]
            )  # (n, d)
            nids = pdf[id_col].to_numpy(dtype=np.int64)
            cn = np.sqrt((C * C).sum(axis=1).astype(np.float64))
            sims = (C @ P.T).astype(np.float64)  # exact int64 dots
            # divide by the PROBE norm first, then the corpus norm — the
            # same order as cosine_sim_prenormed and the SQL oracle; double
            # division is order-sensitive at the last ulp
            sims = sims / pn[None, :] / cn[:, None]
            frames = []
            for j in range(len(pids)):
                col = sims[:, j]
                mask = nids != pids[j]
                ids_j, col_j = nids[mask], col[mask]
                top = min(k, len(ids_j))
                if top == 0:
                    continue
                # order by (sim desc, id asc): lexsort keys read right-to-left
                order = np.lexsort((ids_j, -col_j))[:top]
                frames.append(
                    pd.DataFrame(
                        {
                            "probe_id": pids[j],
                            "neighbor_id": ids_j[order],
                            "sim": col_j[order],
                        }
                    )
                )
            if frames:
                yield pd.concat(frames)

    partial = map_in_pandas(corpus.select(id_col, vec_col), fn, out_schema)
    w = Window.partitionBy("probe_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        partial.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)
    )


# -- IVF (inverted-file) ANN -------------------------------------------------


def _centroid_sims(qvec: str, nq: str, centroids: list[tuple[int, list[int]]]) -> Column:
    """array<struct<negsim,cid>> of (negated) cosine to each centroid.
    Struct ordering gives argmax-sim with lowest-cid tiebreak via array_min.
    Centroid norms fold to constants; the row norm comes in precomputed.

    ``qvec``/``nq`` are COLUMN NAMES: the whole expression is rendered as
    one SQL string and parsed by a single ``F.expr``. Composing it from
    ``F.lit``/``F.array`` objects instead costs n_centroids x dim py4j
    round-trips (4000+ driver calls, ~3 s of plan-build latency per query
    — measured; the parse of the equivalent ~5 KB string is
    milliseconds). Same arithmetic, same plan."""
    n = len(centroids)
    cqs = _sql_json_arr([[int(v) for v in cv] for _, cv in centroids], "array<array<bigint>>")
    ccs = _sql_json_arr(
        [sum(int(v) * int(v) for v in cv) for _, cv in centroids], "array<bigint>"
    )
    cids = _sql_json_arr([int(cid) for cid, _ in centroids], "array<int>")
    dot = (
        f"aggregate(zip_with({qvec}, element_at({cqs}, i + 1), (x, y) -> x * y), "
        "CAST(0 AS BIGINT), (acc, x) -> acc + x)"
    )
    sim = f"CAST({dot} AS DOUBLE) / {nq} / sqrt(CAST(element_at({ccs}, i + 1) AS DOUBLE))"
    return F.expr(
        f"transform(sequence(0, {n - 1}), i -> "
        f"named_struct('negsim', ({sim}) * -1, 'cid', element_at({cids}, i + 1)))"
    )


def kmeans_fit(
    corpus: DataFrame,
    n_centroids: int = 8,
    iters: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_mod: int | None = None,
) -> list[tuple[int, list[int]]]:
    """Lloyd k-means over quantized integer vectors; returns the
    ``[(cid, centroid_vec), ...]`` model artifact :func:`ivf_topk` accepts.

    Every step is JVM-side and bounded on the driver:

    - **assignment** is a per-row expression (centroids inlined as
      literals, like :func:`ivf_topk`'s routing) — one corpus scan per
      iteration, no shuffle;
    - **update** is SPHERICAL (normalize-then-average): each vector is
      rescaled to a fixed integer norm before summing, so the new centroid
      is the mean DIRECTION of its cluster — the update that monotonically
      improves the mean-cosine objective the assignment step optimizes
      (plain means optimize euclidean distance, the wrong objective for
      cosine ANN). Sums posexplode to (cid, dim, component) rows and
      hash-aggregate — partial map-side combine means a hot cluster never
      materializes in one place (the `emb_label_centroids` shape); only
      ``n_centroids × dim`` finished rows reach the driver;
    - **new centroids** are floor(sum/count) integer means — deterministic,
      no float accumulation order to diverge.

    ``sample_mod`` fits on the deterministic 1-in-m id-hash sample — at
    100 TB you fit the model on a sample and assign the full corpus once,
    exactly what this + :func:`ivf_topk`'s ``centroids=`` plug supports.
    Init = the ``n_centroids`` lowest-id vectors (deterministic); an empty
    cluster keeps its previous centroid.
    """
    qc = corpus.select(F.col(id_col).alias("__id"), quantized(F.col(vec_col)).alias("qc"))
    if sample_mod is not None:
        qc = qc.filter(F.pmod(F.hash(F.col("__id")), F.lit(sample_mod)) == 0)
    qc = qc.select("__id", "qc", norm(F.col("qc")).alias("nc")).persist()
    try:
        init = qc.orderBy("__id").limit(n_centroids).collect()
        if len(init) < n_centroids:
            raise ValueError(f"need >= {n_centroids} vectors to fit, got {len(init)}")
        centroids = [(cid, list(r.qc)) for cid, r in enumerate(init)]
        dim = len(centroids[0][1])
        for _ in range(iters):
            assigned = qc.select(
                F.array_min(_centroid_sims("qc", "nc", centroids))["cid"].alias("cid"),
                "qc",
                "nc",
            )
            unit = F.transform(  # rescale to norm ~1e5: spherical update
                F.col("qc"), lambda x: F.floor(x * 100000 / F.col("nc")).cast("bigint")
            )
            stats = (
                assigned.select("cid", F.posexplode(unit).alias("dim", "comp"))
                .groupBy("cid", "dim")
                .agg(F.sum("comp").alias("s"), F.count(F.lit(1)).alias("n"))
                .collect()
            )
            acc: dict[int, dict[int, tuple[int, int]]] = {}
            for r in stats:
                acc.setdefault(int(r.cid), {})[int(r.dim)] = (int(r.s), int(r.n))
            centroids = [
                (cid, [acc[cid][d][0] // acc[cid][d][1] for d in range(dim)])
                if cid in acc
                else (cid, old)
                for cid, old in centroids
            ]
        return centroids
    finally:
        qc.unpersist()


# -- PQ (product quantization, ADC scan) -------------------------------------


def _pq_code(sqcol: str, book: list[tuple[int, list[int]]]) -> Column:
    """Sub-quantizer code: argmin euclidean distance to the codebook.
    ``|x - c|^2 = |x|^2 - 2x.c + |c|^2`` and ``|x|^2`` is constant per row,
    so the argmin of ``|c|^2 - 2x.c`` suffices — exact bigint math, min-cid
    tiebreak via lexicographic array_min on (d, cid) structs. ``sqcol`` is
    a column NAME (materialized attribute; see hyperplane_signature)."""
    k = len(book)
    cbs = _sql_json_arr([[int(v) for v in cv] for _, cv in book], "array<array<bigint>>")
    ccs = _sql_json_arr([sum(int(v) * int(v) for v in cv) for _, cv in book], "array<bigint>")
    cids = _sql_json_arr([int(cid) for cid, _ in book], "array<int>")
    dot = (
        f"aggregate(zip_with({sqcol}, element_at({cbs}, i + 1), (x, y) -> x * y), "
        "CAST(0 AS BIGINT), (acc, x) -> acc + x)"
    )
    return F.expr(
        f"array_min(transform(sequence(0, {k - 1}), i -> "
        f"named_struct('d', element_at({ccs}, i + 1) - 2 * ({dot}), "
        f"'cid', element_at({cids}, i + 1))))['cid']"
    )


def pq_fit(
    corpus: DataFrame,
    dim: int,
    m: int = 8,
    ksub: int = 8,
    iters: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[tuple[int, list[int]]]]:
    """Fit ``m`` product-quantizer codebooks of ``ksub`` sub-centroids each
    over the quantized corpus (model artifact for :func:`pq_topk`).

    ``iters=0`` uses the first ``ksub`` vectors' sub-slices — the
    deterministic, SQL-oracle-expressible baseline (same contract as
    ivf_topk's default centroids). ``iters>0`` runs Lloyd euclidean
    k-means per subspace, all ``m`` subspaces updated in ONE corpus scan
    per iteration (explode to (subspace, code, dim) partial sums —
    map-side combine, nothing hot materializes); new centers are exact
    floor-mean integers, empty clusters keep their previous center."""
    sub, rem = divmod(dim, m)
    if rem:
        raise ValueError(f"dim {dim} not divisible into {m} subspaces")
    qc = corpus.select(F.col(id_col).alias("__id"), quantized(F.col(vec_col)).alias("q"))
    sl = qc.select(
        "__id", *[F.slice("q", j * sub + 1, sub).alias(f"s{j}") for j in range(m)]
    )
    init = sl.orderBy("__id").limit(ksub).collect()
    if len(init) < ksub:
        raise ValueError(f"need >= {ksub} vectors to fit, got {len(init)}")
    books = [[(c, list(init[c][f"s{j}"])) for c in range(ksub)] for j in range(m)]
    for _ in range(iters):
        per_sub = F.array(
            *[
                F.struct(
                    F.lit(j).alias("j"),
                    _pq_code(f"s{j}", books[j]).alias("code"),
                    F.col(f"s{j}").alias("sv"),
                )
                for j in range(m)
            ]
        )
        stats = (
            sl.select(F.explode_outer(per_sub).alias("e"))
            .select("e.j", "e.code", F.posexplode_outer("e.sv").alias("dim", "comp"))
            .groupBy("j", "code", "dim")
            .agg(F.sum("comp").alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        acc: dict[tuple[int, int], dict[int, tuple[int, int]]] = {}
        for r in stats:
            acc.setdefault((int(r.j), int(r.code)), {})[int(r.dim)] = (int(r.s), int(r.n))
        books = [
            [
                (cid, [acc[(j, cid)][d][0] // acc[(j, cid)][d][1] for d in range(sub)])
                if (j, cid) in acc
                else (cid, old)
                for cid, old in books[j]
            ]
            for j in range(m)
        ]
    return books


def pq_encode(
    corpus: DataFrame,
    books: list[list[tuple[int, list[int]]]],
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode each vector as ``m`` codes + the reconstructed squared norm
    -> (vec_id, c0..c{m-1}, ansq). This is the compressed representation:
    with ksub=256 it is one byte per subspace on disk — at 100 TB the
    encoded table replaces the raw vectors in every ANN scan."""
    m = len(books)
    sub = dim // m
    qc = corpus.select(F.col(id_col).alias("vec_id"), quantized(F.col(vec_col)).alias("q"))
    sl = qc.select(
        "vec_id", *[F.slice("q", j * sub + 1, sub).alias(f"s{j}") for j in range(m)]
    )
    coded = sl.select(
        "vec_id", *[_pq_code(f"s{j}", books[j]).alias(f"c{j}") for j in range(m)]
    )
    normsq_terms = []
    for j, book in enumerate(books):
        ccs = _sql_json_arr(
            [sum(int(v) * int(v) for v in cv) for _, cv in book], "array<bigint>"
        )
        normsq_terms.append(f"element_at({ccs}, c{j} + 1)")
    return coded.select(
        "vec_id",
        *[f"c{j}" for j in range(m)],
        F.expr(" + ".join(normsq_terms)).alias("ansq"),
    )


def pq_topk(
    corpus: DataFrame,
    probes: DataFrame,
    books: list[list[tuple[int, list[int]]]],
    dim: int,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ-ADC approximate top-k: probes precompute one lookup table per
    subspace (dot to each sub-centroid — ksub*m dots, once per PROBE), and
    every corpus row's approximate similarity is then ``m`` array lookups
    + adds instead of a dim-length dot per pair — the asymmetric-distance
    scan of Jegou et al. (TPAMI'11), declaratively. Approximate cosine =
    adc_dot / |probe| / sqrt(reconstructed |corpus|^2); exact integers
    inside, fixed-order doubles outside, so the whole path SQL-oracles."""
    m = len(books)
    sub = dim // m
    enc = pq_encode(corpus, books, dim, id_col, vec_col).withColumnRenamed(
        "vec_id", "neighbor_id"
    )
    p = probes.select(F.col(id_col).alias("probe_id"), quantized(F.col(vec_col)).alias("qp"))
    p = p.select("probe_id", "qp", norm(F.col("qp")).alias("np_"))
    p = p.select(
        "probe_id", "np_", *[F.slice("qp", j * sub + 1, sub).alias(f"p{j}") for j in range(m)]
    )
    lut_cols = []
    for j, book in enumerate(books):
        cbs = _sql_json_arr([[int(v) for v in cv] for _, cv in book], "array<array<bigint>>")
        lut_cols.append(
            F.expr(
                f"transform({cbs}, cv -> aggregate(zip_with(p{j}, cv, (x, y) -> x * y), "
                "CAST(0 AS BIGINT), (acc, x) -> acc + x))"
            ).alias(f"lut{j}")
        )
    pl = p.select("probe_id", "np_", *lut_cols)
    adot = " + ".join(f"element_at(lut{j}, c{j} + 1)" for j in range(m))
    sim = (
        F.expr(f"CAST({adot} AS BIGINT)").cast("double")
        / F.col("np_")
        / F.sqrt(F.col("ansq").cast("double"))
    )
    w = Window.partitionBy("probe_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        enc.crossJoin(F.broadcast(pl))
        .filter(F.col("probe_id") != F.col("neighbor_id"))
        .select("probe_id", "neighbor_id", sim.alias("sim"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def ivf_topk(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    n_centroids: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[tuple[int, list[int]]] | None = None,
) -> DataFrame:
    """IVF-style ANN top-k: assign every corpus vector to its nearest
    centroid (the inverted lists), then each probe searches only the
    ``nprobe`` closest lists.

    The centroid set is a MODEL ARTIFACT: tiny (``n_centroids`` rows),
    collected to the driver once and inlined as literals, so both the
    assignment and the probe routing are pure per-row expressions — the
    100 TB corpus is scanned exactly once with NO shuffle for assignment;
    the only shuffles are the candidate join (hash on cid) and the final
    per-probe top-k window. Pass ``centroids`` (e.g. from
    :func:`kmeans_fit`) to use a trained model; the default picks the
    first ``n_centroids`` vectors by id — the deterministic, SQL-oracle-
    expressible baseline.
    """
    if centroids is None:
        cent_rows = (
            corpus.filter(F.col(id_col) < n_centroids)
            .select(F.col(id_col), quantized(F.col(vec_col)).alias("cq"))
            .collect()
        )
        centroids = sorted((int(r[0]), list(r[1])) for r in cent_rows)

    qc = corpus.select(
        F.col(id_col).alias("neighbor_id"), quantized(F.col(vec_col)).alias("qc")
    ).select("neighbor_id", "qc", norm(F.col("qc")).alias("nc"))
    assign = qc.select(
        "neighbor_id",
        "qc",
        "nc",
        F.array_min(_centroid_sims("qc", "nc", centroids))["cid"].alias("cid"),
    )

    qp = probes.select(
        F.col(id_col).alias("probe_id"), quantized(F.col(vec_col)).alias("qp")
    ).select("probe_id", "qp", norm(F.col("qp")).alias("np_"))
    probe_cents = qp.select(
        "probe_id",
        "qp",
        "np_",
        # explode_OUTER: plain explode makes Catalyst infer size()>0 over
        # this whole centroid-sims expression and push it into the probe
        # scan's DataFilters, where it is re-evaluated per row for zero
        # pruning benefit. The slice is never empty (centroids is a
        # non-empty literal), so outer semantics are identical.
        F.explode_outer(
            F.transform(
                F.slice(F.array_sort(_centroid_sims("qp", "np_", centroids)), 1, nprobe),
                lambda s: s["cid"],
            )
        ).alias("cid"),
    )

    sim = cosine_sim_prenormed(F.col("qp"), F.col("qc"), F.col("np_"), F.col("nc"))
    w = Window.partitionBy("probe_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        assign.join(F.broadcast(probe_cents), "cid")
        .filter(F.col("probe_id") != F.col("neighbor_id"))
        .select("probe_id", "neighbor_id", sim.alias("sim"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def ivfpq_topk(
    corpus: DataFrame,
    probes: DataFrame,
    books: list[list[tuple[int, list[int]]]],
    dim: int,
    k: int = 5,
    nprobe: int = 2,
    n_centroids: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[tuple[int, list[int]]] | None = None,
) -> DataFrame:
    """IVF routing + PQ-ADC scoring — the composition that actually ships
    at 100 TB (FAISS's IVFPQ, declaratively): the corpus is scanned ONCE,
    producing per row its inverted-list id (nearest centroid) AND its m
    PQ codes + reconstructed norm; probes search only their ``nprobe``
    lists, and each surviving candidate costs m LUT lookups + adds
    instead of a dim-length dot. Candidate volume shrinks by
    nprobe/n_centroids AND per-candidate cost by dim/m versus brute
    force, multiplicatively.

    Both models are driver-side literals (centroids: n_centroids rows;
    codebooks: m*ksub sub-vectors), so assignment and encoding are pure
    per-row expressions — no shuffle touches the corpus until the
    candidate equi-join on cid. Exact integer math inside, fixed-order
    doubles at the sim, so the full path SQL-oracles like its parents.
    """
    m = len(books)
    sub = dim // m
    if centroids is None:
        cent_rows = (
            corpus.filter(F.col(id_col) < n_centroids)
            .select(F.col(id_col), quantized(F.col(vec_col)).alias("cq"))
            .collect()
        )
        centroids = sorted((int(r[0]), list(r[1])) for r in cent_rows)

    qc = corpus.select(
        F.col(id_col).alias("neighbor_id"), quantized(F.col(vec_col)).alias("qc")
    ).select("neighbor_id", "qc", norm(F.col("qc")).alias("nc"))
    # one corpus projection chain: list id + sub-slices -> codes + norm
    sliced = qc.select(
        "neighbor_id",
        F.array_min(_centroid_sims("qc", "nc", centroids))["cid"].alias("cid"),
        *[F.slice("qc", j * sub + 1, sub).alias(f"s{j}") for j in range(m)],
    )
    coded = sliced.select(
        "neighbor_id", "cid", *[_pq_code(f"s{j}", books[j]).alias(f"c{j}") for j in range(m)]
    )
    normsq_terms = []
    for j, book in enumerate(books):
        ccs = _sql_json_arr(
            [sum(int(v) * int(v) for v in cv) for _, cv in book], "array<bigint>"
        )
        normsq_terms.append(f"element_at({ccs}, c{j} + 1)")
    enc = coded.select(
        "neighbor_id", "cid", *[f"c{j}" for j in range(m)],
        F.expr(" + ".join(normsq_terms)).alias("ansq"),
    )

    p = probes.select(
        F.col(id_col).alias("probe_id"), quantized(F.col(vec_col)).alias("qp")
    ).select("probe_id", "qp", norm(F.col("qp")).alias("np_"))
    p = p.select(
        "probe_id", "qp", "np_",
        *[F.slice("qp", j * sub + 1, sub).alias(f"p{j}") for j in range(m)],
    )
    lut_cols = []
    for j, book in enumerate(books):
        cbs = _sql_json_arr([[int(v) for v in cv] for _, cv in book], "array<array<bigint>>")
        lut_cols.append(
            F.expr(
                f"transform({cbs}, cv -> aggregate(zip_with(p{j}, cv, (x, y) -> x * y), "
                "CAST(0 AS BIGINT), (acc, x) -> acc + x))"
            ).alias(f"lut{j}")
        )
    pl = p.select(
        "probe_id", "np_", *lut_cols,
        F.explode_outer(
            F.transform(
                F.slice(F.array_sort(_centroid_sims("qp", "np_", centroids)), 1, nprobe),
                lambda s: s["cid"],
            )
        ).alias("cid"),
    )

    adot = " + ".join(f"element_at(lut{j}, c{j} + 1)" for j in range(m))
    sim = (
        F.expr(f"CAST({adot} AS BIGINT)").cast("double")
        / F.col("np_")
        / F.sqrt(F.col("ansq").cast("double"))
    )
    w = Window.partitionBy("probe_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        enc.join(F.broadcast(pl), "cid")
        .filter(F.col("probe_id") != F.col("neighbor_id"))
        .select("probe_id", "neighbor_id", sim.alias("sim"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


# -- SemDeDup (semantic deduplication) ---------------------------------------


def seed_centroids(
    corpus: DataFrame, k: int, id_col: str = "vec_id", vec_col: str = "embedding"
) -> list[tuple[int, list[int]]]:
    """Deterministic centroid seeds: the ``k`` lowest-id vectors, quantized,
    with the source row's id as the cluster id — the same init
    :func:`kmeans_fit` uses, exposed standalone so a SQL oracle can
    reproduce the model exactly (``ORDER BY id LIMIT k``). Bounded
    collect: k rows."""
    rows = (
        corpus.select(F.col(id_col).alias("__id"), quantized(F.col(vec_col)).alias("q"))
        .orderBy("__id")
        .limit(k)
        .collect()
    )
    if len(rows) < k:
        raise ValueError(f"need >= {k} vectors, got {len(rows)}")
    return [(int(r["__id"]), list(r.q)) for r in rows]


def semantic_dedup(
    df: DataFrame,
    centroids: list[tuple[int, list[int]]],
    threshold: float = 0.45,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    vectorized: bool = False,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): assign each
    embedding to its nearest centroid (argmax cosine, lowest-cid tiebreak),
    then within each cluster mark every vector that has an EARLIER-id
    neighbor with cosine >= ``threshold`` as a semantic duplicate of the
    lowest such id. Returns one row per input vector:
    ``(id, cluster, dup_of nullable)`` — ``dup_of IS NULL`` is the keep set.

    Scale design: the model is a bounded artifact (fit via
    :func:`kmeans_fit` on a sample at 100 TB, or :func:`seed_centroids`
    for the oracle-exact path); assignment is one scan with inlined
    centroid literals (no shuffle, same machinery as :func:`ivf_topk`
    routing); the pair stage is a self-equi-join ON the cluster id — cost
    is sum of per-cluster squares, so ``k`` must grow with the corpus
    (SemDeDup's published config: k ~ n/1000, keeping clusters ~constant
    size; a hot cluster is the same failure mode as an LSH hot bucket and
    is bounded the same way — pick k, or cap via sampling).

    Precondition (both assignment paths, same as
    :func:`assign_centroids_vectorized`): vectors and centroids must have
    nonzero quantized norm (some component with |x| >= 0.001). A zero
    norm makes :func:`cosine_sim_prenormed` divide by zero — NaN on the
    expression path, and NaN compares greater than any double in both
    Spark and DuckDB, so ``sim >= threshold`` is TRUE and zero vectors
    silently flag each other as semantic duplicates. Filter zero vectors
    upstream; cosine is undefined for them anyway.

    The assignment stage — a full corpus scan with k dot products per
    row — feeds three plan branches (both pair-join sides and the final
    select), so it is persisted here: one assignment pass per action
    instead of three. Call ``.unpersist()`` on the returned frame's
    assigned parent (or let the session reclaim it) when done."""
    if vectorized:
        # one numpy matmul per Arrow batch instead of k interpreted dots
        # per row — bit-identical assignment (see assign_centroids_
        # vectorized); pick this when k is large (k ~ n/1000 at scale)
        assigned = assign_centroids_vectorized(
            df, centroids, id_col=id_col, vec_col=vec_col
        ).select(id_col, "q", "n", F.col("cluster").cast("int").alias("cluster"))
    else:
        q = df.select(F.col(id_col), quantized(F.col(vec_col)).alias("q"))
        q = q.select(id_col, "q", norm(F.col("q")).alias("n"))
        assigned = q.select(
            id_col,
            "q",
            "n",
            F.array_min(_centroid_sims("q", "n", centroids))["cid"].alias("cluster"),
        )
    assigned = assigned.persist()
    a = assigned.select(
        F.col("cluster"),
        F.col(id_col).alias("id_a"),
        F.col("q").alias("qa"),
        F.col("n").alias("na"),
    )
    b = assigned.select(
        F.col("cluster"),
        F.col(id_col).alias("id_b"),
        F.col("q").alias("qb"),
        F.col("n").alias("nb"),
    )
    sim = cosine_sim_prenormed(F.col("qa"), F.col("qb"), F.col("na"), F.col("nb"))
    pairs = (
        a.join(b, on="cluster")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", sim.alias("sim"))
        .filter(F.col("sim") >= threshold)
    )
    dup_of = pairs.groupBy(F.col("id_b").alias(id_col)).agg(F.min("id_a").alias("dup_of"))
    return assigned.select(id_col, "cluster").join(dup_of, on=id_col, how="left")


def assign_centroids_vectorized(
    df: DataFrame,
    centroids: list[tuple[int, list[int]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Nearest-centroid assignment as ONE int64 numpy matmul per Arrow
    batch — the scale path for large centroid counts, where the inlined-
    literal expression (:func:`_centroid_sims`) pays k interpreted dot
    products per row. Bit-identical to the expression path: exact int64
    dots, then the same IEEE division order (row norm, then centroid
    norm); ties resolve to the lowest cid because the centroid matrix is
    cid-sorted and ``argmax`` returns the first maximum.

    Precondition (both assignment paths): vectors and centroids must have
    nonzero quantized norm — a zero vector divides by zero, and the two
    paths disagree on the garbage (numpy inf vs SQL null). Filter zero
    vectors upstream; cosine is undefined for them anyway.

    Returns (id, q array<bigint>, n double, cluster int) so downstream
    stages reuse the quantized vectors without recomputing."""
    import numpy as np
    import pandas as pd

    cents = sorted(centroids)
    cids = np.array([c for c, _ in cents], dtype=np.int64)
    M = np.array([v for _, v in cents], dtype=np.int64)  # (k, d)
    mn = np.sqrt((M * M).sum(axis=1).astype(np.float64))
    schema = f"{id_col} long, q array<bigint>, n double, cluster int"

    def fn(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            Q = np.array(
                [
                    np.floor(np.asarray(v, dtype=np.float64) * 1000).astype(np.int64)
                    for v in pdf[vec_col]
                ]
            )
            qn = np.sqrt((Q * Q).sum(axis=1).astype(np.float64))
            sims = (Q @ M.T).astype(np.float64) / qn[:, None] / mn[None, :]
            best = sims.argmax(axis=1)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(np.int64),
                    "q": list(Q),
                    "n": qn,
                    "cluster": cids[best].astype(np.int32),
                }
            )

    return map_in_pandas(df.select(id_col, vec_col), fn, schema)
