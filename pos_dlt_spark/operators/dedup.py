"""Deduplication operators for training-data pipelines: exact, MinHash+LSH,
SimHash, and n-gram Jaccard.

Design for 100 TB:
- **Signatures are per-row maps** with NO explode and NO shuffle: the JVM
  tokenizes and shingles each row (``split`` / ``transform`` over the token
  array), then ONE Arrow-batched ``mapInPandas`` stage
  (:func:`shingle_hashes`) hashes each shingle set once with CPython's C
  md5 and emits the distinct-hash set and every minhash value. A 100 TB
  corpus streams through map tasks once.
- **The only shuffles are the LSH band self-joins**, which hash-partition
  on (band_index, band_value) — exactly the key that buckets near-dups
  together. Bucket sizes are bounded by collision probability, not corpus
  size; a pathological hot bucket (e.g. thousands of near-identical docs
  sharing one signature) is capped by ``max_bucket_size`` before the pair
  join, with :func:`lsh_hot_buckets` as the audit of what was skipped.
- **Verification joins only candidate pairs** (LSH output), never all
  pairs: O(candidates), not O(n^2).

Hashes are the portable md5-based :func:`pos_dlt_spark.functions.phash`
so every signature is verifiable against the DuckDB oracle.
"""

from __future__ import annotations

import weakref
from typing import Iterator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType, StructField, StructType

from pos_dlt_spark.functions import phash
from pos_dlt_spark.operators.text import tokens
from pos_dlt_spark.pyworker import map_in_pandas


# -- shingling --------------------------------------------------------------


def _shingles_from_tokens(toks: Column, n: int) -> Column:
    """Distinct word ``n``-grams of ``toks``, a materialized token column."""
    idx = F.sequence(F.lit(0), F.size(toks) - n)
    joined = F.transform(
        idx, lambda i: F.concat_ws(" ", *[F.element_at(toks, (i + j + 1).cast("int")) for j in range(n)])
    )
    # guard: docs shorter than n tokens get a single whole-doc shingle
    return F.array_distinct(
        F.when(F.size(toks) >= n, joined).otherwise(F.array(F.concat_ws(" ", toks)))
    )


def shingle_table(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    n: int = 3, out_col: str = "sh",
) -> DataFrame:
    """id + materialized ``sh`` shingle-array column.

    Two stacked projections: tokens first, shingles second. Each heavy
    alias (regexp split, shingle build) is referenced multiple times
    downstream, so Catalyst's CollapseProject keeps the stages separate and
    every row tokenizes exactly once — instead of once per array element
    inside the (interpreted) higher-order-function lambdas.
    """
    toks_df = df.select(F.col(id_col), tokens(F.col(text_col)).alias("__toks"))
    return toks_df.select(
        F.col(id_col), _shingles_from_tokens(F.col("__toks"), n).alias(out_col)
    )


# -- exact dedup ------------------------------------------------------------


def exact_dedup_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Group documents by normalized-text hash; keep the min id as the
    canonical representative. One hash-shuffle on the 32-char digest."""
    normalized = F.regexp_replace(F.trim(F.lower(F.col(text_col))), r"\s+", " ")
    return (
        df.select(F.col(id_col), F.md5(normalized).alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


# -- MinHash + LSH ----------------------------------------------------------


def shingle_hashes(df: DataFrame, n_hashes: int) -> DataFrame:
    """Hash every row's shingle array ONCE, in one Arrow-batched
    ``mapInPandas`` stage: ``df``'s columns minus ``sh``, then ``hsh``
    (the distinct :func:`~pos_dlt_spark.functions.phash` values in
    first-occurrence order, as ``array_distinct(transform(sh, phash))``)
    and ``mh0..mh{n-1}`` (the min over shingles of the phash salted with
    ``"{i}:"``, as ``array_min``).

    Bit-identical to the SQL form: phash is the first 4 bytes of
    ``md5(salt || utf8(s))`` read big-endian, which equals
    ``conv(substring(md5(..), 1, 8), 16, 10)``. A null array gives null
    ``hsh`` and null ``mh*``; an empty one gives ``[]`` and null ``mh*``;
    a null element stays in ``hsh`` once and is skipped by the mins.
    One seeded md5 per salt is ``copy()``-ed per shingle, so the salt is
    hashed once per batch, and no element runs through interpreted
    ``transform`` / ``conv`` / hex strings (a JVM ``transform`` lambda is
    a codegen fallback: its projection runs element by element)."""
    schema = StructType(
        [f for f in df.schema.fields if f.name != "sh"]
        + [StructField("hsh", ArrayType(LongType()))]
        + [StructField(f"mh{i}", LongType()) for i in range(n_hashes)]
    )
    salts = [f"{i}:".encode() for i in range(n_hashes)]

    def run(batches: Iterator) -> Iterator:
        from hashlib import md5

        import pandas as pd

        def digest32(seed, b: bytes) -> int:
            h = seed.copy()
            h.update(b)
            return int.from_bytes(h.digest()[:4], "big")

        unsalted = md5(usedforsecurity=False)
        seeds = [md5(salt, usedforsecurity=False) for salt in salts]
        for pdf in batches:
            hsh: list = []
            mins: list[list] = [[] for _ in seeds]
            for sh in pdf.pop("sh"):
                if sh is None:
                    hsh.append(None)
                    for col in mins:
                        col.append(None)
                    continue
                enc = [None if s is None else s.encode("utf-8") for s in sh]
                hsh.append(list(dict.fromkeys(
                    None if b is None else digest32(unsalted, b) for b in enc
                )))
                enc = [b for b in enc if b is not None]
                for seed, col in zip(seeds, mins):
                    col.append(min(digest32(seed, b) for b in enc) if enc else None)
            pdf["hsh"] = pd.Series(hsh, index=pdf.index, dtype=object)
            for i, col in enumerate(mins):
                pdf[f"mh{i}"] = pd.Series(col, index=pdf.index, dtype=object)
            yield pdf

    return map_in_pandas(df, run, schema)


def minhash_signatures(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    n_hashes: int = 8, shingle_n: int = 3,
) -> DataFrame:
    sig = shingle_hashes(shingle_table(df, text_col, id_col, shingle_n), n_hashes)
    return sig.select(id_col, *[f"mh{i}" for i in range(n_hashes)])


def _banded(sig: DataFrame, id_col: str, n_hashes: int, bands: int) -> DataFrame:
    """Unpivot a signature table into (id, band, band_key) rows."""
    rows_per_band = n_hashes // bands
    band_cols = [
        F.struct(
            F.lit(b).alias("band"),
            F.concat_ws("_", *[F.col(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)]).alias("key"),
        )
        for b in range(bands)
    ]
    return sig.select(F.col(id_col), F.explode(F.array(*band_cols)).alias("bk")).select(
        id_col, F.col("bk.band").alias("band"), F.col("bk.key").alias("band_key")
    )


def lsh_hot_buckets(
    sig: DataFrame, id_col: str = "doc_id", n_hashes: int = 8, bands: int = 4,
    max_bucket_size: int = 100,
) -> DataFrame:
    """The (band, band_key, n_docs) buckets LARGER than ``max_bucket_size`` —
    the audit twin of :func:`lsh_candidate_pairs`'s cap, so a pipeline can
    count/log exactly which buckets (and how many docs) candidate generation
    skipped instead of dropping them silently."""
    return (
        _banded(sig, id_col, n_hashes, bands)
        .groupBy("band", "band_key")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") > max_bucket_size)
    )


def lsh_candidate_pairs(
    sig: DataFrame, id_col: str = "doc_id", n_hashes: int = 8, bands: int = 4,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Banding: documents agreeing on all rows of any band are candidates.
    Implemented as one unpivot (band rows) + a self-equi-join on
    (band_index, band_key) -> shuffle co-locates likely-dups only.

    ``max_bucket_size`` caps the quadratic blowup of pathological hot
    buckets (e.g. thousands of near-empty docs sharing one signature): any
    bucket with more docs than the cap is excluded from pair generation via
    a broadcast anti-join (there can be at most n/cap hot buckets, so the
    exclusion list is always tiny). Use :func:`lsh_hot_buckets` with the
    same cap to surface what was skipped; run exact dedup FIRST so identical
    docs collapse before LSH ever sees them. ``None`` (default) keeps exact
    LSH semantics — every bucket joins."""
    banded = _banded(sig, id_col, n_hashes, bands)
    if max_bucket_size is not None:
        w_counts = (
            banded.groupBy("band", "band_key")
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") > max_bucket_size)
            .select("band", "band_key")
        )
        banded = banded.join(
            F.broadcast(w_counts), on=["band", "band_key"], how="left_anti"
        )
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            on=[
                F.col("a.band") == F.col("b.band"),
                F.col("a.band_key") == F.col("b.band_key"),
                F.col(f"a.{id_col}") < F.col(f"b.{id_col}"),
            ],
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )


def hashed_shingle_table(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    n: int = 3, out_col: str = "hsh",
) -> DataFrame:
    """id + array<bigint> of hashed distinct shingles. Set operations over
    bigints are far cheaper than over shingle strings; Jaccard over the
    hash sets equals Jaccard over the string sets (the oracle applies the
    identical md5-derived hash, so even a collision cannot desynchronize
    the two engines). Hashed by :func:`shingle_hashes`."""
    sets = shingle_hashes(shingle_table(df, text_col, id_col, n), 0)
    return sets.withColumnRenamed("hsh", out_col)


# Frames pinned by pin_frame, oldest first. Spark's ContextCleaner only
# reclaims dropped persisted blocks after a DRIVER JVM GC, which a
# mostly-idle 16g heap may not run for hundreds of queries — measured: a
# bench session accumulating such pins degraded later unrelated queries
# up to 9x (corpus_repeated_ngrams 0.75 -> 6.8 s) until a System.gc().
# Explicitly unpersisting superseded frames bounds the pinned footprint
# to ONE frame PER SPARKSESSION regardless of session length (keyed by
# session so two sessions in one process — e.g. tests beside a gate run —
# cannot silently unpersist each other's frame mid-plan; VERDICT r12 #8).
# Safe because persist (unlike localCheckpoint) keeps lineage: a stale
# frame that somehow gets re-executed recomputes from source. The registry
# holds each session weakly and each pin by its JVM handle (which does not
# reference the Python session), so a dropped session's entry goes with
# it and a new session can never alias it.
_PINNED_FRAMES: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def pin_frame(df: DataFrame) -> DataFrame:
    """Persist + eagerly materialize ``df``, unpersisting any frame a
    previous call pinned ON THE SAME SESSION (see ``_PINNED_FRAMES``).
    For model-artifact-sized intermediates consumed by several plan
    branches within ONE query's lifetime.

    Unpersist MUST precede the persist: Spark's CacheManager matches
    cache entries by canonicalized plan, so when the same query is
    invoked twice (the bench's two passes), persisting the new
    identical-plan frame first would (a) let its eager count ride the
    previous invocation's still-cached data — cross-invocation result
    caching the bench must not see — and (b) the subsequent unpersist
    of the old frame would drop the SHARED entry, leaving the new pin
    uncached so every downstream consumer silently recomputes the full
    text pass (observed: dedup_minhash_lsh_pairs' second bench pass
    slower than its first, 1.93 -> 2.34 s)."""
    mine = _PINNED_FRAMES.setdefault(df.sparkSession, [])
    while mine:
        try:
            mine.pop(0).unpersist(False)
        except Exception:  # noqa: BLE001 — a stopped session's frame
            pass
    pinned = df.persist()
    pinned.count()
    mine.append(pinned._jdf)
    return pinned


def minhash_doc_profiles(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    n_hashes: int = 8, shingle_n: int = 3,
) -> DataFrame:
    """ONE tokenize->shingle->hash pass producing everything the near-dup
    pipeline needs per document: ``(id, hsh array<bigint>, mh0..mhK)``,
    persisted and materialized eagerly via :func:`pin_frame` (superseding
    any previously pinned frame).

    Why: the composed pipeline consumes the heavy text pass three times —
    once to band signatures and twice (a/b sides) to verify Jaccard on
    candidate pairs — and Catalyst does not share common subtrees across
    self-joins, so without pinning, the regexp tokenization and the
    9 md5 hashes per shingle execute once PER CONSUMER (4 parquet scans +
    4 Generate pipelines in the measured sf0.1 plan). This is the guide
    §8.4 "fingerprints only" step: one full read of the texts, then every
    later decision runs on the small hash frame. The frame is
    O(docs x shingles) bigints — the 100 TB shape writes it to a table;
    locally the block cache holds it. The hashes come from ONE
    :func:`shingle_hashes` stage."""
    return pin_frame(
        shingle_hashes(shingle_table(df, text_col, id_col, shingle_n), n_hashes)
    )


def minhash_lsh_dedup_pairs(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    n_hashes: int = 8, bands: int = 4, shingle_n: int = 3, threshold: float = 0.5,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Full near-dup pipeline: signatures -> LSH candidates -> exact
    Jaccard verify -> threshold. The per-doc hash profile is computed
    once and pinned (:func:`minhash_doc_profiles`); bands and both
    verification sides derive from the pinned frame."""
    per_doc = minhash_doc_profiles(df, text_col, id_col, n_hashes, shingle_n)
    sig = per_doc.select(id_col, *[F.col(f"mh{i}") for i in range(n_hashes)])
    pairs = lsh_candidate_pairs(sig, id_col, n_hashes, bands, max_bucket_size)
    a = per_doc.select(F.col(id_col).alias("id_a"), F.col("hsh").alias("sh_a"))
    b = per_doc.select(F.col(id_col).alias("id_b"), F.col("hsh").alias("sh_b"))
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b"))).cast("double")
    union = (F.size("sh_a") + F.size("sh_b")).cast("double") - inter
    return (
        pairs.join(a, "id_a").join(b, "id_b")
        .select("id_a", "id_b", (inter / union).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


# -- SimHash ----------------------------------------------------------------


def simhash_table(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    bits: int = 16, shingle_n: int = 3, out_col: str = "simhash",
) -> DataFrame:
    """SimHash as a staged DataFrame op: tokenize -> shingle -> hash each
    shingle ONCE into an int array -> 16 cheap bit-count filters over that
    array: O(#shingles) md5 calls per row. Bit b is set when at least
    half the shingles have bit b set in their hash (majority sign)."""
    sh_df = shingle_table(df, text_col, id_col, shingle_n)
    hs_df = sh_df.select(
        F.col(id_col), F.transform(F.col("sh"), lambda s: phash(s)).alias("__hs")
    )
    hs, n = F.col("__hs"), F.size(F.col("__hs"))
    out = F.lit(0).cast("bigint")
    for b in range(bits):
        mask = 1 << b
        cnt = F.size(F.filter(hs, lambda h: h.bitwiseAND(F.lit(mask)) != 0))
        out = out + F.when(cnt * 2 >= n, F.lit(mask)).otherwise(F.lit(0))
    return hs_df.select(F.col(id_col), out.alias(out_col))


def simhash_pairs(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    bits: int = 16, max_hamming: int = 2,
) -> DataFrame:
    """Near-dup pairs by SimHash.

    Blocking: split each signature into ``max_hamming + 1`` disjoint bit
    chunks — by pigeonhole, two signatures within hamming distance d MUST
    agree exactly on at least one of d+1 chunks (d differing bits cannot
    dirty all d+1 of them), so recall over the <= d ball is complete.
    Each row explodes into d+1 ``(chunk_idx, chunk_val)`` keys and
    candidates come from a self-EQUI-join on that pair of columns — a
    hash-partitioned join on chunk buckets, never an all-pairs product
    (an OR-of-chunk-equalities condition would force a nested-loop plan).
    Candidates are then verified with ``bit_count(a ^ b) <= d`` and
    deduped (a pair can collide in several chunks)."""
    n_chunks = max_hamming + 1
    if n_chunks > bits:
        raise ValueError(f"max_hamming={max_hamming} needs more chunks than {bits} bits")
    base, extra = divmod(bits, n_chunks)
    widths = [base + (1 if i < extra else 0) for i in range(n_chunks)]
    sh = simhash_table(df, text_col, id_col, bits, out_col="sh")
    chunk_structs, off = [], 0
    for i, w in enumerate(widths):
        chunk_structs.append(
            F.struct(
                F.lit(i).alias("ci"),
                F.shiftright("sh", off).bitwiseAND(F.lit((1 << w) - 1)).alias("cv"),
            )
        )
        off += w
    exploded = sh.select(
        id_col, "sh", F.explode(F.array(*chunk_structs)).alias("c")
    ).select(id_col, "sh", F.col("c.ci").alias("ci"), F.col("c.cv").alias("cv"))
    a, b = exploded.alias("a"), exploded.alias("b")
    hamming = F.bit_count(F.col("a.sh").bitwiseXOR(F.col("b.sh")))
    return (
        a.join(
            b,
            on=[
                F.col("a.ci") == F.col("b.ci"),
                F.col("a.cv") == F.col("b.cv"),
                F.col(f"a.{id_col}") < F.col(f"b.{id_col}"),
            ],
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            hamming.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )
