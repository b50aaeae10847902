"""Corpus-assembly queries: dataset split, sequence packing, benchmark
decontamination, TF-IDF terms — the operators/corpus.py surface wired into
the oracle gate over the `documents` table.

Determinism notes (same rules as queries.py's header):
- split buckets come from the portable md5 phash, identical in DuckDB;
- packing's distributed prefix sum must equal the oracle's single global
  window cumsum — that equality IS the correctness claim;
- tf-idf scores are tf * ln(N/df) with the log's argument built by ONE
  division, mirrored verbatim in the oracle; ties break on the token
  string, and double values ride the gate's 12-digit canonicalization.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pos_dlt_spark.functions import phash_sql
from pos_dlt_spark.operators import corpus as C
from pos_dlt_spark.queries import query
from pos_dlt_spark.queries_ml import _HSH_CTE, _SH_CTE, _TOKS_CTE
from pos_dlt_spark.tables import load_table


def stage_profiles(
    docs: DataFrame, n_hashes: int, shingle_n: int
) -> DataFrame:
    """ONE pinned text pass carrying every per-doc decision column the
    composed cleaning pipelines consume: ``quality_score`` (same
    expression as text.quality_features), ``content_hash`` (same
    normalization as dedup.exact_dedup_groups), ``hsh`` (distinct hashed
    shingles — dedup.hashed_shingle_table) and the ``mh*`` minhash
    signature. The quality / exact-dedup / LSH / decontamination stages
    previously each re-read and re-tokenized the corpus (guide §8.4:
    decide on small pinned rows — the text is read once, every stage
    decision derives from this frame). Tokens and shingles are the
    standalone operators' JVM expressions and ``hsh`` / ``mh*`` come from
    the same :func:`~pos_dlt_spark.operators.dedup.shingle_hashes` stage,
    so each stage's output is unchanged."""
    from pos_dlt_spark.operators.dedup import (
        _shingles_from_tokens,
        pin_frame,
        shingle_hashes,
    )
    from pos_dlt_spark.operators.text import quality_score, tokens

    normalized = F.regexp_replace(F.trim(F.lower(F.col("text"))), r"\s+", " ")
    toks_df = docs.select(
        F.col("doc_id"),
        quality_score(F.col("text")).alias("quality_score"),
        F.md5(normalized).alias("content_hash"),
        tokens(F.col("text")).alias("__toks"),
    )
    sh_df = toks_df.select(
        "doc_id",
        "quality_score",
        "content_hash",
        _shingles_from_tokens(F.col("__toks"), shingle_n).alias("sh"),
    )
    return pin_frame(shingle_hashes(sh_df, n_hashes))


def _near_dropped_from_profiles(
    prof: DataFrame, n_hashes: int, bands: int, threshold: float
) -> DataFrame:
    """``minhash_lsh_dedup_pairs``'s band + Jaccard-verify tail over an
    already-pinned profile frame: the dropped (higher-id) side of every
    verified pair."""
    from pos_dlt_spark.operators.dedup import lsh_candidate_pairs

    sig = prof.select("doc_id", *[F.col(f"mh{i}") for i in range(n_hashes)])
    pairs = lsh_candidate_pairs(sig, "doc_id", n_hashes, bands)
    a = prof.select(F.col("doc_id").alias("id_a"), F.col("hsh").alias("sh_a"))
    b = prof.select(F.col("doc_id").alias("id_b"), F.col("hsh").alias("sh_b"))
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b"))).cast("double")
    union = (F.size("sh_a") + F.size("sh_b")).cast("double") - inter
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .select("id_a", "id_b", (inter / union).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
        .select(F.col("id_b").alias("doc_id"))
        .distinct()
    )


def _contamination_ids_from_profiles(
    prof: DataFrame, clean: DataFrame, bench_max_id: int, min_shared: int
) -> DataFrame:
    """Decontamination ids over the pinned profile frame — the exploded
    shingle-hash equi-join of ``corpus.contamination_pairs``, with both
    sides' ``hsh`` read from the profile instead of re-hashing text."""
    t = (
        prof.join(
            clean.filter(F.col("doc_id") >= bench_max_id), "doc_id", "left_semi"
        )
        .select(F.col("doc_id").alias("train_id"), F.explode_outer("hsh").alias("h"))
    )
    b = prof.filter(F.col("doc_id") < bench_max_id).select(
        F.col("doc_id").alias("bench_id"), F.explode_outer("hsh").alias("h")
    )
    return (
        t.join(F.broadcast(b), "h")
        .groupBy("train_id", "bench_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))  # hsh is distinct per doc
        .filter(F.col("n_shared") >= min_shared)
        .select(F.col("train_id").alias("doc_id"))
        .distinct()
    )


_BUCKET_SQL = phash_sql("CAST(doc_id AS VARCHAR)", C.SPLIT_SALT) + " % 100"
_NTOK_SQL = r"CAST(len(regexp_split_to_array(trim(lower(text)), '\s+')) AS BIGINT)"
PACK_BUDGET = 512
SELECT_BUDGET = 20_000  # token budget for the greedy selection gate
BENCH_MAX_ID = 25  # docs 0..24 stand in for the benchmark/eval set
MIN_SHARED = 5


@query(
    "corpus_split_assign",
    oracle=f"""
    SELECT doc_id,
           CAST({_BUCKET_SQL} AS BIGINT) AS split_bucket,
           CASE WHEN {_BUCKET_SQL} < 80 THEN 'train'
                WHEN {_BUCKET_SQL} < 90 THEN 'val'
                ELSE 'test' END AS split
    FROM documents
    """,
)
def corpus_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test assignment by salted id hash
    (content-free: re-cleaning text never moves a doc across splits)."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    return C.split_assign(docs).select("doc_id", "split_bucket", "split")


@query(
    "corpus_pack_sequences",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_NTOK_SQL} AS n_tokens FROM documents),
    c AS (
        SELECT doc_id, n_tokens,
               SUM(n_tokens) OVER (ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS cb
        FROM toks)
    SELECT doc_id, n_tokens,
           CAST(cb // {PACK_BUDGET} AS BIGINT) AS bin_id,
           CAST(cb % {PACK_BUDGET} AS BIGINT) AS bin_offset
    FROM c
    """,
)
def corpus_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack documents into {budget}-token bins in id order. The Spark side
    computes the running sum with a DISTRIBUTED per-id-range prefix sum (no
    global single-partition window); the oracle is the naive global window
    cumsum — their equality is exactly the operator's correctness claim."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    return C.pack_sequences(docs, budget=PACK_BUDGET, n_parts=16)


@query(
    "corpus_token_budget_select",
    oracle=f"""
    WITH toks AS (SELECT doc_id, n_chars, {_NTOK_SQL} AS n_tokens FROM documents),
    d AS (SELECT doc_id, n_tokens,
                 CAST(n_chars AS DOUBLE) / n_tokens AS dens
          FROM toks WHERE n_tokens > 0),
    c AS (SELECT doc_id, n_tokens,
                 SUM(n_tokens) OVER (ORDER BY dens DESC, doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
          FROM d)
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(cum_tokens AS BIGINT) AS cum_tokens
    FROM c WHERE cum_tokens <= {SELECT_BUDGET}
    """,
)
def corpus_token_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budgeted greedy selection ("best N tokens"): keep the
    highest-density documents (value per token — n_chars stands in as
    the value score) whose running token total fits the budget. The
    Spark side computes density order + running sum with the DISTRIBUTED
    two-phase prefix sum (no single-partition window — the same shape as
    pack_sequences); the oracle is the naive global window. Equality of
    the two IS the operator's correctness claim."""
    from pos_dlt_spark.operators.text import n_tokens as ntok

    docs = load_table(spark, sf_dir, "documents", spread=True)
    d = docs.select(
        "doc_id", "n_chars", ntok(F.col("text")).cast("bigint").alias("n_tokens")
    )
    out = C.budget_select(
        d, "n_chars", "n_tokens", budget=SELECT_BUDGET, n_parts=16
    )
    return out.select("doc_id", "n_tokens", "cum_tokens")


@query(
    "corpus_decontamination",
    oracle=f"""
    WITH {_TOKS_CTE}, {_SH_CTE}, {_HSH_CTE},
    t AS (SELECT doc_id AS train_id, unnest(hsh) AS h FROM hs_t WHERE doc_id >= {BENCH_MAX_ID}),
    b AS (SELECT doc_id AS bench_id, len(hsh) AS bench_size, unnest(hsh) AS h
          FROM hs_t WHERE doc_id < {BENCH_MAX_ID})
    SELECT train_id, bench_id,
           CAST(COUNT(*) AS BIGINT) AS n_shared_shingles,
           CAST(COUNT(*) AS DOUBLE) / CAST(bench_size AS DOUBLE) AS bench_overlap
    FROM t JOIN b USING (h)
    GROUP BY train_id, bench_id, bench_size
    HAVING COUNT(*) >= {MIN_SHARED}
    """,
)
def corpus_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: train docs (id >= 25) sharing >= 5 word
    3-gram shingles with any benchmark doc (id < 25), via a broadcast
    equi-join on shingle hash — never an all-pairs comparison. The corpus's
    planted near-duplicates make the expected leaks."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    bench = docs.filter(F.col("doc_id") < BENCH_MAX_ID)
    train = docs.filter(F.col("doc_id") >= BENCH_MAX_ID)
    return C.contamination_pairs(train, bench, min_shared=MIN_SHARED)


SAMPLE_RATES = {"en": 30, "de": 100, "es": 100, "fr": 100, "zh": 100}
_SAMPLE_BUCKET_SQL = phash_sql("CAST(doc_id AS VARCHAR)", C.SAMPLE_SALT) + " % 100"
_RATE_SQL = "CASE lang " + " ".join(
    f"WHEN '{k}' THEN {v}" for k, v in sorted(SAMPLE_RATES.items())
) + " ELSE 0 END"


@query(
    "corpus_stratified_sample",
    oracle=f"""
    SELECT doc_id, lang
    FROM documents
    WHERE {_SAMPLE_BUCKET_SQL} < {_RATE_SQL}
    """,
)
def corpus_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-language sampling that downweights the
    over-represented language (en at 30%, others kept) — the corpus-mix
    control step. Pure per-row hash filter: no RNG seed, no shuffle,
    membership reproducible in any engine."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    return C.stratified_sample(docs, SAMPLE_RATES).select("doc_id", "lang")


_GRAMS_SQL = (
    "CASE WHEN len(toks) >= 3 THEN list_transform(range(1, len(toks)-1), "
    "i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) "
    "ELSE [array_to_string(toks, ' ')] END"
)


@query(
    "corpus_repeated_ngrams",
    oracle=f"""
    WITH {_TOKS_CTE},
    g AS (SELECT doc_id, {_GRAMS_SQL} AS grams FROM toks_t)
    SELECT doc_id,
           CAST(len(grams) AS BIGINT) AS n_ngrams,
           CAST(len(list_distinct(grams)) AS BIGINT) AS n_distinct_ngrams,
           1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) / CAST(len(grams) AS DOUBLE)
             AS repeated_ratio
    FROM g
    """,
)
def corpus_repeated_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-doc repeated word-3-gram ratio (Gopher-style repetition
    filter) — per-row array expression, one tokenize pass, no shuffle."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    return C.repeated_ngram_ratio(docs)


@query(
    "corpus_vocab",
    oracle=f"""
    WITH tok AS (
        SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS token
        FROM documents),
    c AS (
        SELECT token, CAST(COUNT(*) AS BIGINT) AS n_occurrences
        FROM tok GROUP BY 1 HAVING COUNT(*) >= 5)
    SELECT token, n_occurrences,
           CAST(row_number() OVER (ORDER BY n_occurrences DESC, token) AS BIGINT)
             AS vocab_id
    FROM c
    """,
)
def corpus_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocabulary build: corpus-wide token counts (min_count=5),
    ids by frequency rank. The Spark side assigns ids with the DISTRIBUTED
    global_rank (range partition + local row_number + prefix offsets); the
    oracle is the naive global window — their equality is the operator's
    correctness claim, mirroring corpus_pack_sequences."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    return C.build_vocab(docs, min_count=5)


@query(
    "corpus_tfidf_top_terms",
    oracle=f"""
    WITH {_TOKS_CTE},
    tok AS (SELECT doc_id, unnest(toks) AS token FROM toks_t),
    tf AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf FROM tok GROUP BY 1, 2),
    dfreq AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
    n_t AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents),
    s AS (
        SELECT doc_id, token, tf, df,
               CAST(tf AS DOUBLE) * ln((SELECT n FROM n_t) / CAST(df AS DOUBLE)) AS score
        FROM tf JOIN dfreq USING (token))
    SELECT doc_id, token, tf, df, score, CAST(rank AS INTEGER) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, token) AS rank
          FROM s) r
    WHERE rank <= 3
    """,
)
def corpus_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per document by classic tf * ln(N/df),
    token-name tiebreak; double scores ride the gate's 12-digit
    canonicalization like the cosine queries."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    return C.tfidf_top_terms(docs, k=3)


@query(
    "corpus_bigram_pmi",
    oracle=f"""
    WITH {_TOKS_CTE},
    uc AS (
        SELECT w, CAST(COUNT(*) AS BIGINT) AS c_w
        FROM (SELECT unnest(toks) AS w FROM toks_t)
        GROUP BY w),
    n_t AS (SELECT CAST(SUM(c_w) AS BIGINT) AS n FROM uc),
    bg AS (
        SELECT list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1]) AS bs
        FROM toks_t WHERE len(toks) >= 2),
    bc AS (
        SELECT bigram,
               split_part(bigram, ' ', 1) AS w1,
               split_part(bigram, ' ', 2) AS w2,
               CAST(COUNT(*) AS BIGINT) AS c_ab
        FROM (SELECT unnest(bs) AS bigram FROM bg)
        GROUP BY bigram),
    m_t AS (SELECT CAST(SUM(c_ab) AS BIGINT) AS m FROM bc)
    SELECT bigram, c_ab,
           ln(CAST(c_ab * n * n AS DOUBLE) / CAST(m * ua.c_w * ub.c_w AS DOUBLE)) AS pmi
    FROM bc, n_t, m_t
    JOIN uc ua ON bc.w1 = ua.w
    JOIN uc ub ON bc.w2 = ub.w
    WHERE c_ab >= {MIN_SHARED}
    ORDER BY pmi DESC, bigram
    LIMIT 50
    """,
)
def corpus_bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: top-50 adjacent word pairs by PMI (min support
    {MIN_SHARED}) — exact integer counts end-to-end, one double division +
    ln per surviving bigram (operators/corpus.bigram_pmi)."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    return C.bigram_pmi(docs, min_count=MIN_SHARED, top_n=50)


_CAP_RANK_SQL = phash_sql("CAST(doc_id AS VARCHAR)", "domaincap:")


@query(
    "corpus_domain_cap",
    oracle=f"""
    SELECT doc_id, source, CAST(rk AS BIGINT) AS rk FROM (
        SELECT doc_id, source,
               row_number() OVER (
                   PARTITION BY source ORDER BY {_CAP_RANK_SQL}, doc_id
               ) AS rk
        FROM documents) t
    WHERE rk <= 100
    """,
)
def corpus_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain document cap (corpus-mix balancing: no source may
    contribute more than K docs). Selection ranks by a salted portable
    hash, then doc_id — deterministic, content-free (re-cleaning text
    never changes who survives), and uniformly random within each source
    for any K. The rank window partitions by source, so a giant domain
    sorts only its own rows; at real scale swap row_number for a two-phase
    per-partition pre-cap (cap*partitions) before the window if a single
    domain exceeds one task's memory."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    return C.domain_cap(docs, cap=100).select("doc_id", "source", "rk")


SPAN_N = 8
_TOKS_SQL = r"regexp_split_to_array(trim(lower(text)), '\s+')"


@query(
    "corpus_duplicate_spans",
    oracle=f"""
    WITH toks_t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
    pos_t AS (SELECT doc_id, toks, unnest(range(0, len(toks)-{SPAN_N}+1)) AS pos
              FROM toks_t WHERE len(toks) >= {SPAN_N}),
    g AS (SELECT doc_id, pos,
                 {phash_sql(f"array_to_string(toks[pos+1:pos+{SPAN_N}], ' ')")} AS gh
          FROM pos_t),
    dup AS (SELECT gh FROM g GROUP BY gh HAVING COUNT(DISTINCT doc_id) >= 2),
    d AS (SELECT g.doc_id, g.pos FROM g JOIN dup USING (gh)),
    f AS (SELECT doc_id, pos,
                 CASE WHEN lag(pos) OVER w IS NULL
                           OR pos - lag(pos) OVER w > {SPAN_N}
                      THEN 1 ELSE 0 END AS ns
          FROM d WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
    s AS (SELECT *, SUM(ns) OVER (PARTITION BY doc_id ORDER BY pos
                                  ROWS UNBOUNDED PRECEDING) AS sid FROM f)
    SELECT doc_id, MIN(pos) AS span_start,
           MAX(pos) + {SPAN_N} AS span_end,
           MAX(pos) + {SPAN_N} - MIN(pos) AS span_tokens
    FROM s GROUP BY doc_id, sid
    """,
)
def corpus_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-level exact-substring duplication (corpus.
    duplicate_ngram_spans): maximal token spans covered by word 8-grams
    occurring in >= 2 documents — the span analogue of suffix-array
    training-data dedup, as two equi-partitioned shuffles (gram hash agg,
    per-doc interval merge). The oracle rebuilds the same spans with
    DuckDB window CTEs over the identical md5 gram hash."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    return C.duplicate_ngram_spans(docs, n=SPAN_N, min_docs=2)


_EPOCH = 1
_EP_KEY = phash_sql("CAST(doc_id AS VARCHAR)", f"{C.EPOCH_SALT}{_EPOCH}:")


@query(
    "corpus_epoch_shuffle",
    oracle=f"""
    SELECT doc_id,
           CAST(row_number() OVER (ORDER BY {_EP_KEY}, doc_id) - 1 AS BIGINT) AS position,
           {_EP_KEY} AS shuffle_key
    FROM documents
    """,
)
def corpus_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic epoch-1 training shuffle (corpus.epoch_shuffle):
    position is a pure function of (epoch, doc_id) — restartable,
    engine-portable, and a fresh permutation per epoch — computed with
    the two-phase distributed rank, no global single-partition sort. The
    oracle is the naive global window over the same salted hash."""
    docs = load_table(spark, sf_dir, "documents")
    return C.epoch_shuffle(docs, epoch=_EPOCH)


_MIX = (("en", 3), ("de", 1), ("fr", 1))


def _mix_oracle() -> str:
    branches = []
    for name, w in _MIX:
        key = phash_sql("CAST(doc_id AS VARCHAR)", f"mix:{name}:")
        branches.append(f"""
        SELECT '{name}' AS source, doc_id,
               (row_number() OVER (ORDER BY {key}, doc_id) * 1000000) // {w} AS vt,
               row_number() OVER (ORDER BY {key}, doc_id) - 1 AS sr
        FROM documents WHERE lang = '{name}'""")
    return f"""
    WITH u AS ({" UNION ALL ".join(branches)})
    SELECT source, doc_id,
           CAST(row_number() OVER (ORDER BY vt, source, sr) - 1 AS BIGINT) AS position
    FROM u
    """


@query("corpus_mixture_interleave", oracle=_mix_oracle())
def corpus_mixture_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted mixture schedule (corpus.mixture_interleave): en/de/fr
    sub-corpora interleave 3:1:1 by integer virtual time over per-source
    deterministic shuffles — the step that turns N cleaned sources into
    one proportioned training stream without concatenation artifacts.
    Both rank levels are the distributed two-phase row_number."""
    docs = load_table(spark, sf_dir, "documents")
    sources = [
        (docs.filter(F.col("lang") == name), name, w) for name, w in _MIX
    ]
    return C.mixture_interleave(sources)


_WS_KEY = (
    f"ln((CAST({phash_sql('CAST(doc_id AS VARCHAR)', C.SAMPLE_WS_SALT)} + 1 AS DOUBLE))"
    " / 4294967296.0) / CAST(ntok AS DOUBLE)"
)


@query(
    "corpus_weighted_sample",
    oracle=f"""
    WITH w AS (SELECT doc_id, lang, {_NTOK_SQL} AS ntok FROM documents),
    s AS (SELECT doc_id, lang, ntok, {_WS_KEY} AS key FROM w
          WHERE CAST(ntok AS DOUBLE) > 0),
    r AS (SELECT lang, doc_id, ntok,
                 row_number() OVER (PARTITION BY lang ORDER BY key DESC, doc_id) AS rk
          FROM s)
    SELECT lang, doc_id, CAST(ntok AS BIGINT) AS n_tokens
    FROM r WHERE rk <= 5
    """,
)
def corpus_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (corpus.weighted_sample,
    Efraimidis–Spirakis): 5 docs per language, probability proportional
    to token count, keys ln(u)/w from the salted md5 uniform — no RNG
    state, identical IEEE op chain in both engines, two-phase windows so
    a giant language never funnels through one task."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    from pos_dlt_spark.operators.text import tokens as _tk

    with_w = docs.select(
        "doc_id", "lang", F.size(_tk(F.col("text"))).cast("bigint").alias("n_tokens")
    )
    return C.weighted_sample(
        with_w, k=5, weight_col="n_tokens", by="lang", pre_buckets=8
    ).select("lang", "doc_id", "n_tokens")


def _training_set_oracle() -> str:
    from pos_dlt_spark.queries_ml import (
        _BANDS_CTE,
        _NPUNCT,
        _NSTOP,
        _SIG_CTE,
    )

    return f"""
    WITH {_TOKS_CTE}, {_SH_CTE}, {_HSH_CTE}, {_SIG_CTE}, {_BANDS_CTE},
    feats AS (
        SELECT doc_id,
               least(CAST(len(toks) AS DOUBLE) / 100.0, 1.0) * 0.4
                 + least(CAST({_NSTOP} AS DOUBLE) / len(toks) * 5.0, 1.0) * 0.4
                 + (1.0 - least(CAST({_NPUNCT} AS DOUBLE) / length(text) * 10.0, 1.0)) * 0.2
                   AS quality_score
        FROM toks_t),
    quality AS (SELECT doc_id FROM feats WHERE quality_score >= 0.3),
    exact_canon AS (
        SELECT MIN(doc_id) AS doc_id
        FROM documents
        GROUP BY md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'))),
    survivors0 AS (
        SELECT q.doc_id FROM quality q JOIN exact_canon e ON q.doc_id = e.doc_id),
    near_pairs AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
    near_dropped AS (
        SELECT DISTINCT p.id_b AS doc_id
        FROM near_pairs p
        JOIN hs_t sa ON p.id_a = sa.doc_id
        JOIN hs_t sb ON p.id_b = sb.doc_id
        WHERE CAST(len(list_intersect(sa.hsh, sb.hsh)) AS DOUBLE)
                / (CAST(len(sa.hsh) + len(sb.hsh) AS DOUBLE)
                   - len(list_intersect(sa.hsh, sb.hsh))) >= 0.5),
    clean AS (
        SELECT s.doc_id FROM survivors0 s
        LEFT JOIN near_dropped d ON s.doc_id = d.doc_id
        WHERE d.doc_id IS NULL),
    t_sh AS (SELECT c.doc_id AS train_id, unnest(h.hsh) AS h
             FROM clean c JOIN hs_t h ON h.doc_id = c.doc_id
             WHERE c.doc_id >= {BENCH_MAX_ID}),
    b_sh AS (SELECT doc_id AS bench_id, unnest(hsh) AS h
             FROM hs_t WHERE doc_id < {BENCH_MAX_ID}),
    contam AS (
        SELECT train_id AS doc_id FROM t_sh JOIN b_sh USING (h)
        GROUP BY train_id, bench_id HAVING COUNT(*) >= {MIN_SHARED}),
    kept AS (
        SELECT c.doc_id FROM clean c
        WHERE c.doc_id >= {BENCH_MAX_ID}
          AND c.doc_id NOT IN (SELECT doc_id FROM contam)
          AND {_BUCKET_SQL} < 80),
    lens AS (SELECT k.doc_id, {_NTOK_SQL} AS n_tokens
             FROM kept k JOIN documents USING (doc_id)),
    packed AS (
        SELECT doc_id, n_tokens,
               SUM(n_tokens) OVER (ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS cb
        FROM lens)
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(cb // {PACK_BUDGET} AS BIGINT) AS bin_id,
           CAST(cb % {PACK_BUDGET} AS BIGINT) AS bin_offset
    FROM packed
    """


@query("corpus_training_set_pipeline", oracle=_training_set_oracle())
def corpus_training_set_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WHOLE corpus-assembly workload as ONE declarative plan:
    quality filter -> exact dedup (min-id canonical) -> MinHash-LSH
    near-dup removal -> benchmark decontamination (drop train docs
    sharing >= 5 shingles with any bench doc) -> 80% train split by
    salted hash -> token-budget sequence packing with the distributed
    prefix sum. Every stage is an already-gated operator; this query is
    the proof they compose — Catalyst sees one tree, reuses the
    tokenize/shingle projections, and never materializes an intermediate
    table. Output: the packed training set (doc_id, n_tokens, bin_id,
    bin_offset)."""
    from pos_dlt_spark.queries_ml import BANDS, N_HASHES, SHINGLE_N

    docs = load_table(spark, sf_dir, "documents", spread=True)
    # ONE pinned text pass (stage_profiles) feeds quality, exact dedup,
    # LSH and decontamination — previously each stage re-tokenized the
    # corpus inside this single Catalyst tree (no subtree sharing across
    # the differently-shaped stages).
    from pyspark.sql import Window

    prof = stage_profiles(docs, N_HASHES, SHINGLE_N)
    near_dropped = _near_dropped_from_profiles(prof, N_HASHES, BANDS, threshold=0.5)
    # clean is a tiny id set consumed TWICE below (the decontamination
    # probe and the split input): pin it so the LSH verify join executes
    # once, not twice. Canonical = min-id of the content-hash group via a
    # window flag over ALL profile rows (no groupBy + join back on
    # doc_id); the quality filter applies after the window.
    clean = (
        prof.withColumn(
            "__canon",
            F.col("doc_id")
            == F.min("doc_id").over(Window.partitionBy("content_hash")),
        )
        .filter(F.col("__canon") & (F.col("quality_score") >= 0.3))
        .select("doc_id")
        .join(near_dropped, "doc_id", "left_anti")
    ).localCheckpoint(eager=True)
    train_pool = docs.join(
        clean.filter(F.col("doc_id") >= BENCH_MAX_ID), "doc_id", "left_semi"
    )
    contam = _contamination_ids_from_profiles(prof, clean, BENCH_MAX_ID, MIN_SHARED)
    kept = (
        C.split_assign(train_pool.join(contam, "doc_id", "left_anti"))
        .filter(F.col("split") == "train")
        .select("doc_id", "text")
        # pack_sequences runs two bounded driver actions (id min/max,
        # per-part counts) before the final result: checkpointing the
        # survivor set here makes the expensive clean/LSH/decontam
        # upstream execute ONCE instead of once per action (13.5 -> ~4 s
        # at sf0.001). The materialized set is the cleaned corpus —
        # exactly what a real pipeline persists between stages anyway.
        # LAZY: pack's first action (the id min/max) materializes it —
        # same single execution of the upstream, one fewer job round.
        .localCheckpoint(eager=False)
    )
    return C.pack_sequences(kept, budget=PACK_BUDGET, n_parts=16)


CHUNK_MAX, CHUNK_STRIDE = 64, 48


@query(
    "corpus_chunk_documents",
    oracle=f"""
    WITH toks_c AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
    c AS (SELECT doc_id, toks, len(toks) AS n,
                 unnest(range(0, len(toks), {CHUNK_STRIDE})) AS start
          FROM toks_c)
    SELECT doc_id,
           CAST(start // {CHUNK_STRIDE} AS BIGINT) AS chunk_idx,
           CAST(start AS BIGINT) AS start_tok,
           CAST(least(start + {CHUNK_MAX}, n) AS BIGINT) AS end_tok,
           CAST(least(start + {CHUNK_MAX}, n) - start AS BIGINT) AS n_chunk_tokens,
           array_to_string(toks[start + 1 : least(start + {CHUNK_MAX}, n)], ' ')
               AS chunk_text
    FROM c
    """,
)
def corpus_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding context-window chunking (corpus.chunk_documents): 64-token
    windows every 48 tokens (16-token overlap) — the LM-training /
    retrieval-indexing layout — as pure per-row array expressions, no
    shuffle. chunk_idx is start/stride by construction, mirrored exactly
    in the oracle."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    return C.chunk_documents(docs, max_tokens=CHUNK_MAX, stride=CHUNK_STRIDE)


def _audit_oracle() -> str:
    from pos_dlt_spark.queries_ml import (
        _BANDS_CTE,
        _NPUNCT,
        _NSTOP,
        _SIG_CTE,
    )

    return f"""
    WITH {_TOKS_CTE}, {_SH_CTE}, {_HSH_CTE}, {_SIG_CTE}, {_BANDS_CTE},
    feats AS (
        SELECT doc_id,
               least(CAST(len(toks) AS DOUBLE) / 100.0, 1.0) * 0.4
                 + least(CAST({_NSTOP} AS DOUBLE) / len(toks) * 5.0, 1.0) * 0.4
                 + (1.0 - least(CAST({_NPUNCT} AS DOUBLE) / length(text) * 10.0, 1.0)) * 0.2
                   AS quality_score
        FROM toks_t),
    quality AS (SELECT doc_id FROM feats WHERE quality_score >= 0.3),
    exact_canon AS (
        SELECT MIN(doc_id) AS doc_id
        FROM documents
        GROUP BY md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'))),
    survivors0 AS (
        SELECT q.doc_id FROM quality q JOIN exact_canon e ON q.doc_id = e.doc_id),
    near_pairs AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
    near_dropped AS (
        SELECT DISTINCT p.id_b AS doc_id
        FROM near_pairs p
        JOIN hs_t sa ON p.id_a = sa.doc_id
        JOIN hs_t sb ON p.id_b = sb.doc_id
        WHERE CAST(len(list_intersect(sa.hsh, sb.hsh)) AS DOUBLE)
                / (CAST(len(sa.hsh) + len(sb.hsh) AS DOUBLE)
                   - len(list_intersect(sa.hsh, sb.hsh))) >= 0.5),
    clean AS (
        SELECT s.doc_id FROM survivors0 s
        LEFT JOIN near_dropped d ON s.doc_id = d.doc_id
        WHERE d.doc_id IS NULL),
    t_sh AS (SELECT c.doc_id AS train_id, unnest(h.hsh) AS h
             FROM clean c JOIN hs_t h ON h.doc_id = c.doc_id
             WHERE c.doc_id >= {BENCH_MAX_ID}),
    b_sh AS (SELECT doc_id AS bench_id, unnest(hsh) AS h
             FROM hs_t WHERE doc_id < {BENCH_MAX_ID}),
    contam AS (
        SELECT DISTINCT train_id AS doc_id FROM (
            SELECT train_id, bench_id FROM t_sh JOIN b_sh USING (h)
            GROUP BY train_id, bench_id HAVING COUNT(*) >= {MIN_SHARED}))
    SELECT 'ingested' AS stage, CAST((SELECT COUNT(*) FROM documents) AS BIGINT) AS n_docs
    UNION ALL SELECT 'quality_pass', CAST((SELECT COUNT(*) FROM quality) AS BIGINT)
    UNION ALL SELECT 'exact_canonical', CAST((SELECT COUNT(*) FROM exact_canon) AS BIGINT)
    UNION ALL SELECT 'near_dup_dropped', CAST((SELECT COUNT(*) FROM near_dropped) AS BIGINT)
    UNION ALL SELECT 'clean', CAST((SELECT COUNT(*) FROM clean) AS BIGINT)
    UNION ALL SELECT 'contaminated', CAST((SELECT COUNT(*) FROM contam) AS BIGINT)
    """


@query("corpus_pipeline_audit", oracle=_audit_oracle())
def corpus_pipeline_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage-loss funnel of the cleaning pipeline as exact counts — the
    observability row a data team watches per ingest batch (how many docs
    each stage admitted or dropped, so a filter regression shows up as a
    count cliff, not a silent quality drift). Stages share one cached
    base; each count is a bounded 1-row aggregate."""
    from pos_dlt_spark.queries_ml import BANDS, N_HASHES, SHINGLE_N

    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents", spread=True)
    # ONE pinned text pass (stage_profiles), then ONE checkpointed
    # per-doc FLAGS frame carrying every stage decision (q / canon / nd):
    # the LSH verify tail executes exactly once inside the flags
    # checkpoint, five of the six funnel counts collapse to conditional
    # sums of one aggregate over the flags, and `clean` is a cheap filter
    # of the same frame — 2 driver actions after the pin instead of 3
    # (near_dropped + clean checkpoints + the 5-subtree count union).
    prof = stage_profiles(docs, N_HASHES, SHINGLE_N)
    near_ids = _near_dropped_from_profiles(prof, N_HASHES, BANDS, threshold=0.5)
    flags = (
        prof.withColumn("q", F.col("quality_score") >= 0.3)
        .withColumn(
            "canon",
            F.col("doc_id")
            == F.min("doc_id").over(Window.partitionBy("content_hash")),
        )
        .join(near_ids.withColumn("nd", F.lit(True)), "doc_id", "left")
        .select("doc_id", "q", "canon", F.coalesce("nd", F.lit(False)).alias("nd"))
        .localCheckpoint(eager=True)
    )
    clean = flags.filter(F.col("q") & F.col("canon") & ~F.col("nd")).select("doc_id")
    contam = _contamination_ids_from_profiles(prof, clean, BENCH_MAX_ID, MIN_SHARED)

    counts = flags.agg(
        F.count(F.lit(1)).cast("bigint").alias("ingested"),
        F.sum(F.col("q").cast("bigint")).alias("quality_pass"),
        F.sum(F.col("canon").cast("bigint")).alias("exact_canonical"),
        F.sum(F.col("nd").cast("bigint")).alias("near_dup_dropped"),
        F.sum(
            (F.col("q") & F.col("canon") & ~F.col("nd")).cast("bigint")
        ).alias("clean"),
    ).select(
        F.expr(
            "stack(5, 'ingested', ingested, 'quality_pass', quality_pass,"
            " 'exact_canonical', exact_canonical,"
            " 'near_dup_dropped', near_dup_dropped, 'clean', clean)"
        ).alias("stage", "n_docs")
    )
    contam_row = contam.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    ).select(F.lit("contaminated").alias("stage"), "n_docs")
    return counts.unionByName(contam_row)


BPE_TOP_K = 100


@query(
    "corpus_bpe_pair_counts",
    oracle=f"""
    WITH toks AS (SELECT regexp_split_to_array(trim(lower(text)), '\\s+') AS t
                  FROM documents),
    p AS (SELECT t[i] AS lhs, t[i + 1] AS rhs
          FROM toks, UNNEST(generate_series(1, len(t) - 1)) AS u(i))
    SELECT lhs, rhs, CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM p GROUP BY lhs, rhs
    ORDER BY n_pairs DESC, lhs, rhs
    LIMIT {BPE_TOP_K}
    """,
)
def corpus_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjacent-token-pair frequencies (corpus.bpe_pair_counts) — the
    counting step of BPE tokenizer training. Pairs are built per row by
    one array expression (no token explode), so the only shuffle is the
    Zipf-collapsed pair-count hash aggregate; the top-k is a
    TakeOrderedAndProject, never a global sort."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    return C.bpe_pair_counts(docs, top_k=BPE_TOP_K).select(
        F.col("left").alias("lhs"), F.col("right").alias("rhs"), "n_pairs"
    )


QQ_BINS = 10


@query(
    "corpus_quality_quantile_bins",
    oracle=f"""
    WITH w AS (SELECT doc_id, {_NTOK_SQL} AS score FROM documents),
    r AS (SELECT doc_id, score,
                 row_number() OVER (ORDER BY score, doc_id) AS rn,
                 COUNT(*) OVER () AS n
          FROM w)
    SELECT doc_id, score, CAST((rn - 1) * {QQ_BINS} // n AS BIGINT) AS quality_bin
    FROM r
    """,
)
def corpus_quality_quantile_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact decile binning by score (corpus.quality_quantile_bins):
    bin = (rank-1)*k div N over the (score, doc_id) total order — identical
    boundaries in any engine (no ntile remainder ambiguity, no
    approx-percentile epsilon). Rank is the two-phase distributed
    global_rank; binning adds one integer expression on top."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    from pos_dlt_spark.operators.text import tokens as _tk

    scored = docs.select(
        "doc_id", F.size(_tk(F.col("text"))).cast("bigint").alias("score")
    )
    return C.quality_quantile_bins(scored, "score", n_bins=QQ_BINS).select(
        "doc_id", "score", "quality_bin"
    )


# -- BPE trainer (iterative merge loop) --------------------------------------

BPE_MERGES = 4
_BL, _BR = "chr(1)", "chr(2)"  # the \x01 / \x02 symbol delimiters, as SQL
# A word containing literal \x01/\x02 would corrupt symbol boundaries, so
# both the Spark trainer and this oracle strip them before wrapping:
_WORD = f"replace(replace(word, {_BL}, ''), {_BR}, '')"


def _bpe_oracle_parts(n: int) -> list[str]:
    """CTE chain for an n-round BPE trainer: wf0 (word freqs + delimited
    char sequences), then per round r: p{r} pair counts, t{r} argmax
    merge, wf{r} merged sequences. MATERIALIZED is load-bearing — each
    wf CTE is referenced twice per round and DuckDB would inline the
    chain exponentially.

    Exhausted rounds are no-ops, not empty relations: t{r} UNION ALLs a
    chr(3) sentinel at c=0 (a real pair always has c >= 1) whose replace
    pattern can never match a wrapped symbol, so a corpus with fewer than
    n learnable merges leaves the downstream CROSS JOIN chain intact
    instead of emptying it (the Spark trainer breaks out early by
    design; the learn oracle filters c >= 1 to mirror that)."""
    syms = (
        f"str_split(CASE WHEN length(s) >= 2 THEN substring(s, 2, length(s)-2) "
        f"ELSE '' END, {_BR} || {_BL})"
    )
    parts = [
        r"bpe_w AS (SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS word"
        r" FROM documents)",
        f"wf0 AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS freq, "
        f"regexp_replace({_WORD}, '(.)', {_BL} || '\\1' || {_BR}, 'g') AS s "
        f"FROM bpe_w GROUP BY word)",
    ]
    for r in range(1, n + 1):
        parts.append(
            f"""p{r} AS (SELECT l AS lhs, r2 AS rhs, CAST(SUM(freq) AS BIGINT) AS c FROM (
            SELECT freq,
                   unnest(list_transform(range(1, len(syms)), i -> syms[i])) AS l,
                   unnest(list_transform(range(1, len(syms)), i -> syms[i+1])) AS r2
            FROM (SELECT freq, {syms} AS syms FROM wf{r - 1}) u) v
        GROUP BY l, r2)"""
        )
        parts.append(
            f"t{r} AS (SELECT lhs, rhs, c FROM ("
            f"SELECT lhs, rhs, c FROM p{r} "
            f"UNION ALL SELECT chr(3), chr(3), CAST(0 AS BIGINT)"
            f") ORDER BY c DESC, lhs, rhs LIMIT 1)"
        )
        parts.append(
            f"wf{r} AS (SELECT word, freq, "
            f"replace(s, {_BL} || t.lhs || {_BR} || {_BL} || t.rhs || {_BR}, "
            f"{_BL} || t.lhs || t.rhs || {_BR}) AS s "
            f"FROM wf{r - 1} CROSS JOIN t{r} t)"
        )
    return parts


def _bpe_learn_oracle() -> str:
    from pos_dlt_spark.queries_ml import _materialize_ctes

    sel = "\nUNION ALL ".join(
        f"SELECT {r} AS merge_round, lhs, rhs, c AS n_pairs FROM t{r} WHERE c >= 1"
        for r in range(1, BPE_MERGES + 1)
    )
    return "WITH " + ",\n".join(_materialize_ctes(_bpe_oracle_parts(BPE_MERGES))) + "\n" + sel


@query("corpus_bpe_learn_merges", oracle=_bpe_learn_oracle())
def corpus_bpe_learn_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train 4 BPE merge rules over the corpus (corpus.bpe_learn_merges):
    per round one freq-weighted pair aggregate over the word-frequency
    table (never the corpus) and a 1-row argmax collect — the returned
    4-row rule table IS the bounded model artifact, like kmeans
    centroids. The oracle unrolls the identical 4 rounds in SQL."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    merges = C.bpe_learn_merges(docs, n_merges=BPE_MERGES)
    from pos_dlt_spark.tables import local_df

    return local_df(
        spark,
        [(i + 1, l, r, c) for i, (l, r, c) in enumerate(merges)],
        "merge_round int, lhs string, rhs string, n_pairs bigint",
    )


def _bpe_tokenize_oracle() -> str:
    from pos_dlt_spark.queries_ml import _materialize_ctes

    s = f"regexp_replace({_WORD}, '(.)', {_BL} || '\\1' || {_BR}, 'g')"
    for r in range(1, BPE_MERGES + 1):
        s = (
            f"replace({s}, {_BL} || t{r}.lhs || {_BR} || {_BL} || t{r}.rhs || {_BR}, "
            f"{_BL} || t{r}.lhs || t{r}.rhs || {_BR})"
        )
    joins = " ".join(f"CROSS JOIN t{r}" for r in range(1, BPE_MERGES + 1))
    parts = _bpe_oracle_parts(BPE_MERGES) + [
        f"""dw AS (SELECT doc_id,
               unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS word
        FROM documents)""",
        f"""enc AS (SELECT doc_id,
               length(es) - length(replace(es, {_BL}, '')) AS n_sub
        FROM (SELECT doc_id, {s} AS es FROM dw {joins}) z)""",
    ]
    return (
        "WITH "
        + ",\n".join(_materialize_ctes(parts))
        + """
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(n_sub) AS BIGINT) AS n_subwords
    FROM enc GROUP BY doc_id
    """
    )


@query("corpus_bpe_tokenize", oracle=_bpe_tokenize_oracle())
def corpus_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode the corpus with the 4 learned BPE rules: per document the
    word count and post-merge subword count — compression you can read
    off as n_subwords/n_words. One corpus scan, merges inlined as
    literals, no shuffle beyond the per-doc projection; distributed
    verification of the trainer the `_learn_merges` query collects."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    merges = C.bpe_learn_merges(docs, n_merges=BPE_MERGES)
    return C.bpe_apply_merges(docs, merges)
