"""Training-data pipeline queries (SURVEY §7.4): text analysis, dedup
family, similarity search — each registered with a DuckDB oracle built from
the same portable primitives (md5-based hashes, integer-quantized cosine,
fixed-order double arithmetic) so results hash-match across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pos_dlt_spark.functions import phash_sql
from pos_dlt_spark.operators import dedup as D
from pos_dlt_spark.operators import similarity as S
from pos_dlt_spark.operators import text as T
from pos_dlt_spark.queries import query
from pos_dlt_spark.tables import load_table

# ---------------------------------------------------------------------------
# shared DuckDB SQL fragments (twins of the Spark column expressions)
# ---------------------------------------------------------------------------

_TOKS = r"regexp_split_to_array(trim(lower(text)), '\s+')"

# word 3-shingles, distinct, whole-doc fallback for short docs (NULL text
# shingles to [''], as Spark's shingle_table does)
_SH = (
    "CASE WHEN len(toks) >= 3 THEN list_distinct(list_transform(range(1, len(toks)-1), "
    "i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) "
    "ELSE [coalesce(array_to_string(toks, ' '), '')] END"
)

_TOKS_CTE = f"toks_t AS (SELECT doc_id, text, {_TOKS} AS toks FROM documents)"
_SH_CTE = f"sh_t AS (SELECT doc_id, {_SH} AS sh FROM toks_t)"
# hashed shingle sets — Jaccard is computed over these (twin of
# dedup.hashed_shingle_table; same md5 hash -> identical on both engines)
_HSH_CTE = (
    "hs_t AS (SELECT doc_id, "
    f"list_distinct(list_transform(sh, s -> {phash_sql('s')})) AS hsh FROM sh_t)"
)

N_HASHES, BANDS, SHINGLE_N = 8, 4, 3


def _mh_sql(i: int) -> str:
    return f"list_min(list_transform(sh, s -> {phash_sql('s', f'{i}:')}))"


_SIG_CTE = "sig AS (SELECT doc_id, " + ", ".join(
    f"{_mh_sql(i)} AS mh{i}" for i in range(N_HASHES)
) + " FROM sh_t)"

_ROWS_PER_BAND = N_HASHES // BANDS
_BANDS_CTE = "bands AS (" + " UNION ALL ".join(
    f"SELECT doc_id, {b} AS band, concat_ws('_', "
    + ", ".join(f"mh{b * _ROWS_PER_BAND + r}" for r in range(_ROWS_PER_BAND))
    + ") AS band_key FROM sig"
    for b in range(BANDS)
) + ")"

_QUANT = "list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT))"


def _dot_sql(a: str, b: str) -> str:
    return f"list_sum(list_transform(range(1, len({a})+1), i -> {a}[i] * {b}[i]))"


def _cos_sql(a: str, b: str) -> str:
    return (
        f"CAST({_dot_sql(a, b)} AS DOUBLE) / sqrt(CAST({_dot_sql(a, a)} AS DOUBLE)) "
        f"/ sqrt(CAST({_dot_sql(b, b)} AS DOUBLE))"
    )


def _materialize_ctes(parts: list[str]) -> list[str]:
    """Mark each CTE ``AS MATERIALIZED``: DuckDB inlines CTEs by default,
    and the PQ/IVF-PQ oracles' flattened join graphs (~20 relations once
    enc's 8-way self-join and the 8 LUTs inline) stall its join-order
    planner for MINUTES (measured: ann_pq_topk >170 s planning vs 0.5 s
    materialized at sf0.001). Materialization pins each CTE as its own
    small pipeline, which is also how the Spark side executes."""
    import re

    return [
        re.sub(r"^(\s*)(\w+) AS \(", r"\1\2 AS MATERIALIZED (", p, count=1)
        for p in parts
    ]


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------

_STOP_EN = ", ".join(f"'{w}'" for w in T.STOPWORDS["en"])
_NPUNCT = r"length(lower(text)) - length(regexp_replace(lower(text), '[^a-z0-9\s]', '', 'g'))"
_NSTOP = f"len(list_filter(toks, t -> t IN ({_STOP_EN})))"


@query(
    "text_quality_features",
    oracle=f"""
    WITH {_TOKS_CTE}
    SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           CAST(length(text) AS BIGINT) AS n_chars_computed,
           CAST({_NPUNCT} AS BIGINT) AS n_punct,
           CAST({_NSTOP} AS BIGINT) AS n_stopwords,
           CAST(length(text) AS DOUBLE) / len(toks) AS mean_word_len,
           CAST({_NSTOP} AS DOUBLE) / len(toks) AS stopword_ratio,
           CAST({_NPUNCT} AS DOUBLE) / length(text) AS punct_ratio,
           least(CAST(len(toks) AS DOUBLE) / 100.0, 1.0) * 0.4
             + least(CAST({_NSTOP} AS DOUBLE) / len(toks) * 5.0, 1.0) * 0.4
             + (1.0 - least(CAST({_NPUNCT} AS DOUBLE) / length(text) * 10.0, 1.0)) * 0.2
               AS quality_score
    FROM toks_t
    """,
)
def text_quality_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc quality features + composite score — C4/Gopher-style corpus
    filtering signals, all JVM-side expressions (operators/text.py)."""
    return T.quality_features(load_table(spark, sf_dir, "documents", spread=True))


def _langid_oracle() -> str:
    score_cols = []
    for lang in T.LANG_PRIORITY:
        words = ", ".join(f"'{w}'" for w in T.STOPWORDS[lang])
        score_cols.append(f"len(list_filter(toks, t -> t IN ({words}))) AS score_{lang}")
    maxexpr = "greatest(" + ", ".join(f"score_{lang}" for lang in T.LANG_PRIORITY) + ")"
    case = f"CASE WHEN {maxexpr} = 0 THEN 'und' " + " ".join(
        f"WHEN score_{lang} = {maxexpr} THEN '{lang}'" for lang in T.LANG_PRIORITY
    ) + " END"
    return f"""
    WITH {_TOKS_CTE},
    scores AS (SELECT doc_id, {', '.join(score_cols)} FROM toks_t)
    SELECT doc_id, {', '.join('CAST(score_' + lang + ' AS INTEGER) AS score_' + lang for lang in T.LANG_PRIORITY)},
           {case} AS lang_pred
    FROM scores
    """


@query("text_langid", oracle=_langid_oracle())
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic stopword-count language ID with fixed tie priority."""
    return T.langid(load_table(spark, sf_dir, "documents", spread=True))


@query(
    "text_fingerprint",
    oracle=f"""
    WITH {_TOKS_CTE}
    SELECT doc_id,
           md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS md5_fingerprint,
           list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(toks, t -> {phash_sql('t')})),
                       (acc, h) -> (acc * 31 + h) % 2147483647) AS rolling_hash
    FROM toks_t
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """md5 content fingerprint + order-sensitive rolling token hash."""
    return T.fingerprint(load_table(spark, sf_dir, "documents", spread=True))


@query(
    "text_token_counts",
    oracle=r"""
    SELECT doc_id,
           CAST(len(regexp_split_to_array(trim(lower(text)), '\s+')) AS BIGINT) AS n_ws_tokens,
           CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT) AS n_bpe_tokens,
           CAST(len(list_distinct(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]'))) AS BIGINT) AS n_unique_bpe
    FROM documents
    """,
)
def text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace tokens and a BPE-ish pre-token
    split (letter runs / digit runs / single punctuation) — the usual
    LLM-corpus length signals, all JVM-side regex expressions."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    bpe = T.bpe_ish_tokens("text")
    return docs.select(
        "doc_id",
        F.size(T.tokens(F.col("text"))).cast("bigint").alias("n_ws_tokens"),
        F.size(bpe).cast("bigint").alias("n_bpe_tokens"),
        F.size(F.array_distinct(bpe)).cast("bigint").alias("n_unique_bpe"),
    )


@query(
    "dedup_lsh_levenshtein_pairs",
    oracle=f"""
    WITH {_TOKS_CTE}, {_SH_CTE}, {_SIG_CTE}, {_BANDS_CTE},
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b,
           CAST(levenshtein(da.text, db.text) AS BIGINT) AS edit_distance
    FROM cand JOIN documents da ON cand.id_a = da.doc_id
              JOIN documents db ON cand.id_b = db.doc_id
    WHERE levenshtein(da.text, db.text) <= 80
    """,
)
def dedup_lsh_levenshtein_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy dedup: MinHash-LSH candidates verified by character edit
    distance instead of Jaccard — catches small in-place edits shingles
    miss. Levenshtein is exact integer dynamic programming, identical in
    both engines; running it only on LSH candidates keeps the O(len^2)
    comparison off the hot path."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    # Pin the signature frame: the LSH band self-join consumes it on BOTH
    # sides, and without the pin the tokenize/shingle/8x-md5 pass executes
    # twice (guide §8.4 — decide on small pinned rows). 8 bigints/doc;
    # pin_frame unpersists superseded pins so sessions don't accumulate.
    sig = D.pin_frame(
        D.minhash_signatures(docs, n_hashes=N_HASHES, shingle_n=SHINGLE_N)
    )
    pairs = D.lsh_candidate_pairs(sig, n_hashes=N_HASHES, bands=BANDS)
    a = docs.select(F.col("doc_id").alias("id_a"), F.col("text").alias("text_a"))
    b = docs.select(F.col("doc_id").alias("id_b"), F.col("text").alias("text_b"))
    # Threshold-bounded levenshtein (SPARK-40550): the DP runs in a
    # +-80-wide band and aborts early, returning -1 past the bound —
    # O(len * 80) instead of O(len^2) per candidate pair, with the exact
    # distance (bit-identical to the unbounded form) whenever it is <= 80.
    dist = F.levenshtein("text_a", "text_b", 80)
    return (
        pairs.join(a, "id_a").join(b, "id_b")
        .select("id_a", "id_b", dist.cast("bigint").alias("edit_distance"))
        .filter(F.col("edit_distance") >= 0)
    )


# ---------------------------------------------------------------------------
# sessionization + skew-resistant aggregation (events table)
# ---------------------------------------------------------------------------


@query(
    "events_sessionized",
    oracle="""
    WITH e AS (SELECT user_id, ts, value, epoch_us(ts) AS tus FROM events),
    flagged AS (
        SELECT user_id, ts, value, tus,
               CASE WHEN lag(tus) OVER w IS NULL
                         OR tus - lag(tus) OVER w >= 1800000000
                    THEN 1 ELSE 0 END AS new_sess
        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus)),
    sess AS (
        SELECT *, SUM(new_sess) OVER (PARTITION BY user_id ORDER BY tus
                                      ROWS UNBOUNDED PRECEDING) AS sess_no
        FROM flagged)
    SELECT user_id, MIN(ts) AS session_start, MAX(ts) AS session_end,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
    FROM sess GROUP BY user_id, sess_no
    """,
)
def events_sessionized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessions (30-min) per user via Spark's built-in
    session_window aggregate; the oracle derives the same islands with
    lag/cumsum. The streaming twin with custom state lives in
    streaming/sessions.py (applyInPandasWithState)."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
        .select("user_id", "session_start", "session_end", "n_events", "sum_value")
    )


@query(
    "events_distinct_users_salted",
    oracle="""
    SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_distinct
    FROM events GROUP BY event_type
    """,
)
def events_distinct_users_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct users per event type via value-hash salting
    (operators/skew.py): low-cardinality groups are the classic hot-key
    case for exact distinct at 100 TB; the salt spreads each group's value
    set over 16 reducers and the per-bucket counts sum exactly."""
    from pos_dlt_spark.operators.skew import salted_count_distinct

    return salted_count_distinct(
        load_table(spark, sf_dir, "events"), ["event_type"], "user_id", buckets=16
    )


# ---------------------------------------------------------------------------
# dedup family
# ---------------------------------------------------------------------------


@query(
    "dedup_exact_docs",
    oracle=r"""
    SELECT md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS content_hash,
           MIN(doc_id) AS canonical_id,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY 1
    """,
)
def dedup_exact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on normalized content, min-id canonical."""
    return D.exact_dedup_groups(load_table(spark, sf_dir, "documents", spread=True))


@query(
    "dedup_minhash_signatures",
    oracle=f"""
    WITH {_TOKS_CTE}, {_SH_CTE}, {_SIG_CTE}
    SELECT * FROM sig
    """,
)
def dedup_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures (8 portable salted hashes over word 3-shingles):
    shingles built JVM-side, hashed in one Arrow ``mapInPandas`` stage, no
    explode, no shuffle."""
    return D.minhash_signatures(load_table(spark, sf_dir, "documents", spread=True))


@query(
    "dedup_minhash_lsh_pairs",
    oracle=f"""
    WITH {_TOKS_CTE}, {_SH_CTE}, {_HSH_CTE}, {_SIG_CTE}, {_BANDS_CTE},
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b,
           CAST(len(list_intersect(sa.hsh, sb.hsh)) AS DOUBLE)
             / (CAST(len(sa.hsh) + len(sb.hsh) AS DOUBLE) - len(list_intersect(sa.hsh, sb.hsh)))
               AS jaccard
    FROM cand JOIN hs_t sa ON cand.id_a = sa.doc_id
              JOIN hs_t sb ON cand.id_b = sb.doc_id
    WHERE CAST(len(list_intersect(sa.hsh, sb.hsh)) AS DOUBLE)
             / (CAST(len(sa.hsh) + len(sb.hsh) AS DOUBLE) - len(list_intersect(sa.hsh, sb.hsh))) >= 0.5
    """,
)
def dedup_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full near-dup pipeline: signatures -> LSH banding self-join ->
    exact Jaccard verification at threshold 0.5. The corpus has planted
    near-duplicates; both engines must find the same pairs."""
    return D.minhash_lsh_dedup_pairs(
        load_table(spark, sf_dir, "documents", spread=True), n_hashes=N_HASHES, bands=BANDS,
        shingle_n=SHINGLE_N, threshold=0.5,
    )


@query(
    "dedup_lsh_bucket_audit",
    oracle=f"""
    WITH {_TOKS_CTE}, {_SH_CTE}, {_SIG_CTE}, {_BANDS_CTE}
    SELECT band, band_key, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM bands
    GROUP BY band, band_key
    HAVING COUNT(*) > 1
    """,
)
def dedup_lsh_bucket_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH bucket-size audit (``lsh_hot_buckets`` at cap=1): every banding
    bucket holding 2+ docs — the quantity the ``max_bucket_size`` hot-bucket
    cap inspects before candidate generation, surfaced so a pipeline can
    log what the cap would skip instead of dropping silently."""
    sig = D.minhash_signatures(
        load_table(spark, sf_dir, "documents", spread=True),
        n_hashes=N_HASHES, shingle_n=SHINGLE_N,
    )
    return D.lsh_hot_buckets(sig, n_hashes=N_HASHES, bands=BANDS, max_bucket_size=1)


@query(
    "dedup_duplicate_clusters",
    oracle=f"""
    WITH RECURSIVE {_TOKS_CTE}, {_SH_CTE}, {_HSH_CTE}, {_SIG_CTE}, {_BANDS_CTE},
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    ),
    pairs AS (
        SELECT id_a, id_b
        FROM cand JOIN hs_t sa ON cand.id_a = sa.doc_id
                  JOIN hs_t sb ON cand.id_b = sb.doc_id
        WHERE CAST(len(list_intersect(sa.hsh, sb.hsh)) AS DOUBLE)
                 / (CAST(len(sa.hsh) + len(sb.hsh) AS DOUBLE)
                    - len(list_intersect(sa.hsh, sb.hsh))) >= 0.5
    ),
    sym AS (
        SELECT id_a AS a, id_b AS b FROM pairs
        UNION
        SELECT id_b AS a, id_a AS b FROM pairs
    ),
    reach AS (
        SELECT a, b FROM sym
        UNION
        SELECT r.a AS a, s.b AS b FROM reach r JOIN sym s ON r.b = s.a
    ),
    comp AS (
        SELECT a AS doc_id, LEAST(a, MIN(b)) AS component FROM reach GROUP BY a
    ),
    sizes AS (SELECT component, COUNT(*) AS cluster_size FROM comp GROUP BY component)
    SELECT c.doc_id, c.component,
           CAST(s.cluster_size AS BIGINT) AS cluster_size,
           CAST(c.doc_id = c.component AS INTEGER) AS keep
    FROM comp c JOIN sizes s ON c.component = s.component
    """,
)
def dedup_duplicate_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End of the near-dup pipeline: LSH pairs -> connected components ->
    one canonical doc (min id) per duplicate cluster.

    Spark side is the alternating large-star/small-star algorithm
    (operators/cluster.py — O(log^2 n) shuffle rounds, no driver graph
    state); the oracle computes the same components via a recursive
    transitive closure, which DuckDB can afford at gate scale but which
    would be O(n * m) on a real corpus — the log-round algorithm IS the
    100 TB design."""
    from pos_dlt_spark.operators.cluster import duplicate_clusters

    pairs = D.minhash_lsh_dedup_pairs(
        load_table(spark, sf_dir, "documents", spread=True),
        n_hashes=N_HASHES, bands=BANDS, shingle_n=SHINGLE_N, threshold=0.5,
    ).select("id_a", "id_b")
    return duplicate_clusters(pairs)


def _simhash_oracle(bits: int = 16) -> str:
    h = phash_sql("s")
    terms = []
    for b in range(bits):
        cnt = f"len(list_filter(sh, s -> ({h} & {1 << b}) != 0))"
        terms.append(f"CASE WHEN 2 * {cnt} >= len(sh) THEN {1 << b} ELSE 0 END")
    return f"""
    WITH {_TOKS_CTE}, {_SH_CTE}
    SELECT doc_id, CAST({' + '.join(terms)} AS BIGINT) AS simhash
    FROM sh_t
    """


@query("dedup_simhash", oracle=_simhash_oracle())
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash per document (majority bit over shingle hashes),
    staged so each shingle is md5-hashed once per row."""
    return D.simhash_table(load_table(spark, sf_dir, "documents", spread=True), bits=16)


@query(
    "dedup_ngram_jaccard_pairs",
    oracle=f"""
    WITH {_TOKS_CTE}, {_SH_CTE}, {_HSH_CTE},
    capped AS (SELECT * FROM hs_t WHERE doc_id < 500)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(len(list_intersect(a.hsh, b.hsh)) AS DOUBLE)
             / (CAST(len(a.hsh) + len(b.hsh) AS DOUBLE) - len(list_intersect(a.hsh, b.hsh)))
               AS jaccard
    FROM capped a JOIN capped b ON a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.hsh, b.hsh)) AS DOUBLE)
             / (CAST(len(a.hsh) + len(b.hsh) AS DOUBLE) - len(list_intersect(a.hsh, b.hsh))) >= 0.2
    """,
)
def dedup_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs 3-gram Jaccard on a capped id range (doc_id < 500) — the
    exact baseline the LSH pipeline approximates. Capped because all-pairs
    is O(n^2); the scale path IS dedup_minhash_lsh_pairs. Jaccard runs on
    hashed shingle sets (integer intersects; oracle hashes identically)."""
    docs = load_table(spark, sf_dir, "documents", spread=True).filter(F.col("doc_id") < 500)
    sets = D.hashed_shingle_table(docs, n=SHINGLE_N)
    a = sets.select(F.col("doc_id").alias("id_a"), F.col("hsh").alias("sh_a"))
    b = sets.select(F.col("doc_id").alias("id_b"), F.col("hsh").alias("sh_b"))
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b"))).cast("double")
    union = (F.size("sh_a") + F.size("sh_b")).cast("double") - inter
    jac = inter / union
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= 0.2)
    )


# ---------------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------------


@query(
    "emb_cosine_near_dup_pairs",
    oracle=f"""
    WITH q AS (SELECT vec_id, label, {_QUANT} AS qv FROM embeddings)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b, {_cos_sql('a.qv', 'b.qv')} AS sim
    FROM q a JOIN q b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE {_cos_sql('a.qv', 'b.qv')} >= 0.35
    """,
)
def emb_cosine_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs (label-blocked self-join, quantized-exact
    cosine >= 0.35). Unblocked scale path: similarity.lsh_ann_pairs."""
    return S.cosine_near_dup_pairs(
        load_table(spark, sf_dir, "embeddings", spread=True), threshold=0.35, block_col="label"
    )


_ANN_TOPK_ORACLE = f"""
    WITH q AS (SELECT vec_id, {_QUANT} AS qv FROM embeddings),
    probes AS (SELECT vec_id AS probe_id, qv AS qp FROM q WHERE vec_id < 10),
    sims AS (
        SELECT probe_id, c.vec_id AS neighbor_id, {_cos_sql('qp', 'c.qv')} AS sim
        FROM probes JOIN q c ON c.vec_id != probe_id
    )
    SELECT probe_id, neighbor_id, sim, rank FROM (
        SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, neighbor_id) AS rank
        FROM sims) t
    WHERE rank <= 5
    """


@query("ann_cosine_topk", oracle=_ANN_TOPK_ORACLE)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for probe vectors (vec_id < 10): broadcast
    probes x corpus scan, deterministic (sim desc, id) ranking."""
    emb = load_table(spark, sf_dir, "embeddings", spread=True)
    probes = emb.filter(F.col("vec_id") < 10)
    out = S.brute_force_topk(emb, probes, k=5)
    return out.select("probe_id", "neighbor_id", "sim", "rank")


_MAXABS = "list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))))"
_QUANT8 = (
    "list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * "
    f"(CASE WHEN {_MAXABS} > 0 THEN 127.0 / {_MAXABS} ELSE 0.0 END)) AS BIGINT))"
)

_ANN_TOPK_INT8_ORACLE = f"""
    WITH q AS (SELECT vec_id, {_QUANT8} AS qv FROM embeddings),
    probes AS (SELECT vec_id AS probe_id, qv AS qp FROM q WHERE vec_id < 10),
    sims AS (
        SELECT probe_id, c.vec_id AS neighbor_id, {_cos_sql('qp', 'c.qv')} AS sim
        FROM probes JOIN q c ON c.vec_id != probe_id
    )
    SELECT probe_id, neighbor_id, sim, rank FROM (
        SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, neighbor_id) AS rank
        FROM sims) t
    WHERE rank <= 5
    """


@query("ann_cosine_topk_int8", oracle=_ANN_TOPK_INT8_ORACLE)
def ann_cosine_topk_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force top-5 over int8-range codes (symmetric per-vector scalar
    quantization, similarity.quantized_int8) — the 1-byte-per-dim
    compressed-storage path. Cosine is scale-invariant per vector, so the
    codes reuse the exact-integer dot/norm machinery unchanged; at 100 TB
    this quarters the bytes scanned per query vs float32."""
    emb = load_table(spark, sf_dir, "embeddings", spread=True)
    probes = emb.filter(F.col("vec_id") < 10)
    out = S.brute_force_topk(emb, probes, k=5, quantizer=S.quantized_int8)
    return out.select("probe_id", "neighbor_id", "sim", "rank")


@query(
    "ann_int8_recall",
    oracle=f"""
    WITH qm AS (SELECT vec_id, {_QUANT} AS qv FROM embeddings),
    q8 AS (SELECT vec_id, {_QUANT8} AS qv FROM embeddings),
    pm AS (SELECT vec_id AS probe_id, qv AS qp FROM qm WHERE vec_id < 10),
    p8 AS (SELECT vec_id AS probe_id, qv AS qp FROM q8 WHERE vec_id < 10),
    topm AS (
        SELECT probe_id, neighbor_id FROM (
            SELECT probe_id, c.vec_id AS neighbor_id,
                   row_number() OVER (
                       PARTITION BY probe_id
                       ORDER BY {_cos_sql('qp', 'c.qv')} DESC, c.vec_id) AS rank
            FROM pm JOIN qm c ON c.vec_id != probe_id) t
        WHERE rank <= 5),
    top8 AS (
        SELECT probe_id, neighbor_id FROM (
            SELECT probe_id, c.vec_id AS neighbor_id,
                   row_number() OVER (
                       PARTITION BY probe_id
                       ORDER BY {_cos_sql('qp', 'c.qv')} DESC, c.vec_id) AS rank
            FROM p8 JOIN q8 c ON c.vec_id != probe_id) t
        WHERE rank <= 5)
    SELECT m.probe_id,
           CAST(COUNT(e.neighbor_id) AS DOUBLE) / 5.0 AS recall_at_5
    FROM topm m
    LEFT JOIN top8 e
      ON m.probe_id = e.probe_id AND m.neighbor_id = e.neighbor_id
    GROUP BY m.probe_id
    """,
)
def ann_int8_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the int8-code path against the milli-quantized baseline
    — the quantization-quality metric shipped as a gate query, like
    ann_ivf_recall for the index path."""
    emb = load_table(spark, sf_dir, "embeddings", spread=True)
    probes = emb.filter(F.col("vec_id") < 10)
    bf = S.brute_force_topk(emb, probes, k=5).select("probe_id", "neighbor_id")
    i8 = S.brute_force_topk(emb, probes, k=5, quantizer=S.quantized_int8).select(
        F.col("probe_id").alias("p2"), F.col("neighbor_id").alias("n2")
    )
    return (
        bf.join(
            i8,
            (F.col("probe_id") == F.col("p2")) & (F.col("neighbor_id") == F.col("n2")),
            "left",
        )
        .groupBy("probe_id")
        .agg((F.count("n2").cast("double") / F.lit(5.0)).alias("recall_at_5"))
    )


# -- composed corpus-cleaning pipeline --------------------------------------


@query(
    "corpus_clean_pipeline",
    oracle=f"""
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
                   - len(list_intersect(sa.hsh, sb.hsh))) >= 0.5)
    SELECT s.doc_id FROM survivors0 s
    LEFT JOIN near_dropped d ON s.doc_id = d.doc_id
    WHERE d.doc_id IS NULL
    """,
)
def corpus_clean_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed training-data use case, end to end: quality filter
    (score >= 0.3) -> exact dedup (min-id canonical survives) -> near-dup
    removal (greedy: the higher id of every verified MinHash-LSH pair at
    jaccard >= 0.5 drops). Returns surviving doc_ids. Each stage is the
    already-gated operator; this query proves they compose into one plan."""
    from pos_dlt_spark.queries_corpus import (
        _near_dropped_from_profiles,
        stage_profiles,
    )

    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents", spread=True)
    # ONE pinned text pass feeds all three stages (see
    # queries_corpus.stage_profiles); quality and exact-canonical are
    # per-row derivations of the profile (canonical = min-id of the
    # content-hash group via a window flag — no groupBy + self-join back
    # on doc_id), LSH is its band+verify tail.
    prof = stage_profiles(docs, N_HASHES, SHINGLE_N)
    near_dropped = _near_dropped_from_profiles(prof, N_HASHES, BANDS, threshold=0.5)
    # NOTE: the canon window runs over ALL profile rows (the canonical id
    # of a content-hash group is its global min, whether or not that doc
    # passed quality), so the quality filter applies AFTER it.
    return (
        prof.withColumn(
            "__canon",
            F.col("doc_id")
            == F.min("doc_id").over(Window.partitionBy("content_hash")),
        )
        .filter(F.col("__canon") & (F.col("quality_score") >= 0.3))
        .select("doc_id")
        .join(near_dropped, "doc_id", "left_anti")
    )


@query("ann_cosine_topk_vectorized", oracle=_ANN_TOPK_ORACLE)
def ann_cosine_topk_vectorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME top-5 search on the Arrow/numpy path: one int64 matmul per
    corpus batch instead of per-pair array lambdas — the physical shape
    that wins when probe sets grow. Identical oracle: both paths must
    produce bit-identical similarities."""
    emb = load_table(spark, sf_dir, "embeddings", spread=True)
    probes = emb.filter(F.col("vec_id") < 10)
    out = S.brute_force_topk_vectorized(emb, probes, k=5)
    return out.select("probe_id", "neighbor_id", "sim", "rank")


# -- LSH-bucketed ANN (scale path) ------------------------------------------

EMB_DIM, N_PLANES, LSH_SEED = 64, 12, 42


def _lsh_oracle(threshold: float) -> str:
    planes = S.make_planes(EMB_DIM, N_PLANES, LSH_SEED)
    bucket_terms = []
    for i, plane in enumerate(planes):
        lit = "[" + ", ".join(str(v) for v in plane) + "]"
        dot = f"list_sum(list_transform(range(1, {EMB_DIM + 1}), i -> qv[i] * ({lit})[i]))"
        bucket_terms.append(f"(CASE WHEN {dot} >= 0 THEN {1 << i} ELSE 0 END)")
    bucket = " + ".join(bucket_terms)
    # sig MATERIALIZED: DuckDB would otherwise inline the 12-dot signature
    # computation into BOTH join sides (~2x 3.8M list ops; measured 7.7 s
    # -> 0.6 s at sf0.01)
    return f"""
    WITH q AS MATERIALIZED (SELECT vec_id, {_QUANT} AS qv FROM embeddings),
    sig AS MATERIALIZED (SELECT vec_id, qv, {bucket} AS bucket FROM q)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b, {_cos_sql('a.qv', 'b.qv')} AS sim
    FROM sig a JOIN sig b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    WHERE {_cos_sql('a.qv', 'b.qv')} >= {threshold}
    """


@query("ann_lsh_pairs", oracle=_lsh_oracle(0.2))
def ann_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unblocked near-dup pairs via sign-random-projection LSH: 12
    Rademacher hyperplanes bucket the corpus (exact integer dots), the
    self-join runs within buckets only, survivors are verified with exact
    quantized cosine. This is the 100 TB path emb_cosine_near_dup_pairs's
    label-blocked join approximates."""
    return S.lsh_ann_pairs(
        load_table(spark, sf_dir, "embeddings", spread=True),
        dim=EMB_DIM, threshold=0.2, n_planes=N_PLANES, seed=LSH_SEED,
    )


# -- IVF ANN ----------------------------------------------------------------

N_CENTROIDS, NPROBE = 8, 2


def _ivf_oracle(k: int = 5) -> str:
    cos_qc = _cos_sql("q.qv", "c.cv")
    cos_pc = _cos_sql("p.qv", "c.cv")
    cos_pn = _cos_sql("pc.qp", "a.qc")
    return f"""
    WITH q AS (SELECT vec_id, {_QUANT} AS qv FROM embeddings),
    cents AS (SELECT vec_id AS cid, qv AS cv FROM q WHERE vec_id < {N_CENTROIDS}),
    asg AS (
        SELECT vec_id AS neighbor_id, qv AS qc, cid FROM (
            SELECT q.vec_id, q.qv, c.cid,
                   row_number() OVER (PARTITION BY q.vec_id ORDER BY {cos_qc} DESC, c.cid) AS rn
            FROM q CROSS JOIN cents c) t
        WHERE rn = 1),
    pc AS (
        SELECT probe_id, qp, cid FROM (
            SELECT p.vec_id AS probe_id, p.qv AS qp, c.cid,
                   row_number() OVER (PARTITION BY p.vec_id ORDER BY {cos_pc} DESC, c.cid) AS rn
            FROM q p CROSS JOIN cents c WHERE p.vec_id < 10) t
        WHERE rn <= {NPROBE}),
    sims AS (
        SELECT pc.probe_id, a.neighbor_id, {cos_pn} AS sim
        FROM pc JOIN asg a ON a.cid = pc.cid AND a.neighbor_id != pc.probe_id)
    SELECT probe_id, neighbor_id, sim, rank FROM (
        SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, neighbor_id) AS rank
        FROM sims) t
    WHERE rank <= {k}
    """


@query("ann_ivf_topk", oracle=_ivf_oracle())
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN top-5: corpus assigned to nearest of 8 centroid lists (one
    scan, centroids inlined as literals — no shuffle), probes search their
    2 nearest lists only. Same probes as ann_cosine_topk so recall can be
    compared against the brute-force baseline."""
    emb = load_table(spark, sf_dir, "embeddings", spread=True)
    probes = emb.filter(F.col("vec_id") < 10)
    out = S.ivf_topk(emb, probes, k=5, nprobe=NPROBE, n_centroids=N_CENTROIDS)
    return out.select("probe_id", "neighbor_id", "sim", "rank")


def _ivf_recall_oracle() -> str:
    return f"""
    WITH bf AS ({_ANN_TOPK_ORACLE}),
    ivf AS ({_ivf_oracle()})
    SELECT bf.probe_id,
           CAST(COUNT(ivf.neighbor_id) AS DOUBLE) / 5.0 AS recall_at_5
    FROM bf LEFT JOIN ivf
      ON bf.probe_id = ivf.probe_id AND bf.neighbor_id = ivf.neighbor_id
    GROUP BY bf.probe_id
    """


@query("ann_ivf_recall", oracle=_ivf_recall_oracle())
def ann_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measure, don't guess: recall@5 of the IVF path against the exact
    brute-force baseline, per probe — the ANN quality metric shipped as a
    query so any parameter change (nprobe, centroids) shows its recall
    cost in the same gate that checks correctness."""
    emb = load_table(spark, sf_dir, "embeddings", spread=True)
    probes = emb.filter(F.col("vec_id") < 10)
    bf = S.brute_force_topk(emb, probes, k=5).select("probe_id", "neighbor_id")
    ivf = S.ivf_topk(emb, probes, k=5, nprobe=NPROBE, n_centroids=N_CENTROIDS).select(
        F.col("probe_id").alias("p2"), F.col("neighbor_id").alias("n2")
    )
    return (
        bf.join(
            ivf,
            (F.col("probe_id") == F.col("p2")) & (F.col("neighbor_id") == F.col("n2")),
            "left",
        )
        .groupBy("probe_id")
        .agg((F.count("n2").cast("double") / F.lit(5.0)).alias("recall_at_5"))
    )


# -- PQ (product quantization, ADC) -----------------------------------------

PQ_M, PQ_KSUB = 8, 8
_PQ_SUB = EMB_DIM // PQ_M


def _pq_topk_oracle(k: int = 5) -> str:
    """DuckDB twin of pq_fit(iters=0) + pq_encode + pq_topk: codebooks are
    the first-ksub vectors' sub-slices, codes are per-subspace argmin of
    |c|^2 - 2x.c with min-cid tiebreak, and the ADC similarity is the sum
    of per-subspace LUT dots over the probe, normalized by the probe norm
    and the reconstructed corpus norm — the exact mirror of the Spark
    expression order."""
    m, sub, ksub = PQ_M, _PQ_SUB, PQ_KSUB
    parts = [f"q AS (SELECT vec_id, {_QUANT} AS qv FROM embeddings)"]
    slices = ", ".join(f"qv[{j * sub + 1}:{(j + 1) * sub}] AS s{j}" for j in range(m))
    parts.append(f"subs AS (SELECT vec_id, qv, {slices} FROM q)")
    parts.append(
        "bk AS (SELECT vec_id AS cid, "
        + ", ".join(f"s{j} AS b{j}" for j in range(m))
        + f" FROM subs WHERE vec_id < {ksub})"
    )
    for j in range(m):
        dot = _dot_sql(f"s.s{j}", f"b.b{j}")
        cc = _dot_sql(f"b.b{j}", f"b.b{j}")
        parts.append(
            f"""code{j} AS (
        SELECT vec_id, cid AS c{j}, bsq AS bsq{j} FROM (
            SELECT s.vec_id, b.cid, {cc} AS bsq,
                   row_number() OVER (PARTITION BY s.vec_id
                                      ORDER BY ({cc} - 2 * ({dot})), b.cid) AS rn
            FROM subs s CROSS JOIN bk b) t WHERE rn = 1)"""
        )
    enc_joins = " ".join(
        f"JOIN code{j} ON code{j}.vec_id = code0.vec_id" for j in range(1, m)
    )
    parts.append(
        "enc AS (SELECT code0.vec_id AS neighbor_id, "
        + ", ".join(f"c{j}" for j in range(m))
        + ", (" + " + ".join(f"bsq{j}" for j in range(m)) + ") AS ansq "
        + f"FROM code0 {enc_joins})"
    )
    parts.append(
        f"pr AS (SELECT vec_id AS probe_id, "
        f"sqrt(CAST({_dot_sql('qv', 'qv')} AS DOUBLE)) AS np, "
        + ", ".join(f"s{j}" for j in range(m))
        + " FROM subs WHERE vec_id < 10)"
    )
    for j in range(m):
        parts.append(
            f"lut{j} AS (SELECT p.probe_id, b.cid, "
            f"{_dot_sql(f'p.s{j}', f'b.b{j}')} AS v FROM pr p CROSS JOIN bk b)"
        )
    lut_joins = " ".join(
        f"JOIN lut{j} l{j} ON l{j}.probe_id = p.probe_id AND l{j}.cid = e.c{j}"
        for j in range(m)
    )
    adot = " + ".join(f"l{j}.v" for j in range(m))
    parts.append(
        f"""sims AS (
        SELECT p.probe_id, e.neighbor_id,
               CAST({adot} AS DOUBLE) / p.np / sqrt(CAST(e.ansq AS DOUBLE)) AS sim
        FROM pr p JOIN enc e ON e.neighbor_id != p.probe_id {lut_joins})"""
    )
    return (
        "WITH "
        + ",\n".join(_materialize_ctes(parts))
        + f"""
    SELECT probe_id, neighbor_id, sim, rank FROM (
        SELECT *, row_number() OVER (
            PARTITION BY probe_id ORDER BY sim DESC, neighbor_id) AS rank
        FROM sims) t
    WHERE rank <= {k}
    """
    )


@query("ann_pq_topk", oracle=_pq_topk_oracle())
def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-ADC approximate top-5 (similarity.pq_fit/pq_encode/pq_topk):
    the 64-dim corpus is encoded as 8 sub-quantizer codes + a
    reconstructed norm, probes carry one dot-product lookup table per
    subspace, and each candidate costs 8 lookups + adds instead of a
    64-term dot. The first-ksub codebook baseline keeps the whole path —
    fit, encode, ADC scan — expressible as a SQL oracle."""
    emb = load_table(spark, sf_dir, "embeddings", spread=True)
    probes = emb.filter(F.col("vec_id") < 10)
    books = S.pq_fit(emb, dim=EMB_DIM, m=PQ_M, ksub=PQ_KSUB, iters=0)
    return S.pq_topk(emb, probes, books, dim=EMB_DIM, k=5).select(
        "probe_id", "neighbor_id", "sim", "rank"
    )


@query(
    "ann_pq_recall",
    oracle=f"""
    WITH bf AS ({_ANN_TOPK_ORACLE}),
    pq AS ({_pq_topk_oracle()})
    SELECT bf.probe_id,
           CAST(COUNT(pq.neighbor_id) AS DOUBLE) / 5.0 AS recall_at_5
    FROM bf LEFT JOIN pq
      ON bf.probe_id = pq.probe_id AND bf.neighbor_id = pq.neighbor_id
    GROUP BY bf.probe_id
    """,
)
def ann_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the PQ-ADC path against exact brute force — the
    compression-quality metric for the coded corpus, alongside
    ann_int8_recall (scalar codes) and ann_ivf_recall (index pruning)."""
    emb = load_table(spark, sf_dir, "embeddings", spread=True)
    probes = emb.filter(F.col("vec_id") < 10)
    books = S.pq_fit(emb, dim=EMB_DIM, m=PQ_M, ksub=PQ_KSUB, iters=0)
    bf = S.brute_force_topk(emb, probes, k=5).select("probe_id", "neighbor_id")
    pq = S.pq_topk(emb, probes, books, dim=EMB_DIM, k=5).select(
        F.col("probe_id").alias("p2"), F.col("neighbor_id").alias("n2")
    )
    return (
        bf.join(
            pq,
            (F.col("probe_id") == F.col("p2")) & (F.col("neighbor_id") == F.col("n2")),
            "left",
        )
        .groupBy("probe_id")
        .agg((F.count("n2").cast("double") / F.lit(5.0)).alias("recall_at_5"))
    )


def _kmeans_cents_cte(iters: int = 2, n_centroids: int = N_CENTROIDS) -> tuple[str, str]:
    """CTE chain computing similarity.kmeans_fit's centroids in SQL: the
    2-iteration Lloyd loop UNROLLED (assignment argmax-cosine ->
    spherical floor-rescale -> per-dim sums -> floor-mean; empty clusters
    keep their previous centroid via LEFT JOIN + COALESCE). Verified to
    reproduce the Spark fit bit-for-bit — every step is exact integer
    math or a mirrored fixed-order double op. floor(CAST(s AS DOUBLE)/n)
    NOT s // n: DuckDB's // truncates while Python's floors, and spherical
    sums go negative."""
    parts = [
        f"q AS (SELECT vec_id, {_QUANT} AS qv FROM embeddings)",
        "qn AS (SELECT vec_id, qv, "
        f"sqrt(CAST({_dot_sql('qv', 'qv')} AS DOUBLE)) AS nc FROM q)",
        f"c0 AS (SELECT vec_id AS cid, qv AS cv FROM q WHERE vec_id < {n_centroids})",
    ]
    prev = "c0"
    for it in range(1, iters + 1):
        cos = _cos_sql("qn.qv", "c.cv")
        parts += [
            f"""a{it} AS (
            SELECT vec_id, qv, nc, cid FROM (
                SELECT qn.vec_id, qn.qv, qn.nc, c.cid,
                       row_number() OVER (
                           PARTITION BY qn.vec_id ORDER BY {cos} DESC, c.cid) AS rn
                FROM qn CROSS JOIN {prev} c) t
            WHERE rn = 1)""",
            f"""u{it} AS (
            SELECT cid, i, CAST(floor(qv[CAST(i AS INT)] * 100000 / nc) AS BIGINT) AS comp
            FROM (SELECT cid, nc, qv, unnest(range(1, len(qv)+1)) AS i FROM a{it}))""",
            f"""s{it} AS (
            SELECT cid, i, SUM(comp) AS s, COUNT(*) AS n FROM u{it} GROUP BY cid, i)""",
            f"""cv{it} AS (
            SELECT cid, list(CAST(floor(CAST(s AS DOUBLE) / n) AS BIGINT) ORDER BY i) AS cv
            FROM s{it} GROUP BY cid)""",
            f"""c{it} AS (
            SELECT p.cid, COALESCE(cv{it}.cv, p.cv) AS cv
            FROM {prev} p LEFT JOIN cv{it} ON p.cid = cv{it}.cid)""",
        ]
        prev = f"c{it}"
    return ",\n".join(parts), prev


def _kmeans_recall_oracle() -> str:
    cents_cte, cents = _kmeans_cents_cte(iters=2)
    cos_qc = _cos_sql("q.qv", "c.cv")
    cos_pc = _cos_sql("p.qv", "c.cv")
    cos_pn = _cos_sql("pc.qp", "a.qc")
    return f"""
    WITH {cents_cte},
    asg AS (
        SELECT vec_id AS neighbor_id, qv AS qc, cid FROM (
            SELECT q.vec_id, q.qv, c.cid,
                   row_number() OVER (PARTITION BY q.vec_id ORDER BY {cos_qc} DESC, c.cid) AS rn
            FROM q CROSS JOIN {cents} c) t
        WHERE rn = 1),
    pc AS (
        SELECT probe_id, qp, cid FROM (
            SELECT p.vec_id AS probe_id, p.qv AS qp, c.cid,
                   row_number() OVER (PARTITION BY p.vec_id ORDER BY {cos_pc} DESC, c.cid) AS rn
            FROM q p CROSS JOIN {cents} c WHERE p.vec_id < 10) t
        WHERE rn <= {NPROBE}),
    ivf AS (
        SELECT probe_id, neighbor_id FROM (
            SELECT pc.probe_id, a.neighbor_id,
                   row_number() OVER (
                       PARTITION BY pc.probe_id
                       ORDER BY {cos_pn} DESC, a.neighbor_id) AS rank
            FROM pc JOIN asg a ON a.cid = pc.cid AND a.neighbor_id != pc.probe_id) t
        WHERE rank <= 5),
    bf AS ({_ANN_TOPK_ORACLE})
    SELECT bf.probe_id,
           CAST(COUNT(ivf.neighbor_id) AS DOUBLE) / 5.0 AS recall_at_5
    FROM bf LEFT JOIN ivf
      ON bf.probe_id = ivf.probe_id AND bf.neighbor_id = ivf.neighbor_id
    GROUP BY bf.probe_id
    """


@query("ann_ivf_kmeans_recall", oracle=_kmeans_recall_oracle())
def ann_ivf_kmeans_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of IVF with k-means-FITTED centroids (similarity.kmeans_fit)
    against the exact brute-force baseline — the quality gate for the
    trained model, alongside ann_ivf_recall's first-N-centroid baseline.
    2 Lloyd iterations: the spherical objective's gain is front-loaded
    (0.187->0.255 of its 0.270 4-iter value on this corpus) and each extra
    iteration is a full corpus scan. The oracle UNROLLS the 2-iteration
    fit into SQL CTEs (_kmeans_cents_cte) — exact integer math + mirrored
    fixed-order doubles reproduce the Spark centroids bit-for-bit, so
    even the trained path is hash-gated, not rows-only."""
    emb = load_table(spark, sf_dir, "embeddings", spread=True)
    probes = emb.filter(F.col("vec_id") < 10)
    fitted = S.kmeans_fit(emb, n_centroids=N_CENTROIDS, iters=2)
    bf = S.brute_force_topk(emb, probes, k=5).select("probe_id", "neighbor_id")
    ivf = S.ivf_topk(
        emb, probes, k=5, nprobe=NPROBE, n_centroids=N_CENTROIDS, centroids=fitted
    ).select(F.col("probe_id").alias("p2"), F.col("neighbor_id").alias("n2"))
    return (
        bf.join(
            ivf,
            (F.col("probe_id") == F.col("p2")) & (F.col("neighbor_id") == F.col("n2")),
            "left",
        )
        .groupBy("probe_id")
        .agg((F.count("n2").cast("double") / F.lit(5.0)).alias("recall_at_5"))
    )


@query(
    "emb_label_centroids",
    oracle=f"""
    WITH q AS (SELECT label, {_QUANT} AS qv FROM embeddings)
    SELECT label,
           CAST(i - 1 AS INT) AS dim_idx,
           CAST(COUNT(*) AS BIGINT) AS n_vectors,
           CAST(SUM(qv[CAST(i AS INT)]) AS BIGINT) AS sum_component
    FROM q CROSS JOIN range(1, 65) t(i)
    GROUP BY label, i
    """,
)
def emb_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid accumulators, fully JVM-side: posexplode the
    quantized vector to (label, dim_idx, component) rows, then a plain
    hash aggregate. Exact int64, so oracle-verifiable. Emitting sums + n
    (not the mean) keeps the result exact and combinable — the
    k-means-update shape the IVF training step reuses.

    Scale: the explode is ×dim rows but never materializes a label group
    in one place — partial (map-side) aggregation reduces each task to at
    most labels×dim partial rows before the shuffle, so a hot label costs
    nothing extra. This replaces a grouped-map applyInPandas that needed a
    whole label group in a single pandas frame (OOM on a skewed label)."""
    emb = load_table(spark, sf_dir, "embeddings", spread=True)
    q = emb.select("label", S.quantized(F.col("embedding")).alias("qv"))
    return (
        q.select("label", F.posexplode("qv").alias("dim_idx", "component"))
        .groupBy("label", "dim_idx")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.sum("component").alias("sum_component"),
        )
    )


# -- multimodal plumbing -----------------------------------------------------


_MEDIA_CTE = """
media AS (
    SELECT doc_id AS media_id,
           CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
                                        WHEN 1 THEN 'audio'
                                        ELSE 'video' END AS kind,
           list_transform(range(1, length(text) + 1),
                          i -> ascii(substring(text, i, 1))) AS bs,
           CAST(length(text) AS BIGINT) AS n_bytes
    FROM documents)
"""


@query(
    "multimodal_media_features_checked",
    oracle=f"""
    WITH {_MEDIA_CTE}
    SELECT media_id, kind, n_bytes,
           CAST(list_sum(bs) AS DOUBLE) / n_bytes AS byte_mean,
           CAST(d AS INT) AS dim,
           CAST(len(list_filter(bs, b -> b // 32 = d)) AS DOUBLE) / n_bytes AS value
    FROM media CROSS JOIN range(0, 8) t(d)
    WHERE n_bytes > 0
    """,
)
def multimodal_media_features_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multimodal fake-decode pipeline, value-checked: the corpus is
    ASCII, so the mapInPandas byte-histogram decoder (byte>>5 buckets,
    exact int-ratio doubles) is reproducible in SQL over ascii() codes —
    upgrading this path from a rows-only smoke check to a full oracle. The
    array feature column is posexploded to scalar rows because the gate's
    canonicalizer cannot sort list cells (the emb_label_centroids lesson)."""
    from pos_dlt_spark.operators import multimodal as M

    docs = load_table(spark, sf_dir, "documents", spread=True)
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("kind"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
    )
    feats = M.extract_media_features(media, fake=True)
    return feats.filter(F.col("n_bytes") > 0).select(
        "media_id",
        "kind",
        "n_bytes",
        "byte_mean",
        F.posexplode("feature").alias("dim", "value"),
    )


@query(
    "multimodal_bmp_decode",
    oracle="""
    WITH bmp_dims AS (
        SELECT doc_id AS media_id,
               4 + doc_id % 5 AS w, 3 + doc_id % 4 AS h
        FROM documents),
    bmp_px AS (
        SELECT media_id, w, h, x, y, c,
               (media_id * 31 + y * 7 + x * 3 + c) % 256 AS v
        FROM bmp_dims, range(0, 8) tx(x), range(0, 6) ty(y), range(0, 3) tc(c)
        WHERE x < w AND y < h)
    SELECT media_id,
           CAST(MAX(w) AS INT) AS width,
           CAST(MAX(h) AS INT) AS height,
           CAST(MAX(w) * MAX(h) AS BIGINT) AS n_px,
           CAST(SUM(CASE WHEN c = 0 THEN v END) AS DOUBLE) / (MAX(w) * MAX(h)) AS mean_b,
           CAST(SUM(CASE WHEN c = 1 THEN v END) AS DOUBLE) / (MAX(w) * MAX(h)) AS mean_g,
           CAST(SUM(CASE WHEN c = 2 THEN v END) AS DOUBLE) / (MAX(w) * MAX(h)) AS mean_r,
           CAST(SUM(CASE WHEN c = 2 THEN v * (y * w + x) END) AS BIGINT) AS checksum_r
    FROM bmp_px GROUP BY media_id
    """,
)
def multimodal_bmp_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode, value-oracled end to end: deterministic 24-bit
    BMPs are synthesized executor-side (closed-form pixels, width/height
    varying so some rows need 4-byte padding), then decode_bmp24 parses
    headers, strips padding, and flips the bottom-up row order inside an
    Arrow mapInPandas. The oracle re-derives every pixel from the
    generation formula — the position-weighted red checksum only matches
    if the decode (offset, stride, flip) is byte-exact. This replaces
    'stub everything' with a genuine no-library codec; PNG/JPEG remain
    behind the documented codec boundary."""
    from pos_dlt_spark.operators import multimodal as M

    docs = load_table(spark, sf_dir, "documents", spread=True).select(
        F.col("doc_id").alias("media_id")
    )
    feats = M.synth_bmp_features(docs)
    return feats.select(
        "media_id",
        "width",
        "height",
        "n_px",
        (F.col("sum_b").cast("double") / F.col("n_px")).alias("mean_b"),
        (F.col("sum_g").cast("double") / F.col("n_px")).alias("mean_g"),
        (F.col("sum_r").cast("double") / F.col("n_px")).alias("mean_r"),
        "checksum_r",
    )


@query(
    "multimodal_wav_decode",
    oracle="""
    WITH wav AS (
        SELECT doc_id AS media_id, 50 + doc_id % 64 AS n
        FROM documents),
    s AS (
        SELECT media_id, n, i,
               (media_id * 37 + i * 13) % 4001 - 2000 AS v,
               CASE WHEN i > 0
                    THEN (media_id * 37 + (i - 1) * 13) % 4001 - 2000 END AS pv
        FROM wav, range(0, 113) t(i) WHERE i < n)
    SELECT media_id,
           CAST(8000 + (media_id % 3) * 4000 AS INT) AS sample_rate,
           CAST(1 AS INT) AS n_channels,
           CAST(MAX(n) AS BIGINT) AS n_samples,
           CAST(SUM(ABS(v)) AS BIGINT) AS sum_abs,
           CAST(SUM(v * v) AS BIGINT) AS sum_sq,
           CAST(SUM(CASE WHEN pv IS NOT NULL
                          AND ((v >= 0) <> (pv >= 0)) THEN 1 ELSE 0 END)
                AS BIGINT) AS zero_cross,
           CAST(SUM(v * (i % 97 + 1)) AS BIGINT) AS checksum
    FROM s GROUP BY media_id
    """,
)
def multimodal_wav_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode, value-oracled end to end (VERDICT r06 #8, the
    second dependency-free codec anchor after BMP): deterministic mono
    PCM16 WAVs are synthesized executor-side (closed-form samples,
    varying length and sample rate, a JUNK chunk before fmt so the
    decoder must walk the chunk list), then decode_wav_pcm16 parses the
    RIFF structure inside an Arrow mapInPandas. The oracle re-derives
    every sample from the generation formula — the position-weighted
    checksum and zero-crossing count only match if sample order, byte
    order, and chunk offsets are byte-exact."""
    from pos_dlt_spark.operators import multimodal as M

    docs = load_table(spark, sf_dir, "documents", spread=True).select(
        F.col("doc_id").alias("media_id")
    )
    return M.synth_wav_features(docs)


@query(
    "multimodal_png_decode",
    oracle="""
    WITH png_dims AS (
        SELECT doc_id AS media_id,
               4 + doc_id % 5 AS w, 5 + doc_id % 4 AS h,
               3 + doc_id % 2 AS ch
        FROM documents),
    png_px AS (
        SELECT media_id, w, h, ch, x, y, c,
               (media_id * 41 + y * 9 + x * 5 + c * 17) % 256 AS v
        FROM png_dims, range(0, 8) tx(x), range(0, 8) ty(y), range(0, 4) tc(c)
        WHERE x < w AND y < h AND c < ch)
    SELECT media_id,
           CAST(MAX(w) AS INT) AS width,
           CAST(MAX(h) AS INT) AS height,
           CAST(MAX(ch) AS INT) AS channels,
           CAST(MAX(w) * MAX(h) AS BIGINT) AS n_px,
           CAST(SUM(CASE WHEN c = 0 THEN v END) AS DOUBLE) / (MAX(w) * MAX(h)) AS mean_r,
           CAST(SUM(CASE WHEN c = 1 THEN v END) AS DOUBLE) / (MAX(w) * MAX(h)) AS mean_g,
           CAST(SUM(CASE WHEN c = 2 THEN v END) AS DOUBLE) / (MAX(w) * MAX(h)) AS mean_b,
           CAST(COALESCE(SUM(CASE WHEN c = 3 THEN v END), 0) AS BIGINT) AS sum_a,
           CAST(SUM(CASE WHEN c = 1 THEN v * (y * w + x) END) AS BIGINT) AS checksum_g
    FROM png_px GROUP BY media_id
    """,
)
def multimodal_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PNG decode, value-oracled end to end (VERDICT r07 #2, the
    THIRD dependency-free codec anchor after BMP and WAV): deterministic
    8-bit RGB/RGBA PNGs are synthesized executor-side — closed-form
    pixels, row ``y`` filtered with type ``y % 5`` so none/sub/up/
    average/paeth ALL appear in every image, the deflate stream split
    across two IDAT chunks behind a tEXt ancillary chunk — then
    decode_png walks the chunks (CRC-checked), inflates with stdlib
    zlib, and undoes the filters inside an Arrow mapInPandas. The
    oracle re-derives every pixel from the generation formula: the
    position-weighted green checksum only matches if chunk
    concatenation, inflate, and all five defilter paths are byte-exact.
    Baseline JPEG decodes for real too (multimodal_jpeg_decode);
    progressive JPEG stays behind the codec-library boundary."""
    from pos_dlt_spark.operators import multimodal as M

    docs = load_table(spark, sf_dir, "documents", spread=True).select(
        F.col("doc_id").alias("media_id")
    )
    feats = M.synth_png_features(docs)
    return feats.select(
        "media_id",
        "width",
        "height",
        "channels",
        "n_px",
        (F.col("sum_r").cast("double") / F.col("n_px")).alias("mean_r"),
        (F.col("sum_g").cast("double") / F.col("n_px")).alias("mean_g"),
        (F.col("sum_b").cast("double") / F.col("n_px")).alias("mean_b"),
        "sum_a",
        "checksum_g",
    )


@query(
    "multimodal_jpeg_decode",
    oracle="""
    WITH dims AS (
        SELECT doc_id AS media_id,
               16 + (doc_id % 3) * 8 + doc_id % 5 AS w,
               16 + (doc_id % 2) * 8 + doc_id % 7 AS h
        FROM documents),
    px AS (
        SELECT media_id, w, h, x, y,
               (media_id * 37 + (y // 8) * 11 + (x // 8) * 7) % 256 AS v
        FROM dims, range(0, 40) tx(x), range(0, 32) ty(y)
        WHERE x < w AND y < h)
    SELECT media_id,
           CAST(MAX(w) AS INT) AS width,
           CAST(MAX(h) AS INT) AS height,
           CAST(MAX(w) * MAX(h) AS BIGINT) AS n_px,
           CAST(SUM(v) AS DOUBLE) / (MAX(w) * MAX(h)) AS mean_px,
           CAST(SUM(v * (y * w + x)) AS BIGINT) AS checksum
    FROM px GROUP BY media_id
    """,
)
def multimodal_jpeg_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL baseline-JPEG decode, value-oracled end to end (VERDICT r08
    #3, the FOURTH dependency-free codec anchor): deterministic
    grayscale JPEGs are synthesized executor-side — per-8x8-block-
    constant pixels, an all-8 quantization table, partial edge MCUs,
    every third image carrying DRI/RSTn restart markers — then
    decode_jpeg walks the markers, Huffman-decodes the entropy stream
    (byte unstuffing, restart resets), dequantizes, inverse-zigzags and
    IDCTs inside an Arrow mapInPandas. The oracle re-derives every
    pixel in closed form: a constant block is DC-only and 8*(v-128) is
    divisible by the quant step, so quantization is provably lossless
    and the position-weighted checksum only matches on a bit-exact
    decode — no tolerance needed. The remaining codec boundary is
    progressive JPEG + compressed audio/video."""
    from pos_dlt_spark.operators import multimodal as M

    docs = load_table(spark, sf_dir, "documents", spread=True).select(
        F.col("doc_id").alias("media_id")
    )
    feats = M.synth_jpeg_features(docs)
    return feats.select(
        "media_id",
        "width",
        "height",
        "n_px",
        "mean_px",
        "checksum",
    )


@query("multimodal_media_features", oracle=None)  # rows-only: decode is a stub
def multimodal_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-binary media pipeline over Arrow batches: documents stand in
    as payloads (utf-8 bytes), kind cycles image/audio/video, features come
    from the deterministic fake decoder via mapInPandas. The Spark-side
    plumbing (binary column, batch shapes, partition parallelism) is the
    real 100 TB path; the codec call is the only stub."""
    from pos_dlt_spark.operators import multimodal as M

    docs = load_table(spark, sf_dir, "documents", spread=True)
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("kind"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
    )
    return M.extract_media_features(media, fake=True)


@query(
    "text_unigram_logprob",
    oracle=r"""
    WITH toks AS (SELECT doc_id,
                         unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
                  FROM documents),
    tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
    vocab AS (SELECT tok, COUNT(*) AS c FROM toks GROUP BY 1),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS N, CAST(COUNT(*) AS BIGINT) AS V FROM vocab),
    s AS (SELECT tf.doc_id, tf.tf,
                 CAST(floor(ln(CAST(v.c + 1 AS DOUBLE) / CAST(t.N + t.V AS DOUBLE))
                            * 1000000) AS BIGINT) AS lp
          FROM tf JOIN vocab v USING (tok), tot t)
    SELECT doc_id,
           CAST(SUM(tf) AS BIGINT) AS n_tokens,
           CAST(SUM(tf * lp) AS BIGINT) AS sum_lp_micro,
           CAST(SUM(tf * lp) AS DOUBLE) / CAST(SUM(tf) AS DOUBLE) / 1e6 AS avg_logprob
    FROM s GROUP BY doc_id
    """,
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-fit unigram-LM quality score per document
    (operators/text.py:unigram_logprob): mean Laplace-smoothed token
    log-probability, with per-token log-probs quantized to integer
    micro-nats before the (exact, order-independent) per-doc sum. The
    one rows-level float op each engine performs is the final mean's
    division."""
    from pos_dlt_spark.operators.text import unigram_logprob

    docs = load_table(spark, sf_dir, "documents", spread=True)
    return unigram_logprob(docs)


# -- IVF-PQ (routing + ADC, composed) ---------------------------------------


def _ivfpq_oracle(k: int = 5) -> str:
    """DuckDB twin of similarity.ivfpq_topk with first-N centroids and
    iters=0 codebooks: the IVF oracle's routing CTEs feeding the PQ
    oracle's encode/LUT CTEs — candidates restricted to the probe's
    nprobe lists, scored by ADC."""
    m, sub, ksub = PQ_M, _PQ_SUB, PQ_KSUB
    cos_qc = _cos_sql("q.qv", "c.cv")
    cos_pc = _cos_sql("p.qv", "c.cv")
    slices = ", ".join(f"qv[{j * sub + 1}:{(j + 1) * sub}] AS s{j}" for j in range(m))
    parts = [
        f"q AS (SELECT vec_id, {_QUANT} AS qv FROM embeddings)",
        f"cents AS (SELECT vec_id AS cid, qv AS cv FROM q WHERE vec_id < {N_CENTROIDS})",
        f"""asg AS (SELECT vec_id, cid FROM (
            SELECT q.vec_id, c.cid,
                   row_number() OVER (PARTITION BY q.vec_id
                                      ORDER BY {cos_qc} DESC, c.cid) AS rn
            FROM q CROSS JOIN cents c) t WHERE rn = 1)""",
        f"subs AS (SELECT vec_id, qv, {slices} FROM q)",
        "bk AS (SELECT vec_id AS cid, "
        + ", ".join(f"s{j} AS b{j}" for j in range(m))
        + f" FROM subs WHERE vec_id < {ksub})",
    ]
    for j in range(m):
        dot = _dot_sql(f"s.s{j}", f"b.b{j}")
        cc = _dot_sql(f"b.b{j}", f"b.b{j}")
        parts.append(
            f"""code{j} AS (
        SELECT vec_id, cid AS c{j}, bsq AS bsq{j} FROM (
            SELECT s.vec_id, b.cid, {cc} AS bsq,
                   row_number() OVER (PARTITION BY s.vec_id
                                      ORDER BY ({cc} - 2 * ({dot})), b.cid) AS rn
            FROM subs s CROSS JOIN bk b) t WHERE rn = 1)"""
        )
    enc_joins = " ".join(
        f"JOIN code{j} ON code{j}.vec_id = code0.vec_id" for j in range(1, m)
    )
    parts.append(
        "enc AS (SELECT code0.vec_id AS neighbor_id, "
        + ", ".join(f"c{j}" for j in range(m))
        + ", (" + " + ".join(f"bsq{j}" for j in range(m)) + ") AS ansq "
        + f"FROM code0 {enc_joins})"
    )
    parts.append(
        f"""pc AS (SELECT probe_id, cid FROM (
            SELECT p.vec_id AS probe_id, c.cid,
                   row_number() OVER (PARTITION BY p.vec_id
                                      ORDER BY {cos_pc} DESC, c.cid) AS rn
            FROM q p CROSS JOIN cents c WHERE p.vec_id < 10) t
        WHERE rn <= {NPROBE})"""
    )
    parts.append(
        f"pr AS (SELECT vec_id AS probe_id, "
        f"sqrt(CAST({_dot_sql('qv', 'qv')} AS DOUBLE)) AS np, "
        + ", ".join(f"s{j}" for j in range(m))
        + " FROM subs WHERE vec_id < 10)"
    )
    for j in range(m):
        parts.append(
            f"lut{j} AS (SELECT p.probe_id, b.cid, "
            f"{_dot_sql(f'p.s{j}', f'b.b{j}')} AS v FROM pr p CROSS JOIN bk b)"
        )
    lut_joins = " ".join(
        f"JOIN lut{j} l{j} ON l{j}.probe_id = pc.probe_id AND l{j}.cid = e.c{j}"
        for j in range(m)
    )
    adot = " + ".join(f"l{j}.v" for j in range(m))
    parts.append(
        f"""sims AS (
        SELECT pc.probe_id, e.neighbor_id,
               CAST({adot} AS DOUBLE) / p.np / sqrt(CAST(e.ansq AS DOUBLE)) AS sim
        FROM pc
        JOIN asg a ON a.cid = pc.cid
        JOIN enc e ON e.neighbor_id = a.vec_id AND e.neighbor_id != pc.probe_id
        JOIN pr p ON p.probe_id = pc.probe_id {lut_joins})"""
    )
    return (
        "WITH "
        + ",\n".join(_materialize_ctes(parts))
        + f"""
    SELECT probe_id, neighbor_id, sim, rank FROM (
        SELECT *, row_number() OVER (
            PARTITION BY probe_id ORDER BY sim DESC, neighbor_id) AS rank
        FROM sims) t
    WHERE rank <= {k}
    """
    )


@query("ann_ivfpq_topk", oracle=_ivfpq_oracle())
def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN top-5 (similarity.ivfpq_topk): one corpus scan emits
    each vector's inverted-list id AND its PQ codes; probes search their
    2 nearest of 8 lists and score candidates by 8 LUT lookups — the
    candidate count and the per-candidate cost both shrink, which is the
    FAISS-style configuration a 100 TB vector store actually runs."""
    emb = load_table(spark, sf_dir, "embeddings", spread=True)
    probes = emb.filter(F.col("vec_id") < 10)
    books = S.pq_fit(emb, dim=EMB_DIM, m=PQ_M, ksub=PQ_KSUB, iters=0)
    return S.ivfpq_topk(
        emb, probes, books, dim=EMB_DIM, k=5, nprobe=NPROBE, n_centroids=N_CENTROIDS
    ).select("probe_id", "neighbor_id", "sim", "rank")


@query(
    "ann_ivfpq_recall",
    oracle=f"""
    WITH bf AS ({_ANN_TOPK_ORACLE}),
    ivfpq AS ({_ivfpq_oracle()})
    SELECT bf.probe_id,
           CAST(COUNT(ivfpq.neighbor_id) AS DOUBLE) / 5.0 AS recall_at_5
    FROM bf LEFT JOIN ivfpq
      ON bf.probe_id = ivfpq.probe_id AND bf.neighbor_id = ivfpq.neighbor_id
    GROUP BY bf.probe_id
    """,
)
def ann_ivfpq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the composed IVF-PQ path vs exact brute force — its
    loss is bounded below by max(ivf, pq) individually; shipping it as a
    gate query makes the compounding visible every round."""
    emb = load_table(spark, sf_dir, "embeddings", spread=True)
    probes = emb.filter(F.col("vec_id") < 10)
    books = S.pq_fit(emb, dim=EMB_DIM, m=PQ_M, ksub=PQ_KSUB, iters=0)
    bf = S.brute_force_topk(emb, probes, k=5).select("probe_id", "neighbor_id")
    ap = S.ivfpq_topk(
        emb, probes, books, dim=EMB_DIM, k=5, nprobe=NPROBE, n_centroids=N_CENTROIDS
    ).select(F.col("probe_id").alias("p2"), F.col("neighbor_id").alias("n2"))
    return (
        bf.join(
            ap,
            (F.col("probe_id") == F.col("p2")) & (F.col("neighbor_id") == F.col("n2")),
            "left",
        )
        .groupBy("probe_id")
        .agg((F.count("n2").cast("double") / F.lit(5.0)).alias("recall_at_5"))
    )


@query(
    "text_bigram_logprob",
    oracle=r"""
    WITH toks_b AS (SELECT doc_id,
                           regexp_split_to_array(trim(lower(text)), '\s+') AS toks
                    FROM documents),
    pairs AS (SELECT doc_id, toks[i] AS prev, toks[i + 1] AS tok
              FROM toks_b, unnest(range(1, len(toks))) AS u(i)
              WHERE len(toks) >= 2),
    tf AS (SELECT doc_id, prev, tok, COUNT(*) AS tf FROM pairs GROUP BY 1, 2, 3),
    alltok AS (SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
               FROM documents),
    uni AS (SELECT tok, COUNT(*) AS cu FROM alltok GROUP BY 1),
    tot AS (SELECT CAST(SUM(cu) AS BIGINT) AS N, CAST(COUNT(*) AS BIGINT) AS V FROM uni),
    bi AS (SELECT prev, tok, COUNT(*) AS cb FROM pairs GROUP BY 1, 2),
    ctx AS (SELECT prev, COUNT(*) AS cp FROM pairs GROUP BY 1),
    s AS (SELECT tf.doc_id, tf.tf,
                 CAST(floor(ln(
                     (CAST(7 AS DOUBLE) / CAST(10 AS DOUBLE))
                       * (CAST(bi.cb + 1 AS DOUBLE) / CAST(ctx.cp + t.V AS DOUBLE))
                     + (1.0 - (CAST(7 AS DOUBLE) / CAST(10 AS DOUBLE)))
                       * (CAST(uni.cu + 1 AS DOUBLE) / CAST(t.N + t.V AS DOUBLE))
                 ) * 1000000) AS BIGINT) AS lp
          FROM tf
          JOIN bi ON bi.prev = tf.prev AND bi.tok = tf.tok
          JOIN ctx ON ctx.prev = tf.prev
          JOIN uni ON uni.tok = tf.tok, tot t)
    SELECT doc_id,
           CAST(SUM(tf) AS BIGINT) AS n_transitions,
           CAST(SUM(tf * lp) AS BIGINT) AS sum_lp_micro,
           CAST(SUM(tf * lp) AS DOUBLE) / CAST(SUM(tf) AS DOUBLE) / 1e6 AS avg_logprob
    FROM s GROUP BY doc_id
    """,
)
def text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated-bigram LM scoring (operators/text.py:bigram_logprob,
    λ=0.7): per-transition ln(λ·P_bi + (1-λ)·P_uni) in integer micro-nats
    — catches word-salad that unigram frequencies can't. The probability
    chain is a fixed-order IEEE double expression mirrored verbatim in
    the oracle; sums are exact bigints."""
    from pos_dlt_spark.operators.text import bigram_logprob

    docs = load_table(spark, sf_dir, "documents", spread=True)
    return bigram_logprob(docs)


# ---------------------------------------------------------------------------
# semantic deduplication (SemDeDup)
# ---------------------------------------------------------------------------

_SEMD_K, _SEMD_TAU = 8, 0.45


def _semdedup_oracle() -> str:
    cos_qc = _cos_sql("q.qv", "c.cv")
    cos_ab = _cos_sql("a.qv", "b.qv")
    parts = [
        f"q AS (SELECT vec_id, {_QUANT} AS qv FROM embeddings)",
        f"cents AS (SELECT vec_id AS cid, qv AS cv FROM q ORDER BY vec_id LIMIT {_SEMD_K})",
        f"""asg AS (
        SELECT vec_id, qv, cid AS cluster FROM (
            SELECT q.vec_id, q.qv, c.cid,
                   row_number() OVER (PARTITION BY q.vec_id ORDER BY {cos_qc} DESC, c.cid) AS rn
            FROM q CROSS JOIN cents c) t
        WHERE rn = 1)""",
        f"""dup AS (
        SELECT b.vec_id, MIN(a.vec_id) AS dup_of
        FROM asg a JOIN asg b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
        WHERE {cos_ab} >= {_SEMD_TAU}
        GROUP BY b.vec_id)""",
    ]
    return (
        "WITH "
        + ",\n".join(_materialize_ctes(parts))
        + """
    SELECT asg.vec_id, asg.cluster, dup.dup_of
    FROM asg LEFT JOIN dup ON asg.vec_id = dup.vec_id
    """
    )


@query("dedup_semantic_clusters", oracle=_semdedup_oracle())
def dedup_semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): cluster embeddings around the 8 seed
    centroids, then within each cluster mark every vector with an
    earlier-id cosine-0.45 neighbor as a duplicate of the lowest such id —
    one row per vector, ``dup_of IS NULL`` = the keep set. Scale path:
    fit centroids with ``similarity.kmeans_fit`` on a sample (k ~ n/1000)
    and the same operator runs unchanged; seeds keep the oracle exact."""
    emb = load_table(spark, sf_dir, "embeddings", spread=True)
    cents = S.seed_centroids(emb, k=_SEMD_K)
    return S.semantic_dedup(emb, cents, threshold=_SEMD_TAU)


@query(
    "corpus_dsir_importance",
    oracle=r"""
    WITH toks AS (SELECT doc_id, lang = 'en' AS t,
                         unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
                  FROM documents),
    tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
    vocab AS (SELECT tok, COUNT(*) AS c_all,
                     CAST(SUM(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT) AS c_t
              FROM toks GROUP BY 1),
    tot AS (SELECT CAST(SUM(c_all) AS BIGINT) AS N_all,
                   CAST(SUM(c_t) AS BIGINT) AS N_t,
                   CAST(COUNT(*) AS BIGINT) AS V FROM vocab),
    s AS (SELECT tf.doc_id, tf.tf,
                 CAST(floor(ln(CAST(v.c_t + 1 AS DOUBLE) / CAST(t.N_t + t.V AS DOUBLE))
                            * 1000000) AS BIGINT)
                 - CAST(floor(ln(CAST(v.c_all + 1 AS DOUBLE) / CAST(t.N_all + t.V AS DOUBLE))
                              * 1000000) AS BIGINT) AS d
          FROM tf JOIN vocab v USING (tok), tot t)
    SELECT doc_id,
           CAST(SUM(tf) AS BIGINT) AS n_tokens,
           CAST(SUM(tf * d) AS BIGINT) AS log_ratio_micro,
           CAST(SUM(tf * d) AS DOUBLE) / CAST(SUM(tf) AS DOUBLE) / 1e6 AS avg_log_ratio
    FROM s GROUP BY doc_id
    """,
)
def corpus_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance scores (target = the English slice): per-document
    log ratio of a target-fit vs corpus-fit unigram LM, integer micro-nat
    exact (operators/text.py:dsir_logratio). The selection front-end for
    weighted_sample / mixture_interleave."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    return T.dsir_logratio(docs, target_filter=F.col("lang") == "en")


@query("dedup_semantic_clusters_vectorized", oracle=_semdedup_oracle())
def dedup_semantic_clusters_vectorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The numpy-matmul assignment path of dedup_semantic_clusters (one
    int64 matmul per Arrow batch instead of k interpreted dots per row —
    the k ~ n/1000 scale configuration's bottleneck fix, see SCALE.md).
    Shares the expression path's oracle: the two paths are bit-identical
    by construction and by tests/test_ml_ops.py."""
    emb = load_table(spark, sf_dir, "embeddings", spread=True)
    cents = S.seed_centroids(emb, k=_SEMD_K)
    return S.semantic_dedup(emb, cents, threshold=_SEMD_TAU, vectorized=True)


def _semdedup_kmeans_oracle() -> str:
    cents_cte, cents = _kmeans_cents_cte(iters=2, n_centroids=_SEMD_K)
    cos_qc = _cos_sql("q.qv", "c.cv")
    cos_ab = _cos_sql("a.qv", "b.qv")
    return f"""
    WITH {cents_cte},
    sasg AS (
        SELECT vec_id, qv, cid AS cluster FROM (
            SELECT q.vec_id, q.qv, c.cid,
                   row_number() OVER (PARTITION BY q.vec_id ORDER BY {cos_qc} DESC, c.cid) AS rn
            FROM q CROSS JOIN {cents} c) t
        WHERE rn = 1),
    sdup AS (
        SELECT b.vec_id, MIN(a.vec_id) AS dup_of
        FROM sasg a JOIN sasg b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
        WHERE {cos_ab} >= {_SEMD_TAU}
        GROUP BY b.vec_id)
    SELECT sasg.vec_id, sasg.cluster, sdup.dup_of
    FROM sasg LEFT JOIN sdup ON sasg.vec_id = sdup.vec_id
    """


@query("dedup_semantic_clusters_kmeans", oracle=_semdedup_kmeans_oracle())
def dedup_semantic_clusters_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END SemDeDup scale recipe: fit the centroid model with
    ``similarity.kmeans_fit`` (2 spherical Lloyd iterations), then assign
    + prune through the VECTORIZED path — exactly the k ~ n/1000
    configuration the operator docstring prescribes at 100 TB, now
    hash-gated rather than stress-harness-only. The oracle unrolls the
    full fit into the ann_ivf_kmeans_recall CTE chain (bit-identical
    integer centroids) and reruns the assignment + within-cluster prune
    on the fitted model."""
    emb = load_table(spark, sf_dir, "embeddings", spread=True)
    fitted = S.kmeans_fit(emb, n_centroids=_SEMD_K, iters=2)
    return S.semantic_dedup(emb, fitted, threshold=_SEMD_TAU, vectorized=True)


def _curation_oracle() -> str:
    cos_qc = _cos_sql("q.qv", "c.cv")
    cos_ab = _cos_sql("a.qv", "b.qv")
    parts = [
        # DSIR signal (target = the English slice), n_tokens rides along
        r"""cur_toks AS (SELECT doc_id, lang = 'en' AS t,
               unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
        FROM documents)""",
        "cur_tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM cur_toks GROUP BY 1, 2)",
        """cur_vocab AS (SELECT tok, COUNT(*) AS c_all,
               CAST(SUM(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT) AS c_t
        FROM cur_toks GROUP BY 1)""",
        """cur_tot AS (SELECT CAST(SUM(c_all) AS BIGINT) AS N_all,
               CAST(SUM(c_t) AS BIGINT) AS N_t,
               CAST(COUNT(*) AS BIGINT) AS V FROM cur_vocab)""",
        """cur_s AS (SELECT f.doc_id, f.tf,
               CAST(floor(ln(CAST(v.c_t + 1 AS DOUBLE) / CAST(t.N_t + t.V AS DOUBLE))
                          * 1000000) AS BIGINT)
               - CAST(floor(ln(CAST(v.c_all + 1 AS DOUBLE) / CAST(t.N_all + t.V AS DOUBLE))
                            * 1000000) AS BIGINT) AS d
        FROM cur_tf f JOIN cur_vocab v USING (tok), cur_tot t)""",
        """cur_d AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tokens,
               CAST(SUM(tf * d) AS BIGINT) AS log_ratio_micro
        FROM cur_s GROUP BY doc_id)""",
        # exact-dup canonical id per doc
        r"""cur_ex AS (SELECT doc_id,
               MIN(doc_id) OVER (
                   PARTITION BY md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'))
               ) AS canonical_id
        FROM documents)""",
        # semantic duplicates over the embeddings table (SemDeDup gate config)
        f"q AS (SELECT vec_id, {_QUANT} AS qv FROM embeddings)",
        f"cents AS (SELECT vec_id AS cid, qv AS cv FROM q ORDER BY vec_id LIMIT {_SEMD_K})",
        f"""asg AS (
        SELECT vec_id, qv, cid AS cluster FROM (
            SELECT q.vec_id, q.qv, c.cid,
                   row_number() OVER (PARTITION BY q.vec_id ORDER BY {cos_qc} DESC, c.cid) AS rn
            FROM q CROSS JOIN cents c) z
        WHERE rn = 1)""",
        f"""dup AS (
        SELECT b.vec_id, MIN(a.vec_id) AS dup_of
        FROM asg a JOIN asg b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
        WHERE {cos_ab} >= {_SEMD_TAU}
        GROUP BY b.vec_id)""",
    ]
    return (
        "WITH "
        + ",\n".join(_materialize_ctes(parts))
        + """
    SELECT d.doc_id, d.n_tokens, d.log_ratio_micro
    FROM cur_d d
    JOIN cur_ex e ON d.doc_id = e.doc_id
    LEFT JOIN dup ON dup.vec_id = d.doc_id
    WHERE d.n_tokens >= 20
      AND d.log_ratio_micro > 0
      AND d.doc_id = e.canonical_id
      AND dup.dup_of IS NULL
    """
    )


@query("corpus_curation_pipeline", oracle=_curation_oracle())
def corpus_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-3 curation recipe as ONE declarative plan: length floor
    (n_tokens >= 20) -> exact dedup (keep the min-id canonical) -> DSIR
    selection (log importance ratio vs the English target > 0) ->
    SemDeDup drop (doc's embedding has an earlier same-cluster cosine
    neighbor). Survivors with their DSIR stats. Every stage reuses its
    standalone operator — quality/DSIR ride one token pass, the dedup
    stages are the gate-verified operators — and Catalyst fuses the lot;
    nothing materializes between stages."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents", spread=True)
    emb = load_table(spark, sf_dir, "embeddings", spread=True)
    dsir = T.dsir_logratio(docs, target_filter=F.col("lang") == "en")
    normalized = F.regexp_replace(F.trim(F.lower(F.col("text"))), r"\s+", " ")
    canon = docs.select(
        "doc_id",
        F.min("doc_id")
        .over(Window.partitionBy(F.md5(normalized)))
        .alias("canonical_id"),
    )
    sem = S.semantic_dedup(emb, S.seed_centroids(emb, k=_SEMD_K), threshold=_SEMD_TAU).select(
        F.col("vec_id").alias("doc_id"), "dup_of"
    )
    return (
        dsir.filter(F.col("n_tokens") >= 20)
        .filter(F.col("log_ratio_micro") > 0)
        .join(canon, "doc_id")
        .filter(F.col("doc_id") == F.col("canonical_id"))
        .join(sem, "doc_id", "left")
        .filter(F.col("dup_of").isNull())
        .select("doc_id", "n_tokens", "log_ratio_micro")
    )


_DECON_TAU = 0.4


@query(
    "emb_semantic_decontamination",
    oracle=f"""
    WITH q AS (SELECT vec_id, {_QUANT} AS qv FROM embeddings),
    probes AS (SELECT vec_id AS probe_id, qv AS qp FROM q WHERE vec_id < 25),
    hits AS (
        SELECT c.vec_id, MIN(p.probe_id) AS contaminated_by
        FROM q c JOIN probes p ON c.vec_id >= 25
        WHERE {_cos_sql('p.qp', 'c.qv')} >= {_DECON_TAU}
        GROUP BY c.vec_id)
    SELECT c.vec_id, hits.contaminated_by
    FROM q c LEFT JOIN hits ON c.vec_id = hits.vec_id
    WHERE c.vec_id >= 25
    """,
)
def emb_semantic_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space benchmark decontamination — the semantic
    complement of corpus_decontamination's n-gram overlap: every corpus
    vector cosine-close (>= 0.4) to any eval-set vector (vec_id < 25
    stands in for the benchmark) is flagged with the lowest contaminating
    probe id; ``contaminated_by IS NULL`` is the clean set. One corpus
    scan against broadcast probes (the brute_force_topk shape — at 100 TB
    the probe set is the benchmark suite: thousands of rows, trivially
    broadcastable), quantized-exact cosine."""
    emb = load_table(spark, sf_dir, "embeddings", spread=True)
    q = emb.select("vec_id", S.quantized(F.col("embedding")).alias("qc"))
    q = q.select("vec_id", "qc", S.norm(F.col("qc")).alias("nc"))
    probes = q.filter(F.col("vec_id") < 25).select(
        F.col("vec_id").alias("probe_id"),
        F.col("qc").alias("qp"),
        F.col("nc").alias("np_"),
    )
    corpus = q.filter(F.col("vec_id") >= 25)
    sim = S.cosine_sim_prenormed(F.col("qp"), F.col("qc"), F.col("np_"), F.col("nc"))
    hits = (
        corpus.crossJoin(F.broadcast(probes))
        .filter(sim >= _DECON_TAU)
        .groupBy("vec_id")
        .agg(F.min("probe_id").alias("contaminated_by"))
    )
    return corpus.select("vec_id").join(hits, "vec_id", "left")


@query(
    "text_nb_lang_classifier",
    oracle=r"""
    WITH tr AS (
        SELECT d.doc_id, d.lang, t.tok
        FROM (SELECT * FROM documents WHERE doc_id % 2 = 0) d,
             unnest(regexp_split_to_array(trim(lower(d.text)), '\s+')) AS t(tok)
        WHERE t.tok <> ''
    ),
    vocab AS (
        SELECT tok FROM (
            SELECT tok,
                   ROW_NUMBER() OVER (
                       ORDER BY COUNT(DISTINCT doc_id) DESC, tok ASC) AS r
            FROM tr GROUP BY tok
        ) WHERE r <= 2000
    ),
    vsz AS (SELECT COUNT(*) AS v FROM vocab),
    counts AS (
        SELECT tok, lang, COUNT(*) AS cnt FROM tr
        WHERE tok IN (SELECT tok FROM vocab) GROUP BY 1, 2
    ),
    totals AS (SELECT lang, SUM(cnt) AS tot FROM counts GROUP BY 1),
    priors AS (
        SELECT lang, COUNT(*) AS nd FROM documents WHERE doc_id % 2 = 0 GROUP BY 1
    ),
    n_all AS (SELECT COUNT(*) AS n FROM documents WHERE doc_id % 2 = 0),
    te AS (
        SELECT d.doc_id, t.tok
        FROM (SELECT * FROM documents WHERE doc_id % 2 = 1) d,
             unnest(regexp_split_to_array(trim(lower(d.text)), '\s+')) AS t(tok)
        WHERE t.tok <> '' AND t.tok IN (SELECT tok FROM vocab)
    ),
    terms AS (
        SELECT g.doc_id, g.lang, g.nd,
               CAST(FLOOR(LN(
                   CAST(COALESCE(c.cnt, 0) + 1 AS DOUBLE) /
                   CAST(t.tot + (SELECT v FROM vsz) AS DOUBLE)
               ) * 1000000) AS BIGINT) AS term
        FROM (SELECT te.doc_id, te.tok, p.lang, p.nd FROM te CROSS JOIN priors p) g
        LEFT JOIN counts c ON c.tok = g.tok AND c.lang = g.lang
        JOIN totals t ON t.lang = g.lang
    ),
    scored AS (
        SELECT doc_id, lang,
               CAST(SUM(term) + CAST(FLOOR(LN(
                   CAST(MAX(nd) AS DOUBLE) / CAST((SELECT n FROM n_all) AS DOUBLE)
               ) * 1000000) AS BIGINT) AS BIGINT) AS score_micro,
               CAST(COUNT(*) AS BIGINT) AS n_vocab_tok
        FROM terms GROUP BY 1, 2
    )
    SELECT doc_id, lang AS pred_lang, score_micro, n_vocab_tok
    FROM scored
    QUALIFY ROW_NUMBER() OVER (
        PARTITION BY doc_id ORDER BY score_micro DESC, lang ASC) = 1
    """,
)
def text_nb_lang_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-BASED routing/quality classifier (the fastText-shaped slot
    in an LLM data pipeline, complementing heuristic ``text_langid`` and
    DSIR importance weighting): a multinomial Naive Bayes language
    classifier TRAINED on the even-doc_id half of the corpus and scored
    on the odd half — vocabulary by document frequency (two-phase global
    rank, no single-partition window), per-(token, class) integer
    counts, Laplace-smoothed log-likelihoods quantized to micro-nat
    BIGINTs (the DSIR determinism pattern — sums stay order-independent
    integer arithmetic across engines), argmax with a total-order
    tiebreak. The oracle recomputes the entire train+score pipeline in
    SQL: it matches only if tokenization, vocabulary ranking, smoothing,
    quantization, and the argmax agree term for term."""
    docs = load_table(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % 2 == 0)
    test = docs.filter(F.col("doc_id") % 2 == 1)
    return T.nb_classify(train, test, label_col="lang")
