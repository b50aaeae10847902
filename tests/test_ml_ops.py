"""Unit tests for the training-data operators that aren't fully covered by
the oracle gate: multimodal plumbing, LSH ANN, simhash pairs."""

import pytest
from pyspark.sql import functions as F

from pos_dlt_spark.operators import dedup as D
from pos_dlt_spark.operators import multimodal as M
from pos_dlt_spark.operators import similarity as S


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy cat"),  # near-dup of 0
        (2, "completely different text about spark engines and shuffles"),
        (3, "the quick brown fox jumps over the lazy dog"),  # exact dup of 0
        (4, "short doc"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dedup_groups(spark, docs):
    out = {r.content_hash: (r.canonical_id, r.n_copies) for r in D.exact_dedup_groups(docs).collect()}
    assert sum(n for _, n in out.values()) == 5
    assert (0, 2) in out.values()  # docs 0 and 3 collapse, min id kept


def test_minhash_lsh_finds_near_dup(spark, docs):
    pairs = {(r.id_a, r.id_b) for r in D.minhash_lsh_dedup_pairs(docs, threshold=0.3).collect()}
    assert (0, 3) in pairs  # exact dup always collides
    # near-dup (0,1) shares 7 of 9 shingles (jaccard ~0.56) — should be found
    assert (0, 1) in pairs or (1, 3) in pairs


def test_lsh_hot_bucket_cap_skips_pathological_bucket(spark):
    """1k identical docs share every band bucket — uncapped that is ~500k
    candidate pairs (quadratic). With max_bucket_size the hot buckets are
    anti-joined away, pair generation stays tiny, and lsh_hot_buckets
    reports exactly what was skipped."""
    boiler = "lorem ipsum dolor sit amet " * 4
    rows = [(i, boiler) for i in range(1000)]
    rows += [
        (2000, "the quick brown fox jumps over the lazy dog"),
        (2001, "the quick brown fox jumps over the lazy cat"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    sig = D.minhash_signatures(df)

    capped = D.lsh_candidate_pairs(sig, max_bucket_size=100).collect()
    pair_ids = {(r.id_a, r.id_b) for r in capped}
    assert all(i >= 2000 for p in pair_ids for i in p)  # hot bucket skipped
    assert len(capped) <= 10  # nowhere near the ~500k uncapped pairs

    hot = D.lsh_hot_buckets(sig, max_bucket_size=100).collect()
    assert len(hot) == 4  # the boilerplate signature is hot in all 4 bands
    assert all(r.n_docs == 1000 for r in hot)


def test_simhash_identical_docs_equal(spark, docs):
    sh = {r.doc_id: r.simhash for r in D.simhash_table(docs).collect()}
    assert sh[0] == sh[3]
    assert 0 <= sh[0] < (1 << 16)


def test_simhash_pairs_blocked(spark, docs):
    pairs = {(r.id_a, r.id_b) for r in D.simhash_pairs(docs, max_hamming=3).collect()}
    assert (0, 3) in pairs


def test_simhash_pairs_recall_complete_vs_brute_force(spark):
    """Pigeonhole blocking must find EVERY pair within max_hamming — in
    particular pairs whose differing bits straddle chunks (the case a
    2-chunk split at d=2 silently missed). Compare against an all-pairs
    hamming scan computed driver-side."""
    import itertools
    import random

    rng = random.Random(3)
    words = ["alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf", "hotel"]
    rows = [
        (i, " ".join(rng.choice(words) for _ in range(12))) for i in range(60)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    for d in (1, 2):
        sh = {r.doc_id: r.sh for r in D.simhash_table(df, out_col="sh").collect()}
        expect = {
            (a, b)
            for a, b in itertools.combinations(sorted(sh), 2)
            if bin(sh[a] ^ sh[b]).count("1") <= d
        }
        got = {(r.id_a, r.id_b) for r in D.simhash_pairs(df, max_hamming=d).collect()}
        assert got == expect, f"max_hamming={d}"


def test_simhash_pairs_plan_is_equi_join(spark, docs):
    """The chunk blocking must plan as a hash/merge equi-join, never a
    nested-loop all-pairs product — that is the whole point of blocking."""
    plan = D.simhash_pairs(docs)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_kmeans_fit_improves_objective_and_holds_recall(spark):
    """The fitted centroids must (a) be deterministic across runs, (b)
    improve the spherical k-means objective — mean cosine of every vector
    to its assigned centroid — over the first-N stand-in, and (c) keep
    IVF recall@5 above a floor. Recall@5 itself moves by single neighbors
    (1/50) on this near-uniform synthetic corpus, so the objective is the
    gate that shows the fit is real; recall is a floor, not a comparison."""
    import os

    sf_dir = os.environ.get("SPARK_GRAFT_SF_SMALL", "/root/testdata/sf0.001")
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet")).cache()
    probes = emb.filter(F.col("vec_id") < 10)

    fitted = S.kmeans_fit(emb, n_centroids=8, iters=4)
    assert fitted == S.kmeans_fit(emb, n_centroids=8, iters=4)  # deterministic

    first_n = sorted(
        (int(r[0]), list(r[1]))
        for r in emb.filter(F.col("vec_id") < 8)
        .select("vec_id", S.quantized(F.col("embedding")).alias("cq"))
        .collect()
    )

    def objective(cents):
        qc = emb.select(S.quantized(F.col("embedding")).alias("qc"))
        qc = qc.select("qc", S.norm(F.col("qc")).alias("nc"))
        best = qc.select(
            (F.array_min(S._centroid_sims("qc", "nc", cents))["negsim"] * -1).alias("s")
        )
        return best.agg(F.avg("s")).collect()[0][0]

    assert objective(fitted) > objective(first_n)

    bf = {(r.probe_id, r.neighbor_id) for r in S.brute_force_topk(emb, probes, k=5).collect()}
    ivf = S.ivf_topk(emb, probes, k=5, nprobe=2, n_centroids=8, centroids=fitted)
    hits = {(r.probe_id, r.neighbor_id) for r in ivf.collect()}
    assert len(bf & hits) / len(bf) >= 0.75


def test_brute_force_topk_matches_python(spark):
    import math
    import random

    rng = random.Random(7)
    vecs = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(30)]
    df = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    probes = df.filter(F.col("vec_id") < 2)
    got = {
        (r.probe_id, r.rank): r.neighbor_id
        for r in S.brute_force_topk(df, probes, k=3).collect()
    }

    def cos(a, b):
        qa = [math.floor(x * 1000) for x in a]
        qb = [math.floor(x * 1000) for x in b]
        dot = sum(x * y for x, y in zip(qa, qb))
        return dot / math.sqrt(sum(x * x for x in qa)) / math.sqrt(sum(x * x for x in qb))

    for p in range(2):
        sims = sorted(
            ((cos(vecs[p][1], v), -i) for i, v in vecs if i != p), reverse=True
        )
        expect = [-s[1] for s in sims[:3]]
        assert [got[(p, r + 1)] for r in range(3)] == expect


def test_lsh_ann_pairs_subset_of_brute_force(spark):
    import random

    rng = random.Random(11)
    base = [rng.uniform(-1, 1) for _ in range(16)]
    vecs = []
    for i in range(40):
        if i % 4 == 0:  # clusters of near-dups
            vecs.append((i, [x + rng.uniform(-0.01, 0.01) for x in base]))
        else:
            vecs.append((i, [rng.uniform(-1, 1) for _ in range(16)]))
    df = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    lsh = {(r.id_a, r.id_b) for r in S.lsh_ann_pairs(df, dim=16, threshold=0.99).collect()}
    brute = {
        (r.id_a, r.id_b)
        for r in S.cosine_near_dup_pairs(df, threshold=0.99, block_col=None).collect()
    }
    assert lsh <= brute
    assert len(lsh) > 0  # the planted cluster must be found
    # recall on the planted cluster should be high (same bucket w.h.p.)
    assert len(lsh) >= len(brute) // 2


def test_vectorized_topk_bit_identical_to_expression(spark):
    """The numpy-matmul path must reproduce the expression path exactly —
    same neighbors, same ranks, same floating-point sims."""
    import random

    rng = random.Random(3)
    vecs = [(i, [rng.uniform(-1, 1) for _ in range(12)]) for i in range(60)]
    df = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    probes = df.filter(F.col("vec_id") < 4)
    expr_out = {
        (r.probe_id, r.rank): (r.neighbor_id, r.sim)
        for r in S.brute_force_topk(df, probes, k=4).collect()
    }
    vec_out = {
        (r.probe_id, r.rank): (r.neighbor_id, r.sim)
        for r in S.brute_force_topk_vectorized(df, probes, k=4).collect()
    }
    assert expr_out == vec_out  # includes exact float equality


def test_simhash_table_matches_duckdb_oracle(spark, docs):
    """The staged SimHash equals the registry's DuckDB twin (tokens,
    shingles and majority bits in SQL) over the same documents."""
    import duckdb

    from pos_dlt_spark.queries_ml import _simhash_oracle

    con = duckdb.connect()
    con.register("documents", docs.toPandas())
    want = {int(k): int(v) for k, v in con.execute(_simhash_oracle(16)).fetchall()}
    got = {r.doc_id: r.simhash for r in D.simhash_table(docs, bits=16).collect()}
    assert got == want


def test_ivf_topk_sane(spark):
    import random

    rng = random.Random(5)
    vecs = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(50)]
    df = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    probes = df.filter(F.col("vec_id") < 3)
    out = S.ivf_topk(df, probes, k=3, nprobe=2, n_centroids=4).collect()
    by_probe = {}
    for r in out:
        by_probe.setdefault(r.probe_id, []).append((r.rank, r.neighbor_id, r.sim))
    for p, rows in by_probe.items():
        rows.sort()
        assert [r[0] for r in rows] == list(range(1, len(rows) + 1))
        sims = [r[2] for r in rows]
        assert sims == sorted(sims, reverse=True)
        assert all(r[1] != p for r in rows)


def test_multimodal_fake_decode_plumbing(spark):
    rows = [
        (1, "image", b"\x00\x10\x20\xff" * 100, "image/fake", (4, 4, None, None)),
        (2, "audio", b"\x80\x81" * 50, "audio/fake", (None, None, 2000, 16000)),
        (3, "image", None, "image/fake", (0, 0, None, None)),
    ]
    from pos_dlt_spark.schemas import MEDIA_SCHEMA

    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    out = {r.media_id: r for r in M.extract_media_features(df, fake=True).collect()}
    assert out[1].n_bytes == 400
    assert len(out[1].feature) == 8
    assert abs(sum(out[1].feature) - 1.0) < 1e-9
    assert out[3].n_bytes == 0 and out[3].feature == [0.0] * 8


def test_multimodal_real_decode_raises(spark):
    with pytest.raises(NotImplementedError):
        M.decode_media(b"abc", "image", fake=False)


def test_bmp_roundtrip_with_padding():
    """Widths whose 3w is not a multiple of 4 force row padding; the
    decode must strip it and undo the bottom-up row order exactly."""
    import numpy as np

    for w, h in [(4, 3), (5, 2), (6, 4), (7, 1), (1, 1)]:
        rng = np.random.default_rng(w * 10 + h)
        img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        payload = M.encode_bmp24(img)
        got = M.decode_bmp24(payload)
        assert got.shape == (h, w, 3)
        assert (got == img).all(), (w, h)


def test_bmp_top_down_negative_height():
    """Negative biHeight means rows are already top-down — no flip."""
    import struct

    import numpy as np

    img = np.arange(2 * 5 * 3, dtype=np.uint8).reshape(2, 5, 3)
    payload = bytearray(M.encode_bmp24(img))
    # rewrite height to -2 and re-order rows top-down in place
    struct.pack_into("<i", payload, 22, -2)
    stride = (3 * 5 + 3) // 4 * 4
    off = struct.unpack_from("<I", payload, 10)[0]
    rows = bytes(payload[off:])
    payload[off:] = rows[stride:] + rows[:stride]  # swap the two rows
    got = M.decode_bmp24(bytes(payload))
    assert (got == img).all()


def test_bmp_rejects_non_bmp_and_unsupported():
    import pytest as _pytest

    with _pytest.raises(ValueError, match="not a BMP"):
        M.decode_bmp24(b"PNG....")
    import numpy as np
    import struct

    payload = bytearray(M.encode_bmp24(np.zeros((1, 1, 3), dtype=np.uint8)))
    struct.pack_into("<H", payload, 28, 8)  # bpp=8
    with _pytest.raises(ValueError, match="unsupported"):
        M.decode_bmp24(bytes(payload))


def test_bmp_checksum_catches_missing_flip():
    """The position-weighted checksum differs between correct decode and
    a decoder that forgot the bottom-up flip (what the oracle pins)."""
    import numpy as np

    img = np.zeros((3, 4, 3), dtype=np.uint8)
    img[0, :, 2] = 200  # red mass on the TOP row
    payload = M.encode_bmp24(img)
    good = M.decode_bmp24(payload)
    pos = np.arange(12, dtype=np.int64).reshape(3, 4)
    ck_good = int((good[:, :, 2].astype(np.int64) * pos).sum())
    ck_flipped = int((good[::-1, :, 2].astype(np.int64) * pos).sum())
    assert ck_good != ck_flipped


def test_frame_sample_stub(spark):
    from pos_dlt_spark.schemas import MEDIA_SCHEMA

    df = spark.createDataFrame(
        [(1, "video", b"x", "video/fake", (None, None, 3500, None))], MEDIA_SCHEMA
    )
    frames = [r.frame_ts_ms for r in M.frame_sample_stub(df, every_ms=1000).collect()]
    assert frames == [0, 1000, 2000, 3000]


def test_semantic_dedup_marks_known_duplicates(spark):
    # cluster A around (1,0,...), cluster B around (0,1,...): ids 0/1 seed
    # the centroids; 10/11 are near-copies of 0; 20 is the B loner.
    rows = [
        (0, [1.0, 0.05, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.05, 0.0]),
        (10, [0.99, 0.06, 0.0, 0.0]),
        (11, [0.98, 0.04, 0.01, 0.0]),
        (20, [0.05, 0.9, -0.4, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = S.seed_centroids(df, k=2)
    assert [cid for cid, _ in cents] == [0, 1]
    out = S.semantic_dedup(df, cents, threshold=0.9)
    got = {r.vec_id: (r.cluster, r.dup_of) for r in out.collect()}
    assert set(got) == {0, 1, 10, 11, 20}
    assert got[0] == (0, None)  # earliest id in its cluster keeps
    assert got[10] == (0, 0) and got[11] == (0, 0)  # duplicates of 0
    assert got[1][1] is None and got[20][1] is None  # B pair below 0.9
    # keep set = dup_of IS NULL
    keep = {r.vec_id for r in out.filter(F.col("dup_of").isNull()).collect()}
    assert keep == {0, 1, 20}


def test_semantic_dedup_pair_stage_is_equi_join(spark):
    df = spark.createDataFrame(
        [(i, [float(i % 3), 1.0, 0.5]) for i in range(12)],
        "vec_id long, embedding array<float>",
    )
    out = S.semantic_dedup(df, S.seed_centroids(df, k=3), threshold=0.5)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_dsir_logratio_ranks_target_like_docs_higher(spark):
    from pos_dlt_spark.operators.text import dsir_logratio

    rows = [
        (0, "alpha beta gamma alpha beta", "en"),    # target slice
        (1, "alpha gamma beta beta alpha", "en"),    # target slice
        (2, "alpha beta gamma beta alpha", "xx"),    # raw, target-like
        (3, "zork quux blarg zork quux blarg", "xx"),  # raw, off-target
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = dsir_logratio(df, target_filter=F.col("lang") == "en")
    got = {r.doc_id: r.avg_log_ratio for r in out.collect()}
    assert set(got) == {0, 1, 2, 3}
    # the target-like doc outscores the off-target doc
    assert got[2] > got[3]
    # log-ratio of target members is positive, off-target junk negative
    assert got[0] > 0 and got[3] < 0


def test_semantic_dedup_vectorized_matches_expression(spark):
    import random

    rnd = random.Random(3)
    rows = [
        (i, [rnd.uniform(-1, 1) for _ in range(16)]) for i in range(120)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = S.seed_centroids(df, k=6)
    expr_out = {
        (r.vec_id, r.cluster, r.dup_of)
        for r in S.semantic_dedup(df, cents, threshold=0.3).collect()
    }
    vec_out = {
        (r.vec_id, r.cluster, r.dup_of)
        for r in S.semantic_dedup(df, cents, threshold=0.3, vectorized=True).collect()
    }
    assert expr_out == vec_out


def test_profile_table_counts_nulls_and_distincts(spark):
    from pos_dlt_spark.operators.profile import profile_table

    df = spark.createDataFrame(
        [(1, "x"), (2, None), (2, "y"), (None, "x")], "a long, b string"
    )
    got = {r.column: r for r in profile_table(df, ["a", "b"]).collect()}
    assert got["a"].n_rows == 4 and got["a"].n_nulls == 1 and got["a"].n_distinct == 2
    assert got["a"].min_num == 1.0 and got["a"].max_num == 2.0
    assert got["b"].n_nulls == 1 and got["b"].n_distinct == 2
    assert got["b"].min_num is None and got["b"].min_str == "x"


def test_wav_roundtrip_mono_and_stereo():
    import numpy as np

    rng = np.random.default_rng(7)
    mono = rng.integers(-32768, 32767, size=101, dtype=np.int16)
    frames, rate = M.decode_wav_pcm16(M.encode_wav_pcm16(mono, 44100))
    assert rate == 44100 and frames.shape == (101, 1)
    assert (frames[:, 0] == mono).all()
    stereo = rng.integers(-32768, 32767, size=(50, 2), dtype=np.int16)
    frames, rate = M.decode_wav_pcm16(M.encode_wav_pcm16(stereo, 8000))
    assert rate == 8000 and frames.shape == (50, 2)
    assert (frames == stereo).all()


def test_wav_odd_data_chunk_word_alignment():
    """A 1-sample mono clip has a 2-byte data chunk (even), but a
    3-channel 1-frame clip is 6 bytes... force oddness via a stereo
    frame count making data size % 4 != 0 is still even — PCM16 data is
    always even, so the alignment path is exercised through the JUNK
    chunk walk instead; assert the decoder skips JUNK correctly."""
    import numpy as np

    s = np.array([5, -5, 7], dtype=np.int16)
    payload = M.encode_wav_pcm16(s, 8000)
    assert b"JUNK" in payload  # decoder must walk past it
    frames, _ = M.decode_wav_pcm16(payload)
    assert list(frames[:, 0]) == [5, -5, 7]


def test_wav_rejects_non_wav_and_compressed():
    import struct

    import numpy as np
    import pytest as _pytest

    with _pytest.raises(ValueError, match="not a RIFF"):
        M.decode_wav_pcm16(b"OggS....")
    payload = bytearray(M.encode_wav_pcm16(np.zeros(4, dtype=np.int16)))
    off = payload.index(b"fmt ") + 8
    struct.pack_into("<H", payload, off, 85)  # MP3 format tag
    with _pytest.raises(ValueError, match="unsupported WAV"):
        M.decode_wav_pcm16(bytes(payload))
    with _pytest.raises(ValueError, match="missing fmt/data"):
        M.decode_wav_pcm16(b"RIFF" + struct.pack("<I", 4) + b"WAVE")


def test_wav_checksum_catches_byte_order():
    """The position-weighted checksum differs if samples are decoded
    big-endian (what the oracle pins)."""
    import numpy as np

    s = np.array([1000, -2000, 3000, 17], dtype=np.int16)
    payload = M.encode_wav_pcm16(s, 8000)
    frames, _ = M.decode_wav_pcm16(payload)
    good = int(
        (frames[:, 0].astype(np.int64) * (np.arange(4) % 97 + 1)).sum()
    )
    swapped = frames[:, 0].byteswap().astype(np.int64)
    bad = int((swapped * (np.arange(4) % 97 + 1)).sum())
    assert good != bad


def test_png_roundtrip_all_filters_and_channels():
    """Every image taller than 4 rows exercises all five scanline
    filters (encode uses y % 5); RGB and RGBA, widths down to 1 px
    (where left/upper-left predictors are all zero)."""
    import numpy as np

    rng = np.random.default_rng(11)
    for h, w, ch in [(5, 1, 3), (6, 4, 4), (8, 8, 3), (9, 7, 4), (40, 33, 3)]:
        img = rng.integers(0, 256, size=(h, w, ch), dtype=np.uint8)
        got = M.decode_png(M.encode_png(img))
        assert got.shape == (h, w, ch)
        assert (got == img).all()


def test_png_chunk_walk_and_crc():
    """IDAT concatenation across chunks is exercised by the encoder's
    two-IDAT split; a flipped payload byte must fail the CRC check and
    a truncated/foreign payload must be rejected loudly."""
    import struct
    import numpy as np
    import zlib

    img = np.arange(5 * 4 * 3, dtype=np.uint8).reshape(5, 4, 3)
    payload = M.encode_png(img)
    assert payload.count(b"IDAT") == 2 and b"tEXt" in payload
    corrupted = bytearray(payload)
    idat_at = payload.index(b"IDAT")
    corrupted[idat_at + 5] ^= 0xFF
    with pytest.raises(ValueError, match="CRC"):
        M.decode_png(bytes(corrupted))
    with pytest.raises(ValueError, match="not a PNG"):
        M.decode_png(b"BMnope")
    # unsupported shapes refuse with the documented boundary message
    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0)  # palette
    pal = (
        b"\x89PNG\r\n\x1a\n"
        + struct.pack(">I", len(ihdr)) + b"IHDR" + ihdr
        + struct.pack(">I", zlib.crc32(b"IHDR" + ihdr) & 0xFFFFFFFF)
        + struct.pack(">I", 0) + b"IDAT"
        + struct.pack(">I", zlib.crc32(b"IDAT") & 0xFFFFFFFF)
    )
    with pytest.raises(ValueError, match="unsupported PNG"):
        M.decode_png(pal)


def test_png_features_distributed(spark):
    """synth -> decode -> exact integer aggregates over mapInPandas;
    spot-check one id against a numpy re-derivation."""
    import numpy as np

    ids = spark.range(0, 12).selectExpr("id AS media_id")
    out = {
        r.media_id: r
        for r in M.png_features(M.synth_png_media(ids)).collect()
    }
    assert len(out) == 12
    for mid in (3, 8):
        w, h, ch = 4 + mid % 5, 5 + mid % 4, 3 + mid % 2
        y, x, c = np.ogrid[0:h, 0:w, 0:ch]
        img = ((mid * 41 + y * 9 + x * 5 + c * 17) % 256).astype(np.int64)
        r = out[mid]
        assert (r.width, r.height, r.channels, r.n_px) == (w, h, ch, h * w)
        assert r.sum_g == int(img[:, :, 1].sum())
        assert r.sum_a == (int(img[:, :, 3].sum()) if ch == 4 else 0)
        pos = np.arange(h * w, dtype=np.int64).reshape(h, w)
        assert r.checksum_g == int((img[:, :, 1] * pos).sum())


# --- JPEG baseline codec (fourth dependency-free decoder) -------------------


def test_jpeg_grayscale_blockconstant_bitexact():
    """Per-8x8-block-constant images with an all-8 quant table round-trip
    BIT-exactly: a constant block is DC-only, DC = 8*(v-128) is divisible
    by the quant step, and the IDCT of a DC-only block is exactly
    constant — the closed form the oracle gate relies on."""
    import numpy as np

    from pos_dlt_spark.operators import multimodal as M

    rng = np.random.default_rng(11)
    for trial in range(5):
        blocks = rng.integers(0, 256, (int(rng.integers(2, 5)), int(rng.integers(2, 5))))
        px = np.repeat(np.repeat(blocks, 8, 0), 8, 1).astype(np.uint8)
        h = px.shape[0] - int(rng.integers(0, 7))
        w = px.shape[1] - int(rng.integers(0, 7))
        px = px[:h, :w]
        for ri in (0, 3):
            got = M.decode_jpeg(M.encode_jpeg(px, quant=[8] * 64, restart_interval=ri))
            assert got.shape == px.shape
            assert (got == px).all()


def test_jpeg_rgb_444_and_420_tolerance():
    """Smooth RGB images survive q95 encode/decode within a small bound.

    Why a tolerance, not bit-exactness: the forward DCT/quantization
    rounds real coefficients to integers and the YCbCr conversion rounds
    twice more, so even a perfect pair of codecs disagrees with the
    source by +-1-2 LSB at high quality (the same bound libjpeg
    documents for itself). The bit-exact contract lives in the
    grayscale block-constant test above, where rounding provably
    vanishes."""
    import numpy as np

    from pos_dlt_spark.operators import multimodal as M

    yy, xx = np.mgrid[0:40, 0:52]
    img = (
        np.stack([(yy * 3 + xx) % 256, (yy + 2 * xx) % 256, (255 - 2 * xx) % 256], -1)
        // 4
        + 60
    ).astype(np.uint8)
    for ss in ("444", "420"):
        got = M.decode_jpeg(M.encode_jpeg(img, quality=95, subsample=ss))
        assert got.shape == img.shape
        err = int(np.abs(got.astype(int) - img.astype(int)).max())
        assert err <= 3, (ss, err)


def test_jpeg_standard_tables_and_quality_sweep():
    import numpy as np

    from pos_dlt_spark.operators import multimodal as M

    yy, xx = np.mgrid[0:24, 0:24]
    img = ((yy * 5 + xx * 3) // 3 % 200 + 20).astype(np.uint8)
    prev_err = None
    for q in (95, 75, 50):
        got = M.decode_jpeg(M.encode_jpeg(img, quality=q))
        err = float(np.abs(got.astype(int) - img.astype(int)).mean())
        if prev_err is not None:
            assert err >= prev_err - 0.05  # lower quality, no better fidelity
        prev_err = err
    # q95 of a smooth-ish gradient stays close
    got95 = M.decode_jpeg(M.encode_jpeg(img, quality=95))
    assert np.abs(got95.astype(int) - img.astype(int)).max() <= 4


def test_jpeg_rejects_progressive_and_garbage():
    import struct

    import numpy as np
    import pytest as _pytest

    from pos_dlt_spark.operators import multimodal as M

    with _pytest.raises(ValueError, match="SOI"):
        M.decode_jpeg(b"\x89PNG")
    payload = bytearray(M.encode_jpeg(np.zeros((8, 8), np.uint8)))
    # flip SOF0 -> SOF2 (progressive): loud refusal, not garbage output
    i = payload.find(b"\xff\xc0")
    payload[i + 1] = 0xC2
    with _pytest.raises(ValueError, match="progressive"):
        M.decode_jpeg(bytes(payload))


def test_jpeg_features_gate_formula(spark):
    """The synth->decode mapInPandas path reproduces the closed-form
    pixels the SQL oracle derives (dims, mean, position-weighted
    checksum) for a handful of ids."""
    import numpy as np

    from pos_dlt_spark.operators import multimodal as M

    ids = spark.createDataFrame([(i,) for i in range(12)], "media_id long")
    got = {
        r.media_id: r
        for r in M.jpeg_features(M.synth_jpeg_media(ids)).collect()
    }
    for mid in range(12):
        w = 16 + (mid % 3) * 8 + mid % 5
        h = 16 + (mid % 2) * 8 + mid % 7
        by, bx = np.meshgrid(np.arange(-(-h // 8)), np.arange(-(-w // 8)), indexing="ij")
        px = np.repeat(np.repeat((mid * 37 + by * 11 + bx * 7) % 256, 8, 0), 8, 1)[:h, :w]
        idx = np.arange(h * w).reshape(h, w)
        r = got[mid]
        assert (r.width, r.height, r.n_px) == (w, h, h * w)
        assert abs(r.mean_px - px.mean()) < 1e-9
        assert r.checksum == int((px.astype(np.int64) * idx).sum())


def test_nb_classify_semantics(spark):
    """Naive Bayes classifier: separable classes predict correctly on
    held-out docs, scores are exact micro-nat BIGINTs (rerun-identical),
    prediction ties break by label ascending, and test docs with zero
    vocabulary tokens are omitted (heuristic-fallback contract)."""
    from pos_dlt_spark.operators.text import nb_classify

    train_rows = []
    for i in range(30):
        train_rows.append((i * 2, "cats", "meow purr whiskers feline meow"))
        train_rows.append((i * 2 + 100, "dogs", "woof bark fetch canine woof"))
    train = spark.createDataFrame(train_rows, "doc_id long, lang string, text string")
    test = spark.createDataFrame(
        [
            (1, "?", "meow meow purr"),
            (3, "?", "bark fetch woof woof"),
            (5, "?", "zzz qqq www"),  # zero vocab tokens -> omitted
            (7, "?", "meow bark"),  # balanced evidence -> prior/tie rules
        ],
        "doc_id long, lang string, text string",
    )
    out = nb_classify(train, test, label_col="lang").orderBy("doc_id")
    rows = out.collect()
    by_id = {r["doc_id"]: r for r in rows}
    assert set(by_id) == {1, 3, 7}, "zero-vocab doc must be omitted"
    assert by_id[1]["pred_lang"] == "cats"
    assert by_id[3]["pred_lang"] == "dogs"
    # doc 7: symmetric evidence and equal priors -> identical scores,
    # label-asc tiebreak picks 'cats'
    assert by_id[7]["pred_lang"] == "cats"
    assert by_id[1]["n_vocab_tok"] == 3 and by_id[3]["n_vocab_tok"] == 4
    # exact integer scores: a second run is bit-identical
    again = {
        r["doc_id"]: r["score_micro"]
        for r in nb_classify(train, test, label_col="lang").collect()
    }
    assert again == {r["doc_id"]: r["score_micro"] for r in rows}
    # vocab_size cap: every token has df=30, so the tok-asc tiebreak
    # picks 'bark' as the 1-token vocabulary — only docs containing
    # 'bark' score, each with one occurrence
    capped = nb_classify(train, test, label_col="lang", vocab_size=1)
    got = {r["doc_id"]: r["n_vocab_tok"] for r in capped.collect()}
    assert got == {3: 1, 7: 1}


def test_bigram_logprob_edge_docs_match_reference(spark):
    """The r12 single-pass rewrite (position-0-NULL-prev explode feeding
    unigram AND transition counts) must keep bit-identical semantics on
    the edge shapes the gate corpus may not exercise: 1-token docs
    (contribute to the unigram LM but have no transitions), repeated
    tokens, and repeated transitions within one doc."""
    import math

    from pos_dlt_spark.operators.text import bigram_logprob

    rows = [
        (0, "a b a b"),       # repeated transitions a->b (x2), b->a
        (1, "solo"),          # 1 token: no transitions, counts toward uni
        (2, "a a a"),         # self-transitions
        (3, "b"),             # another 1-token doc
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in bigram_logprob(df).collect()}

    # reference: literal per-doc computation in python
    toks = {0: ["a", "b", "a", "b"], 1: ["solo"], 2: ["a", "a", "a"], 3: ["b"]}
    uni: dict = {}
    for ts in toks.values():
        for t in ts:
            uni[t] = uni.get(t, 0) + 1
    N, V = sum(uni.values()), len(uni)
    pairs: dict = {}
    ctx: dict = {}
    for ts in toks.values():
        for p, t in zip(ts, ts[1:]):
            pairs[(p, t)] = pairs.get((p, t), 0) + 1
            ctx[p] = ctx.get(p, 0) + 1
    expect = {}
    for d, ts in toks.items():
        if len(ts) < 2:
            continue
        n_tr, s = 0, 0
        seen: dict = {}
        for p, t in zip(ts, ts[1:]):
            seen[(p, t)] = seen.get((p, t), 0) + 1
        for (p, t), tf in seen.items():
            lam = 7.0 / 10.0
            pb = (pairs[(p, t)] + 1.0) / (ctx[p] + V)
            pu = (uni[t] + 1.0) / (N + V)
            lp = math.floor(math.log(lam * pb + (1.0 - lam) * pu) * 1_000_000)
            n_tr += tf
            s += tf * int(lp)
        expect[d] = (n_tr, s)
    assert set(got) == set(expect), "1-token docs must drop out"
    for d, (n_tr, s) in expect.items():
        assert got[d]["n_transitions"] == n_tr
        assert got[d]["sum_lp_micro"] == s


def test_jpeg_entropy_segments_and_truncation():
    """Pin the r12 fast-decode machinery: _entropy_segments unstuffs FF00,
    splits at RSTn with end positions AT the terminating marker (the
    bit-reader contract), and a truncated scan still decodes (past-the-end
    bits read as 0) instead of raising."""
    import numpy as np

    from pos_dlt_spark.operators.multimodal import (
        _entropy_segments,
        decode_jpeg,
        encode_jpeg,
    )

    data = bytes(
        [0xAA, 0xFF, 0x00, 0xBB]          # stuffed FF
        + [0xFF, 0xD0]                     # RST0
        + [0xCC]
        + [0xFF, 0xD9]                     # EOI terminates
    )
    segs = _entropy_segments(data, 0)
    assert segs[0][0] == bytes([0xAA, 0xFF, 0xBB])
    assert data[segs[0][1]] == 0xFF and data[segs[0][1] + 1] == 0xD0
    assert segs[1][0] == bytes([0xCC])
    assert data[segs[1][1]] == 0xFF and data[segs[1][1] + 1] == 0xD9

    # truncated stream: drop the last 6 bytes of a real scan (EOI and some
    # entropy data) — decode must not raise, and the dims must hold
    px = (np.arange(24 * 17, dtype=np.uint8) % 251).reshape(24, 17)
    payload = encode_jpeg(px, quality=90)
    out = decode_jpeg(payload[:-6])
    assert out.shape == px.shape
