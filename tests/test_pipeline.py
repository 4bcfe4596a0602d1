"""LLM-pipeline operator tests: dedup recall/precision on planted
duplicates, similarity search correctness, text metrics, multimodal
plumbing."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from beacon_spark.pipeline.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from beacon_spark.pipeline.similarity import brute_force_topk, lsh_ann_topk
from beacon_spark.pipeline.multimodal import extract_metadata, featurize, sniff_meta


@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = "the quick brown fox jumps over the lazy dog again and again tomorrow"
    other = "completely different words about spark catalyst optimizer physical plans"
    return spark.createDataFrame(
        [(0, base), (1, base), (2, near), (3, other)], "doc_id long, text string"
    )


def test_exact_dedup_groups(docs):
    got = {r.keep_id: r.dup_count for r in exact_dedup(docs).collect()}
    assert got[0] == 2  # doc 0 and 1 identical
    assert got[2] == 1 and got[3] == 1


def test_ngram_jaccard_finds_planted_pair(docs):
    pairs = {(r.id_a, r.id_b): r.jaccard for r in
             ngram_jaccard_pairs(docs, threshold=0.5).collect()}
    assert pairs[(0, 1)] == 1.0
    assert (0, 2) in pairs and pairs[(0, 2)] >= 0.5
    assert not any(3 in p for p in pairs)


def test_ngram_shingle_df_cap(spark):
    """Hot-shingle df cap: a boilerplate shingle shared by EVERY doc is
    dropped before the self-join, so otherwise-unrelated docs stop
    pairing on it; genuinely duplicated docs still pair (jaccard over
    the filtered shingle universe)."""
    boiler = "terms of service apply here"
    rows = [
        (0, f"{boiler} alpha beta gamma delta"),
        (1, f"{boiler} epsilon zeta eta theta"),
        (2, f"{boiler} alpha beta gamma delta"),  # true dup of 0
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    # uncapped: the shared boilerplate inflates 0-1 similarity above 0
    uncapped = {(r.id_a, r.id_b): r.jaccard
                for r in ngram_jaccard_pairs(docs, threshold=0.1).collect()}
    assert (0, 1) in uncapped
    # cap at df<=2: every-doc shingles vanish; only the true dup remains
    capped = {(r.id_a, r.id_b): r.jaccard
              for r in ngram_jaccard_pairs(docs, threshold=0.1,
                                           max_shingle_df=2).collect()}
    assert (0, 2) in capped and capped[(0, 2)] == 1.0
    assert (0, 1) not in capped
    # cap above the corpus max df == exact semantics
    loose = {(r.id_a, r.id_b): r.jaccard
             for r in ngram_jaccard_pairs(docs, threshold=0.1,
                                          max_shingle_df=100).collect()}
    assert loose == uncapped


def test_minhash_matches_exact_on_planted(docs):
    exact = {(r.id_a, r.id_b) for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()}
    lsh = {(r.id_a, r.id_b) for r in
           minhash_lsh_pairs(docs, threshold=0.5, num_perm=128, bands=64).collect()}
    assert lsh == exact


def test_simhash_planted_pair(docs):
    # bands must exceed max_hamming for the pigeonhole guarantee —
    # the old call (max_hamming=10, bands=4) was exactly the silent
    # recall-loss shape simhash_pairs now refuses
    pairs = {(r.id_a, r.id_b): r.hamming for r in
             simhash_pairs(docs, max_hamming=10, bands=16).collect()}
    assert pairs[(0, 1)] == 0
    assert (0, 2) in pairs


def test_simhash_refuses_recall_losing_banding(docs):
    import pytest as _pytest

    with _pytest.raises(ValueError, match="must be < bands"):
        simhash_pairs(docs, max_hamming=4, bands=4)
    with _pytest.raises(ValueError, match="divide 64"):
        simhash_pairs(docs, max_hamming=2, bands=5)


@pytest.fixture(scope="module")
def vectors(spark):
    rng = np.random.RandomState(7)
    rows = []
    for i in range(50):
        v = rng.randn(8)
        rows.append((i, [float(x) for x in v]))
    # vec 100 = vec 0 scaled (cosine 1.0)
    rows.append((100, [2.0 * x for x in rows[0][1]]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_brute_force_topk_exact(vectors):
    q = vectors.filter(F.col("vec_id") == 0).first().embedding
    got = brute_force_topk(vectors.filter(F.col("vec_id") != 0), q, k=3)
    rows = got.collect()
    assert rows[0].vec_id == 100 and rows[0].cosine == 1.0
    # verify against numpy
    pdf = vectors.filter(F.col("vec_id") != 0).toPandas()
    qv = np.array(q)
    cos = pdf.embedding.map(
        lambda e: float(np.dot(e, qv) / (np.linalg.norm(e) * np.linalg.norm(qv))))
    best3 = set(pdf.vec_id[np.argsort(-cos)[:3]])
    assert {r.vec_id for r in rows} == best3


def test_lsh_ann_returns_bucket_topk(vectors):
    q = vectors.filter(F.col("vec_id") == 0).first().embedding
    got = lsh_ann_topk(vectors.filter(F.col("vec_id") != 0), q, k=3, n_planes=4)
    rows = got.collect()
    # the scaled copy lands in the same bucket by construction (same signs)
    assert rows and rows[0].vec_id == 100


def test_sniff_meta_png_wav():
    png = bytes.fromhex("89504e470d0a1a0a0000000d49484452000000400000003008060000000000")
    m = sniff_meta(png)
    assert (m["mime"], m["width"], m["height"]) == ("image/png", 64, 48)
    wav = b"RIFF" + b"\x00" * 4 + b"WAVE" + b"fmt " + b"\x00" * 8 + (44100).to_bytes(4, "little")
    assert sniff_meta(wav)["mime"] == "audio/wav"
    assert sniff_meta(b"\xff\xd8rest")["mime"] == "image/jpeg"
    assert sniff_meta(b"plain")["mime"] == "application/octet-stream"


def test_extract_metadata_and_featurize(spark):
    df = spark.createDataFrame(
        [(1, b"\x89PNG\r\n\x1a\n" + b"\x00" * 8 + (32).to_bytes(4, "big") + (16).to_bytes(4, "big")),
         (2, b"not an image")],
        "id long, asset binary",
    )
    meta = extract_metadata(df)
    rows = {r.id: r.asset_meta for r in meta.collect()}
    assert rows[1].mime == "image/png" and rows[1].width == 32
    assert rows[2].mime == "application/octet-stream"

    feats = featurize(df)
    assert "asset" not in feats.columns
    got = {r.id: r.features for r in feats.collect()}
    assert len(got[1]) == 8
    # deterministic across runs
    again = {r.id: r.features for r in featurize(df).collect()}
    assert got == again


def test_quality_metrics_empty_and_punct(spark):
    from beacon_spark.pipeline.text import quality_metrics

    df = spark.createDataFrame(
        [(1, "Hello, World! This is the test."), (2, "")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in quality_metrics(df).collect()}
    assert out[1].n_tokens == 6
    assert out[1].punct_ratio > 0
    assert out[2].n_tokens == 0 and out[2].mean_word_len == 0.0


def test_marker_hits_escapes_metachars_and_rejects_empty(spark):
    """ADVICE r14: a marker word carrying a regex metachar must count
    literally (not corrupt the whole language's alternation), and an
    empty marker — which would match every word boundary — is rejected
    at build time."""
    import pytest
    from pyspark.sql import functions as F

    from beacon_spark.pipeline.text import _marker_hits

    df = spark.createDataFrame(
        [(1, "a.b then axb then A.B")], "doc_id long, text string")
    n = df.select(
        _marker_hits(F.col("text"), ["a.b"]).alias("n")).first()["n"]
    # literal 'a.b' twice (case-insensitive); an unescaped '.' would
    # also swallow 'axb' and read 3
    assert n == 2
    with pytest.raises(ValueError, match="empty marker word"):
        _marker_hits(F.col("text"), ["the", ""])
    with pytest.raises(ValueError, match="empty marker word"):
        _marker_hits(F.col("text"), [])


def test_arrow_cosine_bit_identical_to_catalyst_fold(spark, sf_dir):
    """The r15 mapInArrow cosine tier must be BIT-identical (unrounded)
    to the Catalyst aggregate(zip_with(...)) fold — sequential
    accumulation, same IEEE-754 op order — on the full corpus, so the
    round(.,4) oracle hash can never diverge on a knife-edge value."""
    from pyspark.sql import functions as F

    from beacon_spark.pipeline.similarity import (
        _cosine_scores_arrow,
        cosine_expr,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    query = list(emb.filter(F.col("vec_id") == 0).first()["embedding"])
    old = {r[0]: r[1] for r in emb.select(
        "vec_id", cosine_expr("embedding", query)).collect()}
    new = {r[0]: r[1] for r in _cosine_scores_arrow(
        emb, query, "embedding", "vec_id").collect()}
    assert old == new  # exact float equality, full corpus, unrounded


def test_arrow_cosine_null_semantics_match_fold(spark):
    """Null vector / ragged length / null element all degrade to null in
    BOTH tiers; NaN data propagates as NaN in both."""
    import math

    from pyspark.sql import functions as F

    from beacon_spark.pipeline.similarity import (
        _cosine_scores_arrow,
        cosine_expr,
    )

    rows = [
        (1, [1.0, 2.0, 3.0]),
        (2, None),                 # null vector
        (3, [1.0, 2.0]),           # too short (zip_with pads -> null)
        (4, [1.0, 2.0, 3.0, 4.0]),  # too long -> null
        (5, [1.0, None, 3.0]),     # null element -> null
        (6, [float("nan"), 2.0, 3.0]),  # NaN data -> NaN
        (7, [0.5, -1.5, 2.5]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    query = [0.25, -0.5, 1.0]
    old = {r[0]: r[1] for r in df.select(
        "vec_id", cosine_expr("embedding", query)).collect()}
    new = {r[0]: r[1] for r in _cosine_scores_arrow(
        df, query, "embedding", "vec_id").collect()}
    assert set(old) == set(new)
    for k in old:
        a, b = old[k], new[k]
        if a is None or b is None:
            assert a is None and b is None, (k, a, b)
        elif math.isnan(a) or math.isnan(b):
            assert math.isnan(a) and math.isnan(b), (k, a, b)
        else:
            assert a == b, (k, a, b)


def test_arrow_cosine_zero_norm_raises_like_ansi_fold(spark):
    """Under ANSI (Spark 4 default) the Catalyst fold RAISES on a
    zero-norm vector (double division by zero); the Arrow tier must
    fail too, not silently yield NaN."""
    import pytest
    from pyspark.sql import functions as F

    from beacon_spark.pipeline.similarity import (
        _cosine_scores_arrow,
        cosine_expr,
    )

    df = spark.createDataFrame(
        [(1, [0.0, 0.0, 0.0]), (2, [1.0, 2.0, 3.0])],
        "vec_id long, embedding array<double>")
    query = [1.0, 0.0, 0.0]
    with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
        df.select(cosine_expr("embedding", query)).collect()
    with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
        _cosine_scores_arrow(df, query, "embedding", "vec_id").collect()


def test_brute_force_topk_tier_threshold_consistency(spark):
    """Below the Arrow-dim threshold the Catalyst tier runs; both tiers
    return the same top-k on the same data either way."""
    import numpy as np

    from beacon_spark.pipeline import similarity as sim

    rng = np.random.RandomState(7)
    rows = [(i, [float(x) for x in rng.randn(24)]) for i in range(200)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    query = [float(x) for x in rng.randn(24)]
    orig = sim._ARROW_COSINE_MIN_DIM
    try:
        sim._ARROW_COSINE_MIN_DIM = 1  # force the Arrow tier
        got_arrow = sim.brute_force_topk(df, query, k=5).collect()
        sim._ARROW_COSINE_MIN_DIM = 1000  # force the Catalyst tier
        got_fold = sim.brute_force_topk(df, query, k=5).collect()
    finally:
        sim._ARROW_COSINE_MIN_DIM = orig
    assert [(r[0], r[1]) for r in got_arrow] == [
        (r[0], r[1]) for r in got_fold]


# ---------------------------------------------------------------- IVF ANN


def test_ivf_full_probe_matches_brute_force(spark, sf_dir):
    from pyspark.sql import functions as F

    from beacon_spark.pipeline.similarity import brute_force_topk, ivf_ann_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    query = list(emb.filter(F.col("vec_id") == 0).first()["embedding"])
    rest = emb.filter(F.col("vec_id") != 0)
    exact = brute_force_topk(rest, query, k=10).collect()
    full = ivf_ann_topk(rest, query, k=10, n_cells=8, nprobe=8).collect()
    assert [(r["vec_id"], r["cosine"]) for r in full] == [
        (r["vec_id"], r["cosine"]) for r in exact
    ]


def test_ivf_partial_probe_recall(spark, sf_dir):
    from pyspark.sql import functions as F

    from beacon_spark.pipeline.similarity import brute_force_topk, ivf_ann_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    query = list(emb.filter(F.col("vec_id") == 0).first()["embedding"])
    rest = emb.filter(F.col("vec_id") != 0)
    exact = {r["vec_id"] for r in brute_force_topk(rest, query, k=10).collect()}
    approx = {
        r["vec_id"]
        for r in ivf_ann_topk(rest, query, k=10, n_cells=8, nprobe=3).collect()
    }
    # probing 3/8 cells must still find most true neighbors
    assert len(exact & approx) >= 6


def test_ivf_centroids_deterministic(spark, sf_dir):
    from beacon_spark.pipeline.similarity import ivf_train_centroids

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    import numpy as np

    c1 = ivf_train_centroids(emb, n_cells=4, sample_n=256)
    c2 = ivf_train_centroids(emb, n_cells=4, sample_n=256)
    assert np.allclose(c1, c2)
    assert np.allclose(np.linalg.norm(c1, axis=1), 1.0)


def test_minhash_impls_bit_identical(spark, sf_dir):
    from beacon_spark.pipeline.dedup import minhash_signatures

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(200)
    a = {
        r["__id"]: r["sig"]
        for r in minhash_signatures(docs, impl="catalyst").collect()
    }
    b = {
        r["__id"]: r["sig"]
        for r in minhash_signatures(docs, impl="numpy").collect()
    }
    assert a == b


def test_repetition_metrics(spark):
    from beacon_spark.pipeline.text import repetition_metrics

    df = spark.createDataFrame(
        [
            (1, "a b c d e f g h"),                      # no repetition
            (2, "spam spam spam spam"),                   # heavy word dup
            (3, "x\ny\nx\ny"),                            # duplicate lines
            (4, ""),                                      # empty
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in repetition_metrics(df).collect()}
    assert out[1].dup_word_ratio == 0.0
    assert out[2].dup_word_ratio == 0.75  # 3 of 4 words are repeats
    assert out[3].dup_line_ratio == 0.5
    assert out[4].dup_line_ratio == 0.0
    # "spam spam" bigram appears 3x, covers the whole string
    assert out[2].top_2gram_char_frac == 1.0
    assert out[1].top_2gram_char_frac < 0.5


def test_png_decode_real(spark):
    """PNG decode is real (pnglite): featurize returns actual pixel
    statistics, resize_images actually shrinks the payloads."""
    import numpy as np

    from beacon_spark.pipeline.multimodal import (
        extract_metadata,
        featurize,
        image_stat_features,
        resize_images,
    )
    from beacon_spark.pipeline.pnglite import decode_png, encode_png

    rng = np.random.default_rng(5)
    imgs = [rng.integers(0, 256, (16, 12, 3), dtype=np.uint8) for _ in range(3)]
    rows = [(i, encode_png(img)) for i, img in enumerate(imgs)]
    df = spark.createDataFrame(rows, "img_id long, asset binary")

    meta = {r.img_id: r.asset_meta for r in extract_metadata(df).collect()}
    assert meta[0].mime == "image/png" and meta[0].width == 12 and meta[0].height == 16

    feats = {r.img_id: r.features for r in featurize(df).collect()}
    for i, img in enumerate(imgs):
        f = feats[i]
        assert f[0] == 16.0 and f[1] == 12.0 and f[2] == 3.0
        assert f[3] == round(float(img[:, :, 0].mean()), 4)  # real channel mean

    resized = {r.img_id: bytes(r.asset) for r in resize_images(df, (8, 6)).collect()}
    out = decode_png(resized[0])
    assert out.shape == (8, 6, 3)
    # nearest-neighbor: pixel (0,0) survives
    assert np.array_equal(out[0, 0], imgs[0][0, 0])


def test_featurize_fallback_for_non_png(spark):
    from beacon_spark.pipeline.multimodal import fake_image_features, featurize

    rows = [(1, b"\xff\xd8notarealjpeg")]
    df = spark.createDataFrame(rows, "img_id long, asset binary")
    feats = featurize(df).collect()[0].features
    assert feats == fake_image_features(rows[0][1])


def test_wav_decode_real():
    import numpy as np

    from beacon_spark.pipeline.multimodal import (
        audio_stat_features,
        decode_wav,
        encode_wav,
    )

    t = np.linspace(0, 1, 16000, endpoint=False)
    sine = np.sin(2 * np.pi * 440 * t)  # 1s A440
    payload = encode_wav(sine, 16000)
    samples, rate = decode_wav(payload)
    assert rate == 16000 and samples.shape == (16000, 1)
    assert np.allclose(samples[:, 0], sine, atol=1e-3)

    f = audio_stat_features(payload)
    dur, sr, nch, rms, peak, zcr = f
    assert dur == 1.0 and sr == 16000.0 and nch == 1.0
    assert abs(rms - 1 / np.sqrt(2)) < 1e-3    # sine RMS
    assert abs(peak - 1.0) < 1e-3
    assert abs(zcr - 880 / 16000) < 1e-3       # 2 crossings per cycle

    # stereo + graceful failure
    st = encode_wav(np.stack([sine, -sine], axis=1), 8000)
    s2, r2 = decode_wav(st)
    assert s2.shape == (16000, 2) and r2 == 8000
    assert audio_stat_features(b"not audio") is None


def test_dedup_clusters_connected_components(spark):
    from beacon_spark.pipeline.dedup import dedup_clusters

    # two chains + a triangle + an isolated pair: components are
    # {1,2,3,4}, {10,11,12}, {20,21}
    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (21, 20)],
        "id_a long, id_b long",
    )
    out = {r.doc_id: r.cluster_id for r in dedup_clusters(pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_dedup_keep_canonical(spark):
    from beacon_spark.pipeline.dedup import dedup_keep_canonical

    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in range(8)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (5, 6)], "id_a long, id_b long"
    )
    kept = sorted(r.doc_id for r in dedup_keep_canonical(docs, pairs).collect())
    # clusters {0,1,2} -> keep 0; {5,6} -> keep 5; 3,4,7 unpaired
    assert kept == [0, 3, 4, 5, 7]


def test_dedup_clusters_long_chain_converges(spark):
    from beacon_spark.pipeline.dedup import dedup_clusters

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], "id_a long, id_b long"
    )
    out = dedup_clusters(chain).collect()
    assert all(r.cluster_id == 0 for r in out) and len(out) == 31


def test_near_dedup_end_to_end(spark):
    from beacon_spark.pipeline.dedup import near_dedup

    base = (
        "the quick brown fox jumps over the lazy dog again and again today "
    ) * 3
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base + "tiny trailing change"),   # near-dup of 1
            (3, "completely different content about oceanography and "
                "instrument calibration procedures for deep sea sensors"),
            (4, base),                             # exact dup of 1
        ],
        "doc_id long, text string",
    )
    kept = sorted(r.doc_id for r in near_dedup(docs, threshold=0.6).collect())
    assert kept == [1, 3]


def test_scrub_pii(spark):
    from beacon_spark.pipeline.text import scrub_pii

    df = spark.createDataFrame(
        [
            (1, "contact bob@example.com or visit https://x.io/a?b=1 now"),
            (2, "server at 192.168.1.10 and call +1 555-123-4567 ok"),
            (3, "no pii here at all"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in scrub_pii(df).collect()}
    assert "<EMAIL>" in out[1].text and "<URL>" in out[1].text
    assert out[1].n_email == 1 and out[1].n_url == 1
    assert "<IP>" in out[2].text and "<PHONE>" in out[2].text
    assert out[2].n_ip == 1 and out[2].n_phone == 1
    assert out[3].text == "no pii here at all"
    assert out[3].n_email == out[3].n_url == out[3].n_ip == out[3].n_phone == 0


def test_scrub_pii_no_python_in_plan(spark):
    from beacon_spark.pipeline.text import scrub_pii

    df = spark.createDataFrame([(1, "a@b.co")], "doc_id long, text string")
    plan = scrub_pii(df)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_quality_filter(spark):
    from beacon_spark.pipeline.text import quality_filter

    good = "This is a perfectly reasonable paragraph of text " * 3
    df = spark.createDataFrame(
        [
            (1, good),
            (2, "too short"),
            (3, "x\n" * 200),          # duplicate lines
            (4, "!?.,;:" * 50),         # punctuation soup
        ],
        "doc_id long, text string",
    )
    kept = sorted(r.doc_id for r in quality_filter(df).collect())
    assert kept == [1]


def test_dedup_clusters_string_ids(spark):
    """Non-numeric doc ids must cluster correctly (a long cast would NULL
    them out and silently drop every edge — regression guard)."""
    from beacon_spark.pipeline.dedup import dedup_clusters, dedup_keep_canonical

    pairs = spark.createDataFrame(
        [("doc-b", "doc-a"), ("doc-b", "doc-c"), ("doc-x", "doc-y")],
        "id_a string, id_b string",
    )
    out = {r.doc_id: r.cluster_id for r in dedup_clusters(pairs).collect()}
    assert out == {
        "doc-a": "doc-a", "doc-b": "doc-a", "doc-c": "doc-a",
        "doc-x": "doc-x", "doc-y": "doc-x",
    }

    docs = spark.createDataFrame(
        [(d,) for d in ["doc-a", "doc-b", "doc-c", "doc-x", "doc-y", "solo"]],
        "doc_id string",
    )
    kept = sorted(r.doc_id for r in dedup_keep_canonical(docs, pairs).collect())
    assert kept == ["doc-a", "doc-x", "solo"]


def test_png_adam7_interlace_roundtrip():
    """Adam7: 7 independently-filtered passes scattered on the pass grid;
    odd sizes exercise empty/partial passes."""
    import numpy as np

    from beacon_spark.pipeline.pnglite import decode_png, encode_png

    rng = np.random.default_rng(11)
    for shape in ((16, 16, 3), (13, 7, 1), (1, 1, 4), (2, 9, 3), (5, 3, 2)):
        img = rng.integers(0, 256, shape, dtype=np.uint8)
        payload = encode_png(img, interlace=True)
        np.testing.assert_array_equal(
            decode_png(payload).reshape(img.shape), img
        )
        # interlaced and sequential encodings decode identically
        np.testing.assert_array_equal(
            decode_png(payload), decode_png(encode_png(img))
        )


def test_dedup_clusters_mixed_id_types_raise(spark):
    from beacon_spark.pipeline.dedup import dedup_clusters

    pairs = spark.createDataFrame([(1, "a")], "id_a long, id_b string")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="share a type"):
        dedup_clusters(pairs)


def test_gif_codec_roundtrip():
    import numpy as np

    from beacon_spark.pipeline.giflite import decode_gif, encode_gif

    rng = np.random.default_rng(3)
    frames = [
        (rng.integers(0, 4, (13, 17, 1)) * 60).astype(np.uint8).repeat(3, axis=2)
        for _ in range(4)
    ]
    payload = encode_gif(frames, [40, 50, 60, 70])
    out = decode_gif(payload)
    assert [d for d, _ in out] == [40, 50, 60, 70]
    for (_, got), want in zip(out, frames):
        np.testing.assert_array_equal(got, want)
    # 256-color palette exercises LZW width growth to 9 bits
    f = np.stack([np.arange(256, dtype=np.uint8).reshape(16, 16)] * 3, axis=2)
    np.testing.assert_array_equal(decode_gif(encode_gif([f]))[0][1], f)


def test_gif_interlace_and_transparency():
    """Hand-built interlaced + transparent frames pin the spec paths the
    fixture encoder doesn't emit."""
    import struct as _struct

    import numpy as np

    from beacon_spark.pipeline.giflite import _lzw_encode, decode_gif

    # 2-color palette, 4x4 image, interlaced: pass order rows 0,2,1,3?
    # spec passes for h=4: pass1 row0, pass3 row2, pass4 rows 1,3
    img = np.array([[0, 1, 0, 1],
                    [1, 1, 1, 1],
                    [0, 0, 0, 0],
                    [1, 0, 1, 0]], dtype=np.uint8)
    pass_rows = [0, 2, 1, 3]
    seq = b"".join(img[r].tobytes() for r in pass_rows)
    out = bytearray(b"GIF89a")
    out += _struct.pack("<HHBBB", 4, 4, 0x80, 0, 0)  # gct 2 entries
    out += bytes([0, 0, 0, 255, 255, 255])
    out += _struct.pack("<BHHHHB", 0x2C, 0, 0, 4, 4, 0x40)  # interlaced
    comp = _lzw_encode(seq, 2)
    out.append(2)
    out.append(len(comp))
    out += comp
    out += bytes([0, 0x3B])
    frames = decode_gif(bytes(out))
    got = (frames[0][1][:, :, 0] > 0).astype(np.uint8)
    np.testing.assert_array_equal(got, img)


def test_sample_frames_and_gif_meta(spark):
    import numpy as np

    from beacon_spark.pipeline.giflite import encode_gif
    from beacon_spark.pipeline.multimodal import extract_metadata, sample_frames
    from beacon_spark.pipeline.pnglite import decode_png

    def mk(n, w, h, seed):
        rng = np.random.default_rng(seed)
        return encode_gif(
            [(rng.integers(0, 3, (h, w, 1)) * 80).astype(np.uint8).repeat(3, 2)
             for _ in range(n)],
            [50] * n,
        )

    rows = [(1, mk(8, 6, 4, 0)), (2, mk(2, 5, 5, 1)), (3, b"not a gif")]
    df = spark.createDataFrame(rows, "doc_id long, asset binary")

    meta = {r.doc_id: r.asset_meta for r in extract_metadata(df).collect()}
    assert meta[1].mime == "image/gif" and meta[1].n_frames == 8
    assert meta[1].width == 6 and meta[1].height == 4
    assert meta[1].duration_ms == 400
    assert meta[3].mime == "application/octet-stream"

    out = sample_frames(df, n_samples=4).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert len(by_doc[1]) == 4  # 8 frames sampled down to 4
    assert [r.frame_idx for r in sorted(by_doc[1], key=lambda r: r.frame_idx)] == [0, 2, 5, 7]
    assert by_doc[1][0].width == 6 and by_doc[1][0].height == 4
    # frame payloads are decodable PNGs of the right shape
    img = decode_png(bytes(by_doc[1][0].frame_png))
    assert img.shape == (4, 6, 3)
    assert len(by_doc[2]) == 2  # fewer frames than samples -> all frames
    assert by_doc[3][0].frame_idx is None  # undecodable -> null frame row


def test_duplicate_spans_modes_and_semantics(spark):
    """Span-level exact dedup (dedup.py:duplicate_spans, Lee et al.
    2022): hash mode (the 8-byte-key scale path) must equal text mode
    (the collision-free oracle mode), and exact-duplicate documents
    must have every span flagged."""
    from beacon_spark.pipeline.dedup import duplicate_spans

    boiler = " ".join(f"w{i}" for i in range(13))  # one shared 13-gram
    rows = [
        (1, f"{boiler} alpha beta gamma"),
        (2, f"{boiler} delta epsilon zeta"),         # shares only the boilerplate
        (3, "unique text " + " ".join(f"u{i}" for i in range(20))),
        (4, "unique text " + " ".join(f"u{i}" for i in range(20))),  # exact dup of 3
        (5, "too short to have any span"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    got_h = {r.doc_id: (r.dup_spans, r.total_spans)
             for r in duplicate_spans(df, by="hash").collect()}
    got_t = {r.doc_id: (r.dup_spans, r.total_spans)
             for r in duplicate_spans(df, by="text").collect()}
    assert got_h == got_t

    # docs 1 and 2 share exactly the boilerplate window
    assert got_h[1][0] >= 1 and got_h[2][0] >= 1
    # doc 1's non-boilerplate windows are unique
    assert got_h[1][0] < got_h[1][1]
    # exact duplicates: every span duplicated
    assert got_h[3] == got_h[4]
    assert got_h[3][0] == got_h[3][1] > 0
    # sub-n documents have no spans and no row
    assert 5 not in got_h

    # the plan stays in Catalyst: no Python evaluation nodes
    plan = duplicate_spans(df, by="hash")._jdf.queryExecution().executedPlan().toString()
    assert "PythonUDF" not in plan and "mapInPandas" not in plan


def test_incremental_dedup_against_persisted_index(spark, tmp_path):
    """The 100 TB admission workflow: fingerprint the corpus once,
    dedup each new batch against the index without re-reading corpus
    text; results match the direct pairwise operator on the union."""
    from beacon_spark.pipeline.dedup import (dedup_incremental,
                                             fingerprint_index_build,
                                             minhash_lsh_pairs,
                                             release_caches)

    base_text = ("the quick brown fox jumps over the lazy dog and then "
                 "runs far away into the deep dark forest tonight")
    corpus = spark.createDataFrame(
        [(i, base_text.replace("fox", f"fox{i}")) for i in range(10)]
        + [(50, "completely different content about spark shuffles and "
                "partition pruning at terabyte scale for the win")],
        "doc_id long, text string",
    )
    idx = str(tmp_path / "fpidx")
    fingerprint_index_build(corpus, idx, num_perm=64, bands=16)

    # batch: one near-dup of doc 3, one exact dup of doc 50, one unique
    batch = spark.createDataFrame(
        [(103, base_text.replace("fox", "fox3") + " extra token"),
         (150, "completely different content about spark shuffles and "
               "partition pruning at terabyte scale for the win"),
         (999, "nothing like anything else in this corpus at all truly "
               "unique snowflake text with many strange words")],
        "doc_id long, text string",
    )
    got = dedup_incremental(batch, idx, threshold=0.5)
    pairs = {(r.new_id, r.corpus_id) for r in got.collect()}
    assert (103, 3) in pairs
    assert (150, 50) in pairs
    assert not any(n == 999 for n, _ in pairs)

    # exactness: jaccard values equal the direct operator's on the union
    direct = minhash_lsh_pairs(
        corpus.union(batch), threshold=0.5, num_perm=64, bands=16)
    direct_j = {(r.id_a, r.id_b): r.jaccard for r in direct.collect()}
    for r in got.collect():
        key = (min(r.new_id, r.corpus_id), max(r.new_id, r.corpus_id))
        assert direct_j.get(key) == r.jaccard
    release_caches(got)
    release_caches(direct)

    # append admits survivors; the next batch now collides with them
    fingerprint_index_build(
        spark.createDataFrame([(999, "nothing like anything else in this "
                                     "corpus at all truly unique snowflake "
                                     "text with many strange words")],
                              "doc_id long, text string"),
        idx, num_perm=64, bands=16, mode="append")
    got2 = dedup_incremental(
        spark.createDataFrame(
            [(1999, "nothing like anything else in this corpus at all "
                    "truly unique snowflake text with many strange words")],
            "doc_id long, text string"),
        idx, threshold=0.5)
    assert {(r.new_id, r.corpus_id) for r in got2.collect()} == {(1999, 999)}
    release_caches(got2)


def test_semdedup_drops_planted_semantic_duplicates(spark):
    """SemDeDup (pipeline/dedup.py: semdedup, arXiv:2303.09540): planted
    near-identical embeddings collapse to the smallest id; distinct
    vectors survive; the keep set is deterministic across runs."""
    import numpy as np

    from beacon_spark.pipeline.dedup import semdedup

    rng = np.random.RandomState(7)
    base = rng.randn(40, 16).astype("float32")
    rows = []
    for i, v in enumerate(base):
        rows.append((i, (v / np.linalg.norm(v)).tolist()))
    # ids 100..104: near-copies of base[0] (tiny jitter, cos > 0.999)
    for j in range(5):
        v = base[0] + rng.randn(16).astype("float32") * 1e-3
        rows.append((100 + j, (v / np.linalg.norm(v)).tolist()))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    out = semdedup(df, n_cells=4, threshold=0.99, sample_n=64).collect()
    keep = {r.vec_id for r in out if r.keep}
    drop = {r.vec_id for r in out if not r.keep}
    assert len(out) == 45
    # the original id-0 vector survives; every planted copy is dropped
    assert 0 in keep
    assert {100, 101, 102, 103, 104} <= drop
    # the 39 other base vectors are random 16-dim — none collide
    assert {i for i in range(1, 40)} <= keep
    # deterministic
    out2 = semdedup(df, n_cells=4, threshold=0.99, sample_n=64).collect()
    assert {(r.vec_id, r.keep) for r in out2} == {
        (r.vec_id, r.keep) for r in out}


def test_semdedup_blocked_keep_matches_dense_reference():
    """VERDICT r7 item 1: the blocked within-cell walk (_semdedup_keep,
    block @ kept.T in chunks) must be BYTE-IDENTICAL to the dense
    n x n greedy it replaced — across block sizes, including block=1
    and a single all-rows block (the dense-equivalent path)."""
    import numpy as np

    from beacon_spark.pipeline.dedup import _semdedup_keep

    def dense_keep(v, thr):
        sims = v @ v.T
        keep = np.ones(len(v), dtype=bool)
        for i in range(len(v)):
            if keep[i]:
                keep[i + 1:] &= ~(sims[i, i + 1:] >= thr)
        return keep

    rng = np.random.RandomState(11)
    base = rng.randn(40, 12)
    rows = [base[rng.randint(40)] + rng.randn(12) * 1e-3
            for _ in range(300)]
    v = np.asarray(rows, dtype=np.float64)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    expect = dense_keep(v, 0.99)
    assert not expect.all()  # the fixture really has near-duplicates
    for block in (1, 7, 64, 1 << 30):
        got = _semdedup_keep(v, 0.99, block_rows=block)
        assert (got == expect).all(), f"block_rows={block} diverged"


def test_semdedup_blocked_matches_dense_on_skewed_cell(spark):
    """Skewed fixture (one cell holds ~90% of rows — k-means cells skew
    in practice): semdedup's output is identical with tiny blocks and
    with one dense-equivalent block, so the memory fix cannot have
    changed keep semantics."""
    import numpy as np

    from beacon_spark.pipeline.dedup import semdedup

    rng = np.random.RandomState(3)
    hub = rng.randn(16)
    rows = []
    for i in range(90):  # 90% clustered around one direction
        v = hub + rng.randn(16) * (1e-3 if i % 3 == 0 else 0.3)
        rows.append((i, (v / np.linalg.norm(v)).tolist()))
    for i in range(90, 100):  # 10% scattered
        v = rng.randn(16)
        rows.append((i, (v / np.linalg.norm(v)).tolist()))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    small = semdedup(df, n_cells=4, threshold=0.99, sample_n=64,
                     block_rows=8).collect()
    dense = semdedup(df, n_cells=4, threshold=0.99, sample_n=64,
                     block_rows=1 << 30).collect()
    assert {(r.vec_id, r.cell, r.keep) for r in small} == \
        {(r.vec_id, r.cell, r.keep) for r in dense}
    cells = {}
    for r in small:
        cells[r.cell] = cells.get(r.cell, 0) + 1
    assert max(cells.values()) >= 60  # the skew actually happened


def test_semdedup_keep_memory_is_blocked_not_dense():
    """Memory-shape pin: on a 3000-row cell the dense path allocates a
    3000^2 float64 matrix (72 MB); the blocked walk must peak far below
    that (O(block_rows x chunk))."""
    import tracemalloc

    import numpy as np

    from beacon_spark.pipeline.dedup import _semdedup_keep

    rng = np.random.RandomState(5)
    v = rng.randn(3000, 8)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    tracemalloc.start()
    _semdedup_keep(v, 0.99, block_rows=64)
    _, peak = tracemalloc.get_traced_memory()
    tracemalloc.stop()
    dense_bytes = 3000 * 3000 * 8
    assert peak < dense_bytes / 4, f"peak {peak} ~ dense {dense_bytes}"


def test_dedup_clusters_decimal_ids_route_hashed(spark):
    """Fractional decimal ids must NOT cast-truncate to long (two
    distinct documents would silently merge and returned ids would
    match nothing) — they take the hashed path like strings."""
    from decimal import Decimal

    from beacon_spark.pipeline.dedup import dedup_clusters

    pairs = spark.createDataFrame(
        [(Decimal("10.1"), Decimal("10.9")),
         (Decimal("20.3"), Decimal("30.5"))],
        "id_a decimal(10,1), id_b decimal(10,1)")
    out = dedup_clusters(pairs).collect()
    ids = {str(r.doc_id) for r in out}
    assert ids == {"10.1", "10.9", "20.3", "30.5"}
    clusters = {}
    for r in out:
        clusters.setdefault(str(r.cluster_id), set()).add(str(r.doc_id))
    assert {frozenset(v) for v in clusters.values()} == {
        frozenset({"10.1", "10.9"}), frozenset({"20.3", "30.5"})}


def test_minhash_bands_validated(spark):
    from beacon_spark.pipeline.dedup import minhash_lsh_pairs

    df = spark.createDataFrame([(1, "a b c d e")], "doc_id long, text string")
    import pytest as _p

    with _p.raises(ValueError, match="bands"):
        minhash_lsh_pairs(df, num_perm=64, bands=65)
    with _p.raises(ValueError, match="bands"):
        minhash_lsh_pairs(df, num_perm=64, bands=24)


def test_pack_and_semdedup_accept_string_ids(spark):
    from beacon_spark.pipeline.corpus import pack_sequences
    from beacon_spark.pipeline.dedup import semdedup

    df = spark.createDataFrame(
        [(f"doc-{i}", 10 + i) for i in range(6)],
        "doc_id string, n_tokens long")
    packed = pack_sequences(df, max_tokens=64)
    assert dict(packed.dtypes)["doc_id"] == "string"
    assert packed.count() == 6

    vecs = spark.createDataFrame(
        [(f"v-{i}", [1.0, 0.0] if i < 3 else [0.0, 1.0]) for i in range(6)],
        "doc_id string, embedding array<double>")
    out = semdedup(vecs, id_col="doc_id", n_cells=2, threshold=0.99)
    assert dict(out.dtypes)["doc_id"] == "string"
    assert out.count() == 6 and out.filter("keep").count() == 2


def test_md5_bucket_unbiased(spark):
    """8 hex chars: a 1% bucket slice gets ~1%, not the 0.92% the 4-char
    modulo bias produced."""
    from beacon_spark.pipeline.corpus import split_corpus

    df = spark.range(60_000).selectExpr("id AS doc_id")
    out = split_corpus(df, hash_fn="md5")  # 98/1/1 default
    counts = {r.split: r.n for r in out.groupBy("split").count()
              .withColumnRenamed("count", "n").collect()}
    assert abs(counts["validation"] / 60_000 - 0.01) < 0.002
    assert abs(counts["test"] / 60_000 - 0.01) < 0.002


def test_semdedup_mega_cell_auto_split(spark, caplog):
    """r9: a cell over max_cell_rows is auto-split — a sub-quantizer
    trains on the cell's own rows and the quadratic walk runs per
    (cell, sub-cell) group, bounding per-task time. Exact clones always
    co-locate (assignment is a deterministic function of the vector),
    so every planted clone army still collapses to one keeper; distinct
    vectors survive; the whole thing stays deterministic."""
    import logging

    import numpy as np

    from beacon_spark.pipeline.dedup import semdedup

    rng = np.random.RandomState(11)
    rows = []
    # 40 clone armies of 20 identical vectors (ids g*1000 + j)
    bases = rng.randn(40, 64)
    for g, b in enumerate(bases):
        u = (b / np.linalg.norm(b)).tolist()
        for j in range(20):
            rows.append((g * 1000 + j, u))
    # 200 distinct vectors (64-dim randoms: pairwise cos << 0.99)
    for i, b in enumerate(rng.randn(200, 64)):
        rows.append((90_000 + i, (b / np.linalg.norm(b)).tolist()))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    with caplog.at_level(logging.WARNING, logger="beacon_spark.semdedup"):
        out = semdedup(
            df, n_cells=1, threshold=0.99, sample_n=256,
            max_cell_rows=200,
        ).collect()
    # the driver decided to split the 1000-row cell
    split_msgs = [r for r in caplog.records if "auto-splitting" in r.msg]
    assert split_msgs, "mega-cell auto-split did not engage"
    assert len(out) == 40 * 20 + 200
    keep = {r.vec_id for r in out if r.keep}
    # one keeper per clone army (the smallest id), every copy dropped
    for g in range(40):
        army = {g * 1000 + j for j in range(20)}
        assert army & keep == {g * 1000}, f"army {g}"
    # distinct vectors all survive
    assert {90_000 + i for i in range(200)} <= keep
    # deterministic across runs
    out2 = semdedup(
        df, n_cells=1, threshold=0.99, sample_n=256, max_cell_rows=200,
    ).collect()
    assert {(r.vec_id, r.keep) for r in out2} == {
        (r.vec_id, r.keep) for r in out}


def test_resize_images_null_asset_passes_through(spark):
    """r10 pipeline review: a NULL asset killed the whole job
    (decode_image(None) TypeError escaped the except clause)."""
    from beacon_spark.pipeline.multimodal import resize_images
    from beacon_spark.pipeline.pnglite import encode_png

    import numpy as np

    img = encode_png(np.zeros((4, 4, 3), dtype=np.uint8))
    df = spark.createDataFrame(
        [("a", bytearray(img)), ("b", None)], "doc_id string, asset binary")
    rows = {r.doc_id: r.asset for r in resize_images(df, (2, 2)).collect()}
    assert rows["b"] is None
    assert rows["a"] is not None and bytes(rows["a"])[:8] == b"\x89PNG\r\n\x1a\n"


def test_sniff_meta_wav_noncanonical_chunk_order():
    """r10 pipeline review: the WAV sample rate was read at a fixed
    offset; a JUNK chunk before 'fmt ' yielded garbage."""
    import struct

    from beacon_spark.pipeline.multimodal import sniff_meta

    fmt = struct.pack("<HHIIHH", 1, 1, 44100, 88200, 2, 16)
    junk = b"JUNK" + struct.pack("<I", 6) + b"\x00" * 6
    body = junk + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    wav = b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body
    assert sniff_meta(wav)["sample_rate"] == 44100


def test_fingerprint_index_append_same_ids_no_duplicate_pairs(spark, tmp_path):
    """r10 pipeline review: re-appending a batch whose ids are already
    indexed doubled every pair dedup_incremental emits."""
    from beacon_spark.pipeline.dedup import (
        dedup_incremental,
        fingerprint_index_build,
    )

    corpus = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog " * 3 + str(i))
         for i in range(6)],
        "doc_id long, text string")
    path = str(tmp_path / "fpidx")
    fingerprint_index_build(corpus, path)
    # crash-retry shape: the same batch appended again
    fingerprint_index_build(corpus, path, mode="append")
    probe = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog " * 3 + "0")],
        "doc_id long, text string")
    pairs = dedup_incremental(probe, path, threshold=0.3).collect()
    keys = [(r.new_id, r.corpus_id) for r in pairs]
    assert len(keys) == len(set(keys)), keys


def test_codec_bombs_fail_as_per_asset_errors():
    """r11 fuzz program: at corpus scale one hostile asset must become
    a per-asset error (the pipeline wrappers null it out), never an
    executor OOM. A ~50 KB zlib bomb PNG inflated ~1000x before this
    bound; a forged IHDR could claim 2^31 x 2^31 pixels; GIF LZW output
    grows ~O(n^2) in its input and materialized fully before the
    post-hoc pixel truncation."""
    import struct
    import time
    import zlib

    import pytest as _pytest

    from beacon_spark.pipeline.giflite import _lzw_decode
    from beacon_spark.pipeline.pnglite import decode_png, encode_png

    def chunk(tag, body):
        return (struct.pack(">I", len(body)) + tag + body
                + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF))

    # zlib bomb: tiny IDAT inflating to ~1 GB against an 8x8 header
    bomb_idat = zlib.compress(b"\x00" * (1 << 30), 9)
    assert len(bomb_idat) < (1 << 21)
    png = (b"\x89PNG\r\n\x1a\n"
           + chunk(b"IHDR", struct.pack(">IIBBBBB", 8, 8, 8, 0, 0, 0, 0))
           + chunk(b"IDAT", bomb_idat) + chunk(b"IEND", b""))
    t0 = time.time()
    with _pytest.raises(ValueError, match="decompression bomb"):
        decode_png(png)
    assert time.time() - t0 < 10

    # forged IHDR dimensions: refuse before allocating
    huge = (b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", struct.pack(">IIBBBBB",
                                         2**30, 2**30, 8, 6, 0, 0, 0))
            + chunk(b"IDAT", zlib.compress(b"\x00" * 64))
            + chunk(b"IEND", b""))
    with _pytest.raises(ValueError, match="budget"):
        decode_png(huge)
    # the pipeline feature wrapper turns both into None (per-asset
    # null), not a task death
    from beacon_spark.pipeline.multimodal import image_stat_features

    assert image_stat_features(png) is None
    assert image_stat_features(huge) is None

    # GIF LZW: a large stream stops producing at the frame's declared
    # pixel count instead of materializing everything first
    import numpy as np

    from beacon_spark.pipeline.giflite import _lzw_encode

    ok = encode_png(np.zeros((4, 4, 3), np.uint8))
    assert decode_png(ok).shape == (4, 4, 3)  # legit decode still works
    big = _lzw_encode(bytes(200_000), 2)
    out = _lzw_decode(big, 2, max_out=1000)
    assert len(out) == 1000
    assert _lzw_decode(big, 2)[:1000] == out  # same prefix, full decode


def test_null_and_ragged_embeddings_degrade_not_crash(spark):
    """r14 (ADVICE medium): the Arrow-batched LSH/cosine UDFs vstack
    the batch — a single NULL or wrong-length embedding crashed the
    whole query, where the Catalyst tier produced null buckets that
    joins silently skipped. Null/ragged rows must degrade to null
    (skipped) and every valid pair must still come out."""
    import numpy as np

    from beacon_spark.pipeline.similarity import (assign_cells,
                                                  cosine_pairs_lsh)

    rng = np.random.default_rng(7)
    dim = 32
    base = rng.normal(size=(6, dim))
    rows = []
    for i, v in enumerate(base):
        rows.append((i, [float(x) for x in v]))
        # a near-duplicate of each (cosine ~ 1)
        rows.append((100 + i, [float(x) for x in v * 1.01]))
    clean = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    dirty = clean.unionByName(spark.createDataFrame(
        [(900, None), (901, [1.0, 2.0, 3.0])],  # null + ragged (dim 3)
        "vec_id long, embedding array<double>"))

    # n_planes*n_bands*dim > 1024 forces the pandas-UDF tier
    kw = dict(threshold=0.95, n_planes=6, n_bands=6)
    want = {(r.id_a, r.id_b) for r in cosine_pairs_lsh(clean, **kw).collect()}
    got = {(r.id_a, r.id_b) for r in cosine_pairs_lsh(dirty, **kw).collect()}
    assert len(want) >= 6
    assert got == want  # bad rows skipped, nothing else changed

    # assign_cells UDF tier: null/ragged -> null cell
    cents = rng.normal(size=(40, dim))  # 40*32 > 4096 -> UDF tier
    cells = dirty.select(
        "vec_id", assign_cells(dirty, cents, "embedding").alias("c")
    ).collect()
    by_id = {r.vec_id: r.c for r in cells}
    assert by_id[900] is None and by_id[901] is None
    assert all(v is not None for k, v in by_id.items() if k < 900)


def test_null_first_row_still_plans_lsh(spark):
    """Corpus whose FIRST row is a null vector must still plan (dim
    comes from the first non-null vector)."""
    import numpy as np

    from beacon_spark.pipeline.similarity import cosine_pairs_lsh

    rng = np.random.default_rng(3)
    v = [float(x) for x in rng.normal(size=16)]
    df = spark.createDataFrame(
        [(0, None), (1, v), (2, [x * 1.01 for x in v])],
        "vec_id long, embedding array<double>").orderBy("vec_id")
    out = cosine_pairs_lsh(df, threshold=0.95, n_planes=4, n_bands=4)
    assert {(r.id_a, r.id_b) for r in out.collect()} == {(1, 2)}
