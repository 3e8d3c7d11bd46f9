"""Tests for the training-data extension operators: dedup family,
similarity search, text analysis, multimodal plumbing."""

import hashlib

import pytest
from pyspark.sql import functions as F

from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.dedup import (
    exact_dedup,
    fingerprint_dedup,
    minhash_candidates,
    minhash_dedup,
    ngram_jaccard_pairs,
    simhash_dedup,
)
from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.multimodal import (
    attach_media,
    decode_image,
    extract_media_meta,
    fake_decode_meta,
    frame_sample,
)
from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.similarity import (
    cosine_topk,
    embedding_near_dup,
    ivf_topk,
    lsh_topk,
)
from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.textops import (
    corpus_stats,
    doc_features,
)

BASE = "the quick brown fox jumps over the lazy dog and runs away fast"

@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [
            (1, BASE, "en", "s1"),
            (2, BASE + "!", "en", "s2"),                       # near-dup of 1
            (3, "completely different content about spark dataframes", "en", "s3"),
            (4, BASE, "en", "s4"),                             # exact dup of 1
            (5, "der hund und die katze der baum im garten", "de", "s5"),
            (6, "", "en", "s6"),                               # empty text edge case
        ],
        "doc_id long, text string, lang string, source string",
    )

def test_exact_dedup(docs):
    groups = {r["keep_id"]: r["n_dups"] for r in exact_dedup(docs).collect()}
    assert groups[1] == 2          # docs 1 and 4
    assert groups[2] == 1
    assert sum(groups.values()) == 6

def test_fingerprint_dedup_catches_punct_variant(docs):
    # Normalization folds doc 2's trailing '!' into doc 1's fingerprint.
    groups = {r["keep_id"]: r["n_dups"] for r in fingerprint_dedup(docs).collect()}
    assert groups[1] == 3          # docs 1, 2, 4

def test_minhash_dedup_finds_near_dups(docs):
    pairs = {(r["id_a"], r["id_b"]) for r in minhash_dedup(docs, threshold=0.7).collect()}
    assert (1, 2) in pairs and (1, 4) in pairs and (2, 4) in pairs
    assert not any(3 in p or 5 in p or 6 in p for p in pairs)

def test_minhash_candidates_no_self_pairs(docs):
    cands = minhash_candidates(docs).collect()
    assert all(r["id_a"] < r["id_b"] for r in cands)

def test_simhash_dedup(docs):
    pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in simhash_dedup(docs, max_hamming=3).collect()}
    assert pairs[(1, 4)] == 0      # identical text -> identical simhash
    assert (1, 2) in pairs         # punctuation-only variant is within 3 bits
    assert not any(3 in p for p in pairs)

def test_ngram_jaccard_exact_values(docs):
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()}
    assert pairs[(1, 4)] == 1.0
    assert pairs[(1, 2)] == 1.0    # '!' normalized away -> same trigram set
    assert (3, 5) not in pairs

def test_doc_features(docs):
    f = {r["doc_id"]: r for r in doc_features(docs).collect()}
    assert f[1]["n_tokens"] == 13
    assert f[1]["lang_guess"] == "en"
    assert f[5]["lang_guess"] == "de"
    assert f[6]["n_tokens"] == 0 and f[6]["n_chars_obs"] == 0
    assert f[6]["quality_score"] == 0.0 + f[6]["quality_score"]  # non-null
    assert f[1]["fp"] == f[2]["fp"] == f[4]["fp"]
    assert 0.0 <= f[3]["quality_score"] <= 1.0

def test_corpus_stats(docs):
    s = {r["lang"]: r for r in corpus_stats(docs).collect()}
    assert s["en"]["n_docs"] == 5
    assert s["de"]["total_tokens"] == 9
    assert s["en"]["avg_tokens"] == pytest.approx((13 + 13 + 6 + 13 + 0) / 5, abs=1e-3)

# --- similarity ---

@pytest.fixture(scope="module")
def embeddings(spark):
    # 40 deterministic vectors in 8-d; ids 0,13,26,39 are collinear
    # (i % 13 pattern repeats every 13 ids).
    return spark.createDataFrame(
        [(i, [float((i * 7 + j) % 13 - 6) for j in range(8)]) for i in range(40)],
        "vec_id long, embedding array<float>",
    )

QUERY = [float((0 * 7 + j) % 13 - 6) for j in range(8)]

def test_cosine_topk_exact(embeddings):
    rows = cosine_topk(embeddings, QUERY, 5).collect()
    assert [r["rank"] for r in rows] == [1, 2, 3, 4, 5]
    top = [r["vec_id"] for r in rows]
    assert top[:4] == [0, 13, 26, 39]  # sim 1.0, tie-broken by id
    assert rows[0]["sim"] == 1.0

def test_lsh_topk_agrees_with_exact_on_top_hits(embeddings):
    exact = [r["vec_id"] for r in cosine_topk(embeddings, QUERY, 4).collect()]
    approx = [r["vec_id"] for r in lsh_topk(embeddings, QUERY, 4).collect()]
    # Identical vectors always share every bucket with the query.
    assert set(exact) == set(approx) == {0, 13, 26, 39}

def test_ivf_topk_recalls_identical_vectors(embeddings):
    # Identical vectors land in the same IVF cell as the query, so the
    # probed search must recover them all.
    rows = ivf_topk(embeddings, QUERY, 4, n_cells=8, n_probe=2).collect()
    assert {r["vec_id"] for r in rows} == {0, 13, 26, 39}
    assert rows[0]["sim"] == 1.0


def test_embedding_near_dup_blocks_then_verifies(embeddings):
    pairs = {(r["id_a"], r["id_b"]) for r in embedding_near_dup(embeddings, threshold=0.9999).collect()}
    assert {(0, 13), (0, 26), (13, 26), (0, 39)} <= pairs
    assert all(a < b for a, b in pairs)

# --- multimodal ---

def test_extract_media_meta_matches_hashlib(docs):
    media = attach_media(docs)
    meta = {r["media_id"]: r for r in extract_media_meta(media).collect()}
    assert meta[1]["n_bytes"] == len(BASE.encode())
    assert meta[1]["sha256"] == hashlib.sha256(BASE.encode()).hexdigest()
    w, h = fake_decode_meta(BASE.encode())
    assert (meta[1]["width"], meta[1]["height"]) == (w, h)
    assert set(meta[k]["media_type"] for k in meta) <= {"image", "audio", "video"}

def test_decode_stub_raises():
    with pytest.raises(NotImplementedError):
        decode_image(b"\x89PNG")


def test_image_dims_parses_real_headers():
    from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.multimodal import (
        _gif_bytes,
        _jpeg_bytes,
        _png_bytes,
        image_dims,
    )

    assert image_dims(_png_bytes(640, 480)) == (640, 480)
    assert image_dims(_gif_bytes(13, 7)) == (13, 7)
    assert image_dims(_jpeg_bytes(1920, 1080)) == (1920, 1080)
    # BMP (BITMAPINFOHEADER, negative height = top-down)
    import struct

    bmp = b"BM" + b"\x00" * 16 + struct.pack("<ii", 320, -200)
    assert image_dims(bmp) == (320, 200)
    # garbage / truncation falls back to None, never raises
    assert image_dims(b"") is None
    assert image_dims(b"not an image at all") is None
    assert image_dims(_png_bytes(640, 480)[:10]) is None
    assert image_dims(b"\xff\xd8\xff") is None


def test_audio_meta_parses_real_wav():
    from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.multimodal import (
        _wav_bytes,
        audio_meta,
    )

    assert audio_meta(_wav_bytes(16000, 2, 8000)) == (16000, 2, 500)
    assert audio_meta(_wav_bytes(44100, 1, 44100)) == (44100, 1, 1000)
    # integer-ms truncation
    assert audio_meta(_wav_bytes(8000, 1, 12001)) == (8000, 1, 1500)
    # chunk walking survives an extra chunk between fmt and data
    import struct

    wav = _wav_bytes(8000, 1, 100)
    fmt_end = 12 + 8 + 16
    extra = b"LIST" + struct.pack("<I", 4) + b"INFO"
    patched = wav[:fmt_end] + extra + wav[fmt_end:]
    patched = b"RIFF" + struct.pack("<I", len(patched) - 8) + patched[8:]
    assert audio_meta(patched) == (8000, 1, 12)
    assert audio_meta(b"") is None
    assert audio_meta(b"RIFFxxxxWAVE") is None
    assert audio_meta(b"not audio") is None


def test_extract_media_meta_uses_real_dims_for_planted_images(spark):
    from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.multimodal import (
        plant_images,
    )

    docs = spark.createDataFrame(
        [(i, "t", "en", "s") for i in range(9)],
        "doc_id long, text string, lang string, source string",
    )
    meta = {
        r["media_id"]: r
        for r in extract_media_meta(plant_images(docs)).collect()
    }
    for i in range(9):
        assert meta[i]["width"] == 16 + (7 * i) % 240
        assert meta[i]["height"] == 16 + (13 * i) % 240

def test_frame_sample_caps_frames(spark):
    docs = spark.createDataFrame(
        [(2, "x" * 1000, "en", "s")], "doc_id long, text string, lang string, source string"
    )
    media = attach_media(docs)  # id 2 -> video
    frames = frame_sample(media, chunk_bytes=100, max_frames=4).collect()
    assert 0 < len(frames) <= 4
    assert all(len(bytes(r["frame"])) <= 100 for r in frames)


def test_winnow_fingerprints_shared_substring(spark):
    from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.dedup import (
        winnow_fingerprints,
    )

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon", "en", "s"),
            (2, "XX alpha beta gamma delta YY", "en", "s"),   # shares a long run
            (3, "completely unrelated words here", "en", "s"),
            (4, "tiny", "en", "s"),                            # < k+window-1 chars
        ],
        "doc_id long, text string, lang string, source string",
    )
    fps = {}
    for r in winnow_fingerprints(docs, k=5, window=4).collect():
        fps.setdefault(r["doc_id"], set()).add(r["fp"])
    # Winnowing guarantee: a shared substring of length >= k+window-1=8
    # yields a shared fingerprint.
    assert fps[1] & fps[2]
    assert not (fps[1] & fps[3])
    assert 4 not in fps  # too short for one full window


def test_minhash_md5_variant_agrees_on_planted_dups(docs):
    # The SQL-reproducible md5 hash path must find the same planted
    # near-dups as the xxhash64 scale path (same banding geometry).
    pairs = {(r["id_a"], r["id_b"]) for r in minhash_dedup(docs, threshold=0.7, hash_fn="md5").collect()}
    assert (1, 2) in pairs and (1, 4) in pairs and (2, 4) in pairs
    assert not any(3 in p or 5 in p or 6 in p for p in pairs)


def test_shingle_jaccard_ground_truth_superset_of_minhash(docs):
    from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.dedup import (
        shingle_jaccard_pairs,
    )

    truth = {(r["id_a"], r["id_b"]) for r in shingle_jaccard_pairs(docs, threshold=0.7).collect()}
    approx = {(r["id_a"], r["id_b"]) for r in minhash_dedup(docs, threshold=0.7, hash_fn="md5").collect()}
    # Verified LSH pairs use the same exact-Jaccard filter, so they can
    # never contain a pair the ground truth lacks.
    assert approx <= truth
    assert (1, 4) in truth


@pytest.mark.parametrize("hash_fn", ["xxhash64", "md5"])
def test_simhash_banding_equals_brute_force(docs, hash_fn):
    from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.dedup import (
        simhash_allpairs,
    )

    banded = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in simhash_dedup(docs, max_hamming=3, hash_fn=hash_fn).collect()
    }
    brute = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in simhash_allpairs(docs, max_hamming=3, hash_fn=hash_fn).collect()
    }
    # Pigeonhole: 4 bands, <=3 differing bits -> some band agrees, so
    # the blocked join loses nothing vs the O(n^2) scan.
    assert banded == brute


def test_dedup_clusters_keep_list(docs):
    from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.dedup import (
        dedup_clusters,
    )

    pairs = minhash_dedup(docs, threshold=0.7, hash_fn="md5")
    out = {r["doc_id"]: (r["cluster_id"], r["keep"]) for r in dedup_clusters(pairs, documents=docs).collect()}
    assert len(out) == 6                      # complete per-document verdict
    assert out[1] == (1, True)                # cluster {1,2,4} keeps min id
    assert out[2] == (1, False)
    assert out[4] == (1, False)
    for singleton in (3, 5, 6):
        assert out[singleton] == (singleton, True)


# --- repetition features + deterministic sampling ---

from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.sampling import (  # noqa: E402
    rate_threshold,
    stratified_sample,
    train_split,
)
from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.textops import (  # noqa: E402
    repetition_features,
)


def test_repetition_features_planted(spark):
    docs = spark.createDataFrame(
        [
            (1, "spam spam spam spam"),           # 1 distinct / 4 tokens
            (2, "all words here are unique"),     # no repetition
            (3, "x"),                             # single token: no bigrams
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in repetition_features(docs).collect()}
    assert rows[1]["n_tokens"] == 4
    assert rows[1]["dup_token_frac"] == 0.75
    assert rows[1]["top_bigram_frac"] == 1.0    # "spam spam" is every bigram
    assert rows[2]["dup_token_frac"] == 0.0
    assert rows[3]["n_tokens"] == 1
    assert rows[3]["top_bigram_frac"] == 0.0


def test_train_split_deterministic_and_exhaustive(spark):
    docs = spark.createDataFrame([(i,) for i in range(300)], "doc_id long")
    out = {(r["doc_id"], r["split"]) for r in train_split(docs).collect()}
    assert len(out) == 300                      # every row assigned exactly once
    counts = {}
    for _, s in out:
        counts[s] = counts.get(s, 0) + 1
    assert set(counts) <= {"train", "val", "test"}
    assert counts["train"] > counts.get("val", 0) + counts.get("test", 0)
    assert out == {(r["doc_id"], r["split"]) for r in train_split(docs).collect()}


def test_train_split_rejects_bad_fracs(spark):
    docs = spark.createDataFrame([(1,)], "doc_id long")
    with pytest.raises(ValueError, match="sum to 1.0"):
        train_split(docs, fracs={"a": 0.5, "b": 0.2})


def test_stratified_sample_rate_bounds_and_default(spark):
    rows = [(i, "keep") for i in range(100)] + [(1000 + i, "drop") for i in range(100)]
    docs = spark.createDataFrame(rows, "doc_id long, lang string")
    out = stratified_sample(docs, {"keep": 1.0, "drop": 0.0}).collect()
    assert {r["lang"] for r in out} == {"keep"}
    assert len(out) == 100
    # Stratum absent from the rate table -> default_rate.
    extra = docs.withColumn("lang", F.lit("other"))
    assert stratified_sample(extra, {"keep": 1.0}, default_rate=0.0).count() == 0
    assert stratified_sample(extra, {"keep": 0.0}, default_rate=1.0).count() == 200


def test_temperature_sample_matches_python_replay(spark):
    from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.sampling import (
        temperature_sample,
    )
    import hashlib
    import math

    # 400 en / 100 de / 25 zh: rates sqrt(25/400)=0.25, sqrt(25/100)=0.5, 1.0.
    rows = (
        [(i, "en") for i in range(400)]
        + [(1000 + i, "de") for i in range(100)]
        + [(2000 + i, "zh") for i in range(25)]
    )
    docs = spark.createDataFrame(rows, "doc_id long, lang string")
    got = {(r["doc_id"], r["lang"]) for r in
           temperature_sample(docs).select("doc_id", "lang").collect()}

    counts = {"en": 400, "de": 100, "zh": 25}
    expect = set()
    for doc_id, lang in rows:
        rate = math.sqrt(25.0 / counts[lang])
        v = math.floor(rate * 4294967296.0)
        thr = "gggggggg" if v >= 4294967296 else format(v, "08x")
        h = hashlib.md5(f"temp{doc_id}".encode()).hexdigest()[:8]
        if h < thr:
            expect.add((doc_id, lang))
    assert got == expect
    # The smallest stratum is kept in full (rate 1.0 -> sentinel threshold).
    assert sum(1 for _, l in got if l == "zh") == 25
    # Deterministic under re-execution.
    assert got == {(r["doc_id"], r["lang"]) for r in
                   temperature_sample(docs).select("doc_id", "lang").collect()}


def test_rate_threshold_is_fixed_width_hex():
    assert rate_threshold(0.25) == "40000000"
    assert rate_threshold(0.5) == "80000000"
    assert rate_threshold(0.0) == "00000000"
    assert rate_threshold(1.0) == "gggggggg"    # sorts above all hex
    with pytest.raises(ValueError):
        rate_threshold(1.5)


# --- engine-portable HyperLogLog ---

from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.sketches import (  # noqa: E402
    hll_distinct,
    hll_registers,
)


def test_hll_estimate_within_error_bound(spark):
    # m=256 -> ~6.5% standard error; assert within 3 sigma (~20%).
    n = 10_000
    df = spark.range(n).select(F.col("id").alias("v"))
    est = hll_distinct(df, "v").collect()[0]["n_approx"]
    assert abs(est - n) / n < 0.20


def test_hll_small_range_linear_counting(spark):
    df = spark.range(10).select(F.col("id").alias("v"))
    est = hll_distinct(df, "v").collect()[0]["n_approx"]
    assert abs(est - 10) <= 1.5  # linear counting is near-exact here


def test_hll_registers_merge(spark):
    # Sketch mergeability: union two register tables and re-max ==
    # sketching the union directly (the 1000-executor / incremental
    # corpus property).
    a = spark.range(0, 5000).select(F.col("id").alias("v"))
    b = spark.range(2500, 7500).select(F.col("id").alias("v"))
    whole = {(r["bucket"], r["reg"]) for r in hll_registers(a.unionAll(b), "v").collect()}
    merged = {
        (r["bucket"], r["reg"])
        for r in (
            hll_registers(a, "v")
            .unionAll(hll_registers(b, "v"))
            .groupBy("bucket")
            .agg(F.max("reg").alias("reg"))
            .collect()
        )
    }
    assert merged == whole


def test_corpus_prep_pipeline(spark):
    from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.pipeline import (
        corpus_prep,
        corpus_prep_stats,
    )

    good_text = ("the quick brown fox jumps over the lazy dog and runs to town " * 8).strip()
    rows = [
        (1, "en", good_text),            # keeper (dup group min id)
        (2, "en", good_text),            # exact dup -> dropped
        (3, "en", "too short"),          # fails min_tokens
        (4, "de", good_text + " extra"), # keeper, distinct text
        (5, "en", "!!! ??? ... !!! ???"),# punctuation soup -> low quality
    ]
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    prep = corpus_prep(docs).collect()
    kept = {r.doc_id for r in prep}
    assert kept == {1, 4}
    assert all(r.split in ("train", "val", "test") for r in prep)
    stats = corpus_prep_stats(docs).collect()
    assert sum(r.n_docs for r in stats) == 2
    assert all(0.0 <= r.avg_quality <= 1.0 for r in stats)


def test_sample_quantile_err_contract(spark):
    from pyspark.sql import functions as F

    from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.sampling import (
        sample_quantile_err,
    )

    df = spark.range(1, 10001).select(F.col("id").cast("double").alias("v"), "id")
    out = {r.q: r for r in sample_quantile_err(
        df, F.col("v"), F.col("id"), rate=0.2, qs=(0.5, 0.9)
    ).collect()}
    assert set(out) == {0.5, 0.9}
    # Exact medians of 1..10000.
    assert out[0.5].exact_v == 5000.5
    assert out[0.9].exact_v == 9000.1
    # A 20% uniform sample's quantiles land near the truth, and the
    # reported error is exactly |exact - sample|.
    for r in out.values():
        assert abs(r.sample_v - r.exact_v) < 300
        assert r.abs_err == round(abs(r.exact_v - r.sample_v), 4)

    # Per-stratum path: each group's exact quantile is the group-local
    # value (not the global one), and the plan carries a keyed
    # aggregate — no single-global-group percentile gather.
    strat = df.withColumn("g", F.when(F.col("id") <= 5000, "lo").otherwise("hi"))
    grouped = sample_quantile_err(
        strat, F.col("v"), F.col("id"), group_by=["g"], rate=0.2, qs=(0.5,)
    )
    rows = {r.g: r for r in grouped.collect()}
    assert rows["lo"].exact_v == 2500.5
    assert rows["hi"].exact_v == 7500.5
    assert "percentile" in grouped._jdf.queryExecution().executedPlan().toString().lower()

    # Regression (round-6 sf0.001 sweep): a stratum where NO row clears
    # the sample threshold must still surface, as (exact_v, NULL, NULL)
    # — arrays_zip(full_q, NULL) is NULL and posexplode(NULL) silently
    # DROPPED the stratum before the coalesce-to-null-array fix.
    tiny = spark.createDataFrame(
        [("empty", 1.0, 1), ("empty", 2.0, 2), ("full", 3.0, 3)],
        "g string, v double, id long",
    )
    # rate=0.0: nothing samples, so EVERY stratum exercises the path.
    none_sampled = {
        r.g: r
        for r in sample_quantile_err(
            tiny, F.col("v"), F.col("id"), group_by=["g"], rate=0.0, qs=(0.5,)
        ).collect()
    }
    assert set(none_sampled) == {"empty", "full"}
    assert none_sampled["empty"].exact_v == 1.5
    assert none_sampled["empty"].sample_v is None
    assert none_sampled["empty"].abs_err is None


def test_running_customer_spend_prefix_sums(spark):
    import datetime

    from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.relational import (
        running_customer_spend,
    )

    d = lambda s: datetime.datetime.fromisoformat(s)
    rows = [
        (1, 7, "O", 100.0, d("1995-01-01"), "1-URGENT"),
        (2, 7, "O", 50.0, d("1995-01-01"), "1-URGENT"),   # same day: orderkey breaks tie
        (3, 7, "O", 25.0, d("1995-02-01"), "1-URGENT"),
        (4, 8, "O", 10.0, d("1995-01-15"), "1-URGENT"),
    ]
    orders = spark.createDataFrame(
        rows, "o_orderkey long, o_custkey long, o_orderstatus string,"
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string"
    )
    got = {r.o_orderkey: r.cum_spend for r in running_customer_spend(orders).collect()}
    assert got == {1: 100.0, 2: 150.0, 3: 175.0, 4: 10.0}


def test_cms_upper_bound_and_merge(spark):
    from pyspark.sql import functions as F

    from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.sketches import (
        cms_estimate,
        cms_table,
    )

    # 1000 skewed items: value k appears k times for k in 1..~44.
    rows = [(k,) for k in range(1, 45) for _ in range(k)]
    df = spark.createDataFrame(rows, "v long")
    cms = cms_table(df, "v")
    est = {r.item: r.n_est for r in cms_estimate(cms, df.select("v"), "v").collect()}
    exact = {k: k for k in range(1, 45)}
    # CMS never under-counts; with 44 items in 4x256 cells, most are exact.
    assert all(est[i] >= exact[i] for i in est)
    assert sum(1 for i in est if est[i] == exact[i]) >= 40
    # Mergeability: sketching two halves and summing cells == sketching all.
    h1 = cms_table(df.where(F.col("v") <= 20), "v")
    h2 = cms_table(df.where(F.col("v") > 20), "v")
    merged = h1.unionAll(h2).groupBy("i", "bucket").agg(F.sum("cnt").alias("cnt"))
    direct = {(r.i, r.bucket): r.cnt for r in cms.collect()}
    assert {(r.i, r.bucket): r.cnt for r in merged.collect()} == direct


def test_tfidf_topk_planted(spark):
    from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.textops import (
        tfidf_topk,
    )

    # "zebra" appears only in doc 1 (tf=2, df=1 -> score 2.0) and must
    # outrank "common" (tf=3 there but df=3 -> score 1.0).
    docs = spark.createDataFrame(
        [
            (1, "zebra zebra common common common"),
            (2, "common apple"),
            (3, "common banana"),
        ],
        "doc_id long, text string",
    )
    top = tfidf_topk(docs, k=1).collect()
    by_doc = {r.doc_id: r for r in top}
    assert by_doc[1].term == "zebra" and by_doc[1].score == 2.0
    assert by_doc[2].term == "apple"  # tf 1 / df 1 = 1.0 beats common 1/3
    assert by_doc[3].term == "banana"


def test_collocations_planted(spark):
    from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.textops import (
        collocations,
    )

    # "hong kong" always co-occurs (5 times); "new day"/"new idea" mix,
    # so "hong kong" has the strictly higher lift.
    texts = ["hong kong " * 5 + "x", "new day new idea new day new idea new day x"]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    rows = collocations(docs, k=3, min_count=3).collect()
    assert rows, "expected at least one collocation"
    top = rows[0]
    # orderBy().limit preserves sorted output order within collect
    best = max(rows, key=lambda r: r.lift)
    assert (best.w1, best.w2) == ("hong", "kong")


def test_substring_overlap_pairs_planted(spark):
    from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.dedup import (
        substring_overlap_pairs,
    )

    shared = "the quick brown fox jumps over the lazy dog again and again" * 2
    docs = spark.createDataFrame(
        [
            (1, "intro text first " + shared + " tail one"),
            (2, "completely different opening " + shared + " other tail"),
            (3, "no overlap with anything here at all, distinct words only"),
            (4, "short"),
        ],
        "doc_id long, text string",
    )
    pairs = {
        (r["id_a"], r["id_b"]): r["n_shared"]
        for r in substring_overlap_pairs(docs, sub_len=50).collect()
    }
    assert set(pairs) == {(1, 2)}
    # every aligned 50-window inside the shared run matches
    assert pairs[(1, 2)] > 10

    # stride>1 keeps the guarantee for substrings >= sub_len+stride-1
    strided = {
        (r["id_a"], r["id_b"])
        for r in substring_overlap_pairs(docs, sub_len=50, stride=7).collect()
    }
    assert (1, 2) in strided and len(strided) == 1


def test_kmv_sketch_and_intersection(spark):
    from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.sketches import (
        kmv_intersect_estimate,
        kmv_sketch,
    )

    # groups: a = {0..599}, b = {300..899} -> union 900, inter 300
    rows = [("a", i) for i in range(600)] + [("b", i) for i in range(300, 900)]
    df = spark.createDataFrame(rows, "g string, v long")
    sk = kmv_sketch(df, "v", group_by=["g"], k=128)
    assert sk.where(F.col("rk") > 128).count() == 0
    assert sk.groupBy("g").count().agg(F.max("count")).collect()[0][0] == 128
    est = kmv_intersect_estimate(sk, "g", "a", "b", k=128).collect()[0]
    assert est["est_union"] == pytest.approx(900, rel=0.25)
    assert est["est_inter"] == pytest.approx(300, rel=0.35)

    # exhaustive regime: fewer distinct values than k -> exact
    small = spark.createDataFrame(
        [("a", i) for i in range(20)] + [("b", i) for i in range(10, 30)],
        "g string, v long",
    )
    sk2 = kmv_sketch(small, "v", group_by=["g"], k=128)
    est2 = kmv_intersect_estimate(sk2, "g", "a", "b", k=128).collect()[0]
    assert est2["est_union"] == 30.0
    assert est2["est_inter"] == 10.0

    # disjoint sets in the theta regime: the a⋈b join is EMPTY, so the
    # conditional SUM aggregates zero rows — est_inter must be 0.0, not
    # NULL (matches the oracle's COALESCE(SUM(...), 0))
    disj = spark.createDataFrame(
        [("a", i) for i in range(400)] + [("b", i) for i in range(1000, 1400)],
        "g string, v long",
    )
    sk3 = kmv_sketch(disj, "v", group_by=["g"], k=128)
    est3 = kmv_intersect_estimate(sk3, "g", "a", "b", k=128).collect()[0]
    assert est3["est_inter"] == 0.0
    assert est3["est_union"] == pytest.approx(800, rel=0.3)

    # disjoint sets in the exhaustive regime (fewer than k combined)
    disj_small = spark.createDataFrame(
        [("a", i) for i in range(15)] + [("b", i) for i in range(100, 115)],
        "g string, v long",
    )
    sk4 = kmv_sketch(disj_small, "v", group_by=["g"], k=128)
    est4 = kmv_intersect_estimate(sk4, "g", "a", "b", k=128).collect()[0]
    assert est4["est_union"] == 30.0
    assert est4["est_inter"] == 0.0


def test_redact_pii(spark):
    from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.textops import (
        redact_pii,
    )

    docs = spark.createDataFrame(
        [
            (1, "mail me at jo.doe+x@sub.example.org or call 555-123-4567"),
            (2, "server at 192.168.001.1 and 10.0.0.7, no mail"),
            (3, "nothing sensitive here"),
            (4, "two mails: a@b.co c@d.io and ip 1.2.3.4"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in redact_pii(docs).collect()}
    assert out[1]["n_emails"] == 1 and out[1]["n_phones"] == 1
    assert out[1]["clean_text"] == "mail me at <EMAIL> or call <PHONE>"
    assert out[2]["n_ips"] == 2 and out[2]["n_emails"] == 0
    assert out[2]["clean_text"] == "server at <IP> and <IP>, no mail"
    assert out[3]["clean_text"] == "nothing sensitive here"
    assert out[3]["n_emails"] == out[3]["n_ips"] == out[3]["n_phones"] == 0
    assert out[4]["n_emails"] == 2 and out[4]["n_ips"] == 1


def test_minhash_bucket_cap_drops_boilerplate(spark):
    # 60 identical boilerplate docs would make every band bucket
    # degenerate; max_bucket_size drops those buckets BEFORE the
    # self-join, while a small planted near-dup pair in a normal
    # bucket must survive.
    boiler = [(i, "standard header boilerplate text repeated verbatim " * 3)
              for i in range(100, 160)]
    planted = [
        (1, "a genuinely unique document about distributed joins and shuffles"),
        (2, "a genuinely unique document about distributed joins and shuffle"),
    ]
    docs = spark.createDataFrame(boiler + planted, "doc_id long, text string")
    pairs = {
        (r["id_a"], r["id_b"])
        for r in minhash_dedup(docs, threshold=0.7, max_bucket_size=10).collect()
    }
    assert (1, 2) in pairs
    assert not any(a >= 100 or b >= 100 for a, b in pairs)


def test_decontaminate_empty_docs_do_not_cross_flag(spark):
    from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.dedup import (
        decontaminate,
    )

    train = spark.createDataFrame(
        [(1, ""), (2, "one two three four five six seven")],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame(
        [(10, ""), (11, "three four five six seven eight")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in decontaminate(train, ev, ngram_len=5).collect()}
    # empty train doc: one row, zero hits, NOT contaminated by the
    # empty eval doc (the '' gram is dropped eval-side)
    assert out[1]["n_grams"] == 1 and out[1]["n_hits"] == 0
    assert out[1]["contaminated"] is False
    # real shared 5-gram still flags
    assert out[2]["contaminated"] is True


def test_resize_bitmaps_nearest_neighbor(spark):
    import numpy as np

    from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.multimodal import (
        plant_bitmaps,
        resize_bitmaps,
    )

    docs = spark.createDataFrame([(i,) for i in range(6)], "doc_id long")
    out = {
        r["media_id"]: r
        for r in resize_bitmaps(plant_bitmaps(docs), out_w=4, out_h=4).collect()
    }
    for i in range(6):
        w, h = 8 + i % 9, 8 + i % 7
        src = (
            np.arange(h)[:, None] * 31 + np.arange(w)[None, :] * 17 + i
        ) % 256
        rr = (np.arange(4) * h) // 4
        cc = (np.arange(4) * w) // 4
        want = int(src[np.ix_(rr, cc)].sum())
        assert out[i]["checksum"] == want
        assert (out[i]["out_w"], out[i]["out_h"]) == (4, 4)


def test_png_codec_roundtrip_all_filters():
    """Every (filter type, shape) combination reconstructs exactly;
    the encoder's per-row filter cycle guarantees a decoder that
    mishandles any of Sub/Up/Average/Paeth cannot pass."""
    import numpy as np

    from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.multimodal import (
        image_dims,
        png_gray_decode,
        png_gray_encode,
    )

    rng = np.random.RandomState(11)
    for seed in range(5):  # each seed starts the filter cycle elsewhere
        arr = rng.randint(0, 256, size=(9, 13)).astype(np.uint8)
        enc = png_gray_encode(arr, filter_seed=seed)
        assert (png_gray_decode(enc) == arr).all()
        assert image_dims(enc) == (13, 9)
    # 1-pixel edge case and a wide single row
    for shape in ((1, 1), (1, 37), (37, 1)):
        arr = rng.randint(0, 256, size=shape).astype(np.uint8)
        assert (png_gray_decode(png_gray_encode(arr)) == arr).all()


def test_png_adam7_and_palette_roundtrip():
    """Adam7 interlacing (incl. empty passes at tiny shapes) and PLTE
    palette lookup reconstruct exactly for every filter-cycle start;
    the sequential and interlaced encodings of the same pixels decode
    identically."""
    import numpy as np

    from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.multimodal import (
        png_decode,
        png_gray_encode,
        png_gray_encode_adam7,
        png_palette_encode,
    )

    rng = np.random.RandomState(13)
    for trial in range(12):
        h, w = rng.randint(1, 20), rng.randint(1, 20)
        seed = rng.randint(0, 5)
        arr = rng.randint(0, 256, size=(h, w)).astype(np.uint8)
        seq = png_decode(png_gray_encode(arr, filter_seed=seed))
        inter = png_decode(png_gray_encode_adam7(arr, filter_seed=seed))
        assert (seq == arr).all() and (inter == arr).all()
        pal = rng.randint(0, 256, size=(256, 3)).astype(np.uint8)
        got = png_decode(png_palette_encode(arr, pal, filter_seed=seed))
        assert (got == pal[arr]).all()


def test_png_decode_rejects_malformed_bytes():
    """A corrupt media column must fail loudly with a clean ValueError
    (caller-catchable per image), never a numpy shape blow-up deep in
    the unfilter."""
    import numpy as np
    import pytest

    from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.multimodal import (
        png_decode,
        png_gray_encode,
        png_palette_encode,
    )

    arr = np.arange(48, dtype=np.uint8).reshape(6, 8)
    good = png_gray_encode(arr)
    with pytest.raises(ValueError):
        png_decode(b"not a png at all")
    with pytest.raises(ValueError):
        png_decode(good[:8])  # signature only, no IHDR
    # truncated scanline payload (strip IEND + part of IDAT)
    with pytest.raises(Exception):
        png_decode(good[: len(good) // 2])
    # palette index out of range: 2-entry palette, indices up to 47
    bad_pal = png_palette_encode(arr, np.zeros((2, 3), dtype=np.uint8))
    with pytest.raises(ValueError):
        png_decode(bad_pal)


def test_jpeg_codec_roundtrip():
    """Baseline JPEG codec (round 8): (a) the planted coefficient
    subspace round-trips EXACTLY (the value-oracle contract); (b)
    arbitrary pixels round-trip within +-1 at the all-ones quant
    table (DCT is orthonormal, so coefficient rounding of +-0.5 per
    coefficient can move a pixel by at most ~1); (c) every planted
    stream exercises byte stuffing; (d) non-baseline streams raise
    the documented NotImplementedError; corrupt bytes raise
    ValueError."""
    import numpy as np
    import pytest

    from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.multimodal import (
        _S4,
        image_dims,
        jpeg_gray_decode,
        jpeg_gray_encode,
    )

    r_idx = np.asarray(_S4)[:, None]
    c_idx = np.asarray(_S4)[None, :]
    stuffed = 0
    for i in (0, 1, 7, 123, 499):
        img = np.zeros((16, 16), dtype=np.int64)
        for b in range(4):
            m = 64 + (17 * b + 5 * i) % 128
            a1 = (3 * b + i) % 9 - 4
            a2 = (3 * b + i + 1) % 9 - 4
            a3 = (3 * b + i + 2) % 9 - 4
            img[(b // 2) * 8 : (b // 2) * 8 + 8, (b % 2) * 8 : (b % 2) * 8 + 8] = (
                m + a1 * r_idx + a2 * c_idx + a3 * r_idx * c_idx
            )
        enc = jpeg_gray_encode(img)
        assert np.array_equal(jpeg_gray_decode(enc), img)
        assert image_dims(enc) == (16, 16)  # header parser agrees
        stuffed += b"\xff\x00" in enc[20:-2]
    assert stuffed == 5  # every planted stream hits 0xFF00 unstuffing

    # Arbitrary pixels, non-multiple-of-8 dims (edge-pad + crop path).
    x = ((31 * np.arange(13)[:, None] + 17 * np.arange(21)[None, :] + 5) % 256).astype(
        np.int64
    )
    dec = jpeg_gray_decode(jpeg_gray_encode(x))
    assert dec.shape == x.shape
    assert int(np.abs(dec - x).max()) <= 1

    enc16 = jpeg_gray_encode(np.full((8, 8), 99, dtype=np.int64))
    with pytest.raises(ValueError):
        jpeg_gray_decode(b"not a jpeg")
    # Progressive SOF2 must raise the documented seam error.
    with pytest.raises(NotImplementedError):
        jpeg_gray_decode(enc16.replace(b"\xff\xc0", b"\xff\xc2", 1))


def test_png_decode_composes_with_resize(spark):
    """decode_png_bitmaps(plant_encoded_pngs(...)) feeds the SAME
    resize kernel as the raw-bitmap path and lands on identical
    checksums — the encoded-bytes pipeline end-to-end."""
    from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.multimodal import (
        decode_png_bitmaps,
        plant_bitmaps,
        plant_encoded_pngs,
        png_decode_stats,
        resize_bitmaps,
    )

    docs = spark.createDataFrame([(i,) for i in range(8)], "doc_id long")
    raw = {
        r["media_id"]: r["checksum"]
        for r in resize_bitmaps(plant_bitmaps(docs), out_w=4, out_h=4).collect()
    }
    via_png = {
        r["media_id"]: r["checksum"]
        for r in resize_bitmaps(
            decode_png_bitmaps(plant_encoded_pngs(docs)), out_w=4, out_h=4
        ).collect()
    }
    assert raw == via_png
    # single-stage stats agree with the two-stage composition
    stats = {
        r["media_id"]: r
        for r in png_decode_stats(
            plant_encoded_pngs(docs), out_w=4, out_h=4
        ).collect()
    }
    for i, r in stats.items():
        assert r["resized_sum"] == raw[i]
        assert (r["width"], r["height"]) == (8 + i % 9, 8 + i % 7)


def test_wav_pcm_decode_and_features(spark):
    import numpy as np

    from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.multimodal import (
        _wav_bytes,
        audio_pcm_features,
        plant_audio_signal,
        wav_pcm_decode,
    )

    # direct decode: known samples come back bit-exact
    samples = np.array([-2000, -1, 0, 1, 1999, 42], dtype="<i2")
    wav = _wav_bytes(8000, 2, 3, samples.tobytes())
    assert (wav_pcm_decode(wav) == samples).all()

    # distributed features match the planting arithmetic
    docs = spark.createDataFrame([(i,) for i in range(5)], "doc_id long")
    got = {
        r["media_id"]: r
        for r in audio_pcm_features(plant_audio_signal(docs)).collect()
    }
    for i in range(5):
        n = (100 + (37 * i) % 900) * (1 + i % 2)
        s = ((37 * np.arange(n, dtype=np.int64) + 11 * i) % 4001) - 2000
        r = got[i]
        assert r["n_samples"] == n
        assert r["peak"] == int(np.abs(s).max())
        assert r["sum_abs"] == int(np.abs(s).sum())
        assert r["sum_sq"] == int((s * s).sum())


def test_kmeans_fixed_matches_numpy_lloyd(spark):
    """Distributed integer k-means == a single-process numpy replica
    of the same deterministic contract (init on k smallest ids, int64
    distances, floor-div updates, empty clusters keep centroids)."""
    import numpy as np

    from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.clustering import (
        KMEANS_OFFSET,
        KMEANS_SCALE,
        kmeans_fixed,
    )

    rng = np.random.RandomState(3)
    n, dim, k, iters = 120, 6, 4, 3
    X = (rng.rand(n, dim) - 0.5).astype(np.float64)
    df = spark.createDataFrame(
        [(i, X[i].tolist()) for i in range(n)], "vec_id long, embedding array<double>"
    ).repartition(5)  # exercise multi-batch partial sums

    got = {
        r["vec_id"]: (r["cluster"], r["dist"])
        for r in kmeans_fixed(df, k=k, iters=iters).collect()
    }

    Xq = np.floor((X + KMEANS_OFFSET) * KMEANS_SCALE).astype(np.int64)
    C = Xq[:k].copy()
    for _ in range(iters):
        d = ((Xq[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        a = d.argmin(axis=1)
        for j in range(k):
            sel = Xq[a == j]
            if len(sel):
                C[j] = sel.sum(axis=0) // len(sel)
    d = ((Xq[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
    a = d.argmin(axis=1)
    want = {i: (int(a[i]), int(d[i, a[i]])) for i in range(n)}
    assert got == want
    assert len({c for c, _ in got.values()}) > 1  # really clustered


def test_semantic_dedup_blocks_by_cluster(spark):
    """Pairs only form WITHIN a cluster; cosine values are exact; the
    planted duplicate pair is found when clustered together."""
    import numpy as np

    from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.clustering import (
        kmeans_fixed,
        semantic_dedup_pairs,
    )

    rng = np.random.RandomState(5)
    # two tight blobs far apart + one exact duplicate inside blob A
    blob_a = rng.rand(10, 4) * 0.05 + 0.4
    blob_b = rng.rand(10, 4) * 0.05 - 0.45
    X = np.vstack([blob_a, blob_b, blob_a[:1]])  # id 20 duplicates id 0
    df = spark.createDataFrame(
        [(i, X[i].tolist()) for i in range(len(X))],
        "vec_id long, embedding array<double>",
    )
    assign = kmeans_fixed(df, k=2, iters=3)
    a = {r["vec_id"]: r["cluster"] for r in assign.collect()}
    assert a[0] == a[20]  # the duplicate clusters with its source
    pairs = semantic_dedup_pairs(df, assign, threshold=0.9999).collect()
    got = {(r["id_a"], r["id_b"]): r for r in pairs}
    assert (0, 20) in got
    assert got[(0, 20)]["sim"] == 1.0
    # every reported pair is within one cluster
    assert all(a[p[0]] == a[p[1]] == r["cluster"] for p, r in got.items())


def test_png_rgb_codec_roundtrip_and_stats(spark):
    import numpy as np

    from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.multimodal import (
        image_dims,
        plant_encoded_rgb_pngs,
        png_decode,
        png_rgb_encode,
        rgb_decode_stats,
    )

    rng = np.random.RandomState(17)
    for seed in range(5):
        arr = rng.randint(0, 256, size=(7, 11, 3)).astype(np.uint8)
        enc = png_rgb_encode(arr, filter_seed=seed)
        assert (png_decode(enc) == arr).all()
        assert image_dims(enc) == (11, 7)

    docs = spark.createDataFrame([(i,) for i in range(6)], "doc_id long")
    got = {
        r["media_id"]: r
        for r in rgb_decode_stats(plant_encoded_rgb_pngs(docs)).collect()
    }
    for i in range(6):
        w, h = 8 + i % 9, 8 + i % 7
        rows = np.arange(h)[:, None, None] * 31
        cols = np.arange(w)[None, :, None] * 17
        chans = np.arange(3)[None, None, :] * 7
        arr = (rows + cols + chans + i) % 256
        r = got[i]
        assert (r["width"], r["height"]) == (w, h)
        assert (r["sum_r"], r["sum_g"], r["sum_b"]) == (
            int(arr[:, :, 0].sum()),
            int(arr[:, :, 1].sum()),
            int(arr[:, :, 2].sum()),
        )


def test_pack_sequences_invariants(spark):
    # Contiguity within each stream: doc k's start_tok equals the
    # previous doc's start_tok + n_tokens (id order); pack_id/offset
    # derive from start_tok by exact integer division.
    from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.textops import (
        pack_sequences,
    )

    docs = spark.createDataFrame(
        [
            (1, "a b c", "en"),
            (2, "d e", "en"),
            (3, "f g h i j", "en"),
            (4, "x y z", "de"),
            (5, "", "de"),
            (6, "w", "de"),
        ],
        "doc_id long, text string, lang string",
    )
    rows = {
        (r["stream"], r["doc_id"]): r
        for r in pack_sequences(docs, budget=4).collect()
    }
    assert rows[("en", 1)]["start_tok"] == 0
    assert rows[("en", 2)]["start_tok"] == 3
    assert rows[("en", 3)]["start_tok"] == 5
    assert rows[("de", 4)]["start_tok"] == 0
    assert rows[("de", 5)]["start_tok"] == 3  # empty doc: 0 tokens
    assert rows[("de", 6)]["start_tok"] == 3
    for r in rows.values():
        assert r["pack_id"] == r["start_tok"] // 4
        assert r["pack_offset"] == r["start_tok"] % 4
        assert 0 <= r["pack_offset"] < 4


def test_pq_topk_reconstruction_exact_for_codeword_vectors(embeddings):
    """PQ ADC (similarity.pq_topk): a vector that IS one of the
    sampled codewords reconstructs exactly, so its ADC cosine to
    itself-as-query is 1.0; ranking is deterministic (ties by id);
    and the code column is m small ints — the bytes-per-vector
    contract."""
    from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.similarity import (
        _pq_codes_arrow,
        pq_codebooks,
        pq_topk,
    )

    books = pq_codebooks(embeddings, m=4, n_codes=16)
    assert len(books) == 4 and len(books[0]) == 16 and len(books[0][0]) == 2
    rows = pq_topk(embeddings, QUERY, 5, m=4, n_codes=16).collect()
    assert [r["rank"] for r in rows] == [1, 2, 3, 4, 5]
    # ids 0,13,26,39 are identical vectors; if any of them was sampled
    # as a codeword, all four encode to the same codes and tie at the
    # top.  Regardless of sampling, the four MUST share sim values
    # (identical vectors -> identical codes -> identical ADC score).
    sims = {r["vec_id"]: r["sim"] for r in rows}
    collinear_present = [v for v in (0, 13, 26, 39) if v in sims]
    assert len({sims[v] for v in collinear_present}) <= 1
    # Encode path: every code is in [1, 16], one per subspace.
    enc = embeddings.select(
        _pq_codes_arrow(books)(F.col("embedding")).alias("codes")
    ).collect()
    for r in enc:
        assert len(r["codes"]) == 4
        assert all(1 <= c <= 16 for c in r["codes"])
    # Identical vectors -> identical codes.
    enc_by_id = {
        r["vec_id"]: tuple(r["codes"])
        for r in embeddings.select(
            "vec_id", _pq_codes_arrow(books)(F.col("embedding")).alias("codes")
        ).collect()
    }
    assert enc_by_id[0] == enc_by_id[13] == enc_by_id[26] == enc_by_id[39]


def test_ivf_pq_codes_and_topk_consistency(embeddings):
    """Residual IVF-PQ: identical vectors get identical [cell, codes]
    rows (cell from the shared coarse quantizer, codes from the shared
    residual books), the declared (1+m)-int shape holds, and the
    ADC top-k ranks deterministically with collinear ids tied."""
    from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.similarity import (
        _ivf_pq_codes_arrow,
        ivf_centroids,
        ivf_pq_topk,
        residual_pq_codebooks,
    )

    cents = ivf_centroids(embeddings, n_cells=8)
    books = residual_pq_codebooks(embeddings, cents, m=4, n_codes=16)
    assert len(books) == 4 and len(books[0]) == 16 and len(books[0][0]) == 2
    enc = {
        r["vec_id"]: tuple(r["codes"])
        for r in embeddings.select(
            "vec_id",
            _ivf_pq_codes_arrow(cents, books)(F.col("embedding")).alias("codes"),
        ).collect()
    }
    assert all(len(v) == 5 for v in enc.values())
    assert enc[0] == enc[13] == enc[26] == enc[39]
    rows = ivf_pq_topk(embeddings, QUERY, 5, n_cells=8, n_probe=3, m=4, n_codes=16).collect()
    assert [r["rank"] for r in rows] == [1, 2, 3, 4, 5]
    sims = {r["vec_id"]: r["sim"] for r in rows}
    present = [v for v in (0, 13, 26, 39) if v in sims]
    assert len({sims[v] for v in present}) <= 1


def test_pq_trained_books_deterministic_and_no_worse(embeddings):
    """Round-7 trained codebooks (similarity.pq_codebooks_trained):
    per-subspace integer Lloyd's must be deterministic (bit-identical
    books across runs — the SQL oracle replays them) and must not
    increase total quantization error vs the seeded sample books
    (Lloyd's is monotone non-increasing in the summed assignment
    distance)."""
    import numpy as np

    from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.similarity import (
        PQ_OFFSET,
        _pq_quantize,
        pq_codebooks,
        pq_codebooks_trained,
    )

    m, n_codes, sub = 4, 8, 2
    q1, f1 = pq_codebooks_trained(embeddings, m=m, n_codes=n_codes, train_iters=2)
    q2, f2 = pq_codebooks_trained(embeddings, m=m, n_codes=n_codes, train_iters=2)
    assert np.array_equal(q1, q2)
    assert f1 == f2

    seed_q = _pq_quantize(
        np.asarray(pq_codebooks(embeddings, m=m, n_codes=n_codes)), PQ_OFFSET
    )
    X = np.array(
        [r["embedding"] for r in embeddings.orderBy("vec_id").collect()],
        dtype=np.float64,
    )
    V = _pq_quantize(X, PQ_OFFSET).reshape(-1, m, sub)

    def total_err(books):
        b = np.asarray(books)
        d = ((V[:, :, None, :] - b[None, :, :, :]) ** 2).sum(axis=3)
        return int(d.min(axis=2).sum())

    assert total_err(q1) <= total_err(seed_q)


def test_pq_trained_encode_matches_books(embeddings):
    """The integer encoder (_pq_codes_arrow_q) must assign every
    vector to its true integer-argmin codeword of the trained books,
    ties to the lowest code."""
    import numpy as np

    from pyspark.sql import functions as F

    from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.similarity import (
        PQ_OFFSET,
        _pq_codes_arrow_q,
        _pq_quantize,
        pq_codebooks_trained,
    )

    m, n_codes, sub = 4, 8, 2
    books_q, _ = pq_codebooks_trained(embeddings, m=m, n_codes=n_codes, train_iters=2)
    rows = (
        embeddings.select(
            "vec_id", _pq_codes_arrow_q(books_q, PQ_OFFSET)(F.col("embedding")).alias("c")
        )
        .orderBy("vec_id")
        .collect()
    )
    X = np.array(
        [r["embedding"] for r in embeddings.orderBy("vec_id").collect()],
        dtype=np.float64,
    )
    V = _pq_quantize(X, PQ_OFFSET).reshape(-1, m, sub)
    b = np.asarray(books_q)
    d = ((V[:, :, None, :] - b[None, :, :, :]) ** 2).sum(axis=3)
    expect = d.argmin(axis=2) + 1
    got = np.array([r["c"] for r in rows])
    assert np.array_equal(got, expect)


def test_pq_trained_hash_sampled_training(embeddings):
    """train_filter_hex (the 100 TB posture): training restricted to
    the md5-prefix sample must stay deterministic, produce valid
    books (every codeword finite, shape preserved), and the encoder
    must still cover EVERY row."""
    import numpy as np

    from pyspark.sql import functions as F

    from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.similarity import (
        PQ_OFFSET,
        _pq_codes_arrow_q,
        pq_codebooks_trained,
    )

    m, n_codes = 4, 8
    q1, _ = pq_codebooks_trained(
        embeddings, m=m, n_codes=n_codes, train_iters=2, train_filter_hex="8"
    )
    q2, _ = pq_codebooks_trained(
        embeddings, m=m, n_codes=n_codes, train_iters=2, train_filter_hex="8"
    )
    assert np.array_equal(q1, q2)
    assert q1.shape == (m, n_codes, 2)
    n = (
        embeddings.select(
            _pq_codes_arrow_q(q1, PQ_OFFSET)(F.col("embedding")).alias("c")
        )
        .where(F.size("c") == m)
        .count()
    )
    assert n == embeddings.count()


def test_ivf_trained_cells_deterministic_and_no_worse(embeddings):
    """Round-8 trained coarse quantizer (ivf_centroids_trained):
    full-vector integer Lloyd's must be deterministic (bit-identical
    centroids across runs — the SQL oracle replays the rounds), must
    not increase total assignment error vs the md5 seed, and the
    dequantized floats must be exactly q / 1e6 - 1."""
    import numpy as np

    from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.similarity import (
        PQ_OFFSET,
        _pq_quantize,
        ivf_centroids,
        ivf_centroids_trained,
    )

    q1, f1 = ivf_centroids_trained(embeddings, n_cells=8, iters=2)
    q2, f2 = ivf_centroids_trained(embeddings, n_cells=8, iters=2)
    assert q1 == q2 and f1 == f2
    Q = np.asarray(q1, dtype=np.int64)
    assert np.array_equal(
        np.asarray(f1), Q.astype(np.float64) / 10**6 - 1.0
    )
    X = np.array(
        [r["embedding"] for r in embeddings.orderBy("vec_id").collect()],
        dtype=np.float64,
    )
    V = _pq_quantize(X, PQ_OFFSET)
    seed_q = _pq_quantize(np.asarray(ivf_centroids(embeddings, n_cells=8)), PQ_OFFSET)

    def total_err(cq):
        d = ((V[:, None, :] - np.asarray(cq)[None, :, :]) ** 2).sum(axis=2)
        return int(d.min(axis=1).sum())

    assert total_err(q1) <= total_err(seed_q)


def test_ivf_pq_trained_cells_topk(embeddings):
    """The fully-trained IVF-PQ path (cell_iters > 0): deterministic
    ranks, collinear ids score identically when probed, and
    cell_iters without train_iters is rejected (not a declared
    operating point)."""
    import pytest as _pytest

    from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.similarity import (
        ivf_pq_topk,
    )

    rows = ivf_pq_topk(
        embeddings, QUERY, 5,
        n_cells=8, n_probe=3, m=4, n_codes=16, train_iters=1, cell_iters=1,
    ).collect()
    assert [r["rank"] for r in rows] == [1, 2, 3, 4, 5]
    sims = {r["vec_id"]: r["sim"] for r in rows}
    present = [v for v in (0, 13, 26, 39) if v in sims]
    assert len({sims[v] for v in present}) <= 1
    with _pytest.raises(ValueError):
        ivf_pq_topk(embeddings, QUERY, 5, cell_iters=1, train_iters=0)


def test_jpeg_decode_robust_to_fill_bytes_and_truncation():
    """Round-8 ADVICE: the decoder is exposed to arbitrary payload
    bytes.  A truncated stream — including one ending in 0xFF — must
    raise ValueError (never IndexError); 0xFF fill bytes before a
    marker and length-less TEM/RSTn markers in the header walk must be
    skipped, not parsed as length-prefixed segments."""
    import numpy as np
    import pytest

    from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.multimodal import (
        _S4,
        jpeg_gray_decode,
        jpeg_gray_encode,
    )

    # Planted-subspace pixels (the plant_encoded_jpegs pattern) so the
    # lossy codec round-trips EXACTLY and equality assertions are fair.
    r_idx = np.asarray(_S4)[:, None]
    c_idx = np.asarray(_S4)[None, :]
    img = np.zeros((16, 16), dtype=np.int64)
    for b in range(4):
        m = 64 + (17 * b + 35) % 128
        img[(b // 2) * 8 : (b // 2) * 8 + 8, (b % 2) * 8 : (b % 2) * 8 + 8] = (
            m + ((3 * b + 7) % 9 - 4) * r_idx + ((3 * b + 8) % 9 - 4) * c_idx
        )
    enc = jpeg_gray_encode(img)
    assert np.array_equal(jpeg_gray_decode(enc), img)

    # Truncation mid-scan, and truncation ENDING IN 0xFF (the unguarded
    # data[pos+1] lookahead the ADVICE flagged).
    cut = enc[: enc.index(b"\xff\xda") + 12]
    with pytest.raises(ValueError):
        jpeg_gray_decode(cut)
    with pytest.raises(ValueError):
        jpeg_gray_decode(cut + b"\xff")

    # 0xFF fill bytes before markers (T.81 B.1.1.2) decode identically.
    filled = b"\xff\xd8" + b"\xff\xff" + enc[2:]  # fill before DQT
    filled = filled.replace(b"\xff\xc4", b"\xff\xff\xff\xc4", 1)  # before DHT
    assert np.array_equal(jpeg_gray_decode(filled), img)

    # Length-less TEM / RSTn markers in the header walk are skipped.
    temmed = b"\xff\xd8" + b"\xff\x01" + b"\xff\xd0" + enc[2:]
    assert np.array_equal(jpeg_gray_decode(temmed), img)

    # A declared-length segment overrunning the buffer raises cleanly.
    with pytest.raises(ValueError):
        jpeg_gray_decode(enc[:6])


def test_untrained_ivf_float_argmin_is_tie_free_on_fixtures():
    """Round-8 verdict #5: the UNTRAINED IVF paths (ivf_topk /
    _nearest_cell_arrow and the train_iters=0 encode) argmin a float64
    score c_sq - 2 v.c, whose summation order differs between numpy
    and a SQL replay — safe only while the data is near-tie-free.
    This pins that contract on the shipped fixtures: at sf0.001 and
    sf0.01, for the declared n_cells=16 sampled centroids, (a) the
    float argmin equals a correctly-rounded math.fsum reference, and
    (b) the best/runner-up relative margin exceeds 1e-9 — ten orders
    above accumulated float64 rounding.  The TRAINED path needs no
    such contract (exact int64 argmin, _int_cell_assign)."""
    import hashlib
    import math
    import os

    import numpy as np
    import pytest

    duckdb = pytest.importorskip("duckdb")

    for sf_dir in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        pq = os.path.join(sf_dir, "embeddings.parquet")
        if not os.path.exists(pq):
            pytest.skip("driver testdata not present")
        rows = duckdb.sql(
            f"select vec_id, embedding from '{pq}'"
        ).fetchall()
        ids = [r[0] for r in rows]
        X = np.array([r[1] for r in rows], dtype=np.float64)
        # ivf_centroids' selection, replayed: md5(id-as-string) order.
        order = sorted(
            range(len(ids)),
            key=lambda i: (hashlib.md5(str(ids[i]).encode()).hexdigest(), ids[i]),
        )
        C = X[order[:16]]
        c_sq = (C * C).sum(axis=1)
        S = c_sq[None, :] - 2.0 * (X @ C.T)  # _nearest_cell_arrow's score
        got = S.argmin(axis=1)
        # (b) tie-freeness margin
        Ss = np.sort(S, axis=1)
        rel = (Ss[:, 1] - Ss[:, 0]) / (np.abs(S).max(axis=1) + 1.0)
        assert rel.min() > 1e-9, f"near-tie in {sf_dir}: {rel.min()}"
        # (a) order-independent reference argmin (correctly-rounded sums)
        dim = X.shape[1]
        for i in range(len(X)):
            ref = min(
                range(16),
                key=lambda j: (
                    math.fsum(C[j, k] * C[j, k] for k in range(dim))
                    - 2.0 * math.fsum(X[i, k] * C[j, k] for k in range(dim)),
                    j,
                ),
            )
            assert ref == got[i], (sf_dir, ids[i])


def test_jpeg_ycbcr_codec_roundtrips_and_seam_routing():
    """Round-9 multi-component baseline JPEG: 4:2:0 interleaved MCUs
    with per-component DC prediction round-trip exactly on the planted
    subspace and within the DCT-rint +-1 envelope on arbitrary planes
    (including multi-MCU geometry); gray and color decoders reject
    each other's streams via the documented seam error; the RGB
    conversion clamps and floor(x+0.5)-rounds."""
    import numpy as np
    import pytest

    from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.multimodal import (
        _S4,
        image_dims,
        jpeg_color_decode,
        jpeg_gray_decode,
        jpeg_gray_encode,
        jpeg_ycbcr_decode,
        jpeg_ycbcr_encode,
    )

    r_idx = np.asarray(_S4)[:, None]
    c_idx = np.asarray(_S4)[None, :]
    for i in (0, 7, 123, 499):
        y = np.zeros((16, 16), dtype=np.int64)
        for b in range(4):
            m = 64 + (17 * b + 5 * i) % 128
            y[(b // 2) * 8 : (b // 2) * 8 + 8, (b % 2) * 8 : (b % 2) * 8 + 8] = (
                m
                + ((3 * b + i) % 9 - 4) * r_idx
                + ((3 * b + i + 1) % 9 - 4) * c_idx
                + ((3 * b + i + 2) % 9 - 4) * r_idx * c_idx
            )
        cb = 96 + (7 * i) % 64 + (i % 9 - 4) * r_idx + ((i + 1) % 9 - 4) * c_idx
        cr = 96 + (11 * i) % 64 + (i % 9 - 4) * r_idx + ((i + 1) % 9 - 4) * c_idx
        enc = jpeg_ycbcr_encode(y, cb, cr)
        Yd, Cbd, Crd = jpeg_ycbcr_decode(enc)
        assert np.array_equal(Yd, y)
        assert np.array_equal(Cbd, cb) and np.array_equal(Crd, cr)
        assert image_dims(enc) == (16, 16)
        rgb = jpeg_color_decode(enc)
        # replay the declared conversion independently
        up = lambda p: p.repeat(2, 0).repeat(2, 1).astype(float)  # noqa: E731
        want_r = np.clip(np.floor(y + 1.402 * (up(cr) - 128.0) + 0.5), 0, 255)
        assert np.array_equal(rgb[:, :, 0], want_r.astype(np.int64))
        assert rgb.min() >= 0 and rgb.max() <= 255

    # arbitrary planes, multi-MCU (32x16): lossy +-1 envelope
    rng = np.random.default_rng(9)
    y = rng.integers(0, 256, (32, 16))
    cb = rng.integers(0, 256, (16, 8))
    cr = rng.integers(0, 256, (16, 8))
    Yd, Cbd, Crd = jpeg_ycbcr_decode(jpeg_ycbcr_encode(y, cb, cr))
    for got, want in ((Yd, y), (Cbd, cb), (Crd, cr)):
        assert got.shape == want.shape
        assert int(np.abs(got - want).max()) <= 1

    # seam routing both directions
    with pytest.raises(NotImplementedError):
        jpeg_gray_decode(jpeg_ycbcr_encode(y, cb, cr))
    with pytest.raises(NotImplementedError):
        jpeg_ycbcr_decode(jpeg_gray_encode(np.full((8, 8), 99, dtype=np.int64)))
    with pytest.raises(ValueError):  # non-MCU-aligned dims
        jpeg_ycbcr_encode(y[:30], cb, cr)


def test_jpeg_progressive_decode_equals_baseline():
    """Round-9 progressive (SOF2) codec: coefficient coding across a
    complete spectral-selection + successive-approximation scan script
    is LOSSLESS, so the progressive decode must equal the (already
    oracle-proven) baseline decode BIT FOR BIT on any image — the
    independent cross-check on both sides of the new codec.  Regimes:
    random (dense coefficients), near-flat (cross-block EOB runs),
    low-amplitude noise (refinement-heavy +-1 coefficients), binary
    noise (large magnitudes), and the minimized round-9 regression
    (correction bits between the 16th zero of a run and the next
    newly-significant coefficient — the ZRL emission-order bug)."""
    import numpy as np
    import pytest

    from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.multimodal import (
        jpeg_gray_decode,
        jpeg_gray_encode,
        jpeg_gray_encode_progressive,
        jpeg_progressive_decode,
    )

    rng = np.random.default_rng(123)
    cases = [
        rng.integers(0, 256, (18, 33)),
        np.full((48, 24), 128),
        128 + rng.integers(-2, 3, (17, 19)),
        rng.integers(0, 2, (25, 25)) * 255,
        ((np.arange(13)[:, None] * 2 + np.arange(29)[None, :]) % 256),
    ]
    img = np.full((40, 40), 128)
    img[3, 3] = 255  # sparse spike: long EOB runs
    cases.append(img)
    for im in cases:
        base = jpeg_gray_decode(jpeg_gray_encode(im))
        prog = jpeg_progressive_decode(jpeg_gray_encode_progressive(im))
        assert np.array_equal(base, prog)

    enc = jpeg_gray_encode_progressive(cases[0])
    # routing: baseline decoders reject SOF2, progressive rejects SOF0
    with pytest.raises(NotImplementedError):
        jpeg_gray_decode(enc)
    with pytest.raises(NotImplementedError):
        jpeg_progressive_decode(jpeg_gray_encode(cases[0]))
    with pytest.raises(ValueError):
        jpeg_progressive_decode(enc[: len(enc) // 2])
