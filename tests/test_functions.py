"""LLM-pipeline function library: text, minhash/LSH, similarity, multimodal."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from event_streaming_toy_example_spark.functions.minhash import (
    hamming64,
    jaccard_similarity,
    minhash_lsh_candidates,
    minhash_signature,
    ngram_jaccard_pairs,
    simhash64,
    simhash_near_dup_pairs,
    token_shingles,
)
from event_streaming_toy_example_spark.functions.multimodal import (
    attach_binary_payload,
    decode_image_stub,
    extract_media_features,
    sample_frames_stub,
)
from event_streaming_toy_example_spark.functions.similarity import (
    brute_force_topk,
    cosine_similarity,
    embedding_near_dup_pairs,
    lsh_bucketed_topk,
)
from event_streaming_toy_example_spark.functions.text import (
    fingerprint_md5,
    fingerprint_rolling,
    predict_language,
    quality_features,
    token_count,
)


def _cached_fixture_table(spark, path):
    """Cache behind a marker column so the cached plan is NOT the bare
    table relation: Spark's cache manager substitutes any later plan
    SUBTREE equal to a cached plan, so caching ``read.parquet(path)``
    itself would silently replace every other test's scan of the same
    table with the unpruned in-memory copy (breaking column-pruning
    plan assertions in test_plans.py)."""
    from pyspark.sql import functions as F

    df = spark.read.parquet(path)
    return df.withColumn("_fixture", F.lit(1)).drop("_fixture").cache()


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return _cached_fixture_table(spark, f"{sf_dir}/documents.parquet")


@pytest.fixture(scope="module")
def embs(spark, sf_dir):
    return _cached_fixture_table(spark, f"{sf_dir}/embeddings.parquet")


# ---------------------------------------------------------------- text

def test_token_count_matches_python(spark, docs):
    rows = docs.select("doc_id", "text", token_count(F.col("text")).alias("n")).take(20)
    for r in rows:
        assert r["n"] == len(r["text"].split())


def test_quality_features_ranges(spark, docs):
    q = quality_features(docs.limit(50))
    for r in q.collect():
        assert 0.0 <= r["q_score"] <= 1.0
        assert 0.0 <= r["q_punct_ratio"] <= 1.0
        assert r["q_n_tokens"] > 0


def test_predict_language_deterministic(spark, docs):
    out = predict_language(docs.limit(30))
    preds = {r["doc_id"]: r["predicted_lang"] for r in out.collect()}
    preds2 = {r["doc_id"]: r["predicted_lang"] for r in out.collect()}
    assert preds == preds2
    assert set(preds.values()) <= set(list(preds.values()))  # sanity: strings


def test_fingerprints(spark):
    df = spark.createDataFrame(
        [(1, "Hello,  World!"), (2, "hello world"), (3, "different text")],
        ["id", "text"],
    )
    out = df.select(
        "id",
        fingerprint_md5(F.col("text")).alias("fp"),
        fingerprint_rolling(F.col("text")).alias("rh"),
    ).collect()
    by_id = {r["id"]: r for r in out}
    # normalization makes 1 and 2 identical under both fingerprints
    assert by_id[1]["fp"] == by_id[2]["fp"] == hashlib.md5(b"hello world").hexdigest()
    assert by_id[1]["rh"] == by_id[2]["rh"]
    assert by_id[3]["fp"] != by_id[1]["fp"]
    assert by_id[3]["rh"] != by_id[1]["rh"]


# ------------------------------------------------------------- minhash

def test_shingles_and_jaccard(spark):
    df = spark.createDataFrame([(1, "a b c d"), (2, "a b c e")], ["id", "text"])
    sh = df.select("id", token_shingles(F.col("text"), 2).alias("sh"))
    rows = {r["id"]: set(r["sh"]) for r in sh.collect()}
    assert rows[1] == {"a b", "b c", "c d"}
    j = (
        sh.alias("l")
        .join(sh.alias("r"), F.col("l.id") < F.col("r.id"))
        .select(jaccard_similarity(F.col("l.sh"), F.col("r.sh")).alias("j"))
        .collect()[0]["j"]
    )
    assert j == pytest.approx(2 / 4)  # {a b, b c} / {a b, b c, c d, c e}


def test_minhash_identical_docs_identical_sigs(spark):
    df = spark.createDataFrame(
        [(1, "x y z w v"), (2, "x y z w v"), (3, "completely other words here")],
        ["id", "text"],
    )
    sig = df.select(
        "id", minhash_signature(token_shingles(F.col("text")), 8).alias("sig")
    )
    rows = {r["id"]: tuple(r["sig"]) for r in sig.collect()}
    assert rows[1] == rows[2] != rows[3]
    assert len(rows[1]) == 8


def test_minhash_lsh_finds_near_dups(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base.replace("today", "tomorrow")
    other = "completely unrelated content about database query engines and storage"
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, other), (4, base)], ["doc_id", "text"]
    )
    pairs = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_candidates(df, num_hashes=16, num_bands=8).collect()
    }
    assert (1, 4) in pairs  # exact dup always collides
    assert (1, 2) in pairs or (2, 4) in pairs  # near dup collides in some band
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_ngram_jaccard_pairs_blocked(spark, docs):
    pairs = ngram_jaccard_pairs(
        docs.limit(200), block_cols=["lang"], k=3, threshold=0.2
    )
    for r in pairs.take(5):
        assert r["id_a"] < r["id_b"]
        assert 0.2 <= r["jaccard"] <= 1.0


def test_jaccard_prefix_matches_inverted_index(spark, docs):
    """The prefix filter must find EXACTLY the pairs the inverted-index
    form finds — no false negatives from the prefix bound, no spurious
    survivors.  (The pruning itself is structural: only rows with
    ``rn <= |d| - ceil(t|d|) + 1`` reach the candidate join.)"""
    from event_streaming_toy_example_spark.functions.minhash import (
        jaccard_prefix_pairs,
    )

    sample = docs.limit(120)
    got = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in jaccard_prefix_pairs(sample, k=3, threshold=0.25).collect()
    }
    want = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in ngram_jaccard_pairs(
            sample.withColumn("blk", F.lit(1)),
            block_cols=["blk"],
            k=3,
            threshold=0.25,
        )
        .select("id_a", "id_b", "jaccard")
        .collect()
    }
    assert got == want and len(got) > 0


def test_jaccard_prefix_rejects_bad_threshold(spark, docs):
    from event_streaming_toy_example_spark.functions.minhash import (
        jaccard_prefix_pairs,
    )

    with pytest.raises(ValueError, match="threshold"):
        jaccard_prefix_pairs(docs, threshold=0.0)


def test_simhash_properties(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"), (2, "alpha beta gamma delta epsilon zeta"),
         (3, "totally different words entirely unrelated stuff")],
        ["doc_id", "text"],
    )
    sigs = {r["doc_id"]: r["s"] for r in df.select("doc_id", simhash64(F.col("text")).alias("s")).collect()}
    assert sigs[1] == sigs[2]
    ham = df.select(hamming64(F.lit(sigs[1]), F.lit(sigs[3])).alias("h")).collect()[0]["h"]
    assert ham > 0
    pairs = {(r["id_a"], r["id_b"]) for r in simhash_near_dup_pairs(df, max_hamming=3).collect()}
    assert (1, 2) in pairs


# ---------------------------------------------------------- similarity

def test_cosine_known_values(spark):
    df = spark.createDataFrame([(1,)], ["x"])
    v = df.select(
        cosine_similarity(F.array(F.lit(1.0), F.lit(0.0)), F.array(F.lit(1.0), F.lit(1.0))).alias("c")
    ).collect()[0]["c"]
    assert v == pytest.approx(0.7071067811865475)


_NAN = float("nan")
_INF = float("inf")
#: NaN/null-bearing vector pairs: each row is one edge of the contract
_EDGE_PAIRS = [
    ([1.0, 2.0, 3.0], [0.5, -1.0, 2.0]),
    ([1.0, _NAN, 3.0], [0.5, -1.0, 2.0]),
    ([1.0, 2.0, 3.0], [_NAN, _NAN, _NAN]),
    ([_NAN, 0.0, 0.0], [0.0, 0.0, 0.0]),
    ([_INF, 1.0, 0.0], [0.0, 0.0, 0.0]),
    ([_INF, 1.0, 0.0], [1.0, 0.0, 0.0]),
    ([1.0, None, 3.0], [0.5, -1.0, 2.0]),
    ([None, _NAN, 3.0], [0.5, -1.0, 2.0]),
    (None, [0.5, -1.0, 2.0]),
    ([], []),
    ([0.0, 0.0, 0.0], [0.0, 0.0, 0.0]),
    ([1.0, 2.0], [0.5, -1.0, 2.0]),
    ([0.0, 0.0], [0.5, -1.0, 2.0]),
    ([1.0, _NAN], [0.5, -1.0, 2.0]),
    ([-1.0, -2.0, -3.0], [1.0, 1.0, 1.0]),
]


def _same(x, y) -> bool:
    if x is None or y is None:
        return x is y
    return (x != x and y != y) or x == y


def test_cosine_batched_matches_the_fold_on_nan_and_null(spark):
    """The numpy twin and the Catalyst fold agree bit for bit on NaN,
    infinite, null-element, null, empty and mismatched-length inputs:
    Spark orders NaN above every value, so ``NaN > 0`` takes the
    division arm, while a null element takes the ``0.0`` arm."""
    from event_streaming_toy_example_spark.functions.similarity import (
        cosine_batched,
    )

    df = spark.createDataFrame(
        list(enumerate(_EDGE_PAIRS)),
        "i int, ab struct<a: array<float>, b: array<float>>",
    ).select("i", "ab.a", "ab.b")
    rows = df.select(
        "i",
        cosine_similarity(F.col("a"), F.col("b")).alias("fold"),
        cosine_batched(F.col("a"), F.col("b")).alias("twin"),
    ).collect()
    assert len(rows) == len(_EDGE_PAIRS)
    diff = [(r.i, r.fold, r.twin) for r in rows if not _same(r.fold, r.twin)]
    assert not diff, diff
    by_i = {r.i: r.twin for r in rows}
    assert by_i[1] != by_i[1]  # a NaN element gives NaN, not 0.0
    assert by_i[6] == 0.0 and by_i[7] == 0.0  # a null element gives 0.0
    assert by_i[11] is None  # zip_with null-pads the shorter vector


def test_hyperplane_signature_matches_the_fold_on_nan_and_null(spark):
    """The numpy signature twin equals the Catalyst fold it replaced,
    ``when(sum(v_j * plane_j) >= 0, 1).otherwise(0)`` per bit, folded
    MSB first: a NaN element signs to all-one bits, a null element to
    all-zero bits."""
    from event_streaming_toy_example_spark.functions.similarity import (
        _plane_matrix,
        with_hyperplane_signature,
    )

    dim, bits, seed = 3, 6, 42
    df = spark.createDataFrame(
        [(i, a) for i, (a, _) in enumerate(_EDGE_PAIRS)], "i int, vec array<float>"
    )
    fold = F.lit(0).cast("long")
    for plane in _plane_matrix(dim, bits, seed):
        acc = F.aggregate(
            F.zip_with(
                F.col("vec"),
                F.array(*[F.lit(c) for c in plane]),
                lambda x, y: x.cast("double") * y,
            ),
            F.lit(0.0),
            lambda s, x: s + x,
        )
        fold = fold * 2 + F.when(acc >= 0, 1).otherwise(0)
    rows = (
        with_hyperplane_signature(df, "vec", dim, bits=bits, seed=seed)
        .select("i", "bucket", fold.alias("fold"))
        .collect()
    )
    assert len(rows) == len(_EDGE_PAIRS)
    diff = [(r.i, r.fold, r.bucket) for r in rows if r.fold != r.bucket]
    assert not diff, diff
    by_i = {r.i: r.bucket for r in rows}
    assert by_i[1] == 2**bits - 1 and by_i[3] == 2**bits - 1
    assert by_i[6] == 0 and by_i[7] == 0 and by_i[8] == 0


def test_brute_force_topk(spark, embs):
    queries = embs.limit(3)
    out = brute_force_topk(embs, queries, k=4).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
    for qid, rows in by_q.items():
        assert [r["rank"] for r in sorted(rows, key=lambda r: r["rank"])] == [1, 2, 3, 4]
        sims = [r["cosine"] for r in sorted(rows, key=lambda r: r["rank"])]
        assert sims == sorted(sims, reverse=True)
        assert all(r["neighbor_id"] != qid for r in rows)


def test_lsh_topk_mostly_agrees_with_exact(spark, embs):
    dim = len(embs.select("embedding").first()["embedding"])
    queries = embs.limit(5)
    exact = brute_force_topk(embs, queries, k=3).collect()
    approx = lsh_bucketed_topk(
        embs, queries, dim=dim, k=3, bits=6, n_tables=8
    ).collect()
    exact_top1 = {r["query_id"]: r["neighbor_id"] for r in exact if r["rank"] == 1}
    approx_by_q = {}
    for r in approx:
        approx_by_q.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    # multi-table LSH (8 tables of 6 bits): exact top-1 must be in the
    # candidate set for most queries even on a random toy corpus
    hits = sum(
        1 for q, n in exact_top1.items() if n in approx_by_q.get(q, set())
    )
    assert hits >= 4


def test_embedding_near_dup_blocked(spark, embs):
    out = embedding_near_dup_pairs(embs, block_col="label", threshold=0.5)
    for r in out.take(5):
        assert r["id_a"] < r["id_b"] and r["cosine"] >= 0.5


def test_embedding_near_dup_lsh_default_requires_dim(spark, embs):
    with pytest.raises(ValueError, match="dim"):
        embedding_near_dup_pairs(embs, threshold=0.5)


def test_embedding_near_dup_lsh_recall_across_probe_buckets(spark):
    """Planted near-dup pairs (tiny perturbations of a base vector)
    must all surface through LSH-bucket blocking — including pairs
    whose signatures differ by one bit, which only the probe
    (Hamming-1) join finds."""
    import random

    from event_streaming_toy_example_spark.functions.similarity import (
        _plane_matrix,
    )

    rng = random.Random(7)
    dim, bits, n_base = 16, 10, 40
    rows = []
    for i in range(n_base):
        base = [rng.uniform(-1, 1) for _ in range(dim)]
        rows.append((2 * i, base))
        rows.append((2 * i + 1, [x + rng.uniform(-1e-3, 1e-3) for x in base]))
    # engineer one pair that straddles plane 0: project the base almost
    # onto the hyperplane, then reflect it just across — signatures
    # differ in exactly that bit, so only the probe join can pair them
    plane = _plane_matrix(dim, bits, seed=42)[0]
    base = [rng.uniform(-1, 1) for _ in range(dim)]
    proj = sum(x * c for x, c in zip(base, plane))
    onplane = [x - (proj / dim) * c * (1 - 1e-9) for x, c in zip(base, plane)]
    tiny = sum(x * c for x, c in zip(onplane, plane))
    flipped = [x - (2.5 * tiny / dim) * c for x, c in zip(onplane, plane)]
    rows.append((2 * n_base, onplane))
    rows.append((2 * n_base + 1, flipped))
    df = spark.createDataFrame(rows, "id long, vec array<double>")
    n_base += 1
    # single table so the Hamming-1 probe is the ONLY way the
    # engineered pair can meet (extra tables would catch it at
    # distance 0 in some other plane basis)
    out = embedding_near_dup_pairs(
        df, id_col="id", vec_col="vec", threshold=0.999, dim=dim, bits=10,
        n_tables=1,
    )
    found = {(r["id_a"], r["id_b"]) for r in out.collect()}
    planted = {(2 * i, 2 * i + 1) for i in range(n_base)}
    assert planted <= found, f"missed {sorted(planted - found)[:5]}"

    # the probe join is load-bearing: some planted pair must sit at
    # Hamming distance exactly 1 (home-bucket-only would miss it)
    from event_streaming_toy_example_spark.functions.similarity import (
        with_hyperplane_signature,
    )

    sigs = {
        r["id"]: r["bucket"]
        for r in with_hyperplane_signature(df, "vec", dim, bits=10).collect()
    }
    dists = [bin(sigs[a] ^ sigs[b]).count("1") for a, b in planted]
    assert any(d == 1 for d in dists), dists
    assert all(d <= 1 for d in dists), dists


def test_hyperplane_signature_plan_constant_at_production_dims(spark):
    """Plan must build at dim=1024, bits=16 without Catalyst blow-up:
    the plane matrix ships as one broadcast row, so analysis cost is
    independent of dim x bits (the old form built 16k expressions)."""
    import time

    from event_streaming_toy_example_spark.functions.similarity import (
        with_hyperplane_signature,
    )

    df = spark.range(1).select(
        F.transform(F.sequence(F.lit(1), F.lit(1024)), lambda i: i.cast("double")).alias("vec")
    )
    t0 = time.perf_counter()
    out = with_hyperplane_signature(df, "vec", dim=1024, bits=16)
    plan = out._jdf.queryExecution().analyzed().toString()
    elapsed = time.perf_counter() - t0
    assert elapsed < 10, f"analysis took {elapsed:.1f}s"
    assert len(plan) < 100_000, len(plan)
    assert out.count() == 1


# ---------------------------------------------------------- multimodal

def test_decode_stub_gates_real_path():
    with pytest.raises(NotImplementedError):
        decode_image_stub(b"bytes", fake=False)


def test_multimodal_plumbing(spark, docs):
    mm = attach_binary_payload(docs.limit(20))
    row = mm.first()
    assert isinstance(row["payload"], bytearray | bytes)
    assert row["media_meta"]["n_bytes"] == len(row["payload"])
    feats = extract_media_features(mm).collect()
    assert len(feats) == 20
    for r in feats:
        assert 0 <= r["width"] < 1920 and 0 <= r["height"] < 1080
        assert len(r["digest"]) == 32
    frames = sample_frames_stub(mm)
    f = frames.groupBy("doc_id").count().collect()
    assert all(r["count"] >= 1 for r in f)


def test_resize_stub_bytes_and_gate(spark, docs):
    from event_streaming_toy_example_spark.functions.multimodal import (
        RESIZED_IMAGE_SCHEMA,
        resize_media_stub,
    )

    # fake=False routes to the REAL PNG resize path (different schema:
    # true width/height, not a byte stride); non-PNG payloads hit the
    # codec gate at execution time (test_decode_stub_gates_real_path).
    real = resize_media_stub(attach_binary_payload(docs), fake=False)
    assert real.schema == RESIZED_IMAGE_SCHEMA

    mm = attach_binary_payload(docs.limit(10))
    originals = {r["doc_id"]: bytes(r["payload"]) for r in mm.collect()}
    out = resize_media_stub(mm, target_bytes=128, fake=True).collect()
    assert len(out) == 10
    for r in out:
        b = originals[r["doc_id"]]
        stride = max(1, -(-len(b) // 128))
        assert r["stride"] == stride
        assert bytes(r["payload_resized"]) == b[::stride]
        assert r["resized_n_bytes"] == len(b[::stride]) <= 128


def test_wav_codec_roundtrip_and_gates():
    import numpy as np
    import pytest

    from event_streaming_toy_example_spark.functions import wav_codec

    rng = np.random.default_rng(7)
    mono = rng.integers(-32768, 32767, 500, dtype=np.int16)
    payload = wav_codec.encode_wav(mono, 16000)
    assert wav_codec.is_wav(payload)
    out, rate = wav_codec.decode_wav(payload)
    assert rate == 16000 and np.array_equal(out, mono)

    stereo = rng.integers(-32768, 32767, (300, 2), dtype=np.int16)
    out2, rate2 = wav_codec.decode_wav(wav_codec.encode_wav(stereo, 44100))
    assert out2.shape == (300, 2) and np.array_equal(out2, stereo)

    assert not wav_codec.is_wav(b"PK\x03\x04whatever")
    with pytest.raises(ValueError):
        wav_codec.decode_wav(b"RIFF")
    # impossible combination (float16) must refuse loudly, not misread
    bad = bytearray(wav_codec.encode_wav(mono, 8000))
    bad[20] = 3  # audio_format = IEEE float, but bits stays 16
    with pytest.raises(NotImplementedError):
        wav_codec.decode_wav(bytes(bad))
    # truncated payload (fewer bytes than the data chunk declares) must
    # fail loudly, not silently decode fewer samples
    with pytest.raises(ValueError, match="truncated"):
        wav_codec.decode_wav(payload[:-10])
    # data size not a multiple of the sample block must also refuse
    stereo_payload = bytearray(wav_codec.encode_wav(stereo, 44100))
    import struct

    struct.pack_into("<I", stereo_payload, 40, 300 * 4 - 2)
    with pytest.raises(ValueError, match="block align"):
        wav_codec.decode_wav(bytes(stereo_payload))


def _riff(chunks: list[tuple[bytes, bytes]]) -> bytes:
    """Assemble a RIFF/WAVE stream from (chunk_id, body) pairs with the
    spec's even-byte padding."""
    import struct

    out = bytearray()
    for cid, body in chunks:
        out += cid + struct.pack("<I", len(body)) + body
        if len(body) & 1:
            out += b"\x00"  # pad byte, not counted in the chunk size
    return b"RIFF" + struct.pack("<I", 4 + len(out)) + b"WAVE" + bytes(out)


def _fmt_body(code: int, channels: int, rate: int, bits: int) -> bytes:
    import struct

    block = channels * (bits // 8)
    return struct.pack("<HHIIHH", code, channels, rate, rate * block, block, bits)


def test_wav_chunk_walker_and_wide_formats():
    """Real-corpus WAV shapes: metadata chunks before data, IEEE float,
    PCM8/24/32, EXTENSIBLE wrappers — decoded, not refused."""
    import struct

    import numpy as np
    import pytest

    from event_streaming_toy_example_spark.functions import wav_codec

    rng = np.random.default_rng(11)

    # LIST + odd-sized + fact chunks between fmt and data must be
    # skipped (these are ubiquitous in crawled files)
    mono = rng.integers(-32768, 32767, 64, dtype=np.int16)
    payload = _riff([
        (b"fmt ", _fmt_body(1, 1, 8000, 16)),
        (b"LIST", b"INFOIART" + struct.pack("<I", 5) + b"someb"),
        (b"junk", b"\x01\x02\x03"),  # odd size exercises the pad byte
        (b"fact", struct.pack("<I", 64)),
        (b"data", mono.astype("<i2").tobytes()),
    ])
    out, rate = wav_codec.decode_wav(payload)
    assert rate == 8000 and np.array_equal(out, mono)

    # IEEE float32 stereo
    f32 = rng.standard_normal((40, 2)).astype("<f4")
    out, rate = wav_codec.decode_wav(_riff([
        (b"fmt ", _fmt_body(3, 2, 48000, 32)),
        (b"data", f32.tobytes()),
    ]))
    assert out.dtype == np.float32 and np.array_equal(out, f32)

    # PCM8 is unsigned per the spec
    u8 = rng.integers(0, 256, 33, dtype=np.uint8)
    out, _ = wav_codec.decode_wav(_riff([
        (b"fmt ", _fmt_body(1, 1, 8000, 8)),
        (b"data", u8.tobytes()),
    ]))
    assert out.dtype == np.uint8 and np.array_equal(out, u8)

    # PCM24 sign-extends into int32
    vals = np.array([0, 1, -1, 8_388_607, -8_388_608, -12345], dtype=np.int32)
    raw = b"".join(int(v & 0xFFFFFF).to_bytes(3, "little") for v in vals)
    out, _ = wav_codec.decode_wav(_riff([
        (b"fmt ", _fmt_body(1, 1, 44100, 24)),
        (b"data", raw),
    ]))
    assert out.dtype == np.int32 and np.array_equal(out, vals)

    # WAVE_FORMAT_EXTENSIBLE wrapping PCM16
    guid = struct.pack("<H", 1) + wav_codec._KS_GUID_TAIL
    ext = _fmt_body(0xFFFE, 1, 16000, 16) + struct.pack("<HHI", 22, 16, 0x4) + guid
    out, rate = wav_codec.decode_wav(_riff([
        (b"fmt ", ext),
        (b"data", mono.astype("<i2").tobytes()),
    ]))
    assert rate == 16000 and np.array_equal(out, mono)

    # unknown EXTENSIBLE GUID refuses loudly
    bad_guid = struct.pack("<H", 1) + b"\xde\xad" * 7
    bad = _fmt_body(0xFFFE, 1, 16000, 16) + struct.pack("<HHI", 22, 16, 4) + bad_guid
    with pytest.raises(NotImplementedError, match="GUID"):
        wav_codec.decode_wav(_riff([
            (b"fmt ", bad),
            (b"data", mono.astype("<i2").tobytes()),
        ]))

    # compressed codecs (ADPCM=2, GSM=0x31) refuse loudly
    for code in (2, 0x31):
        with pytest.raises(NotImplementedError, match="format_code"):
            wav_codec.decode_wav(_riff([
                (b"fmt ", _fmt_body(code, 1, 8000, 16)),
                (b"data", b"\x00\x00"),
            ]))

    # a chunk overrunning the payload must fail loudly
    with pytest.raises(ValueError, match="truncated"):
        wav_codec.decode_wav(payload[:-7])
    # missing data chunk
    with pytest.raises(ValueError, match="no data chunk"):
        wav_codec.decode_wav(_riff([(b"fmt ", _fmt_body(1, 1, 8000, 16))]))


def test_wav_decode_features(spark, docs):
    import numpy as np

    from event_streaming_toy_example_spark.functions.multimodal import (
        attach_wav_payload,
        extract_audio_features,
    )

    some = docs.limit(8)
    out = {r.doc_id: r for r in extract_audio_features(attach_wav_payload(some)).collect()}
    assert len(out) == 8
    for d, r in out.items():
        n = 256 + d % 1024
        assert r.n_samples == n
        assert r.sample_rate == 8000
        assert r.n_bytes == 44 + 2 * n
        assert r.duration_ms == n * 1000 // 8000
        i = np.arange(n, dtype=np.int64)
        s = (i * (d + 3)) % 65536 - 32768
        assert r.mean_abs == int(np.abs(s).sum()) // n


def test_wav_zero_channels_raises_value_error():
    """A corrupt header with channels=0 must raise the contract's
    ValueError, not ZeroDivisionError."""
    import struct

    import numpy as np
    import pytest

    from event_streaming_toy_example_spark.functions import wav_codec

    good = wav_codec.encode_wav(np.zeros(8, dtype=np.int16), 8000)
    bad = bytearray(good)
    struct.pack_into("<H", bad, 22, 0)
    with pytest.raises(ValueError, match="channel count"):
        wav_codec.decode_wav(bytes(bad))


def test_wav_g711_expansion_matches_reference_formulas():
    """The vectorized mu-law/a-law tables must match the scalar ITU-T
    G.711 reference decode (the classic switch/shift formulation,
    implemented here independently, code by code)."""
    import numpy as np

    from event_streaming_toy_example_spark.functions import wav_codec

    def ulaw2linear_ref(u):
        u = ~u & 0xFF
        t = ((u & 0x0F) << 3) + 0x84
        t <<= (u & 0x70) >> 4
        return 0x84 - t if u & 0x80 else t - 0x84

    def alaw2linear_ref(a):
        a ^= 0x55
        t = (a & 0x0F) << 4
        seg = (a & 0x70) >> 4
        if seg == 0:
            t += 8
        elif seg == 1:
            t += 0x108
        else:
            t += 0x108
            t <<= seg - 1
        return t if a & 0x80 else -t

    for code in range(256):
        assert wav_codec._MULAW_TABLE[code] == ulaw2linear_ref(code), code
        assert wav_codec._ALAW_TABLE[code] == alaw2linear_ref(code), code
    # zero-ish codes decode near zero; extremes reach full scale
    assert abs(int(wav_codec._MULAW_TABLE[0xFF])) == 0
    assert int(np.abs(wav_codec._MULAW_TABLE).max()) == 32124
    assert int(np.abs(wav_codec._ALAW_TABLE).max()) == 32256

    # end-to-end: a mu-law WAV decodes through the chunk walker
    codes = np.arange(256, dtype=np.uint8)
    out, rate = wav_codec.decode_wav(_riff([
        (b"fmt ", _fmt_body(7, 1, 8000, 8)),
        (b"data", codes.tobytes()),
    ]))
    assert rate == 8000 and out.dtype == np.int16
    assert np.array_equal(out, wav_codec._MULAW_TABLE)
    # stereo a-law reshapes to (n, 2)
    out, _ = wav_codec.decode_wav(_riff([
        (b"fmt ", _fmt_body(6, 2, 8000, 8)),
        (b"data", codes.tobytes()),
    ]))
    assert out.shape == (128, 2)
    assert np.array_equal(out.ravel(), wav_codec._ALAW_TABLE)


def test_wav_ima_adpcm_matches_audioop():
    """The IMA nibble recursion and the Microsoft block layout must
    match CPython's independent DVI/IMA implementation (audioop),
    accounting for the nibble-order difference: audioop packs the
    first sample in the HIGH nibble, Microsoft WAV in the LOW."""
    import struct
    import warnings

    import numpy as np
    import pytest

    with warnings.catch_warnings():
        warnings.simplefilter("ignore", DeprecationWarning)
        import audioop

    from event_streaming_toy_example_spark.functions import wav_codec

    rng = np.random.default_rng(3)

    # 1) raw recursion, 400 random nibbles from the zero state
    nibs = rng.integers(0, 16, 400, dtype=np.uint8)
    mine, _, _ = wav_codec._ima_core(nibs, 0, 0)
    ref_bytes = bytes((int(nibs[i]) << 4) | int(nibs[i + 1])
                      for i in range(0, 400, 2))
    ref, _ = audioop.adpcm2lin(ref_bytes, 2, None)
    assert np.array_equal(mine, np.frombuffer(ref, dtype="<i2"))

    # 2) end-to-end mono WAV: 2 blocks, predictors/indices in headers
    spb = 505          # 4-byte header + 252 data bytes = 256-byte block
    align = 256
    blocks = b""
    expect = []
    for pred, idx in ((1234, 20), (-777, 5)):
        data_nibs = rng.integers(0, 16, (spb - 1), dtype=np.uint8)
        ms = bytes((int(data_nibs[i + 1]) << 4) | int(data_nibs[i])
                   for i in range(0, spb - 1, 2))
        blocks += struct.pack("<hBB", pred, idx, 0) + ms
        ref_hi = bytes((int(data_nibs[i]) << 4) | int(data_nibs[i + 1])
                       for i in range(0, spb - 1, 2))
        ref, _ = audioop.adpcm2lin(ref_hi, 2, (pred, idx))
        expect.append([pred] + list(np.frombuffer(ref, dtype="<i2")))
    fmt = _fmt_body(0x11, 1, 8000, 4)[:12] + struct.pack("<HH", align, 4) \
        + struct.pack("<HH", 2, spb)
    out, rate = wav_codec.decode_wav(_riff([(b"fmt ", fmt), (b"data", blocks)]))
    assert rate == 8000 and out.shape == (2 * spb,)
    assert np.array_equal(out, np.array(expect, dtype=np.int16).ravel())

    # 3) stereo interleave: two independent channels, 4-byte word groups
    spb2 = 9           # 8 bytes headers + 8 data bytes = 16-byte block
    align2 = 16
    chan_nibs = [rng.integers(0, 16, spb2 - 1, dtype=np.uint8) for _ in range(2)]
    states = [(100, 10), (-2000, 44)]
    block = b"".join(struct.pack("<hBB", p, i, 0) for p, i in states)
    for word in range(1):  # one 4-byte word per channel
        for c in range(2):
            ns = chan_nibs[c][word * 8 : word * 8 + 8]
            block += bytes((int(ns[i + 1]) << 4) | int(ns[i]) for i in range(0, 8, 2))
    fmt2 = _fmt_body(0x11, 2, 16000, 4)[:12] + struct.pack("<HH", align2, 4) \
        + struct.pack("<HH", 2, spb2)
    out, _ = wav_codec.decode_wav(_riff([(b"fmt ", fmt2), (b"data", block)]))
    assert out.shape == (spb2, 2)
    for c in range(2):
        ref_hi = bytes((int(chan_nibs[c][i]) << 4) | int(chan_nibs[c][i + 1])
                       for i in range(0, 8, 2))
        ref, _ = audioop.adpcm2lin(ref_hi, 2, states[c])
        want = [states[c][0]] + list(np.frombuffer(ref, dtype="<i2"))
        assert np.array_equal(out[:, c], np.array(want, dtype=np.int16)), c

    # corrupt step index refuses
    bad = struct.pack("<hBB", 0, 89, 0) + b"\x00" * 252
    with pytest.raises(ValueError, match="step index"):
        wav_codec.decode_wav(_riff([(b"fmt ", fmt), (b"data", bad)]))


def test_audio_dsp_over_nonpcm16_wavs_through_engine(spark):
    """The new decode paths (G.711 mu-law, float32, metadata-chunked
    RIFF) must work THROUGH the engine — binary column -> Arrow batch
    -> chunk-walker decode inside executors — not just as unit calls.
    Expected features are computed test-side with numpy from the same
    deterministic payloads."""
    import struct

    import numpy as np

    from event_streaming_toy_example_spark.functions import wav_codec
    from event_streaming_toy_example_spark.functions.multimodal import (
        extract_audio_dsp,
    )

    def dsp(s):
        s = s.astype(np.int64)
        n = len(s)
        return (
            n,
            int((s * s).sum()) // n,
            int(((s[:-1] * s[1:]) < 0).sum()),
            int(np.abs(s).max()),
        )

    rows, expect = [], {}
    for d in range(6):
        n = 64 + 16 * d
        codes = ((np.arange(n) * (d + 7)) % 256).astype(np.uint8)
        if d % 2 == 0:  # mu-law, with a LIST chunk before data
            body = _riff([
                (b"LIST", b"INFOICMT" + struct.pack("<I", 4) + b"test"),
                (b"fmt ", _fmt_body(7, 1, 8000, 8)),
                (b"data", codes.tobytes()),
            ])
            expect[d] = dsp(wav_codec._MULAW_TABLE[codes])
        else:  # IEEE float32 with a fact chunk
            f = ((codes.astype(np.float32) - 128.0) * 17.0)
            body = _riff([
                (b"fmt ", _fmt_body(3, 1, 16000, 32)),
                (b"fact", struct.pack("<I", n)),
                (b"data", f.astype("<f4").tobytes()),
            ])
            expect[d] = dsp(f.astype("<f4"))
        rows.append((d, bytearray(body)))
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r.doc_id: (r.n_samples, r.ms_energy, r.zero_crossings, r.peak_abs)
           for r in extract_audio_dsp(df).collect()}
    assert got == expect
