"""Training-data pipeline operators: dedup, similarity, textstats, multimodal."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from linkgraph.operators import dedup, multimodal, similarity, textstats

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").persist()


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").persist()


# ---- dedup ----

def test_exact_dedup(spark):
    d = spark.createDataFrame(
        [(1, "hello world"), (2, "hello world"), (3, "other text")],
        "doc_id long, text string",
    )
    rows = {r["keep_id"]: r["dup_count"] for r in dedup.exact_dedup(d).collect()}
    assert rows == {1: 2, 3: 1}


def test_chunk_dedup_hand_computed(spark):
    # width=2 chunks: doc1 = [ab, cd], doc2 = [ab, xy] (loses ab to doc1),
    # doc3 = [ab, cd] (loses everything and drops out)
    d = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b x y"), (3, "a b c d")],
        "doc_id long, text string",
    )
    rows = {r["id"]: r for r in dedup.chunk_dedup(d, width=2).collect()}
    assert set(rows) == {1, 2}
    assert (rows[1]["n_chunks"], rows[1]["kept_chunks"]) == (2, 2)
    assert rows[1]["dedup_text"] == "a b c d"
    assert (rows[2]["n_chunks"], rows[2]["kept_chunks"]) == (2, 1)
    assert rows[2]["dedup_text"] == "x y"


def test_chunk_dedup_within_doc_repeat_kept_once(spark):
    # the SAME chunk repeated inside one doc survives only at its first idx
    d = spark.createDataFrame(
        [(7, "p q p q r s")], "doc_id long, text string"
    )
    r = dedup.chunk_dedup(d, width=2).first()
    assert (r["n_chunks"], r["kept_chunks"]) == (3, 2)
    assert r["dedup_text"] == "p q r s"


def test_chunk_dedup_ragged_tail_and_identity(spark):
    # 5 tokens at width=2 -> chunks [a b][c d][e]; unique corpus -> identity
    d = spark.createDataFrame(
        [(1, "a b c d e"), (2, "f g h")], "doc_id long, text string"
    )
    rows = {r["id"]: r for r in dedup.chunk_dedup(d, width=2).collect()}
    assert rows[1]["dedup_text"] == "a b c d e"
    assert rows[1]["n_chunks"] == 3
    assert rows[2]["dedup_text"] == "f g h"


def test_chunk_dedup_deterministic_under_repartition(spark, docs):
    a = sorted(
        dedup.chunk_dedup(docs).collect(),
        key=lambda r: r["id"],
    )
    b = sorted(
        dedup.chunk_dedup(docs.repartition(17)).collect(),
        key=lambda r: r["id"],
    )
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


def test_top_ngrams_hand_computed(spark):
    d = spark.createDataFrame(
        [
            (1, "en", "a b a b c"),
            (2, "en", "a b x"),
            (3, "fr", "u v u v"),
            (4, "fr", "w"),  # shorter than n -> contributes nothing
        ],
        "doc_id long, lang string, text string",
    )
    rows = textstats.top_ngrams(d, n=2, k=2).collect()
    got = {(r["lang"], r["rank"]): (r["ngram"], r["n_occurrences"]) for r in rows}
    # en bigrams: "a b" x3, "b a" x1, "b c" x1, "b x" x1 -> tie broken on string
    assert got[("en", 1)] == ("a b", 3)
    assert got[("en", 2)] == ("b a", 1)
    # fr: "u v" x2, "v u" x1
    assert got[("fr", 1)] == ("u v", 2)
    assert got[("fr", 2)] == ("v u", 1)
    assert len(rows) == 4


def test_top_ngrams_trigram_and_k1(spark):
    d = spark.createDataFrame(
        [(1, "en", "x y z x y z x y")], "doc_id long, lang string, text string"
    )
    r = textstats.top_ngrams(d, n=3, k=1).collect()
    assert len(r) == 1
    assert (r[0]["ngram"], r[0]["n_occurrences"]) == ("x y z", 2)


def test_minhash_finds_near_dups(spark):
    base = "the quick brown fox jumps over the lazy dog again and again " * 5
    near = base.replace("lazy", "sleepy")
    far = "completely different content about spark dataframes and shuffles " * 5
    d = spark.createDataFrame(
        [(1, base), (2, near), (3, far)], "doc_id long, text string"
    )
    pairs = {(r["a"], r["b"]): r["est_jaccard"] for r in dedup.minhash_lsh(d, bands=16).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] > 0.3
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_minhash_md5_family_matches_semantics(spark):
    # the md5 oracle family must reproduce the banded-LSH semantics:
    # exact duplicates agree on every minhash and always pair; disjoint
    # vocab never pairs; near-dups pair with high (not full) agreement
    base = "the quick brown fox jumps over the lazy dog again and again " * 5
    near = base.replace("lazy", "sleepy")
    far = "completely different content about spark dataframes and shuffles " * 5
    d = spark.createDataFrame(
        [(1, base), (2, base), (3, near), (4, far)],
        "doc_id long, text string",
    )
    pairs = {
        (r["a"], r["b"]): r["agree"]
        for r in dedup.minhash_lsh_md5(d, num_hashes=8, bands=8).collect()
    }
    assert pairs[(1, 2)] == 8  # identical docs: all 8 minhashes equal
    assert (1, 3) in pairs and pairs[(1, 3)] >= 2
    assert (1, 4) not in pairs and (3, 4) not in pairs


def test_minhash_estimate_close_to_exact(spark, docs):
    sample = docs.limit(30)
    pairs = dedup.minhash_lsh(sample, num_hashes=64, bands=32)
    exact = dedup.ngram_jaccard_pairs(sample, pairs.select("a", "b"), shingle_len=5)
    joined = pairs.join(exact, ["a", "b"]).collect()
    for r in joined:
        assert abs(r["est_jaccard"] - r["jaccard"]) < 0.35  # 64-hash estimator noise


def test_simhash_near_pairs(spark):
    # uneven token counts: equal counts make per-bit signed sums tie at 0,
    # and ties flip arbitrarily under tiny edits (inherent SimHash behavior
    # on a toy vocabulary, not a bug)
    words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta"]
    base = " ".join(w for i, w in enumerate(words) for _ in range(3 + 2 * i))
    near = base.replace("theta", "iota", 1)
    far = " ".join(
        w for i, w in enumerate(
            ["one", "two", "three", "four", "five", "six", "seven", "eight"]
        ) for _ in range(3 + 2 * i)
    )
    d = spark.createDataFrame([(1, base), (2, near), (3, far)], "doc_id long, text string")
    sh = {r["id"]: r["simhash"] for r in dedup.simhash(d).collect()}
    assert bin(sh[1] ^ sh[2]).count("1") < bin(sh[1] ^ sh[3]).count("1")
    pairs = [(r["a"], r["b"]) for r in dedup.simhash_near_pairs(d, max_hamming=8).collect()]
    assert (1, 2) in pairs and (1, 3) not in pairs


# ---- similarity ----

def test_cosine_topk_exact_vs_numpy(spark, emb):
    q = emb.filter(F.col("vec_id") < 3)
    got = similarity.cosine_topk(emb, q, k=5).collect()
    ep = emb.toPandas()
    ids = ep["vec_id"].to_numpy()
    M = np.stack(ep["embedding"].to_numpy()).astype(np.float64)
    Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
    for qid in range(3):
        qi = np.where(ids == qid)[0][0]
        sims = Mn @ Mn[qi]
        order = [
            int(ids[j])
            for j in sorted(range(len(ids)), key=lambda j: (-sims[j], ids[j]))
            if ids[j] != qid
        ][:5]
        mine = [r["neighbor_id"] for r in sorted(got, key=lambda r: r["rank"]) if r["query_id"] == qid]
        assert mine == order


def test_arrow_topk_matches_catalyst_topk(spark, emb):
    q = emb.filter(F.col("vec_id") < 3)
    a = similarity.cosine_topk(emb, q, k=5).select("query_id", "neighbor_id", "rank").collect()
    b = similarity.cosine_topk_arrow(emb, q, k=5).select("query_id", "neighbor_id", "rank").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_lsh_topk_recall(spark, emb):
    q = emb.filter(F.col("vec_id") < 10)
    exact = similarity.cosine_topk(emb, q, k=5).collect()
    approx = similarity.lsh_topk(emb, q, k=5, bits=4).collect()
    exact_set = {(r["query_id"], r["neighbor_id"]) for r in exact}
    approx_set = {(r["query_id"], r["neighbor_id"]) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall > 0.2  # 4-bit buckets: coarse but must be far above random
    # every approx hit must carry the exact cosine (re-rank is exact)
    ex = {(r["query_id"], r["neighbor_id"]): r["cosine"] for r in exact}
    for r in approx:
        key = (r["query_id"], r["neighbor_id"])
        if key in ex:
            assert abs(r["cosine"] - ex[key]) < 1e-9


def test_embedding_near_dup_pairs(spark):
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.999, 0.04, 0.0, 0.0]),
        (3, [0.0, 1.0, 0.0, 0.0]),
    ]
    d = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = similarity.embedding_near_dup_pairs(d, threshold=0.95, bits=2).collect()
    keys = {(r["a"], r["b"]) for r in pairs}
    assert (1, 2) in keys
    assert all(r["cosine"] >= 0.95 for r in pairs)


def test_cosine_pairs_exact_vs_numpy(spark, emb):
    got = {(r["a"], r["b"]): r["cosine"]
           for r in similarity.cosine_pairs_exact(emb, threshold=0.3).collect()}
    ep = emb.toPandas()
    ids = ep["vec_id"].to_numpy()
    M = np.stack(ep["embedding"].to_numpy()).astype(np.float64)
    Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
    S = Mn @ Mn.T
    want = {}
    for i in range(len(ids)):
        for j in range(len(ids)):
            a, b = int(ids[i]), int(ids[j])
            if a < b and S[i, j] >= 0.3:
                want[(a, b)] = S[i, j]
    assert set(got) == set(want)
    for k, v in want.items():
        assert abs(got[k] - v) < 1e-9
    # the bucketed scale path must be a subset of the exact pairs
    approx = similarity.embedding_near_dup_pairs(emb, threshold=0.3, bits=2).collect()
    assert {(r["a"], r["b"]) for r in approx} <= set(got)


# ---- textstats ----

def test_token_count(spark):
    d = spark.createDataFrame(
        [(1, "a b  c"), (2, ""), (3, "   "), (4, "single")], "doc_id long, text string"
    )
    got = {r["doc_id"]: r["n_tokens"] for r in textstats.token_count(d).collect()}
    assert got == {1: 3, 2: 0, 3: 0, 4: 1}


def test_word_token_count(spark):
    d = spark.createDataFrame([(1, "hello, world 42!")], "doc_id long, text string")
    # letter-runs: hello, world; digit-runs: 42; punct: , !  => 5
    assert textstats.word_token_count(d).first()["n_word_tokens"] == 5


def test_quality_score_bounds(spark, docs):
    q = textstats.quality_score(docs)
    bad = q.filter((F.col("quality") < 0) | (F.col("quality") > 1)).count()
    assert bad == 0
    r = q.filter(F.col("n_chars") > 400).agg(F.avg("len_score")).first()[0]
    assert r > 0.8  # long docs saturate length score


def test_language_id(spark):
    d = spark.createDataFrame(
        [
            (1, "the cat sat on the mat and it was the best of times"),
            (2, "der hund und die katze das ist nicht ein problem"),
            (3, "le chat et la souris dans les champs est une histoire"),
            (4, "xyzzy plugh"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["lang_pred"] for r in textstats.language_id(d).collect()}
    assert got == {1: "en", 2: "de", 3: "fr", 4: "unknown"}


def test_fingerprint_normalization(spark):
    d = spark.createDataFrame(
        [(1, "Hello   World foo bar"), (2, "hello world  foo bar"), (3, "different text")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: (r["fp_exact"], r["fp_min"]) for r in textstats.fingerprint(d).collect()}
    assert got[1] == got[2]
    assert got[1] != got[3]


# ---- multimodal ----

def test_media_schema_and_featurize(spark):
    m = multimodal.synthetic_media(spark, 32)
    assert [(f.name, f.dataType.simpleString()) for f in m.schema.fields] == [
        (f.name, f.dataType.simpleString()) for f in multimodal.MEDIA_SCHEMA.fields
    ]
    feats = multimodal.decode_and_featurize(m).collect()
    assert len(feats) == 32
    assert all(0 <= r["mean_px"] <= 255 and r["n_bytes"] > 0 for r in feats)
    # deterministic across partitionings
    feats2 = multimodal.decode_and_featurize(m.repartition(7)).collect()
    assert sorted(map(tuple, feats)) == sorted(map(tuple, feats2))


def test_bmp_roundtrip_kernel():
    """encode_bmp -> decode_bmp is exact through the integer-luma formula,
    including non-multiple-of-4 widths (row padding) and RGB inputs."""
    rng = np.random.default_rng(7)
    gray = rng.integers(0, 256, size=(5, 7), dtype=np.uint8)  # w=7: padded rows
    assert np.array_equal(multimodal.decode_bmp(multimodal.encode_bmp(gray)), gray)
    rgb = rng.integers(0, 256, size=(6, 6, 3), dtype=np.uint8)
    r, g, b = (rgb[:, :, i].astype(np.int64) for i in range(3))
    # Pillow's exact convert("L") fixed-point luma (ImagingConvert.c L24)
    luma = ((r * 19595 + g * 38470 + b * 7471 + 0x8000) >> 16).astype(np.uint8)
    assert np.array_equal(multimodal.decode_bmp(multimodal.encode_bmp(rgb)), luma)
    with pytest.raises(ValueError):
        multimodal.decode_bmp(b"not a bitmap at all, far too short?")


def test_real_decode_bmp_and_fallback(spark):
    """real=True decodes actual BMP payloads (import-guarded kernel: PIL if
    importable, else the pure-numpy parser) and falls back to the
    deterministic fake — never a task failure — on undecodable payloads."""
    rng = np.random.default_rng(11)
    imgs = {i: rng.integers(0, 256, size=(8, 5), dtype=np.uint8) for i in range(3)}
    rows = [
        (i, "image", bytearray(multimodal.encode_bmp(img)),
         {"width": 5, "height": 8, "sample_rate": 0, "n_frames": 1, "format": "bmp"})
        for i, img in imgs.items()
    ]
    m = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    got = {r["media_id"]: r for r in multimodal.decode_and_featurize(m, real=True).collect()}
    for i, img in imgs.items():
        assert got[i]["mean_px"] == pytest.approx(float(img.mean()), abs=1e-12)
        assert got[i]["std_px"] == pytest.approx(float(img.std()), abs=1e-12)
        assert got[i]["n_bytes"] == len(multimodal.encode_bmp(img))

    # undecodable payloads: real=True degrades to the fake path per-row
    fake = multimodal.synthetic_media(spark, 4)
    want = sorted(map(tuple, multimodal.decode_and_featurize(fake).collect()))
    have = sorted(map(tuple, multimodal.decode_and_featurize(fake, real=True).collect()))
    assert have == want


def test_frame_sample_and_resize(spark):
    m = multimodal.synthetic_media(spark, 64)
    fs = multimodal.frame_sample(m, every_k=8)
    assert fs.filter(F.col("frame_idx") % 8 != 0).count() == 0
    rp = multimodal.resize_plan(m, target=224).collect()
    assert all(min(r["out_width"], r["out_height"]) == 224 for r in rp)


def test_winnowing_fingerprints(spark):
    from linkgraph.operators.textstats import winnowing_fingerprints

    base = "the quick brown fox jumps over the lazy dog and runs far away home tonight"
    shifted = "PREFIX WORDS HERE " + base  # shared run >> window+k-1
    other = "completely different content with no overlap whatsoever in any token stream"
    d = spark.createDataFrame(
        [(1, base), (2, shifted), (3, other)], "doc_id long, text string"
    )
    fps = {i: set() for i in (1, 2, 3)}
    for r in winnowing_fingerprints(d, k=3, window=4).collect():
        fps[r["id"]].add(r["fp"])
    # winnowing guarantee: long shared runs share fingerprints, regardless
    # of the position shift; disjoint texts share none
    assert len(fps[1] & fps[2]) >= 1
    assert not (fps[1] & fps[3])
    # subsampling: far fewer fingerprints than grams
    n_grams = len(base.split()) - 2
    assert len(fps[1]) < n_grams
    # the md5 oracle family keeps the same guarantees (string mins)
    fps5 = {i: set() for i in (1, 2, 3)}
    for r in winnowing_fingerprints(d, k=3, window=4, hash_family="md5").collect():
        fps5[r["id"]].add(r["fp"])
    assert len(fps5[1] & fps5[2]) >= 1
    assert not (fps5[1] & fps5[3])
    assert len(fps5[1]) < n_grams
    import pytest as _pytest

    with _pytest.raises(ValueError):
        winnowing_fingerprints(d, hash_family="sha9000")


def test_ivf_topk_recall(spark, emb):
    q = emb.filter(F.col("vec_id") < 10)
    exact = similarity.cosine_topk(emb, q, k=5).collect()
    approx = similarity.ivf_topk(emb, q, k=5, n_cells=8, n_probe=4).collect()
    exact_set = {(r["query_id"], r["neighbor_id"]) for r in exact}
    approx_set = {(r["query_id"], r["neighbor_id"]) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall > 0.5  # probing half the cells must recover most of top-5
    # exact re-rank: any shared hit carries the exact cosine
    ex = {(r["query_id"], r["neighbor_id"]): r["cosine"] for r in exact}
    for r in approx:
        key = (r["query_id"], r["neighbor_id"])
        if key in ex:
            assert abs(r["cosine"] - ex[key]) < 1e-9

def test_hashed_shingles_equal_hashed_string_shingles(spark, docs):
    """hashed_shingles must be exactly the string shingle set mapped through
    xxhash64 — the minhash refactor (hash before the distinct shuffle)
    cannot change the per-doc shingle set."""
    from pyspark.sql import functions as F

    sample = docs.filter("doc_id < 30")
    via_strings = {
        (r["id"], r["h"])
        for r in dedup.shingles(sample)
        .select("id", F.xxhash64("shingle").alias("h"))
        .collect()
    }
    direct = {
        (r["id"], r["sh_hash"]) for r in dedup.hashed_shingles(sample).collect()
    }
    assert direct == via_strings


# ---- sampling & repetition & decontamination (round 3) ----

def test_repetition_hand_computed(spark):
    d = spark.createDataFrame(
        [
            (1, "a a a"),            # 3 toks, 1 distinct; 1 trigram, distinct
            (2, "a b a b a b"),      # 6 toks, 2 distinct; 4 trigrams, 2 distinct
            (3, "x y"),              # too short for trigrams
            (4, ""),                 # empty
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["dup_word_frac"], r["dup_trigram_frac"])
        for r in textstats.repetition(d).collect()
    }
    assert got[1] == (round(1 - 1 / 3, 8), 0.0)
    assert got[2] == (round(1 - 2 / 6, 8), round(1 - 2 / 4, 8))
    assert got[3] == (0.0, 0.0)
    assert got[4] == (0.0, 0.0)


def test_stratified_sample_deterministic_and_calibrated(spark, docs):
    from linkgraph.operators.sampling import stratified_sample

    rates = {"en": 0.25, "fr": 0.5}
    a = set(
        r["doc_id"]
        for r in stratified_sample(docs, rates).select("doc_id").collect()
    )
    # invariant under repartition AND re-run (stable-key rule, not rand())
    b = set(
        r["doc_id"]
        for r in stratified_sample(docs.repartition(13), rates)
        .select("doc_id")
        .collect()
    )
    assert a == b and len(a) > 0
    # per-stratum keep rates near nominal (binomial tolerance at this n)
    by_lang = {
        r["lang"]: r["n"]
        for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    kept = {
        r["lang"]: r["n"]
        for r in stratified_sample(docs, rates)
        .groupBy("lang")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    for lang, rate in rates.items():
        n = by_lang[lang]
        tol = 4 * (rate * (1 - rate) / n) ** 0.5  # 4 sigma
        assert abs(kept.get(lang, 0) / n - rate) < tol
    # unlisted strata default to keep-all; rate 0 drops a stratum entirely
    others = {l for l in by_lang if l not in rates}
    assert all(kept.get(l, 0) == by_lang[l] for l in others)
    none = stratified_sample(docs, {"en": 0.0}, default_rate=0.0).count()
    assert none == 0


def test_decontaminate_shared_shingle(spark, tmp_path):
    import __spark_entry__ as E

    # doc_ids chosen so md5 prefixes land in train (<'cd') and test (>='e6'):
    # md5('1')=c4ca.. -> train, md5('2')=c81e.. -> train, md5('6')=1679.. ->
    # train, md5('5')=e4da.. -> ... compute instead of guessing below.
    import hashlib

    def split_of(i):
        h = hashlib.md5(str(i).encode()).hexdigest()
        return "train" if h < "cd" else ("val" if h < "e6" else "test")

    train_id = next(i for i in range(100) if split_of(i) == "train")
    test_id = next(i for i in range(100) if split_of(i) == "test")
    clean_id = next(
        i for i in range(100) if split_of(i) == "test" and i != test_id
    )
    shared = "w1 w2 w3 w4 w5 w6 w7 w8"
    rows = [
        (train_id, f"prefix tokens here {shared} suffix tokens here", "en", "s", 1),
        (test_id, f"other opening words {shared} other closing words", "en", "s", 1),
        (clean_id, "totally disjoint vocabulary with no overlap at all zz", "en", "s", 1),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    sf = str(tmp_path)
    df.write.parquet(f"{sf}/documents.parquet")
    pairs = {
        (r["test_doc"], r["train_doc"])
        for r in E.q_decontaminate(spark, sf).collect()
    }
    assert pairs == {(test_id, train_id)}


def test_decode_bmp_short_palette_raises_and_kernel_survives(spark):
    """An 8-bit BMP whose palette is shorter than the max pixel index must
    raise ValueError (not IndexError) from decode_bmp, and the real kernel
    must fall back to the fake instead of failing the task."""
    import numpy as np

    # hand-build an 8-bpp BMP: 2x2, palette of 2 entries, a pixel index 5
    w = h = 2
    row_bytes = (w + 3) & ~3
    pal = bytes([0, 0, 0, 0, 255, 255, 255, 0])  # 2 BGRX entries
    data_off = 14 + 40 + len(pal)
    pixels = bytes([5, 1, 0, 0, 0, 1, 0, 0])  # index 5 out of range
    header = (
        b"BM" + (data_off + row_bytes * h).to_bytes(4, "little")
        + b"\x00\x00\x00\x00" + data_off.to_bytes(4, "little")
        + (40).to_bytes(4, "little") + w.to_bytes(4, "little")
        + h.to_bytes(4, "little") + (1).to_bytes(2, "little")
        + (8).to_bytes(2, "little") + (0).to_bytes(4, "little")
        + (row_bytes * h).to_bytes(4, "little") + b"\x00" * 8
        + (2).to_bytes(4, "little") + b"\x00" * 4
    )
    bad = header + pal + pixels
    with pytest.raises(ValueError, match="palette"):
        multimodal.decode_bmp(bad)
    df = spark.createDataFrame(
        [(1, "image", bytearray(bad), {"width": 2, "height": 2, "n_frames": 0})],
        "media_id long, kind string, payload binary, meta struct<width:int,height:int,n_frames:int>",
    )
    rows = multimodal.decode_and_featurize(df, real=True).collect()
    assert len(rows) == 1 and rows[0]["n_bytes"] == len(bad)


def test_decode_bmp_color_matches_pillow_formula():
    """Color BMP: luma must equal Pillow's exact fixed-point convert('L')."""
    import numpy as np

    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, (5, 7, 3), dtype=np.uint8)
    got = multimodal.decode_bmp(multimodal.encode_bmp(img))
    r, g, b = (img[:, :, i].astype(np.int64) for i in range(3))
    want = ((r * 19595 + g * 38470 + b * 7471 + 0x8000) >> 16).astype(np.uint8)
    assert np.array_equal(got, want)
    try:
        from PIL import Image
        pil = np.asarray(Image.fromarray(img).convert("L"))
        assert np.array_equal(got, pil)
    except ImportError:
        pass


def test_group_percentiles_vs_numpy(spark, docs):
    import numpy as np

    got = {
        r["lang"]: r
        for r in textstats.group_percentiles(docs, "n_chars", "lang").collect()
    }
    pdf = docs.select("lang", "n_chars").toPandas()
    for lang, grp in pdf.groupby("lang"):
        v = grp["n_chars"].to_numpy()
        assert got[lang]["n"] == len(v)
        for q, c in ((0.5, "p50"), (0.9, "p90"), (0.99, "p99")):
            assert abs(got[lang][c] - np.quantile(v, q)) < 1e-9


def test_unigram_xent_hand_computed(spark):
    import math

    # corpus: a a a b  -> p(a)=3/4, p(b)=1/4
    d = spark.createDataFrame(
        [(1, "a a a"), (2, "b")], "doc_id long, text string"
    )
    got = {r["id"]: r for r in textstats.unigram_xent(d).collect()}
    assert got[1]["n_tokens"] == 3 and got[2]["n_tokens"] == 1
    assert abs(got[1]["xent"] - (-math.log(0.75))) < 1e-12
    assert abs(got[2]["xent"] - (-math.log(0.25))) < 1e-12
    # the all-common-token doc is lower-entropy than the rare-token doc
    assert got[1]["xent"] < got[2]["xent"]


def test_unigram_xent_rare_vocab_scores_higher(spark, docs):
    from pyspark.sql import functions as F

    scored = textstats.unigram_xent(docs)
    # the corpus's own docs: entropy bounded by ln(vocab), all positive
    stats = scored.agg(
        F.min("xent"), F.max("xent"), F.count("*")
    ).first()
    assert stats[2] == docs.count()
    assert 0.0 < stats[0] <= stats[1]


def test_label_centroids_hand_computed(spark):
    d = spark.createDataFrame(
        [
            (1, [1.0, 0.0], 7),
            (2, [3.0, 2.0], 7),
            (3, [0.0, 4.0], 8),
        ],
        "vec_id long, embedding array<float>, label int",
    )
    got = {r["label"]: r for r in similarity.label_centroids(d).collect()}
    assert got[7]["n_vecs"] == 2 and got[8]["n_vecs"] == 1
    assert [round(v, 9) for v in got[7]["centroid"]] == [2.0, 1.0]
    assert [round(v, 9) for v in got[8]["centroid"]] == [0.0, 4.0]


def test_centroid_cosines_vs_numpy(spark, emb):
    got = {r["vec_id"]: r["cosine"] for r in similarity.centroid_cosines(emb).collect()}
    ep = emb.toPandas()
    M = np.stack(ep["embedding"].to_numpy()).astype(np.float64)
    labels = ep["label"].to_numpy()
    ids = ep["vec_id"].to_numpy()
    for lab in np.unique(labels):
        c = M[labels == lab].mean(axis=0)
        for i in np.where(labels == lab)[0]:
            v = M[i]
            exp = float(v @ c / (np.linalg.norm(v) * np.linalg.norm(c)))
            assert abs(got[int(ids[i])] - exp) < 1e-6
    # vectors correlate positively with their own cluster mean on average
    # (the synthetic embeddings are weakly clustered: ~0.14 here)
    assert np.mean([got[int(i)] for i in ids]) > 0.0


# ---- BM25 ----

def _bm25_replica(texts, terms, k1=1.2, b=0.75):
    import math
    import re

    toks = [re.sub(r"\s+", " ", t.strip().lower()).split(" ") for t in texts]
    n = len(toks)
    avgdl = sum(len(t) for t in toks) / n
    df = {t: sum(1 for d in toks if t in d) for t in terms}
    out = []
    for d in toks:
        s = 0.0
        for t in terms:
            tf = sum(1 for x in d if x == t)
            idf = math.log((n - df[t] + 0.5) / (df[t] + 0.5) + 1.0)
            s += idf * tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * len(d) / avgdl))
        out.append(s)
    return out


def test_bm25_matches_replica(spark):
    texts = [
        "the fast query engine joins the table",
        "a slow scan of the table  table",
        "window functions and aggregates",
        "query the query planner",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    terms = ["query", "table"]
    got = {
        r["id"]: r for r in textstats.bm25_scores(df, terms).collect()
    }
    want = _bm25_replica(texts, terms)
    for i in range(len(texts)):
        assert got[i]["bm25"] == pytest.approx(want[i], rel=1e-12)
    # doc 2 matches neither term
    assert got[2]["n_matched"] == 0 and got[2]["bm25"] == 0.0
    # doc 3 has tf(query)=2; more matches -> higher than single-tf doc 0's
    # query contribution alone
    assert got[3]["n_matched"] == 1
    # dl counts whitespace-collapsed tokens ("table  table" is 2 tokens)
    assert got[1]["dl"] == 7


def test_bm25_term_validation(spark, docs):
    with pytest.raises(ValueError):
        textstats.bm25_scores(docs, [])
    with pytest.raises(ValueError):
        textstats.bm25_scores(docs, [f"t{i}" for i in range(65)])
    # duplicate terms dedupe rather than double-count
    one = textstats.bm25_scores(docs.limit(50), ["table"])
    two = textstats.bm25_scores(docs.limit(50), ["table", "table"])
    a = {r["id"]: r["bm25"] for r in one.collect()}
    b = {r["id"]: r["bm25"] for r in two.collect()}
    assert a == b


def test_bm25_rare_term_outranks_common(spark, docs):
    # idf is monotone-decreasing in df: a term present in every doc adds
    # near-zero; ranking is driven by the rarer term
    rows = textstats.bm25_scores(docs, ["merge"]).collect()
    hit = [r for r in rows if r["n_matched"] == 1]
    miss = [r for r in rows if r["n_matched"] == 0]
    assert hit and miss
    assert min(r["bm25"] for r in hit) > max(r["bm25"] for r in miss)


# ---- TF-IDF top-k terms ----

def test_tfidf_top_terms_hand_computed(spark):
    import math

    texts = ["apple banana apple", "banana cherry", "cherry cherry date"]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    rows = textstats.tfidf_top_terms(df, k=2).collect()
    got = {(r["id"], r["rank"]): (r["term"], r["tfidf"]) for r in rows}

    def idf(dfreq):
        return math.log(4.0 / (1.0 + dfreq)) + 1.0

    # doc 0: apple tf=2 df=1 -> 2*idf(1); banana tf=1 df=2 -> idf(2)
    assert got[(0, 1)][0] == "apple"
    assert got[(0, 1)][1] == pytest.approx(2 * idf(1), rel=1e-12)
    assert got[(0, 2)][0] == "banana"
    # doc 1: banana and cherry both tf=1 df=2 — exact tie, term asc
    assert got[(1, 1)][0] == "banana" and got[(1, 2)][0] == "cherry"
    assert got[(1, 1)][1] == got[(1, 2)][1]
    # doc 2: cherry tf=2 beats date tf=1 df=1
    assert got[(2, 1)][0] == "cherry"
    assert got[(2, 2)][0] == "date"
    # k respected
    assert all(r["rank"] <= 2 for r in rows) and len(rows) == 6


def test_tfidf_top_terms_repartition_invariant(spark, docs):
    a = {
        (r["id"], r["rank"]): r["term"]
        for r in textstats.tfidf_top_terms(docs, k=3).collect()
    }
    b = {
        (r["id"], r["rank"]): r["term"]
        for r in textstats.tfidf_top_terms(docs.repartition(13), k=3).collect()
    }
    assert a == b and len(a) > 0


def test_bm25_terms_normalized_and_validated(spark):
    texts = ["the table of tables", "no match here"]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    # uppercase / padded terms hit the lowercased token stream
    a = {r["id"]: r["bm25"] for r in textstats.bm25_scores(df, ["table"]).collect()}
    b = {r["id"]: r["bm25"] for r in textstats.bm25_scores(df, [" Table "]).collect()}
    assert a == b and a[0] > 0.0
    with pytest.raises(ValueError):
        textstats.bm25_scores(df, ["two words"])
    with pytest.raises(ValueError):
        textstats.bm25_scores(df, ["  "])


def test_simhash_md5_family_semantics(spark):
    # identical docs -> identical digest; near-dup -> small nibble-level
    # difference; disjoint vocab -> large difference (all deterministic)
    base = "the quick brown fox jumps over the lazy dog again and again " * 5
    near = base + "one extra trailing sentence appended here"
    far = "completely different content about spark dataframes and shuffles " * 5
    d = spark.createDataFrame(
        [(1, base), (2, base), (3, near), (4, far)],
        "doc_id long, text string",
    )
    sh = {r["id"]: r["simhash60"] for r in dedup.simhash_md5(d).collect()}
    assert all(len(v) == 15 for v in sh.values())
    assert sh[1] == sh[2]

    def bits(h):
        return "".join(f"{int(c, 16):04b}" for c in h)

    def ham(a, b):
        return sum(x != y for x, y in zip(bits(a), bits(b)))

    assert ham(sh[1], sh[3]) <= 12  # near-dup: most majority bits survive
    assert ham(sh[1], sh[4]) > ham(sh[1], sh[3])


def test_lsh_md5_recall_and_invariance(spark, emb):
    # md5-plane LSH: candidates are a subset of exact top-k space with
    # useful recall at these settings, and the result is partitioning-
    # invariant (bucket assignment is exact integer arithmetic)
    q = emb.filter(F.col("vec_id") < 10)
    exact = similarity.cosine_topk(emb, q, k=5).collect()
    approx = similarity.lsh_topk_md5(emb, q, k=5, bits=4, tables=8).collect()
    exact_set = {(r["query_id"], r["neighbor_id"]) for r in exact}
    approx_set = {(r["query_id"], r["neighbor_id"]) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    # deterministic at these settings on this 500-vector fixture
    # (measured 0.64; bits sized to corpus like any LSH deployment)
    assert recall >= 0.5

    again = similarity.lsh_topk_md5(
        emb.repartition(13), q, k=5, bits=4, tables=8
    ).collect()
    key = lambda r: (r["query_id"], r["rank"])
    assert sorted(map(tuple, again), key=lambda t: (t[0], t[3])) == sorted(
        map(tuple, approx), key=lambda t: (t[0], t[3])
    )


def test_lsh_md5_dims_mismatch_raises(spark):
    """A vector whose length is not ``dims`` fails loudly instead of being
    null-padded into the all-"0" bucket."""
    vec = [float(i % 3) - 1.0 for i in range(8)]
    emb = spark.createDataFrame(
        [(1, vec), (2, vec[:5]), (3, vec[::-1])], "vec_id long, embedding array<float>"
    )
    good = emb.filter(F.col("vec_id") != 2)
    rows = similarity.lsh_topk_md5(good, good, k=1, bits=2, tables=1, dims=8).collect()
    assert {r["query_id"] for r in rows} <= {1, 3}
    with pytest.raises(Exception, match="2 has 5 dims, expected 8"):
        similarity.lsh_topk_md5(emb, good, k=1, bits=2, tables=1, dims=8).collect()


def test_ivf_quant_recall_and_invariance(spark, emb):
    q = emb.filter(F.col("vec_id") < 10)
    exact = similarity.cosine_topk(emb, q, k=5).collect()
    approx = similarity.ivf_topk_quant(emb, q, k=5, n_cells=8, n_probe=4).collect()
    es = {(r["query_id"], r["neighbor_id"]) for r in exact}
    aps = {(r["query_id"], r["neighbor_id"]) for r in approx}
    assert len(es & aps) / len(es) >= 0.5  # deterministic on this fixture
    again = similarity.ivf_topk_quant(
        emb.repartition(13), q, k=5, n_cells=8, n_probe=4
    ).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, approx))


def test_corpus_job_cli(spark, tmp_path):
    # the spark-submit corpus pipeline end-to-end: stages shrink
    # monotonically, gate reasons partition the post-dedup survivors,
    # and the kept parquet matches the reported count
    import sys

    sys.path.insert(0, "/root/repo")
    from jobs.corpus_job import main

    out_dir = str(tmp_path / "kept")
    res = main(
        [
            "--documents", f"{SF}/documents.parquet",
            "--output", out_dir,
            "--num-hashes", "16", "--bands", "8",
        ]
    )
    s = res["stages"]
    assert s["input"] >= s["after_exact_dedup"] >= s["after_neardup"] >= s["after_gates"]
    assert sum(res["gate_reasons"].values()) == s["after_neardup"]
    assert res["kept"] == s["after_gates"]
    assert spark.read.parquet(out_dir).count() == res["kept"]
