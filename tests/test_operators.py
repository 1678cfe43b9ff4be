"""Operator tests: dedup, similarity, text, relational, multimodal."""

import datetime
import math
import os

import pytest
from pyspark.sql import functions as F

from thoth_spark.operators import curation, dedup, lm, multimodal, relational, similarity, text


# ---------------------------------------------------------------------------
# text
# ---------------------------------------------------------------------------


def test_text_stats_and_fingerprint(spark):
    df = spark.createDataFrame(
        [(1, "The quick  brown fox"), (2, "the quick brown fox")], "id long, text string"
    )
    stats = text.text_stats(df, "text").collect()
    r = {x["id"]: x for x in stats}
    assert r[1]["n_tokens"] == 4
    assert r[1]["n_distinct_tokens"] == 4
    assert r[1]["stopword_ratio"] == pytest.approx(0.25)
    # normalization makes 1 and 2 identical fingerprints
    fps = df.select(text.fingerprint(F.col("text")).alias("fp")).collect()
    assert fps[0]["fp"] == fps[1]["fp"]


def test_word_ngrams(spark):
    df = spark.createDataFrame([(1, "a b c d")], "id long, text string")
    grams = df.select(text.word_ngrams(F.col("text"), 3).alias("g")).first()["g"]
    assert grams == ["a b c", "b c d"]
    short = spark.createDataFrame([(1, "a b")], "id long, text string")
    assert short.select(text.word_ngrams(F.col("text"), 3).alias("g")).first()["g"] == []


def test_language_id(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog of the house is here"),
            (2, "el gato y la casa que es de los perros"),
            (3, "der Hund und die Katze ist das Tier"),
            (4, "xyzzy plugh"),
        ],
        "id long, text string",
    )
    got = {r["id"]: r["lang"] for r in df.select("id", text.language_id(F.col("text")).alias("lang")).collect()}
    assert got == {1: "en", 2: "es", 3: "de", 4: "und"}


def test_quality_score_range(spark, documents_df):
    q = text.quality_score(documents_df, "text")
    mn, mx = q.agg(F.min("quality_score"), F.max("quality_score")).first()
    assert 0.0 <= mn <= mx <= 1.0


# ---------------------------------------------------------------------------
# dedup
# ---------------------------------------------------------------------------


def test_exact_dedup_deterministic(spark):
    df = spark.createDataFrame(
        [(3, "dup"), (1, "dup"), (2, "uniq"), (5, "dup")], "id long, text string"
    )
    out = dedup.exact_dedup(df, ["text"], "id").collect()
    assert {(r["id"], r["text"]) for r in out} == {(1, "dup"), (2, "uniq")}


def test_exact_text_dedup_normalizes(spark):
    df = spark.createDataFrame(
        [(2, "Hello  World"), (1, "hello world"), (3, "bye")], "id long, text string"
    )
    out = dedup.exact_text_dedup(df, "text", "id")
    assert {r["id"] for r in out.collect()} == {1, 3}


@pytest.fixture(scope="module")
def neardup_df(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    mutated = "the quick brown fox jumps over the lazy dog again and again tomorrow"
    other = "completely different words about spark query engines and shuffles here"
    return spark.createDataFrame(
        [(1, base), (2, mutated), (3, other), (4, base + " extra")],
        "id long, text string",
    )


def test_ngram_jaccard_pairs(spark, neardup_df):
    pairs = dedup.ngram_jaccard_pairs(neardup_df, "id", "text", n=3, threshold=0.5)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (1, 2) in got
    assert (1, 4) in got
    assert all(3 not in p for p in got)
    # independent check of one jaccard value
    row = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs.collect()}[(1, 2)]
    a = set(" ".join(w) for w in zip(*[iter([])] * 1))  # placeholder no-op
    def grams(s, n=3):
        t = s.split()
        return {" ".join(t[i : i + n]) for i in range(len(t) - n + 1)}
    g1, g2 = grams("the quick brown fox jumps over the lazy dog again and again today"), grams(
        "the quick brown fox jumps over the lazy dog again and again tomorrow"
    )
    assert row == pytest.approx(len(g1 & g2) / len(g1 | g2), abs=1e-6)


def test_minhash_dedup(spark, neardup_df):
    out = dedup.minhash_dedup(neardup_df, "id", "text", threshold=0.5)
    ids = {r["id"] for r in out.collect()}
    assert 1 in ids and 3 in ids  # survivors
    assert 2 not in ids  # near-dup of 1 with larger id → dropped


def test_minhash_candidates_superset_check(spark, neardup_df):
    sigs = dedup.minhash_signatures(neardup_df, "id", "text", num_hashes=32)
    cands = {(r["id_a"], r["id_b"]) for r in dedup.minhash_lsh_pairs(sigs).collect()}
    assert (1, 2) in cands or (1, 4) in cands  # high-sim pairs found


def test_minhash_incremental_union_equivalence(spark, documents_df):
    """Incremental LSH pairing (new batch vs stored band index) must
    satisfy: index-build pairs ∪ incremental pairs == one full-corpus
    run — i.e. growing the corpus batch-by-batch loses no candidate
    pair and re-finds no indexed×indexed pair."""
    sh = dedup.shingle_sets(documents_df, "doc_id", "text", n=3).cache()
    split = 400
    sigs_all = dedup.minhash_signatures(documents_df, "doc_id", "text", shingles=sh)
    full = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_lsh_pairs(sigs_all).collect()
    }
    sigs_old = dedup.minhash_signatures(
        documents_df, "doc_id", "text", shingles=sh.where(F.col("id") < split)
    )
    sigs_new = dedup.minhash_signatures(
        documents_df, "doc_id", "text", shingles=sh.where(F.col("id") >= split)
    )
    index_pairs = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_lsh_pairs(sigs_old).collect()
    }
    incr = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_lsh_pairs_incremental(
            dedup.minhash_bands(sigs_new), dedup.minhash_bands(sigs_old)
        ).collect()
    }
    assert index_pairs | incr == full
    # no indexed×indexed pair leaks into the incremental result
    assert all(a >= split or b >= split for a, b in incr)
    assert incr  # the fixture's duplicate pairs straddle the split


def test_simhash_incremental_union_equivalence(spark, documents_df):
    """SimHash twin of the minhash incremental contract: index pairs ∪
    incremental pairs == full-corpus pairs, with no indexed×indexed pair
    in the incremental result."""
    split, mh, blocks = 400, 3, 6
    hashes = dedup.simhash(documents_df, "doc_id", "text").cache()
    full = {
        (r["id_a"], r["id_b"])
        for r in dedup.simhash_near_dup_pairs(hashes, mh, blocks).collect()
    }
    old_h = hashes.where(F.col("id") < split)
    new_h = hashes.where(F.col("id") >= split)
    index_pairs = {
        (r["id_a"], r["id_b"])
        for r in dedup.simhash_near_dup_pairs(old_h, mh, blocks).collect()
    }
    incr_rows = dedup.simhash_pairs_incremental(
        dedup.simhash_chunks(new_h, mh, blocks),
        dedup.simhash_chunks(old_h, mh, blocks),
        mh,
    ).collect()
    incr = {(r["id_a"], r["id_b"]) for r in incr_rows}
    assert index_pairs | incr == full
    assert all(a >= split or b >= split for a, b in incr)
    assert all(r["hamming"] <= mh for r in incr_rows)
    hashes.unpersist()


def test_simhash_near_dups(spark, neardup_df):
    hashes = dedup.simhash(neardup_df, "id", "text")
    rows = {r["id"]: (r["sim_hi"], r["sim_lo"]) for r in hashes.collect()}
    assert all(0 <= h < 2**32 for pair in rows.values() for h in pair)
    pairs = dedup.simhash_near_dup_pairs(hashes, max_hamming=8, blocks=9)
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs.collect()}
    assert (1, 2) in got  # one-word difference → tiny hamming distance
    # identical-prefix doc 4 also close to 1
    assert got[(1, 2)] <= 8


def test_simhash_pairs_complete_recall(spark, documents_df):
    """Block-combination candidate generation must find EVERY pair within
    the distance — cross-check against brute-force all-pairs on the test
    corpus, for several (max_hamming, blocks) configurations."""
    hashes = dedup.simhash(documents_df, "doc_id", "text").cache()
    rows = [(r["id"], r["sim_hi"], r["sim_lo"]) for r in hashes.collect()]
    for max_hamming, blocks in [(3, 6), (2, 6), (5, 6), (0, 6)]:
        expected = set()
        for i in range(len(rows)):
            for j in range(i + 1, len(rows)):
                (ia, hia, loa), (ib, hib, lob) = rows[i], rows[j]
                d = bin(hia ^ hib).count("1") + bin(loa ^ lob).count("1")
                if d <= max_hamming:
                    a, b = sorted((ia, ib))
                    expected.add((a, b, d))
        got = {
            (r["id_a"], r["id_b"], r["hamming"])
            for r in dedup.simhash_near_dup_pairs(
                hashes, max_hamming=max_hamming, blocks=blocks
            ).collect()
        }
        assert got == expected, f"hamming<={max_hamming}, blocks={blocks}"


def test_simhash_pairs_validates_params(spark, neardup_df):
    hashes = dedup.simhash(neardup_df, "id", "text")
    with pytest.raises(ValueError, match="must exceed max_hamming"):
        dedup.simhash_near_dup_pairs(hashes, max_hamming=6, blocks=6)
    with pytest.raises(ValueError, match="combination tables"):
        dedup.simhash_near_dup_pairs(hashes, max_hamming=8, blocks=17)
    with pytest.raises(ValueError, match=">= 0"):
        dedup.simhash_near_dup_pairs(hashes, max_hamming=-1)


def test_ngram_jaccard_cap_drops_stop_shingles(spark):
    """A shingle present in every document (the skew killer) is pruned by
    the finite default cap; pairs must match a hand-computed oracle
    restricted to the capped shingle set."""
    stop = "lorem ipsum dolor sit amet"
    docs = [
        (1, f"{stop} alpha beta gamma delta epsilon"),
        (2, f"{stop} alpha beta gamma delta zeta"),
        (3, f"{stop} totally different content here now"),
        (4, f"{stop} unrelated words fill this document"),
    ]
    df = spark.createDataFrame(docs, "id long, text string")

    def grams(s, n=3):
        t = s.split()
        return {" ".join(t[i : i + n]) for i in range(len(t) - n + 1)}

    all_grams = [grams(t) for _, t in docs]
    from collections import Counter

    freq = Counter(g for gs in all_grams for g in gs)
    cap = 2
    capped = [{g for g in gs if freq[g] <= cap} for gs in all_grams]
    expected = {}
    for i in range(len(docs)):
        for j in range(i + 1, len(docs)):
            inter = len(capped[i] & capped[j])
            union = len(all_grams[i]) + len(all_grams[j]) - inter
            if union and inter / union >= 0.2:
                expected[(docs[i][0], docs[j][0])] = inter / union
    pairs = dedup.ngram_jaccard_pairs(
        df, "id", "text", n=3, threshold=0.2, max_shingle_df=cap, log_dropped=True
    )
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs.collect()}
    assert set(got) == set(expected)
    for k, v in expected.items():
        assert got[k] == pytest.approx(v, abs=1e-6)
    # uncapped: the shared stop-shingles glue unrelated docs together
    uncapped = dedup.ngram_jaccard_pairs(
        df, "id", "text", n=3, threshold=0.2, max_shingle_df=None
    )
    assert uncapped.count() > len(expected)


# ---------------------------------------------------------------------------
# similarity
# ---------------------------------------------------------------------------


def test_brute_force_topk(spark, embeddings_df):
    queries = embeddings_df.where(F.col("vec_id") < 3)
    out = dedup_free = similarity.brute_force_topk(embeddings_df, queries, k=5)
    rows = out.collect()
    assert len(rows) == 15  # 3 queries x 5
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    for q, rs in by_q.items():
        sims = [r["cos_sim"] for r in sorted(rs, key=lambda r: r["rank"])]
        assert sims == sorted(sims, reverse=True)
        assert all(r["neighbor_id"] != q for r in rs)
        assert all(-1.000001 <= r["cos_sim"] <= 1.000001 for r in rs)


def test_brute_force_topk_matches_numpy(spark, embeddings_df):
    import numpy as np

    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=float) for r in embeddings_df.collect()}
    q = 0
    qv = vecs[q]
    sims = {
        i: float(np.dot(qv, v) / (np.linalg.norm(qv) * np.linalg.norm(v)))
        for i, v in vecs.items()
        if i != q
    }
    expected_top = sorted(sims.items(), key=lambda kv: (-kv[1], kv[0]))[:5]
    out = similarity.brute_force_topk(
        embeddings_df, embeddings_df.where(F.col("vec_id") == q), k=5
    ).orderBy("rank")
    got = [(r["neighbor_id"], r["cos_sim"]) for r in out.collect()]
    for (ei, es), (gi, gs) in zip(expected_top, got):
        assert ei == gi
        assert gs == pytest.approx(es, abs=1e-5)


def test_hyperplane_lsh_recall(spark, embeddings_df):
    queries = embeddings_df.where(F.col("vec_id") < 10)
    exact = similarity.brute_force_topk(embeddings_df, queries, k=3)
    approx = similarity.hyperplane_lsh_topk(embeddings_df, queries, k=3, nbits=6)
    exact_set = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    approx_set = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.4  # approximate, but must find a decent share


def test_ivf_topk_runs(spark, embeddings_df):
    queries = embeddings_df.where(F.col("vec_id") < 5)
    out = similarity.ivf_topk(embeddings_df, queries, k=3, n_centroids=8, nprobe=3)
    rows = out.collect()
    assert len(rows) == 15
    assert all(r["neighbor_id"] != r["query_id"] for r in rows)


def test_quantized_topk_equals_brute_force(spark, embeddings_df):
    """int8 first pass + 10× rerank margin must recover the exact top-k;
    the quantized approximate scores themselves must sit within
    quantization error of the truth."""
    queries = embeddings_df.where(F.col("vec_id") < 5)
    exact = sorted(
        (r["query_id"], r["rank"], r["neighbor_id"])
        for r in similarity.brute_force_topk(embeddings_df, queries, k=3).collect()
    )
    quant = sorted(
        (r["query_id"], r["rank"], r["neighbor_id"])
        for r in similarity.quantized_topk(embeddings_df, queries, k=3).collect()
    )
    assert quant == exact


def test_scalar_quantize_bounds_and_error(spark, embeddings_df):
    from pyspark.sql import functions as F2

    q = similarity.scalar_quantize(embeddings_df.limit(50))
    rows = q.select(
        F2.array_max(F2.transform("qvec", lambda x: F2.abs(x))).alias("m"),
        "scale",
        "vnorm",
    ).collect()
    assert all(r["m"] <= 127 for r in rows)
    assert all(r["scale"] > 0 and r["vnorm"] > 0 for r in rows)


def test_ivf_full_probe_equals_brute_force(spark, embeddings_df):
    """Probing every cell removes the approximation entirely — IVF must
    then return exactly the brute-force neighbor set (the partition-scan
    machinery itself loses nothing); partial probes must keep decent
    recall of that set."""
    queries = embeddings_df.where(F.col("vec_id") < 5)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.brute_force_topk(embeddings_df, queries, k=3).collect()
    }
    full = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.ivf_topk(
            embeddings_df, queries, k=3, n_centroids=8, nprobe=8
        ).collect()
    }
    assert full == exact
    partial = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.ivf_topk(
            embeddings_df, queries, k=3, n_centroids=8, nprobe=4
        ).collect()
    }
    assert len(partial & exact) / len(exact) >= 0.5


# ---------------------------------------------------------------------------
# relational
# ---------------------------------------------------------------------------


def test_asof_join(spark):
    t = datetime.datetime(2024, 1, 1)

    def at(m):
        return t + datetime.timedelta(minutes=m)

    left = spark.createDataFrame(
        [(1, at(5), "l1"), (1, at(20), "l2"), (2, at(3), "l3")],
        "k long, ts timestamp, lv string",
    )
    right = spark.createDataFrame(
        [(1, at(0), 10.0), (1, at(10), 20.0), (2, at(4), 30.0)],
        "k long, ts timestamp, rv double",
    )
    out = relational.asof_join(left, right, on=["k"])
    got = {(r["k"], r["lv"]): r["rv_asof"] for r in out.collect()}
    assert got == {(1, "l1"): 10.0, (1, "l2"): 20.0, (2, "l3"): None}


def test_sessionize(spark):
    t = datetime.datetime(2024, 1, 1)
    rows = [
        (1, t),
        (1, t + datetime.timedelta(minutes=10)),
        (1, t + datetime.timedelta(minutes=50)),  # gap 40m > 30m → new session
        (2, t),
    ]
    df = spark.createDataFrame(rows, "user long, ts timestamp")
    out = relational.sessionize(df, ["user"], "ts", gap_seconds=1800)
    got = sorted((r["user"], r["ts"].minute, r["session_id"]) for r in out.collect())
    assert got == [(1, 0, 1), (1, 10, 1), (1, 50, 2), (2, 0, 1)]


def test_top_k_per_group(spark):
    df = spark.createDataFrame(
        [("a", 1), ("a", 3), ("a", 2), ("b", 9)], "g string, v long"
    )
    out = relational.top_k_per_group(df, ["g"], "v", k=2)
    got = {(r["g"], r["v"], r["rank"]) for r in out.collect()}
    assert got == {("a", 3, 1), ("a", 2, 2), ("b", 9, 1)}


# ---------------------------------------------------------------------------
# multimodal
# ---------------------------------------------------------------------------


def test_multimodal_stub_pipeline(spark, documents_df):
    with_bin = multimodal.attach_binary(documents_df.limit(20), "text")
    decoded = multimodal.decode_stub(with_bin)
    rows = decoded.collect()
    assert len(rows) == 20
    for r in rows:
        assert len(r["media_md5"]) == 32
        assert r["media_bytes"] == len(r["text"].encode())
        assert 16 <= r["width"] <= 16 + 255
        assert r["format"] in ("png", "jpeg", "webp")
    # determinism
    again = {r["doc_id"]: r["media_md5"] for r in multimodal.decode_stub(with_bin).collect()}
    assert again == {r["doc_id"]: r["media_md5"] for r in rows}


def test_frame_sample_stub(spark, documents_df):
    with_bin = multimodal.attach_binary(documents_df.limit(3), "text")
    frames = multimodal.frame_sample_stub(with_bin).collect()
    assert len(frames) > 3  # 1→N explode
    assert all(f["frame_idx"] >= 0 for f in frames)


def test_decode_real_raises_without_pil(spark, documents_df):
    """When Pillow is absent, decode_real must fail LOUDLY at call time
    with injection instructions — never return garbage (skipped where
    PIL exists; its twin below then exercises the real path)."""
    try:
        import PIL  # noqa: F401

        pytest.skip("Pillow installed: the real-decode twin covers this")
    except ImportError:
        pass
    with pytest.raises(NotImplementedError):
        multimodal.decode_real(documents_df)


def test_decode_real_with_pil(spark):
    """r12 verdict #8: exercise the PIL-backed decoder when the codec
    library IS available (skipped otherwise), so the real-codec
    plumbing — mapInPandas schema, per-batch decode, metadata fields —
    stays honest instead of only ever raising."""
    Image = pytest.importorskip("PIL.Image")
    import io

    def png_bytes(w, h, mode):
        buf = io.BytesIO()
        Image.new(mode, (w, h), 0).save(buf, format="PNG")
        return buf.getvalue()

    rows = [
        (0, png_bytes(7, 5, "L")),
        (1, png_bytes(16, 16, "RGB")),
        (2, png_bytes(3, 9, "RGBA")),
    ]
    df = spark.createDataFrame(rows, "doc_id long, content binary")
    out = {r["doc_id"]: r for r in multimodal.decode_real(df).collect()}
    assert (out[0]["width"], out[0]["height"], out[0]["n_channels"]) == (7, 5, 1)
    assert (out[1]["width"], out[1]["height"], out[1]["n_channels"]) == (16, 16, 3)
    assert (out[2]["width"], out[2]["height"], out[2]["n_channels"]) == (3, 9, 4)
    assert all(r["format"] == "png" for r in out.values())
    assert all(r["media_bytes"] > 0 for r in out.values())


def _ref_dhash(blob: bytes) -> tuple[int, int]:
    """Independent dHash reference: direct loops, no shared helpers —
    guards the operator's packing convention and grid bounds."""
    import re as _re

    import numpy as np

    m = _re.match(rb"(P[56])\s+(\d+)\s+(\d+)\s+(\d+)\s", blob)
    magic, w, h = m.group(1), int(m.group(2)), int(m.group(3))
    nc = 3 if magic == b"P6" else 1
    px = np.frombuffer(blob, dtype=np.uint8, count=w * h * nc, offset=m.end())
    px = px.reshape(h, w, nc).astype(float)
    g = (
        0.299 * px[..., 0] + 0.587 * px[..., 1] + 0.114 * px[..., 2]
        if nc == 3
        else px[..., 0]
    )
    # same block bounds as np.array_split: first (n % k) blocks get the
    # extra element
    def bounds(n, k):
        base, rem = divmod(n, k)
        out, s = [0], 0
        for i in range(k):
            s += base + (1 if i < rem else 0)
            out.append(s)
        return out

    rb, cb = bounds(h, 8), bounds(w, 9)
    grid = [
        [g[rb[r] : rb[r + 1], cb[c] : cb[c + 1]].mean() for c in range(9)]
        for r in range(8)
    ]
    hi = lo = 0
    for r in range(8):
        for c in range(8):
            if grid[r][c] > grid[r][c + 1]:
                k = r * 8 + c
                if k < 32:
                    lo |= 1 << k
                else:
                    hi |= 1 << (k - 32)
    return hi, lo


def test_image_phash_matches_independent_reference(spark, documents_df):
    textured = multimodal.synth_ppm_textured(documents_df.limit(12))
    blobs = {r["doc_id"]: bytes(r["content"]) for r in textured.collect()}
    got = {
        r["id"]: (r["sim_hi"], r["sim_lo"])
        for r in multimodal.image_phash(textured).collect()
    }
    assert len(got) == 12
    for did, blob in blobs.items():
        assert got[did] == _ref_dhash(blob), f"doc {did}"
        assert 0 <= got[did][0] < 2**32 and 0 <= got[did][1] < 2**32


def test_image_near_dup_pairs_equal_text_dup_ground_truth(spark, documents_df):
    """The textured-synth fixture maps exact text dups to exact image
    dups; with 64-bit hashes, distinct texts landing within hamming 3 is
    ~C(64,<=3)/2**64 per pair — so the image near-dup pairs must equal
    the normalized-text duplicate pairs exactly."""
    import pyspark.sql.functions as F
    from thoth_spark.operators.text import fingerprint

    base = documents_df.select("doc_id", "text").limit(60)
    # the corpus has no exact normalized-text dups, so plant case- and
    # whitespace-variants — the synth's Python-side normalization must
    # agree with text.fingerprint's SQL normalization for these to pair
    variants = (
        base.limit(8)
        .select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"),
            F.concat(
                F.lit("  "),
                F.regexp_replace(F.upper("text"), " ", "  "),
                F.lit(" "),
            ).alias("text"),
        )
    )
    docs = base.unionByName(variants)
    textured = multimodal.synth_ppm_textured(docs)
    got = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in multimodal.image_near_dup_pairs(textured, max_hamming=3).collect()
    }
    truth = docs.withColumn("fp", fingerprint(F.col("text")))
    a, b = truth.alias("a"), truth.alias("b")
    want = {
        (r["id_a"], r["id_b"], 0)
        for r in a.join(b, "fp")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .collect()
    }
    assert want, "fixture corpus must contain exact text duplicates"
    assert got == want


def test_image_near_dup_finds_constructed_near_miss(spark):
    """Recall through the banding path for a genuine hamming-1..3 pair:
    a horizontal-gradient image (dHash = 0) vs the same image with one
    8x9-grid cell brightened (flips exactly the bits asserted below)."""
    import numpy as np

    def ppm(g):
        h, w = g.shape
        return b"P5\n%d %d\n255\n" % (w, h) + g.astype(np.uint8).tobytes()

    base = np.tile(np.arange(72, dtype=np.uint8) * 3, (64, 1))
    bumped = base.copy()
    # grid cell (0, 4) of the 8x9 area-mean split on a 64x72 image is
    # rows [0,8) x cols [32,40); brightening it flips bit (0,4) only
    bumped[0:8, 32:40] = 255
    h1 = multimodal.phash64(ppm(base))
    h2 = multimodal.phash64(ppm(bumped))
    dist = bin(h1[0] ^ h2[0]).count("1") + bin(h1[1] ^ h2[1]).count("1")
    assert 1 <= dist <= 3, dist

    rng = np.random.default_rng(7)
    rows = [(1, ppm(base)), (2, ppm(bumped))] + [
        (i, ppm(rng.integers(0, 256, size=(64, 72)))) for i in range(3, 20)
    ]
    df = spark.createDataFrame(rows, "doc_id int, content binary")
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in multimodal.image_near_dup_pairs(df, max_hamming=3).collect()
    }
    assert pairs.get((1, 2)) == dist
    for (ia, ib), d in pairs.items():
        assert d <= 3


def test_image_phash_ahash_and_tiny_images(spark):
    import numpy as np

    def ppm(g):
        h, w = g.shape
        return b"P5\n%d %d\n255\n" % (w, h) + g.astype(np.uint8).tobytes()

    # tiny 2x3 image exercises the repeat-up path; both methods run
    tiny = np.array([[0, 128, 255], [255, 0, 64]])
    df = spark.createDataFrame([(1, ppm(tiny))], "doc_id int, content binary")
    for method in ("ahash", "dhash"):
        row = multimodal.image_phash(df, method=method).collect()[0]
        assert 0 <= row["sim_hi"] < 2**32 and 0 <= row["sim_lo"] < 2**32
    with pytest.raises(ValueError):
        multimodal.image_phash(df, method="phash")


def test_ppm_header_comments_and_16bit_maxval():
    """r10 advice regression: the header regex ignored maxval (16-bit
    rasters decoded as uint8 garbage) and rejected '#' comments. The
    parser must (a) skip comments between any header tokens, (b) decode
    2-byte MSB-first samples when maxval > 255 and scale all depths to
    0..255 so hashes are depth-independent, (c) reject maxval 0/65536."""
    import numpy as np

    g8 = np.tile(np.arange(72, dtype=np.uint16) * 3, (64, 1))

    def pgm(g, maxval, comment=b""):
        h, w = g.shape
        head = b"P5\n" + comment + b"%d %d\n%d\n" % (w, h, maxval)
        dt = ">u2" if maxval > 255 else "u1"
        return head + g.astype(dt).tobytes()

    # same image at 8-bit and 16-bit depth must hash identically
    h8 = multimodal.phash64(pgm(g8, 255))
    h16 = multimodal.phash64(pgm(g8 * 257, 65535))
    assert h8 == h16
    # comments anywhere in the header whitespace are skipped
    assert multimodal.phash64(pgm(g8, 255, comment=b"# created by x\n")) == h8
    # 16-bit decoded values scale to the 8-bit range
    _, w, h, maxval, px = multimodal._ppm_pixels(pgm(g8 * 257, 65535))
    assert (w, h, maxval) == (72, 64, 65535)
    assert abs(px.max() - 255.0 * (g8.max() * 257) / 65535) < 1e-9
    for bad in (0, 65536):
        with pytest.raises(ValueError):
            multimodal._ppm_pixels(pgm(g8, 1)[:3] + b"2 2\n%d\n" % bad + b"\x00" * 8)


def _wav_bytes(x):
    """mono 16-bit PCM WAV from a float array in [-1, 1]."""
    import io
    import wave

    import numpy as np

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes((np.clip(x, -1, 1) * 32767).astype(np.int16).tobytes())
    return buf.getvalue()


def test_audio_fingerprint_gain_invariant_and_deterministic():
    import numpy as np

    rng = np.random.default_rng(11)
    amps = rng.uniform(0.05, 0.95, size=64)
    x = np.repeat(amps, 128) * np.sin(np.arange(64 * 128) * 0.7)
    full = multimodal.audio_fingerprint64(_wav_bytes(x))
    half = multimodal.audio_fingerprint64(_wav_bytes(0.5 * x))
    assert full == half  # median-relative bits ignore global gain
    assert full == multimodal.audio_fingerprint64(_wav_bytes(x))
    ones = bin(full[0]).count("1") + bin(full[1]).count("1")
    assert 20 <= ones <= 44  # median split: roughly half the bits set


def test_audio_near_dup_pairs_equal_text_dup_ground_truth(spark, documents_df):
    import pyspark.sql.functions as F
    from thoth_spark.operators.text import fingerprint

    base = documents_df.select("doc_id", "text").limit(30)
    variants = base.limit(5).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.lit(" "), F.upper("text"), F.lit("  ")).alias("text"),
    )
    docs = base.unionByName(variants)
    wavs = multimodal.synth_wav_textured(docs)
    got = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in multimodal.audio_near_dup_pairs(wavs, max_hamming=3).collect()
    }
    truth = docs.withColumn("fp", fingerprint(F.col("text")))
    a, b = truth.alias("a"), truth.alias("b")
    want = {
        (r["id_a"], r["id_b"], 0)
        for r in a.join(b, "fp")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .collect()
    }
    assert len(want) == 5
    assert got == want


def test_audio_near_dup_finds_constructed_near_miss(spark):
    import numpy as np

    rng = np.random.default_rng(11)
    amps = rng.uniform(0.05, 0.95, size=64)
    carrier = np.sin(np.arange(64 * 128) * 0.7)
    base = np.repeat(amps, 128) * carrier
    # push one window's energy across the track median: flips that
    # window's bit (plus at most a couple of median-borderline bits)
    bumped_amps = amps.copy()
    k = int(np.argmin(amps))
    bumped_amps[k] = 0.97
    bumped = np.repeat(bumped_amps, 128) * carrier
    h1 = multimodal.audio_fingerprint64(_wav_bytes(base))
    h2 = multimodal.audio_fingerprint64(_wav_bytes(bumped))
    dist = bin(h1[0] ^ h2[0]).count("1") + bin(h1[1] ^ h2[1]).count("1")
    assert 1 <= dist <= 3, dist

    rows = [(1, _wav_bytes(base)), (2, _wav_bytes(bumped))] + [
        (
            i,
            _wav_bytes(
                np.repeat(rng.uniform(0.05, 0.95, size=64), 128) * carrier
            ),
        )
        for i in range(3, 16)
    ]
    df = spark.createDataFrame(rows, "doc_id int, content binary")
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in multimodal.audio_near_dup_pairs(df, max_hamming=3).collect()
    }
    assert pairs.get((1, 2)) == dist


def test_synth_video_frames_chunking_and_overlap(spark):
    import pyspark.sql.functions as F

    words = " ".join(f"w{i}" for i in range(16))  # 16 words -> 8 chunks of 2
    mutated = "zzz " + words.split(" ", 1)[1]  # first word differs
    df = spark.createDataFrame([(1, words), (2, mutated)], "doc_id long, text string")
    frames = multimodal.synth_video_frames(df, n_frames=8)
    per = {r["doc_id"]: r["n"] for r in frames.groupBy("doc_id").agg(F.count("*").alias("n")).collect()}
    assert per == {1: 8, 2: 8}
    pairs = multimodal.video_near_dup_pairs(frames, min_shared=6, hot_frame_cap=None).collect()
    assert len(pairs) == 1 and pairs[0]["shared_frames"] == 7

    # short doc: fewer words than frames -> one frame per word, no empties
    short = spark.createDataFrame([(3, "a b c")], "doc_id long, text string")
    n = multimodal.synth_video_frames(short, n_frames=8).count()
    assert n == 3


def test_video_hot_frame_cap_drops_common_intro(spark):
    """An intro card shared by every video must not create O(n²) pairs:
    with the cap it contributes nothing, so videos overlapping ONLY in
    the intro never pair."""
    intro = " ".join(f"intro{i}" for i in range(2))
    rows = []
    for d in range(12):
        # 16 words: chunks 0 holds the shared intro, rest unique
        body = " ".join(f"d{d}w{i}" for i in range(14))
        rows.append((d, intro + " " + body))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    frames = multimodal.synth_video_frames(df, n_frames=8)
    uncapped = multimodal.video_near_dup_pairs(
        frames, min_shared=1, hot_frame_cap=None
    ).count()
    capped = multimodal.video_near_dup_pairs(
        frames, min_shared=1, hot_frame_cap=10
    ).count()
    assert uncapped == 66  # every pair shares the intro frame
    assert capped == 0


def test_image_phash_incremental_index_contract(spark, documents_df):
    """The persisted SimHash chunk-index contract holds for image
    fingerprints unchanged: (index-build pairs) ∪ (incremental pairs)
    == full-run pairs over the union."""
    from thoth_spark.operators import dedup

    docs = documents_df.select("doc_id", "text").limit(40)
    old = multimodal.image_phash(multimodal.synth_ppm_textured(docs.limit(25)))
    # new batch overlaps the indexed set (15 re-synthesized dups) — the
    # incremental join must surface new×indexed pairs
    new_b = multimodal.image_phash(
        multimodal.synth_ppm_textured(
            docs.limit(15).selectExpr("doc_id + 2000000 AS doc_id", "text")
        )
    )
    idx = dedup.simhash_chunks(old, max_hamming=3).localCheckpoint()
    inc = {
        (r["id_a"], r["id_b"])
        for r in dedup.simhash_pairs_incremental(
            dedup.simhash_chunks(new_b, max_hamming=3), idx, max_hamming=3
        ).collect()
    }
    base = {
        (r["id_a"], r["id_b"])
        for r in dedup.simhash_near_dup_pairs(old, max_hamming=3).collect()
    }
    full = {
        (r["id_a"], r["id_b"])
        for r in dedup.simhash_near_dup_pairs(
            old.unionByName(new_b), max_hamming=3
        ).collect()
    }
    assert base | inc == full
    # every re-synthesized dup pairs with its original
    assert {(a, b) for (a, b) in inc if b == a + 2_000_000} == {
        (r["doc_id"], r["doc_id"] + 2_000_000) for r in docs.limit(15).collect()
    }


def test_knn_classify_matches_driver_reference(spark, sf_dir):
    import numpy as np
    import pyspark.sql.functions as F
    from thoth_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    seeds = emb.where(F.col("vec_id") % 5 == 0)
    rest = emb.where(F.col("vec_id") % 5 != 0)
    got = {
        r["id"]: (r["pred_label"], r["votes"])
        for r in similarity.knn_classify(seeds, rest, k=5).collect()
    }

    rows = emb.select("vec_id", "embedding", "label").collect()
    ids = np.array([r[0] for r in rows])
    mat = np.array([r[1] for r in rows], dtype=np.float64)
    lab = np.array([r[2] for r in rows])
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    seed = ids % 5 == 0
    S, SL, SID = mat[seed], lab[seed], ids[seed]
    want = {}
    for i in np.where(~seed)[0]:
        sims = S @ mat[i]
        order = np.lexsort((SID, -sims))[:5]
        ls, cs = np.unique(SL[order], return_counts=True)
        pred = ls[np.lexsort((ls, -cs))][0]
        want[int(ids[i])] = (int(pred), int(cs[ls == pred][0]))
    assert got == want


def test_knn_classify_edge_cases(spark):
    import pyspark.sql.functions as F

    rows = [(i, [float(i), 1.0], i % 2) for i in range(4)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    # k larger than the seed set: clamps to n_seeds
    out = similarity.knn_classify(df, df, k=99).collect()
    assert len(out) == 4
    # each vector is its own seed and must not vote for itself: with 4
    # seeds and self excluded, votes come from the other 3
    assert all(r["votes"] <= 3 for r in out)
    with pytest.raises(ValueError):
        similarity.knn_classify(df.where(F.col("vec_id") < 0), df, k=3)


def test_knn_classify_string_ids_and_labels(spark):
    """r10 advice regression: ids and labels keep their INPUT types —
    string labels vote and tie-break lexicographically, string ids
    flow through the mapInPandas schema (the old int64 coercion
    crashed)."""
    rows = [
        ("a", [0.0, 1.0], "pos"),
        ("b", [0.1, 1.0], "pos"),
        ("c", [1.0, 0.0], "neg"),
        ("d", [1.0, 0.1], "neg"),
    ]
    df = spark.createDataFrame(
        rows, "vec_id string, embedding array<double>, label string"
    )
    u = spark.createDataFrame(
        [("q1", [0.0, 2.0]), ("q2", [2.0, 0.0])],
        "vec_id string, embedding array<double>",
    )
    out = similarity.knn_classify(df, u, k=2)
    assert dict(out.dtypes) == {
        "id": "string", "pred_label": "string", "votes": "int"
    }
    got = {r["id"]: r["pred_label"] for r in out.collect()}
    assert got == {"q1": "pos", "q2": "neg"}
    # 2-2 vote split ties break to the lexicographically smaller label
    tie = similarity.knn_classify(
        df, u.where(F.col("vec_id") == "q1"), k=4
    ).collect()[0]
    assert tie["pred_label"] == "neg" and tie["votes"] == 2


def test_semantic_decontaminate_drops_planted_twin(spark):
    import numpy as np

    rng = np.random.default_rng(5)
    def vec(x):
        return [float(v) for v in x]

    ev_vec = rng.normal(size=8)
    twin = ev_vec + 0.01 * rng.normal(size=8)  # cos ~ 1 with the eval vec
    dup_a = rng.normal(size=8)  # near-identical train PAIR with no eval
    dup_b = dup_a + 0.01 * rng.normal(size=8)  # match: must BOTH survive
    train = [(1, vec(twin)), (2, vec(dup_a)), (3, vec(dup_b))] + [
        (i, vec(rng.normal(size=8))) for i in range(4, 30)
    ]
    tdf = spark.createDataFrame(train, "vec_id long, embedding array<double>")
    edf = spark.createDataFrame(
        [(100, vec(ev_vec))], "vec_id long, embedding array<double>"
    )
    pairs = similarity.embedding_cross_neardup(
        tdf, edf, threshold=0.9, nbits=4, dim=8
    ).collect()
    assert {(r["left_id"], r["right_id"]) for r in pairs} == {(1, 100)}
    kept = {
        r["vec_id"]
        for r in similarity.semantic_decontaminate(
            tdf, edf, threshold=0.9, nbits=4, dim=8
        ).collect()
    }
    assert 1 not in kept
    assert {2, 3} <= kept  # train-internal dups are NOT contamination
    assert len(kept) == len(train) - 1


def _ref_winnow(text, k=5, window=4):
    """Independent winnowing reference: direct loops, first-pos ties."""
    import hashlib as hl
    import re as _re

    t = _re.sub(r"\s+", " ", text.lower().strip()).split(" ")
    if len(t) < k:
        return set()
    h = [
        int(hl.md5(" ".join(t[i : i + k]).encode()).hexdigest()[:8], 16)
        for i in range(len(t) - k + 1)
    ]
    out = set()
    for s in range(max(1, len(h) - window + 1)):
        win = h[s : s + window]
        m = min(win)
        out.add((s + win.index(m) + 1, m))
    return out


def test_winnow_fingerprints_match_reference(spark, documents_df):
    docs = documents_df.limit(15)
    got = {}
    for r in text.winnow_fingerprints(docs, "doc_id", "text").collect():
        got.setdefault(r["id"], set()).add((r["pos"], r["fp"]))
    for r in docs.select("doc_id", "text").collect():
        assert got.get(r["doc_id"], set()) == _ref_winnow(r["text"]), r["doc_id"]


def test_winnow_guarantee_shared_run_yields_shared_fp(spark):
    """Winnowing guarantee: any shared run of k+window-1 (= 8) tokens
    produces at least one shared fingerprint VALUE."""
    import numpy as np

    rng = np.random.default_rng(3)
    vocab = [f"tok{i}" for i in range(400)]
    shared_run = " ".join(rng.choice(vocab, 8))
    mk = lambda: " ".join(rng.choice(vocab, 30))
    d1 = mk() + " " + shared_run + " " + mk()
    d2 = mk() + " " + shared_run + " " + mk()
    df = spark.createDataFrame([(1, d1), (2, d2)], "doc_id long, text string")
    fps = text.winnow_fingerprints(df, "doc_id", "text")
    vals = {}
    for r in fps.collect():
        vals.setdefault(r["id"], set()).add(r["fp"])
    assert vals[1] & vals[2]
    pairs = text.winnow_overlap_pairs(fps, min_shared=1, hot_cap=None).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(1, 2)}


def test_winnow_overlap_hot_cap(spark):
    """A fingerprint present in every document (boilerplate) is dropped
    by the cap, so boilerplate-only overlap yields no pairs."""
    import numpy as np

    rng = np.random.default_rng(9)
    vocab = [f"w{i}" for i in range(500)]
    boiler = " ".join(f"b{i}" for i in range(8))
    rows = [
        (d, boiler + " " + " ".join(rng.choice(vocab, 40))) for d in range(10)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fps = text.winnow_fingerprints(df, "doc_id", "text")
    uncapped = text.winnow_overlap_pairs(fps, min_shared=1, hot_cap=None).count()
    capped = text.winnow_overlap_pairs(fps, min_shared=1, hot_cap=5).count()
    assert uncapped >= 45  # the boilerplate fp alone pairs everyone
    assert capped < uncapped


def test_salted_join_equals_plain_join(spark):
    import pyspark.sql.functions as F
    from thoth_spark.operators.relational import salted_join

    # skewed left: one hot key with 5k rows
    left = spark.range(5000).select(
        F.when(F.col("id") < 4500, F.lit(1)).otherwise(F.col("id")).alias("k"),
        F.col("id").alias("lv"),
    )
    right = spark.range(100).select(F.col("id").alias("k"), (F.col("id") * 10).alias("rv"))
    expected = sorted(left.join(right, "k").collect())
    got = sorted(salted_join(left, right, ["k"], salt_buckets=8).collect())
    assert got == expected

    exp_left = sorted(left.join(right, "k", "left").collect())
    got_left = sorted(salted_join(left, right, ["k"], salt_buckets=8, how="left").collect())
    assert got_left == exp_left


def test_range_join_equals_theta_join(spark):
    import random

    rng = random.Random(7)
    points = spark.createDataFrame(
        [(i, rng.uniform(-50.0, 50.0), i % 3) for i in range(300)],
        "pid long, x double, g int",
    )
    intervals = spark.createDataFrame(
        [
            (j, lo := rng.uniform(-60.0, 55.0), lo + rng.uniform(0.0, 12.0), j % 3)
            for j in range(80)
        ],
        "iid long, lo double, hi double, g int",
    )
    expected = sorted(
        points.alias("l")
        .join(
            intervals.alias("r"),
            (F.col("l.x") >= F.col("r.lo")) & (F.col("l.x") <= F.col("r.hi")),
        )
        .select("pid", "iid")
        .collect()
    )
    out = relational.range_join(points, intervals, "x", "lo", "hi", bin_width=8.0)
    assert sorted(out.select("pid", "iid").collect()) == expected
    # keyed variant: equi-key g restricts matches
    exp_keyed = sorted(
        points.alias("l")
        .join(
            intervals.alias("r"),
            (F.col("l.x") >= F.col("r.lo"))
            & (F.col("l.x") <= F.col("r.hi"))
            & (F.col("l.g") == F.col("r.g")),
        )
        .select("pid", "iid")
        .collect()
    )
    keyed = relational.range_join(
        points, intervals, "x", "lo", "hi", bin_width=8.0, on=["g"]
    )
    assert sorted(keyed.select("pid", "iid").collect()) == exp_keyed
    # semi variant: every matched point exactly once
    semi = relational.range_join(
        points, intervals, "x", "lo", "hi", bin_width=8.0, how="left_semi"
    )
    assert sorted(r["pid"] for r in semi.select("pid").collect()) == sorted(
        {r["pid"] for r in expected}
    )
    with pytest.raises(ValueError):
        relational.range_join(points, intervals, "x", "lo", "hi", bin_width=0.0)


def test_connected_components_golden(spark):
    from thoth_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (5, 3)], "id_a bigint, id_b bigint"
    )
    got = {r["id"]: r["component"] for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 5: 1, 10: 10, 11: 10}


# ---------------------------------------------------------------------------
# sampling
# ---------------------------------------------------------------------------


def test_hash_sample_deterministic_across_layouts(spark):
    from thoth_spark.operators import sampling

    df = spark.range(1000).select(F.col("id").alias("k"))
    a = sorted(r["k"] for r in sampling.hash_sample(df, "k", 0.2).collect())
    # same data, different physical layout -> identical sample
    b = sorted(
        r["k"] for r in sampling.hash_sample(df.repartition(7), "k", 0.2).collect()
    )
    assert a == b
    assert 120 < len(a) < 280  # ~200 expected


def test_stratified_hash_sample_respects_fractions(spark):
    from thoth_spark.operators import sampling

    df = spark.range(2000).select(
        F.col("id").alias("k"), (F.col("id") % 2).cast("string").alias("s")
    )
    out = sampling.stratified_hash_sample(
        df, "s", {"0": 1.0, "1": 0.1}, "k"
    ).groupBy("s").count().collect()
    by = {r["s"]: r["count"] for r in out}
    assert by["0"] == 1000
    assert 40 < by.get("1", 0) < 200


def test_budget_sample_exact_n_and_stable(spark):
    from thoth_spark.operators import sampling

    df = spark.range(500).select(
        F.col("id").alias("k"), (F.col("id") % 7).cast("string").alias("s")
    )
    out = sampling.budget_sample(df, "s", "k", 100)
    rows = sorted(r["k"] for r in out.collect())
    assert len(rows) == 100
    again = sorted(
        r["k"]
        for r in sampling.budget_sample(df.repartition(5), "s", "k", 100).collect()
    )
    assert rows == again
    # proportional: 7 equal strata of ~71 -> quotas differ by at most 1
    per = sampling.budget_sample(df, "s", "k", 100).groupBy("s").count().collect()
    counts = [r["count"] for r in per]
    assert max(counts) - min(counts) <= 1


def test_budget_sample_quota_capped_by_stratum_size(spark):
    from thoth_spark.operators import sampling

    df = spark.createDataFrame(
        [(i, "tiny" if i < 3 else "big") for i in range(100)], "k long, s string"
    )
    out = sampling.budget_sample(df, "s", "k", 50)
    by = {r["s"]: r["count"] for r in out.groupBy("s").count().collect()}
    assert by["tiny"] <= 3


def test_token_budget_sample_exact_prefix(spark):
    from thoth_spark.operators import sampling

    df = spark.range(200).select(
        F.col("id").alias("k"), (F.col("id") % 10 + 5).alias("w")
    )
    out = sampling.token_budget_sample(df, "k", "w", 300)
    # the selected set is exactly the maximal hash-order prefix under budget
    got = sorted(r["k"] for r in out.collect())
    total = out.agg(F.sum("w")).first()[0]
    assert total <= 300
    # stability across physical layouts
    again = sorted(
        r["k"]
        for r in sampling.token_budget_sample(df.repartition(9), "k", "w", 300).collect()
    )
    assert got == again
    # adding any next-in-hash-order row would exceed the budget: check by
    # rerunning with a slightly larger budget and requiring a superset
    bigger = sorted(
        r["k"] for r in sampling.token_budget_sample(df, "k", "w", 400).collect()
    )
    assert set(got) <= set(bigger) and len(bigger) > len(got)


def test_global_rank_and_distributed_ntile_match_builtin(spark):
    from pyspark.sql import Window as W

    from thoth_spark.operators import relational

    df = spark.range(1000).select(
        (F.col("id") * 37 % 501).alias("v"), F.col("id").alias("k")
    )
    order = [F.col("v").desc(), "k"]
    got = {
        r["k"]: r["rank"]
        for r in relational.global_rank(df, order, num_partitions=7).collect()
    }
    exp = {
        r["k"]: r["rn"]
        for r in df.withColumn(
            "rn", F.row_number().over(W.orderBy(*order))
        ).collect()
    }
    assert got == exp

    for n in (3, 10, 7):
        got_b = {
            r["k"]: r["bucket"]
            for r in relational.distributed_ntile(df, order, n).collect()
        }
        exp_b = {
            r["k"]: r["nt"]
            for r in df.withColumn("nt", F.ntile(n).over(W.orderBy(*order))).collect()
        }
        assert got_b == exp_b


def test_multimodal_injected_decoder(spark, documents_df):
    """A user-supplied per-batch decoder drives the same mapInPandas
    plumbing as the stub — decode_real is a one-liner injection once a
    codec library exists."""
    import pandas as pd

    def fake_codec(blobs: pd.Series) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "media_md5": ["x" * 32] * len(blobs),
                "media_bytes": [len(b) for b in blobs],
                "width": [640] * len(blobs),
                "height": [480] * len(blobs),
                "n_channels": [3] * len(blobs),
                "format": ["jpeg"] * len(blobs),
            }
        )

    with_bin = multimodal.attach_binary(documents_df.limit(10), "text")
    out = multimodal.decode(with_bin, fake_codec).collect()
    assert len(out) == 10
    assert all(r["width"] == 640 and r["format"] == "jpeg" for r in out)
    assert all(r["media_bytes"] > 0 for r in out)


def test_simhash_candidate_fanout_bounded(spark, neardup_df):
    """The candidate stage must emit exactly C(blocks, blocks-d) bucket
    rows per document — the bounded fan-out that replaces the unbounded
    bucket-population risk of 16-bit chunk keys."""
    from math import comb

    hashes = dedup.simhash(neardup_df, "id", "text")
    n_docs = hashes.count()
    for max_hamming, blocks in [(3, 6), (2, 5)]:
        expected_tables = comb(blocks, blocks - max_hamming)
        # count rows flowing into the join by re-deriving the chunk frame:
        # every (id, ci) pair appears exactly once per combination table
        pairs = dedup.simhash_near_dup_pairs(
            hashes, max_hamming=max_hamming, blocks=blocks
        )
        plan = pairs._jdf.queryExecution().optimizedPlan().toString()
        assert "Generate explode" in plan  # candidate fan-out is an explode...
        assert "CartesianProduct" not in plan  # ...joined by key, never all-pairs
        # fan-out factor check via the exploded frame row count
        from pyspark.sql import functions as _F

        chunk_rows = (
            hashes.select(
                "id",
                _F.explode(_F.array(*[_F.lit(i) for i in range(expected_tables)])),
            ).count()
        )
        assert chunk_rows == n_docs * expected_tables


# ---------------------------------------------------------------------------
# curation: PII redaction, chunking, repetition, contamination
# ---------------------------------------------------------------------------


def test_redact_pii_patterns_and_counts(spark):
    df = spark.createDataFrame(
        [
            (1, "reach bob.smith+x@corp.example.com or 10.0.0.1, ssn 123-45-6789, tel +1 (555) 123-4567"),
            (2, "no pii here at all"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in text.redact_pii(df).collect()}
    r1 = out[1]
    assert (r1["n_email"], r1["n_ipv4"], r1["n_ssn"], r1["n_phone"]) == (1, 1, 1, 1)
    red = r1["text_redacted"]
    assert "<EMAIL>" in red and "<IP>" in red and "<SSN>" in red and "<PHONE>" in red
    assert "example.com" not in red and "123-45-6789" not in red
    r2 = out[2]
    assert r2["text_redacted"] == "no pii here at all"
    assert r2["n_email"] == r2["n_ipv4"] == r2["n_ssn"] == r2["n_phone"] == 0


def test_chunk_documents_overlap_and_coverage(spark):
    words = " ".join(f"w{i}" for i in range(10))
    df = spark.createDataFrame([(1, words), (2, "short text")], "doc_id long, text string")
    chunks = text.chunk_documents(df, chunk_tokens=4, stride=3).collect()
    by_doc = {}
    for r in chunks:
        by_doc.setdefault(r["id"], []).append(r)
    c1 = sorted(by_doc[1], key=lambda r: r["chunk_idx"])
    # stride 3, chunk 4 over 10 tokens: [w0..w3], [w3..w6], [w6..w9]
    assert [r["chunk_text"].split()[0] for r in c1] == ["w0", "w3", "w6"]
    # every token covered, adjacent chunks overlap by 1
    covered = {t for r in c1 for t in r["chunk_text"].split()}
    assert covered == {f"w{i}" for i in range(10)}
    assert by_doc[2][0]["chunk_text"] == "short text"
    with pytest.raises(ValueError, match="stride"):
        text.chunk_documents(df, stride=200, chunk_tokens=100)


def test_ngram_stream_matches_inline_word_ngrams(spark):
    """The staged explode (barrier + checkpoint, r8) must emit exactly
    the rows of the naive inline form, for both multiset and distinct
    modes — the staging is a physical rewrite, never a semantics one.
    Covers the <n-token-doc edge (no rows) and repeated grams."""
    from pyspark.sql import functions as F

    from thoth_spark.operators import text

    rows = [
        (1, "a b c d a b c d"),      # repeated grams
        (2, "x y"),                   # < n tokens -> no rows
        (3, "one two three four"),
        (4, "  Mixed   CASE   spacing   here  now "),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    for distinct in (False, True):
        arr = text.word_ngrams(F.col("text"), 3)
        if distinct:
            arr = F.array_distinct(arr)
        naive = sorted(
            (r["id"], r["g"])
            for r in df.select("id", F.explode(arr).alias("g")).collect()
        )
        staged = sorted(
            (r["id"], r["g"])
            for r in text.ngram_stream(df, "id", "text", 3, distinct=distinct).collect()
        )
        assert staged == naive, f"distinct={distinct}"
    assert all(i != 2 for i, _ in staged)


def test_repetition_signals_flags_boilerplate(spark):
    df = spark.createDataFrame(
        [(1, "buy now buy now buy now buy now"), (2, "every word here is unique today"), (3, "x")],
        "doc_id long, text string",
    )
    out = {r["id"]: r for r in text.repetition_signals(df).collect()}
    assert out[1]["top_ngram_ratio"] > 0.5  # "buy now"/"now buy" dominate
    assert out[2]["top_ngram_count"] == 1
    assert out[3]["total_ngrams"] == 0 and out[3]["top_ngram_ratio"] == 0.0


def test_contamination_check_detects_leak(spark):
    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "completely unrelated training sample text here"),
        ],
        "doc_id long, text string",
    )
    benchmark = spark.createDataFrame(
        [(100, "quick brown fox jumps over")], "doc_id long, text string"
    )
    out = {r["id"]: r for r in text.contamination_check(corpus, benchmark).collect()}
    assert out[1]["n_matched"] == 3  # the 3 shingles inside the leaked span
    assert out[1]["contamination"] > 0.3
    assert out[2]["n_matched"] == 0 and out[2]["contamination"] == 0.0


# ---------------------------------------------------------------------------
# curation: line dedup, sequence packing, corpus mixing, training order
# ---------------------------------------------------------------------------


def test_line_dedup_keep_first(spark):
    df = spark.createDataFrame(
        [
            (1, "unique one\nshared line\nunique two"),
            (2, "shared line\nonly here"),
            (3, "shared line"),
        ],
        "doc_id long, text string",
    )
    out = {r["id"]: r for r in curation.line_dedup(df).collect()}
    # doc 1 holds the first occurrence of "shared line" — keeps all 3 lines
    assert out[1]["text_deduped"] == "unique one\nshared line\nunique two"
    assert (out[1]["n_lines"], out[1]["n_kept"]) == (3, 3)
    # later occurrences dropped, order of the rest preserved
    assert out[2]["text_deduped"] == "only here"
    assert (out[2]["n_lines"], out[2]["n_kept"]) == (2, 1)
    # a doc whose every line is a duplicate keeps nothing
    assert out[3]["text_deduped"] == ""
    assert (out[3]["n_lines"], out[3]["n_kept"]) == (1, 0)


def test_line_dedup_boilerplate_mode(spark):
    df = spark.createDataFrame(
        [
            (1, "boiler\nkeep a"),
            (2, "boiler\nkeep b"),
            (3, "boiler\nkeep c"),
        ],
        "doc_id long, text string",
    )
    out = {r["id"]: r for r in curation.line_dedup(df, keep="none", max_df=2).collect()}
    # "boiler" appears in 3 docs > max_df=2 — removed everywhere
    assert [out[i]["text_deduped"] for i in (1, 2, 3)] == ["keep a", "keep b", "keep c"]
    with pytest.raises(ValueError, match="max_df"):
        curation.line_dedup(df, keep="none")


def test_line_dedup_none_hot_boilerplate_key(spark):
    """Adversarial skew: ONE boilerplate line present in every document
    (the 100 TB hot-key case that broke the old window-collect_set plan).
    The groupBy doc-frequency path must stay correct — the hot line is
    dropped everywhere, per-doc uniques survive, and a same-line repeat
    WITHIN one doc (line_df counts distinct docs, so df=1) is kept."""
    n = 5000
    rows = [(i, f"BOILERPLATE FOOTER\nunique {i}\nunique {i}") for i in range(n)]
    df = spark.createDataFrame(rows, "doc_id long, text string").repartition(8)
    out = curation.line_dedup(df, keep="none", max_df=3)
    agg = out.agg(
        F.sum("n_kept").alias("kept"),
        F.sum("n_lines").alias("lines"),
        F.count(F.lit(1)).alias("docs"),
    ).collect()[0]
    assert agg["docs"] == n
    assert agg["lines"] == 3 * n
    # the boilerplate line (doc-frequency n > 3) drops from every doc;
    # both copies of "unique i" (doc-frequency 1) survive
    assert agg["kept"] == 2 * n
    one = out.where(F.col("id") == 7).collect()[0]
    assert one["text_deduped"] == "unique 7\nunique 7"


def test_passage_dedup_cross_doc_and_short_doc(spark):
    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "one two alpha beta gamma delta seven"),
            (3, "tiny doc"),
        ],
        "doc_id long, text string",
    )
    out = {r["id"]: r for r in curation.passage_dedup(df, window=3).collect()}
    # the shared 4-token run spans two duplicated 3-windows; their union
    # is removed from BOTH docs (no surviving copy — ExactSubstr semantics)
    assert out[1]["text_deduped"] == "epsilon zeta"
    assert (out[1]["n_tokens"], out[1]["n_kept"]) == (6, 2)
    assert out[2]["text_deduped"] == "one two seven"
    assert (out[2]["n_tokens"], out[2]["n_kept"]) == (7, 3)
    # below-window docs generate no windows and pass through unchanged
    assert out[3]["text_deduped"] == "tiny doc"
    assert (out[3]["n_tokens"], out[3]["n_kept"]) == (2, 2)


def test_passage_dedup_within_doc_repeat(spark):
    """min_count counts instances, not documents: a passage repeated
    inside ONE document is still a duplicate; overlapping duplicated
    windows cover the whole doc here."""
    df = spark.createDataFrame(
        [(1, "x y z q x y z q"), (2, "totally unrelated words here")],
        "doc_id long, text string",
    )
    out = {r["id"]: r for r in curation.passage_dedup(df, window=3).collect()}
    assert out[1]["text_deduped"] == ""
    assert (out[1]["n_tokens"], out[1]["n_kept"]) == (8, 0)
    assert out[2]["text_deduped"] == "totally unrelated words here"
    assert (out[2]["n_tokens"], out[2]["n_kept"]) == (4, 4)


def test_passage_dedup_validates_params(spark):
    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="window"):
        curation.passage_dedup(df, window=0)
    with pytest.raises(ValueError, match="min_count"):
        curation.passage_dedup(df, min_count=1)


def test_passage_dedup_hot_boilerplate_window(spark):
    """Adversarial skew: one boilerplate passage in EVERY document (the
    licence-header case). The dup set stays tiny (distinct window
    hashes), instances join linearly — correctness: the footer is gone
    from all docs, per-doc unique text survives."""
    n = 2000
    rows = [
        (i, f"COMMON LICENSE HEADER TEXT unique{i} body{i} tail{i}")
        for i in range(n)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string").repartition(8)
    out = curation.passage_dedup(df, window=4)
    agg = out.agg(
        F.sum("n_kept").alias("kept"),
        F.sum("n_tokens").alias("toks"),
        F.count(F.lit(1)).alias("docs"),
    ).collect()[0]
    assert agg["docs"] == n
    assert agg["toks"] == 7 * n
    # only the 4-token header window duplicates; "text unique{i} ..." windows
    # differ per doc, so coverage is exactly the header's 4 positions
    assert agg["kept"] == 3 * n
    one = out.where(F.col("id") == 11).collect()[0]
    assert one["text_deduped"] == "unique11 body11 tail11"


def test_pack_sequences_greedy_fill(spark):
    df = spark.createDataFrame(
        [(i, 30) for i in range(10)], "doc_id long, n_tokens long"
    )
    out = curation.pack_sequences(df, budget=100, n_shards=1).collect()
    rows = sorted(out, key=lambda r: r["id"])
    # 30-token docs into a 100 budget: 3 per bin, in id order
    assert [r["bin_idx"] for r in rows] == [0, 0, 0, 1, 1, 1, 2, 2, 2, 3]
    assert [r["bin_pos"] for r in rows] == [0, 1, 2, 0, 1, 2, 0, 1, 2, 0]
    # per-bin fill never exceeds budget
    fills = {}
    for r in rows:
        fills[r["bin_idx"]] = fills.get(r["bin_idx"], 0) + r["n_tokens"]
    assert all(v <= 100 for v in fills.values())


def test_pack_sequences_oversized_doc_isolated(spark):
    df = spark.createDataFrame(
        [(1, 50), (2, 300), (3, 50)], "doc_id long, n_tokens long"
    )
    rows = sorted(
        curation.pack_sequences(df, budget=100, n_shards=1).collect(),
        key=lambda r: r["id"],
    )
    # the 300-token doc overflows any bin: it closes bin 0 and sits alone
    assert [r["bin_idx"] for r in rows] == [0, 1, 2]


def test_mix_corpora_rates_and_determinism(spark):
    rows = [(i, f"src{i % 3}") for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = curation.mix_corpora(df, {"src0": 3.0, "src1": 1.0})
    got = out.collect()
    by_src = {}
    for r in got:
        by_src.setdefault(r["source"], []).append(r)
    # binding source (src0: weight 3 over 100 rows) keeps everything
    assert len(by_src["src0"]) == 100
    assert all(r["mix_rate"] == 1.0 for r in by_src["src0"])
    # src1 sampled to ~1/3; deterministic on rerun
    assert 20 <= len(by_src["src1"]) <= 46
    assert "src2" not in by_src  # unweighted source dropped
    again = curation.mix_corpora(df, {"src0": 3.0, "src1": 1.0}).collect()
    assert sorted(r["doc_id"] for r in again) == sorted(r["doc_id"] for r in got)
    with pytest.raises(ValueError, match="absent"):
        curation.mix_corpora(df, {"nope": 1.0})


def test_training_order_deterministic_permutation(spark):
    df = spark.createDataFrame([(i,) for i in range(200)], "doc_id long")
    out = curation.training_order(df, n_shards=4).collect()
    # a permutation: every row exactly once, positions contiguous per shard
    assert sorted(r["doc_id"] for r in out) == list(range(200))
    by_shard = {}
    for r in out:
        by_shard.setdefault(r["shard"], []).append(r["shard_pos"])
    assert set(by_shard) == {0, 1, 2, 3}
    for poss in by_shard.values():
        assert sorted(poss) == list(range(len(poss)))
    # the order is shuffled, not id order
    first_shard = sorted(by_shard.items())[0][0]
    ids_in_order = [
        r["doc_id"]
        for r in sorted(
            (x for x in out if x["shard"] == first_shard),
            key=lambda r: r["shard_pos"],
        )
    ]
    assert ids_in_order != sorted(ids_in_order)
    # deterministic across reruns
    again = curation.training_order(df, n_shards=4).collect()
    assert {(r["doc_id"], r["shard"], r["shard_pos"]) for r in again} == {
        (r["doc_id"], r["shard"], r["shard_pos"]) for r in out
    }


# ---------------------------------------------------------------------------
# bigram LM perplexity scoring
# ---------------------------------------------------------------------------


def test_bigram_lm_probabilities_sum_and_score(spark):
    df = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b a c")], "doc_id long, text string"
    )
    model = lm.train_bigram_lm(df, vocab_size=10, add_k=0.5)
    assert model.vocab_size == 3  # a, b, c
    uni = {r["w1"]: r["c1"] for r in model.unigrams.collect()}
    bi = {(r["w1"], r["w2"]): r["c12"] for r in model.bigrams.collect()}
    # both docs start <s> -> a; "a b" occurs 3x, "b a" 2x, "a c" 1x
    assert uni["<s>"] == 2 and bi[("<s>", "a")] == 2
    assert bi[("a", "b")] == 3 and bi[("b", "a")] == 2 and bi[("a", "c")] == 1
    out = {r["id"]: r for r in lm.perplexity_score(df, model).collect()}
    assert out[1]["n_bigrams"] == 4  # <s>a, ab, ba, ab
    # repeated common bigrams -> doc 1 is more probable than doc 2
    assert out[1]["perplexity"] < out[2]["perplexity"]
    # hand-check one bigram probability: c1(a)=4 ("a" precedes 4 tokens)
    # -> P(b|a) = (3 + .5) / (4 + .5*(3+1)) = 3.5/6
    assert uni["a"] == 4
    p_b_a = (bi[("a", "b")] + 0.5) / (uni["a"] + 0.5 * (model.vocab_size + 1))
    assert p_b_a == pytest.approx(3.5 / 6.0)


def test_bigram_lm_oov_and_heldout(spark):
    train = spark.createDataFrame(
        [(1, "the cat sat"), (2, "the cat ran")], "doc_id long, text string"
    )
    model = lm.train_bigram_lm(train, vocab_size=2, add_k=0.5)  # vocab: the, cat
    kept = {r["token"] for r in model.vocab.collect()}
    assert kept == {"the", "cat"}
    # held-out doc with unseen tokens scores finitely (add-k + <unk>)
    test_df = spark.createDataFrame([(9, "dog ate homework")], "doc_id long, text string")
    out = lm.perplexity_score(test_df, model).collect()[0]
    assert out["n_bigrams"] == 3
    assert math.isfinite(out["perplexity"]) and out["perplexity"] > 1
    # natural held-out text scores lower than OOV soup
    nat = lm.perplexity_score(
        spark.createDataFrame([(8, "the cat sat")], "doc_id long, text string"), model
    ).collect()[0]
    assert nat["avg_neg_log2_prob"] < out["avg_neg_log2_prob"]


def test_quality_classifier_separates_prose_from_noise(spark):
    from thoth_spark.operators import classifier

    prose = (
        "the quick brown fox jumps over the lazy dog and then walks to "
        "the river where it drinks some water before returning home"
    )
    noise = "@@@@ 1234 #### $$$$ 5678 %%%% 9999 !!!! 0000 &&&& 1111 ****"
    train = spark.createDataFrame(
        [(i, f"{prose} variant {i}", 1.0) for i in range(20)]
        + [(100 + i, f"{noise} {i}", 0.0) for i in range(20)],
        "doc_id long, text string, label double",
    )
    model = classifier.train_quality_classifier(train, n_features=1 << 12)
    held_out = spark.createDataFrame(
        [(1, "the quick dog walks to the river and drinks some water"),
         (2, "#### 1234 @@@@ 5678 %%%% !!!! 9999 ****")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in classifier.score_quality(held_out, model).collect()}
    assert got[1]["quality_pred"] == 1 and got[2]["quality_pred"] == 0
    assert got[1]["quality_prob"] > 0.5 > got[2]["quality_prob"]
    assert set(got[1].asDict()) == {"doc_id", "text", "quality_prob", "quality_pred"}


def test_nb_classifier_separates_and_is_deterministic(spark):
    from thoth_spark.operators import classifier

    prose = (
        "the quick brown fox jumps over the lazy dog and then walks to "
        "the river where it drinks some water before returning home"
    )
    noise = "@@@@ 1234 #### $$$$ 5678 %%%% 9999 !!!! 0000 &&&& 1111 ****"
    train = spark.createDataFrame(
        [(i, f"{prose} variant {i}", 1.0) for i in range(20)]
        + [(100 + i, f"{noise} {i}", 0.0) for i in range(20)],
        "doc_id long, text string, label double",
    )
    model = classifier.train_nb_quality(train, n_features=1 << 12)
    held_out = spark.createDataFrame(
        [(1, "the quick dog walks to the river and drinks some water"),
         (2, "#### 1234 @@@@ 5678 %%%% !!!! 9999 ****")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in classifier.score_nb(held_out, model).collect()}
    assert got[1]["nb_pred"] == 1 and got[2]["nb_pred"] == 0
    assert got[1]["nb_log_odds"] > 0 > got[2]["nb_log_odds"]
    assert set(got[1].asDict()) == {"doc_id", "text", "nb_log_odds", "nb_pred"}
    # closed-form training: a retrain produces bit-identical scores
    again = classifier.train_nb_quality(train, n_features=1 << 12)
    got2 = {r["doc_id"]: r for r in classifier.score_nb(held_out, again).collect()}
    assert all(got[i]["nb_log_odds"] == got2[i]["nb_log_odds"] for i in (1, 2))


def test_nb_classifier_rejects_single_class(spark):
    from thoth_spark.operators import classifier

    one_class = spark.createDataFrame(
        [(1, "all the same label", 1.0), (2, "still positive", 1.0)],
        "doc_id long, text string, label double",
    )
    with pytest.raises(ValueError, match="both classes"):
        classifier.train_nb_quality(one_class)


def test_weak_labels_drop_ambiguous_middle(spark, documents_df):
    from thoth_spark.operators import classifier

    # fixture quality_score spans ~[0.59, 0.83]; straddle the median
    labeled = classifier.weak_labels(documents_df, low=0.72, high=0.78)
    rows = labeled.groupBy("label").count().collect()
    assert {r["label"] for r in rows} <= {0.0, 1.0}
    assert labeled.count() < documents_df.count()  # middle dropped
    with pytest.raises(ValueError):
        classifier.weak_labels(documents_df, low=0.7, high=0.6)


def test_train_and_score_matches_two_step(spark):
    df = spark.createDataFrame(
        [(1, "a b a b c"), (2, "c c b a"), (3, "a a a")], "doc_id long, text string"
    )
    model = lm.train_bigram_lm(df, vocab_size=2, add_k=0.5)
    two_step = {r["id"]: r for r in lm.perplexity_score(df, model).collect()}
    fused = {r["id"]: r for r in lm.train_and_score(df, vocab_size=2, add_k=0.5).collect()}
    assert set(fused) == set(two_step)
    for i in fused:
        assert fused[i]["n_bigrams"] == two_step[i]["n_bigrams"]
        assert fused[i]["avg_neg_log2_prob"] == pytest.approx(
            two_step[i]["avg_neg_log2_prob"], rel=1e-12
        )


# --- BM25 retrieval (operators/retrieval.py)


def test_bm25_closed_form(spark):
    """3-doc corpus with hand-computable BM25: the rare term must
    dominate, and scores must equal the closed-form values."""
    import math

    from thoth_spark.operators import retrieval

    docs = spark.createDataFrame(
        [
            (1, "apple apple banana"),
            (2, "apple cherry cherry cherry"),
            (3, "banana banana banana"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["id"]: (r["n_terms_matched"], r["score"])
        for r in retrieval.bm25_topk(
            docs, "doc_id", "text", ["apple", "cherry"], k=3
        ).collect()
    }
    # doc 2 matches both terms incl. the rare 'cherry' -> top score
    assert set(out) == {1, 2}
    assert out[2][0] == 2 and out[1][0] == 1
    assert out[2][1] > out[1][1]
    # closed form for doc 1: tf(apple)=2, df(apple)=2, N=3, dl=3, avgdl=10/3
    idf = math.log(1 + (3 - 2 + 0.5) / (2 + 0.5))
    expect = idf * (2 * 2.2) / (2 + 1.2 * (1 - 0.75 + 0.75 * 3 / (10 / 3)))
    assert abs(out[1][1] - round(expect, 6)) < 1e-9


def test_bm25_k_limit_and_tiebreak(spark):
    """k truncates; equal-score docs resolve by ascending id."""
    from thoth_spark.operators import retrieval

    docs = spark.createDataFrame(
        [(i, "same text here") for i in range(6)], "doc_id long, text string"
    )
    out = retrieval.bm25_topk(docs, "doc_id", "text", ["same"], k=4).collect()
    assert [r["id"] for r in out] == [0, 1, 2, 3]


def test_bm25_multi_matches_per_query_single(spark):
    """Each query's rows in the multi-query result equal an independent
    single-query run — the shared-scan batching changes the physical
    shape, never the answer."""
    from thoth_spark.operators import retrieval

    docs = spark.createDataFrame(
        [
            (1, "spark stream batch stream"),
            (2, "spark spark query scan"),
            (3, "window stream window"),
            (4, "query scan scan scan window"),
        ],
        "doc_id long, text string",
    )
    queries = spark.createDataFrame(
        [("a", "spark"), ("a", "scan"), ("b", "stream"), ("b", "window")],
        "query_id string, term string",
    )
    multi = retrieval.bm25_topk_multi(docs, "doc_id", "text", queries, k=3)
    got = {
        (r["query_id"], r["id"]): (r["n_terms_matched"], r["score"])
        for r in multi.collect()
    }
    for qid, terms in [("a", ["spark", "scan"]), ("b", ["stream", "window"])]:
        single = retrieval.bm25_topk(docs, "doc_id", "text", terms, k=3)
        for r in single.collect():
            assert got[(qid, r["id"])] == (r["n_terms_matched"], r["score"])


# --- weighted sampling (Efraimidis-Spirakis)


def _es_python(rows, seed, n):
    """Reference E-S draw with the sampler's exact md5-bucket u."""
    import hashlib
    import math

    keyed = []
    for key, w in rows:
        h = hashlib.md5(f"{seed}|{key}".encode()).hexdigest()
        bucket = int(h[:8], 16) % 1_000_000
        u = (bucket + 0.5) / 1_000_000.0
        keyed.append((math.log(u) / w, -key, key))
    keyed.sort(reverse=True)
    return {k for _, _, k in keyed[:n]}


def test_weighted_sample_matches_reference_impl(spark):
    """Spark draw == the Python reference draw, exactly, for several
    seeds and sizes (the sample is a pure function of the data)."""
    from thoth_spark.operators import sampling

    rows = [(i, 1 + (i * 7) % 13) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, w long")
    for seed, n in [(42, 25), (7, 50), (99, 1)]:
        got = {
            r["doc_id"]
            for r in sampling.weighted_sample(df, "doc_id", "w", n, seed=seed).collect()
        }
        assert got == _es_python(rows, seed, n), (seed, n)


def test_weighted_sample_biases_toward_heavy_rows(spark):
    """10x-weighted rows must dominate the sample (the point of the
    operator); deterministic given the fixed hash stream."""
    from thoth_spark.operators import sampling

    rows = [(i, 10 if i >= 100 else 1) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, w long")
    got = [
        r["doc_id"]
        for r in sampling.weighted_sample(df, "doc_id", "w", 50).collect()
    ]
    heavy = sum(1 for i in got if i >= 100)
    assert len(got) == 50 and heavy > 38, heavy


def test_leakage_safe_split_clusters_share_one_split(spark):
    """Near-dup-aware splitting: every document connected through the
    pair graph gets the split of its CLUSTER (bucket of the component
    label = smallest reachable id), so a near-copy of a val doc can
    never land in train; singletons bucket on their own id, exactly
    matching train_val_test_split."""
    import hashlib

    from thoth_spark.operators import sampling

    def bucket(key, seed=42):
        return int(hashlib.md5(f"{seed}|{key}".encode()).hexdigest()[:8], 16) % 1_000_000

    def expected_split(key, val_fraction, test_fraction):
        b = bucket(key)
        if b < int(val_fraction * 1_000_000):
            return "val"
        if b < int((val_fraction + test_fraction) * 1_000_000):
            return "test"
        return "train"

    # big fractions so every split class actually occurs among 400 ids
    ids = list(range(400))
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    # clusters: chains {10,11,12}, {100,200,300}; the rest singletons
    pairs = spark.createDataFrame(
        [(10, 11), (11, 12), (100, 200), (200, 300)], "id_a long, id_b long"
    )
    out = {
        r["doc_id"]: (r["split"], r["component"])
        for r in sampling.leakage_safe_split(
            df, pairs, "doc_id", val_fraction=0.3, test_fraction=0.3,
            component_col="component",
        ).collect()
    }
    assert len(out) == 400
    # cluster members share the min-id member's split AND label
    for cluster in ({10, 11, 12}, {100, 200, 300}):
        want = expected_split(min(cluster), 0.3, 0.3)
        for i in cluster:
            assert out[i] == (want, min(cluster)), (i, out[i], want)
    # singletons bucket on their own id == plain splitter
    plain = {
        r["doc_id"]: r["split"]
        for r in sampling.train_val_test_split(
            df, "doc_id", val_fraction=0.3, test_fraction=0.3
        ).collect()
    }
    clustered = {10, 11, 12, 100, 200, 300}
    for i in ids:
        if i not in clustered:
            assert out[i] == (plain[i], i), (i, out[i], plain[i])
    # all three classes occur (fractions are meaningful)
    assert {s for s, _ in out.values()} == {"train", "val", "test"}


def test_weighted_sample_top_bucket_never_auto_wins(spark):
    """r11 verdict defect #1: with ``u = (bucket + 1)/HASH_BUCKETS`` the
    top bucket hit u = 1.0 exactly, making its A-ES key ln(u)/w = 0 —
    the MAXIMUM — so those rows were always selected regardless of
    weight. With the midpoint form u < 1 strictly, so a top-bucket row
    carrying a vanishing weight must LOSE to heavy rows: plant a key
    that hashes to bucket 999999 with weight 1e-9 among heavy-weight
    rows and assert it is not drawn."""
    import hashlib

    from thoth_spark.operators import sampling

    seed = 42
    top_key = next(
        k
        for k in range(10_000_000)
        if int(hashlib.md5(f"{seed}|{k}".encode()).hexdigest()[:8], 16) % 1_000_000
        == 999_999
    )
    rows = [(i, 1000.0) for i in range(1000) if i != top_key]
    rows.append((top_key, 1e-9))
    df = spark.createDataFrame(rows, "doc_id long, w double")
    got = {
        r["doc_id"]
        for r in sampling.weighted_sample(df, "doc_id", "w", 100, seed=seed).collect()
    }
    assert top_key not in got, (
        f"top-bucket key {top_key} with weight 1e-9 was drawn — the "
        "u=1.0 ln(u)/w=0 auto-win edge is back"
    )


# --- corpus snapshot diff


def test_corpus_diff_statuses(spark):
    from thoth_spark.operators import curation

    old = spark.createDataFrame(
        [(1, "keep me"), (2, "will change"), (3, "will vanish"), (4, "Spacing   Change")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(1, "keep me"), (2, "has changed"), (4, "spacing change"), (5, "brand new")],
        "doc_id long, text string",
    )
    got = {
        r["id"]: r["status"]
        for r in curation.corpus_diff(old, new, "doc_id", "text").collect()
    }
    # doc 4: only case/whitespace churn -> unchanged under the canonical
    # fingerprint
    assert got == {1: "unchanged", 2: "changed", 3: "removed", 4: "unchanged", 5: "added"}


# --- train/val/test split


def test_split_partitions_exhaustively_and_stably(spark):
    from thoth_spark.operators import sampling

    df = spark.createDataFrame([(i,) for i in range(2000)], "doc_id long")
    out = sampling.train_val_test_split(df, "doc_id", 0.1, 0.2)
    rows = out.collect()
    assert len(rows) == 2000 and all(r["split"] in ("train", "val", "test") for r in rows)
    counts = {}
    for r in rows:
        counts[r["split"]] = counts.get(r["split"], 0) + 1
    # hash-uniformity: within loose bands of the requested fractions
    assert 120 < counts["val"] < 280 and 300 < counts["test"] < 500
    # split assignment survives repartition/reordering bit-for-bit
    again = {
        r["doc_id"]: r["split"]
        for r in sampling.train_val_test_split(df.repartition(7), "doc_id", 0.1, 0.2).collect()
    }
    assert all(again[r["doc_id"]] == r["split"] for r in rows)


# --- funnel analysis


def test_funnel_ordering_and_breaks(spark):
    """Stages must respect strict event ordering: a purchase BEFORE the
    click doesn't count; a broken stage nulls all later stages."""
    import datetime as dt

    from thoth_spark.operators import relational

    t = lambda m: dt.datetime(2024, 1, 1, 0, m)
    rows = [
        # user 1: full funnel in order
        (1, t(0), "signup"), (1, t(5), "click"), (1, t(9), "purchase"),
        # user 2: purchase precedes click -> only 2 stages
        (2, t(0), "signup"), (2, t(3), "purchase"), (2, t(6), "click"),
        # user 3: never signed up -> 0 stages
        (3, t(1), "click"), (3, t(2), "purchase"),
        # user 4: signup only
        (4, t(7), "signup"),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string")
    out = {
        r["user_id"]: r
        for r in relational.funnel(
            df, ["user_id"], "ts", "event_type", ["signup", "click", "purchase"]
        ).collect()
    }
    assert out[1]["stages_completed"] == 3 and out[1]["stage3_ts"] == t(9)
    assert out[2]["stages_completed"] == 2 and out[2]["stage3_ts"] is None
    assert out[3]["stages_completed"] == 0 and out[3]["stage1_ts"] is None
    assert out[4]["stages_completed"] == 1
    # user 2's click at t6 counts (after signup), purchase t3 doesn't
    assert out[2]["stage2_ts"] == t(6)


# --- cohort retention


def test_cohort_retention_closed_form(spark):
    import datetime as dt

    from thoth_spark.operators import relational

    w0, w1 = dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 8)
    rows = (
        [(u, w0) for u in range(4)]          # 4 users start week 0
        + [(u, w1) for u in (0, 1)]          # 2 of them return week 1
        + [(9, w1)]                           # 1 new user starts week 1
    )
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    got = {
        (str(r["cohort"]), r["offset"]): (r["active"], r["cohort_size"], r["retention_rate"])
        for r in relational.cohort_retention(df, ["user_id"], "ts").collect()
    }
    assert got[("2024-01-01", 0)] == (4, 4, 1.0)
    assert got[("2024-01-01", 7)] == (2, 4, 0.5)
    assert got[("2024-01-08", 0)] == (1, 1, 1.0)
    assert len(got) == 3


# --- grouped global rank


def test_grouped_global_rank_matches_window(spark):
    """Exact equivalence with the single-task window form on a corpus
    small enough to run both."""
    from pyspark.sql import Window as W

    from thoth_spark.operators import relational

    df = spark.createDataFrame(
        [(i, f"g{i % 5}", (i * 7919) % 1000) for i in range(5000)],
        "id long, g string, v long",
    )
    got = {
        (r["g"], r["id"]): r["rank"]
        for r in relational.grouped_global_rank(
            df, ["g"], ["v", "id"], num_partitions=8
        ).collect()
    }
    want = {
        (r["g"], r["id"]): r["rank"]
        for r in df.withColumn(
            "rank",
            F.row_number().over(W.partitionBy("g").orderBy("v", "id")),
        ).collect()
    }
    assert got == want


# --- PageRank


def test_pagerank_uniform_cycle(spark):
    """A directed cycle is perfectly symmetric: every node must converge
    to rank exactly 1.0."""
    from thoth_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(i, (i + 1) % 6) for i in range(6)], "src long, dst long"
    )
    got = {r["id"]: r["rank"] for r in pagerank(edges).collect()}
    assert len(got) == 6
    for v in got.values():
        assert abs(v - 1.0) < 1e-6


@pytest.mark.slow
def test_pagerank_matches_numpy_power_iteration(spark):
    """Exact parity with a dense numpy power iteration (same damping,
    same dangling handling) on a small asymmetric graph with a dangling
    node."""
    import numpy as np

    from thoth_spark.operators.graph import pagerank

    edge_list = [(0, 1), (0, 2), (1, 2), (2, 0), (3, 2)]  # node 4 dangles via (2,4)
    edge_list.append((2, 4))
    n = 5
    edges = spark.createDataFrame(edge_list, "src long, dst long")
    got = {r["id"]: r["rank"] for r in pagerank(edges, tol=None, max_iterations=40).collect()}

    M = np.zeros((n, n))
    for s, t in edge_list:
        M[t, s] += 1
    deg = M.sum(axis=0)
    M = np.divide(M, deg, where=deg > 0, out=M)
    r = np.ones(n)
    d = 0.85
    for _ in range(40):
        dangling = r[deg == 0].sum()
        r = (1 - d) + d * (M @ r + dangling / n)
    for i in range(n):
        assert abs(got[i] - r[i]) < 1e-9, (i, got[i], r[i])
    # rank mass conserved: sums to n
    assert abs(sum(got.values()) - n) < 1e-6


def test_pagerank_one_action_per_iteration(spark, monkeypatch):
    """The dangling-mass scalar must ride the rank-update job as a
    broadcast one-row aggregate, NOT a per-iteration .collect(): with
    tol=None the only driver-blocking calls are the setup node count
    and each iteration's localCheckpoint — zero collect() round-trips
    (under AQE raw job counts don't measure this, so instrument
    collect directly)."""
    from pyspark.sql import DataFrame

    from thoth_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0), (0, 2), (3, 0)], "src long, dst long"
    )
    calls = []
    orig = DataFrame.collect
    monkeypatch.setattr(
        DataFrame, "collect", lambda self: calls.append(1) or orig(self)
    )
    ranks = pagerank(edges, tol=None, max_iterations=8)
    assert calls == []  # the old dangling-mass collect would show here
    assert ranks.count() == 4
    # the tol path is ALLOWED its one delta scalar per iteration, but
    # never more (the dangling collect would make it two)
    calls.clear()
    pagerank(edges, tol=1e-12, max_iterations=3)
    assert len(calls) <= 3, calls


# ---------------------------------------------------------------------------
# prefix-filtered exact joins (AllPairs / containment)
# ---------------------------------------------------------------------------


def test_jaccard_prefix_equals_full_inverted_index(spark, documents_df):
    """Prefix filtering is an EXACT optimization: at any threshold its
    result must equal the full-inverted-index Jaccard join (no cap)."""
    full = dedup.ngram_jaccard_pairs(
        documents_df, "doc_id", "text", n=3, threshold=0.5, max_shingle_df=None
    )
    pref = dedup.jaccard_prefix_pairs(
        documents_df, "doc_id", "text", n=3, threshold=0.5
    )
    f = {(r["id_a"], r["id_b"], r["jaccard"]) for r in full.collect()}
    p = {(r["id_a"], r["id_b"], r["jaccard"]) for r in pref.collect()}
    assert p == f and len(p) > 0


def test_containment_finds_subsumption_jaccard_misses(spark):
    """A short doc embedded verbatim in a long one: containment = 1.0 on
    the (short, long) direction while symmetric Jaccard stays tiny."""
    short = "alpha beta gamma delta epsilon zeta"
    filler = " ".join(f"w{i} x{i} y{i}" for i in range(40))
    df = spark.createDataFrame(
        [(1, short), (2, filler + " " + short + " " + filler), (3, "other text entirely here")],
        "id long, text string",
    )
    cont = dedup.containment_pairs(df, "id", "text", n=3, threshold=0.9, max_token_df=None)
    got = {(r["id_a"], r["id_b"]): r["containment"] for r in cont.collect()}
    assert got.get((1, 2)) == pytest.approx(1.0)
    assert (2, 1) not in got  # the long side is NOT contained in the short
    jac = dedup.ngram_jaccard_pairs(df, "id", "text", n=3, threshold=0.5, max_shingle_df=None)
    assert not any(
        {r["id_a"], r["id_b"]} == {1, 2} for r in jac.collect()
    )


def test_prefix_excludes_hot_tokens(spark):
    """Under df-ascending ranking, a boilerplate shingle shared by every
    document must never enter any document's prefix (that is the whole
    skew story: hot postings generate zero candidates)."""
    boiler = "this footer appears on every single page"
    docs = [(i, f"unique{i} uncommon{i} rare{i} " + boiler) for i in range(20)]
    df = spark.createDataFrame(docs, "id long, text string")
    sets = dedup.shingle_sets(df, "id", "text", n=3)
    ranked = dedup.ranked_tokens(sets)
    t = 0.8
    from pyspark.sql import functions as F
    prefix = ranked.where(
        F.col("pos") <= F.col("sz") - F.ceil(F.lit(t) * F.col("sz") - F.lit(1e-9)) + 1
    )
    hot = [r["s"] for r in prefix.collect() if "footer" in r["s"] and "this footer appears" in r["s"]]
    # the all-document shingle 'this footer appears' has df=20 (max) so
    # it must rank last and stay out of every 2-element prefix
    assert hot == []


def test_containment_capped_equals_cap_only(spark):
    """The positional filter must prune NOTHING beyond the df cap's own
    documented trade: capped tokens sort strictly after every surviving
    token in the shared global df order, so the observed first meeting
    is the true first shared token whenever any shared token survives.
    Reference semantics (computed brute-force in Python): keep a pair
    iff full-set containment >= t AND at least one shared shingle has
    df <= cap."""
    import itertools

    short = "alpha beta gamma delta epsilon zeta"
    boiler = "this footer appears on every single page of this site"
    filler = " ".join(f"w{i} x{i} y{i}" for i in range(30))
    docs = [
        (1, short + " " + boiler),  # contained in 2, shares boiler with all
        (2, filler + " " + short + " " + boiler + " " + filler),
        (3, boiler),  # shares ONLY hot shingles with everything
        (4, boiler + " unrelated words here"),  # contained in hot-only terms
    ] + [(100 + i, f"unique{i} uncommon{i} rare{i} " + boiler) for i in range(10)]
    df = spark.createDataFrame(docs, "id long, text string")
    cap, t = 3, 0.7

    def shingles(text):
        toks = text.split()
        return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}

    sets = {i: shingles(txt) for i, txt in docs}
    dfreq = {}
    for sh in sets.values():
        for s in sh:
            dfreq[s] = dfreq.get(s, 0) + 1
    expected = set()
    for a, b in itertools.permutations(sets, 2):
        inter = sets[a] & sets[b]
        if inter and len(inter) / len(sets[a]) >= t and min(
            dfreq[s] for s in inter
        ) <= cap:
            expected.add((a, b))

    got = {
        (r["id_a"], r["id_b"])
        for r in dedup.containment_pairs(
            df, "id", "text", n=3, threshold=t, max_token_df=cap
        ).collect()
    }
    # the scenario must exercise the trade: doc 3 IS contained in
    # hot-shingle terms but shares only capped shingles → reference
    # drops it, and so must the operator (not via the positional filter)
    assert all(p[0] != 3 for p in expected)
    assert got == expected and (1, 2) in got


def test_quality_survivors_keeps_best_per_cluster(spark):
    """Per duplicate cluster the HIGHEST-quality member survives (ties →
    smallest id); singletons always survive; the component label rides
    along. Cluster {1,2,3} (chain 1-2, 2-3): doc 2 has top quality.
    Cluster {5,6}: equal quality → doc 5 (smaller id). Doc 9 singleton."""
    docs = spark.createDataFrame(
        [
            (1, 0.5), (2, 0.9), (3, 0.7),
            (5, 0.4), (6, 0.4),
            (9, 0.1),
        ],
        "id long, q double",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], "id_a long, id_b long"
    )
    out = {
        r["id"]: r["component"]
        for r in dedup.quality_survivors(docs, pairs, "id", "q").collect()
    }
    assert out == {2: 1, 5: 5, 9: 9}


def test_quality_survivors_string_ids(spark):
    """The winner rule (max quality, tie -> smallest id) must hold for
    STRING ids too — the min_by comparison key orders the id directly,
    never via numeric negation."""
    docs = spark.createDataFrame(
        [("a", 0.5), ("b", 0.9), ("c", 0.9), ("z", 0.2)],
        "id string, q double",
    )
    pairs = spark.createDataFrame(
        [("a", "b"), ("b", "c")], "id_a string, id_b string"
    )
    out = {
        r["id"]: r["component"]
        for r in dedup.quality_survivors(docs, pairs, "id", "q").collect()
    }
    # cluster {a,b,c}: b and c tie on quality -> b (lexicographically
    # smaller); z is a singleton
    assert out == {"b": "a", "z": "z"}


def test_quality_survivors_matches_bruteforce_reference(spark):
    """Randomized check against a pure-Python union-find + argmax
    reference: 60 docs, random pair graph, random qualities quantized to
    avoid cross-impl float-order ambiguity."""
    import random

    rng = random.Random(88)
    ids = list(range(60))
    docs_rows = [(i, round(rng.random(), 3)) for i in ids]
    pair_rows = [
        (a, b)
        for a in ids
        for b in ids
        if a < b and rng.random() < 0.04
    ]
    # reference: union-find
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pair_rows:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    clusters: dict[int, list[int]] = {}
    for i in ids:
        clusters.setdefault(find(i), []).append(i)
    qual = dict(docs_rows)
    expected = {
        min(members, key=lambda m: (-round(qual[m], 6), m))
        for members in clusters.values()
    }

    docs = spark.createDataFrame(docs_rows, "id long, q double")
    pairs = spark.createDataFrame(pair_rows or [(0, 0)], "id_a long, id_b long")
    got = {
        r["id"] for r in dedup.quality_survivors(docs, pairs, "id", "q").collect()
    }
    assert got == expected


@pytest.mark.slow
def test_curation_pipeline_example_waterfall(spark, tmp_path):
    """The showcase pipeline (examples/curation_pipeline.py: quality
    filter -> Bloom decontamination -> passage dedup -> quality-aware
    MinHash dedup -> DSIR selection -> packing -> sharded sink) runs
    end-to-end at sf0.001 and its stage row-count waterfall holds:
    every stage is a filter (monotone non-increasing), every stage
    keeps SOMETHING (a silently-empty stage is a regression), the
    Bloom screen leaks zero benchmark docs into the final pool, and
    the sink writes the requested shards (r10 verdict #8: the showcase
    must not rot)."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "curation_pipeline",
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "examples",
            "curation_pipeline.py",
        ),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    out_dir = str(tmp_path / "shards")
    r = mod.run(spark, "/root/testdata/sf0.001", out_dir=out_dir)
    waterfall = [
        r["corpus"], r["gopher_gated"], r["domain_capped"],
        r["quality_kept"], r["decontaminated"], r["fuzzy_decontaminated"],
        r["passage_cleaned"], r["near_dup_unique"], r["dsir_selected"],
    ]
    assert all(a >= b for a, b in zip(waterfall, waterfall[1:])), waterfall
    assert all(n > 0 for n in waterfall), waterfall
    # the r13 Gopher gate actually discriminates at fixture scale
    assert r["gopher_gated"] < r["corpus"]
    # r16: the C4 AUDIT branch (curation.c4_pipeline — line/page gates
    # then keep-first span dedup over the derived line corpus) did real
    # work: the gate discriminates, the planted shared phrase was
    # span-deduped (keeper kept, later occurrences removed), and pages
    # whose surviving sentences fell under the floor left the funnel
    assert 0 < r["c4_gated"] < r["corpus"]
    assert 0 < r["c4_span_deduped"] < r["c4_gated"]
    assert r["c4_spans_removed"] > 0
    # the Bloom screen dropped the synthetic benchmark subset and it
    # never reappears downstream
    assert r["decontaminated"] < r["quality_kept"]
    assert r["bench_leaked"] == 0
    # DSIR drew the requested 80% pool
    assert r["dsir_selected"] == max(1, int(r["near_dup_unique"] * 0.8))
    assert 1 <= r["vocab_90"] <= 50
    shard_files = [f for f in os.listdir(out_dir) if not f.startswith(("_", "."))]
    assert len(shard_files) >= 4, shard_files
    # r12 verdict #7: the pipeline's split is LEAKAGE-SAFE — every pair
    # of docs still similar (>=0.5 Jaccard) after dedup must land in
    # the SAME train/val/test split (split is a function of the
    # near-dup component label), and the three splits partition the
    # selected pool
    assert r["split_train"] + r["split_val"] + r["split_test"] == r["dsir_selected"]
    assert r["split_train"] > 0
    splits = r["split_docs"].select("doc_id", "split", "split_comp")
    straddling = (
        r["split_pairs"]
        .join(
            splits.select(
                F.col("doc_id").alias("id_a"), F.col("split").alias("split_a")
            ),
            "id_a",
        )
        .join(
            splits.select(
                F.col("doc_id").alias("id_b"), F.col("split").alias("split_b")
            ),
            "id_b",
        )
        .where(F.col("split_a") != F.col("split_b"))
        .count()
    )
    assert straddling == 0

    # r14: the curation-funnel dashboard view renders THIS run's audit
    # dict live (docs in → Gopher pass → cap survivors → split sizes)
    from urllib.request import urlopen

    import thoth_spark as th

    repo = th.init_db(spark, str(tmp_path / "funnel_repo"))
    with th.serve_dashboard(repo, curation_stats=r) as srv:
        home = urlopen(srv.url + "/").read().decode()
        assert "/curation" in home
        page = urlopen(srv.url + "/curation").read().decode()
        for key in (
            "corpus", "gopher_gated", "c4_gated", "c4_span_deduped",
            "dsir_selected",
        ):
            assert f"<b>{r[key]}</b>" in page, key
        assert f"<b>{r['split_train']}</b> docs" in page
        assert "benchmark docs leaked into train: <b>0</b>" in page
        # r16: the C4 audit-branch rows render next to the Gopher stage
        assert "C4 line/page gate" in page
        assert (
            f"C4 span dedup removed <b>{r['c4_spans_removed']}</b>" in page
        )


@pytest.mark.slow
def test_ann_serving_example(spark, tmp_path):
    """The ANN-serving showcase (examples/ann_serving.py: build
    persisted IVF-PQ -> pruned serve -> incremental float-index append
    -> recall evaluation) runs end-to-end at sf0.001 and its stage
    facts hold: the index covers all cells, the pruned serve clears
    the measured recall floor, the append produced the full union, and
    the full-probe serve recovers the exact top-5 (recall 1.0)."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "ann_serving",
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "examples",
            "ann_serving.py",
        ),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    r = mod.run(spark, "/root/testdata/sf0.001", root=str(tmp_path))
    assert r["corpus"] > 0
    assert 1 <= r["n_cells"] <= 8
    assert r["appended_rows"] == r["corpus"]
    assert r["pruned_recall_at_5"] >= 0.1  # the driver gate's floor
    assert r["fullprobe_recall_at_5"] == 1.0
    # r13 bulk stage: the SAME index serves a query TABLE (corpus-vs-
    # corpus) through the join path — every vector got its neighbors
    assert r["bulk_queries"] == r["corpus"]
    assert r["bulk_rows"] == 3 * r["corpus"]


def test_ann_index_drift_triggered_retrain(spark, tmp_path):
    """r11 verdict #8: wire `embedding_drift` to the index retrain
    decision. Append a TRANSLATED batch under the frozen quantizer:
    the drift gate must flag, the stale assignment must show the
    degenerate hot cell (the whole batch in one inverted list — the
    real casualty of drift: that probe is now a brute scan of the new
    corpus), and the drift-triggered rebuild must restore cell balance
    while holding pruned-probe recall for drifted-distribution queries
    above the serving floor (measured 0.72 at nprobe=2/8; floor 0.4
    leaves a >1-hit margin per query)."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "ann_serving",
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "examples",
            "ann_serving.py",
        ),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    d = mod.run_drift_retrain(spark, "/root/testdata/sf0.001", root=str(tmp_path))
    assert d["drift_flagged"] is True and d["l2_shift"] > 1.0, d
    assert d["modal_frac_stale"] >= 0.9, d   # hot-cell degeneracy
    assert d["modal_frac_retrained"] <= 0.5, d  # balance restored
    assert d["recall_retrained"] >= 0.4, d   # serving floor after rebuild


def test_containment_dedup_survivors(spark):
    """One-way contained docs drop (container survives); mutual
    containment keeps the smaller id; unrelated docs untouched."""
    short = "alpha beta gamma delta epsilon zeta"
    filler = " ".join(f"w{i} x{i} y{i}" for i in range(40))
    df = spark.createDataFrame(
        [
            (1, short),
            (2, filler + " " + short + " " + filler),  # contains 1
            (3, "other text entirely here today"),
            (10, "one two three four five six seven"),
            (11, "one two three four five six seven"),  # mutual with 10
        ],
        "id long, text string",
    )
    out = dedup.containment_dedup(df, "id", "text", n=3, threshold=0.9, max_token_df=None)
    assert {r["id"] for r in out.collect()} == {2, 3, 10}


def test_containment_dedup_drop_list_broadcast_fallback(spark):
    """The drop-list removal broadcasts only while the list fits
    ``broadcast_threshold``; above it (here forced with 0) the SAME
    survivors come out of a plain shuffled anti-join — the 100 TB
    high-dup-density escape hatch (a 20%-contained 10B-row corpus has a
    2B-id drop list no driver can broadcast)."""
    short = "alpha beta gamma delta epsilon zeta"
    filler = " ".join(f"w{i} x{i} y{i}" for i in range(40))
    df = spark.createDataFrame(
        [
            (1, short),
            (2, filler + " " + short + " " + filler),
            (3, "other text entirely here today"),
            (10, "one two three four five six seven"),
            (11, "one two three four five six seven"),
        ],
        "id long, text string",
    )
    forced = dedup.containment_dedup(
        df, "id", "text", n=3, threshold=0.9, max_token_df=None,
        broadcast_threshold=0,
    )
    plan = forced._jdf.queryExecution().executedPlan().toString()
    anti = [ln for ln in plan.splitlines() if "LeftAnti" in ln]
    assert anti and all("Broadcast" not in ln for ln in anti), plan
    assert {r["id"] for r in forced.collect()} == {2, 3, 10}

    always = dedup.containment_dedup(
        df, "id", "text", n=3, threshold=0.9, max_token_df=None,
        broadcast_threshold=None,
    )
    plan = always._jdf.queryExecution().executedPlan().toString()
    anti = [ln for ln in plan.splitlines() if "LeftAnti" in ln]
    assert anti and any("Broadcast" in ln for ln in anti), plan
    assert {r["id"] for r in always.collect()} == {2, 3, 10}

    # input_rows <= broadcast_threshold proves broadcast safety WITHOUT
    # the count probe (drop ids are a subset of df ids) — same
    # survivors, broadcast plan, no probe job (r11 knob)
    known = dedup.containment_dedup(
        df, "id", "text", n=3, threshold=0.9, max_token_df=None,
        broadcast_threshold=4_000_000, input_rows=5,
    )
    plan = known._jdf.queryExecution().executedPlan().toString()
    anti = [ln for ln in plan.splitlines() if "LeftAnti" in ln]
    assert anti and any("Broadcast" in ln for ln in anti), plan
    assert {r["id"] for r in known.collect()} == {2, 3, 10}


def _dsir_brute(rows, n_buckets=8192, alpha=0.5):
    """Driver-side DSIR reference: same md5 bucketing, add-alpha
    smoothing, and unigram+bigram multiset as the operator."""
    import hashlib
    import math

    def toks(t):
        import re as _re

        return _re.sub(r"\s+", " ", t.strip().lower()).split(" ")

    def grams(t):
        ts = toks(t)
        out = list(ts)
        out += [f"{a} {b}" for a, b in zip(ts, ts[1:])]
        return out

    def bucket(g):
        return int(hashlib.md5(f"42|{g}".encode()).hexdigest()[:8], 16) % n_buckets

    raw, tgt = {}, {}
    for _id, text, is_t in rows:
        for g in grams(text):
            b = bucket(g)
            raw[b] = raw.get(b, 0) + 1
            if is_t:
                tgt[b] = tgt.get(b, 0) + 1
    R, T = sum(raw.values()), sum(tgt.values())
    out = {}
    for _id, text, is_t in rows:
        lw = 0.0
        for g in grams(text):
            b = bucket(g)
            lw += math.log((tgt.get(b, 0) + alpha) / (T + alpha * n_buckets))
            lw -= math.log((raw.get(b, 0) + alpha) / (R + alpha * n_buckets))
        out[_id] = lw
    return out


def test_dsir_log_weights_match_brute_force(spark):
    from thoth_spark.operators import sampling

    rows = [
        (1, "spark query engine scan", True),
        (2, "spark query engine batch", True),
        (3, "el gato come pescado fresco", False),
        (4, "spark engine query scan scan", False),
        (5, "la casa verde grande azul", False),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, t boolean")
    got = {
        r["id"]: r["log_weight"]
        for r in sampling.dsir_log_weights(df, "doc_id", "text", "t").collect()
    }
    want = _dsir_brute(rows)
    assert set(got) == set(want)
    for k in want:
        assert abs(got[k] - want[k]) < 1e-9, (k, got[k], want[k])
    # target-vocabulary doc (4) outranks off-distribution docs (3, 5)
    assert got[4] > got[3] and got[4] > got[5]


def test_dsir_select_stable_across_layouts(spark):
    from thoth_spark.operators import sampling

    rows = [
        (i, ("spark scan query " if i % 3 == 0 else "casa verde gato ") * 3, i % 2 == 0)
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, t boolean")
    a = sorted(
        r["id"] for r in sampling.dsir_select(df, "doc_id", "text", "t", 20).collect()
    )
    b = sorted(
        r["id"]
        for r in sampling.dsir_select(
            df.repartition(7), "doc_id", "text", "t", 20
        ).collect()
    )
    assert len(a) == 20
    assert a == b


def test_semdedup_keeps_the_outlier_per_duplicate_group(spark):
    import numpy as np

    from thoth_spark.operators import similarity

    # two axis-aligned clusters with FIXED centroids; one planted
    # near-dup pair per cluster (cos ~0.99), one distant singleton
    cents = np.eye(3)[:2]
    rows = [
        (1, [1.0, 0.0, 0.0]),          # cluster 0, centroid_sim 1.0
        (2, [0.99, 0.141, 0.0]),       # dup of 1, centroid_sim 0.99
        (3, [0.8, 0.6, 0.0]),          # cluster 0 singleton (cos(1,3)=0.8)
        (4, [0.0, 1.0, 0.0]),          # cluster 1, centroid_sim 1.0
        (5, [0.0, 0.995, 0.0998]),     # dup of 4
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = similarity.semdedup(df, threshold=0.95, centroids=cents).collect()
    surv = sorted(r["id"] for r in out)
    # the paper's rule: of each dup pair, the member FARTHEST from the
    # centroid survives (2 over 1, 5 over 4); singletons survive
    assert surv == [2, 3, 5]
    by_id = {r["id"]: r for r in out}
    assert by_id[3]["cluster"] == 0 and by_id[5]["cluster"] == 1


def test_semdedup_matches_brute_force_with_fixed_centroids(spark):
    import numpy as np

    from thoth_spark.operators import similarity

    rng = np.random.default_rng(7)
    cents = rng.normal(size=(4, 8))
    base = rng.normal(size=(30, 8))
    vecs = {i: base[i] for i in range(30)}
    # plant near-dups: ids 30..39 are tiny perturbations of ids 0..9
    for i in range(10):
        vecs[30 + i] = base[i] + rng.normal(scale=1e-3, size=8)
    rows = [(i, [float(x) for x in v]) for i, v in sorted(vecs.items())]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = sorted(
        r["id"]
        for r in similarity.semdedup(df, threshold=0.95, centroids=cents).collect()
    )

    # driver-side reference: same assignment, pairs, components, policy
    def cos(a, b):
        return float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))

    cell = {
        i: int(np.argmin(((cents - v) ** 2).sum(axis=1)))
        for i, v in vecs.items()
    }
    parent = {i: i for i in vecs}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for i in vecs:
        for j in vecs:
            if i < j and cell[i] == cell[j] and cos(vecs[i], vecs[j]) >= 0.95:
                parent[find(i)] = find(j)
    groups = {}
    for i in vecs:
        groups.setdefault(find(i), []).append(i)
    want = sorted(
        min(g, key=lambda i: (round(cos(vecs[i], cents[cell[i]]), 6), i))
        for g in groups.values()
    )
    assert got == want


def test_semdedup_string_ids_match_long_ids(spark):
    """The per-cluster pass orders ids itself (min-id representative of
    an exact-copy group, min-id component label, id tie-break of the
    survivor), so string ids must come out exactly as the same ids as
    longs do: zero-padded strings sort as their numbers."""
    import numpy as np

    from thoth_spark.operators import similarity

    rng = np.random.default_rng(7)
    cents = rng.normal(size=(4, 8))
    base = rng.normal(size=(30, 8))
    vecs = {i: base[i] for i in range(30)}
    for i in range(10):
        vecs[30 + i] = base[i] + rng.normal(scale=1e-3, size=8)
    # two exact copies: one joins the near-dup group of 5 and 35, one
    # makes the singleton 20 a tied pair (min id wins)
    vecs[40], vecs[41] = vecs[5].copy(), vecs[20].copy()
    rows = [(i, [float(x) for x in v]) for i, v in sorted(vecs.items())]

    def run(id_type, key):
        df = spark.createDataFrame(
            [(key(i), v) for i, v in rows], f"vec_id {id_type}, embedding array<double>"
        )
        return sorted(
            tuple(r)
            for r in similarity.semdedup(df, threshold=0.95, centroids=cents).collect()
        )

    as_long = run("long", int)
    as_str = run("string", lambda i: f"{i:03d}")
    assert as_str == [(f"{i:03d}", c, s, f"{m:03d}") for i, c, s, m in as_long]
    surv = {r[0] for r in as_long}
    assert 20 in surv and 41 not in surv
    assert len(surv & {5, 35, 40}) == 1


def test_semdedup_union_find_labels_min_reachable_node():
    """semdedup's vectorized union-find against a sequential min-label
    reference, on random graphs (self-loops and repeats included), long
    chains numbered in both directions, a star and an edgeless graph."""
    import numpy as np

    from thoth_spark.operators.similarity import _min_label_components

    def reference(n, ea, eb):
        lab = list(range(n))
        changed = True
        while changed:
            changed = False
            for a, b in zip(ea, eb):
                m = min(lab[a], lab[b])
                if lab[a] != m or lab[b] != m:
                    lab[a] = lab[b] = m
                    changed = True
        return lab

    rng = np.random.default_rng(11)
    graphs = [
        (200, np.arange(199), np.arange(1, 200)),
        (200, np.arange(199)[::-1], np.arange(1, 200)[::-1]),
        (50, np.full(49, 49), np.arange(49)),
        (5, np.zeros(0, dtype=np.int64), np.zeros(0, dtype=np.int64)),
    ]
    for n, m in [(30, 10), (100, 80), (300, 250)]:
        ea, eb = rng.integers(0, n, m), rng.integers(0, n, m)
        graphs.append((n, ea, eb))
    for n, ea, eb in graphs:
        got = _min_label_components(n, np.asarray(ea), np.asarray(eb))
        assert got.tolist() == reference(n, ea, eb)


def test_ivf_index_roundtrip(spark, tmp_path):
    """Persisted IVF layout: query-from-index equals in-memory ivf_topk
    with the same centroids, and the cells scan prunes to the probed
    partitions (PartitionFilters on cell)."""
    import numpy as np

    from thoth_spark.operators import similarity
    from thoth_spark.sources import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    queries = emb.limit(5)
    cents = similarity.coarse_centroids(emb, "embedding", 8, seed=11)
    path = str(tmp_path / "ivf")
    similarity.build_ivf_index(emb, path, centroids=cents)
    got = similarity.ivf_query_index(spark, path, queries, k=3, nprobe=2)
    want = similarity.ivf_topk(emb, queries, k=3, nprobe=2, centroids=cents)
    key = lambda r: (r["query_id"], r["rank"])  # noqa: E731
    gr = sorted(map(tuple, got.collect()), key=lambda t: (t[0], t[3]))
    wr = sorted(map(tuple, want.collect()), key=lambda t: (t[0], t[3]))
    assert gr == wr and len(gr) == 15
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [cell" in plan, plan[:2000]


def test_ivf_index_append_equals_full_build(spark, tmp_path):
    """Incremental index maintenance: build on half the corpus, append
    the other half under the frozen centroids — queries over the
    appended index equal the same queries over a single full build with
    the same centroids, for BOTH the float and SQ8 layouts, and the
    probed scan still partition-prunes."""
    from pyspark.sql import functions as F  # noqa: F811

    from thoth_spark.operators import similarity
    from thoth_spark.sources import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    first = emb.where(F.col("vec_id") % 2 == 0)
    second = emb.where(F.col("vec_id") % 2 == 1)
    queries = emb.limit(5)
    cents = similarity.coarse_centroids(emb, "embedding", 8, seed=11)
    for quantize in (False, True):
        inc = str(tmp_path / f"inc_{quantize}")
        full = str(tmp_path / f"full_{quantize}")
        similarity.build_ivf_index(first, inc, centroids=cents, quantize=quantize)
        similarity.ivf_index_append(spark, inc, second)
        similarity.build_ivf_index(emb, full, centroids=cents, quantize=quantize)
        kw = {"rerank_corpus": emb} if quantize else {}
        got = similarity.ivf_query_index(spark, inc, queries, k=3, nprobe=2, **kw)
        want = similarity.ivf_query_index(spark, full, queries, k=3, nprobe=2, **kw)
        gr = sorted(map(tuple, got.collect()), key=lambda t: (t[0], t[3]))
        wr = sorted(map(tuple, want.collect()), key=lambda t: (t[0], t[3]))
        assert gr == wr and len(gr) == 15, (quantize, gr[:3], wr[:3])
        plan = got._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters: [cell" in plan, plan[:2000]


def _small_ivf(spark, tmp_path, id_type="bigint", vec_type="array<double>"):
    """A 2-d float index over two well-separated groups, with the
    centroids (1, 0) and (0, 1) given, so every cell is known."""
    import numpy as np

    rng = np.random.default_rng(5)
    pts = np.vstack(
        [rng.normal([1.0, 0.0], 0.1, (20, 2)), rng.normal([0.0, 1.0], 0.1, (20, 2))]
    )
    cast = str if id_type == "string" else int
    corpus = spark.createDataFrame(
        [(cast(i), [float(x) for x in v]) for i, v in enumerate(pts)],
        f"vec_id {id_type}, embedding {vec_type}",
    )
    cents = np.array([[1.0, 0.0], [0.0, 1.0]])
    path = str(tmp_path / "ivf_small")
    similarity.build_ivf_index(corpus, path, centroids=cents)
    return corpus, cents, path


def test_ivf_query_index_empty_batch(spark, tmp_path):
    """An empty query frame serves an empty result."""
    corpus, _, path = _small_ivf(spark, tmp_path)
    got = similarity.ivf_query_index(spark, path, corpus.limit(0), k=3, nprobe=1)
    assert got.collect() == []
    assert got.columns == ["query_id", "neighbor_id", "cos_sim", "rank"]


@pytest.mark.parametrize(
    "id_type, vec_type",
    [("string", "array<double>"), ("bigint", "array<float>")],
)
def test_ivf_query_index_id_and_vector_types(spark, tmp_path, id_type, vec_type):
    """String ids keep their type through the driver-built query frame,
    and ``array<float>`` queries are probed and scored on their exact
    doubles: the serve equals :func:`ivf_topk` with the same centroids."""
    corpus, cents, path = _small_ivf(spark, tmp_path, id_type, vec_type)
    ids = [str(i) if id_type == "string" else i for i in (0, 7, 25)]
    queries = corpus.where(F.col("vec_id").isin(ids))
    got = similarity.ivf_query_index(spark, path, queries, k=3, nprobe=1)
    want = similarity.ivf_topk(corpus, queries, k=3, nprobe=1, centroids=cents)
    assert dict(got.dtypes)["query_id"] == id_type
    gr = sorted(map(tuple, got.collect()), key=lambda t: (t[0], t[3]))
    wr = sorted(map(tuple, want.collect()), key=lambda t: (t[0], t[3]))
    assert gr == wr and len(gr) == 9


def test_ivf_query_index_equidistant_query_takes_lower_cid(spark, tmp_path):
    """A query exactly equidistant from two centroids probes the lower
    cid, as :func:`nearest_cells_udf` assigns it on the executors."""
    import numpy as np

    corpus, cents, path = _small_ivf(spark, tmp_path)
    q = spark.createDataFrame([(100, [1.0, 1.0])], "vec_id long, embedding array<double>")
    udf_cells = q.select(similarity.nearest_cells_udf(cents, 2)("embedding")).first()[0]
    assert udf_cells == [0, 1]
    assert similarity._nearest_cells(np.array([[1.0, 1.0]]), cents, 2).tolist() == [[0, 1]]
    got = similarity.ivf_query_index(spark, path, q, k=40, nprobe=1).collect()
    assert sorted(r["neighbor_id"] for r in got) == list(range(20))  # cell 0 only


def test_ivf_query_index_scores_one_query_batch(spark, sf_dir, tmp_path):
    """A non-deterministic query frame is read once: on an SQ8 layout
    the probe rows, the quantized query side and the rerank side all
    come from the same collected batch, so every query is scored."""
    import random

    from thoth_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    cents = similarity.coarse_centroids(emb, "embedding", 8, seed=11)
    path = str(tmp_path / "ivf_sq8")
    similarity.build_ivf_index(emb, path, centroids=cents, quantize=True)
    # a new sample on every evaluation (F.rand() fixes its seed when the
    # column is built, so it would repeat itself)
    noise = F.udf(lambda: random.random(), "double").asNondeterministic()
    queries = emb.withColumn("__r", noise()).orderBy("__r").limit(5).drop("__r")
    for kw in ({}, {"rerank_corpus": emb}):
        got = similarity.ivf_query_index(
            spark, path, queries, k=3, nprobe=8, **kw
        ).collect()
        per_query = {}
        for r in got:
            per_query.setdefault(r["query_id"], []).append(r["rank"])
        assert len(per_query) == 5, (kw, per_query)
        assert all(sorted(v) == [1, 2, 3] for v in per_query.values()), per_query


def test_ivf_query_index_guards_query_batch(spark, tmp_path, monkeypatch):
    """The driver-side probe collects a bounded batch: past
    :data:`MAX_QUERY_BATCH` queries the serve fails loudly naming the
    join serve; within the cap it works unchanged."""
    corpus, _, path = _small_ivf(spark, tmp_path)
    monkeypatch.setattr(similarity, "MAX_QUERY_BATCH", 3)
    with pytest.raises(ValueError, match="ivf_query_index_join"):
        similarity.ivf_query_index(spark, path, corpus.limit(4), k=2, nprobe=1)
    out = similarity.ivf_query_index(spark, path, corpus.limit(3), k=2, nprobe=1)
    assert out.count() == 6


def test_ivf_query_index_leaves_no_block_behind(spark, tmp_path):
    """A serve neither checkpoints nor caches: it adds no persistent RDD
    and no CacheManager entry to the session."""
    corpus, _, path = _small_ivf(spark, tmp_path)
    jsc = spark.sparkContext._jsc
    cache_manager = spark._jsparkSession.sharedState().cacheManager()

    def blocks():
        # RDD ids, not a count: the ContextCleaner may drop an earlier
        # test's checkpoint while this one runs
        return set(jsc.getPersistentRDDs().keySet()), cache_manager.numCachedEntries()

    rdds, cached = blocks()
    for nprobe in (1, 2):
        served = similarity.ivf_query_index(spark, path, corpus, k=2, nprobe=nprobe)
        assert served.count() == 80
    rdds_after, cached_after = blocks()
    assert rdds_after - rdds == set() and cached_after == cached


@pytest.mark.slow
def test_ivfpq_index_roundtrip(spark, tmp_path):
    """Persisted IVF-PQ layout (cells = PQ codes partitionBy(cell) +
    centroids + codebooks + meta): query-from-index equals in-memory
    ivfpq_topk with the same quantizers at a partial probe, the cells
    scan prunes to the probed partitions (PartitionFilters on cell),
    and at full probe + unbounded pool the roundtrip is bit-equal to
    brute force — for BOTH the global-code and residual layouts (meta
    carries the residual flag across the storage boundary)."""
    import numpy as np

    from thoth_spark.operators import similarity
    from thoth_spark.sources import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    queries = emb.limit(5)
    cents = similarity.coarse_centroids(emb, "embedding", 8, seed=11)
    for residual in (False, True):
        path = str(tmp_path / f"ivfpq_{residual}")
        _, cb = similarity.build_ivfpq_index(
            emb, path, centroids=cents, m_subspaces=8, n_codes=16,
            residual=residual,
        )
        got = similarity.ivfpq_query_index(
            spark, path, queries, rerank_corpus=emb, k=3, nprobe=2,
            rerank_pool=10,
        )
        want = similarity.ivfpq_topk(
            emb, queries, k=3, nprobe=2, rerank_pool=10, centroids=cents,
            codebooks=cb, residual=residual,
        )
        gr = sorted(map(tuple, got.collect()), key=lambda t: (t[0], t[3]))
        wr = sorted(map(tuple, want.collect()), key=lambda t: (t[0], t[3]))
        assert gr == wr and len(gr) == 15, (residual, gr[:3], wr[:3])
        plan = got._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters: [cell" in plan, plan[:2000]
        full = similarity.ivfpq_query_index(
            spark, path, queries, rerank_corpus=emb, k=3, nprobe=8,
            rerank_pool=10**9,
        )
        brute = similarity.brute_force_topk(emb, queries, k=3)
        assert sorted(map(tuple, full.collect())) == sorted(
            map(tuple, brute.collect())
        ), residual


def test_ivfpq_index_non_unit_norm_queries(spark, tmp_path):
    """r11 advice (high): the persisted-index prefilter used to assign
    probe cells from RAW query vectors while _ivfpq_rank masks
    candidates to cells from NORMALIZED queries — the ||c||²−2q·c rule
    is not scale-invariant in q, so for non-unit-norm queries the
    parquet scan could prune cells the scorer still expected, silently
    dropping candidates. Pin the fix two ways on queries scaled by a
    per-row factor: (1) index serve == in-memory ivfpq_topk at a
    partial probe; (2) cosine is scale-invariant, so the scaled-query
    results equal the unit-norm-query results exactly."""
    from pyspark.sql import functions as F  # noqa: F811

    from thoth_spark.operators import similarity
    from thoth_spark.sources import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    queries = emb.limit(5)
    scaled = queries.withColumn(
        "embedding",
        F.transform("embedding", lambda x: x * (F.col("vec_id") % 7 + 2)),
    )
    cents = similarity.coarse_centroids(emb, "embedding", 8, seed=11)
    for residual in (False, True):
        path = str(tmp_path / f"ivfpq_nn_{residual}")
        _, cb = similarity.build_ivfpq_index(
            emb, path, centroids=cents, m_subspaces=8, n_codes=16,
            residual=residual,
        )
        got = similarity.ivfpq_query_index(
            spark, path, scaled, rerank_corpus=emb, k=3, nprobe=2,
            rerank_pool=10,
        )
        want = similarity.ivfpq_topk(
            emb, scaled, k=3, nprobe=2, rerank_pool=10, centroids=cents,
            codebooks=cb, residual=residual,
        )
        unit = similarity.ivfpq_query_index(
            spark, path, queries, rerank_corpus=emb, k=3, nprobe=2,
            rerank_pool=10,
        )
        gr = sorted(map(tuple, got.collect()), key=lambda t: (t[0], t[3]))
        wr = sorted(map(tuple, want.collect()), key=lambda t: (t[0], t[3]))
        ur = sorted(map(tuple, unit.collect()), key=lambda t: (t[0], t[3]))
        assert gr == wr and len(gr) == 15, (residual, gr[:3], wr[:3])
        assert gr == ur, (residual, gr[:3], ur[:3])


def test_ivf_index_quantized_rerank_matches_quantized_topk(spark, tmp_path):
    """SQ8 index layout: full-probe query-from-index with exact rerank
    equals quantized_topk (same candidate pipeline, probed set = whole
    corpus at nprobe = n_centroids), and the stored cells carry int8
    components."""
    from thoth_spark.operators import similarity
    from thoth_spark.sources import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    queries = emb.limit(4)
    cents = similarity.coarse_centroids(emb, "embedding", 4, seed=13)
    path = str(tmp_path / "ivf_sq8")
    similarity.build_ivf_index(emb, path, centroids=cents, quantize=True)
    cells = spark.read.parquet(f"{path}/cells")
    assert dict(cells.dtypes)["qvec"] == "array<tinyint>"
    got = similarity.ivf_query_index(
        spark, path, queries, k=3, nprobe=4, rerank_corpus=emb
    )
    want = similarity.quantized_topk(emb, queries, k=3)
    gr = sorted(map(tuple, got.collect()), key=lambda t: (t[0], t[3]))
    wr = sorted(map(tuple, want.collect()), key=lambda t: (t[0], t[3]))
    assert gr == wr and len(gr) == 12


# --- clustering.lloyd_refine -------------------------------------------------


def test_lloyd_refine_recovers_separated_blobs(spark):
    """Three well-separated blobs, seeds = one point from each (the
    3 smallest ids): two Lloyd iterations must assign every point to
    its blob's cluster, regardless of rounding grid."""
    import numpy as np

    from thoth_spark.operators import clustering

    rng = np.random.default_rng(7)
    rows = []
    for b, center in enumerate([0.0, 50.0, -50.0]):
        for i in range(20):
            vec = (center + rng.normal(0, 0.5, 8)).tolist()
            rows.append((b + 3 * i, vec))  # ids 0,1,2 are one per blob
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    stats = {}
    out = clustering.lloyd_refine(df, k=3, iterations=2, stats=stats)
    got = {r.id: r.cluster for r in out.collect()}
    assert len(got) == 60
    for vid in got:
        assert got[vid] == got[vid % 3], (vid, got[vid], got[vid % 3])
    assert len({got[0], got[1], got[2]}) == 3
    assert stats["centroids"].shape == (3, 8)
    # second-iteration shift is tiny once the blobs are recovered
    assert stats["moved"][1] <= stats["moved"][0]


def test_lloyd_refine_empty_cluster_keeps_previous_centroid(spark):
    """A centroid placed where no point will ever assign must survive
    the mean update unchanged (the empty-cluster rule the SQL replay's
    LEFT JOIN coalesce mirrors)."""
    import numpy as np

    from thoth_spark.operators import clustering

    rows = [(i, [float(i % 2), 0.0]) for i in range(10)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    init = np.array([[0.0, 0.0], [1.0, 0.0], [1000.0, 1000.0]])
    stats = {}
    out = clustering.lloyd_refine(
        df, centroids=init, iterations=2, stats=stats
    )
    assert {r.cluster for r in out.collect()} == {0, 1}
    assert np.array_equal(stats["centroids"][2], init[2])


# --- membership.bloom_build / bloom_probe ------------------------------------


def test_bloom_no_false_negatives_and_sized_fpr(spark):
    """Every inserted key must hit (Bloom's hard guarantee); disjoint
    probes must false-positive at no more than ~3x the sized
    (1-e^(-kn/m))^k rate (3x absorbs the fixture's small-sample
    variance; the rate itself is deterministic given the md5 scheme)."""
    import math

    from thoth_spark.operators import membership

    m, k, n = 1 << 15, 3, 2000
    ref = spark.createDataFrame([(f"key-{i}",) for i in range(n)], "fp string")
    flt = membership.bloom_build(ref, "fp", m=m, n_hashes=k).cache()
    assert flt.count() <= m // membership.BITS_PER_WORD

    members = spark.createDataFrame(
        [(i, f"key-{i}") for i in range(n)], "id long, fp string"
    )
    hits = membership.bloom_probe(flt, members, "id", "fp", m=m, n_hashes=k)
    assert hits.where(~F.col("hit")).count() == 0  # no false negatives

    outsiders = spark.createDataFrame(
        [(i, f"other-{i}") for i in range(1000)], "id long, fp string"
    )
    fp_count = (
        membership.bloom_probe(flt, outsiders, "id", "fp", m=m, n_hashes=k)
        .where(F.col("hit"))
        .count()
    )
    theoretical = (1 - math.exp(-k * n / m)) ** k
    assert fp_count / 1000 <= 3 * theoretical + 0.01, (fp_count, theoretical)


def test_bloom_probe_shuffle_join_matches_broadcast(spark):
    """broadcast=False (the path a multi-billion-bit filter takes) must
    produce the identical hit set."""
    from thoth_spark.operators import membership

    ref = spark.createDataFrame([(f"k{i}",) for i in range(500)], "fp string")
    flt = membership.bloom_build(ref, "fp", m=1 << 12, n_hashes=3).cache()
    probe = spark.createDataFrame(
        [(i, f"k{i}") for i in range(400, 700)], "id long, fp string"
    )
    a = membership.bloom_probe(flt, probe, "id", "fp", m=1 << 12, n_hashes=3)
    b = membership.bloom_probe(
        flt, probe, "id", "fp", m=1 << 12, n_hashes=3, broadcast=False
    )
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


# --- similarity PQ (product quantization / ADC) -------------------------------


def _pq_blob_fixture(spark, n_blobs=8, per_blob=30, dim=16, seed=11):
    import numpy as np

    rng = np.random.default_rng(seed)
    centers = rng.normal(0, 10, (n_blobs, dim))
    rows = []
    for i in range(n_blobs * per_blob):
        v = centers[i % n_blobs] + rng.normal(0, 0.3, dim)
        rows.append((i, v.tolist()))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_pq_rerank_full_equals_brute(spark):
    """rerank_pool >= |corpus| must reproduce brute_force_topk exactly,
    whatever the codebooks say."""
    from thoth_spark.operators import similarity

    df = _pq_blob_fixture(spark)
    q = df.where(F.col("vec_id") < 5)
    cb = similarity.pq_codebooks_seeded(df, m_subspaces=4, n_codes=8)
    codes = similarity.pq_encode(df, cb)
    full = similarity.pq_topk(
        codes, q, cb, k=5, rerank_with=df, rerank_pool=10**9
    )
    brute = similarity.brute_force_topk(df, q, k=5)
    assert sorted(map(tuple, full.collect())) == sorted(
        map(tuple, brute.collect())
    )


def test_pq_trained_recall_floor(spark):
    """On clustered data (PQ's operating regime) the trained-codebook
    ADC + exact-rerank pipeline must recover most of the exact top-5."""
    from thoth_spark.operators import similarity

    df = _pq_blob_fixture(spark)
    q = df.where(F.col("vec_id") < 5)
    cb = similarity.train_pq_codebooks(
        df, m_subspaces=4, n_codes=8, max_train=1000
    )
    codes = similarity.pq_encode(df, cb)
    # pool > blob size: ADC cannot rank INSIDE a blob (every member
    # shares the codes), so the pool must cover the whole tie set
    got = similarity.pq_topk(
        codes, q, cb, k=5, rerank_with=df, rerank_pool=40
    ).select("query_id", "neighbor_id")
    brute = similarity.brute_force_topk(df, q, k=5).select(
        "query_id", "neighbor_id"
    )
    hits = got.join(brute, ["query_id", "neighbor_id"]).count()
    assert hits / brute.count() >= 0.8, hits / brute.count()


def test_pq_encode_shape_and_self_code(spark):
    """codes are m small ints; a seed vector encodes to its own codeword
    in every subspace (it IS the codebook entry)."""
    from thoth_spark.operators import similarity

    df = _pq_blob_fixture(spark)
    cb = similarity.pq_codebooks_seeded(df, m_subspaces=4, n_codes=8)
    assert cb.shape == (4, 8, 4)
    rows = {r.id: r.codes for r in similarity.pq_encode(df, cb).collect()}
    assert all(len(c) == 4 and max(c) < 8 and min(c) >= 0 for c in rows.values())
    assert rows[0] == [0, 0, 0, 0]  # vec 0 is codeword 0 of every subspace


def test_vocabulary_counts_and_coverage(spark):
    from thoth_spark.operators import text as text_ops

    df = spark.createDataFrame(
        [(1, "a b a"), (2, "b a c"), (3, "a  B")],
        "doc_id long, text string",
    )
    # tokens (normalized): a×4, b×3, c×1 → total 8
    out = {r.tok: r for r in text_ops.vocabulary(df, top_n=2).collect()}
    assert set(out) == {"a", "b"}
    assert (out["a"].rank, out["a"].cnt, out["a"].coverage) == (1, 4, 0.5)
    assert (out["b"].rank, out["b"].cnt, out["b"].coverage) == (2, 3, 0.875)


# --- profiler.sketches count-min ----------------------------------------------


def test_cms_never_undercounts_and_merges(spark):
    """est >= true for EVERY key (the CMS one-sided guarantee), and the
    sketch of a union equals the merge of the parts' sketches."""
    from thoth_spark.profiler import sketches

    rows = [(f"k{i % 50}",) for i in range(2000)] + [("hot",)] * 500
    df = spark.createDataFrame(rows, "tok string").repartition(8)
    sk = sketches.cms_build(df, "tok", depth=4, width=64).cache()
    assert sk.count() <= 4 * 64

    truth = df.groupBy("tok").agg(F.count(F.lit(1)).alias("true_cnt"))
    est = sketches.cms_estimate(sk, truth, "tok", depth=4, width=64)
    joined = truth.join(est, "tok")
    assert joined.where(F.col("est") < F.col("true_cnt")).count() == 0
    hot = joined.where(F.col("tok") == "hot").first()
    assert hot.est >= 500

    # merge property on a clean split: build per-slice, merge, compare
    a = spark.createDataFrame(rows[:1200], "tok string")
    b = spark.createDataFrame(rows[1200:], "tok string")
    merged = sketches.cms_merge(
        sketches.cms_build(a, "tok", depth=4, width=64),
        sketches.cms_build(b, "tok", depth=4, width=64),
    )
    whole = sketches.cms_build(df, "tok", depth=4, width=64)
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, whole.collect())
    )


def test_zorder_key_matches_reference_interleave(spark):
    from thoth_spark.operators import storage

    def morton(a, b, bits=8):
        z = 0
        for i in range(bits):
            z |= ((a >> i) & 1) << (2 * i) | ((b >> i) & 1) << (2 * i + 1)
        return z

    rows = [(i, i % 256, (i * 37) % 256) for i in range(500)]
    df = spark.createDataFrame(rows, "id long, a long, b long")
    out = df.select(
        "id", "a", "b",
        storage.zorder_key([F.col("a"), F.col("b")], bits=8).alias("zkey"),
    )
    for r in out.collect():
        assert r.zkey == morton(r.a, r.b), (r.a, r.b, r.zkey)


def test_minmax_quantize_clamps_top_cell(spark):
    from thoth_spark.operators import storage

    df = spark.createDataFrame([(0.0,), (5.0,), (10.0,)], "x double")
    got = sorted(
        r.q for r in df.select(
            storage.minmax_quantize(F.col("x"), 0.0, 10.0, bits=2).alias("q")
        ).collect()
    )
    assert got == [0, 2, 3]  # x=mx lands IN the top cell, not past it
    # degenerate span: everything maps to cell 0
    same = spark.createDataFrame([(7.0,), (7.0,)], "x double")
    assert {
        r.q
        for r in same.select(
            storage.minmax_quantize(F.col("x"), 7.0, 7.0, bits=2).alias("q")
        ).collect()
    } == {0}


def test_zorder_write_tightens_row_group_stats_on_both_dims(spark, tmp_path):
    """The point of the layout: after repartitionByRange(zkey) + sort,
    parquet row-group min/max envelopes must shrink on BOTH interleaved
    dimensions vs a round-robin write — that shrinkage IS the
    data-skipping a reader's predicate pushdown buys."""
    import glob

    import pyarrow.parquet as pq

    from thoth_spark.operators import storage

    rows = [(i, (i * 7919) % 1000, float((i * 104729) % 1000)) for i in range(20000)]
    df = spark.createDataFrame(rows, "id long, user_id long, value double")
    zk = storage.zorder_key(
        [
            storage.minmax_quantize(F.col("user_id"), 0, 999, bits=8),
            storage.minmax_quantize(F.col("value"), 0.0, 999.0, bits=8),
        ],
        bits=8,
    )

    plain_dir, z_dir = str(tmp_path / "plain"), str(tmp_path / "zorder")
    df.repartition(4).write.parquet(plain_dir)
    (
        df.withColumn("zkey", zk)
        .repartitionByRange(4, "zkey")
        .sortWithinPartitions("zkey")
        .drop("zkey")
        .write.parquet(z_dir)
    )

    def coverage(path, col):
        total = 0.0
        for f in glob.glob(f"{path}/*.parquet"):
            meta = pq.ParquetFile(f).metadata
            idx = meta.schema.names.index(col)
            for g in range(meta.num_row_groups):
                st = meta.row_group(g).column(idx).statistics
                total += float(st.max) - float(st.min)
        return total

    for col in ("user_id", "value"):
        assert coverage(z_dir, col) <= 0.7 * coverage(plain_dir, col), col


# --- tokenizer (learned BPE) ---------------------------------------------------


def _reference_bpe(texts, n_merges):
    """Pure-python Sennrich BPE: the independent implementation the
    distributed trainer must reproduce merge-for-merge."""
    import collections
    import re

    words = collections.Counter(
        w
        for t in texts
        for w in re.sub(r"\s+", " ", t.lower().strip()).split(" ")
    )
    vocab = {w: list(w) for w in words}
    merges = []
    for _ in range(n_merges):
        pc = collections.Counter()
        for w, c in words.items():
            s = vocab[w]
            for i in range(len(s) - 1):
                pc[(s[i], s[i + 1])] += c
        if not pc:
            break
        m = max(pc.values())
        a, b = sorted(p for p, c in pc.items() if c == m)[0]
        merges.append((a, b))
        for w, s in vocab.items():
            out, i = [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            vocab[w] = out
    return merges, vocab, words


def test_bpe_train_matches_reference(spark):
    from thoth_spark.operators import tokenizer

    texts = [
        "low lower lowest low low",
        "new newer newest new",
        "wide wider widest low newer",
        "the wide low road goes lower",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = tokenizer.bpe_train(df, n_merges=12)
    ref, vocab, words = _reference_bpe(texts, 12)
    assert got == ref

    counts = {
        r.doc_id: r.n_bpe
        for r in tokenizer.bpe_token_count(df, got).collect()
    }
    import re

    for i, t in enumerate(texts):
        expect = sum(
            len(vocab[w])
            for w in re.sub(r"\s+", " ", t.lower().strip()).split(" ")
        )
        assert counts[i] == expect, (i, counts[i], expect)


def test_bpe_exhausted_vocab_stops_early(spark):
    """Single-character words have no pairs: training must return fewer
    merges than requested, not loop or crash."""
    from thoth_spark.operators import tokenizer

    df = spark.createDataFrame(
        [(0, "a b c a b")], "doc_id long, text string"
    )
    assert tokenizer.bpe_train(df, n_merges=5) == []


def test_bpe_greedy_on_same_symbol_runs(spark):
    """Regression (r10 advice): the shared-delimiter encoding's replace
    consumed the boundary '·' between adjacent merge sites, so runs >=5
    of a merged symbol skipped every second site — 'aaaaa' became
    [aa, a, aa] instead of greedy [aa, aa, a], and 'aaaaaa' got 4
    tokens instead of 3. Verify merge-for-merge and count-for-count
    parity with the pure-python Sennrich reference on run-heavy
    corpora, including a multi-round case where merged symbols
    themselves run ('aaaa' -> 'aa aa' -> 'aaaa')."""
    from thoth_spark.operators import tokenizer

    texts = ["aaaaa aaaaaa", "...... !!!!!", "aaaa aaaa aaaaaaaa bbbb"]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = tokenizer.bpe_train(df, n_merges=6)
    ref, vocab, _ = _reference_bpe(texts, 6)
    assert got == ref
    # the distributed fallback hits _safe_batch's self-run bar here:
    # merging (a,a) at 22 creates (aa,aa) at 8, which must win round 2
    # over the disjoint (.,.) at 5 — a naive disjoint batch gets this
    # wrong
    got_dist = tokenizer.bpe_train(df, n_merges=6, driver_words=0)
    assert got_dist == ref
    counts = {
        r.doc_id: r.n_bpe
        for r in tokenizer.bpe_token_count(df, got).collect()
    }
    for i, t in enumerate(texts):
        expect = sum(len(vocab[w]) for w in t.split(" "))
        assert counts[i] == expect, (i, counts[i], expect)


def test_safe_batch_multi_gain_bar():
    """Regression (r12 advice): the old 2T bar was unsound when a
    competitor pair (X, Y) has BOTH slots colliding with pre-existing
    string-collision symbols — it then gains from up to three sources
    ('a1 b1 Y', 'X a2 b2', 'a1 b1 a2 b2') on top of its old value,
    each bounded only by T, so it can reach ~4T and beat a kept merge
    that only cleared 2T (the advice's instance: a cnt-98 third merge
    kept at t_bound=40 while the competitor reaches ~105). The bar for
    i > 0 is now cnt > 4*t_bound + max(double_max, 0)."""
    from thoth_spark.operators.tokenizer import _safe_batch

    def rows(*triples):
        return [{"a": a, "b": b, "cnt": c} for a, b, c in triples]

    # the advice's instance: ranks 2 and 3 clear 2T (>80) but not 4T
    # (<=160) at t_bound=40 — only the head may be kept
    r = rows(
        ("a", "ab", 200), ("c", "d", 150), ("e", "f", 98), ("x", "a", 40)
    )
    assert _safe_batch(r, 4, 99) == [("a", "ab")]
    # with a wide enough margin (every kept rank > 4T) the batch keeps
    # the full disjoint prefix
    r = rows(
        ("a", "b", 900), ("c", "d", 800), ("e", "f", 700), ("x", "a", 40)
    )
    assert _safe_batch(r, 4, 99) == [("a", "b"), ("c", "d"), ("e", "f")]
    # a doubled merge's self-run gain stacks ON TOP of the 4T term:
    # cnt=205 clears 4*40=160 but not 160 + 100//2
    r = rows(("a", "a", 100), ("c", "d", 205), ("x", "a", 40))
    assert _safe_batch(r, 3, 99) == [("a", "a")]
    r = rows(("a", "a", 100), ("c", "d", 211), ("x", "a", 40))
    assert _safe_batch(r, 3, 99) == [("a", "a"), ("c", "d")]
    # the batch head is unconditionally exact — progress is guaranteed
    r = rows(("a", "b", 50), ("b", "c", 50))
    assert _safe_batch(r, 1, 99) == [("a", "b")]


def test_bpe_distributed_on_collision_prone_corpus(spark):
    """String-collision corpus (tokens 'a', 'ab', 'aab', 'b' coexist, so
    merges mint symbols that already exist as tokens): the distributed
    batched fallback must stay merge-for-merge identical to sequential
    greedy — this is the corpus shape where the unsound 2T bar could
    diverge."""
    from thoth_spark.operators import tokenizer

    texts = [
        "aab aab aab ab ab a b aab",
        "a ab a ab aab b b ab",
        "aa b aa b aab ab aab",
        "b a b a ab ab aab aab aa",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    ref, _, _ = _reference_bpe(texts, 8)
    assert tokenizer.bpe_train(df, n_merges=8) == ref
    for bk in (2, 64):
        got = tokenizer.bpe_train(
            df, n_merges=8, driver_words=0, batch_k=bk
        )
        assert got == ref, (bk, got, ref)


def test_ivfpq_fullprobe_fullpool_equals_brute(spark):
    from thoth_spark.operators import similarity

    df = _pq_blob_fixture(spark)
    q = df.where(F.col("vec_id") < 5)
    got = similarity.ivfpq_topk(
        df, q, k=5, n_centroids=4, nprobe=4,
        m_subspaces=4, n_codes=8, rerank_pool=10**9,
    )
    brute = similarity.brute_force_topk(df, q, k=5)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, brute.collect())
    )


def test_ivfpq_trained_recall_floor(spark):
    """Partial probe + bounded pool on clustered data: the composite
    must recover most of the exact top-5 (a probed cell covers the
    query's own blob, and the pool exceeds the blob tie set)."""
    from thoth_spark.operators import similarity

    df = _pq_blob_fixture(spark)
    q = df.where(F.col("vec_id") < 5)
    got = similarity.ivfpq_topk(
        df, q, k=5, n_centroids=8, nprobe=4,
        m_subspaces=4, n_codes=8, rerank_pool=40,
    ).select("query_id", "neighbor_id")
    brute = similarity.brute_force_topk(df, q, k=5).select(
        "query_id", "neighbor_id"
    )
    hits = got.join(brute, ["query_id", "neighbor_id"]).count()
    assert hits / brute.count() >= 0.8, hits / brute.count()


def test_ivfpq_residual_fullprobe_equals_brute(spark):
    from thoth_spark.operators import similarity

    df = _pq_blob_fixture(spark)
    q = df.where(F.col("vec_id") < 5)
    got = similarity.ivfpq_topk(
        df, q, k=5, n_centroids=4, nprobe=4,
        m_subspaces=4, n_codes=8, rerank_pool=10**9, residual=True,
    )
    brute = similarity.brute_force_topk(df, q, k=5)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, brute.collect())
    )


@pytest.mark.slow
def test_ivfpq_residual_beats_global_adc(spark):
    """Clustered data with SHARED low-rank within-cell structure (the
    covariance shape real embedding corpora have): global PQ codes
    collapse a cell's members onto few codewords — ADC cannot rank
    inside the cell — while residual codes spend the same bytes on the
    within-cell offsets, so compressed-domain recall improves.
    (Residuals quantize nothing useful under ISOTROPIC per-cell noise
    pooled across disjoint planes — that fixture shows no gap, which
    is faithful to the method, not a bug.)"""
    import numpy as np

    from thoth_spark.operators import similarity

    rng = np.random.default_rng(7)
    dim, n_blobs, per = 16, 8, 30
    centers = rng.normal(0, 50, (n_blobs, dim))
    dirs = rng.normal(0, 1, (2, dim))  # shared noise basis
    rows = []
    for i in range(n_blobs * per):
        t = rng.normal(0, 12, 2)
        v = centers[i % n_blobs] + t[0] * dirs[0] + t[1] * dirs[1]
        rows.append((i, v.tolist()))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = df.where(F.col("vec_id") < 5)
    brute = similarity.brute_force_topk(df, q, k=5).select(
        "query_id", "neighbor_id"
    )

    def adc_hits(residual):
        got = similarity.ivfpq_topk(
            df, q, k=5, n_centroids=8, nprobe=8,
            m_subspaces=4, n_codes=16, rerank_pool=5, residual=residual,
        ).select("query_id", "neighbor_id")
        return got.join(brute, ["query_id", "neighbor_id"]).count()

    g, r = adc_hits(False), adc_hits(True)
    assert r > g, (r, g)  # measured (g, r) = (7, 12) on this fixture
    assert r / brute.count() >= 0.4, r / brute.count()


def test_ivf_index_join_serve_matches_collect_path(spark, tmp_path):
    """r12 verdict #2 (the one remaining scale hole): the join-based
    serve keeps the query set a DataFrame end-to-end and must return
    EXACTLY the collect path's rows — float layout, SQ8 approximate,
    and SQ8 + exact rerank, at partial and full probe."""
    from pyspark.sql import functions as F  # noqa: F811

    from thoth_spark.operators import similarity
    from thoth_spark.sources import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    queries = emb.limit(5)
    cents = similarity.coarse_centroids(emb, "embedding", 8, seed=11)
    for quantize in (False, True):
        path = str(tmp_path / f"ivf_{quantize}")
        similarity.build_ivf_index(emb, path, centroids=cents, quantize=quantize)
        reranks = [None, emb] if quantize else [None]
        for rc in reranks:
            for nprobe in (2, 8):
                kw = {"rerank_corpus": rc} if rc is not None else {}
                got = similarity.ivf_query_index_join(
                    spark, path, queries, k=3, nprobe=nprobe, **kw
                )
                want = similarity.ivf_query_index(
                    spark, path, queries, k=3, nprobe=nprobe, **kw
                )
                gr = sorted(map(tuple, got.collect()))
                wr = sorted(map(tuple, want.collect()))
                assert gr == wr and len(gr) == 15, (quantize, nprobe, rc is None)


def test_ivf_join_serve_vectorized_parity(spark, tmp_path):
    """The cogrouped vectorized scorer (knn_graph's float path) must
    return EXACTLY the rows of ivf_query_index_join's pair path: sequential-dim accumulation reproduces the JVM fold's IEEE
    addition order bit-for-bit, and the per-group top-k cut uses the
    same (cos desc, neighbor asc) total order as the global window —
    including exact-duplicate vectors (cosine ties) and the self-pair
    exclusion."""
    from pyspark.sql import functions as F  # noqa: F811

    from thoth_spark.operators import similarity
    from thoth_spark.sources import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id", "embedding"
    )
    # plant exact duplicates so cosine ties cross the per-group cut
    dups = emb.limit(7).select(
        (F.col("vec_id") + F.lit(100000)).alias("vec_id"), "embedding"
    )
    corpus = emb.unionByName(dups)
    cents = similarity.coarse_centroids(emb, "embedding", 8, seed=11)
    path = str(tmp_path / "ivf_vec")
    similarity.build_ivf_index(corpus, path, centroids=cents)
    for nprobe, k in ((2, 3), (8, 3), (8, 1)):
        fast = similarity.knn_graph(spark, path, corpus, k=k, nprobe=nprobe)
        ref = similarity.ivf_query_index_join(spark, path, corpus, k=k, nprobe=nprobe)
        fr = sorted(map(tuple, fast.collect()))
        rr = sorted(map(tuple, ref.collect()))
        assert fr == rr, (nprobe, k)


@pytest.mark.slow
def test_ivfpq_index_join_serve_matches_collect_path(spark, tmp_path):
    """The IVF-PQ join serve (probe rule, ADC association, and rerank
    contract shared with the collect path) must match it row-for-row on
    global-code AND residual layouts, and must be query-scale-invariant
    (the whole dataflow ranks on cosine)."""
    from pyspark.sql import functions as F  # noqa: F811

    from thoth_spark.operators import similarity
    from thoth_spark.sources import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    queries = emb.limit(5)
    for residual in (False, True):
        path = str(tmp_path / f"ivfpq_{residual}")
        similarity.build_ivfpq_index(
            emb, path, n_centroids=8, m_subspaces=8, n_codes=16,
            residual=residual,
        )
        for nprobe in (2, 8):
            got = similarity.ivfpq_query_index_join(
                spark, path, queries, emb, k=3, nprobe=nprobe, rerank_pool=15
            )
            want = similarity.ivfpq_query_index(
                spark, path, queries, emb, k=3, nprobe=nprobe, rerank_pool=15
            )
            gr = sorted(map(tuple, got.collect()))
            wr = sorted(map(tuple, want.collect()))
            assert gr == wr and len(gr) == 15, (residual, nprobe)
        # non-unit-norm queries serve identically (same neighbor ranking)
        scaled = queries.withColumn(
            "embedding", F.transform(F.col("embedding"), lambda x: x * 7.0)
        )
        unit = similarity.ivfpq_query_index_join(
            spark, path, queries, emb, k=3, nprobe=2, rerank_pool=15
        )
        sc = similarity.ivfpq_query_index_join(
            spark, path, scaled, emb, k=3, nprobe=2, rerank_pool=15
        )
        u = sorted((r[0], r[1], r[3]) for r in unit.collect())
        s = sorted((r[0], r[1], r[3]) for r in sc.collect())
        assert u == s, residual


def test_semdedup_auto_n_clusters_scales_with_corpus(spark):
    """r12 verdict #6: n_clusters left None is DERIVED from the corpus
    count (max(16, ceil(n_rows / target_cluster_size)), clamped to
    max_train // 64) so the within-cluster quadratic cannot silently
    blow up when a caller forgets the knob at 100x scale — expected
    cluster size tracks target_cluster_size instead of n_rows/16."""
    import numpy as np

    from thoth_spark.operators import similarity

    rng = np.random.default_rng(7)

    def corpus(n):
        return spark.createDataFrame(
            [(i, [float(x) for x in rng.normal(size=8)]) for i in range(n)],
            "vec_id long, embedding array<double>",
        )

    small, big = {}, {}
    similarity.semdedup(
        corpus(200), stats=small, target_cluster_size=50
    ).count()
    similarity.semdedup(
        corpus(2000), stats=big, target_cluster_size=50
    ).count()
    assert small["n_clusters"] == 16  # floor
    assert big["n_clusters"] == 40  # ceil(2000 / 50): 10x corpus, 2.5x knob
    # the clamp keeps >= 64 training points per centroid under a small
    # training budget
    clamped = {}
    similarity.semdedup(
        corpus(2000), stats=clamped, target_cluster_size=50, max_train=1280
    ).count()
    assert clamped["n_clusters"] == 20  # 1280 // 64


def test_collect_serve_guards_query_table(spark, monkeypatch):
    """r12 verdict watch item #2: pointing a collect-based serve at a
    query TABLE must fail loudly naming the join alternative, and the
    guard's collect is limit-capped (the driver never materializes the
    table). Cap patched small so the test corpus stands in for 100k+."""
    from thoth_spark.operators import similarity

    monkeypatch.setattr(similarity, "MAX_QUERY_BATCH", 3)
    df = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(10)],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="ivf_query_index_join"):
        similarity.brute_force_topk_pandas(df, df, k=2)
    # within the cap the serve works unchanged
    out = similarity.brute_force_topk_pandas(df, df.limit(2), k=2)
    assert out.count() == 4


def test_knn_classify_guards_corpus_sized_seed_set(spark, monkeypatch):
    """r14 verdict nit #1a: a corpus-sized "labeled" side must fail
    loudly naming the join-serve alternative instead of collecting the
    corpus to the driver; the guard's collect is limit-capped. Within
    the cap the classifier works unchanged."""
    from thoth_spark.operators import similarity

    monkeypatch.setattr(similarity, "MAX_QUERY_BATCH", 3)
    labeled = spark.createDataFrame(
        [(i, [float(i), 1.0], "a" if i % 2 else "b") for i in range(10)],
        "vec_id long, embedding array<double>, label string",
    )
    unlabeled = spark.createDataFrame(
        [(100 + i, [float(i), 1.0]) for i in range(4)],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="ivf_query_index_join"):
        similarity.knn_classify(labeled, unlabeled, k=2)
    out = similarity.knn_classify(labeled.limit(3), unlabeled, k=2)
    assert out.count() == 4


def test_bm25_multi_guards_corpus_sized_query_terms(spark, monkeypatch):
    """r14 verdict nit #1b: bm25_topk_multi's documented broadcast
    contract is enforced — a query table whose DISTINCT term set
    exceeds the cap fails loudly (limit-capped collect), while a wide
    query table over a small shared vocabulary still works."""
    from thoth_spark.operators import retrieval

    monkeypatch.setattr(retrieval, "MAX_QUERY_TERMS", 3)
    docs = spark.createDataFrame(
        [(i, f"term{i} alpha beta gamma") for i in range(8)],
        "doc_id long, text string",
    )
    wide = spark.createDataFrame(
        [(q, f"term{q}") for q in range(8)], "query_id long, term string"
    )
    with pytest.raises(ValueError, match="bm25_topk_multi collects"):
        retrieval.bm25_topk_multi(docs, "doc_id", "text", wide, k=2)
    # many queries over a SMALL shared vocabulary stay inside the
    # contract: distinct terms, not query rows, gate the fail-loud path
    shared = spark.createDataFrame(
        [(q, t) for q in range(8) for t in ("alpha", "beta")],
        "query_id long, term string",
    )
    out = retrieval.bm25_topk_multi(docs, "doc_id", "text", shared, k=2)
    rows = sorted(map(tuple, out.collect()))
    assert len(rows) == 16
    # the (query_id, term) ROWS axis degrades the broadcast hint past
    # its own cap (shuffle join) with identical results — never an OOM
    # (dfreq and the 1-row stats frame keep their hints — only the
    # queries-frame hint is dropped, so the count falls by exactly one)
    n_hints = (
        out._jdf.queryExecution().optimizedPlan().toString().lower().count("broadcast")
    )
    monkeypatch.setattr(retrieval, "MAX_QUERY_ROWS", 3)
    degraded = retrieval.bm25_topk_multi(docs, "doc_id", "text", shared, k=2)
    logical = degraded._jdf.queryExecution().optimizedPlan().toString()
    assert logical.lower().count("broadcast") == n_hints - 1
    assert sorted(map(tuple, degraded.collect())) == rows


@pytest.mark.slow
def test_ivfpq_index_append_equals_full_build(spark, tmp_path):
    """r13: the PQ index gets the same O(batch) nightly-ingest shape as
    the float/SQ8 one — build on half the corpus, append the other half
    under the FROZEN quantizers; queries over the appended index equal
    the same queries over a single full build with the same quantizers,
    for BOTH the global-code and residual layouts, through BOTH serves."""
    from pyspark.sql import functions as F  # noqa: F811

    from thoth_spark.operators import similarity
    from thoth_spark.sources import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    first = emb.where(F.col("vec_id") % 2 == 0)
    second = emb.where(F.col("vec_id") % 2 == 1)
    queries = emb.limit(5)
    cents = similarity.coarse_centroids(emb, "embedding", 8, seed=11)
    for residual in (False, True):
        inc = str(tmp_path / f"inc_{residual}")
        full = str(tmp_path / f"full_{residual}")
        _, cb = similarity.build_ivfpq_index(
            first, inc, n_centroids=8, m_subspaces=8, n_codes=16,
            centroids=cents, residual=residual,
        )
        similarity.ivfpq_index_append(spark, inc, second)
        similarity.build_ivfpq_index(
            emb, full, n_centroids=8, m_subspaces=8, n_codes=16,
            centroids=cents, codebooks=cb, residual=residual,
        )
        for serve in (
            similarity.ivfpq_query_index, similarity.ivfpq_query_index_join
        ):
            got = serve(spark, inc, queries, emb, k=3, nprobe=2, rerank_pool=15)
            want = serve(spark, full, queries, emb, k=3, nprobe=2, rerank_pool=15)
            gr = sorted(map(tuple, got.collect()))
            wr = sorted(map(tuple, want.collect()))
            assert gr == wr and len(gr) == 15, (residual, serve.__name__)
        plan = got._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters: [cell" in plan or "cell#" in plan, plan[:1500]


@pytest.mark.parametrize("residual", [False, True])
def test_ivfpq_index_stores_one_code_row_per_input_row(spark, tmp_path, residual):
    """An id that repeats in the input is coded once per input row, on
    both code layouts, by the build and by the append: 40 rows with 10
    ids appearing twice store 40 code rows, then 80."""
    import numpy as np

    rng = np.random.default_rng(5)
    rows = [(i % 30, [float(x) for x in rng.normal(size=16)]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    path = str(tmp_path / "pq")
    similarity.build_ivfpq_index(
        df, path, m_subspaces=4, n_codes=4, residual=residual,
        centroids=rng.normal(size=(2, 16)), codebooks=rng.normal(size=(4, 4, 4)),
    )
    assert spark.read.parquet(f"{path}/cells").count() == 40
    similarity.ivfpq_index_append(spark, path, df)
    assert spark.read.parquet(f"{path}/cells").count() == 80


def _zero_norm_reference(corpus: list, queries: list, k: int) -> list:
    """Exact top-k in Spark's order: cosine desc with NULL (a zero norm)
    last, then neighbor id asc; self pairs excluded."""
    import numpy as np

    out = []
    for qid, qv in queries:
        scored = []
        for cid, cv in corpus:
            if cid != qid:
                den = np.linalg.norm(qv) * np.linalg.norm(cv)
                s = float(np.dot(qv, cv) / den) if den else None
                scored.append((s is None, -(s or 0.0), cid, s))
        for rank, (_, _, cid, s) in enumerate(sorted(scored)[:k], 1):
            out.append((qid, cid, s, rank))
    return out


@pytest.mark.parametrize(
    "op",
    [
        "brute_force_topk",
        "brute_force_topk_pandas",
        "quantized_topk",
        "ivf_query_index",
        "ivf_query_index_join",
        "knn_graph",
    ],
)
def test_zero_norm_vectors_score_null_last(spark, tmp_path, op):
    """A zero-norm corpus row and a zero-norm query have no cosine: every
    top-k operator scores their pairs NULL and ranks them after every
    number, so the zero row is no other query's neighbor and the zero
    query's neighbors are the lowest ids. Plain ``/`` raised
    DIVIDE_BY_ZERO under ANSI in the Spark scorers; the numpy local cut
    broke the zero query's all-NULL tie in batch order, so the corpus
    arrives as one batch in descending id order."""
    import numpy as np

    rng = np.random.default_rng(9)
    vecs = rng.normal(size=(16, 8))
    vecs[3] = 0.0
    corpus_rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    schema = "vec_id long, embedding array<double>"
    corpus = spark.createDataFrame(corpus_rows[::-1], schema).coalesce(1)
    query_rows = [r for r in corpus_rows if r[0] in (1, 3, 7)]
    queries = spark.createDataFrame(query_rows, schema)
    k = 3
    path = str(tmp_path / "ivf")
    if op in ("ivf_query_index", "ivf_query_index_join", "knn_graph"):
        similarity.build_ivf_index(corpus, path, centroids=rng.normal(size=(2, 8)))
    got = {
        "brute_force_topk": lambda: similarity.brute_force_topk(corpus, queries, k=k),
        "brute_force_topk_pandas": lambda: similarity.brute_force_topk_pandas(
            corpus, queries, k=k
        ),
        "quantized_topk": lambda: similarity.quantized_topk(corpus, queries, k=k),
        "ivf_query_index": lambda: similarity.ivf_query_index(
            spark, path, queries, k=k, nprobe=2
        ),
        "ivf_query_index_join": lambda: similarity.ivf_query_index_join(
            spark, path, queries, k=k, nprobe=2
        ),
        "knn_graph": lambda: similarity.knn_graph(spark, path, corpus, k=k, nprobe=2),
    }[op]().collect()
    want = _zero_norm_reference(
        corpus_rows, corpus_rows if op == "knn_graph" else query_rows, k
    )
    got = sorted(map(tuple, got), key=lambda r: (r[0], r[3]))
    assert [(r[0], r[1], r[3]) for r in got] == [(r[0], r[1], r[3]) for r in want]
    for g, w in zip(got, want):
        assert g[2] is w[2] is None or abs(g[2] - w[2]) < 1e-6, (g, w)
    zero_query = [r for r in got if r[0] == 3]
    assert [(r[1], r[2]) for r in zero_query] == [(0, None), (1, None), (2, None)]


def test_ivf_index_compact_preserves_serves(spark, tmp_path):
    """r13: after repeated appends multiply the per-cell file count,
    ivf_index_compact must shrink files without changing a single serve
    result, for both the float and PQ layouts (same quantizers, same
    rows, same top-k through the collect AND join serves)."""
    from pyspark.sql import functions as F  # noqa: F811

    from thoth_spark.operators import similarity
    from thoth_spark.sources import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    queries = emb.limit(5)
    cents = similarity.coarse_centroids(emb, "embedding", 8, seed=11)

    ivf = str(tmp_path / "ivf")
    similarity.build_ivf_index(emb.where(F.col("vec_id") % 4 == 0), ivf, centroids=cents)
    for r in (1, 2, 3):  # three appends -> up to 4 files per cell
        similarity.ivf_index_append(spark, ivf, emb.where(F.col("vec_id") % 4 == r))
    before = sorted(map(tuple, similarity.ivf_query_index(
        spark, ivf, queries, k=3, nprobe=2
    ).collect()))
    stats = similarity.ivf_index_compact(spark, ivf)
    assert stats["files_after"] < stats["files_before"], stats
    assert spark.read.parquet(f"{ivf}/cells").count() == emb.count()
    after = sorted(map(tuple, similarity.ivf_query_index(
        spark, ivf, queries, k=3, nprobe=2
    ).collect()))
    after_join = sorted(map(tuple, similarity.ivf_query_index_join(
        spark, ivf, queries, k=3, nprobe=2
    ).collect()))
    assert before == after == after_join

    pq = str(tmp_path / "pq")
    similarity.build_ivfpq_index(
        emb.where(F.col("vec_id") % 2 == 0), pq, n_centroids=8,
        m_subspaces=8, n_codes=16, centroids=cents,
    )
    similarity.ivfpq_index_append(spark, pq, emb.where(F.col("vec_id") % 2 == 1))
    before_pq = sorted(map(tuple, similarity.ivfpq_query_index(
        spark, pq, queries, emb, k=3, nprobe=2, rerank_pool=15
    ).collect()))
    stats_pq = similarity.ivf_index_compact(spark, pq)
    assert stats_pq["files_after"] <= stats_pq["files_before"], stats_pq
    after_pq = sorted(map(tuple, similarity.ivfpq_query_index(
        spark, pq, queries, emb, k=3, nprobe=2, rerank_pool=15
    ).collect()))
    assert before_pq == after_pq


# ---------------------------------------------------------------------------
# round-13 additions: gopher rules, domain caps, kNN graph, diversity
# sampling, fuzzy decontamination
# ---------------------------------------------------------------------------


def test_gopher_rules_flags(spark):
    """Each Gopher rule trips on the document built to violate exactly
    it, and the well-formed document passes all of them."""
    good = " ".join(
        ["the cat sat on that mat with one very happy dog and some fish"] * 5
    )
    short = "the cat sat with that dog"  # < 50 words
    symbols = " ".join(["the office### cat... sat with### that... dog"] * 8)
    bullets = "\n".join(["- the cat sat with that dog and fish today"] * 10)
    ellipsis = "\n".join(["the cat sat with that dog and fish today..."] * 10)
    numeric = " ".join(["the 12 34 56 78 90 11 22 33 44 with"] * 6)
    df = spark.createDataFrame(
        [
            (1, good),
            (2, short),
            (3, symbols),
            (4, bullets),
            (5, ellipsis),
            (6, numeric),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in text.gopher_rules(df).collect()}
    assert rows[1]["pass_gopher"] is True
    assert rows[2]["pass_gopher"] is False and rows[2]["n_words"] < 50
    assert rows[3]["pass_gopher"] is False
    # the paper gates hash and ellipsis EACH at 0.1, not their sum
    assert rows[3]["hash_word_ratio"] > 0.1
    assert rows[3]["ellipsis_word_ratio"] > 0.1
    assert rows[4]["pass_gopher"] is False and rows[4]["bullet_ratio"] == 1.0
    assert rows[5]["pass_gopher"] is False and rows[5]["ellipsis_ratio"] == 1.0
    assert rows[6]["pass_gopher"] is False
    assert rows[6]["alpha_word_ratio"] < 0.8
    # the passing doc's signals are sane
    assert rows[1]["stop_hits"] >= 2
    assert 3.0 <= rows[1]["avg_word_len"] <= 10.0


def test_domain_cap_sample_matches_single_window_on_skew(spark):
    """The two-stage salted cut must equal the one-window contract
    exactly — including on a hot domain much larger than cap × salts —
    and leave under-cap domains untouched."""
    from pyspark.sql import Window as W

    from thoth_spark.operators import sampling

    rows = [(f"k{i}", "hot") for i in range(500)] + [
        (f"c{i}", "cold") for i in range(3)
    ]
    df = spark.createDataFrame(rows, "k string, dom string")
    got = sampling.domain_cap_sample(df, "dom", "k", cap=5, n_salts=4)
    b = sampling._bucket(F.col("k"), 42)
    w = W.partitionBy("dom").orderBy(b, F.col("k"))
    want = (
        df.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 5)
        .drop("rn")
    )
    gr = sorted(map(tuple, got.collect()))
    assert gr == sorted(map(tuple, want.collect()))
    assert sum(1 for _, d in gr if d == "hot") == 5
    assert sum(1 for _, d in gr if d == "cold") == 3


def test_domain_cap_sample_raises_on_null_key_or_domain(spark):
    """NULL keys/domains would silently diverge from the single-window
    exact-replay contract (NULL buckets, NULLS FIRST vs LAST), so the
    operator must fail loudly instead."""
    import pytest

    from thoth_spark.operators import sampling

    null_key = spark.createDataFrame(
        [("a", "d1"), (None, "d1"), ("b", "d2")], "k string, dom string"
    )
    with pytest.raises(Exception, match="domain_cap_sample: NULL"):
        sampling.domain_cap_sample(null_key, "dom", "k", cap=1).collect()
    null_dom = spark.createDataFrame(
        [("a", "d1"), ("b", None)], "k string, dom string"
    )
    with pytest.raises(Exception, match="domain_cap_sample: NULL"):
        sampling.domain_cap_sample(null_dom, "dom", "k", cap=1).collect()


def test_cluster_balanced_sample_bounds_and_determinism(spark):
    from thoth_spark.operators import sampling
    from thoth_spark.sources import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    got = sampling.cluster_balanced_sample(
        emb, "vec_id", "embedding", n_clusters=8, per_cluster=10
    )
    counts = {
        r["cluster"]: r["n"]
        for r in got.groupBy("cluster").agg(F.count("*").alias("n")).collect()
    }
    assert all(n <= 10 for n in counts.values())
    assert len(counts) >= 2  # the sample actually spans clusters
    again = sampling.cluster_balanced_sample(
        emb, "vec_id", "embedding", n_clusters=8, per_cluster=10
    )
    assert sorted(r["vec_id"] for r in got.select("vec_id").collect()) == sorted(
        r["vec_id"] for r in again.select("vec_id").collect()
    )


def test_ngram_decontaminate_catches_paraphrase(spark):
    """A lightly edited near-copy of a benchmark doc is flagged (high
    Jaccard, low verbatim containment need not be 1.0), an unrelated doc
    is not, and the exact candidate join has no false negatives."""
    bench_text = (
        "the quick brown fox jumps over the lazy dog near the old river "
        "bank every single morning before the sun rises fully"
    )
    near_copy = (
        "the quick brown fox jumps over the lazy dog near the old river "
        "bank every single morning before the moon rises fully"
    )
    unrelated = "completely different subject matter about spark query engines"
    train = spark.createDataFrame(
        [(1, near_copy), (2, unrelated)], "doc_id long, text string"
    )
    bench = spark.createDataFrame([(100, bench_text)], "doc_id long, text string")
    got = dedup.ngram_decontaminate(train, bench, "doc_id", "text", threshold=0.5)
    rows = {r["id"]: r["max_jaccard"] for r in got.collect()}
    assert set(rows) == {1}
    assert rows[1] > 0.7
    # below-threshold similarity is filtered, not returned as 0
    none = dedup.ngram_decontaminate(
        train, bench, "doc_id", "text", threshold=0.999
    )
    assert none.count() == 0


def test_knn_graph_exact_at_fullprobe(spark, tmp_path):
    """knn_graph at nprobe = n_centroids equals brute force with the
    corpus as the query set — the corpus-vs-corpus join-serve contract."""
    from thoth_spark.sources import load_table

    # vec_id < 120, not limit(120): an unordered LIMIT is evaluated
    # independently by the index-build, query, and reference jobs and
    # Spark guarantees nothing about which rows it picks
    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").where(
        F.col("vec_id") < 120
    )
    path = str(tmp_path / "ivf")
    similarity.build_ivf_index(emb, path, n_centroids=4)
    got = similarity.knn_graph(spark, path, emb, k=3, nprobe=4)
    want = similarity.brute_force_topk(emb, emb, k=3)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_gopher_repetition_signals(spark):
    """Known-by-hand repetition arithmetic: 'a b a b c' has bigrams
    [a b, b a, a b, b c] → total 4, distinct 3, top 2."""
    df = spark.createDataFrame(
        [(1, "a b a b c"), (2, "x y")], "doc_id long, text string"
    )
    rows = {
        (r["id"], r["n"]): r
        for r in text.gopher_repetition(df, ns=(2, 3)).collect()
    }
    r = rows[(1, 2)]
    assert (r["total_ngrams"], r["distinct_ngrams"], r["top_count"]) == (4, 3, 2)
    assert r["top_ratio"] == 0.5 and r["dup_ratio"] == 0.25
    # doc 2 is too short for trigrams: the dense grid emits the zero row
    z = rows[(2, 3)]
    assert (z["total_ngrams"], z["top_ratio"], z["dup_ratio"]) == (0, 0.0, 0.0)
    assert set(rows) == {(1, 2), (1, 3), (2, 2), (2, 3)}


def test_gopher_repetition_verdict(spark):
    """Template spam trips the top-bigram rule, a duplicated-line doc
    trips the line rules, clean prose passes."""
    spam = " ".join(["buy now"] * 40)
    dup_lines = "\n".join(["the same exact line of text here"] * 8 + ["unique one"])
    clean_words = (
        "many different words appear once each making every ngram unique "
        "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    )
    df = spark.createDataFrame(
        [(1, spam), (2, dup_lines), (3, clean_words)], "doc_id long, text string"
    )
    rows = {r["id"]: r for r in text.gopher_repetition_verdict(df).collect()}
    assert rows[1]["pass_repetition"] is False
    assert rows[1]["top_2gram_ratio"] > 0.2
    assert rows[2]["pass_repetition"] is False
    assert rows[2]["dup_line_ratio"] > 0.3
    assert rows[3]["pass_repetition"] is True
    assert rows[3]["dup_line_ratio"] == 0.0


def test_gopher_repetition_verdict_blank_line_paragraphs(spark):
    """Well-formed multi-paragraph prose — distinct paragraphs joined by
    blank lines — must NOT fail the duplicate-line rule on its identical
    empty separator lines (the separators are layout, not repetition)."""
    # every token unique so no n-gram rule can trip — only the blank
    # separator lines could (and must not)
    paragraphs = [
        " ".join(f"word{p}x{w}" for w in range(8)) for p in range(10)
    ]
    prose = "\n\n".join(paragraphs)
    df = spark.createDataFrame([(1, prose)], "doc_id long, text string")
    r = text.gopher_repetition_verdict(df).collect()[0]
    assert r["dup_line_ratio"] == 0.0
    assert r["pass_repetition"] is True


def test_gopher_repetition_char_weighted(spark):
    """char_weighted=True adds the paper's character fractions from the
    same aggregate: hand-computed on a known doc, zero rows for short
    docs, and the occurrence columns unchanged vs the default path."""
    # "buy now buy now buy now": 6 toks, bigrams: "buy now"×3, "now buy"×2
    # doc_chars = 18 token chars + 5 spaces = 23; top mass = 3×7 = 21;
    # dup mass = 21 + 2×7 = 35 (overlap NOT deduped — documented bound)
    df = spark.createDataFrame(
        [(1, "buy now buy now buy now"), (2, "x")], "doc_id long, text string"
    )
    rows = {
        r["id"]: r
        for r in text.gopher_repetition(df, ns=(2,), char_weighted=True).collect()
    }
    r1 = rows[1]
    assert round(r1["top_char_ratio"], 6) == round(21 / 23, 6)
    assert round(r1["dup_char_ratio"], 6) == round(35 / 23, 6)
    assert (r1["total_ngrams"], r1["top_count"]) == (5, 3)
    assert rows[2]["top_char_ratio"] == 0.0 and rows[2]["dup_char_ratio"] == 0.0
    # occurrence columns identical to the default (non-weighted) path
    plain = {r["id"]: r for r in text.gopher_repetition(df, ns=(2,)).collect()}
    for i in (1, 2):
        assert plain[i]["top_ratio"] == rows[i]["top_ratio"]
        assert plain[i]["dup_ratio"] == rows[i]["dup_ratio"]
    # barrier="checkpoint" (the unbounded-caller mode, no CacheManager
    # entry) must be result-identical to the default cache barrier
    ckpt = sorted(
        map(
            tuple,
            text.gopher_repetition(
                df, ns=(2,), char_weighted=True, barrier="checkpoint"
            ).collect(),
        )
    )
    assert ckpt == sorted(tuple(r) for r in rows.values())
    import pytest

    with pytest.raises(ValueError, match="barrier"):
        text.gopher_repetition(df, barrier="nope")


def test_c4_rules_line_and_doc_gates(spark):
    """Each C4 rule trips on the line/doc built to violate exactly it:
    terminal punctuation, per-line word floor, javascript mention,
    policy substrings, lorem ipsum, curly brace, sentence floor."""
    good_line = "this line has plenty of words and ends properly."
    good = "\n".join([good_line] * 5)
    mixed = "\n".join(
        [
            good_line,
            "this line mentions JavaScript libraries and other things too.",
            "please read our privacy policy before continuing with browsing.",
            "too short.",
            "this line has many words but no terminal punctuation at all",
            good_line,
        ]
    )
    lorem = good + "\nlorem ipsum dolor sit amet is placeholder text here."
    brace = good.replace("properly.", "properly {ok}.")
    df = spark.createDataFrame(
        [(1, good), (2, mixed), (3, lorem), (4, brace), (5, "one. two.")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in text.c4_rules(df).collect()}
    assert rows[1]["pass_c4"] is True and rows[1]["n_kept_lines"] == 5
    # mixed doc: only the two good lines survive the line gates
    assert rows[2]["n_kept_lines"] == 2
    assert rows[2]["kept_text"] == "\n".join([good_line] * 2)
    assert rows[3]["pass_c4"] is False and rows[3]["has_lorem_ipsum"] is True
    assert rows[4]["pass_c4"] is False and rows[4]["has_brace"] is True
    # one-line doc of two tiny sentences: every line fails the word
    # floor, so zero sentences survive -> fails the doc floor
    assert rows[5]["n_kept_lines"] == 0 and rows[5]["pass_c4"] is False


def test_gopher_rules_separate_symbol_gates(spark):
    """Hash and ellipsis ratios are gated separately at 0.1 each (the
    paper's 'either' phrasing): a doc at ~0.07 on both would fail a
    combined-sum gate but must pass; the unicode ellipsis counts."""
    base = ["the cat sat on that mat with one very happy dog and a fish"] * 5
    body = " ".join(base)  # 70 words, all rules pass
    # leading symbols so the line does not END with an ellipsis:
    # 5 hash chars / 73 words ≈ 0.068; 3 unicode ellipses / 73 ≈ 0.041
    mild = "##### …… … " + body
    df = spark.createDataFrame([(1, mild)], "doc_id long, text string")
    r = text.gopher_rules(df).collect()[0]
    assert 0.0 < r["hash_word_ratio"] <= 0.1
    assert 0.0 < r["ellipsis_word_ratio"] <= 0.1
    assert r["pass_gopher"] is True
    # combined they exceed 0.1 — the old summed gate would have rejected
    assert r["hash_word_ratio"] + r["ellipsis_word_ratio"] > 0.1


def test_temperature_mix_proportions(spark):
    """alpha=0 equalizes a skewed two-source corpus (binding source kept
    whole), alpha=1 is a no-op; determinism across reruns."""
    rows = [(i, "big") for i in range(400)] + [(1000 + i, "small") for i in range(50)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    eq = curation.temperature_mix(df, alpha=0.0)
    got = {
        r["source"]: r["n"]
        for r in eq.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    assert got["small"] == 50  # binding source survives whole
    assert abs(got["big"] - 50) <= 15  # hash-thinned to ~the same size
    noop = curation.temperature_mix(df, alpha=1.0)
    assert noop.count() == 450
    assert sorted(map(tuple, eq.collect())) == sorted(
        map(tuple, curation.temperature_mix(df, alpha=0.0).collect())
    )


def test_temperature_mix_tolerates_null_sources(spark):
    """A NULL source must be dropped, not crash the rebalancing pass
    (re-crawls routinely carry null lang/source)."""
    rows = [(1, "a"), (2, "a"), (3, "a"), (4, "b"), (5, None)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    got = curation.temperature_mix(df, alpha=1.0)
    srcs = {r["source"] for r in got.collect()}
    assert None not in srcs
    assert got.count() == 4  # alpha=1 keeps every non-null row


def test_c4_span_dedup_keeps_first_occurrence(spark):
    """C4 span dedup semantics (Raffel et al. 2020 §2.2): the GLOBALLY
    first occurrence (smallest (id, pos)) of a duplicated 3-sentence
    span survives, every later occurrence loses those sentences,
    overlapping duplicate spans union their removals, and docs with
    fewer than 3 sentences pass through untouched."""
    from thoth_spark.operators.dedup import c4_span_dedup

    shared = "one two. three four. five six."
    rows = [
        (1, f"{shared} unique one here."),
        (2, f"prefix sentence. {shared}"),
        (3, shared),
        (4, "short doc. two sentences."),
        (5, "all different. sentences here. nothing shared. at all."),
        # overlap: shares spans (s1,s2,s3) AND (s2,s3,s4) with doc 1's
        # 4-sentence window -> removals union to all 4 sentences
        (6, f"{shared} unique one here."),
        # self-overlapping repeat (r15 advice): the span at pos 2
        # duplicates the keeper at pos 1 INSIDE the same doc, and its
        # removal (positions 2-4) overlaps the kept span — only the
        # non-overlapped prefix of the keeper survives
        (7, "a. a. a. a."),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["id"]: r for r in c4_span_dedup(df).collect()}
    assert out[1]["text"] == f"{shared} unique one here."
    assert out[1]["n_removed"] == 0
    assert out[2]["text"] == "prefix sentence."
    assert out[2]["n_removed"] == 3
    assert out[3]["text"] == "" and out[3]["n_removed"] == 3
    assert out[4]["text"] == "short doc. two sentences."
    assert out[4]["n_sentences"] == 2 and out[4]["n_removed"] == 0
    assert out[5]["n_removed"] == 0
    assert out[6]["text"] == "" and out[6]["n_removed"] == 4
    assert out[7]["text"] == "a." and out[7]["n_removed"] == 3
    assert out[7]["n_sentences"] == 4

    with pytest.raises(ValueError, match="span"):
        c4_span_dedup(df, span=0)


def test_c4_span_dedup_incremental_matches_batch(spark, tmp_path):
    """r16: ascending-id micro-batches against a fresh persisted span
    index reproduce the one-shot batch operator exactly — under
    ascending arrival the arrival-first keeper IS the global (id, pos)
    keeper, so union(incremental outputs) == c4_span_dedup(union).
    This is the parity contract the queued driver oracle relies on."""
    from thoth_spark.operators.dedup import (
        build_span_index,
        c4_span_dedup,
        c4_span_dedup_incremental,
    )

    shared = "one two. three four. five six."
    rows = [
        (1, f"{shared} unique one here."),
        (2, f"prefix sentence. {shared}"),
        (3, "all different. sentences here. nothing shared. at all."),
        (4, shared),
        (5, "short doc. two sentences."),
        (6, f"tail text. {shared}"),
        (7, "a. a. a. a."),
        (8, f"{shared} unique one here."),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    batch_out = sorted(
        tuple(r) for r in c4_span_dedup(df).collect()
    )
    path = str(tmp_path / "span_idx")
    build_span_index(df.limit(0), path, n_buckets=8)
    incr = []
    for lo, hi in ((1, 3), (4, 6), (7, 8)):
        b = df.where((F.col("doc_id") >= lo) & (F.col("doc_id") <= hi))
        incr.extend(
            tuple(r) for r in c4_span_dedup_incremental(b, path).collect()
        )
    assert sorted(incr) == batch_out


def test_c4_span_dedup_incremental_cross_batch_and_seed(spark, tmp_path):
    """The index can be SEEDED from an already-emitted corpus
    (build_span_index bookkeeps the ORIGINAL span stream, exactly what
    the batch operator computes keepers from), later batches dedup
    against it, the keeper across batches is the first occurrence ever
    SEEN (arrival order — even when a later batch carries a smaller
    id), and a batch with no >=span-sentence doc passes through without
    touching the index."""
    from thoth_spark.operators.dedup import (
        build_span_index,
        c4_span_dedup_incremental,
    )

    shared = "one two. three four. five six."
    seed = spark.createDataFrame(
        [(10, f"{shared} unique ten here."), (11, "other text. more words. here now.")],
        "doc_id long, text string",
    )
    path = str(tmp_path / "span_idx")
    build_span_index(seed, path, n_buckets=8)

    # arrival-first keeper: doc 1 has a SMALLER id than the seeded doc
    # 10 but arrives later -> it loses the span (documented semantics)
    b2 = spark.createDataFrame(
        [(1, f"{shared} fresh tail."), (2, "lone span. in this. batch only.")],
        "doc_id long, text string",
    )
    out2 = {r["id"]: r for r in c4_span_dedup_incremental(b2, path).collect()}
    assert out2[1]["text"] == "fresh tail." and out2[1]["n_removed"] == 3
    assert out2[2]["n_removed"] == 0  # first sighting: untouched, indexed

    # doc 2's span was appended by the PREVIOUS call -> removed now
    b3 = spark.createDataFrame(
        [(30, "lone span. in this. batch only."), (31, "two. sentences.")],
        "doc_id long, text string",
    )
    out3 = {r["id"]: r for r in c4_span_dedup_incremental(b3, path).collect()}
    assert out3[30]["text"] == "" and out3[30]["n_removed"] == 3
    assert out3[31]["text"] == "two. sentences."  # < span sentences

    # all-short batch: the no-span fast path (nothing probed/appended)
    b4 = spark.createDataFrame(
        [(40, "just one. or two.")], "doc_id long, text string"
    )
    out4 = c4_span_dedup_incremental(b4, path).collect()
    assert len(out4) == 1 and out4[0]["n_removed"] == 0


def test_span_index_compact_preserves_dedup(spark, tmp_path):
    """After several appends the spans table carries one file per
    touched bucket per batch; span_index_compact rewrites it (atomic
    rename swap, same machinery as the IVF cell compactor) without
    changing any later dedup decision."""
    from thoth_spark.operators.dedup import (
        build_span_index,
        c4_span_dedup_incremental,
        span_index_compact,
    )

    path = str(tmp_path / "span_idx")
    rows = [
        (i, f"block {i} a. block {i} b. block {i} c. common one. common two. common three.")
        for i in range(6)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    build_span_index(df.limit(0), path, n_buckets=4)
    # r16 review finding: a FRESH file-less index must compact as a
    # no-op (the stored DDL carries the schema inference can't)
    assert span_index_compact(spark, path) == {
        "files_before": 0, "files_after": 0, "bytes": 0,
    }
    for lo in (0, 2, 4):
        # TAGGED appends: compaction must collapse the per-batch bid
        # partitions (r16 review follow-up — without the collapse, file
        # count grows with trigger count forever)
        c4_span_dedup_incremental(
            df.where((F.col("doc_id") >= lo) & (F.col("doc_id") < lo + 2)),
            path,
            batch_tag=lo,
        ).collect()
    stats = span_index_compact(spark, path)
    assert stats["files_after"] < stats["files_before"]
    probe = spark.createDataFrame(
        [(100, "common one. common two. common three. novel a. novel b. novel c.")],
        "doc_id long, text string",
    )
    out = c4_span_dedup_incremental(probe, path).collect()[0]
    # the common block (seen in every earlier batch) is removed, the
    # novel tail survives and is now indexed
    assert out["n_removed"] == 3
    assert out["text"] == "novel a. novel b. novel c."
