"""Property-based tests (hypothesis): invariants that must hold for ANY
input frame, not just the golden fixtures. (The reference has no
property-based coverage — SURVEY §5.)"""

import datetime
import math

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F

from thoth_spark.anomaly.models import simple_model_folds
from thoth_spark.operators.dedup import exact_dedup
from thoth_spark.profiler import (
    Completeness,
    Mean,
    ProfilingBuilder,
    Size,
    StandardDeviation,
    profile,
)

KEY = ["entity", "instance", "name"]

values_lists = st.lists(
    st.one_of(st.none(), st.floats(min_value=-1e6, max_value=1e6, allow_nan=False)),
    min_size=1,
    max_size=40,
)


def _frame(spark, values):
    rows = [
        (datetime.datetime(2024, 1, 1 + i % 3), v if v is None else float(v))
        for i, v in enumerate(values)
    ]
    return spark.createDataFrame(rows, "ts timestamp, value double")


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(values=values_lists)
def test_profile_invariants(spark, values):
    df = _frame(spark, values)
    m = profile(
        df, "ts", ProfilingBuilder(analyzers=[Size(), Completeness("value"), Mean("value"), StandardDeviation("value")])
    )
    rows = {(r["name"], str(r["ts"])): r["value"] for r in m.collect()}
    by_day = {}
    for i, v in enumerate(values):
        by_day.setdefault(1 + i % 3, []).append(v)
    for day, vals in by_day.items():
        ts = str(datetime.datetime(2024, 1, day))
        nn = [v for v in vals if v is not None]
        assert rows[("Size", ts)] == float(len(vals))
        assert math.isclose(rows[("Completeness", ts)], len(nn) / len(vals), rel_tol=1e-9)
        mean = rows[("Mean", ts)]
        if not nn:
            assert mean is None
        else:
            assert math.isclose(mean, sum(nn) / len(nn), rel_tol=1e-9, abs_tol=1e-9)
            # population stddev: nonnegative, zero for singleton
            sd = rows[("StandardDeviation", ts)]
            if len(nn) == 1:
                assert sd == 0.0
            else:
                assert sd >= 0.0


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    values=st.lists(
        st.floats(min_value=0.1, max_value=1e4, allow_nan=False), min_size=6, max_size=50
    )
)
def test_simple_model_fold_invariants(spark, values):
    rows = [
        ("Column", "value", "Mean", datetime.datetime(2024, 1, 1) + datetime.timedelta(days=i), float(v))
        for i, v in enumerate(values)
    ]
    df = spark.createDataFrame(
        rows, "entity string, instance string, name string, ts timestamp, value double"
    )
    folds = simple_model_folds(df, key_cols=KEY).collect()
    assert len(folds) == len(values)
    for r in folds:
        # error is clamped APE in [0, 1]; null before any window qualifies
        if r["error"] is not None:
            assert 0.0 <= r["error"] <= 1.0
        if r["__idx"] <= 3:
            assert r["predicted"] is None  # shortest window is 3: needs i > w
        if r["predicted"] is not None:
            lo, hi = min(values[: r["__idx"]]), max(values[: r["__idx"]])
            assert lo - 1e-9 <= r["predicted"] <= hi + 1e-9  # mean of past values


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    keys=st.lists(st.integers(min_value=0, max_value=5), min_size=1, max_size=60)
)
def test_exact_dedup_invariants(spark, keys):
    rows = [(k, i) for i, k in enumerate(keys)]
    df = spark.createDataFrame(rows, "k int, id int")
    out = exact_dedup(df, ["k"], "id").collect()
    # one survivor per distinct key, and it is the min-id row
    assert sorted(r["k"] for r in out) == sorted(set(keys))
    for r in out:
        assert r["id"] == min(i for i, k in enumerate(keys) if k == r["k"])


token_strategy = st.lists(
    st.sampled_from(["aa", "bb", "cc", "dd", "ee", "ff"]), min_size=0, max_size=24
)
docs_strategy = st.lists(token_strategy, min_size=1, max_size=8)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(docs=docs_strategy)
def test_passage_dedup_invariants(spark, docs):
    """For ANY corpus: (a) every input doc appears exactly once in the
    output; (b) n_kept <= n_tokens with equality for docs shorter than
    the window; (c) appending an exact duplicate of the longest doc
    empties every >=window-token copy of it (ExactSubstr removes all
    occurrences)."""
    from thoth_spark.operators.curation import passage_dedup

    W = 4
    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["id"]: r for r in passage_dedup(df, window=W).collect()}
    assert set(out) == set(range(len(docs)))
    for i, toks in enumerate(docs):
        n = max(len(toks), 1)  # empty text still tokenizes to ['']
        assert out[i]["n_kept"] <= out[i]["n_tokens"] == n
        if n < W:
            assert out[i]["n_kept"] == n

    longest = max(range(len(docs)), key=lambda i: len(docs[i]))
    if len(docs[longest]) >= W:
        dup_rows = rows + [(len(docs), rows[longest][1])]
        df2 = spark.createDataFrame(dup_rows, "doc_id long, text string")
        out2 = {r["id"]: r for r in passage_dedup(df2, window=W).collect()}
        assert out2[longest]["n_kept"] == 0
        assert out2[len(docs)]["n_kept"] == 0


@pytest.mark.slow
@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(seed=st.integers(min_value=0, max_value=10_000))
def test_nb_label_flip_negates_log_odds(spark, seed):
    """Bernoulli NB symmetry: with balanced classes, flipping every
    label exactly negates each document's log-odds (weights, absence
    terms and prior all negate) — a strong end-to-end correctness
    invariant of the closed-form training."""
    import random

    from thoth_spark.operators.classifier import score_nb, train_nb_quality

    rng = random.Random(seed)
    vocab = ["red", "green", "blue", "cyan", "teal", "plum"]
    rows = [
        (
            i,
            " ".join(rng.choices(vocab, k=rng.randint(1, 8))),
            float(i % 2),  # balanced labels by construction
        )
        for i in range(20)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, label double")
    flipped = df.withColumn("label", 1.0 - F.col("label"))
    m1 = train_nb_quality(df, n_features=256)
    m2 = train_nb_quality(flipped, n_features=256)
    held = spark.createDataFrame(
        [(100, "red green plum"), (101, "teal teal unknowntoken")],
        "doc_id long, text string",
    )
    s1 = {r["doc_id"]: r["nb_log_odds"] for r in score_nb(held, m1).collect()}
    s2 = {r["doc_id"]: r["nb_log_odds"] for r in score_nb(held, m2).collect()}
    for k in s1:
        assert math.isclose(s1[k], -s2[k], abs_tol=1e-5), (k, s1[k], s2[k])


texts = st.lists(
    st.text(alphabet="ab c", min_size=0, max_size=24), min_size=1, max_size=20
)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(docs=texts)
def test_corpus_diff_invariants(spark, docs):
    """For ANY corpus: diff(X, X) is all-unchanged; removing a doc from
    the new side yields exactly one 'removed'; statuses partition the
    id universe."""
    from thoth_spark.operators.curation import corpus_diff

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(docs)], "doc_id long, text string"
    )
    same = corpus_diff(df, df, "doc_id", "text").collect()
    assert all(r["status"] == "unchanged" for r in same)
    assert len(same) == len(docs)

    new = df.where(F.col("doc_id") != 0)
    d2 = {r["id"]: r["status"] for r in corpus_diff(df, new, "doc_id", "text").collect()}
    assert d2[0] == "removed"
    assert all(s == "unchanged" for i, s in d2.items() if i != 0)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    weights=st.lists(st.integers(min_value=1, max_value=1000), min_size=1, max_size=30),
    n=st.integers(min_value=0, max_value=35),
)
def test_weighted_sample_invariants(spark, weights, n):
    """For ANY weights: the sample is a subset of the input, has exactly
    min(n, |input|) rows, and is invariant to partitioning."""
    from thoth_spark.operators.sampling import weighted_sample

    df = spark.createDataFrame(
        [(i, w) for i, w in enumerate(weights)], "doc_id long, w long"
    )
    got = sorted(r["doc_id"] for r in weighted_sample(df, "doc_id", "w", n).collect())
    assert len(got) == min(n, len(weights))
    assert set(got) <= set(range(len(weights)))
    again = sorted(
        r["doc_id"]
        for r in weighted_sample(df.repartition(5), "doc_id", "w", n).collect()
    )
    assert got == again


@pytest.mark.slow
@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=49),
            st.integers(min_value=0, max_value=49),
        ).filter(lambda t: t[0] != t[1]),
        min_size=0,
        max_size=25,
    ),
)
def test_leakage_safe_split_invariants(spark, edges):
    """For ANY pair graph over 50 docs: (a) the split is CONSTANT within
    every connected component (the leakage guarantee, checked against an
    independent union-find); (b) docs in no pair get exactly
    train_val_test_split's assignment; (c) output row count equals the
    input's (the left join never drops or duplicates)."""
    from thoth_spark.operators.sampling import leakage_safe_split, train_val_test_split

    ids = list(range(50))
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    pairs = spark.createDataFrame(
        edges or [(0, 0)], "id_a long, id_b long"
    ).where(F.col("id_a") != F.col("id_b"))
    out = {
        r["doc_id"]: r["split"]
        for r in leakage_safe_split(
            df, pairs, "doc_id", val_fraction=0.3, test_fraction=0.3
        ).collect()
    }
    assert len(out) == 50
    # independent union-find ground truth
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent[find(a)] = find(b)
    comps: dict = {}
    for i in ids:
        comps.setdefault(find(i), []).append(i)
    touched = {x for e in edges for x in e}
    plain = {
        r["doc_id"]: r["split"]
        for r in train_val_test_split(
            df, "doc_id", val_fraction=0.3, test_fraction=0.3
        ).collect()
    }
    for members in comps.values():
        splits = {out[i] for i in members}
        assert len(splits) == 1, (members, splits)  # (a)
        if len(members) == 1 and members[0] not in touched:
            assert out[members[0]] == plain[members[0]]  # (b)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(docs=texts)
def test_bm25_score_invariants(spark, docs):
    """For ANY corpus: BM25 scores are positive, every returned doc
    matched >= 1 term, and no more than k rows return."""
    from thoth_spark.operators.retrieval import bm25_topk

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(docs)], "doc_id long, text string"
    )
    out = bm25_topk(df, "doc_id", "text", ["a", "b"], k=5).collect()
    assert len(out) <= 5
    for r in out:
        assert r["score"] > 0 and r["n_terms_matched"] >= 1


@pytest.mark.slow
@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=40),
            st.integers(min_value=0, max_value=40),
        ),
        min_size=1,
        max_size=80,
    )
)
def test_connected_components_matches_union_find(spark, edges):
    """Pointer-jumped min-label propagation must equal a driver-side
    union-find on arbitrary random graphs (self-loops and duplicate
    edges included) — the algebraic ground truth the r10 pointer-jump
    rewrite must preserve: component = min reachable id."""
    from thoth_spark.operators.dedup import connected_components

    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent[find(a)] = find(b)
    nodes = {n for e in edges for n in e}
    expected = {}
    roots: dict[int, int] = {}
    for n in sorted(nodes):
        roots.setdefault(find(n), n)  # min id per root (sorted order)
    for n in nodes:
        expected[n] = roots[find(n)]

    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    stats: dict = {}
    got = {
        r["id"]: r["component"]
        for r in connected_components(pairs, stats=stats).collect()
    }
    assert got == expected, (got, expected, stats)
    assert stats["converged"], stats
    # the jump=False escape (one shuffle/round, for shallow-cluster
    # workloads) must produce the identical labeling — only the round
    # count may differ (r11 knob)
    nj_stats: dict = {}
    no_jump = {
        r["id"]: r["component"]
        for r in connected_components(
            pairs, stats=nj_stats, jump=False, max_iterations=50
        ).collect()
    }
    assert no_jump == expected, (no_jump, expected, nj_stats)
    assert nj_stats["converged"], nj_stats


def test_dsir_uniform_target_gives_zero_weights(spark):
    """DSIR invariant: when the target IS the raw corpus (every row
    flagged), p_target == p_raw bucket-for-bucket, so every document's
    log-likelihood-ratio weight is exactly 0 (identical smoothing terms
    cancel term-by-term — no float tolerance needed)."""
    from pyspark.sql import functions as F

    from thoth_spark.operators.sampling import dsir_log_weights

    df = spark.createDataFrame(
        [(i, f"tok{i % 7} tok{(i + 1) % 5} common word") for i in range(40)],
        "doc_id long, text string",
    ).withColumn("t", F.lit(True))
    out = dsir_log_weights(df, "doc_id", "text", "t").collect()
    assert len(out) == 40
    assert all(r["log_weight"] == 0.0 for r in out)


words_corpora = st.lists(
    st.lists(
        st.text(alphabet="abcdef", min_size=1, max_size=5),
        min_size=1,
        max_size=8,
    ).map(" ".join),
    min_size=1,
    max_size=6,
)


@pytest.mark.slow
@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(docs=words_corpora)
def test_bpe_train_matches_reference_on_random_corpora(spark, docs):
    """The distributed trainer must reproduce pure-python Sennrich BPE
    merge-for-merge on ANY corpus — tie-breaks, early exhaustion, and
    the iterated-replace application semantics included."""
    from tests.test_operators import _reference_bpe
    from thoth_spark.operators import tokenizer

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(docs)], "doc_id long, text string"
    )
    got = tokenizer.bpe_train(df, n_merges=12)  # driver-local path
    ref, vocab, _ = _reference_bpe(docs, 12)
    assert got == ref
    # the distributed batched-rounds fallback must be bit-identical too
    got_dist = tokenizer.bpe_train(df, n_merges=12, driver_words=0)
    assert got_dist == ref
    counts = {
        r.doc_id: r.n_bpe for r in tokenizer.bpe_token_count(df, got).collect()
    }
    import re

    for i, t in enumerate(docs):
        toks = re.sub(r"\s+", " ", t.lower().strip()).split(" ")
        assert counts[i] == sum(len(vocab[w]) for w in toks)


@pytest.mark.slow
@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    keys=st.lists(st.text(alphabet="xyz01", min_size=1, max_size=8), min_size=1, max_size=30),
    probes=st.lists(st.text(alphabet="xyz01", min_size=1, max_size=8), min_size=1, max_size=15),
)
def test_bloom_membership_invariants(spark, keys, probes):
    """No false negatives for ANY key set; the filter never exceeds its
    m/32 word budget."""
    from thoth_spark.operators import membership

    ref = spark.createDataFrame([(k,) for k in keys], "fp string")
    flt = membership.bloom_build(ref, "fp", m=1 << 10, n_hashes=3)
    assert flt.count() <= (1 << 10) // membership.BITS_PER_WORD
    probe_df = spark.createDataFrame(
        [(i, p) for i, p in enumerate(probes)], "id long, fp string"
    )
    hits = {
        r.id: r.hit
        for r in membership.bloom_probe(
            flt, probe_df, "id", "fp", m=1 << 10, n_hashes=3
        ).collect()
    }
    inserted = set(keys)
    for i, p in enumerate(probes):
        if p in inserted:
            assert hits[i], (p, "false negative")


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    sizes=st.lists(st.integers(min_value=1, max_value=60), min_size=1, max_size=5),
    cap=st.integers(min_value=1, max_value=12),
    n_salts=st.integers(min_value=1, max_value=8),
)
def test_domain_cap_two_stage_equals_one_window(spark, sizes, cap, n_salts):
    """The skew-proof two-stage salted cut is EXACT for any (domain
    sizes, cap, n_salts): identical row set to the single-window
    contract, and every domain keeps min(size, cap) rows."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from thoth_spark.operators import sampling

    rows = [
        (f"d{d}k{i}", f"dom{d}")
        for d, size in enumerate(sizes)
        for i in range(size)
    ]
    df = spark.createDataFrame(rows, "k string, dom string")
    got = sampling.domain_cap_sample(df, "dom", "k", cap=cap, n_salts=n_salts)
    b = sampling._bucket(F.col("k"), 42)
    w = W.partitionBy("dom").orderBy(b, F.col("k"))
    want = (
        df.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= cap)
        .drop("rn")
    )
    gr = sorted(map(tuple, got.collect()))
    assert gr == sorted(map(tuple, want.collect()))
    per_dom = {}
    for _, dom in gr:
        per_dom[dom] = per_dom.get(dom, 0) + 1
    for d, size in enumerate(sizes):
        assert per_dom.get(f"dom{d}", 0) == min(size, cap)


# --- r14: C4 rules vs a pure-Python reference --------------------------

C4_POLICY = ["terms of use", "privacy policy", "cookie policy", "uses cookies"]
C4_PUNCT = (".", "!", "?", '"')


def _c4_reference(text: str, min_line_words: int = 3, min_sentences: int = 5):
    """Line-for-line Python re-implementation of text.c4_rules."""
    import re

    lines = text.split("\n")
    kept = []
    for line in lines:
        t = line.strip()
        low = t.lower()
        if not t:
            continue
        if not t.endswith(C4_PUNCT):
            continue
        if len(re.split(r"\s+", t)) < min_line_words:
            continue
        if "javascript" in low:
            continue
        if any(p in low for p in C4_POLICY):
            continue
        kept.append(line.strip())
    kept_text = "\n".join(kept)
    n_sentences = sum(kept_text.count(c) for c in ".!?")
    return {
        "kept_text": kept_text,
        "n_lines": len(lines),
        "n_kept_lines": len(kept),
        "n_sentences": n_sentences,
        "has_lorem_ipsum": "lorem ipsum" in text.lower(),
        "has_brace": "{" in text,
        "pass_c4": (
            n_sentences >= min_sentences
            and "lorem ipsum" not in text.lower()
            and "{" not in text
        ),
    }


c4_line = st.text(
    alphabet=st.sampled_from(
        list("abcdef ") + [".", "!", "?", '"', "{", "j"]
    ),
    min_size=0,
    max_size=40,
)
c4_docs = st.lists(
    st.builds("\n".join, st.lists(c4_line, min_size=1, max_size=5)),
    min_size=1,
    max_size=8,
)


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(docs=c4_docs)
def test_c4_rules_matches_python_reference(spark, docs):
    """Every C4 signal equals a line-for-line Python reference on ANY
    text shape (empty lines, punctuation runs, braces, no words)."""
    from thoth_spark.operators.text import c4_rules

    df = spark.createDataFrame(
        [(i, d) for i, d in enumerate(docs)], "doc_id long, text string"
    )
    got = {r["doc_id"]: r for r in c4_rules(df).collect()}
    for i, d in enumerate(docs):
        want = _c4_reference(d)
        r = got[i]
        for k, v in want.items():
            assert r[k] == v, (k, repr(d), r[k], v)


# --- r14: Gopher repetition (incl. char fractions) vs Python -----------


def _gopher_reference(text: str, n: int):
    """Python re-implementation of one gopher_repetition order."""
    import re
    from collections import Counter

    toks = re.split(r"\s+", re.sub(r"\s+", " ", text.strip().lower()))
    if text.strip() == "":
        toks = [""]
    grams = [
        " ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
    ] if len(toks) >= n else []
    doc_chars = max(sum(len(t) for t in toks) + len(toks) - 1, 0)
    if not grams:
        return (0, 0, 0, 0.0, 0.0, 0.0, 0.0)
    c = Counter(grams)
    total = len(grams)
    dist = len(c)
    topc = max(c.values())
    top_mass = max(
        (cnt, cnt * len(g)) for g, cnt in c.items() if cnt == topc
    )[1]
    dup_mass = sum(cnt * len(g) for g, cnt in c.items() if cnt > 1)
    rnd = lambda x: round(x, 6)
    return (
        total,
        dist,
        topc,
        rnd(topc / total),
        rnd((total - dist) / total),
        rnd(top_mass / doc_chars) if doc_chars else 0.0,
        rnd(dup_mass / doc_chars) if doc_chars else 0.0,
    )


gopher_texts = st.lists(
    st.text(alphabet=list("ab c"), min_size=0, max_size=60),
    min_size=1,
    max_size=6,
)


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(docs=gopher_texts)
def test_gopher_repetition_matches_python_reference(spark, docs):
    """total/distinct/top counts, occurrence ratios AND the r14 char
    fractions equal a Counter-based Python reference on ANY whitespace
    shape — including the xxhash64 gram-identity path (collisions would
    show up here as merged counts)."""
    from thoth_spark.operators.text import gopher_repetition

    df = spark.createDataFrame(
        [(i, d) for i, d in enumerate(docs)], "doc_id long, text string"
    )
    out = gopher_repetition(df, ns=(2, 3), char_weighted=True).collect()
    got = {(r["id"], r["n"]): r for r in out}
    for i, d in enumerate(docs):
        for n in (2, 3):
            want = _gopher_reference(d, n)
            r = got[(i, n)]
            have = (
                r["total_ngrams"], r["distinct_ngrams"], r["top_count"],
                r["top_ratio"], r["dup_ratio"],
                r["top_char_ratio"], r["dup_char_ratio"],
            )
            assert have == want, (repr(d), n, have, want)
