"""Adversarial skew stress tests (round-3 advice #9): hot keys and
stop-shingles are THE failure mode that appears at 100 TB and not at
fixture scale, so each scale-critical operator gets a deliberately
skewed input here with (a) an exact correctness assertion derived from
the construction and (b) a generous absolute wall-clock bound that a
single-task-hot-key plan would blow through. Measured timings are
recorded in SCALE.md §skew.
"""

import datetime
import time

import pytest
from pyspark.sql import functions as F

from thoth_spark.operators import curation, dedup, relational
from thoth_spark.profiler import Mean, ProfilingBuilder, Size, profile

BASE = datetime.datetime(2024, 1, 1)


def _timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t0


def test_profile_hot_day_skew(spark):
    """90% of 200k events land on ONE day. The profiler is a single
    groupBy(date_trunc) aggregation — partial (map-side) aggregation
    absorbs the hot bucket before the shuffle, so the hot day must cost
    roughly what the balanced days cost, and every metric stays exact."""
    n = 200_000
    ev = (
        spark.range(n)
        .withColumn(
            "ts",
            F.when(
                F.col("id") % 10 < 9, F.lit(BASE)  # 90% on day 0
            ).otherwise(
                # ids hitting this branch are ≡9 mod 10, so derive the
                # cold day from id/10 to actually cover 30 days
                F.timestamp_seconds(
                    F.unix_timestamp(F.lit(BASE))
                    + ((F.col("id") / 10).cast("long") % 30 + 1) * 86400
                )
            ),
        )
        .withColumn("value", F.lit(1.0))
        .repartition(16)
    )
    builder = ProfilingBuilder(analyzers=[Mean("value"), Size()])
    (rows, wall) = _timed(
        lambda: profile(ev.select("ts", "value"), "ts", builder).collect()
    )
    got = {
        (r["ts"].date() if hasattr(r["ts"], "date") else r["ts"], r["name"]): r["value"]
        for r in rows
    }
    hot = sum(1 for i in range(10) if i < 9) * (n // 10)
    assert got[(BASE.date(), "Size")] == float(hot)
    assert got[(BASE.date(), "Mean")] == 1.0
    # 30 cold days share the remaining 10%
    cold_days = {k for k in got if k[1] == "Size" and k[0] != BASE.date()}
    assert len(cold_days) == 30
    assert wall < 60.0


def test_sessionize_hot_user_skew(spark):
    """One user owns 100k of 100.1k events (the window partition hot
    key). row_number/lag keep O(1) running state, so the hot partition
    streams through one task without buffering blowup; session counts
    are exact by construction."""
    hot = spark.range(100_000).select(
        F.lit(1).alias("user_id"),
        F.col("id").alias("event_id"),
        # 10-minute spacing, gap threshold 3600s → one giant session
        F.timestamp_seconds(F.unix_timestamp(F.lit(BASE)) + F.col("id") * 600).alias("ts"),
    )
    cold = spark.range(100).select(
        F.lit(2).alias("user_id"),
        (F.col("id") + 200_000).alias("event_id"),
        # 2-hour spacing → every event its own session
        F.timestamp_seconds(F.unix_timestamp(F.lit(BASE)) + F.col("id") * 7200).alias("ts"),
    )
    ev = hot.unionByName(cold).repartition(16)
    (rows, wall) = _timed(
        lambda: relational.sessionize(
            ev, ["user_id"], "ts", gap_seconds=3600, tiebreak_cols=["event_id"]
        )
        .groupBy("user_id")
        .agg(F.count_distinct("session_id").alias("n_sessions"), F.count(F.lit(1)).alias("n"))
        .collect()
    )
    got = {r["user_id"]: (r["n_sessions"], r["n"]) for r in rows}
    assert got[1] == (1, 100_000)
    assert got[2] == (100, 100)
    assert wall < 60.0


def test_salted_join_hot_key_matches_plain_join(spark):
    """80% of the fact side carries ONE join key. salted_join spreads the
    hot key over salt_buckets tasks; the result must equal the plain
    join exactly (row count and aggregate checksum)."""
    n = 200_000
    left = spark.range(n).select(
        F.when(F.col("id") % 5 < 4, F.lit(1))
        .otherwise((F.col("id") % 99) + 2)
        .alias("k"),
        F.col("id").alias("lid"),
    )
    right = spark.range(1, 101).select(
        F.col("id").cast("int").alias("k"), (F.col("id") * 10).alias("rv")
    )
    (salted, wall) = _timed(
        lambda: relational.salted_join(left, right, ["k"], salt_buckets=16)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("lid") + F.col("rv")).alias("checksum"),
        )
        .collect()[0]
    )
    plain = (
        left.join(right, "k")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("lid") + F.col("rv")).alias("checksum"),
        )
        .collect()[0]
    )
    assert (salted["n"], salted["checksum"]) == (plain["n"], plain["checksum"])
    assert salted["n"] == n  # every left row matches exactly one key
    assert wall < 60.0


def test_minhash_stop_shingle_bounded_candidates(spark):
    """Every document shares one boilerplate sentence, so every pairwise
    Jaccard sits near the LSH operating point and the UNCAPPED pipeline
    legitimately explodes toward all-pairs (measured 807k candidate
    pairs for 1550 docs when this test was first written). With
    ``max_shingle_df`` the corpus-wide stop-shingles are dropped before
    signature computation (drop-list join, never a window over the hot
    shingle), candidates collapse to ∝ true-duplicate density, and every
    planted clone pair is still recovered via its unique shingles."""
    n = 1500
    boiler = "all rights reserved contact us at example for terms of service apply"
    rows = []
    for i in range(n):
        uniq = f"document number {i} carries distinct content token{i} alpha{i * 7} beta{i * 13}"
        rows.append((i, f"{boiler} {uniq}"))
    # 50 planted near-dup pairs: doc n+j clones doc j's text verbatim
    for j in range(50):
        rows.append((n + j, rows[j][1]))
    df = spark.createDataFrame(rows, "doc_id long, text string").repartition(16)

    def run():
        sigs = dedup.minhash_signatures(
            df, "doc_id", "text", num_hashes=32, n=3, max_shingle_df=100
        )
        return dedup.minhash_lsh_pairs(sigs, bands=8, rows_per_band=4).collect()

    (pairs, wall) = _timed(run)
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    for j in range(50):
        assert (j, n + j) in got
    # bounded fan-out: clones bucket together via their (uncapped)
    # unique shingles; the shared boilerplate no longer contributes, so
    # unrelated docs share nothing and candidates ≈ the planted 50
    assert len(got) < 500
    assert wall < 120.0


def test_asof_join_hot_user_skew(spark):
    """One user owns 100k of the purchase side and 1k of the click side
    (the union+window hot partition). The as-of window keeps O(1)
    running state (last ignorenulls over a rows frame), so the hot key
    streams through one task with no buffering blowup; matches are exact
    by construction: purchase at t attaches the latest click ≤ t, and
    clicks land every 100th tick."""
    hot_left = spark.range(100_000).select(
        F.lit(1).alias("user_id"),
        F.timestamp_seconds(
            F.unix_timestamp(F.lit(BASE)) + F.col("id") * 10
        ).alias("ts"),
        F.col("id").alias("purchase_id"),
    )
    cold_left = spark.range(100).select(
        F.lit(2).alias("user_id"),
        F.timestamp_seconds(
            F.unix_timestamp(F.lit(BASE)) + F.col("id") * 10
        ).alias("ts"),
        (F.col("id") + 1_000_000).alias("purchase_id"),
    )
    # clicks every 1000 s for the hot user → purchase at t matches click
    # at floor(t/1000)*1000
    right = spark.range(1_000).select(
        F.lit(1).alias("user_id"),
        F.timestamp_seconds(
            F.unix_timestamp(F.lit(BASE)) + F.col("id") * 1000
        ).alias("ts"),
        F.col("id").alias("click_id"),
    )
    left = hot_left.unionByName(cold_left).repartition(16)
    (rows, wall) = _timed(
        lambda: relational.asof_join(
            left, right, on=["user_id"], value_cols=["click_id"]
        )
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("click_id_asof").alias("click_sum"),
            F.sum(F.col("purchase_id")).alias("purchase_sum"),
        )
        .collect()
    )
    got = {r["user_id"]: r for r in rows}
    assert got[1]["n"] == 100_000
    # purchase i (at 10i s) matches click floor(10i/1000) = i // 100
    expected = sum(i // 100 for i in range(100_000))
    assert got[1]["click_sum"] == expected
    assert got[2]["n"] == 100 and got[2]["click_sum"] is None  # no clicks for user 2
    assert wall < 60.0


def test_fused_frequency_hot_value_skew(spark):
    """Round 5 fused frequency pass under skew: one value owns 90% of
    200k rows on one day across TWO profiled columns. The fused
    groupBy(ts, colname, value) gets map-side partial aggregation, so
    the hot (day, col, value) bucket is absorbed before the shuffle;
    metrics stay exact (closed-form from the construction)."""
    from thoth_spark.profiler import Entropy, Uniqueness

    n = 200_000
    ev = (
        spark.range(n)
        .select(
            F.lit(BASE).alias("ts"),
            F.when(F.col("id") % 10 < 9, F.lit("hot"))
            .otherwise(F.concat(F.lit("cold_"), (F.col("id") % 1000).cast("string")))
            .alias("a"),
            F.when(F.col("id") % 10 < 9, F.lit("hot"))
            .otherwise(F.concat(F.lit("cold_"), (F.col("id") % 977).cast("string")))
            .alias("b"),
        )
        .repartition(16)
    )
    builder = ProfilingBuilder(
        analyzers=[Uniqueness("a"), Entropy("a"), Uniqueness("b"), Entropy("b")]
    )
    (rows, wall) = _timed(
        lambda: profile(ev, "ts", builder).collect()
    )
    got = {(r["instance"], r["name"]): r["value"] for r in rows}
    # expected metrics computed exactly from the same construction
    import collections
    import math

    def expected(mod):
        c = collections.Counter(
            "hot" if i % 10 < 9 else f"cold_{i % mod}" for i in range(n)
        )
        uniq = sum(1 for v in c.values() if v == 1) / n
        ent = -sum((v / n) * math.log(v / n) for v in c.values())
        return uniq, ent

    for col, mod in (("a", 1000), ("b", 977)):
        uniq, ent = expected(mod)
        assert got[(col, "Uniqueness")] == uniq, col
        assert abs(got[(col, "Entropy")] - ent) < 1e-9, col
    assert wall < 60.0


def test_passage_dedup_all_duplicate_corpus(spark):
    """Round-5 passage dedup under the WORST case: the entire corpus is
    one 40-token document repeated 2000×. Every window hash is a hot key
    with df=2000 (the groupBy count absorbs it map-side), coverage
    expansion hits its corpus_tokens × window upper bound, and the exact
    result is fully determined: every document empties."""
    n = 2000
    text = " ".join(f"tok{i % 40}" for i in range(40))
    df = (
        spark.range(n)
        .select(F.col("id").alias("doc_id"), F.lit(text).alias("text"))
        .repartition(16)
    )
    (rows, wall) = _timed(
        lambda: curation.passage_dedup(df, window=12).collect()
    )
    assert len(rows) == n
    assert all(r["n_tokens"] == 40 and r["n_kept"] == 0 for r in rows)
    assert all(r["text_deduped"] == "" for r in rows)
    assert wall < 60.0


def test_nb_classifier_hot_token_skew(spark):
    """Round-5 NB classifier with a corpus-wide hot token (in EVERY
    document of both classes — the boilerplate case). The hot feature's
    groupBy count is absorbed map-side and its learned weight is ~0
    (equal class document-frequency), so class-specific tokens still
    decide; scoring stays a broadcast join."""
    from thoth_spark.operators import classifier

    n = 2000
    half = n // 2
    train = (
        spark.range(n)
        .select(
            F.col("id").alias("doc_id"),
            F.concat(
                F.lit("common boiler plate "),
                F.when(F.col("id") < half, F.lit("alpha beta gamma"))
                .otherwise(F.lit("zeta eta theta")),
                F.lit(" u"), F.col("id").cast("string"),
            ).alias("text"),
            F.when(F.col("id") < half, F.lit(1.0)).otherwise(F.lit(0.0)).alias("label"),
        )
        .repartition(16)
    )
    model = classifier.train_nb_quality(train, n_features=1 << 12)
    held = spark.createDataFrame(
        [(1, "common boiler plate alpha beta gamma"),
         (2, "common boiler plate zeta eta theta")],
        "doc_id long, text string",
    )
    (rows, wall) = _timed(lambda: classifier.score_nb(held, model).collect())
    got = {r["doc_id"]: r for r in rows}
    assert got[1]["nb_pred"] == 1 and got[2]["nb_pred"] == 0
    assert wall < 60.0


def test_funnel_hot_user_skew(spark):
    """One user owns 100k funnel events (alternating clicks/purchases
    after one signup); 1000 normal users complete a clean 3-step funnel.
    The collect_list fold must absorb the hot key (ObjectHashAggregate
    spills to sort-based, never OOM) and every stage timestamp must be
    exact."""
    hot = (
        spark.range(100_000)
        .select(
            F.lit(0).alias("user_id"),
            (F.lit(BASE) + F.make_interval(secs=F.col("id") + 1)).alias("ts"),
            F.when(F.col("id") % 2 == 0, "click").otherwise("purchase").alias(
                "event_type"
            ),
        )
    )
    hot_signup = spark.createDataFrame(
        [(0, BASE, "signup")], "user_id long, ts timestamp, event_type string"
    )
    normal = (
        spark.range(1, 1001)
        .select(
            F.col("id").alias("user_id"),
            F.explode(
                F.array(
                    F.struct(F.lit(BASE).alias("t"), F.lit("signup").alias("s")),
                    F.struct(
                        (F.lit(BASE) + F.make_interval(secs=F.lit(60))).alias("t"),
                        F.lit("click").alias("s"),
                    ),
                    F.struct(
                        (F.lit(BASE) + F.make_interval(secs=F.lit(120))).alias("t"),
                        F.lit("purchase").alias("s"),
                    ),
                )
            ).alias("e"),
        )
        .select("user_id", F.col("e.t").alias("ts"), F.col("e.s").alias("event_type"))
    )
    df = hot.unionByName(hot_signup).unionByName(normal)
    out, wall = _timed(
        lambda: {
            r["user_id"]: r
            for r in relational.funnel(
                df, ["user_id"], "ts", "event_type", ["signup", "click", "purchase"]
            ).collect()
        }
    )
    # hot user: signup at t0, first click at t0+1s, first purchase after
    # that is at t0+2s (id=1)
    assert out[0]["stages_completed"] == 3
    assert (out[0]["stage2_ts"] - out[0]["stage1_ts"]).total_seconds() == 1
    assert (out[0]["stage3_ts"] - out[0]["stage2_ts"]).total_seconds() == 1
    assert all(out[u]["stages_completed"] == 3 for u in (1, 500, 1000))
    assert wall < 60, wall


def test_cohort_retention_hot_cohort_skew(spark):
    """99% of 100k users share ONE cohort week. Correct-by-construction
    retention plus a wall bound: the cohort key must never partition
    raw events (user-keyed shuffles + broadcast sizes only)."""
    import datetime as dt

    n_users = 100_000
    ev = (
        spark.range(n_users)
        .select(
            F.col("id").alias("user_id"),
            F.when(F.col("id") % 100 < 99, F.lit(BASE))
            .otherwise(F.lit(BASE + dt.timedelta(days=7)))
            .alias("ts"),
        )
    )
    # half of the hot cohort returns in week 1
    returns = (
        spark.range(0, n_users, 2)
        .where(F.col("id") % 100 < 99)
        .select(
            F.col("id").alias("user_id"),
            F.lit(BASE + dt.timedelta(days=7)).alias("ts"),
        )
    )
    df = ev.unionByName(returns)
    out, wall = _timed(
        lambda: {
            (str(r["cohort"]), r["offset"]): r
            for r in relational.cohort_retention(df, ["user_id"], "ts").collect()
        }
    )
    hot0 = out[("2024-01-01", 0)]
    assert hot0["cohort_size"] == 99_000 and hot0["retention_rate"] == 1.0
    hot1 = out[("2024-01-01", 7)]
    # exactly the even ids in the hot cohort returned
    assert hot1["active"] == sum(1 for i in range(0, n_users, 2) if i % 100 < 99)
    assert wall < 60, wall


def test_grouped_rank_hot_group_skew(spark):
    """One group owns 95% of 200k rows. grouped_global_rank must spread
    that group across partitions (never one sort task) and still produce
    exact per-group ranks."""
    n = 200_000
    df = spark.range(n).select(
        F.col("id"),
        F.when(F.col("id") % 20 < 19, "hot").otherwise("cold").alias("g"),
        ((F.col("id") * 7919) % 1_000_003).alias("v"),
    )
    out, wall = _timed(
        lambda: relational.grouped_global_rank(
            df, ["g"], ["v", "id"], keep_group_total=True
        )
        .groupBy("g")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("rank").alias("mn"),
            F.max("rank").alias("mx"),
            F.sum("rank").alias("s"),
        )
        .collect()
    )
    stats = {r["g"]: r for r in out}
    for g in ("hot", "cold"):
        n_g = stats[g]["n"]
        # ranks are exactly 1..n_g (min/max/sum pin the full permutation)
        assert stats[g]["mn"] == 1 and stats[g]["mx"] == n_g
        assert stats[g]["s"] == n_g * (n_g + 1) // 2
    assert stats["hot"]["n"] == 190_000
    assert wall < 60, wall


def test_jaccard_prefix_boilerplate_candidate_bound(spark):
    """Adversarial boilerplate corpus: 400 documents sharing one long
    footer, otherwise disjoint. The full inverted index would generate
    ~n²/2 ≈ 80k candidate pairs from the footer shingles alone; the
    df-ranked prefix join must generate (near) ZERO candidates — hot
    tokens sort to every document's suffix — while still returning the
    exact (empty) qualifying-pair set."""
    from pyspark.sql import functions as F

    from thoth_spark.operators import dedup

    footer = "all rights reserved contact us at the usual address for details"
    rows = [
        (i, f"doc{i} alpha{i} beta{i} gamma{i} delta{i} " + footer)
        for i in range(400)
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    sets = dedup.shingle_sets(df, "id", "text", n=3)
    candidates = dedup.jaccard_prefix_candidates(sets, 0.5).count()
    full_index_pairs = (
        sets.select("id", F.explode("sh").alias("s"))
        .alias("a")
        .join(sets.select("id", F.explode("sh").alias("s")).alias("b"), "s")
        .where(F.col("a.id") < F.col("b.id"))
        .select("a.id", "b.id")
        .distinct()
        .count()
    )
    assert full_index_pairs > 70_000  # the blowup prefix filtering avoids
    assert candidates == 0
    pairs, wall = _timed(
        lambda: dedup.jaccard_prefix_pairs(df, "id", "text", n=3, threshold=0.5).count()
    )
    assert pairs == 0
    assert wall < 60


def test_containment_boilerplate_candidate_bound(spark):
    """Adversarial containment corpus (the r5-r7 verdicts' prescribed
    fixture): many small docs verbatim-contained in few mega-docs, plus a
    large boilerplate clique — every doc shares one hot footer. The
    uncapped inverted index would meet ~n²/2 pairs through the footer
    shingles alone; the CAPPED candidate generator must produce a
    candidate volume ∝ the true containment-pair count (the footer's
    postings are dropped by the df cap, and true pairs are still found
    through the contained docs' surviving rare shingles)."""
    import random

    rng = random.Random(8)
    words = [f"w{i}" for i in range(4000)]
    megas = {
        m: " ".join(rng.choice(words) for _ in range(300)) for m in range(4)
    }
    footer = "all rights reserved terms of service apply contact the site owner"
    rows = [(m, megas[m] + " " + footer) for m in megas]
    # 40 contained docs: verbatim 40-token slices of a mega-doc body
    for j in range(40):
        m = j % 4
        toks = megas[m].split()
        start = (7 * j) % (len(toks) - 45)
        rows.append((100 + j, " ".join(toks[start : start + 40])))
    # 400-doc boilerplate clique: unique bodies + the shared hot footer
    for i in range(400):
        rows.append((1000 + i, f"unique{i} distinct{i} body{i} token{i} " + footer))
    df = spark.createDataFrame(rows, "id long, text string")

    cap, t = 50, 0.7
    sets = dedup.shingle_sets(df, "id", "text", n=3)
    n_cand = dedup.containment_candidates(sets, t, cap).count()
    pairs, wall = _timed(
        lambda: dedup.containment_pairs(
            df, "id", "text", n=3, threshold=t, max_token_df=cap
        ).collect()
    )
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    # every planted containment recovered (contained slice -> its mega)
    for j in range(40):
        assert (100 + j, j % 4) in got, (100 + j, j % 4)
    # clique members are NOT contained in each other (footer shingles are
    # a tiny fraction of each body) and must not surface
    assert all(a < 1000 for a, b in got)
    # THE bound: candidates ∝ true pairs, nowhere near the ~98k all-pairs
    # blowup the footer would generate uncapped
    assert n_cand <= 10 * len(got), (n_cand, len(got))
    assert wall < 60.0


def test_components_giant_clique_and_long_chain(spark):
    """Adversarial component shapes for connected_components /
    quality_survivors (r8 advice #6): (a) a corpus-wide boilerplate
    CLIQUE — one giant component where every node is everyone's
    neighbor, the map-side-combine stress for the survivor argmax; (b) a
    200-node PATH-GRAPH chain — diameter 199, the shape plain min-label
    propagation cannot finish under any fixed iteration cap (it moves
    the min one hop per round); pointer jumping must converge it within
    the DEFAULT max_iterations=15 (reach doubles per round: ceil(log2
    (199)) + fixpoint-confirm rounds), with early exit on both."""
    from thoth_spark.operators import dedup

    # (a) 300-node clique: ~44,850 pair edges, ids offset from 0 so the
    # min label has to win through propagation, not initialization luck
    clique_ids = list(range(500, 800))
    clique_pairs = [
        (a, b) for i, a in enumerate(clique_ids) for b in clique_ids[i + 1 :]
    ]
    stats: dict = {}
    pairs = spark.createDataFrame(clique_pairs, "id_a long, id_b long")
    comps = dedup.connected_components(pairs, stats=stats).collect()
    assert {r["component"] for r in comps} == {500}
    assert len(comps) == 300
    assert stats["converged"] and stats["rounds"] <= 3, stats

    # (b) 200-node chain, ids DESCENDING along the path so the min label
    # (0) sits at one end and must traverse the full diameter
    chain_pairs = [(i + 1, i) for i in range(199)]
    stats = {}
    pairs = spark.createDataFrame(chain_pairs, "id_a long, id_b long")
    comps = dedup.connected_components(pairs, stats=stats).collect()
    assert {r["component"] for r in comps} == {0}
    assert len(comps) == 200
    assert stats["converged"], stats
    assert stats["rounds"] <= 15, stats  # default cap; log2(199)~8 + slack

    # (c) survivors on both shapes: quality argmax per component, the
    # giant clique keeps exactly its best-quality member
    rows = [(i, 1.0 + (i % 7) / 10.0) for i in clique_ids] + [
        (i, 1.0 + (i % 5) / 10.0) for i in range(200)
    ]
    docs = spark.createDataFrame(rows, "id long, q double")
    both = spark.createDataFrame(
        clique_pairs + chain_pairs, "id_a long, id_b long"
    )
    surv = dedup.quality_survivors(docs, both, "id", "q").collect()
    assert len(surv) == 2
    by_comp = {r["component"]: r["id"] for r in surv}
    # clique best: ids with id%7==6 score 1.6; smallest such id is 503
    assert by_comp[500] == 503
    # chain best: ids with id%5==4 score 1.4; smallest such id is 4
    assert by_comp[0] == 4


def test_components_convergence_contract(spark):
    """r11 advice: jump=False plain propagation needs diameter rounds,
    and the old shared max_iterations=15 default let a deep chain
    silently return WRONG components. The contract now: (a) cap
    exhaustion RAISES unless the caller passed stats= (then it returns
    observed-unconverged with a warning); (b) the jump=False default
    bound (50) converges the shallow-cluster shapes that path is
    documented for; (c) a 60-node chain under a deliberately tiny cap
    raises with guidance."""
    import pytest

    from thoth_spark.operators import dedup

    chain = spark.createDataFrame(
        [(i + 1, i) for i in range(59)], "id_a long, id_b long"
    )
    # (c) tiny cap, no stats -> raise
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.connected_components(chain, max_iterations=3, jump=False)
    # (a) stats= observes instead of raising
    stats: dict = {}
    out = dedup.connected_components(
        chain, max_iterations=3, jump=False, stats=stats
    )
    assert stats["converged"] is False and out.count() == 60
    # (b) the jump=False DEFAULT bound handles the documented workload
    # (shallow cliques) and even this 60-chain (diameter 59 < 50 fails!
    # -> the chain needs jump; assert the clique converges fast and the
    # chain with jump=True converges under ITS default)
    clique = spark.createDataFrame(
        [(a, b) for a in range(5) for b in range(a + 1, 5)],
        "id_a long, id_b long",
    )
    stats = {}
    comps = dedup.connected_components(clique, jump=False, stats=stats)
    assert {r["component"] for r in comps.collect()} == {0}
    assert stats["converged"] and stats["rounds"] <= 4, stats
    comps = dedup.connected_components(chain, jump=True)  # default cap 15
    assert {r["component"] for r in comps.collect()} == {0}


def test_semdedup_degenerate_identical_cluster_is_linear(spark):
    """Adversarial boilerplate corpus: 400 bitwise-identical embeddings
    (plus a handful of distinct ones) would naively generate 400²/2
    intra-cluster candidate pairs. The exact-duplicate collapse must
    reduce the quadratic stage to DISTINCT vectors only — candidate
    volume ~|distinct|², with the copies rejoining as a linear
    (rep, member) edge list — while keeping the output identical to
    the all-pairs semantics: one survivor for the whole identical
    group, distinct singletons untouched."""
    import numpy as np

    from thoth_spark.operators import similarity

    cents = np.eye(4)[:2]
    rows = [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(400)]  # one giant group
    rows += [(1000, [0.0, 1.0, 0.0, 0.0]), (1001, [0.0, 0.97, 0.2431, 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    stats = {}
    out = similarity.semdedup(
        df, threshold=0.95, centroids=cents, stats=stats
    ).collect()
    assert stats["n_rows"] == 402
    assert stats["n_distinct_vectors"] == 3
    # the quadratic stage saw 3 reps, not 402 rows: at most 3 pairs
    assert stats["n_rep_pairs"] <= 3
    surv = sorted(r["id"] for r in out)
    # identical group -> exactly one survivor (all tie on centroid_sim,
    # min id wins); 1000/1001 have cos ~0.97 >= 0.95 -> one survivor,
    # the one farther from the centroid (1001)
    assert surv == [0, 1001]


def test_ann_join_serve_degenerate_single_cell_is_salted(spark, tmp_path):
    """Adversarial ANN-join shape: every corpus vector lands in ONE cell
    (near-identical embeddings), so the cell equi-join has a single hot
    key. The salted join must (a) stay correct — bit-equal to the
    collect serve — and (b) actually spread the hot cell over the salt
    space: the corpus side's salt column must take multiple values
    inside the hot cell, so no single reducer owns the inverted list."""
    import numpy as np

    from pyspark.sql import functions as F
    from thoth_spark.operators import similarity

    rng = np.random.default_rng(3)
    base = rng.normal(size=16)
    rows = [
        (i, [float(x) for x in base + rng.normal(scale=1e-6, size=16)])
        for i in range(300)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    path = str(tmp_path / "hot")
    similarity.build_ivf_index(df, path, n_centroids=4)
    q = df.limit(5)
    got = sorted(map(tuple, similarity.ivf_query_index_join(
        spark, path, q, k=3, nprobe=1
    ).collect()))
    want = sorted(map(tuple, similarity.ivf_query_index(
        spark, path, q, k=3, nprobe=1
    ).collect()))
    assert got == want and len(got) == 15
    # the hot cell's rows carry >= 4 distinct salts (8 expected minus
    # hash-collision slack) — the join key (cell, __salt) fans the
    # single inverted list over multiple reducers
    cells = spark.read.parquet(f"{path}/cells")
    hot = (
        cells.groupBy("cell").count().orderBy(F.desc("count")).first()["cell"]
    )
    n_salts = (
        similarity._salted(cells.where(F.col("cell") == hot), "vec_id")
        .select("__salt")
        .distinct()
        .count()
    )
    assert n_salts >= 4, n_salts


def test_gopher_repetition_mega_document_skew(spark):
    """One 200k-token mega-document among 2k small docs. Per-document
    grouping means the mega-doc's grams land in one partition by
    construction — the bound is the DOC's own gram count streaming
    through one task's partial-agg hash map (gram identities, 8-byte
    keys), never a corpus-wide hot key. Exactness on the mega-doc is
    derived from its construction: 'w0 w1 ... w99' repeated 2000 times
    gives a known top bigram ('w99 w0' spans every repeat boundary plus
    none inside — each distinct bigram inside the cycle occurs once per
    repeat except the boundary one occurs repeats-1... asserted via the
    Counter reference instead of hand algebra)."""
    from collections import Counter

    from thoth_spark.operators.text import gopher_repetition

    cycle = " ".join(f"w{i}" for i in range(100))
    mega = " ".join([cycle] * 2000)  # 200k tokens
    rows = [(0, mega)] + [
        (i, f"doc {i} alpha beta gamma delta") for i in range(1, 2001)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string").repartition(32)
    out, wall = _timed(
        lambda: {
            (r["id"], r["n"]): r
            for r in gopher_repetition(df, ns=(2,)).collect()
        }
    )
    toks = mega.split(" ")
    c = Counter(
        " ".join(toks[i : i + 2]) for i in range(len(toks) - 1)
    )
    r = out[(0, 2)]
    assert r["total_ngrams"] == len(toks) - 1
    assert r["distinct_ngrams"] == len(c)
    assert r["top_count"] == max(c.values())
    # every small doc present with its own counts (6 tokens -> 5 bigrams)
    assert out[(1, 2)]["total_ngrams"] == 5
    assert len(out) == 2001
    # generous bound: a plan that shuffled the mega-doc's gram STRINGS
    # (or re-exploded per order) would blow far past this on local[32]
    assert wall < 120, f"mega-doc repetition took {wall:.1f}s"


def test_gopher_repetition_verdict_mega_document_skew(spark):
    """r15: the WIDE verdict path (9 orders + duplicate-LINE rules +
    the per-id pivot) through the same 200k-token mega-document skew.
    The mega-doc additionally carries 4k duplicate LINES (the cycle as
    a line, repeated), so the line rules do real work on the hot row:
    dup_line_ratio must flag it while the 2k small docs (one line each)
    pass. The pivot keys on id — the mega-doc's long rows collapse in
    ONE task's hash agg, never a corpus-wide hot key."""
    from thoth_spark.operators.text import gopher_repetition_verdict

    cycle = " ".join(f"w{i}" for i in range(50))
    mega = "\n".join([cycle] * 4000)  # 200k tokens over 4k dup lines
    # small docs get 30 DISTINCT tokens each: short docs with few grams
    # legitimately fail the top-n-gram share thresholds (top share of 4
    # trigrams is 0.25 > 0.18), so realistic all-distinct docs are the
    # right pass-side control
    rows = [(0, mega)] + [
        (i, " ".join(f"d{i}t{j}" for j in range(30)))
        for i in range(1, 2001)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string").repartition(32)
    out, wall = _timed(
        lambda: {r["id"]: r for r in gopher_repetition_verdict(df).collect()}
    )
    assert len(out) == 2001
    mega_row = out[0]
    # 4000 identical non-blank lines -> dup_line_ratio = 3999/4000
    assert abs(mega_row["dup_line_ratio"] - 3999 / 4000) < 1e-6
    assert mega_row["dup_line_char_ratio"] > 0.99
    assert mega_row["pass_repetition"] is False
    # a small all-distinct doc: single line, no repetition -> passes
    small = out[1]
    assert small["dup_line_ratio"] == 0.0
    assert small["pass_repetition"] is True
    # the top bigram of the mega doc: each WITHIN-cycle bigram appears
    # once per repeat (4000x); the cycle-boundary bigram 'w49 w0' spans
    # only the 3999 repeat joints and is the RAREST -> top = 4000/199999
    assert abs(mega_row["top_2gram_ratio"] - (4000 / 199999)) < 5e-6
    assert wall < 180, f"mega-doc verdict took {wall:.1f}s"


@pytest.mark.slow
def test_c4_span_dedup_boilerplate_span_skew(spark):
    """r16: the span-dedup hot key. A boilerplate 3-sentence span shared
    by ALL 2k docs makes one `h` group huge in the keeper aggregate and
    floods dup_occurrences with one removal per doc — plus a 200k-token
    mega-document of ONE repeated sentence, whose ~67k spans all carry
    the SAME hash (the worst single-key case: a corpus-wide hot span
    AND a within-doc hot span at once). The keeper aggregate is
    min(struct)/count with map-side partials, so the hot hash never
    buffers its instances; the removals themselves are inherent output.
    Exactness is derived from the construction: every non-keeper doc
    loses exactly the 3 boilerplate sentences, and the mega-doc
    collapses to its first sentence (each later occurrence of the
    repeated span overlaps the keeper — the documented
    self-overlapping-repeat semantics)."""
    boiler = "common one. common two. common three."
    n_docs = 2000
    rows = [
        (i, f"{boiler} doc {i} alpha. doc {i} beta. doc {i} gamma.")
        for i in range(1, n_docs + 1)
    ]
    # one sentence = 3 tokens ("sent word N." reused verbatim), repeated
    # 66,667 times -> ~200k tokens, ~66,665 spans, ALL the same xxhash64
    mega = " ".join(["repeat sentence here."] * 66667)
    rows.append((0, mega))
    df = spark.createDataFrame(rows, "doc_id long, text string").repartition(32)
    out, wall = _timed(
        lambda: {r["id"]: r for r in dedup.c4_span_dedup(df).collect()}
    )
    assert len(out) == n_docs + 1
    # global keeper of the boilerplate span is (0, 1)? No: the mega-doc's
    # span is a DIFFERENT string than the boilerplate, so the boilerplate
    # keeper is doc 1 pos 1 — doc 1 keeps everything
    assert out[1]["n_removed"] == 0
    assert out[1]["text"].startswith("common one.")
    # every other doc loses exactly the 3 boilerplate sentences but
    # keeps its distinct tail
    for i in (2, 1000, n_docs):
        assert out[i]["n_removed"] == 3
        assert out[i]["text"] == f"doc {i} alpha. doc {i} beta. doc {i} gamma."
    # the mega-doc: keeper span at pos 1, duplicates at 2..n-2 whose
    # removals cover positions 2..n -> only sentence 1 survives
    assert out[0]["n_sentences"] == 66667
    assert out[0]["n_removed"] == 66666
    assert out[0]["text"] == "repeat sentence here."
    assert wall < 120, f"boilerplate span dedup took {wall:.1f}s"


def test_c4_span_dedup_incremental_boilerplate_skew(spark, tmp_path):
    """The same corpus-wide boilerplate span through the INCREMENTAL
    path (persisted index, two batches): the hot hash is one index row,
    the second batch's probe join fans the hot key across its
    occurrences (hash join on h — no single-task buffering beyond the
    batch's own rows), and every second-batch doc loses the span."""
    boiler = "common one. common two. common three."
    rows = [
        (i, f"{boiler} doc {i} alpha. doc {i} beta. doc {i} gamma.")
        for i in range(1, 2001)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string").repartition(32)
    path = str(tmp_path / "span_idx")
    dedup.build_span_index(df.limit(0), path, n_buckets=16)
    first = df.where(F.col("doc_id") <= 1000)
    second = df.where(F.col("doc_id") > 1000)
    out1, w1 = _timed(
        lambda: {
            r["id"]: r
            for r in dedup.c4_span_dedup_incremental(first, path).collect()
        }
    )
    out2, w2 = _timed(
        lambda: {
            r["id"]: r
            for r in dedup.c4_span_dedup_incremental(second, path).collect()
        }
    )
    assert out1[1]["n_removed"] == 0
    assert out1[1000]["n_removed"] == 3
    # second batch: the boilerplate span is IN THE INDEX -> all 1000 lose it
    assert all(out2[i]["n_removed"] == 3 for i in range(1001, 2001))
    assert out2[1500]["text"] == "doc 1500 alpha. doc 1500 beta. doc 1500 gamma."
    assert w1 + w2 < 120, f"incremental span dedup took {w1 + w2:.1f}s"
