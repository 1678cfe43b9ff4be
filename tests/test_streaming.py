"""Streaming surface tests: watermarked profiling (append mode), stateful
incremental scoring (applyInPandasWithState), foreachBatch assessment."""

import datetime
import tempfile
import uuid

import pytest
from pyspark.sql import functions as F

from thoth_spark.profiler import Mean, ProfilingBuilder, Size, profile
from thoth_spark.sources import load_events_stream, load_table
from thoth_spark.streaming import (
    assess_foreach_batch,
    profile_stream,
    running_score_stream,
)

BUILDER = ProfilingBuilder(analyzers=[Mean("value"), Size()])


def _events_stream(spark, sf_dir):
    return load_events_stream(spark, sf_dir).select("ts", "value")


def _run_to_memory(df, mode):
    name = f"t_{uuid.uuid4().hex[:8]}"
    q = df.writeStream.outputMode(mode).format("memory").queryName(name).start()
    q.processAllAvailable()
    q.stop()
    return name


def test_profile_stream_append_watermark(spark, sf_dir):
    """Append mode emits exactly the finalized (watermark-passed) daily
    buckets, and their values match the batch profiler bit-for-bit."""
    stream_metrics = profile_stream(
        _events_stream(spark, sf_dir), "ts", BUILDER, watermark_delay="1 day"
    )
    name = _run_to_memory(stream_metrics, "append")
    got = {
        (r["ts"], r["entity"], r["instance"], r["name"]): r["value"]
        for r in spark.table(name).collect()
    }

    events = load_table(spark, sf_dir, "events").select("ts", "value")
    max_ts = events.agg(F.max("ts")).collect()[0][0]
    watermark = max_ts - datetime.timedelta(days=1)
    expected = {
        (r["ts"], r["entity"], r["instance"], r["name"]): r["value"]
        for r in profile(events, "ts", BUILDER).collect()
        # append mode emits a window once watermark >= window end
        if r["ts"] + datetime.timedelta(days=1) <= watermark
    }
    assert got == expected and len(got) > 0


def test_profile_stream_rejects_grouping_analyzers(spark, sf_dir):
    from thoth_spark.profiler import Entropy

    with pytest.raises(ValueError, match="assess_foreach_batch"):
        profile_stream(
            _events_stream(spark, sf_dir), "ts", ProfilingBuilder(analyzers=[Entropy("value")])
        )


def test_running_score_stream_golden(spark):
    rows = [
        ("Column", "value", "Mean", datetime.datetime(2022, 1, 1) + datetime.timedelta(days=i), v)
        for i, v in enumerate([2.0, 4.0, 6.0, 4.0])
    ]
    src = spark.createDataFrame(
        rows, "entity string, instance string, name string, ts timestamp, value double"
    )
    with tempfile.TemporaryDirectory() as d:
        src.write.mode("overwrite").parquet(d)
        stream = spark.readStream.schema(src.schema).parquet(d)
        name = _run_to_memory(running_score_stream(stream, window=2), "append")
        got = sorted(spark.table(name).collect(), key=lambda r: r["ts"])
    assert [r["predicted"] for r in got] == [None, 2.0, 3.0, 5.0]
    assert got[3]["error"] == 0.25  # |4 - 5| / 4
    assert all(r["entity"] == "Column" and r["name"] == "Mean" for r in got)


def test_assess_foreach_batch(spark, sf_dir):
    events = load_table(spark, sf_dir, "events").select("ts", "value")
    thresholds = spark.createDataFrame(
        [("Column", "value", "Mean", 0.1)],
        "entity string, instance string, name string, threshold double",
    )
    seen = []
    cb = assess_foreach_batch(
        "ts",
        on_result=lambda df, bid: seen.append((bid, df.collect())),
        profiling_builder=BUILDER,
        optimization_df=thresholds,
    )
    cb(events, 0)
    assert len(seen) == 1
    rows = seen[0][1]
    mean_rows = [r for r in rows if r["name"] == "Mean"]
    assert mean_rows and all(r["threshold"] == 0.1 for r in mean_rows)
    assert all(r["threshold"] is None for r in rows if r["name"] == "Size")


def test_drift_foreach_batch_matches_batch_psi(spark, sf_dir):
    """Streaming PSI (foreachBatch against a frozen broadcast reference)
    must equal the batch drift detector when the stream drains: same
    edges, same bucket counts, same smoothing — so per-day PSI rows are
    bit-identical to psi_daily's."""
    from thoth_spark.profiler.drift import freeze_reference, psi_daily
    from thoth_spark.streaming import drift_foreach_batch

    events = load_table(spark, sf_dir, "events").select("ts", "value")
    ref_end = "2024-01-08"
    clean = events.where(F.col("value").isNotNull())
    ref = clean.where(F.col("ts") < F.lit(ref_end).cast("timestamp"))
    cur = clean.where(F.col("ts") >= F.lit(ref_end).cast("timestamp"))
    edges, ref_b = freeze_reference(ref, "value", 10)
    edges.cache().count(), ref_b.cache().count()  # freeze once, reuse per batch

    with tempfile.TemporaryDirectory() as d:
        cur.write.mode("overwrite").parquet(d)
        stream = spark.readStream.schema(cur.schema).parquet(d)
        seen = []
        cb = drift_foreach_batch(
            "ts", "value", edges, ref_b, lambda df, bid: seen.append(df.collect())
        )
        q = stream.writeStream.foreachBatch(cb).start()
        q.processAllAvailable()
        q.stop()
    edges.unpersist(), ref_b.unpersist()

    got = {r["d"]: (r["n"], r["psi"]) for rows in seen for r in rows}
    expected = {
        r["d"]: (r["n"], r["psi"])
        for r in psi_daily(events, "ts", "value", ref_end).collect()
    }
    assert got == expected and len(got) > 0


def test_drift_foreach_batch_ks_matches_batch(spark, sf_dir):
    """The same streaming drift callback with stat='ks' must drain to
    per-day rows bit-identical to the batch ks_daily detector."""
    import pytest

    from thoth_spark.profiler.drift import freeze_reference, ks_daily
    from thoth_spark.streaming import drift_foreach_batch

    events = load_table(spark, sf_dir, "events").select("ts", "value")
    ref_end = "2024-01-08"
    clean = events.where(F.col("value").isNotNull())
    ref = clean.where(F.col("ts") < F.lit(ref_end).cast("timestamp"))
    cur = clean.where(F.col("ts") >= F.lit(ref_end).cast("timestamp"))
    edges, ref_b = freeze_reference(ref, "value", 20)
    edges.cache().count(), ref_b.cache().count()

    with tempfile.TemporaryDirectory() as d:
        cur.write.mode("overwrite").parquet(d)
        stream = spark.readStream.schema(cur.schema).parquet(d)
        seen = []
        cb = drift_foreach_batch(
            "ts", "value", edges, ref_b,
            lambda df, bid: seen.append(df.collect()),
            n_bins=20, stat="ks",
        )
        q = stream.writeStream.foreachBatch(cb).start()
        q.processAllAvailable()
        q.stop()
    edges.unpersist(), ref_b.unpersist()

    got = {r["d"]: (r["n"], r["ks"], r["ks_alarm"]) for rows in seen for r in rows}
    expected = {
        r["d"]: (r["n"], r["ks"], r["ks_alarm"])
        for r in ks_daily(events, "ts", "value", ref_end, n_bins=20).collect()
    }
    assert got == expected and len(got) > 0
    with pytest.raises(ValueError, match="stat"):
        drift_foreach_batch("ts", "value", edges, ref_b, lambda df, bid: None, stat="chi2")


def test_sketch_profile_stream_rolls_up(spark, sf_dir):
    """Streaming per-day sketches (append mode) merge into the same
    weekly distinct counts as batch sketching — the continuous half of
    the rescan-free rollup story."""
    from thoth_spark.profiler.sketches import rollup_sketches, sketch_profile
    from thoth_spark.streaming import sketch_profile_stream

    stream = load_events_stream(spark, sf_dir).select("ts", "value", "event_type")
    daily_stream = sketch_profile_stream(
        stream, "ts", distinct_cols=["event_type"], quantile_cols=["value"]
    )
    name = _run_to_memory(daily_stream, "append")
    streamed_daily = spark.table(name)
    assert {"ts", "row_count", "hll_event_type", "kll_value"} <= set(streamed_daily.columns)
    assert streamed_daily.count() > 0

    weekly_from_stream = {
        r["ts"]: (r["row_count"], r["approx_distinct_event_type"])
        for r in rollup_sketches(streamed_daily, "week").collect()
    }
    events = load_table(spark, sf_dir, "events")
    batch_daily = sketch_profile(events, "ts", distinct_cols=["event_type"], quantile_cols=["value"])
    # restrict batch to the buckets the watermark finalized
    finalized = {r["ts"] for r in streamed_daily.select("ts").collect()}
    batch_subset = batch_daily.where(F.col("ts").isin(list(finalized)))
    weekly_from_batch = {
        r["ts"]: (r["row_count"], r["approx_distinct_event_type"])
        for r in rollup_sketches(batch_subset, "week").collect()
    }
    assert weekly_from_stream == weekly_from_batch and len(weekly_from_stream) > 0


def test_sessionize_stream_matches_batch(spark, sf_dir):
    """Streaming sessionization must equal batch sessionize once a
    finite stream drains — INCLUDING sessions spanning micro-batch
    boundaries: the events are delivered as three time-ordered file
    slices (one file per slice, maxFilesPerTrigger=1), so per-user
    state genuinely carries across batches."""
    from thoth_spark.operators.relational import sessionize
    from thoth_spark.streaming import sessionize_stream

    events = load_table(spark, sf_dir, "events").select("user_id", "event_id", "ts")
    with tempfile.TemporaryDirectory() as d:
        c1, c2 = "2024-01-11", "2024-01-21"
        slices = [
            events.where(F.col("ts") < F.lit(c1).cast("timestamp")),
            events.where(
                (F.col("ts") >= F.lit(c1).cast("timestamp"))
                & (F.col("ts") < F.lit(c2).cast("timestamp"))
            ),
            events.where(F.col("ts") >= F.lit(c2).cast("timestamp")),
        ]
        for s in slices:  # sequential appends -> ascending file mod times
            s.coalesce(1).write.mode("append").parquet(d)
        stream = (
            spark.readStream.schema(events.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(d)
        )
        out = sessionize_stream(stream, ("user_id",), "ts", 3600, ("event_id",))
        name = "sess_stream_test"
        q = (
            out.writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .start()
        )
        q.processAllAvailable()
        n_batches = len(q.recentProgress)
        q.stop()
        got = {
            (r["user_id"], r["event_id"]): r["session_id"]
            for r in spark.table(name).collect()
        }
    assert n_batches >= 3  # the state path across batches was exercised
    expected = {
        (r["user_id"], r["event_id"]): r["session_id"]
        for r in sessionize(
            events, ["user_id"], "ts", 3600, tiebreak_cols=["event_id"]
        ).collect()
    }
    assert got == expected and len(got) == events.count()


def test_interval_join_stream_across_micro_batches(spark, tmp_path):
    """Stream-stream interval join must match across micro-batch
    boundaries: clicks arrive in one file/batch, purchases in another
    (maxFilesPerTrigger=1), so every match requires the click to be
    served from the join STATE STORE, not from the same batch. Result
    must equal the batch interval join exactly."""
    import datetime as dt

    from thoth_spark.streaming.stream import interval_join_stream

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    clicks = [
        (100 + i, 1 + (i % 2), t0 + dt.timedelta(minutes=i)) for i in range(10)
    ]
    # purchases 5-40 min after t0: some clicks in the 30-min window, some not
    purchases = [
        (200 + i, 1 + (i % 2), t0 + dt.timedelta(minutes=5 + 7 * i)) for i in range(6)
    ]
    cdf = spark.createDataFrame(clicks, "click_id long, c_user long, c_ts timestamp")
    pdf = spark.createDataFrame(
        purchases, "purchase_id long, p_user long, p_ts timestamp"
    )
    cdir, pdir = str(tmp_path / "clicks"), str(tmp_path / "purchases")
    cdf.coalesce(1).write.parquet(cdir)
    pdf.coalesce(1).write.parquet(pdir)

    cs = (
        spark.readStream.schema(cdf.schema).option("maxFilesPerTrigger", 1).parquet(cdir)
    )
    ps = (
        spark.readStream.schema(pdf.schema).option("maxFilesPerTrigger", 1).parquet(pdir)
    )
    joined = interval_join_stream(
        ps, cs, "p_user", "c_user", "p_ts", "c_ts",
        max_delay="30 minutes", watermark="2 hours",
    ).select("purchase_id", "click_id")
    name = f"t_ij_{uuid.uuid4().hex[:8]}"
    q = joined.writeStream.outputMode("append").format("memory").queryName(name).start()
    q.processAllAvailable()
    q.stop()
    got = {(r["purchase_id"], r["click_id"]) for r in spark.table(name).collect()}

    batch = (
        pdf.join(
            cdf,
            (F.col("p_user") == F.col("c_user"))
            & (F.col("c_ts") <= F.col("p_ts"))
            & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 minutes")),
        )
        .select("purchase_id", "click_id")
        .collect()
    )
    want = {(r["purchase_id"], r["click_id"]) for r in batch}
    assert got == want and len(want) > 0


@pytest.mark.slow
def test_interval_join_stream_left_outer_emits_unmatched(spark, tmp_path):
    """left_outer semantics: purchases with no click in their window
    must emit null-joined — but only after the watermark passes their
    join window, so a later batch advances event time past the early
    rows' expiry."""
    import datetime as dt

    from thoth_spark.streaming.stream import interval_join_stream

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    # user 1's purchase has a click in-window; user 2's does not
    purchases = [(201, 1, t0), (202, 2, t0)]
    clicks = [(101, 1, t0 - dt.timedelta(minutes=5))]
    # much later watermark-driver events on BOTH streams: the join's
    # event-time watermark is the MIN across inputs, so both must advance
    late_t = t0 + dt.timedelta(hours=3)
    pdf = spark.createDataFrame(purchases, "purchase_id long, p_user long, p_ts timestamp")
    ldf = spark.createDataFrame(
        [(299, 3, late_t)], "purchase_id long, p_user long, p_ts timestamp"
    )
    cdf = spark.createDataFrame(clicks, "click_id long, c_user long, c_ts timestamp")
    lcdf = spark.createDataFrame(
        [(199, 3, late_t)], "click_id long, c_user long, c_ts timestamp"
    )
    pdir, cdir = str(tmp_path / "p"), str(tmp_path / "c")
    pdf.coalesce(1).write.parquet(pdir)
    ldf.coalesce(1).write.mode("append").parquet(pdir)
    cdf.coalesce(1).write.parquet(cdir)
    lcdf.coalesce(1).write.mode("append").parquet(cdir)

    ps = spark.readStream.schema(pdf.schema).option("maxFilesPerTrigger", 1).parquet(pdir)
    cs = spark.readStream.schema(cdf.schema).option("maxFilesPerTrigger", 1).parquet(cdir)
    joined = interval_join_stream(
        ps, cs, "p_user", "c_user", "p_ts", "c_ts",
        max_delay="30 minutes", watermark="10 minutes", how="left_outer",
    ).select("purchase_id", "click_id")
    name = f"t_loj_{uuid.uuid4().hex[:8]}"
    q = joined.writeStream.outputMode("append").format("memory").queryName(name).start()
    q.processAllAvailable()
    q.stop()
    got = {(r["purchase_id"], r["click_id"]) for r in spark.table(name).collect()}
    assert (201, 101) in got          # matched pair
    assert (202, None) in got         # unmatched -> null right side


def test_chi2_foreach_batch_matches_batch(spark, sf_dir):
    """Streaming categorical drift (frozen probability reference with
    the __other__ slot) must drain to per-day rows bit-identical to the
    batch chi2_daily detector."""
    from thoth_spark.profiler.drift import chi2_daily, freeze_categorical_reference
    from thoth_spark.streaming import chi2_foreach_batch

    events = load_table(spark, sf_dir, "events").select("ts", "event_type")
    ref_end = "2024-01-08"
    clean = events.where(F.col("event_type").isNotNull())
    ref = clean.where(F.col("ts") < F.lit(ref_end).cast("timestamp"))
    cur = clean.where(F.col("ts") >= F.lit(ref_end).cast("timestamp"))
    probs = freeze_categorical_reference(ref, "event_type")
    probs.cache().count()  # freeze once, reuse per batch

    with tempfile.TemporaryDirectory() as d:
        cur.write.mode("overwrite").parquet(d)
        stream = spark.readStream.schema(cur.schema).parquet(d)
        seen = []
        cb = chi2_foreach_batch(
            "ts", "event_type", probs, lambda df, bid: seen.append(df.collect())
        )
        q = stream.writeStream.foreachBatch(cb).start()
        q.processAllAvailable()
        q.stop()
    probs.unpersist()

    # chi2 is a distributed float sum — summation order varies with task
    # scheduling, so parity holds to the last-but-one ulp, not bit-for-bit;
    # round(9) is still 1000x stricter than the oracle's round(6).
    got = {
        r["d"]: (r["n"], round(r["chi2"], 9), r["chi2_alarm"])
        for rows in seen
        for r in rows
    }
    expected = {
        r["d"]: (r["n"], round(r["chi2"], 9), r["chi2_alarm"])
        for r in chi2_daily(events, "ts", "event_type", ref_end).collect()
    }
    assert got == expected and len(got) > 0


@pytest.mark.slow
def test_index_ingest_foreach_batch_continuous_append(spark, tmp_path):
    """r13 streaming twin of the nightly index ingest: vectors arrive
    as a file stream (maxFilesPerTrigger=1, so each file is its own
    micro-batch and each append must ride the STORED quantizers, not
    anything from the builder's session), flow through
    index_ingest_foreach_batch into persisted IVF and IVF-PQ indexes,
    and the serves over the streamed-in union equal the same serves
    over a single batch build with the same quantizers."""
    from pyspark.sql import functions as F

    from thoth_spark.operators import similarity
    from thoth_spark.sources import load_table
    from thoth_spark.streaming import index_ingest_foreach_batch

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    base = emb.where(F.col("vec_id") % 3 == 0)
    late1 = emb.where(F.col("vec_id") % 3 == 1)
    late2 = emb.where(F.col("vec_id") % 3 == 2)
    queries = emb.limit(5)
    cents = similarity.coarse_centroids(emb, "embedding", 8, seed=11)

    stream_dir = str(tmp_path / "arrivals")
    late1.coalesce(1).write.mode("append").parquet(stream_dir)
    late2.coalesce(1).write.mode("append").parquet(stream_dir)

    ivf_dir = str(tmp_path / "ivf_stream")
    pq_dir = str(tmp_path / "pq_stream")
    similarity.build_ivf_index(base, ivf_dir, centroids=cents)
    _, cb = similarity.build_ivfpq_index(
        base, pq_dir, n_centroids=8, m_subspaces=8, n_codes=16,
        centroids=cents,
    )

    seen: list[tuple[int, int]] = []
    src = spark.readStream.schema(emb.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(stream_dir)
    q1 = src.writeStream.foreachBatch(
        index_ingest_foreach_batch(
            ivf_dir, kind="ivf", on_batch=lambda n, b: seen.append((n, b))
        )
    ).start()
    q1.processAllAvailable()
    q1.stop()
    q2 = src.writeStream.foreachBatch(
        index_ingest_foreach_batch(pq_dir, kind="ivfpq")
    ).start()
    q2.processAllAvailable()
    q2.stop()

    assert len(seen) == 2 and all(n > 0 for n, _ in seen)  # 2 micro-batches
    assert sum(n for n, _ in seen) == late1.count() + late2.count()

    # serves over the streamed union == single full build, same quantizers
    ivf_full = str(tmp_path / "ivf_full")
    pq_full = str(tmp_path / "pq_full")
    similarity.build_ivf_index(emb, ivf_full, centroids=cents)
    similarity.build_ivfpq_index(
        emb, pq_full, n_centroids=8, m_subspaces=8, n_codes=16,
        centroids=cents, codebooks=cb,
    )
    got = sorted(map(tuple, similarity.ivf_query_index(
        spark, ivf_dir, queries, k=3, nprobe=2
    ).collect()))
    want = sorted(map(tuple, similarity.ivf_query_index(
        spark, ivf_full, queries, k=3, nprobe=2
    ).collect()))
    assert got == want and len(got) == 15
    got_pq = sorted(map(tuple, similarity.ivfpq_query_index(
        spark, pq_dir, queries, emb, k=3, nprobe=2, rerank_pool=15
    ).collect()))
    want_pq = sorted(map(tuple, similarity.ivfpq_query_index(
        spark, pq_full, queries, emb, k=3, nprobe=2, rerank_pool=15
    ).collect()))
    assert got_pq == want_pq and len(got_pq) == 15

    with pytest.raises(ValueError, match="kind"):
        index_ingest_foreach_batch(ivf_dir, kind="hnsw")


def test_gopher_repetition_foreach_batch_matches_batch(spark, sf_dir):
    """The streaming repetition twin must drain to EXACTLY the batch
    operator's rows regardless of micro-batch boundaries — the grouping
    key is the doc id, so no group straddles a batch. Forced multi-batch
    via maxFilesPerTrigger=1 over a two-file corpus."""
    import tempfile

    from thoth_spark.operators.text import gopher_repetition
    from thoth_spark.streaming import gopher_repetition_foreach_batch

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    with tempfile.TemporaryDirectory() as d:
        docs.repartition(2).write.mode("overwrite").parquet(d)
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(d)
        )
        seen = []
        cb = gopher_repetition_foreach_batch(
            lambda out, bid: seen.append((bid, out.collect())), ns=(2, 5)
        )
        q = stream.writeStream.foreachBatch(cb).start()
        q.processAllAvailable()
        q.stop()
    assert len(seen) >= 2, "maxFilesPerTrigger=1 must force >=2 batches"
    got = sorted(tuple(r) for _, rows in seen for r in rows)
    want = sorted(
        tuple(r) for r in gopher_repetition(docs, ns=(2, 5)).collect()
    )
    assert got == want and len(got) > 0


def test_c4_gate_stream_matches_batch_across_micro_batches(spark, sf_dir):
    """The stateless C4 gate must emit exactly the batch survivors
    regardless of micro-batch boundaries (maxFilesPerTrigger=1 over a
    two-file corpus) — the streaming_c4 recipe's batch-equivalence."""
    import tempfile
    import uuid

    from thoth_spark.operators.text import c4_rules

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # derive the line-structured corpus the driver query uses (the
    # fixture has no newlines/punctuation)
    toks = F.split(F.trim(F.col("text")), r"\s+")
    parts = []
    for i in range(3):
        body = F.concat_ws(" ", F.slice(toks, 1 + i * 8, 8))
        dot = F.when((F.col("doc_id") + i) % 2 == 0, F.lit(".")).otherwise(
            F.lit("")
        )
        parts.append(F.concat(body, dot))
    lined = docs.select("doc_id", F.concat_ws("\n", *parts).alias("text"))
    want = sorted(
        tuple(r)
        for r in c4_rules(lined, min_sentences=2)
        .where(F.col("pass_c4"))
        .select("doc_id", "kept_text", "n_sentences")
        .collect()
    )
    with tempfile.TemporaryDirectory() as d:
        lined.repartition(2).write.mode("overwrite").parquet(d)
        stream = (
            spark.readStream.schema(lined.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(d)
        )
        gated = (
            c4_rules(stream, min_sentences=2)
            .where(F.col("pass_c4"))
            .select("doc_id", "kept_text", "n_sentences")
        )
        name = f"c4_eq_{uuid.uuid4().hex[:8]}"
        q = (
            gated.writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .start()
        )
        q.processAllAvailable()
        n_batches = len(q.recentProgress)
        q.stop()
        got = sorted(tuple(r) for r in spark.table(name).collect())
    assert n_batches >= 2, "maxFilesPerTrigger=1 must force >=2 batches"
    assert got == want and len(got) > 0


def test_curation_gate_stream_counters_render_in_dashboard(
    spark, sf_dir, tmp_path
):
    """r15 (r14 verdict next-step #6): the instrumented streaming
    curation front line emits per-micro-batch waterfall counts (docs in
    -> Gopher pass -> repetition pass) whose totals equal the batch
    operators' own counts, and the dashboard's /curation page renders
    the live-feed section from them over live HTTP."""
    import tempfile
    from urllib.request import urlopen

    import thoth_spark as th
    from thoth_spark.operators.text import (
        gopher_repetition_verdict,
        gopher_rules,
    )
    from thoth_spark.streaming import curation_gate_foreach_batch

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    counts, survivor_rows = [], []
    with tempfile.TemporaryDirectory() as d:
        docs.repartition(2).write.mode("overwrite").parquet(d)
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(d)
        )
        cb = curation_gate_foreach_batch(
            counts.append,
            gate_kwargs={"min_stop_hits": 1},
            on_survivors=lambda df, bid: survivor_rows.extend(
                r["doc_id"] for r in df.select("doc_id").collect()
            ),
        )
        q = stream.writeStream.foreachBatch(cb).start()
        q.processAllAvailable()
        q.stop()
    assert len(counts) >= 2, "maxFilesPerTrigger=1 must force >=2 batches"

    # batch equivalence of the counters: totals == the batch operators'
    n_in = docs.count()
    gated = gopher_rules(docs, min_stop_hits=1).where(F.col("pass_gopher"))
    n_gop = gated.count()
    want_survivors = sorted(
        r["id"]
        for r in gopher_repetition_verdict(
            gated.select("doc_id", "text")
        )
        .where(F.col("pass_repetition"))
        .select("id")
        .collect()
    )
    assert sum(c["docs_in"] for c in counts) == n_in
    assert sum(c["gopher_pass"] for c in counts) == n_gop
    assert sum(c["repetition_pass"] for c in counts) == len(want_survivors)
    assert sorted(survivor_rows) == want_survivors and len(want_survivors) > 0

    # live-e2e: the /curation page renders every batch's counts
    repo = th.init_db(spark, str(tmp_path / "live_funnel_repo"))
    stats = {"corpus": n_in, "streaming_batches": counts}
    with th.serve_dashboard(repo, curation_stats=stats) as srv:
        page = urlopen(srv.url + "/curation").read().decode()
        assert "live feed (per micro-batch)" in page
        for c in counts:
            assert f"<td>#{c['batch_id']}</td>" in page
            assert f"<td><b>{c['docs_in']}</b></td>" in page
        assert f"<td><b>{n_in}</b></td>" in page  # totals row


def test_curation_gate_passthrough_columns_not_shadowed(spark):
    """r15 advice: an incoming batch that already carries a column
    named like one of gopher_rules' signal columns (``n_words`` here)
    must reach ``on_survivors`` with its ORIGINAL values — the gate
    runs on an (id, text) projection and semi-joins survivor ids back
    to the raw batch, so the gate's computed signals never shadow
    passthrough data."""
    from thoth_spark.streaming import curation_gate_foreach_batch

    # 60 stopword-bearing, repetition-free words per doc -> passes the
    # default Gopher gate AND the repetition verdict; n_words carries a
    # SENTINEL value unrelated to the real count
    rows = [
        (
            i,
            " ".join(f"the w{i}x{j} and t{i}y{j}" for j in range(15)),
            -999,
        )
        for i in range(4)
    ]
    batch = spark.createDataFrame(rows, "doc_id long, text string, n_words int")

    seen = []
    cb = curation_gate_foreach_batch(
        lambda c: None,
        on_survivors=lambda df, bid: seen.extend(
            df.select("doc_id", "n_words").collect()
        ),
    )
    cb(batch, 0)
    assert len(seen) == 4
    assert all(r["n_words"] == -999 for r in seen), (
        "gate signal columns shadowed the batch's own n_words column"
    )


def test_span_dedup_stream_keep_first_across_micro_batches(spark, tmp_path):
    """r16: the span-dedup streaming twin. Two micro-batches
    (maxFilesPerTrigger=1, ascending ids — files written with distinct
    mtimes so the file source replays them in order) through
    span_dedup_foreach_batch against a fresh persisted index: a span
    first seen in trigger 1 is removed from trigger 2's docs, and the
    concatenated outputs equal one batch c4_span_dedup run over the
    union corpus (the ascending-arrival parity contract)."""
    import time as _time

    from thoth_spark.operators.dedup import build_span_index, c4_span_dedup
    from thoth_spark.streaming import span_dedup_foreach_batch

    shared = "one two. three four. five six."
    df1 = spark.createDataFrame(
        [(1, f"{shared} b1 tail one."), (2, "b1 a. b1 b. b1 c.")],
        "doc_id long, text string",
    )
    df2 = spark.createDataFrame(
        [
            (10, f"{shared} b2 tail."),
            (11, "b1 a. b1 b. b1 c."),
            (12, "fresh x. fresh y. fresh z."),
        ],
        "doc_id long, text string",
    )
    src = str(tmp_path / "in")
    df1.coalesce(1).write.mode("append").parquet(src)
    _time.sleep(0.2)  # distinct mtimes -> deterministic trigger order
    df2.coalesce(1).write.mode("append").parquet(src)
    idx = str(tmp_path / "span_idx")
    build_span_index(df1.limit(0), idx, n_buckets=8)
    seen = []
    cb = span_dedup_foreach_batch(
        idx, lambda out, bid: seen.append((bid, [tuple(r) for r in out.collect()]))
    )
    stream = (
        spark.readStream.schema(df1.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = stream.writeStream.foreachBatch(cb).start()
    q.processAllAvailable()
    q.stop()
    assert len(seen) >= 2, "maxFilesPerTrigger=1 must force >=2 triggers"
    got = sorted(t for _, rows in seen for t in rows)
    want = sorted(
        tuple(r) for r in c4_span_dedup(df1.unionByName(df2)).collect()
    )
    assert got == want
    by_id = {t[0]: t for t in got}
    # cross-trigger state: doc 10's shared span and doc 11's whole text
    # were first seen in trigger 1 -> removed in trigger 2
    assert by_id[10][1] == "b2 tail." and by_id[10][3] == 3
    assert by_id[11][1] == "" and by_id[11][3] == 3
    assert by_id[12][3] == 0


def test_span_dedup_stream_retry_is_idempotent(spark, tmp_path):
    """r16 review finding: Structured Streaming is at-least-once per
    trigger — a retried batch must NOT dedup against its own first
    attempt's index appends (which would strip the keeper docs' text).
    The sink passes batch_id as the append's batch_tag: the rerun's
    probe excludes, and its append overwrites, the bid=<batch_id>
    partition. Replay the callback twice with the same batch_id and
    assert bit-identical output, then a LATER trigger still sees the
    batch's spans exactly once."""
    from thoth_spark.operators.dedup import build_span_index
    from thoth_spark.streaming import span_dedup_foreach_batch

    idx = str(tmp_path / "span_idx")
    b0 = spark.createDataFrame(
        [(1, "one two. three four. five six. tail a."), (2, "x. y. z.")],
        "doc_id long, text string",
    )
    build_span_index(b0.limit(0), idx, n_buckets=8)
    outs = []
    cb = span_dedup_foreach_batch(
        idx, lambda out, bid: outs.append(sorted(tuple(r) for r in out.collect()))
    )
    cb(b0, 0)
    cb(b0, 0)  # simulated post-failure retry of the SAME trigger
    assert outs[0] == outs[1], "retried trigger changed its own output"
    assert {t[0]: t[3] for t in outs[1]} == {1: 0, 2: 0}, (
        "retry deduped the batch against its own first attempt"
    )
    # a LATER trigger still dedups against batch 0's spans exactly once
    b1 = spark.createDataFrame(
        [(10, "one two. three four. five six. fresh tail.")],
        "doc_id long, text string",
    )
    cb(b1, 1)
    assert outs[2][0][1] == "fresh tail." and outs[2][0][3] == 3
