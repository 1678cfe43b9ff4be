"""The oracle gate: run every ``queries()`` entry through Spark AND its
``oracle_sql()`` through DuckDB on the same sf dir, then compare typed
columns, row count, and order-insensitive values. Queries without an
oracle must return at least their structural row floor."""

import math
import os

import duckdb
import pytest

import __spark_entry__ as entry

SF_DIR = os.environ.get("THOTH_ORACLE_SF_DIR", "/root/testdata/sf0.001")

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    return con


def _norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return round(v, 5)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    try:  # Decimal → float
        import decimal

        if isinstance(v, decimal.Decimal):
            return round(float(v), 5)
    except Exception:
        pass
    return v


def _normalize(rows, cols):
    return sorted(
        tuple(str(_norm_cell(v)) for v in row) for row in rows
    ), sorted(cols)


def _type_lattice(type_name):
    """Collapse an engine type name to a small lattice so the local gate
    catches oracle/Spark TYPE misalignment (the driver hashes typed values,
    so e.g. DuckDB HUGEINT vs Spark BIGINT is a red row there even when the
    stringified values agree — the round-5 chi2_drift_events defect)."""
    t = str(type_name).lower()
    if "struct" in t or "row" in t:
        return "struct"
    if "array" in t or "list" in t or t.endswith("[]"):
        return "array"
    if "map" in t:
        return "map"
    if "timestamp" in t or "datetime" in t:
        return "timestamp"
    if "date" in t:
        return "date"
    if "bool" in t:
        return "bool"
    if "hugeint" in t:
        # DuckDB's uncast sum() type; the driver's typed hash does NOT
        # treat it as BIGINT, so neither do we (the r5 chi2 defect).
        return "hugeint"
    if "interval" in t:
        return "interval"
    # Integer WIDTHS are distinct lattice points: the driver hashes typed
    # values, so Spark INT vs DuckDB BIGINT is a red row there — collapsing
    # them locally (pre-r8 behavior) hid exactly the r5 failure class.
    if "bigint" in t or t == "long":
        return "int64"
    if "smallint" in t or t == "short":
        return "int16"
    if "tinyint" in t or t in ("byte", "int8"):
        return "int8"
    if "int" in t:  # int / integer / int32 / uinteger
        return "int32"
    if "decimal" in t or "numeric" in t:
        # DECIMAL is exact fixed-point, not a float — a Spark DOUBLE vs
        # DuckDB DECIMAL(18,3) column must flag locally like it would in
        # the driver's typed hash.
        return "decimal"
    if any(k in t for k in ("double", "float", "real")):
        return "float"
    if any(k in t for k in ("char", "string", "text", "utf8")):
        return "string"
    if "binary" in t or "blob" in t or "bytea" in t:
        return "binary"
    return t


def _typed_cols(cols, types):
    return sorted(zip(cols, (_type_lattice(t) for t in types)))


#: Oracle-gate ids that run only in the full profile (tests/conftest.py).
SLOW_ORACLE_QUERIES = {
    "dedup_lsh_eval",
    "dedup_minhash_components",
    "dedup_quality_survivors_documents",
    "leakage_safe_split_documents",
}


ORACLE_QUERIES = sorted(set(entry.queries()) & set(entry.oracle_sql()))
ROWS_ONLY_QUERIES = sorted(set(entry.queries()) - set(entry.oracle_sql()))
# a renamed slow query must not drop silently into the fast profile
assert SLOW_ORACLE_QUERIES <= set(ORACLE_QUERIES)


@pytest.mark.parametrize(
    "name",
    [
        pytest.param(n, marks=pytest.mark.slow) if n in SLOW_ORACLE_QUERIES else n
        for n in ORACLE_QUERIES
    ],
)
def test_query_matches_oracle(spark, duck, name):
    """Typed column compare + row count + order-insensitive normalized
    values."""
    sdf = entry.queries()[name](spark, SF_DIR)
    spark_cols = sdf.columns
    spark_types = [f.dataType.simpleString() for f in sdf.schema.fields]
    spark_rows = [tuple(r) for r in sdf.collect()]

    res = duck.sql(entry.oracle_sql()[name])
    duck_cols = res.columns
    duck_types = res.types
    duck_rows = res.fetchall()

    s_rows, s_cols = _normalize(spark_rows, spark_cols)
    d_rows, d_cols = _normalize(duck_rows, duck_cols)
    assert s_cols == d_cols, f"{name}: column mismatch {s_cols} vs {d_cols}"
    s_typed = _typed_cols(spark_cols, spark_types)
    d_typed = _typed_cols(duck_cols, duck_types)
    assert s_typed == d_typed, (
        f"{name}: column TYPE mismatch:"
        f" spark={s_typed} vs oracle={d_typed}"
    )
    assert len(s_rows) == len(d_rows), (
        f"{name}: row count {len(s_rows)} vs {len(d_rows)}"
    )
    mismatches = [
        (a, b) for a, b in zip(s_rows, d_rows) if a != b
    ]
    assert not mismatches, f"{name}: first mismatches: {mismatches[:5]}"


# Per-query minimum row counts for the rows-only (no-SQL-oracle)
# queries at sf0.001 — `count() >= 0` was vacuously true (r10 verdict
# #4: a silently-empty frame passed). Floors are structural, not
# tuned: validation frames emit >= 1 row per fold/model, top-k emits
# k rows per query vector, survivor sets keep most of the corpus.
ROWS_ONLY_MIN = {
    "accuracy_study_events": 5,       # one row per experiment A-E
    "anomaly_changepoint_validation": 10,
    "anomaly_sarima_validation": 10,
    "classifier_quality_documents": 100,
}


@pytest.mark.parametrize("name", ROWS_ONLY_QUERIES)
def test_rows_only_query_runs(spark, name):
    df = entry.queries()[name](spark, SF_DIR)
    floor = ROWS_ONLY_MIN.get(name, 1)
    assert df.count() >= floor, (
        f"{name}: rows-only query returned fewer than its structural"
        f" floor of {floor} rows"
    )


def test_rows_only_floors_cover_catalogue():
    """Every rows-only query carries an explicit floor — a new
    no-oracle query must declare its expected minimum here."""
    assert set(ROWS_ONLY_QUERIES) <= set(ROWS_ONLY_MIN)


def test_entry_smoke(spark):
    df = entry.entry(spark)
    assert df.count() > 0


def test_typed_gate_catches_uncast_oracle(spark, duck):
    """A deliberately uncast oracle (HUGEINT sum, timestamp date_trunc)
    must fail the typed-column check — the class of bug that made
    chi2_drift_events driver-red in round 5 while the value-only local
    gate stayed green."""
    sdf = spark.sql("SELECT CAST(1 AS BIGINT) AS n, DATE'2024-01-01' AS d")
    res = duck.sql(
        "SELECT sum(x) AS n, date_trunc('day', TIMESTAMP '2024-01-01') AS d"
        " FROM (SELECT 1 AS x) t"
    )
    s_typed = _typed_cols(
        sdf.columns, [f.dataType.simpleString() for f in sdf.schema.fields]
    )
    d_typed = _typed_cols(res.columns, res.types)
    assert s_typed != d_typed, "typed gate failed to flag HUGEINT/timestamp"


def test_gap_fill_oracle_observed_null_is_not_a_gap():
    """ORACLE_GAP_FILL must key is_gap on a JOIN MISS (s.entity IS NULL),
    matching fill_gaps' __present-marker semantics — an observed bucket
    whose metric value is genuinely NULL (Mean over an all-null day) is
    NOT a gap and must keep its null value, not be zero-filled (r6/r7
    advice: the old predicate s.value IS NULL diverged here)."""
    con = duckdb.connect()
    rows = con.sql(
        """
        WITH series AS (
          SELECT 'Column' AS entity, 'v' AS instance, 'Mean' AS name,
                 TIMESTAMP '2024-01-01' AS ts, NULL::DOUBLE AS value
          UNION ALL SELECT 'Dataset', '*', 'Size', TIMESTAMP '2024-01-01', 3.0
        ),
        grid AS (
          SELECT unnest(generate_series(TIMESTAMP '2024-01-01',
                                        TIMESTAMP '2024-01-02',
                                        INTERVAL '1 day')) AS ts
        ),
        keys AS (SELECT DISTINCT entity, instance, name FROM series),
        dense AS (SELECT g.ts, k.entity, k.instance, k.name FROM grid g CROSS JOIN keys k)
        SELECT d.ts::DATE AS ts, d.name,
               CASE WHEN s.entity IS NULL AND d.name = 'Size' THEN 0.0 ELSE s.value END AS value,
               (s.entity IS NULL) AS is_gap
        FROM dense d LEFT JOIN series s
          ON s.ts = d.ts AND s.entity = d.entity
         AND s.instance = d.instance AND s.name = d.name
        ORDER BY 1, 2
        """
    ).fetchall()
    by_key = {(str(r[0]), r[1]): (r[2], r[3]) for r in rows}
    # observed bucket with NULL Mean: NOT a gap, value stays null
    assert by_key[("2024-01-01", "Mean")] == (None, False)
    # observed Size keeps its value
    assert by_key[("2024-01-01", "Size")] == (3.0, False)
    # absent bucket: gap; Size zero-filled, Mean stays null
    assert by_key[("2024-01-02", "Size")] == (0.0, True)
    assert by_key[("2024-01-02", "Mean")] == (None, True)


def test_temperature_mix_oracle_null_lang_agrees_with_operator(spark):
    """ORACLE_TEMPERATURE_MIX must exclude NULL langs from the counts
    CTE exactly as the operator does (curation.temperature_mix drops
    NULL sources BEFORE the binding-scale min) — on a fixture where the
    NULL stratum has the SMALLEST count, an unfixed oracle would make
    NULL the binding source and silently thin the true scarcest stratum
    (r13 verdict nit #1, the HLL-gate defect class)."""
    import pandas as pd

    from thoth_spark.entry_queries import ORACLES
    from thoth_spark.operators import curation

    rows = (
        [(i, "big") for i in range(400)]
        + [(1000 + i, "small") for i in range(50)]
        + [(2000 + i, None) for i in range(10)]  # smallest count: would
        # set the binding scale if the oracle's counts CTE kept it
    )
    pdf = pd.DataFrame(rows, columns=["doc_id", "lang"])
    con = duckdb.connect()
    con.register("documents", pdf)
    oracle_rows = con.sql(ORACLES["temperature_mix_documents"]).fetchall()

    sdf = spark.createDataFrame(rows, "doc_id long, lang string")
    got = (
        curation.temperature_mix(sdf, source_col="lang", alpha=0.5)
        .select("doc_id", "lang", "mix_rate")
        .collect()
    )
    assert sorted(tuple(r) for r in got) == sorted(oracle_rows)
    # the true scarcest non-null stratum is kept whole
    kept_small = sum(1 for r in got if r["lang"] == "small")
    assert kept_small == 50


def test_type_lattice_widths():
    """Int widths and DECIMAL are distinct lattice points (r6/r7 advice:
    collapsing bigint/int -> 'int' and DECIMAL -> 'float' let the local
    gate pass type misalignments the driver's typed hash flags)."""
    assert _type_lattice("bigint") == _type_lattice("BIGINT") == "int64"
    assert _type_lattice("int") == _type_lattice("INTEGER") == "int32"
    assert _type_lattice("smallint") == "int16"
    assert _type_lattice("tinyint") == "int8"
    assert _type_lattice("bigint") != _type_lattice("int")
    assert _type_lattice("decimal(18,3)") == _type_lattice("DECIMAL(10,2)") == "decimal"
    assert _type_lattice("decimal(18,3)") != _type_lattice("double")
    assert _type_lattice("hugeint") not in ("int64", "int32")
    assert _type_lattice("interval") not in ("int64", "int32", "int16", "int8")
    assert _type_lattice("double") == _type_lattice("float") == "float"


def test_bench_contract():
    """bench.py must expose the driver-contract HEADLINE list and emit the
    expected JSON keys (run cheaply by monkeypatching the sf dir)."""
    import bench

    assert set(bench.HEADLINE) <= set(entry.queries())


def test_bench_compact_tail_fits_driver_capture():
    """The driver records only the last 2000 chars of bench stdout. The
    compact tail line must carry per-query walls AND the complete
    scaling-ratio list inside that budget even with worst-case 3-digit
    walls (r6/r7 BENCH artifacts lost the ratios to truncation)."""
    import json as _json

    import bench

    # pessimistic-but-plausible walls: every query at 9.9 s would be a
    # ~800 s bench (the real total is ~105 s, max single wall 4.4 s);
    # demand 100 chars of slack under the 2000-char capture so a few
    # genuine 2-digit outliers still fit
    # (ratios above 9.9 would mean a disqualifying super-linear operator
    # — the bench's whole point is keeping them ~<=5)
    timings = {n: 9.9 for n in bench.HEADLINE}
    ratios = {n: 9.9 for n in bench.HEADLINE}
    line = bench.compact_tail_line(
        9999.9, timings, 0.1, ratios, calibration=[9.999, 9.999, 9.999, 9.999]
    )
    assert len(line) + 100 <= 2000, f"tail line {len(line)} chars > capture budget"
    parsed = _json.loads(line)
    assert len(parsed["queries"]) == len(bench.HEADLINE)
    assert len(parsed["ratios"]) == len(bench.HEADLINE)
    assert all(r == 9.9 for r in parsed["ratios"])
    # short names stay collision-free over the real HEADLINE list
    assert len({bench._short(n) for n in bench.HEADLINE}) == len(bench.HEADLINE)


def test_bench_tail_collision_falls_back_to_full_names():
    """A future short-name collision must degrade to full names, never
    abort the bench run (r7 advice: the old assert zeroed the artifact)."""
    import json as _json

    import bench

    timings = {"dedup_exact_documents": 1.0, "dedup_exact_events": None}
    # force a collision by colliding the shortener
    orig = bench._short
    bench._short = lambda n: "dd_exact"
    try:
        line = bench.compact_tail_line(1.0, timings, 0.1, {})
    finally:
        bench._short = orig
    parsed = _json.loads(line)
    assert set(parsed["queries"]) == set(timings)
    assert parsed["ratios"] == [None, None]


def test_bench_contention_verdict_sees_slow_jvm():
    """r12 verdict watch item: the r12 bench regressed ~17% fleet-wide
    yet shipped ``contended: false`` because the sentinel keyed only on
    the cpu matmul (which was FASTER than idle) while ``spark_agg_s``
    rose 15%. cal_factor must now be the WORSE sentinel ratio, so a
    slower-JVM/IO environment can never ship undiscounted."""
    import bench

    idle = [bench.IDLE_CPU_MATMUL_S, bench.IDLE_SPARK_AGG_S] * 2
    assert bench.contention_verdict(idle) == (1.0, False)

    # r12's actual calibration: fast cpu, slow jvm -> factor > 1
    factor, contended = bench.contention_verdict([0.748, 0.406, 0.646, 0.268])
    assert factor > 1.1 and not contended  # discounted, below hard flag

    # jvm-only contention crosses the hard flag even with an idle cpu
    slow_jvm = [
        bench.IDLE_CPU_MATMUL_S,
        bench.IDLE_SPARK_AGG_S * 2.0,
    ] * 2
    factor, contended = bench.contention_verdict(slow_jvm)
    assert factor >= 2.0 and contended

    # cpu contention still flags exactly as before
    slow_cpu = [
        bench.IDLE_CPU_MATMUL_S * 2.0,
        bench.IDLE_SPARK_AGG_S,
    ] * 2
    factor, contended = bench.contention_verdict(slow_cpu)
    assert factor >= 2.0 and contended
