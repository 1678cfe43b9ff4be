"""Capture ``.explain("formatted")`` for headline queries.

Usage: python tools/capture_plans.py <out_dir> <suffix> [query ...]

Writes ``<out_dir>/<query>_<suffix>.txt`` for every requested query
(default: all of bench.HEADLINE). The plan is taken from the DataFrame
the query function returns — the exact frame the bench times through the
noop sink. Queries whose build runs eager work (index builds, streaming
foreachBatch replays, driver-bounded collects) pay that work here too;
the captured plan is still the final frame's.

Each plan is normalized before it is written (:func:`normalize`):
expression ids (``#123``), exchange plan ids and the random suffixes
of the temporary index directories change from run to run, so without
the rewrite two captures of the same code never diff clean. Lambda
variables (``lambda x_161``) are numbered by a process-wide pyspark
counter, so their numbers move whenever any earlier query builds one
lambda more or less; they are normalized too.
"""

from __future__ import annotations

import os
import re
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from thoth_spark.session import get_spark  # noqa: E402
from thoth_spark import entry_queries  # noqa: E402
import bench  # noqa: E402


def plan_string(df) -> str:
    jdf = df._jdf
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return jdf.queryExecution().explainString(mode)


_TMP_DIR = re.compile(re.escape(tempfile.gettempdir()) + r"/([A-Za-z_]*?_)[a-z0-9_]{8}\b")
_RUN_SPECIFIC = [
    (re.compile(r"#\d+"), "#"),  # expression ids
    (re.compile(r"plan_id=\d+"), "plan_id=N"),  # exchange ids
    (re.compile(r"(lambda [A-Za-z]+)_\d+"), r"\1_N"),  # lambda variable counters
    (_TMP_DIR, r"<tmp>/\1*"),  # mkdtemp index / staging directories
]


def normalize(text: str) -> str:
    """``text`` with every run-specific token replaced by a fixed one."""
    for pattern, repl in _RUN_SPECIFIC:
        text = pattern.sub(repl, text)
    return text


def main() -> None:
    out_dir = sys.argv[1] if len(sys.argv) > 1 else "plans/r16"
    suffix = sys.argv[2] if len(sys.argv) > 2 else "before"
    names = sys.argv[3:] or list(bench.HEADLINE)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(app_name="thoth-spark-plans")
    spark.sparkContext.setLogLevel("ERROR")
    failures = {}
    for name in names:
        try:
            df = entry_queries.QUERIES[name](spark, sf_dir)
            text = plan_string(df)
        except Exception as exc:  # keep going: one broken query, one gap
            failures[name] = f"{type(exc).__name__}: {exc}"[:300]
            continue
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as fh:
            fh.write(normalize(text))
        spark.catalog.clearCache()
    if failures:
        for n, e in failures.items():
            print(f"FAIL {n}: {e}")
        sys.exit(1)
    print(f"wrote {len(names)} plans to {out_dir} (*_{suffix}.txt)")


if __name__ == "__main__":
    main()
