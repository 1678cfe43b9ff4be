"""Print one ``<query> <sha256>`` line per entry query.

Usage: python tools/result_digest.py <sf_dir> [query ...]

The digest is the sha256 of the query's result rows, each rendered with
``repr`` (floats print their shortest round-trip form, so two digests
agree only when every value is bit-identical), sorted, one per line.
Default: every ``entry_queries.QUERIES`` entry in registration order.
Comparing two trees is one ``diff`` of their outputs:

    python tools/result_digest.py /data/sf0.01 q1 q2 > after.txt
    diff before.txt after.txt

A query that raises prints ``<query> ERROR <exception>`` and the script
exits 1 after the rest have run.
"""

from __future__ import annotations

import hashlib
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from thoth_spark import entry_queries  # noqa: E402
from thoth_spark.session import get_spark  # noqa: E402


def digest(rows) -> str:
    """sha256 over the sorted ``repr`` of each row."""
    h = hashlib.sha256()
    for line in sorted(repr(tuple(r)) for r in rows):
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def main() -> None:
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    sf_dir = sys.argv[1]
    names = sys.argv[2:] or list(entry_queries.QUERIES)
    spark = get_spark(app_name="thoth-spark-digest")
    spark.sparkContext.setLogLevel("ERROR")
    failed = False
    for name in names:
        try:
            rows = entry_queries.QUERIES[name](spark, sf_dir).collect()
            print(f"{name} {digest(rows)}", flush=True)
        except Exception as exc:  # keep going: one broken query, one line
            failed = True
            print(f"{name} ERROR {type(exc).__name__}: {exc}"[:300], flush=True)
        spark.catalog.clearCache()
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
