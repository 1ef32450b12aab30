"""Regenerate the constant VALUES oracles for the fixture-driven driver
entries (format_extracts, archive_members).

The fixtures are deterministic bytes (pinned zip DOS epoch, gzip mtime=0),
so these hashes only change when an extractor's output legitimately changes
— rerun this and paste the rows into queries_ext2.py when that happens.

Usage: python scripts/fixture_hashes.py
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from arkhammirror_spark.contract import QUERIES
    from arkhammirror_spark.session import get_spark

    spark = get_spark(
        "fixture-hashes",
        master="local[4]",
        extra={
            "spark.sql.ansi.enabled": "true",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    for name in ("format_extracts", "archive_members"):
        print(f"# {name}")
        for row in sorted(map(tuple, QUERIES[name](spark, "").collect())):
            print("    " + repr(row) + ",")
    spark.stop()


if __name__ == "__main__":
    main()
