#!/usr/bin/env python3
"""Regenerate the benchmark's expected outputs.

    python3 perfbench/make_expected.py --sf-dir <dir holding the sf0.01 parquet tables>

Writes, under perfbench/:
- golden/pipeline_seed42.json: per-url sha256 of extracted_text and of the
  sorted mention list, computed directly through reference_impl for the
  default-seed corpus, plus the exact row count of every pipeline table
  from one run_pipeline run;
- data/sf0.01/: byte copies of the tables the query mix reads;
- expected_queries.json: row count and sorted-row sha256 of every
  query_mix entry, from two passes in different orders (they must agree).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

import run as bench


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--sf-dir", required=True)
    args = p.parse_args()
    bench.prepare_environment()
    nproc = len(os.sched_getaffinity(0))
    spark = bench.start_session(nproc)
    from arkhammirror_spark.contract import build_contract
    from arkhammirror_spark.datagen.pages import DATAGEN_VERSION
    from arkhammirror_spark.shipping import ensure_shipped
    from pyspark.sql.readwriter import DataFrameReader

    ensure_shipped(spark)

    # pipeline goldens: with no golden file, set-up computes the digests
    # in-process and pins the table counts on its first full run
    golden = os.path.join(bench.BENCH_DIR, "golden",
                          f"pipeline_seed{bench.DEFAULT_SEED}.json")
    if os.path.exists(golden):
        os.remove(golden)
    wl = bench.PipelineFresh(bench.DEFAULT_SEED, nproc)
    wl.setup(spark)
    res = wl.run_once()
    if not res["ok"]:
        print(f"pipeline check failed: {res['errors']}", file=sys.stderr)
        return 1
    counts = {k: v for k, v in res["counts"].items() if k != "audit"}
    os.makedirs(os.path.dirname(golden), exist_ok=True)
    with open(golden, "w") as fh:
        json.dump({"seed": bench.DEFAULT_SEED, "n_pages": bench.N_PAGES,
                   "datagen_version": DATAGEN_VERSION, "counts": counts,
                   "urls": {u: list(v) for u, v in sorted(wl.expected.items())}},
                  fh, indent=0, sort_keys=True)
    print("pipeline counts", counts)

    # query mix: record which tables it reads, then copy them
    read_paths: set[str] = set()
    orig = DataFrameReader.parquet

    def recording(self, *paths, **kw):
        read_paths.update(paths)
        return orig(self, *paths, **kw)

    DataFrameReader.parquet = recording
    contract, _ = build_contract()
    passes = []
    for order in (bench.QUERY_MIX, tuple(reversed(bench.QUERY_MIX))):
        out = {}
        for name in order:
            rows = contract[name](spark, args.sf_dir).collect()
            out[name] = {"rows": len(rows), "sha256": bench.rows_digest(rows)}
        passes.append(out)
    DataFrameReader.parquet = orig
    if passes[0] != passes[1]:
        print("query results differ between passes", file=sys.stderr)
        return 1
    os.makedirs(bench.QUERY_DATA, exist_ok=True)
    for path in sorted(read_paths):
        shutil.copyfile(path, os.path.join(bench.QUERY_DATA,
                                           os.path.basename(path)))
    with open(os.path.join(bench.BENCH_DIR, "expected_queries.json"), "w") as fh:
        json.dump({"data": "data/sf0.01", "entries": passes[0]}, fh,
                  indent=1, sort_keys=True)
    print("queries", passes[0], "tables", sorted(read_paths))
    spark.stop()
    bench.stop_jvm()
    shutil.rmtree(bench.WORK, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
