"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR plus the
extraction-pipeline docs/sec throughput on a deterministic synthetic pages
table. Prints ONE JSON line.

Env knobs:
  SPARK_GRAFT_SF_DIR   parquet dir (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS     local[N] cores (default 32)
  SPARK_GRAFT_PAGES    synthetic pages rows for the pipeline bench
                       (default 20000)
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time


def _install_stderr_trace_counter() -> list[int]:
    """Tee fd 2 through a pipe so JVM stack-trace lines can be COUNTED
    while still streaming live to the real stderr. The count lands in the
    bench JSON line as `stderr_trace_lines` — a green bench must report 0
    (the known-benign accumulator race is deny-filtered in
    arkhammirror_spark/conf/log4j2.properties; anything residual is a real
    problem the capture window must not hide)."""
    import threading

    real_err = os.dup(2)
    r, w = os.pipe()
    os.dup2(w, 2)
    os.close(w)
    count = [0]

    def _tee() -> None:
        buf = b""
        while True:
            try:
                chunk = os.read(r, 65536)
            except OSError:
                break
            if not chunk:
                break
            os.write(real_err, chunk)
            buf += chunk
            *lines, buf = buf.split(b"\n")
            count[0] += sum(1 for ln in lines if b"at org.apache.spark" in ln)

    threading.Thread(target=_tee, daemon=True).start()
    return count


def main() -> None:
    trace_lines = _install_stderr_trace_counter()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    n_pages = int(os.environ.get("SPARK_GRAFT_PAGES", "20000"))

    from arkhammirror_spark.session import get_spark

    spark = get_spark(
        "arkhammirror-bench", master=f"local[{cpus}]", shuffle_partitions=cpus
    )

    from arkhammirror_spark.contract import QUERIES
    from arkhammirror_spark.datagen import gen_pages_df
    from arkhammirror_spark.pipeline import run_pipeline

    timings: dict[str, float] = {}
    t_all = time.perf_counter()

    # headline throughput phases run FIRST (fresh JVM): after the 50-query
    # sweep the session carries accumulated localCheckpoint blocks and GC
    # pressure that inflate the pipeline wall 2x run-to-run
    cache_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)), "_cache")
    from arkhammirror_spark.datagen.pages import DATAGEN_VERSION
    pages_path = os.path.join(cache_dir, f"pages_{n_pages}_v{DATAGEN_VERSION}")
    if not os.path.exists(os.path.join(pages_path, "_SUCCESS")):
        gen_pages_df(spark, n_pages, seed=42).write.mode("overwrite").parquet(pages_path)
    pages = spark.read.parquet(pages_path)

    # compute-only extraction throughput (the BASELINE.md headline metric:
    # extract + mentions + edges + audit, no table writes). One untimed
    # warm-up run first: the first heavy codegen pass in a session pays
    # 2-8 s of JIT/codegen that a steady-state cluster never sees.
    from arkhammirror_spark.pipeline import run_extraction_stats

    run_extraction_stats(spark, pages.limit(2000), num_partitions=cpus)
    t0 = time.perf_counter()
    stats = run_extraction_stats(spark, pages, num_partitions=cpus * 2)
    stats_sec = time.perf_counter() - t0
    timings["extraction_stats"] = round(stats_sec, 3)
    extract_docs_per_sec = round(stats["docs"] / stats_sec, 1)

    # full pipeline with table writes (run-level atomic commit included)
    out_dir = os.path.join(cache_dir, "bench_out")
    shutil.rmtree(out_dir, ignore_errors=True)
    t0 = time.perf_counter()
    res = run_pipeline(spark, pages, out_dir=out_dir, num_partitions=cpus * 2)
    n_docs = res.tables["docs"].count()
    pipeline_sec = time.perf_counter() - t0
    timings["extraction_pipeline"] = round(pipeline_sec, 3)
    docs_per_sec = round(n_docs / pipeline_sec, 1)

    import gc

    for name, fn in QUERIES.items():
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        n = df.count()
        timings[name] = round(time.perf_counter() - t0, 3)
        print(f"# {name}: {n} rows in {timings[name]}s", file=sys.stderr)
        # drop the query's python references NOW so the ContextCleaner can
        # free its localCheckpoint blocks — without this the sweep
        # accumulates checkpoint RDDs + GC pressure that inflate LATER
        # queries 2-6x over their fresh-session wall (measured round 3)
        del df
        gc.collect()

    total = round(time.perf_counter() - t_all, 3)
    # The driver captures only the LAST ~1.9 KB of the line (BENCH_r04's
    # `tail` field cut the first four query entries), so the stdout line
    # reports CONTRACT-level timings: each part's wall summed into the
    # driver-contract entry that serves it (52 keys, ~1.5 KB, compact
    # separators). The full part-level timings land next to it in
    # BENCH/BENCH_parts_latest.json for auditing.
    from arkhammirror_spark.contract import MERGES, PROFILE_JOIN

    absorbed: dict[str, str] = {}
    for mname, (_, parts) in MERGES.items():
        for _, src, _ in parts:
            absorbed[src] = mname
    for src in PROFILE_JOIN[1]:
        absorbed[src] = PROFILE_JOIN[0]
    rolled: dict[str, float] = {}
    for k, v in timings.items():
        tgt = absorbed.get(k, k)
        rolled[tgt] = round(rolled.get(tgt, 0.0) + v, 2)

    parts_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "BENCH", "BENCH_parts_latest.json",
    )
    try:
        os.makedirs(os.path.dirname(parts_path), exist_ok=True)
        with open(parts_path, "w") as f:
            json.dump(
                {"sf": sf_dir.rstrip("/").split("sf")[-1], "cpus": cpus,
                 "total": total, "queries": timings},
                f, indent=1,
            )
    except OSError as exc:  # read-only checkout: stdout line still works
        print(f"# parts file not written: {exc}", file=sys.stderr)

    sys.stderr.flush()
    time.sleep(0.25)  # let the tee thread drain the last stderr chunk
    print(
        json.dumps(
            {
                "metric": "total_bench_wall",
                "value": total,
                "unit": "sec",
                "queries": rolled,
                "sf": sf_dir.rstrip("/").split("sf")[-1],
                "docs_per_sec": extract_docs_per_sec,
                "docs_per_sec_with_writes": docs_per_sec,
                "pipeline_docs": n_docs,
                "cpus": cpus,
                "stderr_trace_lines": trace_lines[0],
            },
            separators=(",", ":"),
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
