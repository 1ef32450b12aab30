#!/usr/bin/env python3
"""End-to-end and per-layer benchmark of arkhammirror_spark.

Run from the root of a checkout:

    python3 perfbench/run.py --workload pipeline_fresh --seed 1 --seconds 10 --trace 0

One process drives one workload as a closed loop on ``local[nproc]``: it
sets up (JVM, session, package shipping, inputs, warm-up), then repeats the
workload's operation until ``--seconds`` have passed, checking every output.
The last line of stdout is one JSON object; with ``--trace 0`` it carries
the end-to-end metrics, with ``--trace 1`` the per-layer metrics of a
separate traced phase (Spark event log + spans around layer calls).
Workloads, metrics and the layer map are documented in perfbench/README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import hashlib
import json
import os
import random
import shutil
import signal
import statistics
import sys
import threading
import time
import traceback

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORK = os.path.join(BENCH_DIR, "_work")
OUT = os.path.join(BENCH_DIR, "_out")

DEFAULT_SEED = 42
# see README.md "Input size" for the measurement behind this choice
N_PAGES = 1000
PIPELINE_TABLES = ("docs", "mentions", "dates", "rels", "chunks", "claims",
                   "entities", "edges", "audit")
SPAN_TABLES = ("mentions", "dates", "rels", "chunks", "claims")
PAGE_KINDS = ("html", "pdf", "text", "eml", "csv", "docx", "xlsx")
TEXT_FUNCS = ("normalize_text", "detect_language", "assess_quality", "mock_ner")
COMMON_LAYERS = ("session.", "shipping.", "spark.", "trace.")
QUERY_DATA = os.path.join(BENCH_DIR, "data", "sf0.01")
# contract entries of query_mix, see README.md for why these
QUERY_MIX = ("comention_edges", "entities", "date_extractions",
             "bm25_search")


def run_span(tracer, name: str):
    return tracer.run_span(name) if tracer else contextlib.nullcontext()


def span(tracer, name: str):
    return tracer.span(name) if tracer else contextlib.nullcontext()


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sha256(text: str) -> str:
    return hashlib.sha256(text.encode("utf-8")).hexdigest()


def mention_digest(mentions) -> str:
    rows = sorted((m["text"], m["entity_type"], int(m["start_char"]),
                   int(m["end_char"]), float(m["confidence"]))
                  for m in mentions)
    return sha256(json.dumps(rows, ensure_ascii=False))


def rows_digest(rows) -> str:
    """Order-free hash of a query result: its rows as sorted str tuples."""
    lines = sorted("\x1f".join(str(v) for v in r) for r in rows)
    return sha256("\n".join(lines))


def tree_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(r, f))
               for r, _d, files in os.walk(path) for f in files)


def median(values):
    return statistics.median(values) if values else 0.0


def host_steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs
    (/proc/stat); a diagnostic for walls that move with host load."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


# --- process tree: peak RSS and shutdown -------------------------------------


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def process_tree(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def _exe(pid: int) -> str:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return ""


class RssSampler(threading.Thread):
    """Samples the summed VmRSS of this process and every descendant (JVM,
    Python daemons and workers); ``take_peak`` returns the largest sampled
    sum since its last call. A JVM child caught between fork and exec (the
    JVM starting a Python daemon) still maps the JVM's pages and is not
    counted."""

    def __init__(self, interval: float = 0.1):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak_kb = 0
        self._lock = threading.Lock()
        self._halt = threading.Event()

    def sample(self) -> None:
        total = 0
        kids = _children_map()
        todo = [(os.getpid(), "")]
        while todo:
            pid, parent_exe = todo.pop()
            exe = _exe(pid)
            todo.extend((k, exe) for k in kids.get(pid, []))
            if exe == parent_exe and os.path.basename(exe) == "java":
                continue
            try:
                with open(f"/proc/{pid}/status") as fh:
                    for line in fh:
                        if line.startswith("VmRSS:"):
                            total += int(line.split()[1])
                            break
            except OSError:
                pass
        with self._lock:
            self.peak_kb = max(self.peak_kb, total)

    def run(self) -> None:
        while not self._halt.wait(self.interval):
            self.sample()

    def take_peak(self) -> float:
        """Peak in MB since the last call; starts the next interval."""
        self.sample()
        with self._lock:
            peak, self.peak_kb = self.peak_kb, 0
        return peak / 1024.0

    def stop(self) -> None:
        self._halt.set()
        self.join(timeout=10)


def stop_jvm() -> None:
    """Stop the py4j gateway JVM and wait until it and every process it
    started (Python daemon and workers) has exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    pids = [p for p in process_tree(os.getpid()) if p != os.getpid()]
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # the JVM may already be gone; the wait below decides
        pass
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.time() + 30
    while pids and time.time() < deadline:
        pids = [p for p in pids if os.path.exists(f"/proc/{p}")
                and not _is_zombie(p)]
        time.sleep(0.1)
    for p in pids:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass


def _is_zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True


# --- session ---------------------------------------------------------------


def start_session(nproc: int, event_log_dir: str | None = None):
    from arkhammirror_spark.session import get_spark

    extra = {
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.memory": "2g",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        extra.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.dir": "file://" + event_log_dir,
        })
    return get_spark("perfbench", master=f"local[{nproc}]",
                     shuffle_partitions=nproc, extra=extra)


# --- workloads -------------------------------------------------------------


class PipelineFresh:
    """run_pipeline into an empty catalog over a datagen corpus."""

    name = "pipeline_fresh"
    # per-layer metric prefixes this workload must report
    layers = COMMON_LAYERS + ("pipeline.", "extract.", "reference_impl.",
                              "spans.", "entities.", "edges.", "catalog.")
    # full, checked runs before measuring: in a new JVM the first run takes
    # ~2.7x and the second ~1.25x the settled wall (README.md "Set-up")
    warmup_ops = 2

    def __init__(self, seed: int, nproc: int):
        self.seed = seed
        self.nproc = nproc
        self.input_path = os.path.join(WORK, "pages")
        self.notes: list[str] = []

    def setup(self, spark) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

        from arkhammirror_spark.datagen.pages import gen_pages_pandas
        from arkhammirror_spark.schemas import PAGES_SCHEMA

        self.spark = spark
        t0 = time.perf_counter()
        self.pdf = gen_pages_pandas(N_PAGES, seed=self.seed)
        # written with pyarrow, not Spark: Spark reads back the same rows
        # and schema, without a ~5 s cold Spark job in set-up
        schema = to_arrow_schema(PAGES_SCHEMA)
        os.makedirs(self.input_path)
        pq.write_table(pa.Table.from_pandas(self.pdf[schema.names], schema=schema,
                                            preserve_index=False),
                       os.path.join(self.input_path, "pages.parquet"))
        self.input_bytes = tree_bytes(self.input_path)
        self.pages = spark.read.parquet(self.input_path)
        self.load_expected()
        log(f"input + expected outputs {time.perf_counter() - t0:.2f}s")

    def load_expected(self) -> None:
        golden_path = os.path.join(BENCH_DIR, "golden",
                                   f"pipeline_seed{self.seed}.json")
        if os.path.exists(golden_path):
            with open(golden_path) as fh:
                golden = json.load(fh)
            if golden["n_pages"] != N_PAGES:
                raise ValueError(f"{golden_path} is for {golden['n_pages']} pages")
            self.expected = {u: tuple(v) for u, v in golden["urls"].items()}
            self.expected_counts = golden["counts"]
            self.notes.append("expected digests and row counts: "
                              f"perfbench/golden/{os.path.basename(golden_path)}")
        else:
            self.expected = reference_digests(self.pdf)
            self.expected_counts = {
                "docs": N_PAGES,
                "quarantined": sum(1 for v in self.expected.values() if v[2]),
            }
            self.notes.append(
                f"seed {self.seed} has no stored goldens: expected digests "
                "computed in-process from reference_impl during set-up; "
                "counts of derived tables are pinned by the first full run")

    # one operation
    def run_once(self, tracer=None) -> dict:
        """One run into an empty catalog, timed from the call through
        commit_run and reading back the committed docs count."""
        from arkhammirror_spark.pipeline import run_pipeline

        out_dir = os.path.join(WORK, "catalog")
        shutil.rmtree(out_dir, ignore_errors=True)
        t0 = time.perf_counter()
        with run_span(tracer, "pipeline.run"):
            res = run_pipeline(self.spark, self.pages, out_dir=out_dir,
                               num_partitions=self.nproc)
            n_docs = res.tables["docs"].count()
        wall = time.perf_counter() - t0
        out = self.check(out_dir, n_docs)
        out["wall"] = wall
        shutil.rmtree(out_dir, ignore_errors=True)
        return out

    def check(self, out_dir: str, n_docs: int) -> dict:
        """Compare the committed catalog with the expected digests and row
        counts, reading the parquet files directly (no Spark job)."""
        import pyarrow.dataset as ds

        errors: list[str] = []
        runs = [n for n in os.listdir(os.path.join(out_dir, "_runs"))
                if n.endswith(".json")]
        if len(runs) != 1:
            errors.append(f"{len(runs)} committed runs, expected 1")
        run_id = runs[0][:-len(".json")]
        snap = {t: os.path.join(out_dir, t, f"snapshot={run_id}")
                for t in PIPELINE_TABLES}
        counts = {t: ds.dataset(p, format="parquet").count_rows()
                  for t, p in snap.items()}
        table_bytes = {t: tree_bytes(p) for t, p in snap.items()}
        docs = ds.dataset(snap["docs"], format="parquet").to_table(
            columns=["url", "extracted_text", "error"]).to_pydict()
        ments = ds.dataset(snap["mentions"], format="parquet").to_table(
            columns=["url", "text", "entity_type", "start_char", "end_char",
                     "confidence"]).to_pylist()
        by_url: dict[str, list] = {}
        for m in ments:
            by_url.setdefault(m["url"], []).append(m)
        counts["quarantined"] = sum(e is not None for e in docs["error"])
        identical = 0
        for url, text in zip(docs["url"], docs["extracted_text"]):
            exp = self.expected.get(url)
            if exp and exp[0] == sha256(text or "") and \
                    exp[1] == mention_digest(by_url.get(url, [])):
                identical += 1
        identity = identical / len(self.expected)
        if identity != 1.0:
            errors.append(f"text identity {identity:.4f}")
        if n_docs != N_PAGES:
            errors.append(f"read back {n_docs} docs, expected {N_PAGES}")
        if not self.expected_counts.keys() - {"docs", "quarantined"}:
            # other seeds: pin the derived-table counts on the first run
            for t in PIPELINE_TABLES:
                if t != "audit":
                    self.expected_counts.setdefault(t, counts[t])
        for t, n in self.expected_counts.items():
            if counts.get(t) != n:
                errors.append(f"{t}: {counts.get(t)} rows, expected {n}")
        audit = ds.dataset(snap["audit"], format="parquet").to_table(
            columns=["input_rows", "error_rows"]).to_pydict()
        if sum(audit["input_rows"]) != N_PAGES or \
                sum(audit["error_rows"]) != counts["quarantined"]:
            errors.append("audit totals disagree with docs")
        added = tree_bytes(out_dir)
        if errors:
            log(f"check failed: {errors}")
        return {"ok": not errors, "errors": errors, "identity": identity,
                "stored_bytes": added, "counts": counts,
                "table_bytes": table_bytes}

    # tracing hooks
    def install_spans(self, tracer) -> None:
        from pyspark.sql.readwriter import DataFrameWriter

        from arkhammirror_spark.catalog import ParquetSnapshotCatalog as C

        tracer.wrap(C, "write_snapshot",
                    lambda self_, df, table, *a, **k: f"catalog.write.{table}")
        tracer.wrap(C, "read_table", lambda *a, **k: "catalog.read_table")
        tracer.wrap(C, "read_table_latest",
                    lambda *a, **k: "catalog.read_table")
        tracer.wrap(C, "commit_run", lambda *a, **k: "catalog.commit_run")
        tracer.wrap(DataFrameWriter, "parquet", lambda *a, **k: "write_files")

    def layer_metrics(self, attr, rid: int, res: dict) -> dict:
        from layers import is_python_stage, stage_sums

        m: dict[str, float] = {}
        writes = {attr.spans[c]["name"][len("catalog.write."):]: c
                  for c in attr.children[rid]
                  if attr.spans[c]["name"].startswith("catalog.write.")}
        files = {t: attr.named_children(sid, "write_files")[0]["id"]
                 for t, sid in writes.items()}
        docs_stages = attr.stages_of(attr.jobs_under(files["docs"]))
        part = stage_sums([s for s in docs_stages if not is_python_stage(s)
                           and any(t["shuffle_write"] for t in s["tasks"])])
        ext = stage_sums([s for s in docs_stages if is_python_stage(s)])
        m["pipeline.partition.shuffle_write_bytes"] = part["shuffle_bytes"]
        m["pipeline.partition.task_skew"] = part["task_skew"]
        m["pipeline.audit.wall_s"] = attr.wall(files["audit"])
        m.update({
            "extract.wall_s": ext["wall_s"],
            "extract.cpu_s": ext["cpu_s"],
            "extract.python_init_s": ext["python_init_s"],
            "extract.python_run_s": ext["python_run_s"],
            "extract.arrow_bytes_to_python": ext["arrow_to_python"],
            "extract.arrow_bytes_from_python": ext["arrow_from_python"],
            "extract.task_skew": ext["task_skew"],
            "extract.quarantined_rows": res["counts"]["quarantined"],
        })
        for t in SPAN_TABLES:
            m[f"spans.{t}.wall_s"] = attr.wall(files[t])
            m[f"spans.{t}.python_run_s"] = \
                attr.sums_under(files[t])["python_run_s"]
        for t in ("entities", "edges"):
            m[f"{t}.wall_s"] = attr.wall(files[t])
            m[f"{t}.shuffle_bytes"] = attr.sums_under(files[t])["shuffle_bytes"]
        for t, sid in writes.items():
            m[f"catalog.write.{t}.wall_s"] = attr.wall(sid)
            m[f"catalog.write.{t}.bytes"] = res["table_bytes"][t]
        m["catalog.write.jobs"] = sum(len(attr.jobs_under(s))
                                      for s in writes.values())
        m["catalog.read_table.wall_s"] = sum(
            attr.wall(s["id"]) for s in attr.named_children(rid, "catalog.read_table"))
        m["catalog.commit_run.wall_s"] = sum(
            attr.wall(s["id"]) for s in attr.named_children(rid, "catalog.commit_run"))
        m["catalog.stored_bytes_per_input_byte"] = \
            res["stored_bytes"] / self.input_bytes
        m["pipeline.run.self_s"] = attr.self_time(rid)
        return m

    def reference_inputs(self):
        return {k: g for k, g in self.pdf.groupby("kind")}, None

    def summary(self, results) -> dict:
        checked = [r for r in results if "identity" in r]
        wall = median([r["wall"] for r in results if r["ok"]])
        return {
            "docs_per_s": N_PAGES / wall if wall else 0.0,
            "stored_bytes_per_input_byte": median(
                [r["stored_bytes"] for r in checked]) / self.input_bytes,
            "text_identity_rate": min((r["identity"] for r in checked),
                                      default=0.0),
            "input_pages": N_PAGES,
            "input_bytes": self.input_bytes,
        }


class QueryMix:
    """A fixed list of contract entries, each collected to the driver and
    checked, in an order drawn from the seed."""

    name = "query_mix"
    layers = COMMON_LAYERS + ("query.",) + tuple(
        f"reference_impl.{f}." for f in TEXT_FUNCS)
    # passes 1-3 take ~5.7x, ~1.9x and ~1.4x the settled wall
    warmup_ops = 3

    def __init__(self, seed: int, nproc: int):
        self.seed = seed
        self.order = list(QUERY_MIX)
        random.Random(seed).shuffle(self.order)
        self.notes = [f"entry order: {', '.join(self.order)}"]

    def setup(self, spark) -> None:
        from arkhammirror_spark.contract import build_contract

        self.spark = spark
        self.contract, _ = build_contract()
        with open(os.path.join(BENCH_DIR, "expected_queries.json")) as fh:
            self.expected = json.load(fh)["entries"]

    def run_once(self, tracer=None) -> dict:
        """One pass over the mix; each entry is timed through its collect()
        and then checked against its row count and sorted-row hash."""
        walls, errors = {}, []
        with run_span(tracer, "query.mix"):
            for name in self.order:
                t0 = time.perf_counter()
                try:
                    with span(tracer, f"query.{name}"):
                        rows = self.contract[name](self.spark, QUERY_DATA).collect()
                    walls[name] = time.perf_counter() - t0
                    exp, got = self.expected[name], rows_digest(rows)
                    if len(rows) != exp["rows"] or got != exp["sha256"]:
                        errors.append(f"{name}: {len(rows)} rows, digest "
                                      f"{got[:12]} != expected")
                    del rows
                except Exception as exc:  # counted in failed, the mix goes on
                    walls[name] = time.perf_counter() - t0
                    errors.append(f"{name}: {type(exc).__name__}: {exc}")
                gc.collect()
        return {"ok": not errors, "errors": errors,
                "wall": sum(walls.values()), "walls": walls,
                "ops": len(self.order), "failed_ops": len(errors)}

    def install_spans(self, tracer) -> None:
        pass  # run_once opens one span per entry

    def layer_metrics(self, attr, rid: int, res: dict) -> dict:
        m: dict[str, float] = {}
        init = shuffle = 0.0
        for name in QUERY_MIX:
            sid = attr.named_children(rid, f"query.{name}")[0]["id"]
            sums = attr.sums_under(sid)
            m[f"query.{name}.wall_s"] = attr.wall(sid)
            m[f"query.{name}.jobs"] = len(attr.jobs_under(sid))
            init += sums["python_init_s"]
            shuffle += sums["shuffle_bytes"]
        m["query.python_init_s"] = init
        m["query.shuffle_bytes"] = shuffle
        return m

    def reference_inputs(self):
        import pyarrow.parquet as pq

        texts = pq.read_table(os.path.join(QUERY_DATA, "documents.parquet"),
                              columns=["text"]).column("text").to_pylist()
        return {}, [t for t in texts if t][:200]

    def summary(self, results) -> dict:
        return {"entry_wall_s": {n: median([r["walls"][n] for r in results
                                            if "walls" in r])
                                 for n in self.order}}


WORKLOADS = {w.name: w for w in (PipelineFresh, QueryMix)}


# --- reference_impl timings (single process, no Spark) ----------------------


def reference_digests(pdf) -> dict[str, tuple[str, str, bool]]:
    """Per-url (sha256 of extracted_text, sha256 of the sorted mentions,
    quarantined) computed directly through reference_impl."""
    from arkhammirror_spark.operators.extract import extract_one
    from arkhammirror_spark.reference_impl.ner import mock_ner

    out = {}
    for url, html, text, kind in zip(pdf["url"], pdf["html"], pdf["text"],
                                     pdf["kind"]):
        rec = extract_one(bytes(html) if html is not None else None, text, kind)
        bad = rec["error"] is not None
        ments = [] if bad else mock_ner(rec["extracted_text"])
        out[url] = (sha256(rec["extracted_text"]), mention_digest(ments), bad)
    return out


def _us_per_call(fn, items, min_s: float = 0.05) -> float:
    n, t0 = 0, time.perf_counter()
    while True:
        for it in items:
            fn(it)
        n += len(items)
        dt = time.perf_counter() - t0
        if dt >= min_s:
            return dt / n * 1e6


def reference_timings(by_kind, texts) -> dict:
    from arkhammirror_spark.operators.extract import extract_one
    from arkhammirror_spark.reference_impl.ner import mock_ner
    from arkhammirror_spark.reference_impl.normalize import (
        assess_quality, detect_language, normalize_text)

    m = {}
    sample_texts = []
    for kind in PAGE_KINDS:
        key = f"reference_impl.extract_one.{kind}.us_per_doc"
        g = by_kind.get(kind)
        if g is None or not len(g):
            continue
        rows = [(bytes(h) if h is not None else None, t, k) for h, t, k in
                zip(g["html"].iloc[:30], g["text"].iloc[:30],
                    g["kind"].iloc[:30])]
        m[key] = _us_per_call(lambda r: extract_one(*r), rows)
        sample_texts += [extract_one(*r)["extracted_text"] for r in rows]
    texts = texts if texts is not None else [t for t in sample_texts if t]
    fns = dict(normalize_text=normalize_text, detect_language=detect_language,
               assess_quality=assess_quality, mock_ner=mock_ner)
    for name in TEXT_FUNCS:
        m[f"reference_impl.{name}.us_per_doc"] = _us_per_call(fns[name], texts)
    return m


# --- metrics ------------------------------------------------------------------


def per_layer_spec() -> list[dict]:
    """The per-layer metrics (name, unit) BENCHMARK.json lists."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)["per_layer"]


def per_layer_metrics(wl, layers: dict) -> dict:
    """Every listed per-layer metric; 0 for a layer the workload does not
    run. A listed metric of a layer it runs must have been computed."""
    spec = per_layer_spec()
    missing = [p["name"] for p in spec if p["name"] not in layers
               and p["name"].startswith(wl.layers)]
    if missing:
        raise KeyError(f"{wl.name}: per-layer metrics not computed: {missing}")
    return {p["name"]: {"value": float(layers.get(p["name"], 0.0)),
                        "unit": p["unit"]} for p in spec}


# --- main ---------------------------------------------------------------------


def run_checked(op) -> dict:
    """One operation; one that raises counts as failed, the loop goes on."""
    try:
        res = op()
    except Exception as exc:
        traceback.print_exc()
        res = {"ok": False, "errors": [f"{type(exc).__name__}: {exc}"],
               "wall": None}
    if res["errors"]:
        log(f"operation failed: {res['errors']}")
    return res


def measure(op, seconds: float, sampler: RssSampler) -> list[dict]:
    """Closed loop: start the next operation only after the previous one
    has ended, and as long as ``seconds`` have not passed. Each result
    carries the peak RSS sampled while it ran."""
    results: list[dict] = []
    start = time.perf_counter()
    while not results or time.perf_counter() - start < seconds:
        sampler.take_peak()
        res = run_checked(op)
        res["peak_rss_mb"] = sampler.take_peak()
        results.append(res)
    return results


def attempted_failed(results) -> tuple[int, int]:
    attempted = sum(r.get("ops", 1) for r in results)
    failed = sum(r.get("failed_ops", 0 if r["ok"] else 1) for r in results)
    return attempted, failed


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, default=DEFAULT_SEED)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_environment() -> None:
    """Keep every file Spark, the JVM and Python write inside the checkout."""
    shutil.rmtree(WORK, ignore_errors=True)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    for key in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[key]
    sys.path.insert(0, ROOT)


def main(argv=None) -> int:
    args = parse_args(argv)
    t_start = time.perf_counter()
    if not os.path.isdir(os.path.join(ROOT, "arkhammirror_spark")):
        log(f"no arkhammirror_spark package under {ROOT}")
        return 2
    prepare_environment()
    sampler = RssSampler()
    sampler.start()
    nproc = len(os.sched_getaffinity(0))
    wl = WORKLOADS[args.workload](args.seed, nproc)

    t0 = time.perf_counter()
    spark = start_session(nproc)
    get_spark_s = time.perf_counter() - t0
    log(f"get_spark {get_spark_s:.2f}s")
    from arkhammirror_spark.shipping import ensure_shipped

    t0 = time.perf_counter()
    ensure_shipped(spark)
    ensure_shipped_s = time.perf_counter() - t0
    wl.setup(spark)
    warm = []
    for i in range(wl.warmup_ops):
        warm.append(run_checked(wl.run_once))
        log(f"warm-up {i + 1}: {warm[-1]['wall'] or 0:.2f}s")
    setup_s = time.perf_counter() - t_start
    log(f"{wl.name}: set-up {setup_s:.2f}s, measuring {args.seconds:g}s")

    steal0 = host_steal_s()
    results = measure(wl.run_once, args.seconds, sampler)
    steal_s = host_steal_s() - steal0
    walls = [r["wall"] for r in results if r["ok"]]
    attempted, failed = attempted_failed(warm + results)
    log(f"{wl.name}: {len(results)} runs, walls "
        + ", ".join(f"{w:.3f}" for w in walls))

    if args.trace:
        layers = traced_phase(spark, wl, nproc, walls)
        layers["session.get_spark_s"] = get_spark_s
        layers["shipping.ensure_shipped_s"] = ensure_shipped_s
        attempted += layers.pop("_attempted")
        failed += layers.pop("_failed")
    else:
        spark.stop()
    stop_jvm()
    sampler.stop()

    summary = {
        "workload": wl.name, "seed": args.seed, "nproc": nproc,
        "samples": len(walls), "run_wall_s_all": walls,
        "host_steal_s": steal_s,
        "error_rate": failed / attempted, **wl.summary(results),
        "notes": wl.notes,
    }
    print("summary " + json.dumps(summary), flush=True)
    if args.trace:
        metrics = per_layer_metrics(wl, layers)
    else:
        metrics = {
            "run_wall_s": {"value": median(walls) if walls else 0.0, "unit": "s"},
            "setup_s": {"value": setup_s, "unit": "s"},
            "peak_rss_mb": {"value": median([r["peak_rss_mb"] for r in results]),
                            "unit": "MB"},
        }
    shutil.rmtree(WORK, ignore_errors=True)
    correct = failed == 0 and bool(walls)
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}), flush=True)
    return 0


def span_table(attr) -> dict:
    """Per span name: count, wall, self time, and the executor and
    Python-boundary totals of the jobs started directly inside it."""
    from layers import stage_sums

    table: dict[str, dict] = {}
    for sid, sp in attr.spans.items():
        row = stage_sums(attr.stages_of(attr.self_jobs[sid]))
        row["stage_wall_s"] = row.pop("wall_s")
        row.update(spans=1, wall_s=attr.wall(sid),
                   self_s=attr.self_time(sid), jobs=len(attr.self_jobs[sid]))
        prev = table.get(sp["name"])
        if prev:
            skew = max(prev["task_skew"], row["task_skew"])
            row = {k: prev[k] + v for k, v in row.items()}
            row["task_skew"] = skew
        table[sp["name"]] = row
    return table


def traced_phase(spark, wl, nproc: int, untraced_walls) -> dict:
    """Restart the SparkContext (same JVM) with the event log on, record
    spans around the layer calls of one operation, and attribute the logged
    jobs, stages and tasks to those spans."""
    from arkhammirror_spark.shipping import ensure_shipped
    from layers import Attribution, Tracer, read_event_log

    spark.stop()
    ev_dir = os.path.join(WORK, "eventlog")
    spark = start_session(nproc, event_log_dir=ev_dir)
    ensure_shipped(spark)
    wl.spark = spark
    if hasattr(wl, "pages"):
        wl.pages = spark.read.parquet(wl.input_path)
    # new context: warm the Python workers again, untraced
    warm = run_checked(wl.run_once)
    tracer = Tracer(spark)
    wl.install_spans(tracer)
    res = wl.run_once(tracer)
    tracer.unwrap_all()
    rid = next(s["id"] for s in tracer.spans if s["parent"] is None)
    spark.stop()  # flushes the event log
    log_data = read_event_log(ev_dir)
    attr = Attribution(log_data, tracer.spans)
    m = wl.layer_metrics(attr, rid, res)
    wide = attr.spark_wide(rid)
    m.update({
        "spark.executor_run_s": wide["total"]["run_s"],
        "spark.executor_cpu_s": wide["total"]["cpu_s"],
        "spark.gc_s": wide["total"]["gc_s"],
        "spark.spill_bytes": wide["total"]["spill_bytes"],
        "spark.unattributed_share": wide["unattributed_share"],
        "trace.overhead_s": res["wall"] - median(untraced_walls),
    })
    by_kind, texts = wl.reference_inputs()
    m.update(reference_timings(by_kind, texts))
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, f"trace_{wl.name}.json"), "w") as fh:
        json.dump({"spans": tracer.spans, "layers": span_table(attr),
                   "metrics": m}, fh, indent=1)
    m["_attempted"], m["_failed"] = attempted_failed([warm, res])
    return m


if __name__ == "__main__":
    sys.exit(main())
