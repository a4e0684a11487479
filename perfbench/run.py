#!/usr/bin/env python3
"""Benchmark of the distributions ETL engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. One process, Spark at ``local[nproc]``,
one closed-loop client running one operation at a time. Workloads are
described in ``workloads.py``; inputs come from the seeded generator in
``gen.py`` and are cached under ``.bench_build/perfbench/inputs``.

A run:

1. generates (or reuses) the workload's inputs for ``--seed``; the
   generation time is logged, never measured;
2. sets up five times (session start, catalog load, one scan of every
   table) and keeps the last session; ``setup_s`` is the median;
3. runs one checked pass: every operation once, its result compared
   with its DuckDB twin (computed meanwhile in a child process);
4. runs whole passes of the workload, at least three and until
   ``--seconds`` have elapsed, and reports from each op's fastest
   timed run; with ``--trace 1`` it runs as many passes again with
   every layer wrapped in spans, for the per-layer metrics and the
   tracing overhead.

Stdout carries one ``name value unit`` line per metric and, last, one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``. Spark's
own output goes to ``.bench_build/perfbench/run/spark.log``; with
``--trace 1`` the spans go to ``.bench_build/perfbench/run/spans.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import pickle
import random
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
PACKAGE = "openlmis_distributions_etl_spark"
SETUPS = 5
# Every op runs at least this often in the timed region; the metrics
# use each op's fastest run, which leaves out bursts of contention from
# other tenants of a shared host.
MIN_PASSES = 3

# Layers whose spans carry Spark counters in the traced run; the
# registry layer's job count is reported as registry.build_jobs.
SPARK_LAYERS = ("registry", "operators.relational", "operators.windows",
                "operators.analytics", "operators.dedup", "operators.text",
                "operators.similarity", "sources.sinks", "streaming",
                "plans.incremental", "sources.versioned")
EXEC_LAYERS = ("operators.relational", "operators.windows",
               "operators.analytics", "operators.dedup", "operators.text",
               "operators.similarity", "plans.curation")


def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


class Run:
    """State of one benchmark process: paths, session, tracer, inputs."""

    def __init__(self, args, work: Path):
        from openlmis_distributions_etl_spark import registry
        from tracing import NullTracer
        from workloads import WORKLOADS

        self.args = args
        self.cores = os.cpu_count() or 1
        self.out_dir = work / "run" / "out"
        self.registry_ops = registry.queries()
        self.operators = registry._OPERATORS
        self.oracle_sql = registry.oracle_sql()
        self.tracer = NullTracer()
        self.spark = None
        self.expected: dict = {}
        self.workload = WORKLOADS[args.workload](self)
        t0 = time.perf_counter()
        import gen
        path, self.manifest = gen.cached(work / "inputs", args.workload,
                                         self.workload.layout, args.seed)
        self.input_dir = str(path)
        _log(f"inputs {path.name} ready in {time.perf_counter() - t0:.2f}s")

    # -- session -------------------------------------------------------
    def setup(self) -> float:
        """Start a session and load the catalog: every table's files
        listed, footers read and contract checks run."""
        from openlmis_distributions_etl_spark.session import get_spark
        from openlmis_distributions_etl_spark.sources import load_tables

        t0 = time.perf_counter()
        with self.tracer.span("session.start"):
            self.spark = get_spark("perfbench", cpus=self.cores)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.tracer.bind(self.spark.sparkContext)
        with self.tracer.span("sources.load"):
            tables = load_tables(self.spark, self.input_dir)
            for name in self.manifest["rows"]:
                tables[name]
        return time.perf_counter() - t0

    def stop(self) -> None:
        self.tracer.bind(None)
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop the session and the JVM, and wait for it to exit."""
        from pyspark import SparkContext

        self.stop()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = gateway.proc
        gateway.shutdown()
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        SparkContext._gateway = None

    def reset_peak_rss(self) -> None:
        """Collect the JVM heap and restart both processes' RSS
        high-water marks, so that the next peak covers one pass only."""
        from pyspark import SparkContext

        self.spark.sparkContext._jvm.System.gc()
        for pid in (os.getpid(), SparkContext._gateway.proc.pid):
            with open(f"/proc/{pid}/clear_refs", "w", encoding="ascii") as f:
                f.write("5")

    def peak_rss_mb(self) -> float:
        from pyspark import SparkContext

        py, jvm = (_vm_hwm_mb(p)
                   for p in (os.getpid(), SparkContext._gateway.proc.pid))
        _log(f"peak rss: driver {py:.0f} MB, jvm {jvm:.0f} MB")
        return py + jvm

    # -- passes --------------------------------------------------------
    def run_pass(self, index: int, check: bool, samples: list,
                 on_op=None) -> tuple[int, int]:
        """One pass over the workload's ops. Appends (name, seconds) per
        completed op to ``samples``; returns (attempted, failed)."""
        wl = self.workload
        wl.begin_pass(index)
        rng = random.Random(self.args.seed * 1_000_003 + index)
        attempted = failed = 0
        for op in wl.ops(rng):
            attempted += 1
            t0 = time.perf_counter()
            try:
                op.fn(check)
                ok = True
            except Exception:  # an op failure is counted, not fatal
                ok = False
                failed += 1
                _log(f"op {op.name} failed:\n{traceback.format_exc()}")
            elapsed = time.perf_counter() - t0
            if on_op is not None:
                on_op()
            if ok:
                samples.append((op.name, elapsed))
            _log(f"pass {index} {op.name}: {elapsed:.3f}s")
        return attempted, failed


def _oracle_child(run: Run, work: Path) -> subprocess.Popen:
    req = work / "run" / "oracle-request.pkl"
    with open(req, "wb") as f:
        pickle.dump(run.workload.oracle_request(), f)
    log = open(work / "run" / "oracle.log", "wb")
    try:
        return subprocess.Popen(
            [sys.executable, str(BENCH / "oracle.py"), run.input_dir,
             str(req), str(work / "run" / "oracle.pkl")],
            stdout=log, stderr=subprocess.STDOUT, cwd=str(work / "run"))
    finally:
        log.close()


def _gate(run: Run, results: dict, checksums: dict, ran: set) -> list[str]:
    """Names of checked ops whose output differs from the twin."""
    from oracle import checksum_equal, frame_mismatch

    bad = []
    for name, want in run.expected["frames"].items():
        if name not in ran:
            continue  # failed to run; already counted
        why = frame_mismatch(results[name], want)
        if why:
            bad.append(name)
            _log(f"gate {name}: {why}")
    for name, want in run.expected["checksums"].items():
        got = checksums.get(name)
        if got is None or not checksum_equal(got, want["row"]):
            bad.append(name)
            _log(f"gate {name}: checksum {got} != {want['row']}")
    return bad


def _trace_layers(tracer) -> None:
    """Wrap the program's layer entry points for the traced passes."""
    import importlib

    from workloads import dir_bytes

    def mod(name):
        return importlib.import_module(f"{PACKAGE}.{name}")

    def spread_done(args, kwargs, result):
        tracer.count("functions.spread.calls")
        if result is not args[0]:
            tracer.count("functions.spread.active")

    for m in ("functions", "operators.relational", "operators.dedup",
              "operators.text", "operators.similarity",
              "operators.multimodal", "plans.star", "plans.ivf"):
        tracer.patch(mod(m), "spread", "functions.spread", spread_done)
    tracer.patch(mod("registry"), "release_retained", "functions.cache",
                 lambda a, k, r: tracer.count("functions.cache.retained", r))

    def wrote(args, kwargs, result):
        size, files = dir_bytes(Path(args[1] if len(args) > 1
                                     else kwargs["path"]))
        tracer.count("sources.sinks.output_bytes", size)
        tracer.count("sources.sinks.files", files)

    for m in ("plans.pipeline", "sources.sinks"):
        tracer.patch(mod(m), "write_partitioned_parquet", "sources.sinks",
                     wrote)
    for m in ("sources.versioned", "plans.incremental"):
        for fn in ("write_versioned", "merge_upsert_versioned"):
            tracer.patch(mod(m), fn, "sources.versioned")
    for fn in ("init_rollup", "incremental_rollup_update"):
        tracer.patch(mod("plans.incremental"), fn, "plans.incremental")


def _per_layer(tracer, setup_spans, spans, passes: int,
               overhead_s: float, rows_written: int) -> dict[str, float]:
    tot = tracer.layer_totals(spans)
    c = tracer.counters
    m: dict[str, float] = {}

    def median_of(layer):
        xs = [s.end - s.start for s in setup_spans if s.layer == layer]
        return statistics.median(xs) if xs else 0.0

    def per_pass(layer, key):
        return tot[layer][key] / passes if layer in tot else 0.0

    m["session.start_s"] = median_of("session.start")
    m["sources.load_s"] = median_of("sources.load")
    m["registry.build_s"] = per_pass("registry", "self_s")
    m["registry.build_jobs"] = per_pass("registry", "jobs")
    for layer in EXEC_LAYERS:
        m[f"{layer}.exec_s"] = per_pass(layer, "self_s")
    m["plans.pipeline.run_s"] = per_pass("plans.pipeline", "self_s")
    m["sources.sinks.write_s"] = per_pass("sources.sinks", "self_s")
    m["sources.sinks.output_bytes"] = c["sources.sinks.output_bytes"] / passes
    m["sources.sinks.files"] = c["sources.sinks.files"] / passes
    m["sources.sinks.bytes_per_row"] = (
        c["sources.sinks.output_bytes"] / rows_written if rows_written else 0.0)
    m["streaming.batch_s"] = per_pass("streaming", "self_s")
    m["plans.incremental.update_s"] = per_pass("plans.incremental", "self_s")
    m["sources.versioned.commit_s"] = per_pass("sources.versioned", "self_s")
    calls = c["functions.spread.calls"]
    m["functions.spread.calls"] = calls / passes
    m["functions.spread.active_ratio"] = (
        c["functions.spread.active"] / calls if calls else 0.0)
    m["functions.cache.retained"] = c["functions.cache.retained"] / passes
    m["trace.overhead_s"] = overhead_s
    from tracing import SPARK_COUNTERS
    for layer in SPARK_LAYERS:
        for k in SPARK_COUNTERS:
            if layer == "registry" and k == "jobs":
                continue
            if k == "slot_busy_ratio":
                m[f"{layer}.{k}"] = tot[layer][k] if layer in tot else 0.0
            else:
                m[f"{layer}.{k}"] = per_pass(layer, k)
    return m


def per_layer_names() -> list[str]:
    """Every per-layer metric name, in report order."""
    from tracing import SPARK_COUNTERS

    names = ["session.start_s", "sources.load_s", "registry.build_s",
             "registry.build_jobs"]
    names += [f"{layer}.exec_s" for layer in EXEC_LAYERS]
    names += ["plans.pipeline.run_s", "sources.sinks.write_s",
              "sources.sinks.output_bytes", "sources.sinks.files",
              "sources.sinks.bytes_per_row", "streaming.batch_s",
              "plans.incremental.update_s", "sources.versioned.commit_s",
              "functions.spread.calls", "functions.spread.active_ratio",
              "functions.cache.retained", "trace.overhead_s"]
    names += [f"{layer}.{k}" for layer in SPARK_LAYERS for k in SPARK_COUNTERS
              if not (layer == "registry" and k == "jobs")]
    return names


def _best(samples) -> dict[str, float]:
    """Each op's fastest timed run, in seconds."""
    best: dict[str, float] = {}
    for name, secs in samples:
        best[name] = min(secs, best.get(name, secs))
    return best


def _e2e(samples, setups, rss) -> dict[str, float]:
    best = _best(samples).values()
    return {"setup_s": statistics.median(setups),
            "ops_per_s": len(best) / sum(best),
            "peak_rss_mb": rss}


def _named_lines(run: Run, samples, setups, rss,
                 failed_ratio) -> list[tuple[str, float, str]]:
    """The workload's headline figures, printed before the JSON line."""
    from workloads import CORPUS_QUERIES, REPORT_QUERIES, dir_bytes

    wl = run.workload
    best = _best(samples)
    out = [("setup_s", statistics.median(setups), "s"),
           ("peak_rss_mb", rss, "MB"),
           ("failed_ops_ratio", failed_ratio, "ratio")]
    if wl.name == "report_mix":
        report = [s for n, s in samples if n in REPORT_QUERIES]
        corpus = sum(s for n, s in best.items() if n in CORPUS_QUERIES)
        docs = run.manifest["rows"]["documents"]
        out += [("report_qps", len(report) / sum(report), "1/s"),
                ("report_p50_s", statistics.median(report), "s"),
                ("report_p90_s",
                 statistics.quantiles(report, n=10, method="inclusive")[-1],
                 f"s (n={len(report)})"),
                ("curate_docs_per_s", docs / corpus, "1/s")]
    else:
        drops = [s for n, s in samples if n.startswith("drop-")]
        mart_bytes, _ = dir_bytes(wl.base / "marts")
        out += [("etl_rows_per_s", wl.rows_loaded / best["rebuild"], "1/s"),
                ("etl_out_bytes_per_row", mart_bytes / wl.rows_loaded, "B"),
                ("incr_batch_p50_s", statistics.median(drops), "s")]
    return out


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / PACKAGE / "__init__.py").is_file():
        _log(f"no {PACKAGE} package beside {BENCH.name}/; run from a "
             "checkout of the repository")
        return 2
    sys.path[:0] = [str(BENCH), str(ROOT)]
    import importlib
    pkg = importlib.import_module(PACKAGE)
    if Path(pkg.__file__).resolve().parent != ROOT / PACKAGE:
        _log(f"{PACKAGE} imported from {pkg.__file__}, not this checkout")
        return 2
    from workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        _log(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
        return 2

    work = ROOT / ".bench_build" / "perfbench"
    rundir = work / "run"
    shutil.rmtree(rundir, ignore_errors=True)
    for d in ("tmp", "local", "warehouse", "out"):
        (rundir / d).mkdir(parents=True)
    os.environ.update({
        "TMPDIR": str(rundir / "tmp"),
        "SPARK_LOCAL_DIRS": str(rundir / "local"),
        "SPARK_WAREHOUSE_DIR": str(rundir / "warehouse"),
        "SPARK_DRIVER_MEM": "2g",
        "PYSPARK_PYTHON": sys.executable,
        # no hsperfdata files in the system temp dir from either JVM
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": (
            "--conf spark.ui.showConsoleProgress=false "
            # A fixed young generation keeps GC and the RSS peak
            # repeatable. JIT compilation stops at C1: with C2 the
            # latencies still fall after nine passes (40 s), so a run's
            # figures would depend on how many passes the host's speed
            # let it reach; C1 code is steady from the first timed pass.
            # C1 alone gets a 48 MB code cache, with which the third pass
            # of distribution_load ran 30% slower; 240 MB is tiered C2's.
            "--driver-java-options '-XX:-UsePerfData -Xmn512m "
            "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=240m "
            f"-Djava.io.tmpdir={rundir / 'tmp'} "
            f"-Dderby.system.home={rundir}' pyspark-shell"),
    })
    os.chdir(rundir)
    # Spark's JVM inherits fd 2: route it to a log, keep our own stderr
    err = os.fdopen(os.dup(2), "w", buffering=1)
    log_fd = os.open(rundir / "spark.log", os.O_WRONLY | os.O_CREAT, 0o644)
    os.dup2(log_fd, 2)
    os.close(log_fd)
    sys.stderr = err

    run = Run(args, work)
    untraced = run.tracer
    tracer = None
    if args.trace:
        from tracing import Tracer
        tracer = run.tracer = Tracer(run.cores)
    oracle = None
    try:
        setups = []
        for i in range(SETUPS):
            if i:
                run.stop()
            setups.append(run.setup())
        _log("setups " + " ".join(f"{s:.3f}" for s in setups))
        setup_spans = list(tracer.spans) if tracer else []
        oracle = _oracle_child(run, work)

        # checked pass: warms every op, and its results face the gate
        wl = run.workload
        run.tracer = untraced
        checked: list = []
        t0 = time.perf_counter()
        attempted, failed = run.run_pass(0, True, checked)
        t1 = time.perf_counter()
        if oracle.wait(timeout=170) != 0:
            raise RuntimeError("DuckDB twin process failed; see oracle.log")
        with open(rundir / "oracle.pkl", "rb") as f:
            run.expected = pickle.load(f)
        checksums = {}
        try:
            checksums = wl.table_checksums()
        except Exception:
            _log(f"table checksums failed:\n{traceback.format_exc()}")
        bad = _gate(run, wl.results, checksums, {n for n, _ in checked})
        failed += len(bad)
        _log(f"checked pass {t1 - t0:.2f}s, gate "
             f"{time.perf_counter() - t1:.2f}s, {len(bad)} mismatches")
        wl.results.clear()

        # Each pass starts from a collected heap, so its RSS peak does not
        # depend on how many passes came before it, a number that varies
        # with the speed of the host.
        samples: list = []
        peaks = []
        t0 = time.perf_counter()
        passes = 0
        while passes < MIN_PASSES or time.perf_counter() - t0 < args.seconds:
            passes += 1
            run.reset_peak_rss()
            a, f = run.run_pass(passes, False, samples)
            peaks.append(run.peak_rss_mb())
            attempted, failed = attempted + a, failed + f
        rss = statistics.median(peaks)
        if not samples:
            raise RuntimeError("no operation completed")

        if tracer:
            # traced passes alternate with untraced ones, so that the
            # warm-up still under way affects both sides alike
            first = len(tracer.spans)
            done = [first]

            def collect():
                tracer.collect_spark(tracer.spans[done[0]:])
                done[0] = len(tracer.spans)

            traced: list = []
            plain: list = []
            rows_written = 0
            index = passes
            for _ in range(passes):
                run.tracer = tracer
                tracer.bind(run.spark.sparkContext)
                _trace_layers(tracer)
                a, f = run.run_pass(index + 1, False, traced, collect)
                tracer.restore()
                rows_written += wl.out_rows
                run.tracer = untraced
                a2, f2 = run.run_pass(index + 2, False, plain)
                index += 2
                attempted, failed = attempted + a + a2, failed + f + f2
            overhead = (sum(_best(traced).values())
                        - sum(_best(plain).values()))
            metrics = _per_layer(tracer, setup_spans,
                                 tracer.spans[first:], passes, overhead,
                                 rows_written)
            with open(rundir / "spans.json", "w", encoding="utf-8") as f:
                json.dump(tracer.dump(), f)
            lines = [(k, v, "") for k, v in metrics.items()]
        else:
            metrics = _e2e(samples, setups, rss)
            lines = _named_lines(run, samples, setups, rss,
                                 failed / attempted)
        _log(f"{passes} timed pass(es), {len(samples)} ops, "
             f"{sum(s for _, s in samples):.2f}s busy")
    except Exception:
        _log(f"run failed:\n{traceback.format_exc()}")
        return 1
    finally:
        if oracle is not None and oracle.poll() is None:
            oracle.kill()
            oracle.wait()
        run.shutdown()

    units = _units()
    for name, value, unit in lines:
        print(f"{name} {value:.6g} {unit or units.get(name, '')}".rstrip())
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items()}}))
    return 0


def _units() -> dict[str, str]:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"]
            for m in spec["end_to_end"] + spec["per_layer"]}


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
