#!/usr/bin/env python3
"""The repository benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Workloads: ``reference_etl`` and
``sf01_queries`` (see README.md).

A run sets up the Spark session, the seeded inputs and, for
``reference_etl``, the stub challenge API once, and reports that time as
``setup_s``. It then runs passes of the workload one after another until
``--seconds`` have passed, every pass against fresh store roots, and
checks the operations' outputs against DuckDB, untimed. The end-to-end
metrics are those of the first pass, the cold one, whatever the number of
passes. With ``--trace 1`` the run makes one traced pass (Spark event log
on, one job group per operation), then starts an untraced session in a new
driver JVM and makes one untraced pass over the same inputs for the tracing
overhead, and prints the per-layer metrics instead of the end-to-end ones.

The last line of stdout is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``. The line before it, prefixed
``perfbench-stamp``, records the environment and the run's sample counts;
each failure is printed on a line prefixed ``perfbench-failure``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time
import urllib.request
from pathlib import Path

T_START = time.perf_counter()
HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PKG = "zylyty_data_engineer_challenge_spark"
WORKLOADS = ("reference_etl", "sf01_queries")
STORE_CONFS = ("pairCacheDir", "annIndexDir", "formatDir", "streamSinkDir", "streamLateDir")
CORPUS_SCALE = 0.001
LAYERS = (
    "session", "catalog", "sources.http_csv", "sources.rest_pages", "etl.clean",
    "sinks.jdbc", "queries.views", "queries.relational", "queries.tpch",
    "queries.analytics", "queries.timeseries", "queries.warehouse",
    "queries.advanced", "operators.dedup", "operators.similarity",
    "operators.text", "operators.multimodal", "operators.curate",
    "operators.sketches", "operators.graph", "operators.cluster",
    "operators.lexical", "streaming",
)
LAYER_FIELDS = {
    "call_s": "s", "action_s": "s", "jobs": "count", "outside_stage_s": "s",
    "shuffle_write_mb": "MB",
}
EXTRA_UNITS = {
    "sources.rest_pages.requests": "count", "sources.rest_pages.retries": "count",
    "sources.rest_pages.useful_ratio": "ratio", "etl.clean.rows_in": "count",
    "etl.clean.rows_out": "count", "sinks.jdbc.rows_written": "count",
    "sinks.jdbc.ddl_s": "s", "catalog.store_files": "count",
    "streaming.batches": "count", "streaming.batch_p50_ms": "ms",
    "failed_ratio": "ratio", "trace.overhead_s": "s",
}


def tail(values: list[float]) -> tuple[float, float]:
    """(value, percentile) at the highest percentile that still has ten
    samples beyond it; the maximum when there are ten samples or fewer."""
    xs = sorted(values)
    if len(xs) <= 10:
        return xs[-1], 100.0
    return xs[-11], 100.0 * (len(xs) - 10) / len(xs)


def code_digest() -> str:
    """Content hash of the engine code (the checkout is not a git repo)."""
    h = hashlib.sha1()
    for p in sorted((ROOT / PKG).rglob("*.py")) + [ROOT / "__spark_entry__.py"]:
        h.update(p.read_bytes())
    return h.hexdigest()[:12]


class Bench:
    """One run: owns the Spark session, the stub process and the work dir."""

    def __init__(self, args: argparse.Namespace, work: Path):
        from procstat import PeakRss

        self.args = args
        self.work = work
        self.etl = args.workload == "reference_etl"
        self.spark = None
        self.stub: subprocess.Popen | None = None
        self.stub_url = ""
        self.sf_dir = ""
        self.rss = PeakRss()
        self.session_s: list[float] = []
        self.listener = None
        self.roots: list[Path] = []
        self.stamp: dict = {}

    # -- session and inputs -----------------------------------------------
    def start_session(self, traced: bool) -> None:
        from zylyty_data_engineer_challenge_spark.session import get_spark

        conf = {
            "spark.sql.warehouse.dir": str(self.work / "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Dderby.system.home={self.work / 'derby'}"
                f" -Djava.io.tmpdir={self.work / 'tmp'} -XX:-UsePerfData"
            ),
            "spark.eventLog.enabled": "true" if traced else "false",
            "spark.eventLog.dir": (self.work / "eventlog").as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", extra_conf=conf)
        self.session_s.append(time.perf_counter() - t0)
        self.fresh_roots("setup")
        if traced:
            self.add_listener()

    def fresh_roots(self, name: str) -> Path:
        """Point the five store confs and the pair-cache env var at a new
        empty root."""
        root = self.work / "stores" / name
        for k in STORE_CONFS:
            self.spark.conf.set(f"spark.zylyty.{k}", str(root / k))
        os.environ["SPARK_GRAFT_PAIR_CACHE_DIR"] = str(root / "pairCacheDir")
        return root

    def warm_up(self) -> None:
        """One small shuffle job, so that the pass does not pay for the
        session's first job (task launch, shuffle service, code
        generation)."""
        n = self.spark.sparkContext.defaultParallelism
        self.spark.range(0, 20_000, 1, n).selectExpr("id % 97 AS k").groupBy("k").count().collect()

    def start_python_workers(self) -> None:
        """Start a Python worker on every core before a pass, so that the
        pass does not pay for it; it is left out of setup_s as well (it is
        the same for every engine version)."""
        n = self.spark.sparkContext.defaultParallelism

        def ident(batches):
            yield from batches

        self.spark.range(0, n, 1, n).mapInPandas(ident, "id long").collect()

    def spawn_stub(self) -> None:
        """Start the stub API process; it generates the feed, writes the
        check's copy of it and renders its bodies while the session
        starts."""
        from workloads import ETL_PAGES, ETL_TOKEN

        self.stub = subprocess.Popen(
            [sys.executable, str(HERE / "stub_api.py"), "--seed", str(self.args.seed),
             "--pages", str(ETL_PAGES), "--token", ETL_TOKEN,
             "--threads", str(len(os.sched_getaffinity(0))),
             "--dump", str(self.work / "feed.json")],
            stdout=subprocess.PIPE, text=True,
        )

    def prepare_inputs(self) -> None:
        if self.etl:
            line = self.stub.stdout.readline()
            if not line.startswith("PORT "):
                raise RuntimeError(f"stub API did not start: {line!r}")
            self.stub_url = f"http://127.0.0.1:{int(line.split()[1])}"
        else:
            import corpus

            self.sf_dir = str(self.work / "corpus")
            corpus.generate(self.sf_dir, self.args.seed, CORPUS_SCALE)

    def stub_stats(self) -> dict:
        """The stub's counters since the previous call."""
        with urllib.request.urlopen(f"{self.stub_url}/_stats", timeout=10) as r:
            return json.loads(r.read())

    def stop_stub(self) -> None:
        if self.stub is None:
            return
        self.stub.terminate()
        try:
            self.stub.wait(timeout=10)
        except subprocess.TimeoutExpired:
            self.stub.kill()
            self.stub.wait()
        self.stub.stdout.close()
        self.stub = None

    def setup(self, traced: bool) -> float:
        """Session start, input generation, stub start and warm-up; returns
        the time they took."""
        t0 = time.perf_counter()
        if self.etl:
            self.spawn_stub()
        self.start_session(traced)
        self.prepare_inputs()
        self.warm_up()
        return time.perf_counter() - t0

    def add_listener(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        class Batches(StreamingQueryListener):
            def __init__(self):
                self.durations_ms: list[float] = []

            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                self.durations_ms.append(float(event.progress.batchDuration))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = Batches()
        self.spark.streams.addListener(self.listener)

    # -- passes --------------------------------------------------------------
    def run_pass(self, k: int, traced: bool):
        import workloads as w

        name = f"p{k}"
        self.roots.append(self.fresh_roots(name))
        if self.etl:
            url = f"jdbc:derby:{self.work / 'derby' / name};create=true"
            self.stub_stats()  # zero the counters
            t0 = time.perf_counter()
            try:
                if traced:
                    spans, extras = w.etl_traced(self.spark, self.stub_url, url, name)
                else:
                    spans, extras = [], w.etl_untraced(self.spark, self.stub_url, url)
                op = w.OpResult("reference_etl", time.perf_counter() - t0, spans=spans)
            except Exception as exc:  # noqa: BLE001 - a failing pass is counted
                op = w.OpResult("reference_etl", time.perf_counter() - t0,
                                error=w.error_text(exc))
                extras = {}
            wall = time.perf_counter() - t0
            extras.update(stub=self.stub_stats(), jdbc_url=url)
            return w.Pass(traced, wall, [op], extras)
        checker = None
        if k == 0:
            import check

            checker = check.OracleChecker(self.sf_dir)
        t0 = time.perf_counter()
        ops, catalog_span, check_s = w.registry_pass(
            self.spark, self.sf_dir, name, traced, checker)
        wall = time.perf_counter() - t0 - check_s
        if checker is not None:
            checker.close()
            self.stamp["audit_only_ops"] = checker.audit_only
        return w.Pass(traced, wall, ops, {"catalog": catalog_span})

    def measure(self) -> list:
        """Untraced: passes until --seconds have passed. Traced (after a
        traced setup): one traced pass, then, for the tracing overhead, a
        new untraced session in a new driver JVM, warmed up the same way,
        and one untraced pass over the same inputs."""
        if self.args.trace:
            self.start_python_workers()
            traced = self.run_pass(0, traced=True)
            self.stop_jvm()
            self.start_session(traced=False)
            self.warm_up()
            self.start_python_workers()
            return [traced, self.run_pass(1, traced=False)]
        passes = []
        deadline = time.perf_counter() + self.args.seconds
        while not passes or time.perf_counter() < deadline:
            self.start_python_workers()
            passes.append(self.run_pass(len(passes), traced=False))
        return passes

    def check_etl(self, first) -> list[str]:
        """Untimed output check of the first reference_etl pass."""
        import check

        self.spark.sparkContext.setJobGroup("check", "check")
        x = first.extras
        with open(self.work / "feed.json") as f:
            feed = json.load(f)
        return check.reference_etl(self.spark, feed, x["jdbc_url"],
                                   x.get("written", {}), x.get("completion"))

    def stop_jvm(self) -> None:
        """Stop the session and the driver JVM and wait for it to exit; the
        next session starts a new JVM."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None

    def close(self) -> None:
        self.stop_jvm()
        self.stop_stub()


def end_to_end(bench: Bench, setup_s: float, passes: list, peak_mb: float) -> dict:
    """The end-to-end metrics of the first (cold) pass."""
    from procstat import tree_usage

    first = passes[0]
    lat = [op.latency_s for op in first.ops]
    tail_s, tail_p = tail(lat)
    store_bytes, _ = tree_usage(str(bench.roots[0]), str(bench.work / "derby" / "p0"))
    bench.stamp.update(
        op_samples=len(lat), op_tail_percentile=round(tail_p, 1),
        pass_walls_s=[round(p.wall_s, 3) for p in passes],
        op_latency_s={op.name: round(op.latency_s, 3) for op in first.ops})
    return {
        "setup_s": (setup_s, "s"),
        "wall_s": (first.wall_s, "s"),
        "op_p50_s": (statistics.median(lat), "s"),
        "op_tail_s": (tail_s, "s"),
        "peak_rss_mb": (peak_mb, "MB"),
        "store_mb": (store_bytes / 1e6, "MB"),
    }


def per_layer(bench: Bench, passes: list, failed_ratio: float) -> dict:
    """Per-layer numbers of the traced pass (the first of ``passes``)."""
    import eventlog
    from procstat import tree_usage

    traced, untraced = passes
    spans = [sp for op in traced.ops for sp in op.spans]
    if "catalog" in traced.extras:
        spans.append(traced.extras["catalog"])
    groups = eventlog.fold(str(bench.work / "eventlog"),
                           {sp.group: (sp.start, sp.end) for sp in spans})
    out = {f"{layer}.{f}": 0.0 for layer in LAYERS for f in LAYER_FIELDS}
    out.update({k: 0.0 for k in EXTRA_UNITS})
    for sp in spans:
        g = groups.get(sp.group, eventlog.GroupStats())
        out[f"{sp.layer}.call_s"] += sp.call_s
        out[f"{sp.layer}.action_s"] += sp.action_s
        out[f"{sp.layer}.jobs"] += g.jobs
        out[f"{sp.layer}.outside_stage_s"] += (
            sp.end - sp.start - eventlog.covered(g.stage_spans, sp.start, sp.end))
        out[f"{sp.layer}.shuffle_write_mb"] += g.shuffle_write_bytes / 1e6
    x = traced.extras
    if "written" in x:
        stub = x["stub"]
        out["sources.rest_pages.requests"] = stub["requests"]
        out["sources.rest_pages.retries"] = stub["retries"]
        if stub["requests"]:
            out["sources.rest_pages.useful_ratio"] = stub["pages_with_rows"] / stub["requests"]
        out["etl.clean.rows_in"] = x["rows_in"]
        out["etl.clean.rows_out"] = x["rows_out"]
        out["sinks.jdbc.rows_written"] = sum(x["written"].values())
        out["sinks.jdbc.ddl_s"] = x["ddl_s"]
    out["session.call_s"] = bench.session_s[0]
    out["catalog.store_files"] = tree_usage(
        str(bench.roots[0]), str(bench.work / "derby" / "p0"))[1]
    durations = bench.listener.durations_ms if bench.listener else []
    out["streaming.batches"] = len(durations)
    out["streaming.batch_p50_ms"] = statistics.median(durations) if durations else 0.0
    out["failed_ratio"] = failed_ratio
    out["trace.overhead_s"] = traced.wall_s - untraced.wall_s
    units = {f"{layer}.{f}": u for layer in LAYERS for f, u in LAYER_FIELDS.items()}
    units.update(EXTRA_UNITS)
    return {k: (v, units[k]) for k, v in out.items()}


def main() -> int:
    ap = argparse.ArgumentParser(description="spark-graft benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not (ROOT / PKG).is_dir() or not (ROOT / "__spark_entry__.py").is_file():
        print(f"perfbench: no {PKG} package next to {HERE.name}/; run it from the root "
              "of a checkout of the repository", file=sys.stderr)
        return 2

    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "local", "derby", "eventlog", "stores"):
        (work / sub).mkdir(parents=True)
    nproc = len(os.sched_getaffinity(0))
    os.environ.update({
        "TMPDIR": str(work / "tmp"),
        "SPARK_LOCAL_DIRS": str(work / "local"),
        "SPARK_GRAFT_CPUS": str(nproc),
        # a 2g driver heap instead of the default 8g: the heap the JVM
        # commits then varies less from run to run, and the inputs are small
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        # the launcher JVM would otherwise write /tmp/hsperfdata_<user>
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
    })
    sys.path[:0] = [str(ROOT), str(HERE)]

    # a terminated run still stops its processes and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    bench = Bench(args, work)
    bench.rss.start()
    marks = {"start": time.perf_counter() - T_START}
    try:
        setup_s = bench.setup(traced=bool(args.trace))
        marks["setup"] = time.perf_counter() - T_START
        sc = bench.spark.sparkContext
        bench.stamp = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "cpus_effective": sc.defaultParallelism, "nproc": nproc,
            "sf_dir": None if bench.etl else os.path.relpath(bench.sf_dir, ROOT),
            "corpus_scale": None if bench.etl else CORPUS_SCALE,
            "spark": bench.spark.version, "python": platform.python_version(),
            "java": bench.spark._jvm.java.lang.System.getProperty("java.version"),
            "code_sha1": code_digest(),
        }
        passes = bench.measure()
        marks["measure"] = time.perf_counter() - T_START
        peak_mb = bench.rss.stop()
        mismatches = bench.check_etl(passes[0]) if bench.etl else []
        if mismatches and not passes[0].ops[0].error:
            passes[0].ops[0].error = "reference_etl: output check failed"
        ops = [op for p in passes for op in p.ops]
        attempted, failed = len(ops), sum(1 for op in ops if op.error)
        failures = [op.error for op in ops if op.error] + mismatches
        if args.trace:
            metrics = per_layer(bench, passes, failed / attempted)
        else:
            metrics = end_to_end(bench, setup_s, passes, peak_mb)
        marks["check"] = time.perf_counter() - T_START
    finally:
        bench.close()
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:  # another run's work dir is still there
            pass
    marks["end"] = time.perf_counter() - T_START
    bench.stamp["timeline_s"] = {k: round(v, 2) for k, v in marks.items()}
    for line in failures:
        print(f"perfbench-failure {line}")
    print("perfbench-stamp " + json.dumps(bench.stamp))
    print(json.dumps({
        "correct": not failures, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
