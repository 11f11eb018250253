"""Benchmark of the clinical-bi-spark engine, one workload per run.

    python3 perfbench/run.py --workload aact_etl --seed 1 --seconds 20 --trace 0

Run from the repository root. One driver process runs a local Spark
session with one core per CPU of the host (``local[nproc]``) as a closed
loop with one client: each output is built, executed and released before
the next starts. A run

1. generates the workload's inputs from ``--seed`` and computes the
   oracle answers in DuckDB;
2. sets the session up (``get_spark``, which launches the JVM,
   ``load_all`` and ``warm``);
3. checks every output once against its oracle, outside the timed
   window (this pass is also the warm-up);
4. times whole passes over the outputs, each pass in a seeded order,
   for about ``--seconds`` seconds.

With ``--trace 0`` it reports the end-to-end metrics. With ``--trace 1``
it makes one more untimed pass, then traces half the passes, in the
order untraced, traced, traced, untraced (spans around each layer call plus Spark's status stores for
the job groups the spans set), and it reports the per-layer metrics
instead; see perfbench/README.md. BENCHMARK.json names the workloads
and metrics.

The last line of stdout is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``. The line before it holds the
run's details: settings, per-output timings and errors.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import random
import shlex
import shutil
import statistics
import sys
import tempfile
import time
from collections import defaultdict
from pathlib import Path

import tracing
import workloads

ROOT = Path(__file__).resolve().parent.parent
WORK_ROOT = ROOT / ".perfbench_work"
#: Workloads and metrics, with their units, as BENCHMARK.json declares them.
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
WORKLOADS = tuple(w["name"] for w in SPEC["workloads"])

#: Typical warm pass wall on a 4-core host. A run times
#: ``round(seconds / NOMINAL_PASS_S)`` passes (at least 3), so every run
#: of a workload has the same sample count and tail percentile.
NOMINAL_PASS_S = {"aact_etl": 7.0, "python_udf": 4.5}

#: JVM options per workload. An aact_etl pass is driver-side work: it
#: plans and schedules about 60 one-task jobs. Under the default tiered
#: JIT, C2 is still compiling Catalyst a minute after the check and
#: takes a core or more of the four, so pass walls follow the CPU the
#: host has to spare (interquartile range up to a third of the median
#: over ten runs). With C1 only, compilation is done by the end of the
#: check; the larger code cache keeps C1 from flushing and recompiling
#: code part-way through the timed passes.
JVM_OPTIONS = {
    "aact_etl": "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=240m",
    "python_udf": "",
}


def host_settings() -> dict[str, str]:
    """Engine settings derived from the host instead of the code's
    32-core / 20 GB defaults: one Spark core per CPU, and a quarter of
    physical memory (1-8 GB) for the driver."""
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    driver_gb = max(1, min(8, mem_kb // (4 * 1024 * 1024)))
    return {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_DRIVER_MEMORY": f"{driver_gb}g",
    }


def configure_env(work: Path, settings: dict[str, str], jvm_options: str) -> None:
    """Point every file Spark, the JVM and Python workers leave behind
    into ``work``, and time the engine's default code paths (no
    ``CLINICAL_BI_*`` override)."""
    for key in [k for k in os.environ if k.startswith("CLINICAL_BI_")]:
        del os.environ[key]
    os.environ.update(settings)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = str(work)
    tempfile.tempdir = str(work)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    java_opts = f"-Djava.io.tmpdir={work} -Dderby.system.home={work} -XX:-UsePerfData {jvm_options}"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--driver-java-options", shlex.quote(java_opts),
            "--conf", shlex.quote(f"spark.sql.warehouse.dir={work / 'warehouse'}"),
            "--conf", "spark.ui.showConsoleProgress=false",
            "pyspark-shell",
        ]
    )


def tail(samples: list[float]) -> tuple[float, float]:
    """The highest percentile with at least ten samples above it, and
    that percentile (the maximum, at 100, below eleven samples)."""
    ordered = sorted(samples)
    n = len(ordered)
    if n <= 10:
        return ordered[-1], 100.0
    return ordered[n - 11], 100.0 * (n - 10) / n


class Runner:
    """One benchmark run: set-up, correctness check and timed passes."""

    def __init__(self, args, work: Path):
        from clinical_bi_spark import caching
        from clinical_bi_spark.queries import load_all
        from clinical_bi_spark.session import get_spark, warm

        self._caching, self._load_all = caching, load_all
        self._get_spark, self._warm = get_spark, warm
        self.args = args
        self.out_dir = work / "out"
        self.workload = workloads.make(args.workload, args.aact_studies)
        self.spark = None
        self.rss_samples: list[float] | None = None
        self.attempted = 0
        self.failed = 0
        self.errors: dict[str, str] = {}

    # -- set-up -----------------------------------------------------------

    def setup(self) -> dict[str, float]:
        """Process start to ready, as an application pays it: launch the
        JVM and session, register the queries, warm the session."""
        t0 = time.perf_counter()
        self.spark = self._get_spark("perfbench")
        t1 = time.perf_counter()
        self._load_all()
        t2 = time.perf_counter()
        self._warm(self.spark)
        t3 = time.perf_counter()
        self.spark.sparkContext.setLogLevel("ERROR")
        return {
            "session.get_spark_s": t1 - t0,
            "queries.load_all_s": t2 - t1,
            "session.warm_s": t3 - t2,
            "setup_s": t3 - t0,
        }

    # -- correctness ------------------------------------------------------

    def _fail(self, name: str, phase: str, exc: Exception) -> None:
        self.failed += 1
        self.errors.setdefault(name, f"{phase}: {type(exc).__name__}: {exc}"[:600])

    def check(self) -> None:
        """Run every output once and compare it with its oracle: the
        order-insensitive typed comparison of tests/conftest.py, plus,
        for file sinks, the row count read back from the files."""
        from tests.conftest import assert_matches_oracle

        con = self.workload.oracle()
        build_all, outs = self.workload.outputs(self.spark)
        if build_all:
            build_all()
        for out in outs:
            self.attempted += 1
            path = str(self.out_dir / out.name)
            try:
                df = out.build()
                assert_matches_oracle(df, con, out.oracle, name=out.name)
                workloads.write(self.spark, df, out.sink, path)
                if out.sink != "noop":
                    expected = con.execute(f"SELECT count(*) FROM ({out.oracle})").fetchone()[0]
                    got = workloads.written_rows(out.sink, path)
                    if got != expected:
                        raise AssertionError(f"{out.sink} sink wrote {got} rows, oracle has {expected}")
            except Exception as exc:  # recorded against the output; the run goes on
                self._fail(out.name, "check", exc)
            finally:
                self._caching.release_all(self.spark)
        con.close()

    # -- timed passes -----------------------------------------------------

    def _call(self, spans: list[tracing.Span] | None, layer: str, group: str, fn):
        """``fn()``; when traced, inside a span appended to ``spans`` and
        under its own Spark job group."""
        if spans is None:
            return fn()
        self.spark.sparkContext.setJobGroup(group, group)
        span = tracing.Span(layer, time.perf_counter(), group=group)
        try:
            return fn()
        finally:
            span.end = time.perf_counter()
            spans.append(span)

    def run_pass(self, build_all, outs: list[workloads.Output], tag: str | None) -> dict:
        """One pass: the pass-level build, if any, then every output in
        order. Traced when ``tag`` names the pass's job groups."""
        spark, caching = self.spark, self._caching
        walls: list[tuple[str, float]] = []
        top: list[tracing.Span] | None = [] if tag else None
        cpu0 = tracing.tree_cpu_s()
        start = time.perf_counter()
        if build_all:
            try:
                self._call(top, "domain.build", f"{tag}.build", build_all)
            except Exception as exc:  # every output of the pass fails with it
                self._fail("domain.build", "pass", exc)
        for i, out in enumerate(outs):
            self.attempted += 1
            path = str(self.out_dir / out.name)
            o_start = time.perf_counter()
            span = tracing.Span(out.name, o_start) if tag else None
            children = span.children if span else None
            try:
                df = self._call(children, f"{out.layer}.build", f"{tag}.{i}.build", out.build)
                self._call(
                    children,
                    "execute" if out.sink == "noop" else "sinks.write",
                    f"{tag}.{i}.exec",
                    lambda: workloads.write(spark, df, out.sink, path),
                )
            except Exception as exc:  # recorded against the output; the pass goes on
                self._fail(out.name, "pass", exc)
            finally:
                n_df, n_ckpt = self._call(
                    children, "caching.release", f"{tag}.{i}.release",
                    lambda: caching.release_all(spark),
                )
            o_end = time.perf_counter()
            walls.append((out.name, o_end - o_start))
            if self.rss_samples is not None:
                self.rss_samples.append(tracing.tree_rss_mb())
            if span:
                span.end = o_end
                span.counts.update({"caching.released_dfs": n_df, "caching.released_ckpt_rdds": n_ckpt})
                top.append(span)
        end = time.perf_counter()
        record = {"wall": end - start, "cpu": tracing.tree_cpu_s() - cpu0, "walls": walls}
        if tag:
            sc = spark.sparkContext
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            record["spans"] = tracing.Span("pass", start, end, children=top)
            record["layers"] = self._layers(outs, record["spans"])
        return record

    def _layers(self, outs: list[workloads.Output], pass_span: tracing.Span) -> dict[str, float]:
        """Per-layer sums for one traced pass."""
        layer_spans = [s for s in pass_span.walk() if s.group]
        groups = {s.group for s in layer_spans}
        build_groups = {s.group for s in layer_spans if s.name == "queries.build"}
        m = tracing.spark_layer_metrics(self._stores.collect(groups), pass_span.children, build_groups)
        for s in layer_spans:
            m["execute.wall_s" if s.name == "execute" else s.name + "_s"] += s.wall
            if s.name == "sinks.write":
                m["execute.wall_s"] += s.wall
        for s in pass_span.children:
            for key, value in s.counts.items():
                m[key] += value
        for out in outs:
            if out.sink != "noop":
                files = workloads.part_files(str(self.out_dir / out.name))
                m["sinks.files_written"] += len(files)
                m["sinks.bytes_written_mb"] += sum(os.path.getsize(f) for f in files) / 2**20
        m["trace.unaccounted_frac"] = 1 - sum(s.wall for s in pass_span.children) / pass_span.wall
        return m

    def start_memory_window(self) -> None:
        """Count memory from here on: reset every process's peak resident
        set, so the check's collected results and the DuckDB oracle do not
        count. Where the kernel refuses the reset, sample the tree's
        resident set after each output instead."""
        gc.collect()
        if not tracing.reset_peak_rss():
            self.rss_samples = [tracing.tree_rss_mb()]

    def peak_rss_mb(self) -> float:
        if self.rss_samples is None:
            return tracing.tree_peak_rss_mb()
        return max(self.rss_samples)

    def timed(self) -> list[dict]:
        args = self.args
        passes = args.passes or max(3, round(args.seconds / NOMINAL_PASS_S[args.workload]))
        first = 0
        if args.trace:
            # An untimed pass first: the first pass after the check still
            # runs about 20% slow. Then untraced, traced, traced, untraced,
            # balanced against the warm-up trend that is left.
            first = -1
            passes += -passes % 4
            self._stores = tracing.SparkStores(self.spark)
        rng = random.Random(args.seed)
        records = []
        for p in range(first, passes):
            build_all, outs = self.workload.outputs(self.spark)
            rng.shuffle(outs)
            traced = bool(args.trace) and p % 4 in (1, 2)
            record = self.run_pass(build_all, outs, f"perfbench.{p}" if traced else None)
            record["traced"] = traced
            if p >= 0:
                records.append(record)
        return records


def span_tree(span: tracing.Span, origin: float) -> dict:
    """A span and its children, times in seconds from ``origin``."""
    return {
        "name": span.name,
        "start": span.start - origin,
        "end": span.end - origin,
        "children": [span_tree(c, origin) for c in span.children],
    }


def summarize(args, setup: dict[str, float], records: list[dict], peak_rss_mb: float) -> tuple[dict, dict]:
    """(metrics, details) of one run."""
    med = statistics.median
    plain = [r for r in records if not r["traced"]]
    walls = [w for r in plain for _, w in r["walls"]]
    tail_s, tail_pct = tail(walls)
    details = {
        "passes": len(plain),
        "query_samples": len(walls),
        "query_tail_percentile": tail_pct,
        "pass_walls_s": [r["wall"] for r in records],
        "pass_orders": [[name for name, _ in r["walls"]] for r in records],
        "output_median_s": {
            name: med(w for r in plain for n, w in r["walls"] if n == name)
            for name, _ in plain[0]["walls"]
        },
    }
    if not args.trace:
        section = "end_to_end"
        values = {
            "setup_s": setup["setup_s"],
            "pass_s": med(r["wall"] for r in plain),
            "query_p50_s": med(walls),
            "query_tail_s": tail_s,
            "cpu_s": med(r["cpu"] for r in plain),
            "peak_rss_mb": peak_rss_mb,
        }
    else:
        section = "per_layer"
        traced = [r for r in records if r["traced"]]
        keys = set().union(*(r["layers"] for r in traced))
        values = defaultdict(float, {k: med(r["layers"].get(k, 0.0) for r in traced) for k in keys})
        values.update(setup)
        values["trace_overhead_frac"] = (
            med(r["wall"] for r in traced) / med(r["wall"] for r in plain) - 1
        )
        details["traced_pass_s"] = [r["wall"] for r in traced]
        details["spans"] = [span_tree(r["spans"], r["spans"].start) for r in traced]
    metrics = {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]} for m in SPEC[section]}
    return metrics, details


def stop_processes(spark) -> None:
    """Stop Spark, end the JVM and wait until every child process is gone."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while len(tracing.tree_pids()) > 1:
        if time.monotonic() > deadline:
            for pid in tracing.tree_pids()[1:]:
                try:
                    os.kill(pid, 9)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 30
        time.sleep(0.1)


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--seconds", type=float, default=20.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--passes", type=int, default=None, help="timed passes (default: from --seconds)")
    p.add_argument("--aact-studies", type=int, default=workloads.AACT_STUDIES)
    return p.parse_args(argv)


def run(argv=None) -> tuple[dict, dict]:
    """One benchmark run: (result, details)."""
    sys.path.insert(0, str(ROOT))
    args = parse_args(argv)
    settings = host_settings()
    WORK_ROOT.mkdir(exist_ok=True)
    work = Path(tempfile.mkdtemp(prefix="run-", dir=WORK_ROOT))
    cwd = os.getcwd()
    runner = None
    try:
        configure_env(work, settings, JVM_OPTIONS[args.workload])
        os.chdir(work)  # derby.log, metastore_db and spark-warehouse land here
        runner = Runner(args, work)
        phases = [time.perf_counter()]
        input_digest = runner.workload.prepare(str(work), args.seed)
        phases.append(time.perf_counter())
        setup = runner.setup()
        phases.append(time.perf_counter())
        runner.check()
        runner.start_memory_window()
        phases.append(time.perf_counter())
        records = runner.timed()
        phases.append(time.perf_counter())
        metrics, details = summarize(args, setup, records, runner.peak_rss_mb())
        details["peak_rss_from"] = "VmHWM" if runner.rss_samples is None else "VmRSS samples"
        details["input_digest"] = input_digest
        details["phase_s"] = dict(zip(("prepare", "setup", "check", "timed"), [b - a for a, b in zip(phases, phases[1:])]))
    finally:
        os.chdir(cwd)
        if runner is not None and runner.spark is not None:
            stop_processes(runner.spark)
        shutil.rmtree(work, ignore_errors=True)
    details.update(
        workload=args.workload, seed=args.seed, settings=settings,
        jvm_options=JVM_OPTIONS[args.workload], errors=runner.errors,
    )
    result = {
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": metrics,
    }
    return result, details


def main() -> int:
    if not (ROOT / "clinical_bi_spark").is_dir():
        print("perfbench: clinical_bi_spark/ not found next to perfbench/", file=sys.stderr)
        return 2
    result, details = run()
    print(json.dumps(details))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
