#!/usr/bin/env python3
"""Repository benchmark: golden-checked workloads over the engine's public
entry points.

    python3 perfbench/run.py --workload extract_mix --seed 1 --seconds 8 --trace 0

Run from the repository root. The last line of standard output is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones (``turns_per_s``, ``cpu_us_per_turn``,
``setup_s``, ``peak_rss_mb``); with ``--trace 1`` they are the per-layer
ones, and the spans go to ``perfbench/.cache/traces/trace-<workload>-s<seed>.json``.
The exit code is 0 only when every timed pass matched its golden.
``perfbench/METRICS.md`` maps each metric to the layer it loads.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import subprocess
import sys
import time

import gen
import meter

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(HERE, ".cache")
WORK = os.path.join(CACHE, "work")

UNITS = {
    "turns_per_s": "1/s",
    "cpu_us_per_turn": "us",
    "setup_s": "s",
    "peak_rss_mb": "MB",
}


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="measure timed passes for this long")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=2,
                    help="local[N] parallelism; keep it below nproc")
    ap.add_argument("--input-files", type=int, default=16,
                    help="input parquet files, one task each; a multiple "
                    "of --cores so no pass ends in a partial wave")
    ap.add_argument("--shuffle-partitions", type=int, default=16)
    ap.add_argument("--driver-memory", default="1g",
                    help="driver JVM heap, fixed and pre-touched")
    ap.add_argument("--setups", type=int, default=3,
                    help="session starts, each followed by a warm-up pass; "
                    "setup_s is their median")
    ap.add_argument("--warmup-files", type=int, default=2,
                    help="input files the warm-up pass reads")
    ap.add_argument("--settle-passes", type=int, default=1,
                    help="untimed full passes after set-up, so JIT and "
                    "allocator warm-up finish before timing")
    ap.add_argument("--min-passes", type=int, default=3)
    ap.add_argument("--rss-sample-ms", type=int, default=100)
    return ap.parse_args(argv)


def isolate_env() -> None:
    """Keep every file the run writes inside the benchmark's directory,
    and let Spark's Python workers import the engine from the checkout."""
    tmp = os.path.join(CACHE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # every JVM, spark-submit's launcher included: no /tmp/hsperfdata_*
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(CACHE, "spark-local")
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(":") if p]
    os.environ["PYTHONPATH"] = ":".join(paths)
    sys.path.insert(0, ROOT)


def session_conf(args) -> dict[str, str]:
    return {
        "spark.driver.memory": args.driver_memory,
        # a fixed, pre-touched heap: RSS then follows the Python workers
        # and off-heap buffers, not the moments G1 chooses to grow the heap
        "spark.driver.extraJavaOptions": (
            f"-Xms{args.driver_memory} -XX:+AlwaysPreTouch"
        ),
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.sql.warehouse.dir": os.path.join(CACHE, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # one task per input file: the file count is the partition count
        "spark.sql.files.maxPartitionBytes": "1g",
        "spark.sql.files.openCostInBytes": "1g",
    }


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


class Bench:
    """One run: the cached input of (workload, seed), a Spark session over
    it, and the timed passes."""

    def __init__(self, args):
        import workloads as W

        self.args = args
        self.w = W.WORKLOADS[args.workload]
        self.entry = gen.ensure(args.workload, args.seed, args.input_files)
        with open(os.path.join(self.entry, "input.json")) as fh:
            self.info = json.load(fh)
        input_dir = os.path.join(self.entry, "input")
        self.files = sorted(
            os.path.join(input_dir, f)
            for f in os.listdir(input_dir)
            if f.endswith(".parquet")
        )
        self.tracer = meter.Tracer(bool(args.trace))
        self.cache = CACHE
        self.work = WORK
        os.makedirs(WORK, exist_ok=True)
        self.spark = None
        self.jvm_proc = None

    # -- session ----------------------------------------------------------

    def start_session(self) -> None:
        from marie_icr_spark.session import build_session

        self.spark = build_session(
            app_name=f"perfbench-{self.w.name}",
            master=f"local[{self.args.cores}]",
            shuffle_partitions=self.args.shuffle_partitions,
            extra_conf=session_conf(self.args),
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        if self.jvm_proc is None:
            self.jvm_proc = self.spark.sparkContext._gateway.proc

    def shutdown(self) -> None:
        """Stop Spark and the JVM it launched, then wait until every
        process this run started (the JVM and its Python workers) has
        exited."""
        from pyspark import SparkContext

        started = [p for p in meter.tree_pids(os.getpid()) if p != os.getpid()]
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        if SparkContext._gateway is not None:
            SparkContext._gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        proc = self.jvm_proc
        if proc is not None and proc.poll() is None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        for grace_s in (30, 10):  # then SIGKILL what is left, and wait again
            deadline = time.monotonic() + grace_s
            while (alive := [p for p in started if meter.alive(p)]) \
                    and time.monotonic() < deadline:
                time.sleep(0.1)
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass

    def read(self, files=None):
        with self.tracer.span("sources.read_parquet"):
            return self.spark.read.parquet(*(files or self.files))

    def run_pass(self, files=None) -> tuple[int, int]:
        import workloads as W

        out = W.output(self.w.name, self.read(files), self.tracer)
        with self.tracer.span("sink.digest"):
            return W.digest(out, self.w.cols)

    # -- phases ------------------------------------------------------------

    def setup(self, times: int) -> float:
        """Start a session and run one pass over the first
        ``--warmup-files`` files, ``times`` times; returns the median wall
        time. The first start
        launches the JVM; later ones restart the context inside it, which
        forks fresh Python workers and so repeats their imports and
        warm-up."""
        walls = []
        for i in range(times):
            if i:
                self.spark.stop()
            t0 = time.perf_counter()
            with self.tracer.span("setup"):
                self.start_session()
                self.run_pass(self.files[: self.args.warmup_files])
            walls.append(time.perf_counter() - t0)
        log(f"setups {[round(w, 3) for w in walls]} s")
        return statistics.median(walls)

    def settle(self) -> None:
        for _ in range(self.args.settle_passes):
            self.run_pass()

    def golden(self) -> tuple[int, int]:
        import workloads as W

        path = os.path.join(self.entry, "golden.json")
        if not os.path.exists(path):
            n, h = W.digest(W.golden_frame(self.spark, self.entry), self.w.cols)
            with open(path, "w") as fh:
                json.dump({"n": n, "h": h}, fh)
        with open(path) as fh:
            d = json.load(fh)
        return d["n"], d["h"]

    def timed_passes(self, seconds: float, sampler, tag: str,
                     min_passes: int | None = None) -> list[dict]:
        """Passes until ``seconds`` have elapsed (at least ``min_passes``,
        default ``--min-passes``), each checked against the golden digest;
        a mismatch is resolved into bad units by a join."""
        import workloads as W

        gold = self.golden()
        root = os.getpid()
        sc = self.spark.sparkContext
        min_passes = min_passes or self.args.min_passes
        out: list[dict] = []
        start = time.perf_counter()
        while len(out) < min_passes or time.perf_counter() - start < seconds:
            group = f"{tag}-{len(out)}"
            sc.setJobGroup(group, group)
            self.tracer.pass_id = group
            sampler.window()
            s0 = meter.cpu_steal()
            c0 = meter.tree_cpu_s(root)
            t0 = time.perf_counter()
            with self.tracer.span("pass"):
                got = self.run_pass()
            wall = time.perf_counter() - t0
            cpu = meter.tree_cpu_s(root) - c0
            s1 = meter.cpu_steal()
            rec = {
                "pass": group, "wall_s": wall, "cpu_s": cpu,
                "peak_rss": sampler.window(), "turns": self.info["turns"],
                "steal_share": (s1[0] - s0[0]) / max(1, s1[1] - s0[1]),
                "attempted": gold[0], "failed": 0,
            }
            if got != gold:
                rec["failed"] = max(1, W.bad_units(
                    W.output(self.w.name, self.read()),
                    W.golden_frame(self.spark, self.entry),
                    self.w,
                ))
            sc.setJobGroup("idle", "idle")
            self.tracer.pass_id = None
            log(json.dumps(rec))
            out.append(rec)
        return out


def main(argv=None) -> int:
    args = parse_args(argv)
    isolate_env()
    try:
        import marie_icr_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine: {e}", file=sys.stderr)
        return 2
    import workloads as W

    if args.workload not in W.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; expected one "
              f"of {sorted(W.WORKLOADS)}", file=sys.stderr)
        return 2

    bench = Bench(args)
    try:
        with meter.RssSampler(os.getpid(), args.rss_sample_ms / 1000) as sampler:
            if args.trace:
                import probes

                metrics, units, passes = probes.traced_run(bench, sampler)
            else:
                setup_s = bench.setup(args.setups)
                bench.settle()
                passes = bench.timed_passes(args.seconds, sampler, "pass")
                metrics = {**meter.summarize(passes), "setup_s": setup_s}
                units = UNITS
    finally:
        bench.shutdown()

    failed = sum(r["failed"] for r in passes)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": sum(r["attempted"] for r in passes),
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
