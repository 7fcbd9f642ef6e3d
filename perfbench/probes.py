"""The traced run: per-layer metrics from spans around the benchmark's own
calls into each layer's public functions.

Spark evaluates lazily, so a span around ``extract_turns(df)`` times only
plan building. Each layer is therefore also run alone into a sink - the
``noop`` writer, or a digest where a count is wanted - under its own span
and Spark job group, and that span's time is the layer's time. Layers the
workload does not load run over a slice of its input (``SLICE_FILES``) to
keep the run short; ``METRICS.md`` lists which layer runs where.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import types as T

import gen
import meter
import workloads as W
from marie_icr_spark.extractors import templatematch as G
from marie_icr_spark.extractors.core import extract_turn, sniff_payload_kind
from marie_icr_spark.operators.assembly import assemble_conversations
from marie_icr_spark.operators.extraction import extract_turns
from marie_icr_spark.operators.templates import (
    composite_match_turns,
    meta_match_turns,
)
from marie_icr_spark.plans.lineage import SimulatedFailure, source_fingerprint
from marie_icr_spark.plans.manifest import read_results, run_extraction_job_atomic

SLICE_FILES = 4
MANIFEST_FILES = 2
# the CLI's catalog layout (jobs/run_extraction.py defaults), killed after
# half of its commits
N_BUCKETS = 64
BUCKETS_PER_COMMIT = 8
KILL_AFTER_COMMITS = N_BUCKETS // BUCKETS_PER_COMMIT // 2
SAMPLE_PER_KIND = 200
LAYERS = (
    "sources", "extraction", "extractors", "assembly", "lineage", "manifest",
    "templates", "templatematch", "sink",
)

UNITS = {
    "sources.scan_s": "s",
    "sources.input_mb": "MB",
    "extraction.boundary_s": "s",
    "extraction.extract_s": "s",
    "extraction.structs_s": "s",
    "extraction.tasks": "count",
    "extraction.task_skew": "ratio",
    "extraction.parallel_efficiency": "ratio",
    "extractors.sniff_us": "us",
    "extractors.html_us": "us",
    "extractors.layout_us": "us",
    "extractors.layout_structs_us": "us",
    "extractors.markdown_us": "us",
    "extractors.plain_us": "us",
    **{f"extractors.turns_{k}": "count" for k in gen.KINDS},
    "assembly.assemble_s": "s",
    "assembly.shuffle_write_mb": "MB",
    "assembly.spill_mb": "MB",
    "assembly.max_task_share": "ratio",
    "lineage.fingerprint_s": "s",
    "manifest.job_s": "s",
    "manifest.resume_s": "s",
    "manifest.noop_resume_s": "s",
    "manifest.read_results_s": "s",
    "manifest.commits": "count",
    "manifest.files_written": "count",
    "manifest.bytes_written_mb": "MB",
    "templates.composite_s": "s",
    "templates.meta_s": "s",
    "templatematch.frame_us": "us",
    "templates.predictions": "count",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.gc_ms": "ms",
    "machine.steal_share": "ratio",
    "trace.turns_per_s_untraced": "1/s",
    "trace.turns_per_s_traced": "1/s",
    "trace.overhead_share": "ratio",
    **{f"{layer}.self_s": "s" for layer in LAYERS},
}

#: layers run over the workload's whole input; the rest use a slice
FULL_INPUT = {
    "extract_mix": set(),
    "skew_assemble": {"assembly"},
    "template_match": {"templates"},
}

_N_SCHEMA = T.StructType([T.StructField("n", T.LongType())])


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Probe:
    def __init__(self, bench):
        self.b = bench
        self.t = bench.tracer
        self.spark = bench.spark
        self.stages: dict[str, dict] = {}
        self.m: dict[str, float] = {}

    def timed(self, name: str, fn):
        """Run ``fn`` under span and job group ``name``; returns (result,
        seconds) and keeps the group's stage counters."""
        sc = self.spark.sparkContext
        sc.setJobGroup(name, name)
        t0 = time.perf_counter()
        with self.t.span(name):
            res = fn()
        dt = time.perf_counter() - t0
        sc.setJobGroup("idle", "idle")
        self.stages[name] = meter.stage_counters(self.spark, name)
        return res, dt

    def files_for(self, layer: str) -> list[str]:
        if layer in FULL_INPUT[self.b.w.name]:
            return self.b.files
        return self.b.files[:SLICE_FILES]

    # -- layers -------------------------------------------------------------

    def sources(self) -> None:
        b = self.b
        _, self.m["sources.scan_s"] = self.timed(
            "sources.scan", lambda: _noop(b.read())
        )
        self.m["sources.input_mb"] = b.info["input_file_bytes"] / 1e6

    def extraction(self, single_turns_per_s: float) -> None:
        b = self.b

        # nested, so Spark ships it by value: workers cannot import this file
        def passthrough(batches):
            """Crosses the Arrow boundary both ways with no per-turn work."""
            for rb in batches:
                yield pa.RecordBatch.from_arrays(
                    [pa.array([rb.num_rows], pa.int64())], names=["n"]
                )

        _, self.m["extraction.boundary_s"] = self.timed(
            "extraction.boundary",
            lambda: _noop(
                b.read().select("text").mapInArrow(passthrough, _N_SCHEMA)
            ),
        )
        _, dt = self.timed(
            "extraction.extract", lambda: _noop(extract_turns(b.read()))
        )
        self.m["extraction.extract_s"] = dt
        st = max(
            self.stages["extraction.extract"]["stages"], key=lambda s: s["tasks"]
        )
        self.m["extraction.tasks"] = st["tasks"]
        self.m["extraction.task_skew"] = (
            st["task_ms_max"] / max(st["task_ms_median"], 1.0)
        )
        self.m["extraction.parallel_efficiency"] = (
            b.info["turns"] / dt
        ) / (b.args.cores * single_turns_per_s)
        _, self.m["extraction.structs_s"] = self.timed(
            "extraction.structs",
            lambda: _noop(extract_turns(b.read(), with_structs=True)),
        )

    def extractors(self, texts: list[str]) -> float:
        """Single-process µs per turn by payload kind on a fixed sample of
        the workload's payloads (kinds it lacks come from a small
        invertible sample); returns single-process turns/s over the
        workload's own payload mix."""
        rng = np.random.default_rng(self.b.args.seed)
        sample = [texts[i] for i in rng.permutation(len(texts))[:3000]]
        by_kind: dict[str, list[str]] = {k: [] for k in gen.KINDS}
        for t in sample:
            by_kind[sniff_payload_kind(t)].append(t)
        fallback = gen.invertible_rows(gen.documents(rng, 60), 10)
        for k, lst in by_kind.items():
            if len(lst) < 20:
                lst.extend(r[3] for r in fallback if r[6] == k)
            del lst[SAMPLE_PER_KIND:]

        def per_turn_us(name, fn, items):
            with self.t.span(f"extractors.{name}"):
                return _us_per_item(fn, items)

        def text_path(t):
            return extract_turn(t, with_structs=False)

        self.m["extractors.sniff_us"] = per_turn_us(
            "sniff", sniff_payload_kind, sample[: SAMPLE_PER_KIND * 2]
        )
        for k in ("html", "layout", "markdown", "plain"):
            self.m[f"extractors.{k}_us"] = per_turn_us(k, text_path, by_kind[k])
        self.m["extractors.layout_structs_us"] = per_turn_us(
            "layout_structs", extract_turn, by_kind["layout"]
        )
        for k in gen.KINDS:
            self.m[f"extractors.turns_{k}"] = self.b.info["kinds"][k]
        mix_us = per_turn_us("mix", text_path, sample[:SAMPLE_PER_KIND * 2])
        return 1e6 / mix_us

    def lineage(self) -> None:
        _, self.m["lineage.fingerprint_s"] = self.timed(
            "lineage.fingerprint", lambda: source_fingerprint(self.b.read())
        )

    def assembly(self) -> None:
        b = self.b
        path = os.path.join(self.b.work, "extracted")
        self.timed(
            "extraction.materialise",
            lambda: extract_turns(b.read(self.files_for("assembly")))
            .write.mode("overwrite").parquet(path),
        )
        _, self.m["assembly.assemble_s"] = self.timed(
            "assembly.assemble",
            lambda: _noop(assemble_conversations(self.spark.read.parquet(path))),
        )
        c = self.stages["assembly.assemble"]
        self.m["assembly.shuffle_write_mb"] = c["shuffle_write_bytes"] / 1e6
        self.m["assembly.spill_mb"] = c["spill_bytes"] / 1e6
        shares = [
            s["task_ms_max"] / s["run_ms"]
            for s in c["stages"] if s["tasks"] > 1 and s["run_ms"] > 0
        ]
        self.m["assembly.max_task_share"] = max(shares, default=1.0)
        shutil.rmtree(path, ignore_errors=True)

    def manifest(self) -> None:
        """Kill → resume → no-op rerun → read back, on ``MANIFEST_FILES``
        input files; the catalog's rows must equal direct extraction."""
        b = self.b
        files = b.files[:MANIFEST_FILES]
        cat = os.path.join(self.b.work, "catalog")
        shutil.rmtree(cat, ignore_errors=True)
        kw = dict(n_buckets=N_BUCKETS, buckets_per_commit=BUCKETS_PER_COMMIT)

        def killed():
            try:
                run_extraction_job_atomic(
                    self.spark, b.read(files), cat,
                    fail_after_commits=KILL_AFTER_COMMITS, **kw,
                )
            except SimulatedFailure:
                return
            raise RuntimeError("the injected kill did not fire")

        _, t_kill = self.timed("manifest.killed_job", killed)
        res, t_resume = self.timed(
            "manifest.resume",
            lambda: run_extraction_job_atomic(self.spark, b.read(files), cat, **kw),
        )
        noop, self.m["manifest.noop_resume_s"] = self.timed(
            "manifest.noop_resume",
            lambda: run_extraction_job_atomic(self.spark, b.read(files), cat, **kw),
        )
        got, self.m["manifest.read_results_s"] = self.timed(
            "manifest.read_results",
            lambda: W.digest(read_results(self.spark, cat), W.EXTRACT_COLS),
        )
        want = W.digest(extract_turns(b.read(files)), W.EXTRACT_COLS)
        if got != want or noop["buckets_processed"]:
            raise RuntimeError(
                f"catalog read-back {got} differs from direct extraction {want}"
                f" or the no-op rerun re-extracted {noop['buckets_processed']}"
            )
        self.m["manifest.job_s"] = t_kill + t_resume
        self.m["manifest.resume_s"] = t_resume
        self.m["manifest.commits"] = KILL_AFTER_COMMITS + res["commits"]
        n_files = n_bytes = 0
        for d, _, fs in os.walk(cat):
            for f in fs:
                n_files += 1
                n_bytes += os.path.getsize(os.path.join(d, f))
        self.m["manifest.files_written"] = n_files
        self.m["manifest.bytes_written_mb"] = n_bytes / 1e6
        shutil.rmtree(cat, ignore_errors=True)

    def templates(self) -> None:
        b = self.b
        files = self.files_for("templates")
        path = os.path.join(self.b.work, "structs")
        self.timed(
            "extraction.materialise_structs",
            lambda: extract_turns(b.read(files), with_structs=True)
            .write.mode("overwrite").parquet(path),
        )
        structs = self.spark.read.parquet(path)
        (n, _), self.m["templates.composite_s"] = self.timed(
            "templates.composite",
            lambda: W.digest(composite_match_turns(structs), (("label", "string"),)),
        )
        self.m["templates.predictions"] = n
        _, self.m["templates.meta_s"] = self.timed(
            "templates.meta", lambda: _noop(meta_match_turns(structs))
        )
        shutil.rmtree(path, ignore_errors=True)
        layout = [
            t for t in _texts(files)[:2000] if sniff_payload_kind(t) == "layout"
        ][:SAMPLE_PER_KIND]
        frames = [(0, *gen.frame_of(t)) for t in layout]
        sel = list(G.DEFAULT_SELECTORS)
        with self.t.span("templatematch.frame"):
            self.m["templatematch.frame_us"] = _us_per_item(
                lambda f: G.composite_match_unit([f], sel, False), frames
            )


def _texts(files: list[str]) -> list[str]:
    return [
        t for f in files for t in pq.read_table(f, columns=["text"])["text"].to_pylist()
    ]


def _us_per_item(fn, items, repeats: int = 3, min_s: float = 0.05) -> float:
    """Median over ``repeats`` of µs per item, each repeat looping over
    ``items`` until ``min_s`` has passed."""
    out = []
    for _ in range(repeats):
        n = 0
        t0 = time.perf_counter()
        while True:
            for x in items:
                fn(x)
            n += len(items)
            dt = time.perf_counter() - t0
            if dt >= min_s:
                break
        out.append(1e6 * dt / n)
    return statistics.median(out)


def traced_run(bench, sampler):
    """One set-up, two untraced and two traced timed passes, then every
    layer probe. Returns (metrics, units, passes) and writes the spans to
    ``.cache/traces/``."""
    args = bench.args
    tracer = bench.tracer
    tracer.enabled = False
    bench.setup(1)
    bench.settle()
    # untraced and traced passes in ABBA order, so warm-up drift over the
    # run falls on both sides alike
    untraced, traced = [], []
    for block, order in enumerate(((False, True), (True, False))):
        for on in order:
            tracer.enabled = on
            tag = f"{'traced' if on else 'untraced'}{block}"
            got = bench.timed_passes(0, sampler, tag, min_passes=1)
            (traced if on else untraced).extend(got)
    tracer.enabled = True
    pass_counters = [meter.stage_counters(bench.spark, r["pass"]) for r in traced]

    p = Probe(bench)
    p.sources()
    single = p.extractors(_texts(bench.files))
    p.extraction(single)
    p.lineage()
    p.assembly()
    p.templates()
    p.manifest()

    m = p.m
    u = meter.summarize(untraced)["turns_per_s"]
    t = meter.summarize(traced)["turns_per_s"]
    m["trace.turns_per_s_untraced"] = u
    m["trace.turns_per_s_traced"] = t
    m["trace.overhead_share"] = 1.0 - t / u
    for k in ("jobs", "tasks", "gc_ms"):
        m[f"spark.{k}"] = statistics.median(c[k] for c in pass_counters)
    passes = untraced + traced
    m["machine.steal_share"] = statistics.median(r["steal_share"] for r in passes)
    self_s = tracer.self_times()
    for layer in LAYERS:
        m[f"{layer}.self_s"] = self_s.get(layer, 0.0)

    out_dir = os.path.join(bench.cache, "traces")
    os.makedirs(out_dir, exist_ok=True)
    out = os.path.join(out_dir, f"trace-{args.workload}-s{args.seed}.json")
    with open(out, "w") as fh:
        json.dump(
            {
                "workload": args.workload,
                "seed": args.seed,
                "metrics": m,
                "self_s": self_s,
                "spans": tracer.spans,
                "stages": {
                    **p.stages,
                    **{r["pass"]: c for r, c in zip(traced, pass_counters)},
                },
                "passes": passes,
            },
            fh,
            indent=1,
        )
    return m, UNITS, passes
