"""The workloads: one timed pass each, and its golden check.

A pass runs the engine's public entry points over the cached input and
ends in an order-independent digest sink: ``bit_xor`` of ``xxhash64`` over
the output key and values, plus a row count (never ``sum``, which
overflows under ANSI mode). The same digest over ``golden.parquet`` is the
expected value. On a mismatch :func:`bad_units` joins output and golden by
key and counts the units that differ, are missing or are duplicated.
"""

from __future__ import annotations

import os
from contextlib import contextmanager
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from marie_icr_spark.extractors.templatematch import DEFAULT_SELECTORS
from marie_icr_spark.operators.assembly import assemble_conversations
from marie_icr_spark.operators.extraction import extract_turns
from marie_icr_spark.operators.templates import (
    best_per_selector,
    composite_match_turns,
)

EXTRACT_COLS = (
    ("conv_id", "string"),
    ("turn_idx", "int"),
    ("payload_kind", "string"),
    ("extracted_text", "string"),
    ("span_count", "int"),
)


@dataclass(frozen=True)
class Workload:
    name: str
    key: tuple[str, ...]
    cols: tuple[tuple[str, str], ...]  # (column, Spark type) hashed by the digest


WORKLOADS = {
    w.name: w
    for w in (
        Workload("extract_mix", ("conv_id", "turn_idx"), EXTRACT_COLS),
        Workload(
            "skew_assemble",
            ("conv_id",),
            (
                ("conv_id", "string"),
                ("conversation_text", "string"),
                ("turn_count", "bigint"),
            ),
        ),
        Workload(
            "template_match",
            ("conv_id", "label", "rank"),
            (
                ("conv_id", "string"),
                ("turn_idx", "int"),
                ("label", "string"),
                ("x", "int"),
                ("y", "int"),
                ("w", "int"),
                ("h", "int"),
                ("score", "double"),
                ("rank", "int"),
            ),
        ),
    )
}


def _row_hash(cols):
    return F.xxhash64(*[F.col(c).cast(t) for c, t in cols])


def digest(df: DataFrame, cols) -> tuple[int, int]:
    """(row count, bit_xor of per-row xxhash64) - the pass sink."""
    r = df.agg(
        F.count(F.lit(1)).alias("n"), F.bit_xor(_row_hash(cols)).alias("h")
    ).collect()[0]
    return int(r["n"]), int(r["h"] or 0)


def bad_units(out: DataFrame, golden: DataFrame, w: Workload) -> int:
    """Keys whose rows differ between ``out`` and ``golden``: a different
    value, a missing or extra key, or a duplicated row."""

    def per_key(df, tag):
        return (
            df.withColumn("_h", _row_hash(w.cols))
            .groupBy(*w.key)
            .agg(
                F.count(F.lit(1)).alias(f"{tag}_n"),
                F.min("_h").alias(f"{tag}_lo"),
                F.max("_h").alias(f"{tag}_hi"),
            )
        )

    j = per_key(out, "o").join(per_key(golden, "g"), list(w.key), "full_outer")
    same = (
        (F.col("o_n") == F.col("g_n"))
        & (F.col("o_lo") == F.col("g_lo"))
        & (F.col("o_hi") == F.col("g_hi"))
    )
    return j.where(~F.coalesce(same, F.lit(False))).count()


def output(name: str, df: DataFrame, tracer=None) -> DataFrame:
    """The output frame of one ``name`` pass over the transcripts ``df``;
    ``tracer`` (a ``meter.Tracer``) spans each call into an engine layer."""
    span = tracer.span if tracer is not None else _no_span
    with span("extraction.extract_turns"):
        ext = extract_turns(df, with_structs=name == "template_match")
    if name == "extract_mix":
        return ext
    if name == "skew_assemble":
        with span("assembly.assemble_conversations"):
            return assemble_conversations(ext)
    sel = list(DEFAULT_SELECTORS)
    with span("templates.composite_match_turns"):
        matched = composite_match_turns(ext, sel)
    with span("templates.best_per_selector"):
        return best_per_selector(matched, sel)


@contextmanager
def _no_span(name):
    yield None


def golden_frame(spark: SparkSession, entry: str) -> DataFrame:
    return spark.read.parquet(os.path.join(entry, "golden.parquet"))
