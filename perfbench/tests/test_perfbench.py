"""Checks of the benchmark itself.

    python3 -m pytest perfbench/tests -q

* the generator is seeded: the same seed gives the same input and golden,
  another seed gives other ones;
* the generator emits the rows ``sources.transcripts.transcripts_from_docs``
  emits for the same documents;
* a golden with one corrupted row makes ``run.py`` report exactly that one
  bad unit and exit non-zero, on every workload.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
sys.path.insert(0, ROOT)

import gen  # noqa: E402
import workloads as W  # noqa: E402

SMALL = 0.05


def _content_digest(workload: str, seed: int) -> str:
    rows = gen.rows_for(workload, seed, SMALL)
    h = hashlib.sha256()
    h.update(repr([r[:6] for r in rows]).encode())
    h.update(repr(gen.golden_for(workload, rows).to_pylist()).encode())
    return h.hexdigest()


@pytest.mark.parametrize("workload", sorted(W.WORKLOADS))
def test_seed_determines_input_and_golden(workload):
    assert _content_digest(workload, 7) == _content_digest(workload, 7)
    assert _content_digest(workload, 7) != _content_digest(workload, 8)


def test_generator_matches_transcripts_from_docs(tmp_path):
    from pyspark.sql import SparkSession

    from marie_icr_spark.sources.transcripts import transcripts_from_docs

    docs = gen.documents(np.random.default_rng(3), 40)
    pq.write_table(
        pa.table({"doc_id": pa.array(range(len(docs)), pa.int64()), "text": docs}),
        str(tmp_path / "documents.parquet"),
    )
    os.environ["PYTHONPATH"] = ":".join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(":") if p]
    )
    spark = (
        SparkSession.builder.master("local[2]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    try:
        got = transcripts_from_docs(spark, str(tmp_path), replicate=4).collect()
    finally:
        spark.stop()
    key = lambda r: (r[0], r[1])  # noqa: E731
    spark_rows = sorted(
        ((r.conv_id, r.turn_idx, r.role, r.text, r.tool,
          int(r.ts.timestamp())) for r in got),
        key=key,
    )
    ours = sorted((r[:6] for r in gen.invertible_rows(docs, 4)), key=key)
    assert spark_rows == ours


_CORRUPT = {
    "extract_mix": "extracted_text",
    "skew_assemble": "conversation_text",
    "template_match": "score",
}


@pytest.mark.parametrize("workload", sorted(W.WORKLOADS))
def test_corrupted_golden_row_fails_the_run(workload, tmp_path):
    """A copy of the benchmark whose cached golden has one wrong row: the
    timed pass must count exactly one bad unit and the run must exit 1."""
    bench = tmp_path / "perfbench"
    bench.mkdir()
    for f in os.listdir(BENCH):
        if f.endswith(".py"):
            shutil.copy(os.path.join(BENCH, f), bench / f)
    seed, files = 11, 4
    entry = gen.entry_path(workload, seed, files, str(bench / ".cache"))
    gen.write_entry(entry, workload, seed, files, scale=0.1)
    golden = pq.read_table(os.path.join(entry, "golden.parquet"))
    col = _CORRUPT[workload]
    values = golden[col].to_pylist()
    values[0] = values[0] + (0.5 if col == "score" else "corrupted")
    golden = golden.set_column(
        golden.schema.get_field_index(col), col,
        pa.array(values, golden.schema.field(col).type),
    )
    pq.write_table(golden, os.path.join(entry, "golden.parquet"))

    env = {**os.environ, "PYTHONPATH": ROOT}
    proc = subprocess.run(
        [sys.executable, str(bench / "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "0", "--trace", "0",
         "--input-files", str(files), "--setups", "1", "--warmup-files", "1",
         "--min-passes", "1"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 1, proc.stderr[-2000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"] is False
    assert result["failed"] == 1
    assert result["attempted"] == golden.num_rows
