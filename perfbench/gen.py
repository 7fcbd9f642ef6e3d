"""Seeded benchmark inputs and their goldens, cached per (workload, seed).

Everything here is plain Python + numpy + pyarrow: no Spark session is
needed to build an input or its golden, so generation stays outside the
benchmark's set-up time and costs a few seconds per new seed.

Payloads follow the invertible construction of
``marie_icr_spark.sources.transcripts.transcripts_from_docs``: a document's
words are reflowed into canonical 8-word lines and wrapped as HTML,
layout-JSON word boxes, markdown, plain text or an empty payload. The
expected extracted text of every non-empty turn is therefore the canonical
lines joined with ``"\\n"`` - computed here from the document text, not by
running an extractor. ``perfbench/tests`` checks that this generator emits
exactly the rows ``transcripts_from_docs`` emits for the same documents.

Each cache entry is a directory under ``perfbench/.cache/``:

* ``input/part-NNNNN.parquet`` - the transcripts, one file per input
  partition;
* ``golden.parquet`` - the expected output rows of one pass;
* ``input.json`` - kind counts, conversation-length distribution, bytes.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
CACHE_DIR = os.path.join(HERE, ".cache")

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
WORDS_PER_LINE = 8
CONV_MOD = 89
EPOCH_UNIX = 1_735_689_600
ROLES = ("user", "assistant", "tool", "system")
KINDS = ("html", "layout", "markdown", "plain", "empty")

_HTML_HEAD = (
    "<html><head><title>doc</title><style>.m{color:#000}</style></head>"
    "<body><nav><ul><li><a href=\"#\">Home</a></li>"
    "<li><a href=\"#\">About</a></li></ul></nav>"
    "<div class=\"cookie-banner\">We use cookies <a href=\"#\">Accept</a></div>"
    "<div id=\"content\">"
)
_HTML_TAIL = (
    "</div><footer><a href=\"#\">Privacy</a> <a href=\"#\">Terms</a></footer>"
    "<script>var a=1;</script></body></html>"
)
_MD_TAIL = (
    "\n\n```json\n{\"tool\": \"bash\", \"args\": {\"cmd\": \"ls\"}}\n```\n\n"
    "QWxvbmdiYXNlNjRibG9iftw0Tm9pc2VQYXlsb2FkQmxvYkJsb2JCbG9i\n"
)

TRANSCRIPT_PA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
    ]
)
EXTRACT_GOLDEN_PA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("payload_kind", pa.string()),
        ("extracted_text", pa.string()),
        ("span_count", pa.int32()),
    ]
)
ASSEMBLE_GOLDEN_PA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("conversation_text", pa.string()),
        ("turn_count", pa.int64()),
    ]
)
TEMPLATE_GOLDEN_PA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("label", pa.string()),
        ("x", pa.int32()),
        ("y", pa.int32()),
        ("w", pa.int32()),
        ("h", pa.int32()),
        ("score", pa.float64()),
        ("rank", pa.int32()),
    ]
)


# ---------------------------------------------------------------------------
# Documents and payloads
# ---------------------------------------------------------------------------


def documents(rng: np.random.Generator, n_docs: int) -> list[str]:
    """Seeded document texts: 10..100 words drawn from ``VOCAB``."""
    lens = rng.integers(10, 101, n_docs)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    out, o = [], 0
    for n in lens:
        out.append(" ".join([VOCAB[i] for i in words[o : o + n]]))
        o += n
    return out


def canonical_lines(text: str) -> list[str]:
    words = text.split()
    return [
        " ".join(words[i : i + WORDS_PER_LINE])
        for i in range(0, len(words), WORDS_PER_LINE)
    ]


def _layout_payload(vid: int, lines: list[str]) -> str:
    """Scrambled layout-JSON word boxes (the grid and md5 scramble of
    ``transcripts._layout_payload_udf``)."""
    entries = []
    gi = 0
    for ln, line in enumerate(lines):
        x = 0
        for w in line.split(" "):
            key = hashlib.md5(f"{vid}:{gi}".encode()).hexdigest()
            entries.append((key, w, x, ln * 20, 9 * len(w)))
            x += 9 * (len(w) + 1)
            gi += 1
    entries.sort()
    return json.dumps(
        [{"text": w, "box": [x, y, ww, 16]} for _, w, x, y, ww in entries],
        separators=(",", ":"),
    )


def payload(kind: str, vid: int, lines: list[str]) -> str:
    """The invertible payload of one turn; ``vid`` keys the layout scramble
    and picks between the two empty forms."""
    if kind == "html":
        return _HTML_HEAD + "".join(f"<p>{ln}</p>" for ln in lines) + _HTML_TAIL
    if kind == "layout":
        return _layout_payload(vid, lines)
    if kind == "markdown":
        return "\n\n".join(lines) + _MD_TAIL
    if kind == "plain":
        return "\t" + "\n\n".join(lines).replace(" ", "  ") + " \n"
    return "" if vid % 2 == 0 else "  \n "


def kind_of_bucket(kb: int) -> str:
    """The pinned 40/25/25/8/2 html/layout/markdown/plain/empty split."""
    if kb < 40:
        return "html"
    if kb < 65:
        return "layout"
    if kb < 90:
        return "markdown"
    if kb < 98:
        return "plain"
    return "empty"


def tool_of(kind: str) -> str:
    return {"html": "browser", "layout": "pdf_reader"}.get(kind, "")


# ---------------------------------------------------------------------------
# Transcript tables
# ---------------------------------------------------------------------------


def invertible_rows(
    docs: list[str], replicate: int, kinds: tuple[str, ...] = KINDS
) -> list[tuple]:
    """Rows of ``transcripts_from_docs(replicate=...)`` over ``docs``,
    restricted to the payload ``kinds``: ``(conv_id, turn_idx, role, text,
    tool, ts_seconds, kind, lines)``, in vid order."""
    conv_mod = CONV_MOD * max(1, int(np.sqrt(replicate)))
    doc_lines = [canonical_lines(t) for t in docs]
    want = set(kinds)
    rows = []
    for vid in range(len(docs) * replicate):
        kind = kind_of_bucket(vid % 100)
        if kind not in want:
            continue
        lines = doc_lines[vid // replicate]
        rows.append(
            (
                f"conv-{vid % conv_mod:06d}",
                vid // conv_mod,
                ROLES[vid % 4],
                payload(kind, vid, lines),
                tool_of(kind),
                EPOCH_UNIX + vid,
                kind,
                lines,
            )
        )
    return rows


def skewed_rows(
    rng: np.random.Generator,
    docs: list[str],
    n_turns: int,
    hot_turns: int,
    kind_probs: dict[str, float],
) -> list[tuple]:
    """Chat-heavy transcripts: Zipf(1.6) conversation lengths capped at 400,
    plus one hot conversation of ``hot_turns`` turns; every turn quotes a
    random document as a payload of a random kind. Row order is shuffled so
    assembly has to restore turn order itself."""
    lengths = [hot_turns]
    while sum(lengths) < n_turns:
        lengths.append(int(min(1 + rng.zipf(1.6), 400)))
    lengths[-1] -= sum(lengths) - n_turns
    names = list(kind_probs)
    kinds = rng.choice(len(names), n_turns, p=list(kind_probs.values()))
    doc_ix = rng.integers(0, len(docs), n_turns)
    doc_lines = [canonical_lines(t) for t in docs]
    rows, vid = [], 0
    for c, n in enumerate(lengths):
        for turn in range(n):
            kind = names[kinds[vid]]
            lines = doc_lines[doc_ix[vid]]
            rows.append(
                (
                    f"conv-{c:06d}",
                    turn,
                    ROLES[vid % 4],
                    payload(kind, vid, lines),
                    tool_of(kind),
                    EPOCH_UNIX + vid,
                    kind,
                    lines,
                )
            )
            vid += 1
    order = rng.permutation(len(rows))
    return [rows[i] for i in order]


def _golden_text(row: tuple) -> str:
    """A turn's expected extracted text: its canonical lines."""
    return "" if row[6] == "empty" else "\n".join(row[7])


def _extract_golden(rows: list[tuple]) -> dict:
    return {
        "conv_id": [r[0] for r in rows],
        "turn_idx": [r[1] for r in rows],
        "payload_kind": [r[6] for r in rows],
        "extracted_text": [_golden_text(r) for r in rows],
        "span_count": [0 if r[6] == "empty" else len(r[7]) for r in rows],
    }


def _assemble_golden(rows: list[tuple]) -> dict:
    by_conv: dict[str, list[tuple[int, str]]] = {}
    for r in rows:
        by_conv.setdefault(r[0], []).append((r[1], _golden_text(r)))
    convs = sorted(by_conv)
    return {
        "conv_id": convs,
        "conversation_text": [
            "\f".join(t for _, t in sorted(by_conv[c])) for c in convs
        ],
        "turn_count": [len(by_conv[c]) for c in convs],
    }


def frame_of(layout_payload: str) -> tuple[list, list, list]:
    """(words, line numbers, boxes) of a layout payload in reading order,
    as the pure-Python extractor returns them - one template-match frame."""
    from marie_icr_spark.extractors.core import extract_turn

    ws = sorted(extract_turn(layout_payload).words, key=lambda w: w["word_index"])
    return (
        [w["text"] for w in ws],
        [w["line"] for w in ws],
        [list(w["box"]) for w in ws],
    )


def _template_golden(rows: list[tuple]) -> dict:
    """Per-frame composite match (meta then prefix, GREEDYNMM) and the
    top-k per (conversation, label) cut, in the pure-Python golden contract
    of ``extractors.templatematch``."""
    from marie_icr_spark.extractors import templatematch as G

    sel = list(G.DEFAULT_SELECTORS)
    top_k = {s.label: s.top_k for s in sel}
    # a frame's matches depend only on its canonical lines (the layout
    # scramble is undone by extraction), so each distinct frame is matched
    # once
    per_lines: dict[tuple[str, ...], list[dict]] = {}
    preds: dict[tuple[str, str], list[tuple]] = {}
    for r in rows:
        key = tuple(r[7])
        if key not in per_lines:
            frame = (0, *frame_of(r[3]))
            per_lines[key] = G.composite_match_unit([frame], sel, False)
        for p in per_lines[key]:
            x, y, w, h = p["box"]
            preds.setdefault((r[0], p["label"]), []).append(
                (-p["score"], r[1], y, x, w, h)
            )
    out = {k: [] for k in TEMPLATE_GOLDEN_PA.names}
    for (conv, label), ps in sorted(preds.items()):
        for rank, (neg, ti, y, x, w, h) in enumerate(sorted(ps)[: top_k[label]], 1):
            for k, v in zip(
                TEMPLATE_GOLDEN_PA.names,
                (conv, ti, label, x, y, w, h, -neg, rank),
            ):
                out[k].append(v)
    return out


# ---------------------------------------------------------------------------
# Workload specs
# ---------------------------------------------------------------------------

#: Per-workload generator settings. ``turns`` is the size of one pass.
SPECS = {
    "extract_mix": {"docs": 1000, "replicate": 20, "kinds": KINDS},
    "skew_assemble": {
        "docs": 2000,
        "turns": 40_000,
        "hot_turns": 2_000,
        "kind_probs": {
            "plain": 0.50, "markdown": 0.42, "html": 0.03, "layout": 0.03,
            "empty": 0.02,
        },
    },
    # few documents, many frames each: the golden matches each distinct
    # frame once, the engine matches every frame
    "template_match": {"docs": 250, "replicate": 16, "kinds": ("layout",)},
}


def rows_for(workload: str, seed: int, scale: float = 1.0) -> list[tuple]:
    """The transcript rows of ``workload`` at ``seed``. ``scale`` shrinks
    the input (tests use small inputs); the benchmark always uses 1.0."""
    spec = SPECS[workload]
    rng = np.random.default_rng([seed, sorted(SPECS).index(workload)])
    docs = documents(rng, max(4, int(spec["docs"] * scale)))
    if workload == "skew_assemble":
        return skewed_rows(
            rng,
            docs,
            max(8, int(spec["turns"] * scale)),
            max(2, int(spec["hot_turns"] * scale)),
            spec["kind_probs"],
        )
    return invertible_rows(docs, spec["replicate"], spec["kinds"])


def golden_for(workload: str, rows: list[tuple]) -> pa.Table:
    if workload == "skew_assemble":
        return pa.table(_assemble_golden(rows), schema=ASSEMBLE_GOLDEN_PA)
    if workload == "template_match":
        return pa.table(_template_golden(rows), schema=TEMPLATE_GOLDEN_PA)
    return pa.table(_extract_golden(rows), schema=EXTRACT_GOLDEN_PA)


def transcript_table(rows: list[tuple]) -> pa.Table:
    return pa.table(
        [
            pa.array([r[0] for r in rows], pa.string()),
            pa.array([r[1] for r in rows], pa.int32()),
            pa.array([r[2] for r in rows], pa.string()),
            pa.array([r[3] for r in rows], pa.string()),
            pa.array([r[4] for r in rows], pa.string()),
            pa.array([r[5] * 1_000_000 for r in rows], pa.int64()).cast(
                pa.timestamp("us", tz="UTC")
            ),
        ],
        schema=TRANSCRIPT_PA,
    )


def describe(rows: list[tuple], input_bytes: int) -> dict:
    """``input.json``: kind counts, conversation-length distribution and
    its hot share, turn count and bytes."""
    kinds = {k: 0 for k in KINDS}
    lengths: dict[str, int] = {}
    for r in rows:
        kinds[r[6]] += 1
        lengths[r[0]] = lengths.get(r[0], 0) + 1
    ls = np.array(sorted(lengths.values()))
    return {
        "turns": len(rows),
        "kinds": kinds,
        "conversations": {
            "count": len(ls),
            "min": int(ls[0]),
            "median": float(np.median(ls)),
            "p90": float(np.percentile(ls, 90)),
            "max": int(ls[-1]),
            "hot_share": round(float(ls[-1] / ls.sum()), 6),
        },
        "payload_bytes": int(sum(len(r[3].encode()) for r in rows)),
        "input_file_bytes": input_bytes,
    }


def source_hash(workload: str) -> str:
    """Hash of the generator source, plus the golden contract it calls for
    ``template_match`` (the pure-Python extractors)."""
    h = hashlib.sha256()
    files = [os.path.abspath(__file__)]
    if workload == "template_match":
        import marie_icr_spark.extractors as ex

        d = os.path.dirname(ex.__file__)
        files += sorted(
            os.path.join(d, f) for f in os.listdir(d) if f.endswith(".py")
        )
    for f in files:
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:12]


def write_entry(
    path: str, workload: str, seed: int, files: int, scale: float = 1.0
) -> dict:
    """Generate ``workload`` at ``seed`` into ``path``: the input split
    evenly over ``files`` parquet files, the golden and input.json; returns
    the input.json content."""
    rows = rows_for(workload, seed, scale)
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "input"))
    table = transcript_table(rows)
    n = table.num_rows
    size = 0
    for i in range(files):
        lo, hi = n * i // files, n * (i + 1) // files
        f = os.path.join(tmp, "input", f"part-{i:05d}.parquet")
        pq.write_table(table.slice(lo, hi - lo), f)
        size += os.path.getsize(f)
    pq.write_table(golden_for(workload, rows), os.path.join(tmp, "golden.parquet"))
    info = {"workload": workload, "seed": seed, **describe(rows, size)}
    with open(os.path.join(tmp, "input.json"), "w") as fh:
        json.dump(info, fh, indent=1, sort_keys=True)
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)
    return info


def entry_path(workload: str, seed: int, files: int, cache_dir: str = CACHE_DIR) -> str:
    return os.path.join(
        cache_dir, f"{workload}-s{seed}-f{files}-{source_hash(workload)}"
    )


def ensure(workload: str, seed: int, files: int) -> str:
    """Cached entry directory for (workload, seed, file count, generator
    source), generated on first use."""
    path = entry_path(workload, seed, files)
    if not os.path.exists(os.path.join(path, "input.json")):
        os.makedirs(CACHE_DIR, exist_ok=True)
        write_entry(path, workload, seed, files)
    return path
