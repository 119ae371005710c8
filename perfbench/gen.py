"""Seeded inputs for the benchmark workloads, with their ground truth.

Every input is a pure function of (kind, seed, rows): the same
arguments give the same rows and the same truth record.
Generated files are cached under ``<cache_dir>/<kind>-s<seed>-<rows>/``
so a repeated seed skips generation.

- ``transcripts``: ``fixtures.generate_transcripts`` (clean variant),
  generated CHUNK_ROWS turns at a time so a bench-scale input never sits
  in memory whole. Its payload lengths are clipped at 8000 before the
  ``c<conv>:<turn>:`` prefix is added, so a handful of rows exceed
  ``maxLength: 8000``; the truth counts them per day instead of assuming
  zero violations.
- ``dense``: the same table with every conversation moved to the day it
  started (so a day-batched run never splits a conversation) and about
  1 % ``enum`` (role) and 1 % ``pattern`` (text prefix) violations
  injected with vectorized ``pc.if_else``.
- ``tool_args``: tool-call argument documents for five tool schemas,
  about 1 % invalid, one planted defect per invalid document. Each free-text
  field (query, code, URL path, edit text, command) has the length law of a
  transcript turn's text in ``fixtures.generate_transcripts``: lognormal
  (mu 5, sigma 1) clipped to [1, 8000], random lowercase ASCII. That law is
  the repo's own model, not a measured tool-call mix.
"""

from __future__ import annotations

import json
import math
import os
import shutil
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

MAX_TEXT = 8000  # transcripts_spec(): text maxLength
VIOLATION_RATE = 0.01
TRUTH = "truth.json"
PARTS = 8  # parquet files of a small input: every core gets scan tasks
PART_ROWS = 250_000  # rows per parquet file at most
CHUNK_ROWS = 1_000_000  # transcript turns generated at once (about 1 GB peak)


def _transcripts_table(seed: int, rows: int, chunk: int = 0) -> pa.Table:
    """The first ``rows`` turns of a generated fixture. Cutting at a fixed
    row count keeps the amount of work the same for every seed (the Zipf
    conversation lengths make the fixture's own size vary by several
    percent); the cut conversation keeps turns 0..k, which is valid.
    Chunk ``k > 0`` draws from the stream ``[seed, k]`` and writes ``k`` into
    the first two digits of ``conv_id`` (always ``00`` in the fixture), so
    chunks share no conversation key."""
    from jsonschema_validator_spark import fixtures

    n_convs = rows // 25 + 1  # about 30 turns per conversation on average
    while True:
        # generate_transcripts takes a scale name; register this size
        # under a private name rather than reuse a scale of another size
        scale = f"perfbench_{n_convs}"
        fixtures.SCALES.setdefault(scale, dict(n_convs=n_convs, whales=3, whale_len=5000))
        table = fixtures.generate_transcripts(scale, seed=[seed, chunk] if chunk else seed, dirty=False).table
        if table.num_rows >= rows:
            break
        n_convs *= 2
    table = table.slice(0, rows)
    if chunk:
        conv = pc.binary_join_element_wise(
            pa.scalar(f"c{chunk:02d}"), pc.utf8_slice_codeunits(table["conv_id"], 3), pa.scalar("")
        )
        table = table.set_column(table.schema.get_field_index("conv_id"), "conv_id", conv)
    return table


def _count_by(keys: pa.Array, mask: pa.Array | None = None) -> dict[str, int]:
    t = pa.table({"k": keys})
    if mask is not None:
        t = t.filter(mask)
    g = t.group_by("k").aggregate([([], "count_all")])
    return dict(zip(g["k"].to_pylist(), g["count_all"].to_pylist()))


def transcripts(seed: int, rows: int, write) -> dict:
    """Clean transcripts, written a chunk at a time, and, per day, the row
    count and the number of rows over ``maxLength`` (the only row check
    the clean table fails)."""
    truth = {"rows": 0, "rows_per_day": Counter(), "max_length_per_day": Counter()}
    for chunk, lo in enumerate(range(0, rows, CHUNK_ROWS)):
        table = _transcripts_table(seed, min(CHUNK_ROWS, rows - lo), chunk)
        too_long = pc.greater(pc.utf8_length(table["text"]), MAX_TEXT)
        truth["rows"] += table.num_rows
        truth["rows_per_day"].update(_count_by(table["day"]))
        truth["max_length_per_day"].update(_count_by(table["day"], too_long))
        write(table)
    return truth


def dense(seed: int, rows: int, write) -> dict:
    """Violation-dense transcripts and the violation rows expected per
    keyword from ``CheckSuite(transcripts_spec()).violations``."""
    table = _transcripts_table(seed, rows)
    n = table.num_rows
    turn = table["turn_idx"].to_numpy()
    starts = np.flatnonzero(turn == 0)
    conv_no = np.cumsum(turn == 0) - 1
    day = table["day"].combine_chunks().take(pa.array(starts[conv_no]))

    rng = np.random.default_rng([seed, 1])
    u = rng.random(n)
    # enum: only rows with no tool, so the tool=>role dependency stays
    # satisfied and each injected row yields exactly one violation row
    bad_role = pa.array((u < VIOLATION_RATE) & pc.is_null(table["tool"]).to_numpy(zero_copy_only=False))
    bad_text = pa.array((u >= VIOLATION_RATE) & (u < 2 * VIOLATION_RATE))
    text = table["text"].combine_chunks()
    role = pc.if_else(bad_role, pa.scalar("operator"), table["role"])
    # same length, so maxLength counts are unchanged
    x, empty = pa.scalar("X", text.type), pa.scalar("", text.type)
    text = pc.if_else(
        bad_text, pc.binary_join_element_wise(x, pc.utf8_slice_codeunits(text, 1), empty), text
    )
    table = (
        table.set_column(table.schema.get_field_index("day"), "day", day)
        .set_column(table.schema.get_field_index("role"), "role", role)
        .set_column(table.schema.get_field_index("text"), "text", text)
    )
    truth = {
        "rows": n,
        "days": sorted(_count_by(day)),
        "violations_per_keyword": {
            "enum": int(pc.sum(bad_role).as_py() or 0),
            "pattern": int(pc.sum(bad_text).as_py() or 0),
            "maxLength": int(pc.sum(pc.greater(pc.utf8_length(text), MAX_TEXT)).as_py() or 0),
        },
    }
    write(table)
    return truth


TOOL_SCHEMAS: dict[str, dict] = {
    "search": {
        "type": "object",
        "required": ["query"],
        "properties": {
            "query": {"type": "string", "minLength": 1},
            "top_k": {"type": "integer", "minimum": 1, "maximum": 50},
            "site": {"type": "string", "pattern": "^[a-z0-9.-]+$"},
        },
        "additionalProperties": False,
    },
    "python": {
        "type": "object",
        "required": ["code"],
        "properties": {
            "code": {"type": "string"},
            "timeout_s": {"type": "number", "minimum": 0, "maximum": 600},
        },
        "additionalProperties": False,
    },
    "browser": {
        "type": "object",
        "required": ["url", "action"],
        "properties": {
            "url": {"type": "string", "pattern": "^https?://"},
            "action": {"enum": ["open", "click", "scroll", "back"]},
        },
        "additionalProperties": False,
    },
    "editor": {
        "type": "object",
        "required": ["path", "edits"],
        "properties": {
            "path": {"type": "string", "pattern": "^/"},
            "edits": {
                "type": "array",
                "items": {
                    "type": "object",
                    "required": ["line", "text"],
                    "properties": {"line": {"type": "integer", "minimum": 1}, "text": {"type": "string"}},
                    "additionalProperties": False,
                },
            },
        },
        "additionalProperties": False,
    },
    "bash": {
        "type": "object",
        "required": ["cmd"],
        "properties": {
            "cmd": {"type": "string"},
            "env": {"type": "object", "additionalProperties": {"type": "string"}},
        },
    },
}
TOOLS = tuple(TOOL_SCHEMAS)
WORDS = ("alpha", "beta", "gamma", "delta", "spark", "json", "schema", "turn", "tool", "agent")
MAX_EDITS = 3


def _texts(rng: np.random.Generator, n: int) -> list[str]:
    """``n`` random lowercase strings whose lengths follow the turn text of
    ``fixtures.generate_transcripts``: lognormal(5, 1) clipped to [1, 8000]."""
    lens = np.clip(rng.lognormal(5.0, 1.0, size=n), 1, MAX_TEXT).astype(np.int64)
    pool = rng.integers(97, 123, size=int(lens.sum()), dtype=np.uint8).tobytes().decode("ascii")
    ends = np.cumsum(lens).tolist()
    return [pool[e - k : e] for e, k in zip(ends, lens.tolist())]


def _valid_args(tool: str, r: np.ndarray, t: list[str]) -> dict:
    """A document valid under TOOL_SCHEMAS[tool]; ``r`` is 4 uniform ints
    that pick the optional fields and values, ``t`` holds MAX_EDITS free
    texts."""
    w = WORDS[r[0] % len(WORDS)]
    if tool == "search":
        d = {"query": t[0]}
        if r[2] % 2:
            d["top_k"] = int(1 + r[3] % 50)
        if r[2] % 3 == 0:
            d["site"] = f"{w}.example.org"
        return d
    if tool == "python":
        d = {"code": t[0]}
        if r[2] % 2:
            d["timeout_s"] = float(r[3] % 600) + 0.5
        return d
    if tool == "browser":
        return {"url": f"https://{w}.example.org/{t[0]}", "action": ("open", "click", "scroll", "back")[r[2] % 4]}
    if tool == "editor":
        k = int(r[2] % (MAX_EDITS + 1))
        return {"path": f"/src/{w}.py", "edits": [{"line": int(1 + (r[3] + j) % 900), "text": t[j]} for j in range(k)]}
    d = {"cmd": t[0]}
    if r[2] % 2:
        d["env"] = {"HOME": "/home/agent", w.upper(): str(r[3])}
    return d


def _break(tool: str, d: dict, r: np.ndarray) -> dict:
    """Plant exactly one defect that makes ``d`` invalid; the kind cycles
    over required / enum / pattern / bounds / nested items /
    additionalProperties."""
    k = int(r[1] % 3)
    if tool == "search":
        if k == 0:
            del d["query"]
        elif k == 1:
            d["site"] = "Bad Site!"
        else:
            d["extra"] = 1
    elif tool == "python":
        if k == 0:
            del d["code"]
        elif k == 1:
            d["timeout_s"] = 900
        else:
            d["sandbox"] = True
    elif tool == "browser":
        if k == 0:
            d["action"] = "teleport"
        elif k == 1:
            d["url"] = "ftp://" + d["url"][8:]
        else:
            del d["url"]
    elif tool == "editor":
        if k == 0:
            d["edits"] = d["edits"] + [{"line": 0, "text": "x"}]
        elif k == 1:
            d["path"] = d["path"].lstrip("/")
        else:
            d["edits"] = d["edits"] + [{"line": 3, "text": "y", "col": 2}]
    else:
        if k == 0:
            del d["cmd"]
        else:
            d["env"] = {"N": 1}
    return d


def tool_args(seed: int, n_docs: int, write) -> dict:
    """(doc_id, tool, args) rows; the truth holds the sorted ids of invalid
    documents and the documents' JSON bytes."""
    rng = np.random.default_rng([seed, 2])
    tool_no = rng.integers(0, len(TOOLS), size=n_docs)
    invalid = rng.random(n_docs) < VIOLATION_RATE
    r = rng.integers(0, 1 << 30, size=(n_docs, 4))
    texts = _texts(rng, n_docs * MAX_EDITS)
    docs = []
    for i in range(n_docs):
        tool = TOOLS[tool_no[i]]
        d = _valid_args(tool, r[i], texts[i * MAX_EDITS : (i + 1) * MAX_EDITS])
        docs.append(json.dumps(_break(tool, d, r[i]) if invalid[i] else d, separators=(",", ":")))
    table = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "tool": pa.array(np.array(TOOLS)[tool_no]),
            "args": pa.array(docs, type=pa.string()),
        }
    )
    write(table)
    return {"rows": n_docs, "invalid_ids": np.flatnonzero(invalid).tolist(), "json_bytes": sum(map(len, docs))}


BUILDERS = {"transcripts": transcripts, "dense": dense, "tool_args": tool_args}


def cached(cache_dir: str, kind: str, seed: int, rows: int) -> tuple[str, dict]:
    """Parquet directory of the input for (kind, seed, rows) and its truth,
    generating both on a cache miss. The truth file is written last, so
    its presence marks a complete entry."""
    d = os.path.join(cache_dir, f"{kind}-s{seed}-{rows}")
    data, truth_path = os.path.join(d, "data"), os.path.join(d, TRUTH)
    if not os.path.exists(truth_path):
        shutil.rmtree(d, ignore_errors=True)  # an interrupted generation
        os.makedirs(data)
        part_rows = min(PART_ROWS, math.ceil(rows / PARTS))
        written = 0

        def write(table: pa.Table) -> None:
            # files of contiguous rows, at least PARTS for a whole input
            nonlocal written
            n = table.num_rows
            k = math.ceil(n / part_rows)
            for i in range(k):
                lo, hi = i * n // k, (i + 1) * n // k
                pq.write_table(table.slice(lo, hi - lo), os.path.join(data, f"part-{written:03d}.parquet"))
                written += 1

        truth = BUILDERS[kind](seed, rows, write)
        truth["input_bytes"] = sum(os.path.getsize(os.path.join(data, f)) for f in os.listdir(data))
        with open(truth_path + ".tmp", "w") as f:
            json.dump(truth, f)
        os.replace(truth_path + ".tmp", truth_path)
    with open(truth_path) as f:
        return data, json.load(f)
