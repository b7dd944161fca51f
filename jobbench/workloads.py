"""Seeded transcript tables for the job benchmark.

Two layouts of the ``(conv_id, turn_idx, role, text, tool, ts)`` table the
extraction job reads, each built from ``data/synth.py``'s ``make_rows`` and
written with its ``SCHEMA`` (``synth.py`` itself is imported, never edited):

- ``tool_turns``: ``make_rows``' conversation structure with the text
  replaced by short agent/tool turns ("ok", ``{}``, "exit code 0"), rows
  shuffled over 8 files by ``write_table``, so the Python core does almost
  nothing and the Spark layers dominate.
- ``hot_conversation``: the default ``make_rows`` text mix with one
  conversation holding about half of all turns, with files laid out by a
  hash of ``conv_id``, so one file holds the hot conversation.

Each table has a fixed number of turns, taken from a larger ``make_rows``
draw. The mixed-text table is stratified on ``make_rows``' very long turns
(40 joined corpus fragments, 3% of draws): every seed gets exactly 3% of
them. They hold about half of all characters, so their count would
otherwise move the work per turn by about 8% from seed to seed.

The same seed gives byte-identical files.
"""
from __future__ import annotations

import importlib.util
import pathlib
import random
import zlib

import pyarrow as pa
import pyarrow.parquet as pq

ROOT = pathlib.Path(__file__).resolve().parent.parent
FILES = 8

#: size of each workload; BENCHMARK.json says why each was chosen
WORKLOADS = {
    "tool_turns": {"turns": 24000},
    "hot_conversation": {"turns": 3000, "hot_turns": 1500},
}

#: short agent/tool turn texts; a few longer ones keep the core non-idle
TOOL_TEXTS = [
    "ok", "OK", "{}", "[]", "null", "true", "done", "exit code 0",
    "exit code 1", "200 OK", "1 passed", "no changes", "File saved.",
    "$ ls", "ls -la", "git status", "✓", "", "  ", "siap", "oke", "baik",
    '{"ok": true}', "Traceback", "None", "0", "42", "Rp 5.000",
]
_TOOL_LONG = [
    "Command finished; output truncated to the first 200 lines.",
    "Mohon tunggu, dokumen sedang diproses oleh sistem arsip.",
]


#: make_rows' very long turns: share of draws, and a length only they reach
LONG_SHARE = 0.03
LONG_CHARS = 2000
#: make_rows' mean turns per conversation
MEAN_TURNS = 10


def _synth():
    spec = importlib.util.spec_from_file_location("synth", ROOT / "data" / "synth.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _tool_text(rng: random.Random) -> str:
    if rng.random() < 0.02:
        return rng.choice(_TOOL_LONG)
    return rng.choice(TOOL_TEXTS)


def _stratify(rows: list[dict], n: int) -> list[dict]:
    """``n`` of ``rows``, exactly ``LONG_SHARE`` of them very long, in the
    rows' (shuffled) order."""
    n_long = round(LONG_SHARE * n)
    longs = [r for r in rows if len(r["text"]) > LONG_CHARS][:n_long]
    rest = [r for r in rows if len(r["text"]) <= LONG_CHARS][: n - n_long]
    if len(longs) < n_long or len(rest) < n - n_long:
        raise ValueError(f"draw too small for {n} turns")
    keep = {id(r) for r in longs + rest}
    return [r for r in rows if id(r) in keep]


def make(workload: str, seed: int, out_dir: pathlib.Path) -> dict:
    """Write ``workload``'s table for ``seed`` under ``out_dir``; returns
    ``{"turns", "files", "bytes"}``."""
    synth = _synth()
    size = WORKLOADS[workload]
    if workload == "tool_turns":
        rows = synth.make_rows(2 * size["turns"] // MEAN_TURNS, MEAN_TURNS, seed)[: size["turns"]]
        rng = random.Random(seed ^ 0x7001)
        for r in rows:
            r["text"] = _tool_text(rng)
        synth.write_table(str(out_dir), rows, FILES)
    elif workload == "hot_conversation":
        # make_rows' one skew conversation is the hot one; it and the rest
        # are stratified separately
        hot, convs = size["hot_turns"], 2 * (size["turns"] - size["hot_turns"]) // MEAN_TURNS
        drawn = synth.make_rows(convs, MEAN_TURNS, seed, skew_convs=1, skew_turns=2 * hot)
        hot_id = f"conv-{convs:08d}"
        rows = _stratify([r for r in drawn if r["conv_id"] == hot_id], hot)
        rows += _stratify([r for r in drawn if r["conv_id"] != hot_id], size["turns"] - hot)
        random.Random(seed).shuffle(rows)
        out_dir.mkdir(parents=True, exist_ok=True)
        buckets: list[list[dict]] = [[] for _ in range(FILES)]
        for r in rows:
            buckets[zlib.crc32(r["conv_id"].encode()) % FILES].append(r)
        for k, chunk in enumerate(buckets):
            if chunk:
                cols = {n: [r[n] for r in chunk] for n in synth.SCHEMA.names}
                pq.write_table(
                    pa.table(cols, schema=synth.SCHEMA),
                    out_dir / f"part-{k:04d}.parquet",
                )
    else:
        raise ValueError(f"unknown workload {workload!r}")
    files = sorted(out_dir.glob("*.parquet"))
    return {
        "turns": len(rows),
        "files": len(files),
        "bytes": sum(p.stat().st_size for p in files),
    }
