"""Output check for the job benchmark.

Every output row is reduced to a 128-bit hash of its canonical value (all
input and output columns, in a fixed order). The reference hashes come from
``textops.extract_turn`` run in-process over the same input table, without
Spark. Comparing the two maps keyed by ``(conv_id, turn_idx)`` gives the
missing, extra and mismatched turns; the order-independent table digest is
the sum of the row hashes modulo 2**128.
"""
from __future__ import annotations

import hashlib
import json
import os
import pathlib
import pickle
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq

#: bump when the row canonical form changes, to invalidate cached hashes
HASH_FORMAT = 2
INPUT_COLUMNS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
OUTPUT_COLUMNS = [
    "extracted_text", "normalized_text", "dictionary_corrections",
    "spelling_changes", "quality", "unknown_words", "spans",
]
#: quality struct fields with the type the output schema gives them
QUALITY_FIELDS = (
    ("overall", int), ("label", str), ("confidence", float),
    ("dictionary_match", float), ("correction_rate", float),
    ("total_words", int), ("matched_words", int), ("corrected_words", int),
)


def _micros(col: pa.ChunkedArray) -> list[int]:
    """Timestamps as int microseconds since the epoch, whatever the unit
    (the input is ``timestamp[us, UTC]``, Spark may write INT96 -> ns)."""
    return col.cast(pa.timestamp("us", tz=col.type.tz)).cast(pa.int64()).to_pylist()


def _row_hash(key: tuple, row: dict) -> int:
    q = row["quality"]
    value = [
        key[0], key[1], row["role"], row["text"], row["tool"], row["ts"],
        row["extracted_text"], row["normalized_text"],
        row["dictionary_corrections"], row["spelling_changes"],
        None if q is None else [cast(q[f]) for f, cast in QUALITY_FIELDS],
        row["unknown_words"],
        [list(s.values()) if isinstance(s, dict) else list(s) for s in row["spans"] or ()],
    ]
    blob = json.dumps(value, ensure_ascii=False).encode("utf-8", "surrogatepass")
    return int.from_bytes(hashlib.blake2b(blob, digest_size=16).digest(), "big")


def _rows(table: pa.Table) -> list[dict]:
    ts = _micros(table.column("ts"))
    rows = table.drop_columns(["ts"]).to_pylist()
    for r, t in zip(rows, ts):
        r["ts"] = t
    return rows


def _reference_chunk(rows: list[dict]) -> list[tuple[str, int, int]]:
    from ocr_spark.functions.textops import extract_turn

    out = []
    for r in rows:
        x = extract_turn(r["text"] if isinstance(r["text"], str) else None)
        out.append((r["conv_id"], r["turn_idx"], _row_hash((r["conv_id"], r["turn_idx"]), {**r, **x})))
    return out


def reference_hashes(input_dir: pathlib.Path, workers: int) -> dict[tuple, int]:
    """Row hashes of the expected output, computed with ``extract_turn``
    over the input table in ``workers`` child processes (this file run as
    a script: a pickled chunk of rows in, its pickled hashes out). Plain
    child processes, not ``multiprocessing``, whose resource tracker would
    outlive the caller."""
    rows = _rows(pa.concat_tables(pq.read_table(p) for p in sorted(input_dir.glob("*.parquet"))))
    n = max(1, workers)
    chunks = [rows[i::n] for i in range(n)]
    if n == 1:
        parts = [_reference_chunk(chunks[0])]
    else:
        procs = [
            subprocess.Popen([sys.executable, __file__], stdin=subprocess.PIPE, stdout=subprocess.PIPE)
            for _ in chunks
        ]
        try:
            # each child reads all of its input before it writes anything
            for proc, chunk in zip(procs, chunks):
                pickle.dump(chunk, proc.stdin)
                proc.stdin.close()
            parts = []
            for proc in procs:
                parts.append(pickle.load(proc.stdout))
                proc.stdout.close()
                if proc.wait() != 0:
                    raise RuntimeError(f"reference worker exited with {proc.returncode}")
        finally:
            for proc in procs:
                if proc.poll() is None:
                    proc.kill()
                proc.wait()
    return {(c, t): h for part in parts for (c, t, h) in part}


def cached_reference(input_dir: pathlib.Path, cache: pathlib.Path, workers: int) -> dict[tuple, int]:
    """``reference_hashes`` cached in ``cache``, keyed by the input bytes."""
    h = hashlib.sha256()
    for p in sorted(input_dir.glob("*.parquet")):
        h.update(p.name.encode())
        h.update(p.read_bytes())
    input_sha = h.hexdigest()
    if cache.exists():
        blob = json.loads(cache.read_text())
        if blob.get("input_sha") == input_sha and blob.get("format") == HASH_FORMAT:
            return {(c, t): int(x, 16) for c, t, x in blob["rows"]}
    ref = reference_hashes(input_dir, workers)
    cache.parent.mkdir(parents=True, exist_ok=True)
    tmp = cache.with_suffix(f".tmp{os.getpid()}")
    tmp.write_text(json.dumps({
        "input_sha": input_sha,
        "format": HASH_FORMAT,
        "rows": [[c, t, f"{x:032x}"] for (c, t), x in ref.items()],
    }))
    tmp.rename(cache)
    return ref


def output_files(output_dir: pathlib.Path) -> list[pathlib.Path]:
    return sorted(p for p in output_dir.rglob("*.parquet") if not p.name.startswith("."))


def observed_hashes(output_dir: pathlib.Path) -> tuple[dict[tuple, int], int]:
    """Row hashes of the job's parquet output; also returns the number of
    rows whose key was already seen (duplicates)."""
    seen: dict[tuple, int] = {}
    dups = 0
    for f in output_files(output_dir):
        for r in _rows(pq.read_table(f, columns=INPUT_COLUMNS + OUTPUT_COLUMNS)):
            key = (r["conv_id"], r["turn_idx"])
            if key in seen:
                dups += 1
            seen[key] = _row_hash(key, r)
    return seen, dups


def table_digest(hashes: dict[tuple, int]) -> str:
    return f"{sum(hashes.values()) % (1 << 128):032x}"


def check(ref: dict[tuple, int], output_dir: pathlib.Path) -> dict:
    """Compare the output under ``output_dir`` with the reference hashes."""
    obs, dups = observed_hashes(output_dir)
    missing = sum(1 for k in ref if k not in obs)
    extra = sum(1 for k in obs if k not in ref) + dups
    mismatched = sum(1 for k, h in obs.items() if k in ref and ref[k] != h)
    return {
        "turns": len(ref),
        "missing": missing,
        "extra": extra,
        "mismatched": mismatched,
        "failed": missing + extra + mismatched,
        "digest_ok": table_digest(obs) == table_digest(ref) and not dups,
        "keys_equal": obs.keys() == ref.keys() and not dups,
    }


if __name__ == "__main__":
    sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))
    pickle.dump(_reference_chunk(pickle.load(sys.stdin.buffer)), sys.stdout.buffer)
