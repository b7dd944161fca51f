"""Per-layer measurement for the job benchmark: spans, the rung ladder and
the in-process per-stage timing.

The ladder runs the job's pipeline over the whole input as one Spark job,
adding one layer per rung, each written to the ``noop`` sink except the
last:

1. ``spark.read.parquet`` (scan)
2. + ``salted_repartition`` (shuffle)
3. + an identity Arrow UDF returning an ``EXTRACT_SCHEMA`` struct (exchange)
4. ``extract_turns`` in place of the identity UDF (core)
5. + the parquet sink

A layer's time is its rung minus the rung below; ``job.s`` is the full
``ExtractionJob.run`` minus rung 5 (per-group Spark jobs, ``Observation``,
manifests).
"""
from __future__ import annotations

import contextlib
import functools
import json
import pathlib
import random
import shutil
import time
import uuid
from typing import Iterator

import pandas as pd
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ocr_spark.functions import textops
from ocr_spark.functions.udfs import EXTRACT_SCHEMA
from ocr_spark.operators.extraction import OUTPUT_COLUMNS, extract_turns, salted_repartition
from ocr_spark.plans import job as job_module
from ocr_spark.plans.job import INPUT_COLUMNS

#: |rung deltas + job.s - untraced full job| / untraced full job within
#: which the traced split is taken to account for the untraced job
LADDER_TOLERANCE = 0.15
SPAN_KINDS = ("phrase", "word", "currency", "spelling")


class Tracer:
    """In-memory spans (name, start, end, parent, run id), written out once
    at the end of a run."""

    def __init__(self):
        self.run_id = uuid.uuid4().hex
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {
            "id": sid, "name": name, "run_id": self.run_id,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(), "end": None, **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    @contextlib.contextmanager
    def patched(self, owner, attr: str, name: str):
        """Record a span around every call of ``owner.attr`` while active."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*a, **kw):
            with self.span(name):
                return orig(*a, **kw)

        setattr(owner, attr, wrapper)
        try:
            yield
        finally:
            setattr(owner, attr, orig)

    def write(self, path: pathlib.Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text("".join(json.dumps(s) + "\n" for s in self.spans))


def make_identity_udf(batches_acc):
    """An Arrow UDF with the extraction UDF's input and output types that
    does no per-turn work: it prices the JVM<->Python exchange alone."""
    quality = {
        "overall": 0, "label": "", "confidence": 0.0, "dictionary_match": 0.0,
        "correction_rate": 0.0, "total_words": 0, "matched_words": 0,
        "corrected_words": 0,
    }

    @pandas_udf(EXTRACT_SCHEMA)
    def identity(batches: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        for texts in batches:
            batches_acc.add(1)
            n = len(texts)
            yield pd.DataFrame({
                "extracted_text": texts,
                "normalized_text": texts,
                "dictionary_corrections": [0] * n,
                "spelling_changes": [0] * n,
                "quality": [quality] * n,
                "unknown_words": [[] for _ in range(n)],
                "spans": [[] for _ in range(n)],
            })

    return identity


def _flatten(df, udf):
    out = df.withColumn("_x", udf(F.col("text")))
    for name in OUTPUT_COLUMNS:
        out = out.withColumn(name, F.col(f"_x.{name}"))
    return out.drop("_x")


def _timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def run_ladder(spark, tracer: Tracer, files: list[str], partitions: int,
               salt_buckets: int, sink_dir: pathlib.Path) -> tuple[dict, int]:
    """One pass over rungs 1-5; returns ``{rung: seconds}`` and the Arrow
    batch count of rung 3."""
    acc = spark.sparkContext.accumulator(0)
    identity = make_identity_udf(acc)

    def scan():
        return spark.read.parquet(*files).select(*INPUT_COLUMNS)

    def shuffled():
        return salted_repartition(scan(), partitions, salt_buckets)

    def sink():
        shutil.rmtree(sink_dir, ignore_errors=True)
        extract_turns(shuffled()).write.mode("overwrite").parquet(str(sink_dir))

    rungs = {
        "rung1.scan": lambda: _noop(scan()),
        "rung2.shuffle": lambda: _noop(shuffled()),
        "rung3.exchange": lambda: _noop(_flatten(shuffled(), identity)),
        "rung4.core": lambda: _noop(extract_turns(shuffled())),
        "rung5.sink": sink,
    }
    out = {}
    for name, fn in rungs.items():
        with tracer.span(name):
            out[name] = _timed(fn)
    return out, acc.value


def shuffle_partition_rows(spark, files: list[str], partitions: int, salt_buckets: int) -> list[int]:
    """Rows in each non-empty partition after ``salted_repartition``."""
    df = salted_repartition(
        spark.read.parquet(*files).select(*INPUT_COLUMNS), partitions, salt_buckets
    )
    rows = df.groupBy(F.spark_partition_id().alias("p")).count().collect()
    return sorted(r["count"] for r in rows)


def stage_times(texts: list[str]) -> dict:
    """Time each ``textops`` stage in this process, single-threaded, chained
    as ``extract_turn`` chains them; also the share of attempted turns each
    correcting stage changed."""
    t = dict.fromkeys(("correct", "currency", "spelling", "quality", "unknown"), 0.0)
    tried = dict.fromkeys(("correct", "currency", "spelling"), 0)
    changed = dict.fromkeys(("correct", "currency", "spelling"), 0)
    clock = time.perf_counter
    for raw in texts:
        corrected, n_corr, spans = raw, 0, []
        if raw:
            t0 = clock()
            corrected, n_corr, spans = textops.correct_with_stats(raw)
            t1 = clock()
            cur, spans = textops.normalize_currency(corrected, spans)
            t2 = clock()
            t["correct"] += t1 - t0
            t["currency"] += t2 - t1
            tried["correct"] += 1
            changed["correct"] += corrected != raw
            if corrected:
                tried["currency"] += 1
                changed["currency"] += cur != corrected
            corrected = cur
        normalized = corrected
        if corrected:
            t0 = clock()
            normalized, _, spans = textops.normalize_spelling(corrected, spans)
            t["spelling"] += clock() - t0
            tried["spelling"] += 1
            changed["spelling"] += normalized != corrected
        final = normalized or corrected or raw
        t0 = clock()
        textops.quality_score(final, None, n_corr)
        t1 = clock()
        textops.unknown_words(final)
        t["unknown"] += clock() - t1
        t["quality"] += t1 - t0
    out = {f"textops.{k}.s": v for k, v in t.items()}
    for k in tried:
        out[f"textops.{k}.changed_frac"] = changed[k] / tried[k] if tried[k] else 0.0
    return out


def sample_texts(input_files: list[str], n: int, seed: int) -> list[str]:
    texts = [t for f in input_files for t in pq.read_table(f, columns=["text"]).column(0).to_pylist()]
    return random.Random(seed).sample(texts, min(n, len(texts)))


def span_counts(files: list[pathlib.Path]) -> dict:
    """Output spans by kind, counted over the job's parquet output."""
    counts = dict.fromkeys(SPAN_KINDS, 0)
    for f in files:
        flat = pc.list_flatten(pq.read_table(f, columns=["spans"]).column(0))
        kinds = pc.struct_field(flat, "kind")
        for item in pc.value_counts(kinds).to_pylist():
            if item["values"] in counts:
                counts[item["values"]] += item["counts"]
    return {f"rules.spans.{k}": v for k, v in counts.items()}


def traced_job(tracer: Tracer, job) -> dict:
    """Run ``job`` with spans around its calls into each layer."""
    with contextlib.ExitStack() as stack:
        for owner, attr, name in (
            (job_module.ExtractionJob, "run_group", "job.run_group"),
            (job_module, "salted_repartition", "operators.salted_repartition"),
            (job_module, "extract_turns", "operators.extract_turns"),
        ):
            stack.enter_context(tracer.patched(owner, attr, name))
        with tracer.span("job.run"):
            return job.run(resume=False)
