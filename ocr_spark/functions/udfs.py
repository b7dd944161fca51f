"""Vectorized (Arrow-batched) pandas UDFs wrapping the extraction core.

One fused scalar pandas UDF carries the whole per-turn pipeline
(SURVEY.md §2.7): T1 multi-word -> T2/T3 word correction -> T4 currency ->
T5 spelling -> A6 scoring -> T7 unknown words, returning a single struct so
each turn crosses the JVM<->Python boundary exactly once. Iterator-of-series
form amortizes per-task setup (the compiled rule tables import once per
Python worker process, not per batch).

No per-row Python crosses the boundary — batches arrive as Arrow record
batches and the struct result returns as one Arrow array (input_hint: "no
per-row Python" refers to this boundary; inside the batch, string-mutation
work is inherently per-string, exactly like Spark's own codegen'd string
kernels are per-value).
"""
from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

QUALITY_SCHEMA = StructType(
    [
        StructField("overall", IntegerType()),
        StructField("label", StringType()),
        StructField("confidence", DoubleType()),
        StructField("dictionary_match", DoubleType()),
        StructField("correction_rate", DoubleType()),
        StructField("total_words", IntegerType()),
        StructField("matched_words", IntegerType()),
        StructField("corrected_words", IntegerType()),
    ]
)

SPAN_SCHEMA = StructType(
    [
        StructField("start", IntegerType()),
        StructField("end", IntegerType()),
        StructField("kind", StringType()),
    ]
)

EXTRACT_SCHEMA = StructType(
    [
        StructField("extracted_text", StringType()),
        StructField("normalized_text", StringType()),
        StructField("dictionary_corrections", IntegerType()),
        StructField("spelling_changes", IntegerType()),
        StructField("quality", QUALITY_SCHEMA),
        StructField("unknown_words", ArrayType(StringType())),
        StructField("spans", ArrayType(SPAN_SCHEMA)),
    ]
)


_OUT_COLS = tuple(EXTRACT_SCHEMA.fieldNames())


def make_extract_udf(
    use_dictionary: bool = True,
    use_spelling: bool = True,
    fuzzy: bool = False,
    extra_kamus: frozenset | None = None,
):
    """Build the fused extraction UDF for a given flag combination.

    Flags are closure-captured (constant per job), so Catalyst sees a plain
    deterministic scalar UDF of one string column. ``extra_kamus`` is the
    epoch snapshot of approved learned words (SURVEY.md §7.4): vocab-sized,
    so closure capture ships it once per task via the serialized UDF — the
    same cost profile as an explicit broadcast variable. The batch result is
    assembled column-wise (dict-of-lists) — ``DataFrame.from_records`` over
    per-row dicts costs ~15% of the whole UDF at steady state.
    """

    @pandas_udf(EXTRACT_SCHEMA)
    def extract(batches: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        # import inside the worker: rule tables compile once per process
        from ocr_spark.functions.textops import extract_turn

        for texts in batches:
            cols: dict[str, list] = {name: [] for name in _OUT_COLS}
            for t in texts:
                out = extract_turn(
                    t if isinstance(t, str) else None,
                    use_dictionary=use_dictionary,
                    use_spelling=use_spelling,
                    fuzzy=fuzzy,
                    extra_kamus=extra_kamus,
                )
                cols["extracted_text"].append(out["extracted_text"])
                cols["normalized_text"].append(out["normalized_text"])
                cols["dictionary_corrections"].append(
                    out["dictionary_corrections"]
                )
                cols["spelling_changes"].append(out["spelling_changes"])
                cols["quality"].append(out["quality"])
                cols["unknown_words"].append(out["unknown_words"])
                cols["spans"].append(
                    [
                        {"start": s, "end": e, "kind": k}
                        for (s, e, k) in out["spans"]
                    ]
                )
            yield pd.DataFrame(cols, columns=list(_OUT_COLS))

    return extract


#: fused boilerplate-strip + extraction output (block counters + content
#: spans, then the full extraction struct fields)
CONTENT_EXTRACT_SCHEMA = StructType(
    [
        StructField("content_text", StringType()),
        StructField(
            "content_spans",
            ArrayType(
                StructType(
                    [
                        StructField("start", IntegerType()),
                        StructField("end", IntegerType()),
                    ]
                )
            ),
        ),
        StructField("n_blocks", IntegerType()),
        StructField("n_content_blocks", IntegerType()),
        StructField("n_boilerplate_blocks", IntegerType()),
        StructField("content_words", IntegerType()),
    ]
    + list(EXTRACT_SCHEMA.fields)
)

_CONTENT_EXTRACT_COLS = tuple(CONTENT_EXTRACT_SCHEMA.fieldNames())


def make_content_extract_udf(
    use_dictionary: bool = True,
    use_spelling: bool = True,
    fuzzy: bool = False,
    extra_kamus: frozenset | None = None,
):
    """Fused block-classification + extraction UDF: strip boilerplate and
    run the correction/scoring core on the extracted main content in ONE
    JVM↔Python crossing. The unfused composition (strip_boilerplate →
    extract_turns) pays the Arrow exchange twice and round-trips the
    intermediate content_text through the JVM; fusing halves the
    Python-exchange cost of the production path."""

    @pandas_udf(CONTENT_EXTRACT_SCHEMA)
    def run(batches: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        from ocr_spark.functions.blocks import extract_main_content
        from ocr_spark.functions.textops import extract_turn

        for texts in batches:
            cols: dict[str, list] = {name: [] for name in _CONTENT_EXTRACT_COLS}
            for t in texts:
                c = extract_main_content(t if isinstance(t, str) else None)
                cols["content_text"].append(c["content_text"])
                cols["content_spans"].append(
                    [{"start": s, "end": e} for s, e in c["content_spans"]]
                )
                for k in (
                    "n_blocks",
                    "n_content_blocks",
                    "n_boilerplate_blocks",
                    "content_words",
                ):
                    cols[k].append(c[k])
                x = extract_turn(
                    c["content_text"],
                    use_dictionary=use_dictionary,
                    use_spelling=use_spelling,
                    fuzzy=fuzzy,
                    extra_kamus=extra_kamus,
                )
                for k in _OUT_COLS:
                    if k == "spans":
                        cols[k].append(
                            [
                                {"start": s, "end": e, "kind": kind}
                                for (s, e, kind) in x[k]
                            ]
                        )
                    else:
                        cols[k].append(x[k])
            yield pd.DataFrame(cols, columns=list(_CONTENT_EXTRACT_COLS))

    return run

