"""Batch job: lineage manifests, kill-and-resume, idempotence, counters."""
import json
import pathlib
import sys

import pytest

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent / "data"))
import synth  # noqa: E402

from ocr_spark.plans.job import ExtractionJob  # noqa: E402


@pytest.fixture(scope="module")
def transcripts(tmp_path_factory):
    path = tmp_path_factory.mktemp("transcripts")
    rows = synth.make_rows(n_convs=40, mean_turns=6, seed=7)
    synth.write_table(str(path), rows, files=6)
    return str(path), len(rows)


def test_run_and_counters(spark, transcripts, tmp_path):
    path, n_rows = transcripts
    job = ExtractionJob(spark, path, str(tmp_path / "out"), groups=3)
    summary = job.run()
    assert summary["turns"] == n_rows
    assert summary["groups"] == 3
    assert summary["bytes_extracted"] > 0
    # output parquet holds every turn with the full output schema
    out = spark.read.parquet(str(tmp_path / "out" / "group=*"))
    assert out.count() == n_rows
    for col in ["normalized_text", "dictionary_corrections", "quality", "spans"]:
        assert col in out.columns
    # manifests carry lineage
    manifests = sorted((tmp_path / "out" / "_manifests").glob("group-*.json"))
    assert len(manifests) == 3
    m0 = json.loads(manifests[0].read_text())
    assert m0["status"] == "complete" and m0["input_files"]
    # each manifest records the map-stage fan-out its group ran with
    assert all(
        json.loads(p.read_text())["map_tasks"] == job.partitions_per_group
        for p in manifests
    )


def _part_files(group_dir: pathlib.Path) -> list:
    return [p for p in group_dir.glob("*.parquet") if not p.name.startswith(".")]


def test_map_stage_sized_to_task_slots(spark, transcripts, tmp_path):
    """The salted map stage gets one task per slot (local[4]: 4), not
    spark.sql.shuffle.partitions; an explicit partitions_per_group wins."""
    path, _ = transcripts
    before = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        job = ExtractionJob(spark, path, str(tmp_path / "slots"), groups=2)
        assert job.partitions_per_group == spark.sparkContext.defaultParallelism == 4
        job.run(resume=False)
        wide = ExtractionJob(
            spark, path, str(tmp_path / "wide"), groups=2, partitions_per_group=6
        )
        wide.run(resume=False)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
    for k in range(2):
        assert 0 < len(_part_files(tmp_path / "slots" / f"group={k}")) <= 4
        assert 4 < len(_part_files(tmp_path / "wide" / f"group={k}")) <= 6
        m = json.loads((tmp_path / "slots" / "_manifests" / f"group-{k:04d}.json").read_text())
        assert m["map_tasks"] == 4
        m = json.loads((tmp_path / "wide" / "_manifests" / f"group-{k:04d}.json").read_text())
        assert m["map_tasks"] == 6


def test_sink_codec_readable_outside_spark(spark, tmp_path):
    """Parquet written with get_spark's default codec reads back equal in
    pyarrow and DuckDB. The text is low-redundancy (random characters) and
    its dictionary page passes 256 KB, where Hadoop-framed ``lz4`` output
    fails both readers."""
    import random
    import string

    import duckdb
    import pyarrow.parquet as pq

    rng = random.Random(5)
    alphabet = string.ascii_letters + string.digits + " "
    distinct = ["".join(rng.choices(alphabet, k=8192)) for _ in range(80)]
    rows = [(i, distinct[i % len(distinct)]) for i in range(200)]
    assert sum(len(t) for _, t in rows) >= 1 << 20
    out = tmp_path / "codec"
    spark.createDataFrame(rows, "id long, text string").coalesce(1).write.parquet(str(out))
    files = _part_files(out)
    assert len(files) == 1
    got = pq.read_table(files[0]).sort_by("id")
    assert list(zip(got["id"].to_pylist(), got["text"].to_pylist())) == rows
    got = duckdb.sql(f"SELECT id, text FROM read_parquet('{files[0]}') ORDER BY id").fetchall()
    assert got == rows


def test_resume_skips_completed_groups(spark, transcripts, tmp_path):
    path, n_rows = transcripts
    out = str(tmp_path / "out")
    job = ExtractionJob(spark, path, out, groups=3)
    # simulate a kill after group 0: run only group 0, leave 1..2 undone
    groups = job.input_file_groups()
    job.run_group(0, groups[0])
    # a corrupt/partial manifest for group 1 must NOT count as done
    job.manifest_dir.mkdir(parents=True, exist_ok=True)
    (job.manifest_dir / "group-0001.json").write_text("{not json")
    assert job.completed_groups() == {0}
    summary = job.run(resume=True)
    assert summary["resumed_groups"] == [0]
    assert summary["turns"] == n_rows
    df = spark.read.parquet(f"{out}/group=*")
    assert df.count() == n_rows


def test_rerun_is_idempotent(spark, transcripts, tmp_path):
    path, n_rows = transcripts
    out = str(tmp_path / "out")
    job = ExtractionJob(spark, path, out, groups=2)
    s1 = job.run()
    s2 = ExtractionJob(spark, path, out, groups=2).run()  # fresh instance, resume
    assert s1["turns"] == s2["turns"] == n_rows
    assert s2["resumed_groups"] == [0, 1]
    assert spark.read.parquet(f"{out}/group=*").count() == n_rows


def test_resume_revalidates_lineage(spark, transcripts, tmp_path):
    """A manifest only skips its group when the recorded input_files match
    the current chunking — a changed --groups (or files arriving) must
    re-extract everything shifted, not silently skip."""
    path, _ = transcripts
    out = str(tmp_path / "out")
    ExtractionJob(spark, path, out, groups=4).run()
    job2 = ExtractionJob(spark, path, out, groups=2)
    groups2 = job2.input_file_groups()
    assert job2.completed_groups(groups2) == set()  # chunking shifted
    summary = job2.run(resume=True)
    assert summary["resumed_groups"] == []  # everything re-ran
    # same chunking -> all groups skip
    job3 = ExtractionJob(spark, path, out, groups=2)
    assert job3.completed_groups(job3.input_file_groups()) == {0, 1}


def test_resume_revalidates_flags(spark, transcripts, tmp_path):
    """A resume with different extraction flags (or a different learned
    kamus) must re-run completed groups — skipping would mix two
    configurations (epochs) in one output dataset."""
    path, _ = transcripts
    out = str(tmp_path / "out")
    ExtractionJob(spark, path, out, groups=2).run()
    same = ExtractionJob(spark, path, out, groups=2)
    assert same.completed_groups(same.input_file_groups()) == {0, 1}
    flipped = ExtractionJob(spark, path, out, groups=2, use_spelling=False)
    assert flipped.completed_groups(flipped.input_file_groups()) == set()
    # a learned kamus with the SAME word count but different words must
    # also invalidate (content hash, not size)
    ExtractionJob(spark, path, out, groups=2)  # baseline has no kamus
    with_kamus = ExtractionJob(spark, path, out, groups=2)
    with_kamus.extra_kamus = frozenset({"zzyqx"})
    assert with_kamus.completed_groups(with_kamus.input_file_groups()) == set()


def test_load_learned_resolves_versioned_pointer(spark, transcripts, tmp_path):
    """--learned-words pointing at a streaming-accrued versioned table
    resolves the _CURRENT snapshot pointer."""
    from pyspark.sql import functions as F

    from ocr_spark.streaming.extract_stream import learning_foreach_batch

    learned = str(tmp_path / "learned_v")
    batch = spark.createDataFrame(
        [(["zzyqx"], "2026-01-01 00:00:00")] * 5,
        "unknown_words array<string>, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    learning_foreach_batch(learned)(batch, 0)  # freq 5 -> auto-approved
    path, _ = transcripts
    job = ExtractionJob(
        spark, path, str(tmp_path / "out"), learned_words_path=learned
    )
    assert job.extra_kamus == frozenset({"zzyqx"})
