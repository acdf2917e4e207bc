"""Checkpoint/resume semantics of the extraction sink (SURVEY.md §5.4):
kill after k ranges, re-run, assert the final table is identical to a
clean single-shot write — including the uncommitted-range crash case
(data written but manifest not committed)."""

import glob
import os
import shutil

import pytest

from occular_ocr_spark.extraction import core
from occular_ocr_spark.fixtures import transcripts_pandas
from occular_ocr_spark.sink import CheckpointedParquetSink, IcebergSink, load_manifest

N_BUCKETS = 16
N_RANGES = 4


@pytest.fixture(scope="module")
def transcripts(spark):
    df = spark.createDataFrame(transcripts_pandas(n_convs=40, seed=7))
    df.cache().count()
    yield df
    df.unpersist()


def _rows(spark, sink):
    out = sink.read(spark).select(
        "conv_id", "turn_idx", "method", "text", "src_snapshot_id",
        "extractor_version", "part_bucket",
    )
    return sorted(tuple(r) for r in out.collect())


def test_clean_write_then_partial_resume_match(spark, transcripts, tmp_path_factory):
    clean_dir = str(tmp_path_factory.mktemp("clean"))
    resume_dir = str(tmp_path_factory.mktemp("resumed"))

    clean = CheckpointedParquetSink(clean_dir, N_BUCKETS, N_RANGES)
    committed = clean.write(transcripts, src_snapshot_id=99)
    assert len(committed) == N_RANGES
    assert clean.is_complete()

    # "Kill" after 2 of 4 ranges.
    part = CheckpointedParquetSink(resume_dir, N_BUCKETS, N_RANGES)
    first = part.write(transcripts, src_snapshot_id=99, max_ranges=2)
    assert len(first) == 2 and not part.is_complete()
    partial_rows = _rows(spark, part)
    assert 0 < len(partial_rows) < len(_rows(spark, clean))

    # Resume: only the 2 uncommitted ranges run.
    second = part.write(transcripts, src_snapshot_id=99)
    assert len(second) == 2 and part.is_complete()
    assert {e["range_id"] for e in first} | {e["range_id"] for e in second} == set(
        range(N_RANGES)
    )
    assert _rows(spark, part) == _rows(spark, clean)


def test_completed_write_is_noop(spark, transcripts, tmp_path):
    sink = CheckpointedParquetSink(str(tmp_path), N_BUCKETS, N_RANGES)
    sink.write(transcripts, src_snapshot_id=1)
    before = _rows(spark, sink)
    assert sink.write(transcripts, src_snapshot_id=1) == []
    assert _rows(spark, sink) == before


def test_crash_between_data_and_manifest_is_idempotent(spark, transcripts, tmp_path):
    """Worst-case crash window: range data fully written, manifest commit
    lost.  The re-run must overwrite (not duplicate) that range."""
    sink = CheckpointedParquetSink(str(tmp_path), N_BUCKETS, N_RANGES)
    sink.write(transcripts, src_snapshot_id=5, max_ranges=1)
    manifest = load_manifest(str(tmp_path))
    assert list(manifest) == [0]
    # simulate the lost commit
    os.remove(os.path.join(str(tmp_path), "_manifest", "range-00000.json"))
    assert load_manifest(str(tmp_path)) == {}

    sink.write(transcripts, src_snapshot_id=5)
    rows = _rows(spark, sink)
    keys = [(r[0], r[1]) for r in rows]
    assert len(keys) == len(set(keys)), "duplicate (conv_id, turn_idx) after resume"
    assert sink.is_complete()

    clean_dir = str(tmp_path) + "-clean"
    try:
        clean = CheckpointedParquetSink(clean_dir, N_BUCKETS, N_RANGES)
        clean.write(transcripts, src_snapshot_id=5)
        assert rows == _rows(spark, clean)
    finally:
        shutil.rmtree(clean_dir, ignore_errors=True)


def test_manifest_lineage_and_metrics(spark, transcripts, tmp_path):
    sink = CheckpointedParquetSink(str(tmp_path), N_BUCKETS, N_RANGES)
    entries = sink.write(transcripts, src_snapshot_id=77)
    total = sink.read(spark).count()
    assert sum(e["metrics"]["n_rows"] for e in entries) == total
    for e in entries:
        m = e["metrics"]
        assert e["src_snapshot_id"] == 77
        assert e["extractor_version"].startswith("occular-ocr-spark/")
        assert m["n_html"] + m["n_pdf"] + m["n_markup"] + m["n_plain"] == m["n_rows"]
        assert 0 < m["n_convs"] <= m["n_rows"]
    # bucket ranges tile [0, N_BUCKETS) exactly
    covered = sorted(
        b for e in entries for b in range(e["bucket_lo"], e["bucket_hi"] + 1)
    )
    assert covered == list(range(N_BUCKETS))


def _turns(spark, seed, n_convs=20):
    return spark.createDataFrame(transcripts_pandas(n_convs=n_convs, seed=seed))


def _clean_rows(spark, df, path, **kw):
    clean = CheckpointedParquetSink(path, N_BUCKETS, N_RANGES)
    clean.write(df, **kw)
    return _rows(spark, clean)


def test_new_snapshot_recomputes_every_range(spark, tmp_path):
    """Data A under snapshot 1, then data B under snapshot 2: the table
    must equal a clean write of B, stamped with snapshot 2 everywhere.
    B has fewer conversations, so some of A's buckets get no new rows."""
    a, b = _turns(spark, 1), _turns(spark, 2, n_convs=5)
    sink = CheckpointedParquetSink(str(tmp_path / "s"), N_BUCKETS, N_RANGES)
    sink.write(a, src_snapshot_id=1)
    rows_a = _rows(spark, sink)
    assert len(sink.write(b, src_snapshot_id=2)) == N_RANGES
    got = _rows(spark, sink)
    assert got == _clean_rows(spark, b, str(tmp_path / "clean"), src_snapshot_id=2)
    assert {r[4] for r in got} == {2}
    assert [r[3] for r in got] != [r[3] for r in rows_a]  # B's texts differ from A's
    assert sink.is_complete()


@pytest.mark.parametrize("change", [{"force_ocr": True}, {"strategy": "plain_only"}])
def test_extractor_change_recomputes_every_range(spark, transcripts, tmp_path, change):
    sink = CheckpointedParquetSink(str(tmp_path / "s"), N_BUCKETS, N_RANGES)
    sink.write(transcripts, src_snapshot_id=3)
    again = sink.write(transcripts, src_snapshot_id=3, **change)
    assert len(again) == N_RANGES
    assert all(e["force_ocr"] == change.get("force_ocr", False) for e in again)
    assert _rows(spark, sink) == _clean_rows(
        spark, transcripts, str(tmp_path / "clean"), src_snapshot_id=3, **change
    )
    assert sink.write(transcripts, src_snapshot_id=3, **change) == []


def test_extractor_version_bump_recomputes_every_range(spark, transcripts, tmp_path, monkeypatch):
    sink = CheckpointedParquetSink(str(tmp_path), N_BUCKETS, N_RANGES)
    sink.write(transcripts, src_snapshot_id=4)
    monkeypatch.setattr(core, "EXTRACTOR_VERSION", core.EXTRACTOR_VERSION + "+bump")
    again = sink.write(transcripts, src_snapshot_id=4)
    assert len(again) == N_RANGES
    assert all(e["extractor_version"] == core.EXTRACTOR_VERSION for e in again)


def test_num_buckets_change_raises_before_writing(spark, transcripts, tmp_path):
    out = str(tmp_path)
    CheckpointedParquetSink(out, N_BUCKETS, N_RANGES).write(transcripts, src_snapshot_id=1)

    def tree():
        return sorted(
            (p, os.path.getsize(p), os.stat(p).st_mtime_ns)
            for p in glob.glob(os.path.join(out, "**"), recursive=True)
        )

    before = tree()
    with pytest.raises(ValueError, match=f"num_buckets={N_BUCKETS}.*num_buckets=8"):
        CheckpointedParquetSink(out, 8, 8).write(transcripts, src_snapshot_id=1)
    assert tree() == before


def test_range_split_change_never_reuses_overwritten_buckets(spark, tmp_path):
    """4 ranges under snapshot 1, 2 ranges under snapshot 2, then 4 ranges
    under snapshot 1 again: the first run's records for ranges 2-3 cover
    buckets the second run overwrote, so they must not be reused."""
    a, b = _turns(spark, 1), _turns(spark, 2)
    out = str(tmp_path / "s")
    CheckpointedParquetSink(out, N_BUCKETS, N_RANGES).write(a, src_snapshot_id=1)
    CheckpointedParquetSink(out, N_BUCKETS, 2).write(b, src_snapshot_id=2)
    sink = CheckpointedParquetSink(out, N_BUCKETS, N_RANGES)
    assert len(sink.write(a, src_snapshot_id=1)) == N_RANGES
    assert _rows(spark, sink) == _clean_rows(spark, a, str(tmp_path / "clean"), src_snapshot_id=1)


def test_iceberg_sink_raises_without_runtime(spark):
    """Detect-and-use: without the iceberg-spark-runtime jar the sink
    must fail at construction with a pointer to the parquet twin."""
    from occular_ocr_spark.sink import iceberg_runtime_available

    if iceberg_runtime_available(spark):
        pytest.skip("iceberg runtime present; covered by the iceberg-marked test")
    with pytest.raises(NotImplementedError, match="CheckpointedParquetSink"):
        IcebergSink(spark, "cat.db.extracted")


@pytest.mark.iceberg
def test_iceberg_sink_merge_contract(spark, tmp_path):
    """Runs ONLY on a jar-equipped box (pytest -m iceberg): create the
    bucket-partitioned table, MERGE twice (idempotence), read back."""
    from occular_ocr_spark.sink import iceberg_runtime_available

    if not iceberg_runtime_available(spark):
        pytest.skip("iceberg-spark-runtime jar not on classpath")
    spark.conf.set(
        "spark.sql.catalog.occtest", "org.apache.iceberg.spark.SparkCatalog"
    )
    spark.conf.set("spark.sql.catalog.occtest.type", "hadoop")
    spark.conf.set("spark.sql.catalog.occtest.warehouse", str(tmp_path / "wh"))
    sink = IcebergSink(spark, "occtest.db.extracted", num_buckets=8)
    df = spark.createDataFrame(
        [("c1", 0, "hello world"), ("c1", 1, "second turn"), ("c2", 0, "other")],
        "conv_id string, turn_idx int, text string",
    )
    sink.write(df, src_snapshot_id=7)
    assert sink.read().count() == 3
    sink.write(df, src_snapshot_id=7)  # MERGE idempotence: no dup rows
    assert sink.read().count() == 3
    row = sink.read().where("conv_id = 'c1' AND turn_idx = 0").collect()[0]
    assert row["text"] == "hello world" and row["src_snapshot_id"] == 7
