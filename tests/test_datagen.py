"""datagen.load: a parquet file's inferred schema is reused within the
process, keyed on the file's footer, so repeated loads start no Spark job and
a rewritten file is never read with a stale schema."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ficaria_spark import datagen


@pytest.fixture
def fresh_memo(monkeypatch):
    """An empty schema memo, as in a process that has loaded nothing yet."""
    memo = {}
    monkeypatch.setattr(datagen, "_SCHEMAS", memo, raising=False)
    return memo


def _load_jobs(spark, group, sf_dir, name):
    """(DataFrame, ids of the Spark jobs its load started)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "count the jobs of one datagen.load")
    try:
        df = datagen.load(spark, sf_dir, name)
    finally:
        sc.setJobGroup(None, None)
    return df, sc.statusTracker().getJobIdsForGroup(group)


def _digest(df):
    return df.agg(F.count(F.lit(1)),
                  F.bit_xor(F.xxhash64(*df.columns))).collect()[0]


def test_second_load_starts_no_job(spark, sf_dir, fresh_memo):
    first, jobs1 = _load_jobs(spark, "datagen-load-first", sf_dir, "events")
    again, jobs2 = _load_jobs(spark, "datagen-load-again", sf_dir, "events")
    assert len(jobs1) >= 1, "the first load must infer the schema"
    assert jobs2 == []
    assert again.schema == first.schema
    assert isinstance(again.schema["ts"].dataType, T.TimestampType)
    assert _digest(again) == _digest(first)


def test_rewritten_file_gets_its_new_schema(spark, tmp_path, fresh_memo):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert datagen.load(spark, str(tmp_path), "t").columns == ["a"]
    pq.write_table(pa.table({"a": [3, 4], "b": ["x", "y"]}), path)
    df = datagen.load(spark, str(tmp_path), "t")
    assert df.columns == ["a", "b"]
    assert sorted(map(tuple, df.collect())) == [(3, "x"), (4, "y")]


def test_same_arrow_schema_other_parquet_type_is_reinferred(spark, tmp_path,
                                                           fresh_memo):
    """INT96 and INT64 nanosecond timestamps read back as the same Arrow
    type, but Spark reads the first as TIMESTAMP and rejects the second: a
    key on the Arrow schema would serve the INT96 file's schema to its
    rewrite."""
    path = str(tmp_path / "t.parquet")
    tbl = pa.table({"t": pa.array([1, 2], pa.timestamp("ns"))})
    pq.write_table(tbl, path, use_deprecated_int96_timestamps=True)
    df = datagen.load(spark, str(tmp_path), "t")
    assert isinstance(df.schema["t"].dataType, T.TimestampType)
    pq.write_table(tbl, path)
    with pytest.raises(Exception, match="TIMESTAMP\\(NANOS"):
        datagen.load(spark, str(tmp_path), "t").collect()


def test_directory_path_still_loads(spark, tmp_path, fresh_memo):
    spark.range(5).write.parquet(str(tmp_path / "d.parquet"))
    for _ in range(2):
        df = datagen.load(spark, str(tmp_path), "d")
        assert df.columns == ["id"] and df.count() == 5
    assert fresh_memo == {}  # directories take the plain read
