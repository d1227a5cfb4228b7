"""catalog.table: a fresh DataFrame per call over a remembered schema."""

from __future__ import annotations

import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampNTZType, TimestampType

from tytodb_spark.catalog import TABLES, load_tables, table, table_path
from tytodb_spark.queries import REGISTRY

# Columns stored as parquet timestamps in the testdata; each must read as
# TIMESTAMP (not TIMESTAMP_NTZ, not LONG).
TIMESTAMP_COLUMNS = {
    "orders": {"o_orderdate"},
    "lineitem": {"l_shipdate"},
    "events": {"ts"},
}


def _inferred(spark, path: str):
    """Reference read that infers the schema on every call: the catalog's
    conversions without the remembered schema."""
    df = spark.read.parquet(path)
    for f in pq.read_schema(path):
        if str(f.type) == "timestamp[ns]":
            df = df.withColumn(f.name, F.expr(f"timestamp_micros(`{f.name}` div 1000)"))
    for f in df.schema.fields:
        if isinstance(f.dataType, TimestampNTZType):
            df = df.withColumn(f.name, F.to_timestamp(F.col(f.name)))
    return df


def _jobs(spark, fn) -> int:
    """Number of Spark jobs ``fn()`` launches on this thread."""
    sc = spark.sparkContext
    group = f"test-catalog-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_every_call_returns_a_fresh_dataframe(spark, sf_dir):
    a = table(spark, sf_dir, "nation")
    b = table(spark, sf_dir, "nation")
    assert a is not b
    per_region = pq.read_table(table_path(sf_dir, "nation")).column("n_regionkey").value_counts()
    want = sum(v["counts"].as_py() ** 2 for v in per_region)
    assert a.join(b, a.n_regionkey == b.n_regionkey).count() == want


def test_memo_hit_launches_no_spark_job(spark, tmp_path):
    pq.write_table(pa.table({"k": [1, 2, 3]}), tmp_path / "region.parquet")
    assert _jobs(spark, lambda: table(spark, str(tmp_path), "region")) >= 1  # inferred
    assert _jobs(spark, lambda: table(spark, str(tmp_path), "region")) == 0
    assert table(spark, str(tmp_path), "region").count() == 3


@pytest.mark.parametrize("name", TABLES)
def test_table_matches_inferred_read(spark, sf_dir, name):
    want = _inferred(spark, table_path(sf_dir, name))
    table(spark, sf_dir, name)  # the call below is a memo hit
    got = table(spark, sf_dir, name)
    assert got.schema == want.schema
    assert sorted(map(repr, got.collect())) == sorted(map(repr, want.collect()))
    types = {f.name: f.dataType for f in got.schema.fields}
    for c in TIMESTAMP_COLUMNS.get(name, ()):
        assert types[c] == TimestampType(), (c, types[c])
    assert not any(isinstance(t, TimestampNTZType) for t in types.values())


def test_rewritten_file_is_read_with_its_new_schema(spark, tmp_path):
    """A file rewritten in place with ``ts`` as timestamp[us] after it was
    read as timestamp[ns] must not keep the nanosecond conversion."""
    sf = str(tmp_path)
    path = table_path(sf, "events")
    ns = 1_700_000_000_123_456_789
    pq.write_table(pa.table({"ts": pa.array([ns], pa.timestamp("ns"))}), path)
    df = load_tables(spark, sf)["events"]
    assert df.schema["ts"].dataType == TimestampType()
    assert df.select(F.unix_micros("ts")).first()[0] == ns // 1000  # truncated

    pq.write_table(pa.table({"ts": pa.array([ns // 1000], pa.timestamp("us"))}), path)
    df = load_tables(spark, sf)["events"]
    assert df.schema["ts"].dataType == TimestampType()
    assert df.select(F.unix_micros("ts")).first()[0] == ns // 1000


def test_q55_drops_its_tables_when_the_second_write_fails(spark, sf_dir, monkeypatch):
    from tytodb_spark.storage import bucketing

    written: list[str] = []
    real = bucketing.write_bucketed

    def failing_second(df, name, *args, **kw):
        written.append(name)
        if len(written) == 2:
            raise RuntimeError("injected write failure")
        return real(df, name, *args, **kw)

    monkeypatch.setattr(bucketing, "write_bucketed", failing_second)
    with pytest.raises(RuntimeError, match="injected write failure"):
        REGISTRY["q55_bucketed_join"].fn(spark, sf_dir)
    assert len(written) == 2 and all(n.startswith("q55_") for n in written)
    left = {t.name for t in spark.catalog.listTables()}
    assert not left & set(written), left
