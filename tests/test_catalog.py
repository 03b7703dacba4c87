"""Test-table loading (catalog.load_table): the footer schema, the
NTZ→timestamp mapping and the legacy TIMESTAMP(NANOS) branch."""

from __future__ import annotations

import glob

from pyspark.sql.types import (
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
)

from yahoofinancedatalake_spark.catalog import load_table
from yahoofinancedatalake_spark.schemas import TESTDATA_TABLES

NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"


def jobs_in_group(sc, group: str, build):
    """Run ``build`` under job group ``group``; return its result and
    the number of jobs the group ran, counted once the listener bus
    has delivered every job start."""
    sc.setJobGroup(group, group)
    try:
        out = build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _ntz_as_timestamp(schema: StructType) -> StructType:
    return StructType([
        StructField(f.name, TimestampType(), f.nullable, f.metadata)
        if isinstance(f.dataType, TimestampNTZType) else f
        for f in schema
    ])


def test_load_table_runs_no_job_and_keeps_the_inferred_schema(spark):
    """Building any test table's frame runs no Spark job (the schema
    comes from the footer, not from an inference job), and the schema
    is Spark's own inference with NTZ read as timestamp."""
    sc = spark.sparkContext
    sf_dirs = sorted(glob.glob("/root/testdata/sf*"))
    assert sf_dirs
    for sf_dir in sf_dirs:
        for name in TESTDATA_TABLES:
            df, n_jobs = jobs_in_group(
                sc, "load_table_jobs", lambda: load_table(spark, sf_dir, name)
            )
            assert n_jobs == 0, (sf_dir, name, n_jobs)
            inferred = spark.read.parquet(f"{sf_dir}/{name}.parquet").schema
            assert df.schema == _ntz_as_timestamp(inferred), (sf_dir, name)


def test_load_table_reads_legacy_nanos_events(spark, tmp_path):
    """Events whose ``ts`` is TIMESTAMP(NANOS) load as timestamp,
    truncated to the micros file's rows, and no events read changes
    the session's nanosAsLong conf."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    src = "/root/testdata/sf0.01"
    table = pq.read_table(f"{src}/events.parquet")
    i = table.schema.get_field_index("ts")
    micros = table.column(i).cast(pa.int64())
    nanos = pc.add(pc.multiply(micros, 1000), 7).cast(pa.timestamp("ns"))
    pq.write_table(
        table.set_column(i, "ts", nanos),
        tmp_path / "events.parquet",
        coerce_timestamps=None,
    )
    written = pq.read_schema(tmp_path / "events.parquet")
    assert written.field("ts").type.unit == "ns"

    conf_before = spark.conf.get(NANOS_AS_LONG, None)
    want = load_table(spark, src, "events")
    assert spark.conf.get(NANOS_AS_LONG, None) == conf_before
    got = load_table(spark, str(tmp_path), "events")
    assert spark.conf.get(NANOS_AS_LONG, None) == conf_before

    assert dict(got.dtypes)["ts"] == "timestamp"
    assert got.schema == want.schema
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
