"""Iceberg sink gate behavior and DDL."""

from engine.spark.iceberg import iceberg_available
from engine.spark.transcripts import synthesize_transcripts


def test_iceberg_gate_reports_unavailable_in_sandbox(spark):
    # no iceberg runtime jar in this container: the gate must say so
    # (rather than exploding later inside DDL)
    assert iceberg_available(spark) is False


def test_iceberg_ddl_matches_job_schemas(spark):
    """The Iceberg tables' column lists are the schemas the parquet job
    writes: run_extraction's columns, job.METRICS_SCHEMA, and
    job.CHECKPOINT_SCHEMA plus the snapshot_id lineage pointer. Plain
    Spark DDL, so no Iceberg jar is needed to check them."""
    import pyarrow as pa
    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import to_arrow_schema

    from engine.spark import iceberg
    from engine.spark.job import CHECKPOINT_SCHEMA, METRICS_SCHEMA
    from engine.spark.pipeline import run_extraction

    columns = iceberg.table_columns(spark)
    results = run_extraction(synthesize_transcripts(spark, 2, 2), num_partitions=2)
    ddl = T.StructType.fromDDL(columns[iceberg.RESULTS_TABLE])
    assert ddl.names == results.columns and len(ddl.names) == 38
    assert [f.dataType.simpleString() for f in ddl] == [
        f.dataType.simpleString() for f in results.schema
    ]

    def arrow_fields(table):
        return [(f.name, f.type) for f in to_arrow_schema(T.StructType.fromDDL(columns[table]))]

    assert arrow_fields(iceberg.METRICS_TABLE) == [(f.name, f.type) for f in METRICS_SCHEMA]
    assert "wall_s" in METRICS_SCHEMA.names
    assert arrow_fields(iceberg.CHECKPOINT_TABLE) == [
        (f.name, f.type) for f in CHECKPOINT_SCHEMA
    ] + [("snapshot_id", pa.int64())]
