"""Iceberg sink: MERGE INTO results table + snapshot-based lineage.

The north rule's production sink is an Iceberg table partitioned by
bucket(conv_id) with MERGE INTO upserts and per-partition lineage
manifests. This MERGE sink is not wired yet: no job imports this
module, and it waits for the iceberg-spark-runtime jar, which the
sandbox lacks. ``iceberg_available(spark)`` probes for the catalog
classes. The jobs write the plain-parquet sink in engine.spark.job,
and the DDL here takes its column lists from the schemas that sink
writes, so the two cannot drift apart.

To enable on a real cluster:
    spark-submit \
      --packages org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:<ver> \
      --conf spark.sql.catalog.local=org.apache.iceberg.spark.SparkCatalog \
      --conf spark.sql.catalog.local.type=hadoop \
      --conf spark.sql.catalog.local.warehouse=<warehouse-path> \
      --py-files engine.zip job.py
"""

from __future__ import annotations

from typing import TYPE_CHECKING

if TYPE_CHECKING:
    from pyspark.sql import DataFrame, SparkSession

CATALOG = "local"
RESULTS_TABLE = f"{CATALOG}.db.extraction_results"
CHECKPOINT_TABLE = f"{CATALOG}.db.extraction_checkpoints"
METRICS_TABLE = f"{CATALOG}.db.extraction_metrics"


def iceberg_available(spark: "SparkSession") -> bool:
    """True iff an Iceberg catalog can actually be instantiated."""
    try:
        jvm = spark.sparkContext._jvm
        jvm.java.lang.Class.forName("org.apache.iceberg.spark.SparkCatalog")
    except Exception:
        return False
    return (
        spark.conf.get(f"spark.sql.catalog.{CATALOG}", None) is not None
    )


def table_columns(spark: "SparkSession") -> dict[str, str]:
    """DDL column list per table, from the schemas the parquet job
    writes: results as run_extraction returns them (analysed over an
    empty input, so no Spark job runs), metrics and checkpoints as
    engine.spark.job writes them, the checkpoints plus their
    ``snapshot_id`` lineage pointer."""
    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import from_arrow_schema

    from engine.spark.job import CHECKPOINT_SCHEMA, METRICS_SCHEMA
    from engine.spark.pipeline import run_extraction
    from engine.spark.schemas import TRANSCRIPT_SCHEMA

    empty = spark.createDataFrame([], TRANSCRIPT_SCHEMA)
    schemas = {
        RESULTS_TABLE: run_extraction(empty, num_partitions=1).schema,
        CHECKPOINT_TABLE: from_arrow_schema(CHECKPOINT_SCHEMA).add(
            "snapshot_id", T.LongType()
        ),
        METRICS_TABLE: from_arrow_schema(METRICS_SCHEMA),
    }
    return {
        table: ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in schema)
        for table, schema in schemas.items()
    }


def ensure_tables(spark: "SparkSession") -> None:
    """DDL for the results/checkpoint/metrics tables; bucket(conv_id)
    partitioning bounds shuffle fan-in and enables partition pruning on
    conv_id point lookups."""
    spark.sql(f"CREATE NAMESPACE IF NOT EXISTS {CATALOG}.db")
    for table, columns in table_columns(spark).items():
        spec = " PARTITIONED BY (bucket(64, conv_id))" if table == RESULTS_TABLE else ""
        spark.sql(f"CREATE TABLE IF NOT EXISTS {table} ({columns}) USING iceberg{spec}")


def merge_results(spark: "SparkSession", results: "DataFrame") -> None:
    """Idempotent upsert keyed on the stable turn identity. MERGE makes
    partition-slice re-commits after a crash exactly-once at row level
    (the parquet fallback gets the same property from dynamic partition
    overwrite)."""
    results.createOrReplaceTempView("_incoming_results")
    spark.sql(
        f"""
        MERGE INTO {RESULTS_TABLE} t
        USING _incoming_results s
        ON t.conv_id = s.conv_id AND t.turn_idx = s.turn_idx
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *
        """
    )


def current_snapshot_id(spark: "SparkSession") -> int | None:
    rows = spark.sql(
        f"SELECT snapshot_id FROM {RESULTS_TABLE}.snapshots "
        "ORDER BY committed_at DESC LIMIT 1"
    ).collect()
    return rows[0].snapshot_id if rows else None


def commit_checkpoint(
    spark: "SparkSession", run_id: str, part_ids: list[int], n_turns: dict[int, int]
) -> None:
    """Checkpoint rows carry the Iceberg snapshot id as the lineage
    pointer: resume can verify the snapshot containing a partition's
    rows still exists before skipping it."""
    snap = current_snapshot_id(spark)
    rows = [
        (run_id, p, "done", int(n_turns.get(p, 0)), snap) for p in part_ids
    ]
    spark.createDataFrame(
        rows, "run_id string, part_id int, status string, n_turns long, snapshot_id long"
    ).writeTo(CHECKPOINT_TABLE).append()
