"""Iceberg catalog wiring — config-only, with a graceful parquet fallback.

The north star reads/writes Iceberg tables; in this sandbox no Iceberg
runtime jar ships, so the engine keeps one I/O seam
(`read_pages` / `write_output`) that maps onto an Iceberg catalog when
the jars are present and onto parquet paths otherwise.  Nothing else in
the engine changes: every transformation is a plain DataFrame plan, so
the catalog swap is pure configuration, exactly as on a real cluster.

On a real cluster, submit with the runtime package and the catalog conf
(`iceberg_conf` builds it):

    spark-submit \
      --packages org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:1.10.0 \
      --conf spark.sql.extensions=org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions \
      --conf spark.sql.catalog.dq=org.apache.iceberg.spark.SparkCatalog \
      --conf spark.sql.catalog.dq.type=hadoop \
      --conf spark.sql.catalog.dq.warehouse=s3://bucket/warehouse \
      ...

and pass `--format iceberg --table dq.db.pages` to the pipeline CLI.

Checkpoint mapping: the per-bucket commit protocol (checkpoint.py) is
the file-based analog of snapshot-per-batch; with a catalog present the
single-write path lands as one Iceberg snapshot via `writeTo(...)`.  The
protocol itself stays catalog-agnostic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

ICEBERG_RUNTIME_PACKAGE = "org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:1.10.0"


def iceberg_conf(
    catalog: str = "dq",
    warehouse: str = "/tmp/dq_warehouse",
    catalog_type: str = "hadoop",
) -> dict[str, str]:
    """Spark conf mapping for an Iceberg catalog (pass to
    `session.get_spark(extra_conf=...)` or as --conf pairs).
    `catalog_type` ∈ {hadoop, hive, rest} per the Iceberg docs."""
    base = f"spark.sql.catalog.{catalog}"
    return {
        "spark.sql.extensions": (
            "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions"
        ),
        base: "org.apache.iceberg.spark.SparkCatalog",
        f"{base}.type": catalog_type,
        f"{base}.warehouse": warehouse,
    }


def iceberg_available(spark: SparkSession) -> bool:
    """True iff the Iceberg Spark runtime is on the session classpath."""
    try:
        spark._jvm.java.lang.Class.forName("org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:
        return False


def read_pages(spark: SparkSession, source: str, fmt: str = "parquet") -> DataFrame:
    """One read seam for the pipeline: parquet path or catalog table name.

    fmt='iceberg' resolves `source` as <catalog>.<db>.<table> through the
    configured catalog (time travel etc. available via SQL on the same
    name).  Column pruning and predicate pushdown reach the scan in both
    modes; with Iceberg, partition pruning additionally uses the table's
    partition spec + metadata file stats.
    """
    if fmt == "iceberg":
        return spark.table(source)
    return spark.read.parquet(source)


def write_output(
    df: DataFrame,
    dest: str,
    fmt: str = "parquet",
    partition_by: list[str] | None = None,
) -> None:
    """One write seam: partitioned parquet dir (overwritten), or an Iceberg
    table write (createOrReplace = one atomic snapshot)."""
    if fmt == "iceberg":
        writer = df.writeTo(dest).using("iceberg")
        if partition_by:
            from pyspark.sql import functions as F

            writer = writer.partitionedBy(*[F.col(c) for c in partition_by])
        writer.createOrReplace()
        return
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(dest)
