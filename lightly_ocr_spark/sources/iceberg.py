"""Iceberg sink adapter (gated: the runtime jar is absent in this image).

north_rule targets Iceberg tables; this sandbox ships no
`iceberg-spark-runtime` jar (probed: `org.apache.iceberg.spark.SparkCatalog`
is not loadable — see `iceberg_available()`).  The jobs therefore write
parquet plus JSON commit markers through `sources.commit`: data files land
first, the atomic marker write IS the commit (`extract_job`'s
`_manifests/slice-K.json`), and uncommitted output is overwritten
idempotently on retry — Iceberg's snapshot model without the jar.
`IcebergSink` is the thin mapping for when the jar is on the classpath:
`df.writeTo(table).append()` per slice, with resume reading committed
snapshot summaries instead of marker files.  No job calls it yet."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

ICEBERG_CATALOG_CLASS = "org.apache.iceberg.spark.SparkCatalog"


def iceberg_available(spark: SparkSession) -> bool:
    """True iff the Iceberg Spark runtime is on the JVM classpath."""
    try:
        spark._jvm.java.lang.Class.forName(ICEBERG_CATALOG_CLASS)
        return True
    except Exception:
        return False


class IcebergSink:
    """Slice writer against an Iceberg catalog (requires the runtime jar)."""

    def __init__(self, spark: SparkSession, table: str):
        if not iceberg_available(spark):
            raise NotImplementedError(
                "iceberg-spark-runtime jar not on the classpath; the jobs' "
                "parquet + commit-marker output (sources.commit) keeps the "
                "same commit/resume semantics"
            )
        self.spark = spark
        self.table = table

    def write_slice(self, df: DataFrame, slice_id: int) -> None:  # pragma: no cover
        # stamp the slice id into the snapshot summary — this is what
        # committed_slices() reads back for resume; without it every
        # restart would re-append all slices
        (
            df.writeTo(self.table)
            .option("snapshot-property.slice-id", str(slice_id))
            .append()
        )

    def committed_slices(self) -> set[int]:  # pragma: no cover
        rows = self.spark.sql(
            f"SELECT summary FROM {self.table}.snapshots"
        ).collect()
        return {
            int(r["summary"]["slice-id"])
            for r in rows
            if "slice-id" in r["summary"]
        }
