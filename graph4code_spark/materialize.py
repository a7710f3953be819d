"""Graph materialize: dedup + partitioned write + lineage metrics.

Replaces the reference's file-per-entity `.nq` writes + concat merge
(`/root/reference/src/utils.py:465-470,602-625`) with a single table
write partitioned by **(predicate short-name, subject-hash bucket)** per
the north rule.  Predicate cardinality is the fixed edge vocabulary
(~40), so `pred_name` is a safe partition column; `subj_bucket` spreads
within a predicate so hub subjects don't produce giant files and
SPARQL-style per-predicate scans prune to one directory.

Set semantics (SO1): rdflib collapses duplicate quads per graph — here
one exchange, `repartition("pred_name", "subj_bucket")` on the two layout
columns, followed by a `dropDuplicates` over the full quad key plus those
columns.  The layout columns are functions of `pred` and `subj`, so the
key is the same set, and the aggregate reuses the exchange instead of
adding a second shuffle on the quad key.  Every (pred_name, subj_bucket)
directory is then written by exactly one task, as exactly one file; AQE
still sizes the exchange (no fixed partition count).  Write parallelism
is therefore bounded by the number of directories, which `buckets`
scales.

Lineage (north rule): one `Observation` on the write carries the totals
(`n_triples`, and the HyperLogLog++ `n_graphs`/`n_subjects`, which are
order-independent and so equal an `approx_count_distinct` over the
table), so no stats pass re-scans the written table.  A per-partition
row-count table is written next to the data as one file, so a resumed
job can verify partition completeness; `n_partitions` is its row count.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from graph4code_spark.schemas import TRIPLE_COLS

#: subject-hash buckets. Local default keeps file counts sane; at the
#: 100 TB design point raise via the parameter (e.g. 256) so a single
#: (pred, bucket) partition stays in the hundreds-of-MB range.
DEFAULT_BUCKETS = 8


def pred_short_name(col):
    """Last segment of the predicate URI (after '#' or final '/')."""
    return F.element_at(F.split(col, "[#/]"), -1)


def dedup_quads(triples: DataFrame) -> DataFrame:
    return triples.dropDuplicates(TRIPLE_COLS)


def _layout_quads(triples: DataFrame, buckets: int) -> DataFrame:
    """Quads plus the two layout columns, deduplicated behind the one
    exchange that also partitions them for the write."""
    return (
        triples.withColumn("pred_name", pred_short_name(F.col("pred")))
        .withColumn("subj_bucket", F.pmod(F.xxhash64("subj"), F.lit(buckets)).cast("int"))
        .repartition("pred_name", "subj_bucket")
        .dropDuplicates([*TRIPLE_COLS, "pred_name", "subj_bucket"])
    )


def materialize_triples(
    triples: DataFrame,
    out_path: str,
    buckets: int = DEFAULT_BUCKETS,
    mode: str = "overwrite",
) -> dict:
    """Dedup + write + metrics. Returns the metrics dict (also persisted
    as `_metrics.json` beside the table)."""
    t0 = time.time()
    obs = Observation("materialize")
    df = _layout_quads(triples, buckets).observe(
        obs,
        F.count(F.lit(1)).alias("n_triples"),
        F.approx_count_distinct("graph").alias("n_graphs"),
        F.approx_count_distinct("subj").alias("n_subjects"),
    )
    (
        df.write.mode(mode)
        .option("compression", "zstd")
        .partitionBy("pred_name", "subj_bucket")
        .parquet(out_path)
    )
    metrics = {k: int(v) for k, v in obs.get.items()}
    metrics["wall_sec"] = round(time.time() - t0, 3)
    metrics["buckets"] = buckets

    spark = triples.sparkSession
    lineage_path = out_path + "_lineage"
    (
        spark.read.parquet(out_path)
        .groupBy("pred_name", "subj_bucket")
        .agg(F.count(F.lit(1)).alias("rows"))
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(lineage_path)
    )
    metrics["n_partitions"] = spark.read.parquet(lineage_path).count()

    with open(os.path.join(out_path, "_metrics.json"), "w") as f:
        json.dump(metrics, f, indent=2, sort_keys=True)
    return metrics


def read_triples(spark, path: str) -> DataFrame:
    """Read a materialized quad table back in canonical column order."""
    return spark.read.parquet(path).select(*TRIPLE_COLS)


def materialize_triples_iceberg(
    triples: DataFrame, table: str, buckets: int = DEFAULT_BUCKETS
) -> None:
    """Iceberg flavor of the sink (north rule names Iceberg as the store).

    Same layout — partitioned by (pred_name, subj_bucket) — expressed as
    an Iceberg partitioned `writeTo`.  Requires the Spark session to be
    configured with an Iceberg catalog (`spark.sql.catalog.<name>` +
    iceberg-spark-runtime on the classpath); this sandbox ships neither,
    so the parquet path above is the tested default and this function is
    exercised only for its plan construction (raises a clear error when
    the catalog is absent).  On a real cluster the two are drop-in
    equivalents: Iceberg adds snapshot isolation + hidden partitioning on
    top of the identical physical layout.
    """
    try:
        (
            _layout_quads(triples, buckets).writeTo(table)
            .partitionedBy("pred_name", "subj_bucket")
            .using("iceberg")
            .createOrReplace()
        )
    except Exception as e:
        # Only translate catalog-resolution failures into the setup hint;
        # schema/IO/permission errors re-raise untouched so the real
        # diagnosis isn't masked.
        msg = str(e)
        # only catalog-RESOLUTION error classes/codes — deliberately no
        # bare "iceberg" substring, which would also match schema/missing-
        # table/permission errors that merely name the catalog or format
        catalog_markers = (
            "CATALOG_NOT_FOUND", "Catalog not found", "is not a valid Spark catalog",
            "Cannot find catalog plugin", "NoSuchCatalogException",
            "Multi-catalog support",
            # an unregistered catalog name falls through to spark_catalog,
            # which then rejects the multi-part identifier
            "REQUIRES_SINGLE_PART_NAMESPACE",
        )
        from pyspark.errors import AnalysisException

        if isinstance(e, AnalysisException) and any(m in msg for m in catalog_markers):
            raise RuntimeError(
                f"Iceberg write to '{table}' failed — this Spark session has no "
                "Iceberg catalog. Configure spark.sql.catalog.<name>=org.apache."
                "iceberg.spark.SparkCatalog with iceberg-spark-runtime on the "
                "classpath, or use materialize_triples() (identical parquet "
                "layout) instead."
            ) from e
        raise
