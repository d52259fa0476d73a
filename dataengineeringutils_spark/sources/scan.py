"""Scan operators (B1-B2): raw parquet scan and metadata-conformed read.

The reference reads tables by downloading S3 objects into pandas and
imposing JSON metadata on the frame ([R] dataengineeringutils/s3.py +
pd_metadata_conformance.py — SURVEY.md §0). Here the scan is a lazy
Catalyst relation: column pruning and predicate pushdown reach the parquet
reader, and conformance is a single projection folded into the scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from dataengineeringutils_spark.meta import TableMeta, conform
from dataengineeringutils_spark.registry import query
from dataengineeringutils_spark.tables import table

# Metadata fixture for `customer` (FIXTURES.md "Reference-style metadata
# fixture"): declares c_nationkey as `long` so the conformance cast is a
# real widening (int32 -> int64), not an identity.
CUSTOMER_META = TableMeta.from_dict(
    {
        "name": "customer",
        "description": "conformance fixture",
        "data_format": "parquet",
        "location": "",
        "columns": [
            {"name": "c_custkey", "type": "long", "description": "pk"},
            {"name": "c_name", "type": "character", "description": ""},
            {"name": "c_nationkey", "type": "long", "description": "fk nation (widened)"},
            {"name": "c_acctbal", "type": "double", "description": ""},
            {"name": "c_mktsegment", "type": "character", "description": ""},
        ],
        "partitions": [],
    }
)


@query("scan_parquet", oracle="SELECT * FROM region")
def scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B1: full parquet scan."""
    return table(spark, sf_dir, "region")


@query(
    "scan_schema_conform",
    oracle="""
    SELECT c_custkey,
           c_name,
           CAST(c_nationkey AS BIGINT) AS c_nationkey,
           c_acctbal,
           c_mktsegment
    FROM customer
    """,
)
def scan_schema_conform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B2: metadata-driven read — impose declared order + types (A4+A5)."""
    return conform(table(spark, sf_dir, "customer"), CUSTOMER_META)


NATION_CSV_SCHEMA = "n_nationkey INT, n_name STRING, n_regionkey INT"
N_MALFORMED = 3


@query(
    "scan_csv_malformed",
    oracle=f"""
    SELECT COUNT(*) + {N_MALFORMED} AS n_rows,
           CAST({N_MALFORMED} AS BIGINT) AS n_corrupt,
           CAST(SUM(n_regionkey) AS BIGINT) AS sum_regionkey
    FROM nation
    """,
)
def scan_csv_malformed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-row handling on CSV ingest: PERMISSIVE mode with a
    ``_corrupt_record`` column — bad rows surface as NULL-typed rows
    carrying their raw text instead of failing the job or silently
    vanishing (the reference's conformance layer raises; an ingest
    pipeline at 100 TB needs the quarantine-and-count shape instead).

    The fixture mixes the nation table with 3 deliberately broken lines
    (wrong arity / non-numeric key); the op reports total, corrupt, and
    the checksum over the VALID rows only.
    """
    from pyspark.sql import functions as F

    from dataengineeringutils_spark.paths import scratch_dir
    from dataengineeringutils_spark.tables import table

    out = scratch_dir("scan_csv_malformed")
    good = table(spark, sf_dir, "nation").selectExpr(
        "concat_ws(',', n_nationkey, n_name, n_regionkey) AS line"
    )
    import pandas as pd

    # pandas -> Arrow local relation: evaluated JVM-side; a plain Python
    # list would round-trip through a Python worker (~seconds cold)
    bad = spark.createDataFrame(
        pd.DataFrame(
            {
                "line": [
                    "not_a_number,BROKENLAND,9",
                    "42,MISSING_FIELD",
                    ",,,,too,many,fields",
                ]
            }
        )
    )
    good.unionByName(bad).coalesce(1).write.mode("overwrite").text(out)
    back = spark.read.schema(
        NATION_CSV_SCHEMA + ", _corrupt_record STRING"
    ).option("mode", "PERMISSIVE").option(
        "columnNameOfCorruptRecord", "_corrupt_record"
    ).csv(out)
    # cache the per-row corrupt flag before aggregating: Spark forbids
    # filtering on the corrupt column alone from a lazy plan
    back = back.cache()
    return back.agg(
        F.count("*").alias("n_rows"),
        F.sum(F.col("_corrupt_record").isNotNull().cast("long")).alias("n_corrupt"),
        # PERMISSIVE still parses the salvageable fields of a corrupt row;
        # the checksum must cover fully-valid rows only
        F.sum(
            F.when(F.col("_corrupt_record").isNull(), F.col("n_regionkey"))
        ).cast("long").alias("sum_regionkey"),
    )


@query(
    "scan_binary_files",
    oracle="""
    SELECT COUNT(*) AS n_files,
           CAST(SUM(strlen(text)) AS BIGINT) AS total_bytes,
           CAST(MAX(strlen(text)) AS BIGINT) AS max_bytes
    FROM documents
    WHERE doc_id < 10
    """,
)
def scan_binary_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``binaryFile`` source: opaque blobs land as (path, length, content)
    rows — the ingestion front door for image/audio corpora (the
    multimodal ops downstream consume exactly this shape).

    Ten documents are materialized as raw UTF-8 files; the scan reads
    them back as binary and the aggregate proves length/content survive
    byte-exactly (strlen — byte length — on the DuckDB side). At 100 TB the same
    one-liner scan handles millions of blobs with Spark's file-listing
    parallelism; pair with ``pathGlobFilter``/``recursiveFileLookup``
    for layout control.
    """
    import os

    from pyspark.sql import functions as F

    from dataengineeringutils_spark.paths import scratch_dir
    from dataengineeringutils_spark.tables import table

    out = scratch_dir("scan_binary_docs")
    docs = (
        table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 10)
        .select("doc_id", "text")
        .collect()
    )
    for r in docs:
        with open(os.path.join(out, f"doc_{r.doc_id}.bin"), "wb") as f:
            f.write(r.text.encode("utf-8"))
    back = spark.read.format("binaryFile").option("pathGlobFilter", "*.bin").load(out)
    return back.agg(
        F.count("*").alias("n_files"),
        F.sum(F.length("content")).cast("long").alias("total_bytes"),
        F.max(F.length("content")).cast("long").alias("max_bytes"),
    )


@query(
    "scan_nested_pruned",
    oracle="""
    SELECT o_orderpriority AS priority,
           COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS sum_price
    FROM orders
    WHERE o_orderkey < 5000
    GROUP BY o_orderpriority
    ORDER BY priority
    """,
)
def scan_json_nested_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-struct source with NESTED-SCHEMA PRUNING: orders are
    written as parquet documents with a nested struct
    (`order.header.{priority, price}`, `order.lines` array); the query
    touches only two leaf fields, and Catalyst prunes the read schema
    to exactly those leaves (`nestedSchemaPruning`, pinned by plan
    test) — the untouched lines array is never decoded OR read off
    disk (parquet stores each leaf as its own column chunk).

    At 100 TB of document-shaped data this is the difference between
    materializing whole documents and reading two columns. (JSON/CSV
    sources don't participate in SchemaPruning — that asymmetry is
    exactly why document pipelines convert to parquet first.) The
    artifact is written once per (session, sf) like the other source
    fixtures.
    """
    from pyspark.sql import functions as F

    from dataengineeringutils_spark.artifacts import session_dir

    def build(out: str) -> None:
        o = table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 5000)
        nested = o.select(
            F.struct(
                F.struct(
                    F.col("o_orderpriority").alias("priority"),
                    F.col("o_totalprice").alias("price"),
                ).alias("header"),
                F.array(
                    F.struct(
                        F.col("o_orderkey").alias("k"),
                        F.col("o_custkey").alias("c"),
                    )
                ).alias("lines"),
            ).alias("order")
        )
        nested.coalesce(2).write.mode("overwrite").parquet(out)

    out = session_dir(spark, "scan_nested", sf_dir, build)
    back = spark.read.parquet(out)
    return (
        back.groupBy(F.col("order.header.priority").alias("priority"))
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("order.header.price").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_price"),
        )
        .orderBy("priority")
    )


@query(
    "scan_parquet_footer_stats",
    oracle="""
    SELECT 'customer' AS table_name, (SELECT CAST(COUNT(*) AS BIGINT) FROM customer) AS num_rows
    UNION ALL SELECT 'documents', (SELECT COUNT(*) FROM documents)
    UNION ALL SELECT 'embeddings', (SELECT COUNT(*) FROM embeddings)
    UNION ALL SELECT 'events', (SELECT COUNT(*) FROM events)
    UNION ALL SELECT 'lineitem', (SELECT COUNT(*) FROM lineitem)
    UNION ALL SELECT 'nation', (SELECT COUNT(*) FROM nation)
    UNION ALL SELECT 'orders', (SELECT COUNT(*) FROM orders)
    UNION ALL SELECT 'part', (SELECT COUNT(*) FROM part)
    UNION ALL SELECT 'region', (SELECT COUNT(*) FROM region)
    UNION ALL SELECT 'supplier', (SELECT COUNT(*) FROM supplier)
    """,
)
def scan_parquet_footer_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only manifest of the warehouse directory: per-table row
    counts read from parquet FOOTERS in the executors — zero data pages
    touched. This is the manifest-building pass behind incremental
    loads, freshness checks and size-based planning; the oracle pins
    that footer counts equal true COUNT(*) per table (the parquet
    contract a corrupted writer would break).

    The file list is enumerated driver-side (a table directory listing
    is metadata-scale by definition) and parallelized; each task opens
    only its files' footers via Arrow. At 100 TB the same op lists via
    the catalog/manifest layer and fans footer reads across the
    cluster — the shape here is already that: paths in, stats out,
    payload bytes never read.
    """
    import os

    import pandas as pd

    from dataengineeringutils_spark.tables import TABLES

    paths = [
        (t, os.path.join(sf_dir, f"{t}.parquet"))
        for t in sorted(TABLES)
    ]

    def footer_stats(batches):
        import pyarrow.parquet as pq

        for pdf in batches:
            rows = []
            for t, p in zip(pdf["table_name"], pdf["path"]):
                md = pq.ParquetFile(p).metadata
                rows.append((t, md.num_rows))
            yield pd.DataFrame(rows, columns=["table_name", "num_rows"])

    return (
        spark.createDataFrame(paths, "table_name string, path string")
        .repartition(len(paths))
        .mapInPandas(footer_stats, "table_name string, num_rows long")
    )
