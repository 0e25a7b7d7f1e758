"""docs-table source/sink.

The production table is Iceberg (``docs(doc_id string, spans
array<struct<kind,text,media_ref,offset>>)`` partitioned by bucket(doc_id)
— the north-rule storage layer).  The Iceberg runtime jar is not in this
sandbox image, so the writer transparently falls back to plain parquet
with the identical schema; every reader goes through :func:`read_docs` so
the swap is one line when the jar is present.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

SPAN_STRUCT = T.StructType(
    [
        T.StructField("kind", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("media_ref", T.StringType()),
        T.StructField("offset", T.IntegerType()),
    ]
)

DOCS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("spans", T.ArrayType(SPAN_STRUCT)),
    ]
)


def iceberg_available(spark: SparkSession) -> bool:
    try:
        spark._jvm.org.apache.iceberg.Schema  # noqa: SLF001
        return True
    except Exception:
        return False


def write_docs(df: DataFrame, path_or_table: str) -> None:
    """Write the docs table (Iceberg when available, else parquet path)."""
    spark = df.sparkSession
    if "/" not in path_or_table and iceberg_available(spark):
        df.writeTo(path_or_table).createOrReplace()
    else:
        df.write.mode("overwrite").parquet(path_or_table)


def read_docs(spark: SparkSession, path_or_table: str) -> DataFrame:
    if "/" not in path_or_table and iceberg_available(spark):
        return spark.table(path_or_table)
    return spark.read.schema(DOCS_SCHEMA).parquet(path_or_table)


def docs_from_rows(spark: SparkSession, rows: list[dict]) -> DataFrame:
    return spark.createDataFrame(rows, schema=DOCS_SCHEMA)


def boxes_from_documents_table(documents: DataFrame) -> DataFrame:
    """Deterministic SQL-oracle-able boxes adapter over the harness
    ``documents`` parquet: each document becomes a single-block two-column
    page with a full-width masthead title and its text split across the
    two columns.

    Unlike the synthetic-geometry attach (whose bbox coordinates come
    from a seeded RNG and therefore cannot be replicated in ANSI SQL),
    every coordinate here is a fixed constant, so the ENTIRE downstream
    layout analysis — column-count inference, bin assignment, block
    segmentation, reading-order reconstruction, box merge — runs
    through the real operators (:mod:`..operators.layout`) while
    remaining exactly predictable by a DuckDB oracle: title spans both
    columns → column 0 → block separator → reading_order 1; the halves
    land in columns 1 and 2 → orders 2, 3.

    100% native expressions (one projection + one ``posexplode``), zero
    Python, zero shuffle before the layout exchange."""
    words = F.split(F.col("text"), " ")
    n = F.size(words)
    half = F.greatest((n / 2).cast("int"), F.lit(1))
    first = F.array_join(F.slice(words, 1, half), " ")
    second = F.array_join(F.slice(words, half + 1, n), " ")

    def _box(kind, text, x1, y1, x2, y2):
        return F.struct(
            F.lit(kind).alias("kind"),
            text.alias("text"),
            F.lit(None).cast("string").alias("media_ref"),
            F.lit(float(x1)).alias("x1"),
            F.lit(float(y1)).alias("y1"),
            F.lit(float(x2)).alias("x2"),
            F.lit(float(y2)).alias("y2"),
            F.lit(0.9).alias("confidence"),
        )

    title = F.upper(F.concat(F.lit("SECTION "), F.col("source")))
    boxes = F.array(
        _box("title", title, 50.0, 80.0, 950.0, 130.0),
        _box("text", first, 50.0, 150.0, 500.0, 600.0),
        _box("text", second, 500.0, 150.0, 950.0, 600.0),
    )
    exploded = documents.select(
        F.concat(F.lit("doc-"), F.col("doc_id").cast("string")).alias("doc_id"),
        F.posexplode(boxes).alias("offset", "b"),
    )
    return exploded.select(
        "doc_id",
        "offset",
        F.col("b.kind").alias("kind"),
        F.col("b.text").alias("text"),
        F.col("b.media_ref").alias("media_ref"),
        F.col("b.x1").alias("x1"),
        F.col("b.y1").alias("y1"),
        F.col("b.x2").alias("x2"),
        F.col("b.y2").alias("y2"),
        F.col("b.confidence").alias("confidence"),
    )


def validate_table(df: DataFrame, rules: list[dict]) -> DataFrame:
    """Declarative data-quality gate — an audit check to run on a frame
    before :mod:`snapshots` commits it: every rule reduces to a
    conditional count, so
    the WHOLE rule list evaluates in ONE aggregation pass over the
    table (map-side partials; no per-rule scans).  ``unique`` is the
    one exception in spirit — it still folds into the same pass as
    ``count(*) − count(DISTINCT col)``; swap in approx_count_distinct
    at the trillion-row tier if an exact key check is too hot.

    Rule dicts: ``{"name", "col", "check", ...}`` with checks
    ``not_null`` | ``unique`` | ``range`` (lo/hi inclusive) |
    ``in_set`` (values) | ``regex`` (pattern, fullmatch semantics are
    the caller's via anchors).  Output: one row per rule —
    (rule, violations, ok) — plus a leading ``_rows`` row carrying the
    table count so an empty table can't vacuously pass."""
    aggs = [F.count("*").alias("_rows")]
    for r in rules:
        c = F.col(r["col"])
        check = r["check"]
        if check == "not_null":
            bad = c.isNull()
        elif check == "range":
            bad = c.isNull() | (c < r["lo"]) | (c > r["hi"])
        elif check == "in_set":
            bad = c.isNull() | ~c.isin(*r["values"])
        elif check == "regex":
            bad = c.isNull() | ~c.rlike(r["pattern"])
        elif check == "unique":
            aggs.append(
                (F.count(c) - F.count_distinct(c)).alias(r["name"])
            )
            continue
        else:
            raise ValueError(f"unknown check: {check}")
        # coalesce: sum over an EMPTY table is NULL, not 0
        aggs.append(
            F.coalesce(F.sum(bad.cast("long")), F.lit(0)).alias(r["name"])
        )
    row = df.agg(*aggs)
    names = ["_rows"] + [r["name"] for r in rules]
    stacked = row.select(
        F.stack(
            F.lit(len(names)),
            *[x for n in names for x in (F.lit(n), F.col(n))],
        ).alias("rule", "violations")
    )
    return stacked.select(
        "rule",
        F.col("violations").cast("long"),
        F.when(F.col("rule") == "_rows", F.col("violations") > 0)
        .otherwise(F.col("violations") == 0)
        .cast("int")
        .alias("ok"),
    )
