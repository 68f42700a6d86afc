"""Sources & sinks — SURVEY.md §2.1 S1/S4/S5/S8/S9/S10.

The reference's output is a JSON-lines feed (`scrapy crawl lianjia -o
out.json`, README.md:7) with per-item collection routing (`items.py:18,35`)
and a priority-ordered pass-through pipeline hook (`pipelines.py:9-11`,
`settings.py:68-70`). Spark equivalents:

- JSON-lines sink/source: ``df.write.json`` / ``spark.read.json`` with an
  explicit schema (never inferSchema in production paths).
- Permissive error handling (S5 — the crawler accepts HTTP 403 rows,
  `settings.py:94`): ``mode=PERMISSIVE`` + ``columnNameOfCorruptRecord``
  keeps bad rows as a corrupt-record column instead of failing the load.
- Collection routing (S9): ``save_tables`` writes one parquet table per
  logical collection name.
- Pipeline hook (S10): ``transform_chain`` applies an ordered list of
  DataFrame→DataFrame stages — ``df.transform`` composition.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_etl_sh_lianjia_spark.functions.deterministic import dsum, oracle_dsum
from data_etl_sh_lianjia_spark.plans.registry import register
from data_etl_sh_lianjia_spark.session import load_tables


def derived_copy_path(kind: str, table: str, sf_dir: str) -> str:
    """Path of the derived ``kind`` copy of ``table`` written from
    ``sf_dir``, keyed by an md5 of the normalized path — the same name in
    every process (Python salts ``hash(str)`` per process, which made each
    process write a fresh copy)."""
    import hashlib
    import os

    key = hashlib.md5(os.path.normpath(sf_dir).encode()).hexdigest()[:8]
    return f"/tmp/spark-graft-{kind}/{table}-{key}"


def _materialize(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Collect a SMALL result and rebind it to a fresh in-memory DataFrame,
    so the caller can delete the scratch storage the plan was reading —
    the shared tail of every sink→source round-trip query here."""
    return spark.createDataFrame(df.collect(), df.schema)


def write_jsonl(df: DataFrame, path: str, n_files: int = 1) -> None:
    """S8: JSON-lines feed export (one object per line, like the crawler)."""
    df.coalesce(n_files).write.mode("overwrite").json(path)


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str,
    corrupt_col: str = "_corrupt_record",
) -> DataFrame:
    """S4+S5: schema-d JSON-lines source, permissive on malformed rows."""
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    if corrupt_col and corrupt_col not in [f.name for f in schema.fields]:
        schema = schema.add(corrupt_col, T.StringType())
    return (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt_col)
        .json(path)
    )


def read_csv_permissive(
    spark: SparkSession, path: str, schema: T.StructType | str
) -> DataFrame:
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    if "_corrupt_record" not in [f.name for f in schema.fields]:
        schema = schema.add("_corrupt_record", T.StringType())
    return (
        spark.read.schema(schema)
        .option("header", "true")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(path)
    )


def save_tables(dfs: dict[str, DataFrame], base_dir: str) -> None:
    """S9: named-collection routing — one parquet table per logical name
    (the `lianjia_village` / `lianjia_House` analogue)."""
    for name, df in dfs.items():
        df.write.mode("overwrite").parquet(f"{base_dir}/{name}.parquet")


def transform_chain(
    df: DataFrame, stages: Iterable[Callable[[DataFrame], DataFrame]]
) -> DataFrame:
    """S10: ordered item-pipeline hook — each stage is a pure
    DataFrame→DataFrame function applied in priority order."""
    for stage in stages:
        df = df.transform(stage)
    return df


@register(
    "jsonl_roundtrip",
    oracle=f"""
SELECT o_orderstatus,
       COUNT(*) AS n,
       {oracle_dsum('o_totalprice', 'sum_price')}
FROM orders
WHERE o_orderkey % 7 = 0
GROUP BY o_orderstatus
""",
    survey_ref="S4,S5,S8",
    doc="JSON-lines sink -> schema-d permissive source round-trip, agg equals direct query",
)
def jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write a slice of orders out as a JSON-lines feed (the reference's
    output format) and read it back with an explicit schema; aggregating the
    round-tripped data must equal querying the parquet directly — proving
    the sink/source pair is lossless for the carried columns."""
    orders = load_tables(spark, sf_dir, names=("orders",))["orders"]
    slice_df = orders.filter(F.col("o_orderkey") % 7 == 0).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    path = derived_copy_path("jsonl", "orders", sf_dir)
    write_jsonl(slice_df, path)
    back = read_jsonl(
        spark, path, "o_orderkey long, o_orderstatus string, o_totalprice double"
    )
    return (
        back.filter(F.col("_corrupt_record").isNull())
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"), dsum("o_totalprice", "sum_price"))
    )


@register(
    "csv_roundtrip",
    oracle=f"""
SELECT c_mktsegment, COUNT(*) AS n,
       {oracle_dsum('c_acctbal', 'sum_bal', scale=2)}
FROM customer
WHERE c_custkey % 5 = 0
GROUP BY c_mktsegment
""",
    survey_ref="S4,S5,S8",
    doc="CSV sink -> schema-d permissive source round-trip, agg equals direct parquet query",
)
def csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write a customer slice as headered CSV and read it back through the
    permissive CSV source with an explicit schema; aggregating the
    round-tripped rows must equal querying the parquet directly. Doubles
    survive because Spark writes shortest-round-trip decimal strings; the
    permissive mode + corrupt-record column mirror the reference's
    accept-bad-rows posture (settings.py:94)."""
    cust = load_tables(spark, sf_dir, names=("customer",))["customer"]
    slice_df = cust.filter(F.col("c_custkey") % 5 == 0).select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    path = derived_copy_path("csv", "customer", sf_dir)
    slice_df.coalesce(1).write.mode("overwrite").option("header", "true").csv(path)
    back = read_csv_permissive(
        spark, path, "c_custkey long, c_mktsegment string, c_acctbal double"
    )
    return (
        back.filter(F.col("_corrupt_record").isNull())
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"), dsum("c_acctbal", "sum_bal", scale=2))
    )


@register(
    "orc_roundtrip",
    oracle=f"""
SELECT s_nationkey, COUNT(*) AS n,
       {oracle_dsum('s_acctbal', 'sum_bal', scale=2)}
FROM supplier
GROUP BY s_nationkey
""",
    survey_ref="S4,S8,S9",
    doc="ORC sink -> source round-trip; agg equals the direct parquet query",
)
def orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Columnar-format breadth (S4/S8 beyond parquet/CSV/JSON): write the
    supplier table as ORC, read it back, aggregate — must equal querying
    the parquet directly (the oracle never sees the ORC copy). ORC is the
    other splittable columnar container Spark ships natively; the engine
    treats format as a storage detail, not a semantic one."""
    import shutil
    import tempfile

    sup = load_tables(spark, sf_dir, names=("supplier",))["supplier"]
    path = tempfile.mkdtemp(prefix="spark-graft-orc-")
    try:
        sup.write.mode("overwrite").orc(path)
        back = spark.read.orc(path)
        result = back.groupBy("s_nationkey").agg(
            F.count(F.lit(1)).alias("n"), dsum("s_acctbal", "sum_bal", scale=2)
        )
        # materialize the small summary, then drop the scratch dir
        return _materialize(spark, result)
    finally:
        shutil.rmtree(path, ignore_errors=True)


@register(
    "xml_roundtrip",
    oracle="""
SELECT n_regionkey, COUNT(*) AS n,
       CAST(SUM(n_nationkey) AS BIGINT) AS sum_key
FROM nation
GROUP BY n_regionkey
""",
    survey_ref="S4,S8",
    doc="XML sink -> rowTag source round-trip; agg equals the direct parquet query",
)
def xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured breadth beyond JSON/CSV: Spark 4 ships the XML
    source natively (the spark-xml package merged upstream), and XML is
    the reference's native habitat — its entire extraction layer is
    HTML/XPath tree addressing (reference lianjia.py:29-57). Write the
    nation table as XML (one <row> element per record), read it back with
    an explicit schema + rowTag, aggregate — must equal the direct parquet
    query (the oracle never sees the XML copy), proving the sink/source
    pair is lossless for the carried columns."""
    import shutil
    import tempfile

    nat = load_tables(spark, sf_dir, names=("nation",))["nation"]
    sl = nat.select("n_nationkey", "n_name", "n_regionkey")
    path = tempfile.mkdtemp(prefix="spark-graft-xml-")
    try:
        sl.coalesce(1).write.mode("overwrite").option("rowTag", "row").xml(path)
        back = (
            spark.read.schema(
                "n_nationkey int, n_name string, n_regionkey int"
            )
            .option("rowTag", "row")
            .xml(path)
        )
        result = back.groupBy("n_regionkey").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("n_nationkey").cast("bigint").alias("sum_key"),
        )
        return _materialize(spark, result)
    finally:
        shutil.rmtree(path, ignore_errors=True)


@register(
    "binaryfile_scan",
    oracle="""
SELECT n_name || '.bin' AS fname,
       CAST(strlen(n_name) AS BIGINT) AS n_bytes
FROM nation
""",
    survey_ref="S4,S1",
    doc="binaryFile source: opaque blob ingestion (path, length, content) over a landed file set",
)
def binaryfile_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multimodal ingestion front door (SURVEY §2.9 L5 feeds on this):
    Spark's built-in ``binaryFile`` source reads a directory of opaque
    blobs as (path, modificationTime, length, content) rows — how image/
    audio/video corpora enter a 100 TB pipeline before any decode. Blobs
    here derive deterministically from the nation table (each row's name
    as UTF-8 bytes), so the per-file (name, byte length) output is
    oracle-checkable against the table itself — the source's length and
    content columns proven consistent with what was landed."""
    import os as _os
    import shutil
    import tempfile

    nat = load_tables(spark, sf_dir, names=("nation",))["nation"]
    rows = nat.select("n_name").collect()  # 25 rows — bounded by schema
    path = tempfile.mkdtemp(prefix="spark-graft-bin-")
    try:
        for r in rows:
            with open(_os.path.join(path, f"{r['n_name']}.bin"), "wb") as fh:
                fh.write(r["n_name"].encode("utf-8"))
        back = spark.read.format("binaryFile").load(path)
        result = back.select(
            F.element_at(F.split("path", "/"), -1).alias("fname"),
            F.length("content").cast("bigint").alias("n_bytes"),
        ).filter(F.col("n_bytes") == F.col("length"))  # source-consistency
        return _materialize(spark, result)
    finally:
        shutil.rmtree(path, ignore_errors=True)


@register(
    "catalog_save_as_table",
    oracle=f"""
SELECT c_mktsegment, COUNT(*) AS n,
       {oracle_dsum('c_acctbal', 'sum_bal', scale=2)}
FROM customer
GROUP BY c_mktsegment
""",
    survey_ref="S9,S11",
    doc="saveAsTable catalog routing: managed-table write + catalog read-back",
)
def catalog_save_as_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9 named-collection routing, done literally: the reference routes
    item streams to named collections (``lianjia_village`` /
    ``lianjia_House``, items.py:18,35); the engine analog is
    ``saveAsTable`` into the session catalog and reading back BY NAME
    (``spark.table``) — schema travels with the catalog entry, not the
    caller. The aggregate over the catalog copy must equal the direct
    parquet query (the oracle never sees the managed table). The managed
    table is dropped afterwards so repeated runs stay idempotent."""
    cust = load_tables(spark, sf_dir, names=("customer",))["customer"]
    table_name = "lianjia_customer_snapshot"
    try:
        cust.write.mode("overwrite").format("parquet").saveAsTable(table_name)
        back = spark.table(table_name)
        result = back.groupBy("c_mktsegment").agg(
            F.count(F.lit(1)).alias("n"), dsum("c_acctbal", "sum_bal", scale=2)
        )
        return _materialize(spark, result)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table_name}")


@register(
    "partitioned_write_prune",
    oracle=f"""
SELECT o_orderpriority, COUNT(*) AS n,
       {oracle_dsum('o_totalprice', 'sum_price', scale=2)}
FROM orders
WHERE o_orderstatus = 'F'
GROUP BY o_orderpriority
""",
    survey_ref="S9,S11,P5",
    doc="hive-partitioned write + partition-pruned read-back (only one partition scanned)",
)
def partitioned_write_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9 at rest + S11 partition pruning: write orders hive-partitioned by
    o_orderstatus, read back filtered to one status — the filter prunes to
    a single partition directory at *file listing* time (visible as
    ``PartitionFilters`` in the scan node), the mechanism that lets a
    100 TB table answer a one-partition query by reading one partition.
    Aggregate must equal the direct parquet query (the oracle)."""
    import shutil
    import tempfile

    orders = load_tables(spark, sf_dir, names=("orders",))["orders"]
    path = tempfile.mkdtemp(prefix="spark-graft-part-")
    try:
        orders.write.mode("overwrite").partitionBy("o_orderstatus").parquet(path)
        back = spark.read.parquet(path).filter(F.col("o_orderstatus") == "F")
        result = back.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).alias("n"), dsum("o_totalprice", "sum_price", scale=2)
        )
        return _materialize(spark, result)
    finally:
        shutil.rmtree(path, ignore_errors=True)


# ---------------------------------------------------------------------------
# S6 — source-config rotation (UA / proxy assignment per request)
# ---------------------------------------------------------------------------


from data_etl_sh_lianjia_spark.sources.html_source import (  # noqa: E402
    _HTML_FIXTURE_PATH,
)


@register(
    "source_config_rotation",
    oracle=f"""
WITH req AS (
  SELECT url,
         substr(md5(url), 1, 1) AS ua_bucket,
         CASE WHEN substr(md5(url), 2, 1) < '4' THEN 0
              WHEN substr(md5(url), 2, 1) < '8' THEN 1
              WHEN substr(md5(url), 2, 1) < 'c' THEN 2
              ELSE 3 END AS proxy_idx
  FROM read_parquet('{_HTML_FIXTURE_PATH}')
)
SELECT ua_bucket, CAST(proxy_idx AS BIGINT) AS proxy_idx, COUNT(*) AS n_requests
FROM req
GROUP BY ua_bucket, proxy_idx
""",
    survey_ref="S6",
    doc="deterministic UA/proxy rotation per request: md5(url) hex bands pick from the config pools",
)
def source_config_rotation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6 made analytic: the reference rotates its 16-entry User-Agent pool
    and proxy list with ``random.choice`` per request
    (`/root/reference/house_spider/middlewares.py:108-138,146-160`). The
    engine's batch analogue assigns configs DETERMINISTICALLY — md5(url)
    hex bands index the pools (first nibble → one of 16 UAs, second nibble
    div 4 → one of 4 proxies) — so replays, retries, and both engines pick
    identical configs, while the assignment stays uniform like the
    reference's. One scan, partial-aggregated rollup of requests per
    config pair; the same expression works as a reader-option stamp on any
    ingested request log."""
    from data_etl_sh_lianjia_spark.sources.html_source import (
        _HTML_FIXTURE_DIR,
        synthesize_html_fixtures,
    )

    path = synthesize_html_fixtures(_HTML_FIXTURE_DIR)
    pages = spark.read.parquet(path)
    ua = F.substring(F.md5("url"), 1, 1)
    nib2 = F.substring(F.md5("url"), 2, 1)
    proxy = (
        F.when(nib2 < "4", 0)
        .when(nib2 < "8", 1)
        .when(nib2 < "c", 2)
        .otherwise(3)
        .cast("bigint")
    )
    return (
        pages.select(ua.alias("ua_bucket"), proxy.alias("proxy_idx"))
        .groupBy("ua_bucket", "proxy_idx")
        .agg(F.count(F.lit(1)).alias("n_requests"))
    )


@register(
    "text_roundtrip",
    oracle="""
SELECT lang, COUNT(*) AS n,
       CAST(SUM(length(text)) AS BIGINT) AS sum_chars
FROM documents
WHERE doc_id % 3 = 0
GROUP BY lang
""",
    survey_ref="S5,S8",
    doc="line-oriented text sink -> spark.read.text source round-trip (hex line framing), agg equals direct query",
)
def text_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write a documents slice as a PLAIN TEXT line feed (the rawest
    crawler output format: one record per line) and read it back with the
    line-oriented text source. Records are framed
    ``doc_id\\thex(lang)\\thex(text)`` — hex makes arbitrary field bytes
    (embedded newlines, tabs) line-safe and lossless, the discipline any
    line-oriented corpus dump needs (base64 is out: Spark's ``base64``
    MIME-chunks long values with embedded newlines, which a line source
    would shred). NULL fields frame as the literal ``-`` (not valid hex)
    — concat_ws silently DROPS nulls, which would collapse the frame and
    shift every following field. Aggregating the round-tripped rows
    (count + decoded char lengths per lang) must equal querying the
    parquet directly."""

    def enc(col: str):
        return F.coalesce(F.hex(F.encode(col, "UTF-8")), F.lit("-"))

    def dec(c):
        return F.when(c != "-", F.decode(F.unhex(c), "UTF-8"))

    docs = load_tables(spark, sf_dir, names=("documents",))["documents"]
    slice_df = docs.filter(F.col("doc_id") % 3 == 0).select(
        F.concat_ws(
            "\t",
            F.col("doc_id").cast("string"),
            enc("lang"),
            enc("text"),
        ).alias("value")
    )
    path = derived_copy_path("text", "documents", sf_dir)
    slice_df.coalesce(1).write.mode("overwrite").text(path)
    back = spark.read.text(path)
    parts = F.split(F.col("value"), "\t", 3)
    decoded = back.select(
        dec(parts.getItem(1)).alias("lang"),
        dec(parts.getItem(2)).alias("text"),
    )
    return decoded.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.length("text")).cast("bigint").alias("sum_chars"),
    )
