"""Custom Python DataSource (Spark 4 `pyspark.sql.datasource`) — the
engine-extension form of the reference's paginated hierarchical scan.

The reference enumerates village list pages from embedded pagination state
and fans out one request per page (`house_spider/spiders/lianjia.py:113-119`,
`:173-179`). Here that scan IS a data source: `PageFeedDataSource` plans one
``InputPartition`` per village range (so a cluster reads ranges in
parallel), synthesizes the page/listing rows deterministically, and honors
filter pushdown on ``village_id`` (`pushFilters`) by pruning whole
partitions before any row is generated — the Python-source analog of
partition pruning at the planner.

Everything is closed-form arithmetic so a DuckDB ``generate_series`` oracle
reproduces the exact rows: village v has ``1 + v % 7`` pages; full pages
carry 30 listings, the last page ``(v * 7 + 13) % 29 + 1``; listing ids are
``v * 1000 + (page-1) * 30 + i``; prices are exact quarter-dollars
(dyadic rationals), so even double SUMs are order-independent and
hash-exact cross-engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)

from data_etl_sh_lianjia_spark.plans.registry import register

_N_VILLAGES = 40
_VILLAGES_PER_PARTITION = 8
_SCHEMA = "village_id bigint, page int, listing_id bigint, price double"


class _VillageRange(InputPartition):
    def __init__(self, start: int, end: int) -> None:
        self.start = start
        self.end = end


class PageFeedReader(DataSourceReader):
    def __init__(self, options) -> None:
        self.n_villages = int(options.get("villages", _N_VILLAGES))
        self.lo = 0
        self.hi = self.n_villages  # exclusive

    def pushFilters(self, filters):  # noqa: N802 (Spark API name)
        """Accept range/equality filters on village_id; everything else is
        returned for Spark to re-apply. Accepted bounds shrink the planned
        partition set — filter pushdown becoming partition pruning."""
        from pyspark.sql.datasource import EqualTo, GreaterThan, GreaterThanOrEqual
        from pyspark.sql.datasource import LessThan, LessThanOrEqual

        for f in filters:
            col = f.attribute[0] if isinstance(f.attribute, tuple) else f.attribute
            if col != "village_id":
                yield f
            elif isinstance(f, EqualTo):
                self.lo = max(self.lo, int(f.value))
                self.hi = min(self.hi, int(f.value) + 1)
            elif isinstance(f, GreaterThan):
                self.lo = max(self.lo, int(f.value) + 1)
            elif isinstance(f, GreaterThanOrEqual):
                self.lo = max(self.lo, int(f.value))
            elif isinstance(f, LessThan):
                self.hi = min(self.hi, int(f.value))
            elif isinstance(f, LessThanOrEqual):
                self.hi = min(self.hi, int(f.value) + 1)
            else:
                yield f

    def partitions(self):
        parts = []
        v = self.lo
        while v < self.hi:
            parts.append(_VillageRange(v, min(v + _VILLAGES_PER_PARTITION, self.hi)))
            v += _VILLAGES_PER_PARTITION
        return parts or [_VillageRange(0, 0)]

    def read(self, partition: _VillageRange):
        for v in range(partition.start, partition.end):
            n_pages = 1 + v % 7
            last_count = (v * 7 + 13) % 29 + 1
            for page in range(1, n_pages + 1):
                count = 30 if page < n_pages else last_count
                for i in range(count):
                    listing_id = v * 1000 + (page - 1) * 30 + i
                    price = ((listing_id * 37) % 10000) / 4.0
                    yield (v, page, listing_id, price)


class PageFeedDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "lianjia_pages"

    def schema(self) -> str:
        return _SCHEMA

    def reader(self, schema) -> PageFeedReader:
        return PageFeedReader(self.options)


def _ensure_registered(spark: SparkSession) -> None:
    registered = getattr(spark, "_lianjia_pagefeed_registered", False)
    if not registered:
        # Python-source filter pushdown is opt-in (and a reader that defines
        # pushFilters REQUIRES it); runtime-settable conf.
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
        spark.dataSource.register(PageFeedDataSource)
        spark._lianjia_pagefeed_registered = True


@register(
    "python_datasource_scan",
    oracle="""
WITH villages AS (
  SELECT unnest(generate_series(0, 39)) AS v
), pages AS (
  SELECT v, unnest(generate_series(1, 1 + v % 7)) AS p FROM villages
), listings AS (
  SELECT v, p,
         unnest(generate_series(0,
           CASE WHEN p < 1 + v % 7 THEN 30 ELSE (v * 7 + 13) % 29 + 1 END - 1))
           AS i
  FROM pages
)
SELECT v AS village_id,
       COUNT(*) AS n_listings,
       CAST(MAX(p) AS INT) AS n_pages,
       SUM(((v * 1000 + (p - 1) * 30 + i) * 37) % 10000 / 4.0) AS sum_price
FROM listings
WHERE v >= 10 AND v < 30
GROUP BY v
""",
    survey_ref="S1,S2,S3,S11",
    doc="custom Python DataSource: partition-planned paginated scan with filter pushdown",
)
def python_datasource_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's paginated scan as a first-class Spark source: range
    partitions are planned on the driver, the village_id band filter is
    pushed into the source (pruning partitions before generation), and the
    per-village rollup is a normal aggregate on top. Prices are exact
    quarters, so the double SUM is order-independent and oracle-hashable."""
    _ensure_registered(spark)
    feed = (
        spark.read.format("lianjia_pages")
        .option("villages", str(_N_VILLAGES))
        .load()
    )
    return (
        feed.filter((F.col("village_id") >= 10) & (F.col("village_id") < 30))
        .groupBy("village_id")
        .agg(
            F.count(F.lit(1)).alias("n_listings"),
            F.max("page").alias("n_pages"),
            F.sum("price").alias("sum_price"),
        )
    )


# --- Custom Python DataSource WRITER (the sink half of the API) --------
#
# The reference publishes its items through scrapy's FEEDS export
# (settings.py — JSON-lines feed). Here that export is a first-class
# Spark SINK: executors stage one JSON-lines file per partition
# (DataSourceWriter.write), ship back a picklable commit message, and the
# DRIVER promotes staged files into place only when every task succeeded
# (commit) or removes them all (abort) — the same two-phase contract
# every production sink (FileFormatWriter, Delta commit service) runs on.


class _FeedCommit(WriterCommitMessage):
    def __init__(self, staged: str, rows: int) -> None:
        self.staged = staged
        self.rows = rows


class JsonFeedWriter(DataSourceWriter):
    def __init__(self, options, overwrite: bool) -> None:
        self.path = options.get("path")
        if not self.path:
            raise ValueError("lianjia_feed sink requires a path option")
        self.overwrite = overwrite

    def write(self, iterator) -> _FeedCommit:
        # executor-side: stage this partition's rows as one .jsonl file;
        # nothing becomes visible until the driver's commit promotes it
        import json
        import os
        import uuid

        staged = os.path.join(
            self.path, f"_staged-{uuid.uuid4().hex}.jsonl"
        )
        os.makedirs(self.path, exist_ok=True)
        n = 0
        with open(staged, "w") as fh:
            for row in iterator:
                fh.write(json.dumps(row.asDict()) + "\n")
                n += 1
        return _FeedCommit(staged, n)

    def commit(self, messages) -> None:
        # driver-side, all tasks succeeded: atomically promote each staged
        # file ('_'-prefixed names are invisible to every directory scan
        # until renamed)
        import os

        if self.overwrite:
            for f in os.listdir(self.path):
                if f.endswith(".jsonl") and not f.startswith("_"):
                    os.remove(os.path.join(self.path, f))
        for i, m in enumerate(messages):
            os.replace(
                m.staged, os.path.join(self.path, f"part-{i:05d}.jsonl")
            )

    def abort(self, messages) -> None:
        import os

        for m in messages:
            if m is not None and os.path.exists(m.staged):
                os.remove(m.staged)


class JsonFeedDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "lianjia_feed"

    def schema(self) -> str:  # reader side unused; sink-only source
        return "value string"

    def writer(self, schema, overwrite: bool) -> JsonFeedWriter:
        return JsonFeedWriter(self.options, overwrite)


def _ensure_feed_registered(spark: SparkSession) -> None:
    if not getattr(spark, "_lianjia_feed_registered", False):
        spark.dataSource.register(JsonFeedDataSource)
        spark._lianjia_feed_registered = True


@register(
    "python_datasource_sink",
    oracle="""
SELECT o_orderstatus, COUNT(*) AS n,
       CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS sum_cents
FROM orders
WHERE o_orderkey % 11 = 0
GROUP BY o_orderstatus
""",
    survey_ref="S8,S9",
    doc="custom Python DataSource SINK: two-phase staged write (executor stage, driver commit), read-back agg equals direct query",
)
def python_datasource_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's feed export as a first-class custom Spark sink:
    an orders slice writes through ``lianjia_feed`` (per-partition staged
    .jsonl + driver-side two-phase commit), is read back through the
    ordinary JSON source with an explicit schema, and the read-back
    aggregate must equal querying the parquet directly — proving the
    sink's staging/commit cycle publishes exactly the written rows."""
    from data_etl_sh_lianjia_spark.session import load_tables
    from data_etl_sh_lianjia_spark.sources.readers import derived_copy_path

    _ensure_feed_registered(spark)
    orders = load_tables(spark, sf_dir, names=("orders",))["orders"]
    slice_df = orders.filter(F.col("o_orderkey") % 11 == 0).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    path = derived_copy_path("feed", "orders", sf_dir)
    (
        slice_df.write.format("lianjia_feed")
        .mode("overwrite")
        .option("path", path)
        .save()
    )
    back = spark.read.schema(
        "o_orderkey long, o_orderstatus string, o_totalprice double"
    ).json(f"{path}/*.jsonl")
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
        ).cast("bigint").alias("sum_cents"),
    )
