"""Managed-table mutation surface — row-level DELETE / UPDATE / MERGE.

[derived] The reference (reference/house_spider/spiders/lianjia.py) is an
append-only crawler with no DML analogue; a 100 TB training-data pipeline
additionally needs the lakehouse-grade mutation trio (GDPR removal, label
correction, re-crawl upsert). The engine implements them in
:mod:`data_etl_sh_lianjia_spark.session`:

- :func:`~.session.delete_where` — O(affected files + projection sizes):
  unaffected part files hardlink into the new generation; of the derived
  artifacts that exist (each is built by its first read), SUM-mergeable
  projections absorb the removed rows as NEGATIVE deltas, ordered/vector
  artifacts rebuild, the bucketed fact copies rewrite only affected
  bucket files.
- :func:`~.session.update_where` — copy-on-write over the same per-file
  split, with NEGATIVE+POSITIVE projection merges (old versions out, new
  versions in — exact even across group-key moves).
- :func:`~.session.merge_into` — upsert composed from the two pinned
  primitives: matched keys delete, the batch lands as an append part file
  (O(batch) delta ingest + positive merges).

The declared queries below make each path driver-verifiable: each
scratch-copies a table, ingests it, mutates it, and returns an aggregate
the DuckDB oracle reproduces over the untouched source (``WHERE
NOT(predicate)`` for deletes, ``CASE WHEN`` for updates, an anti-join +
UNION for the merge) — the ``*_q1_projection`` variant additionally
reads the coarse rollup once before mutating (its first read builds it)
and serves its aggregate from the delta-MERGED rollup, so a driver
hash-match proves the merge bit-identical, not just the table rewrite.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession

from data_etl_sh_lianjia_spark.functions.deterministic import (
    dsum,
    oracle_dsum,
)
from data_etl_sh_lianjia_spark.plans.registry import register


def _scratch_copy(sf_dir: str, table: str, as_dir: bool = False) -> str:
    """Fresh scratch sf-dir containing a copy of one landed table (file or
    directory form). ``as_dir`` lands a single-file source as a directory
    of one part (merge_into's append half needs somewhere to put the
    batch). Callers delete it (and its managed copy) when done."""
    scratch = tempfile.mkdtemp(prefix="spark-graft-delmut-")
    src = os.path.join(sf_dir, f"{table}.parquet")
    dst = os.path.join(scratch, f"{table}.parquet")
    if os.path.isdir(src):
        shutil.copytree(src, dst)
    elif as_dir:
        os.makedirs(dst)
        shutil.copy(src, os.path.join(dst, "part-00000.parquet"))
    else:
        shutil.copy(src, dst)
    return scratch


def _drop_scratch(spark: SparkSession, scratch: str) -> None:
    """Remove the scratch sf-dir AND its managed ingest copy (the scratch
    path is unique per invocation, so a leftover managed dir would leak
    one copy per call)."""
    redirect = getattr(spark, "_lianjia_ingest_map", None) or {}
    out_dir = redirect.pop(os.path.normpath(scratch), None)
    if out_dir:
        shutil.rmtree(out_dir, ignore_errors=True)
    shutil.rmtree(scratch, ignore_errors=True)


@register(
    "delete_where_orders",
    oracle=f"""
SELECT o_orderpriority,
       COUNT(*) AS n_orders,
       {oracle_dsum('o_totalprice', 'sum_total', scale=2)}
FROM orders
WHERE o_orderstatus IS NULL OR o_orderstatus <> 'F'
GROUP BY o_orderpriority
""",
    survey_ref="S9,A3",
    doc="predicate DELETE on the managed orders copy; post-delete aggregate",
    tags=("mutation",),
)
def delete_where_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DELETE FROM orders WHERE o_orderstatus = 'F' on a scratch managed
    copy, then aggregate the post-delete table — the oracle runs the
    complementary filter over the untouched source, so a hash match proves
    the rewrite removed exactly the matched rows (NULL-predicate rows
    survive, per SQL DELETE semantics)."""
    import pyarrow.compute as pc
    from pyspark.sql import functions as F

    from data_etl_sh_lianjia_spark.session import delete_where

    scratch = _scratch_copy(sf_dir, "orders")
    try:
        delete_where(spark, scratch, "orders", pc.field("o_orderstatus") == "F")
        out_dir = spark._lianjia_ingest_map[os.path.normpath(scratch)]
        post = spark.read.parquet(os.path.join(out_dir, "orders.parquet"))
        result = post.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice", "sum_total", scale=2),
        )
        rows = result.collect()  # tiny summary; lets the scratch dir drop
        return spark.createDataFrame(rows, result.schema)
    finally:
        _drop_scratch(spark, scratch)


@register(
    "delete_where_q1_projection",
    oracle=f"""
SELECT l_returnflag, l_linestatus,
       {oracle_dsum('l_quantity', 'sum_qty')},
       {oracle_dsum('l_extendedprice', 'sum_base_price')},
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
  AND (l_quantity IS NULL OR l_quantity < 45)
GROUP BY l_returnflag, l_linestatus
""",
    survey_ref="A3,P5",
    doc="predicate DELETE negative-merges the q1 rollup; aggregate served from it",
    tags=("mutation",),
)
def delete_where_q1_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DELETE FROM lineitem WHERE l_quantity >= 45 on a scratch managed
    copy, then run the q1-family aggregate SERVED FROM THE NEGATIVE-MERGED
    COARSE ROLLUP (session._AGG_PROJECTIONS lineitem "q1cut") — the oracle
    recomputes over the source with the complementary filter, so a hash
    match proves the negative merge is bit-identical to a from-scratch
    rebuild, not merely that the table rewrite worked. Falls back to the
    full scan over the post-delete managed copy if the projection is
    unexpectedly unavailable (same values either way)."""
    import pyarrow.compute as pc

    from data_etl_sh_lianjia_spark.session import (
        aggproj_coarse_view,
        delete_where,
        ingest_tables,
    )

    scratch = _scratch_copy(sf_dir, "lineitem")
    try:
        # first read builds the rollup, so the mutation below must merge it
        ingest_tables(spark, scratch)
        aggproj_coarse_view(spark, scratch, "lineitem")
        delete_where(spark, scratch, "lineitem", pc.field("l_quantity") >= 45)
        ap2 = aggproj_coarse_view(spark, scratch, "lineitem")
        if ap2 is not None:
            result = spark.sql(f"""
SELECT l_returnflag, l_linestatus,
       CAST(s_qty AS DOUBLE) / 10000.0D AS sum_qty,
       CAST(s_price AS DOUBLE) / 10000.0D AS sum_base_price,
       cnt AS count_order
FROM {ap2}
""")
        else:
            from data_etl_sh_lianjia_spark.functions.deterministic import (
                spark_dsum,
            )

            out_dir = spark._lianjia_ingest_map[os.path.normpath(scratch)]
            spark.read.parquet(
                os.path.join(out_dir, "lineitem.parquet")
            ).createOrReplaceTempView("_delmut_lineitem")
            result = spark.sql(f"""
SELECT l_returnflag, l_linestatus,
       {spark_dsum('l_quantity', 'sum_qty')},
       {spark_dsum('l_extendedprice', 'sum_base_price')},
       COUNT(*) AS count_order
FROM _delmut_lineitem
WHERE l_shipdate <= TIMESTAMP_NTZ '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""")
        rows = result.collect()
        return spark.createDataFrame(rows, result.schema)
    finally:
        _drop_scratch(spark, scratch)


@register(
    "update_where_orders",
    oracle=f"""
SELECT o_orderpriority,
       COUNT(*) AS n_orders,
       {oracle_dsum(
           "CASE WHEN o_orderstatus = 'O' THEN o_totalprice + 1000.0"
           " ELSE o_totalprice END",
           'sum_total', scale=2,
       )}
FROM orders
GROUP BY o_orderpriority
""",
    survey_ref="S9,A3",
    doc="predicate UPDATE on the managed orders copy; post-update aggregate",
    tags=("mutation",),
)
def update_where_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UPDATE orders SET o_totalprice = o_totalprice + 1000 WHERE
    o_orderstatus = 'O' on a scratch managed copy, then aggregate the
    post-update table — the oracle reproduces the SET with a CASE over the
    untouched source, so a hash match proves the copy-on-write rewrite
    updated exactly the matched rows (NULL-predicate rows untouched, per
    SQL UPDATE semantics) and left every other value byte-identical."""
    import pyarrow.compute as pc
    from pyspark.sql import functions as F

    from data_etl_sh_lianjia_spark.session import update_where

    scratch = _scratch_copy(sf_dir, "orders")
    try:
        update_where(
            spark, scratch, "orders",
            pc.field("o_orderstatus") == "O",
            {"o_totalprice": lambda t: pc.add(t["o_totalprice"], 1000.0)},
        )
        out_dir = spark._lianjia_ingest_map[os.path.normpath(scratch)]
        post = spark.read.parquet(os.path.join(out_dir, "orders.parquet"))
        result = post.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice", "sum_total", scale=2),
        )
        rows = result.collect()  # tiny summary; lets the scratch dir drop
        return spark.createDataFrame(rows, result.schema)
    finally:
        _drop_scratch(spark, scratch)


@register(
    "update_where_q1_projection",
    oracle=f"""
SELECT l_returnflag, l_linestatus,
       {oracle_dsum(
           "CASE WHEN l_quantity >= 45 THEN l_quantity + 5.0"
           " ELSE l_quantity END",
           'sum_qty',
       )},
       {oracle_dsum('l_extendedprice', 'sum_base_price')},
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""",
    survey_ref="A3,P5",
    doc="predicate UPDATE delta-merges the q1 rollup; aggregate served from it",
    tags=("mutation",),
)
def update_where_q1_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UPDATE lineitem SET l_quantity = l_quantity + 5 WHERE
    l_quantity >= 45 on a scratch managed copy, then run the q1-family
    aggregate SERVED FROM THE DELTA-MERGED COARSE ROLLUP (negative merge
    of the old row versions + positive merge of the new — session
    update_where) — the oracle recomputes over the untouched source with a
    CASE, so a hash match proves the two-sided merge bit-identical to a
    from-scratch rebuild. Falls back to the full scan over the post-update
    managed copy if the projection is unexpectedly unavailable (same
    values either way)."""
    import pyarrow.compute as pc

    from data_etl_sh_lianjia_spark.session import (
        aggproj_coarse_view,
        ingest_tables,
        update_where,
    )

    scratch = _scratch_copy(sf_dir, "lineitem")
    try:
        # first read builds the rollup, so the mutation below must merge it
        ingest_tables(spark, scratch)
        aggproj_coarse_view(spark, scratch, "lineitem")
        update_where(
            spark, scratch, "lineitem",
            pc.field("l_quantity") >= 45,
            {"l_quantity": lambda t: pc.add(t["l_quantity"], 5.0)},
        )
        ap2 = aggproj_coarse_view(spark, scratch, "lineitem")
        if ap2 is not None:
            result = spark.sql(f"""
SELECT l_returnflag, l_linestatus,
       CAST(s_qty AS DOUBLE) / 10000.0D AS sum_qty,
       CAST(s_price AS DOUBLE) / 10000.0D AS sum_base_price,
       cnt AS count_order
FROM {ap2}
""")
        else:
            from data_etl_sh_lianjia_spark.functions.deterministic import (
                spark_dsum,
            )

            out_dir = spark._lianjia_ingest_map[os.path.normpath(scratch)]
            spark.read.parquet(
                os.path.join(out_dir, "lineitem.parquet")
            ).createOrReplaceTempView("_updmut_lineitem")
            result = spark.sql(f"""
SELECT l_returnflag, l_linestatus,
       {spark_dsum('l_quantity', 'sum_qty')},
       {spark_dsum('l_extendedprice', 'sum_base_price')},
       COUNT(*) AS count_order
FROM _updmut_lineitem
WHERE l_shipdate <= TIMESTAMP_NTZ '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""")
        rows = result.collect()
        return spark.createDataFrame(rows, result.schema)
    finally:
        _drop_scratch(spark, scratch)


@register(
    "merge_into_customers",
    oracle=f"""
WITH batch AS (
  SELECT c_custkey, c_name, c_nationkey, c_acctbal + 500.0 AS c_acctbal,
         c_mktsegment
  FROM customer WHERE c_custkey % 50 = 0
  UNION ALL
  SELECT c_custkey + 1000000, c_name, c_nationkey, c_acctbal, 'LANDED'
  FROM customer WHERE c_custkey % 77 = 3
),
merged AS (
  SELECT * FROM customer
  WHERE c_custkey NOT IN (SELECT c_custkey FROM batch)
  UNION ALL
  SELECT * FROM batch
)
SELECT c_mktsegment,
       COUNT(*) AS n_customers,
       {oracle_dsum('c_acctbal', 'sum_acctbal', scale=2)}
FROM merged
GROUP BY c_mktsegment
""",
    survey_ref="S9,J3,A3",
    doc="storage-level MERGE INTO (upsert) on the managed customer copy",
    tags=("mutation",),
)
def merge_into_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO customer USING batch ON c_custkey on a scratch managed
    copy — the batch replaces every c_custkey % 50 == 0 row with a
    +500-acctbal version and inserts re-keyed 'LANDED'-segment rows — then
    aggregates the post-merge table. The oracle reproduces the upsert with
    an anti-join + UNION over the untouched source, so a hash match proves
    the delete-then-append composition landed exactly the upsert state
    across the managed copy and its merged projections."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from data_etl_sh_lianjia_spark.session import merge_into

    scratch = _scratch_copy(sf_dir, "customer", as_dir=True)
    try:
        src = pq.read_table(
            os.path.join(scratch, "customer.parquet", "part-00000.parquet")
        )
        ck = src.column("c_custkey").to_numpy()
        upd = src.filter(pa.array(ck % 50 == 0))
        upd = upd.set_column(
            upd.schema.get_field_index("c_acctbal"),
            upd.schema.field("c_acctbal"),
            pc.add(upd["c_acctbal"], 500.0).combine_chunks(),
        )
        ins = src.filter(pa.array(ck % 77 == 3))
        ins = ins.set_column(
            ins.schema.get_field_index("c_custkey"),
            ins.schema.field("c_custkey"),
            pc.add(ins["c_custkey"], 1000000).combine_chunks(),
        )
        ins = ins.set_column(
            ins.schema.get_field_index("c_mktsegment"),
            ins.schema.field("c_mktsegment"),
            pa.array(["LANDED"] * ins.num_rows),
        )
        merge_into(
            spark, scratch, "customer",
            pa.concat_tables([upd, ins]), "c_custkey",
        )
        out_dir = spark._lianjia_ingest_map[os.path.normpath(scratch)]
        post = spark.read.parquet(os.path.join(out_dir, "customer.parquet"))
        result = post.groupBy("c_mktsegment").agg(
            F.count(F.lit(1)).alias("n_customers"),
            dsum("c_acctbal", "sum_acctbal", scale=2),
        )
        rows = result.collect()
        return spark.createDataFrame(rows, result.schema)
    finally:
        _drop_scratch(spark, scratch)


@register(
    "time_travel_orders",
    oracle=f"""
SELECT o_orderpriority,
       COUNT(*) AS n_orders,
       {oracle_dsum('o_totalprice', 'sum_total', scale=2)}
FROM orders
GROUP BY o_orderpriority
""",
    survey_ref="S9,A3",
    doc="VERSION AS OF read of the pre-mutation snapshot after delete+update",
    tags=("mutation",),
)
def time_travel_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutate a scratch managed orders copy twice (DELETE the 'F' rows,
    then UPDATE the 'O' rows' totalprice), then read ``VERSION AS OF 1`` —
    the snapshot retained before the first mutation — and aggregate it.
    The oracle aggregates the UNTOUCHED source, so a hash match proves the
    time-travel read returns exactly the pre-mutation generation,
    bit-identical, after two intervening copy-on-write mutations."""
    import pyarrow.compute as pc
    from pyspark.sql import functions as F

    from data_etl_sh_lianjia_spark.session import (
        delete_where,
        read_table_version,
        update_where,
    )

    scratch = _scratch_copy(sf_dir, "orders")
    try:
        delete_where(spark, scratch, "orders", pc.field("o_orderstatus") == "F")
        update_where(
            spark, scratch, "orders",
            pc.field("o_orderstatus") == "O",
            {"o_totalprice": lambda t: pc.add(t["o_totalprice"], 1000.0)},
        )
        asof = read_table_version(spark, scratch, "orders", 1)
        result = asof.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice", "sum_total", scale=2),
        )
        rows = result.collect()  # tiny summary; lets the scratch dir drop
        return spark.createDataFrame(rows, result.schema)
    finally:
        _drop_scratch(spark, scratch)


@register(
    "compact_managed_orders",
    oracle=f"""
SELECT o_orderpriority,
       COUNT(*) AS n_orders,
       {oracle_dsum('o_totalprice', 'sum_total', scale=2)}
FROM orders
GROUP BY o_orderpriority
""",
    survey_ref="S9,A3,O5",
    doc="OPTIMIZE-style compaction of a fragmented managed table; values preserved",
    tags=("mutation",),
)
def compact_managed_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fragment a scratch managed orders copy (append a second landed part,
    then UPDATE some rows copy-on-write), COMPACT it back into clustered
    files (`session.compact_table` — projections restamp, not rebuild),
    roll the update back via the retained snapshot, and aggregate — the
    oracle aggregates the untouched source, so a hash match proves the
    compaction+restore round-trip is value-preserving end to end."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from data_etl_sh_lianjia_spark.session import (
        compact_table,
        restore_table_version,
        table_history,
        update_where,
    )

    scratch = _scratch_copy(sf_dir, "orders", as_dir=True)
    try:
        # fragment: split the single landed part in two so ingest + a later
        # append-shaped layout accumulate multiple managed generations
        part = os.path.join(scratch, "orders.parquet", "part-00000.parquet")
        src = pq.read_table(part)
        half = src.num_rows // 2
        pq.write_table(src.slice(0, half), part)
        pq.write_table(
            src.slice(half),
            os.path.join(scratch, "orders.parquet", "part-00001.parquet"),
        )
        update_where(
            spark, scratch, "orders",
            pc.field("o_orderstatus") == "F",
            {"o_totalprice": lambda t: pc.add(t["o_totalprice"], 7.0)},
        )
        compact_table(spark, scratch, "orders")
        # the update preceded the compaction, so its pre-state is the
        # oldest retained snapshot: restore rolls both back (values-wise
        # compaction changed nothing)
        oldest = min(
            h["version"]
            for h in table_history(spark, scratch, "orders")
            if h.get("version") is not None
        )
        restore_table_version(spark, scratch, "orders", oldest)
        out_dir = spark._lianjia_ingest_map[os.path.normpath(scratch)]
        post = spark.read.parquet(os.path.join(out_dir, "orders.parquet"))
        result = post.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice", "sum_total", scale=2),
        )
        rows = result.collect()
        return spark.createDataFrame(rows, result.schema)
    finally:
        _drop_scratch(spark, scratch)


@register(
    "schema_evolution_orders",
    oracle=f"""
WITH batch AS (
  SELECT o_orderkey + 30000000 AS o_orderkey, o_custkey, o_orderstatus,
         o_totalprice, o_orderdate, o_orderpriority, 'web' AS o_channel
  FROM orders WHERE o_orderkey % 97 = 0
),
merged AS (
  SELECT *, NULL AS o_channel FROM orders
  UNION ALL
  SELECT * FROM batch
)
SELECT o_orderpriority,
       COUNT(*) AS n_orders,
       COUNT(o_channel) AS n_channel,
       {oracle_dsum('o_totalprice', 'sum_total', scale=2)}
FROM merged
GROUP BY o_orderpriority
""",
    survey_ref="S5,S9,A3",
    doc="additive schema evolution: append a batch carrying a NEW column",
    tags=("mutation",),
)
def schema_evolution_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Land a second part file carrying a NEW column (``o_channel``) next
    to a scratch orders table and re-ingest: the evolution event rebuilds
    the managed copy under the UNIFIED schema — pre-existing rows
    null-fill the new column, the batch keeps its values, nothing is
    silently dropped (plain first-fragment parquet reads lose late-added
    columns; the engine's unified read is the fix). The oracle reproduces
    the union with an explicit NULL column, so the hash match pins the
    evolved schema AND the values."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from data_etl_sh_lianjia_spark.session import ingest_tables

    scratch = _scratch_copy(sf_dir, "orders", as_dir=True)
    try:
        src = pq.read_table(
            os.path.join(scratch, "orders.parquet", "part-00000.parquet")
        )
        ok = src.column("o_orderkey").to_numpy()
        batch = src.filter(pa.array(ok % 97 == 0))
        batch = batch.set_column(
            batch.schema.get_field_index("o_orderkey"),
            batch.schema.field("o_orderkey"),
            pa.array(
                (batch.column("o_orderkey").to_numpy() + 30_000_000),
                pa.int64(),
            ),
        )
        batch = batch.append_column(
            "o_channel", pa.array(["web"] * batch.num_rows)
        )
        pq.write_table(
            batch,
            os.path.join(scratch, "orders.parquet", "part-00001.parquet"),
        )
        ingest_tables(spark, scratch)
        out_dir = spark._lianjia_ingest_map[os.path.normpath(scratch)]
        post = spark.read.parquet(os.path.join(out_dir, "orders.parquet"))
        result = post.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.count("o_channel").alias("n_channel"),
            dsum("o_totalprice", "sum_total", scale=2),
        )
        rows = result.collect()
        return spark.createDataFrame(rows, result.schema)
    finally:
        _drop_scratch(spark, scratch)


@register(
    "schema_evolution_widening",
    # Type-widening evolution (M7, r11): the landed base carries o_custkey
    # as INT32, a later batch lands it as INT64 — the rebuild unifies to
    # the WIDE type (old rows upcast losslessly) instead of raising the
    # type-conflict error. widened_ok is the exact-plus-flag pattern: it
    # certifies the managed schema actually widened (bigint), the event
    # took the rebuild path (not a bogus O(batch) append), and the managed
    # parts stayed schema-identical.
    oracle=f"""
WITH batch AS (
  SELECT o_orderkey + 40000000 AS o_orderkey, o_custkey, o_orderstatus,
         o_totalprice, o_orderdate, o_orderpriority
  FROM orders WHERE o_orderkey % 89 = 0
),
merged AS (
  SELECT * FROM orders
  UNION ALL
  SELECT * FROM batch
)
SELECT o_orderpriority,
       COUNT(*) AS n_orders,
       CAST(SUM(o_custkey) AS BIGINT) AS sum_custkey,
       {oracle_dsum('o_totalprice', 'sum_total', scale=2)},
       TRUE AS widened_ok
FROM merged
GROUP BY o_orderpriority
""",
    survey_ref="S5,S9,M7,A3",
    doc="type-widening schema evolution: INT32 base + INT64 batch rebuild "
        "to BIGINT; post-state aggregate + widened-schema flag",
    tags=("mutation",),
)
def schema_evolution_widening(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rewrite a scratch orders landing so its base part carries
    ``o_custkey`` as INT32 (the narrow historical schema), ingest, then
    land a batch at the original INT64 — the widening evolution event.
    The re-ingest must take the REBUILD path and unify the managed copy
    to BIGINT (``session._unify_schemas_widening``): old rows upcast
    losslessly (the key sums match the oracle's one-pass union over the
    untouched source bit-for-bit), and the flag certifies the widened
    schema + single-schema managed dir. Cross-family changes still raise
    (see ``tests/test_schema_evolution.py``)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from data_etl_sh_lianjia_spark.session import ingest_tables

    scratch = _scratch_copy(sf_dir, "orders", as_dir=True)
    try:
        base_path = os.path.join(
            scratch, "orders.parquet", "part-00000.parquet"
        )
        src = pq.read_table(base_path)
        narrow = src.set_column(
            src.schema.get_field_index("o_custkey"),
            "o_custkey",
            src["o_custkey"].cast(pa.int32()),
        )
        pq.write_table(narrow, base_path)
        ingest_tables(spark, scratch)
        out_dir = spark._lianjia_ingest_map[os.path.normpath(scratch)]
        pre = spark.read.parquet(os.path.join(out_dir, "orders.parquet"))
        narrow_ingested = (
            dict((f.name, f.dataType.simpleString()) for f in pre.schema)[
                "o_custkey"
            ]
            == "int"
        )

        ok_arr = src.column("o_orderkey").to_numpy()
        batch = src.filter(pa.array(ok_arr % 89 == 0))
        batch = batch.set_column(
            batch.schema.get_field_index("o_orderkey"),
            batch.schema.field("o_orderkey"),
            pa.array(
                batch.column("o_orderkey").to_numpy() + 40_000_000,
                pa.int64(),
            ),
        )
        pq.write_table(
            batch,
            os.path.join(scratch, "orders.parquet", "part-00001.parquet"),
        )
        ingest_tables(spark, scratch)
        took_rebuild = (
            spark._lianjia_ingest_rebuilt == 1
            and spark._lianjia_ingest_appended == 0
        )

        dst = os.path.join(out_dir, "orders.parquet")
        post = spark.read.parquet(dst)
        widened = (
            dict((f.name, f.dataType.simpleString()) for f in post.schema)[
                "o_custkey"
            ]
            == "bigint"
        )
        part_schemas = {
            str(pq.read_schema(os.path.join(dst, f)))
            for f in os.listdir(dst)
            if f.endswith(".parquet")
        }
        ok = (
            narrow_ingested
            and took_rebuild
            and widened
            and len(part_schemas) == 1
        )
        result = post.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("o_custkey").alias("sum_custkey"),
            dsum("o_totalprice", "sum_total", scale=2),
        ).withColumn("widened_ok", F.lit(bool(ok)))
        rows = result.collect()
        return spark.createDataFrame(rows, result.schema)
    finally:
        _drop_scratch(spark, scratch)


@register(
    "table_changes_orders",
    oracle=f"""
WITH changes AS (
  SELECT 'delete' AS _change_type, o_orderstatus, o_totalprice
  FROM orders WHERE o_orderstatus IN ('F', 'O')
  UNION ALL
  SELECT 'insert', o_orderstatus, o_totalprice + 1000.0
  FROM orders WHERE o_orderstatus = 'O'
)
SELECT _change_type, o_orderstatus,
       COUNT(*) AS n_rows,
       {oracle_dsum('o_totalprice', 'sum_total', scale=2)}
FROM changes
GROUP BY _change_type, o_orderstatus
""",
    survey_ref="S9,O4,A3",
    doc="change data feed between generations: multiset diff tagged delete/insert",
    tags=("mutation",),
)
def table_changes_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DELETE the 'F' rows and UPDATE the 'O' rows on a scratch managed
    copy, then read the CHANGE FEED from the pre-mutation generation to
    the current one (``session.table_changes`` — multiset EXCEPT ALL both
    ways): deletions surface the removed 'F' rows plus the 'O' rows' OLD
    versions, insertions the 'O' rows' NEW versions. The oracle rebuilds
    that feed from the untouched source, so the hash match pins the CDF
    semantics (updates = delete/insert pairs, unchanged rows absent)."""
    import pyarrow.compute as pc
    from pyspark.sql import functions as F

    from data_etl_sh_lianjia_spark.session import (
        delete_where,
        table_changes,
        update_where,
    )

    scratch = _scratch_copy(sf_dir, "orders")
    try:
        delete_where(spark, scratch, "orders", pc.field("o_orderstatus") == "F")
        update_where(
            spark, scratch, "orders",
            pc.field("o_orderstatus") == "O",
            {"o_totalprice": lambda t: pc.add(t["o_totalprice"], 1000.0)},
        )
        feed = table_changes(spark, scratch, "orders", 1)
        result = feed.groupBy("_change_type", "o_orderstatus").agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum("o_totalprice", "sum_total", scale=2),
        )
        rows = result.collect()
        return spark.createDataFrame(rows, result.schema)
    finally:
        _drop_scratch(spark, scratch)


@register(
    "concurrent_dml_serialization",
    # Two writers race a DELETE and an UPDATE on one managed table; the
    # predicates are row-disjoint, so the serialized outcome is unique and
    # SQL-expressible: the oracle applies both mutations to the untouched
    # source in one pass. serialized_ok is the exact-plus-flag pattern
    # (the flag asserts the commit-log contract: exactly two manifests,
    # one per generation, consistent fingerprint chain).
    oracle=f"""
SELECT o_orderpriority,
       COUNT(*) AS n_orders,
       {oracle_dsum(
           "CASE WHEN o_orderstatus = 'O' THEN o_totalprice + 1000.0 "
           "ELSE o_totalprice END",
           'sum_total', scale=2)},
       TRUE AS serialized_ok
FROM orders
WHERE o_orderstatus IS NULL OR o_orderstatus <> 'F'
GROUP BY o_orderpriority
""",
    survey_ref="M1,M2",
    doc="optimistic-concurrency race: DELETE vs UPDATE from two threads, "
        "commit-log-serialized; post-state aggregate + contract flag",
    tags=("mutation",),
)
def concurrent_dml_serialization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Race ``DELETE WHERE o_orderstatus = 'F'`` against ``UPDATE SET
    o_totalprice = o_totalprice + 1000 WHERE o_orderstatus = 'O'`` from
    two driver threads on one scratch managed copy. The commit-log CAS
    (session.py: optimistic concurrency) guarantees exactly one winner
    per generation; the loser re-applies against the winner's snapshot,
    so the final table equals the serial application in either order
    (disjoint row sets). The returned aggregate hash-matches the oracle's
    one-pass equivalent; ``serialized_ok`` certifies the log itself —
    two manifests, consecutive sequence numbers, one delete + one update,
    fp_before of the second == fp_after of the first, and the published
    marker at the head's fp_after."""
    import json
    import threading

    import pyarrow.compute as pc
    from pyspark.sql import functions as F

    from data_etl_sh_lianjia_spark import session as sess

    scratch = _scratch_copy(sf_dir, "orders")
    try:
        sess.ingest_tables(spark, scratch)
        barrier = threading.Barrier(2)
        errs: list = []

        def racer(fn):
            def run():
                barrier.wait()
                try:
                    fn()
                except Exception as e:  # surfaced after join
                    errs.append(e)

            return run

        ts = [
            threading.Thread(target=racer(lambda: sess.delete_where(
                spark, scratch, "orders",
                pc.field("o_orderstatus") == "F",
            ))),
            threading.Thread(target=racer(lambda: sess.update_where(
                spark, scratch, "orders",
                pc.field("o_orderstatus") == "O",
                {"o_totalprice": lambda t: pc.add(t["o_totalprice"], 1000.0)},
            ))),
        ]
        for t in ts:
            t.start()
        for t in ts:
            t.join(timeout=300)
        if errs:
            raise errs[0]

        out_dir = spark._lianjia_ingest_map[os.path.normpath(scratch)]
        dst = os.path.join(out_dir, "orders.parquet")
        cdir = sess._commit_log_dir(dst)
        manifests = []
        for fname in sorted(os.listdir(cdir)):
            if fname.endswith(".json") and fname[:-5].isdigit():
                with open(os.path.join(cdir, fname)) as fh:
                    manifests.append(json.load(fh))
        fp_now, _m = sess._read_marker(os.path.join(dst, "_SUCCESS"))
        ok = (
            len(manifests) == 2
            and [m["seq"] for m in manifests] == [1, 2]
            and {m["op"] for m in manifests} == {"delete", "update"}
            and manifests[1]["fp_before"] == manifests[0]["fp_after"]
            and fp_now == manifests[1]["fp_after"]
        )

        post = spark.read.parquet(dst)
        result = post.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice", "sum_total", scale=2),
        ).withColumn("serialized_ok", F.lit(bool(ok)))
        rows = result.collect()
        return spark.createDataFrame(rows, result.schema)
    finally:
        _drop_scratch(spark, scratch)


def _scratch_add(scratch: str, sf_dir: str, table: str) -> None:
    """Add a second landed table to an existing scratch sf-dir (multi-table
    transaction queries need more than :func:`_scratch_copy`'s one)."""
    src = os.path.join(sf_dir, f"{table}.parquet")
    dst = os.path.join(scratch, f"{table}.parquet")
    if os.path.isdir(src):
        shutil.copytree(src, dst)
    else:
        shutil.copy(src, dst)


def _txn_bracket(manifests: list) -> tuple | None:
    """(txn_id, begin_seq, commit_seq) of a table's SINGLE committed
    transaction bracket, or None if the bracket is malformed / interleaved
    with foreign commits (the isolation property the ledger certifies)."""
    begins = [m for m in manifests if m["op"] == "txn-begin"]
    commits = [m for m in manifests if m["op"] == "txn-commit"]
    if len(begins) != 1 or len(commits) != 1:
        return None
    tid, b, e = begins[0].get("txn"), begins[0]["seq"], commits[0]["seq"]
    if commits[0].get("txn") != tid or not b < e:
        return None
    if not all(
        m.get("txn") == tid for m in manifests if b < m["seq"] < e
    ):
        return None
    return tid, b, e


@register(
    "txn_commit_serialization",
    # A two-table transaction (DELETE on orders + UPDATE on customer) races
    # an independent single-table writer (UPDATE on orders). Row-disjoint
    # predicates make the serialized outcome unique and SQL-expressible in
    # one pass over the untouched sources. txn_serialized_ok is the
    # exact-plus-flag pattern: it certifies the commit-ledger structure —
    # matching txn-begin/txn-commit brackets on BOTH tables (same txn id),
    # the transaction's own mutations stamped with that id inside the
    # bracket, and the foreign writer's commit entirely OUTSIDE it.
    oracle=f"""
SELECT o.o_orderpriority,
       COUNT(*) AS n_orders,
       {oracle_dsum(
           "CASE WHEN o.o_orderstatus = 'O' THEN o.o_totalprice + 1000.0 "
           "ELSE o.o_totalprice END",
           'sum_total', scale=2)},
       MIN(c.sum_acctbal) AS sum_acctbal,
       TRUE AS txn_serialized_ok
FROM orders o
CROSS JOIN (
    SELECT {oracle_dsum(
        "CASE WHEN c_mktsegment = 'BUILDING' THEN c_acctbal + 50.0 "
        "ELSE c_acctbal END",
        'sum_acctbal', scale=2)}
    FROM customer
) c
WHERE o.o_orderstatus IS NULL OR o.o_orderstatus <> 'F'
GROUP BY o.o_orderpriority
""",
    survey_ref="M10,M13",
    doc="transaction-scope OCC: two-table transaction vs independent "
        "writer, lock-serialized; post-state aggregates + ledger-bracket "
        "flag",
    tags=("mutation",),
)
def txn_commit_serialization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Race a two-table ``transaction`` (DELETE ``o_orderstatus = 'F'`` on
    orders, UPDATE ``c_acctbal += 50`` on customer's BUILDING segment)
    against an independent writer thread (UPDATE ``o_totalprice += 1000``
    on orders' 'O' rows) that starts while the transaction holds its table
    locks. The transaction-scope OCC (session.py: canonical-order TXNLOCK
    acquisition over the commit-log CAS) blocks the writer until the
    transaction commits, so the final state equals a serial order — unique
    here because every predicate is row-disjoint. The returned aggregates
    hash-match the oracle's one-pass equivalent; ``txn_serialized_ok``
    certifies the ledger: txn-begin/txn-commit brackets on both tables
    share one txn id, every in-bracket manifest carries it, and the
    foreign update sits entirely outside the orders bracket."""
    import threading

    import pyarrow.compute as pc
    from pyspark.sql import functions as F

    from data_etl_sh_lianjia_spark import session as sess

    scratch = _scratch_copy(sf_dir, "orders")
    _scratch_add(scratch, sf_dir, "customer")
    try:
        sess.ingest_tables(spark, scratch)
        in_txn = threading.Event()
        errs: list = []

        def writer():
            in_txn.wait(timeout=120)
            try:
                sess.update_where(
                    spark, scratch, "orders",
                    pc.field("o_orderstatus") == "O",
                    {"o_totalprice": lambda t: pc.add(
                        t["o_totalprice"], 1000.0
                    )},
                )
            except Exception as e:  # surfaced after join
                errs.append(e)

        th = threading.Thread(target=writer)
        th.start()
        with sess.transaction(spark, scratch, "orders", "customer"):
            sess.delete_where(
                spark, scratch, "orders",
                pc.field("o_orderstatus") == "F",
            )
            in_txn.set()
            th_wait = threading.Event()
            th_wait.wait(0.5)  # let the writer reach the lock wait
            sess.update_where(
                spark, scratch, "customer",
                pc.field("c_mktsegment") == "BUILDING",
                {"c_acctbal": lambda t: pc.add(t["c_acctbal"], 50.0)},
            )
        th.join(timeout=300)
        if errs:
            raise errs[0]
        if th.is_alive():
            raise RuntimeError("foreign writer wedged on the txn lock")

        out_dir = spark._lianjia_ingest_map[os.path.normpath(scratch)]
        o_dst = os.path.join(out_dir, "orders.parquet")
        c_dst = os.path.join(out_dir, "customer.parquet")
        oms = sess.commit_history(spark, scratch, "orders")
        cms = sess.commit_history(spark, scratch, "customer")
        bo, bc = _txn_bracket(oms), _txn_bracket(cms)
        fp_now, _m = sess._read_marker(os.path.join(o_dst, "_SUCCESS"))
        ok = (
            bo is not None
            and bc is not None
            and bo[0] == bc[0]  # one transaction spans both tables
            and any(
                m["op"] == "delete" and bo[1] < m["seq"] < bo[2]
                for m in oms
            )
            and any(
                m["op"] == "update" and "txn" not in m
                and (m["seq"] < bo[1] or m["seq"] > bo[2])
                for m in oms
            )
            and any(
                m["op"] == "update" and m.get("txn") == bc[0]
                and bc[1] < m["seq"] < bc[2]
                for m in cms
            )
            and fp_now == max(oms, key=lambda m: m["seq"])["fp_after"]
        )

        post_o = spark.read.parquet(o_dst)
        post_c = spark.read.parquet(c_dst)
        acct = post_c.agg(
            dsum("c_acctbal", "sum_acctbal", scale=2)
        ).collect()[0][0]
        result = post_o.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice", "sum_total", scale=2),
        ).withColumn(
            "sum_acctbal", F.lit(float(acct))
        ).withColumn("txn_serialized_ok", F.lit(bool(ok)))
        rows = result.collect()
        return spark.createDataFrame(rows, result.schema)
    finally:
        _drop_scratch(spark, scratch)


@register(
    "pinned_cut_roundtrip",
    # The unified pin mechanism, driver-verified end-to-end: a USER cut is
    # pinned on the lineitem rollup, the table then mutates (pin goes
    # stale), and the serve happens only after the maintenance pass
    # re-derives it — so a hash match proves pin + auto-refresh + lockstep
    # serving, not just the initial build. served_from_pin is the
    # exact-plus-flag pattern (TRUE iff the artifact actually served).
    oracle=f"""
SELECT l_returnflag,
       COUNT(*) AS n_items,
       {oracle_dsum('l_quantity', 'sum_qty')},
       TRUE AS served_from_pin
FROM lineitem
WHERE l_quantity IS NULL OR l_quantity < 45
GROUP BY l_returnflag
""",
    survey_ref="M12,A3",
    doc="user-pinned rollup cut: pin -> mutate -> auto-refresh -> serve "
        "from the artifact; post-mutation aggregate + serve flag",
    tags=("mutation",),
)
def pinned_cut_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pin ``SELECT l_returnflag, SUM(cnt), SUM(s_qty) FROM {{src}}`` as a
    rollup cut over the lineitem aggregate projection, DELETE
    ``l_quantity >= 45`` (the pin goes out of lockstep), then serve the
    cut — the mutation-time/ingest-time maintenance pass must have
    re-derived it from the negative-merged rollup, so the served sums are
    bit-identical to the oracle's one-pass recompute over the filtered
    source."""
    import pyarrow.compute as pc
    from pyspark.sql import functions as F

    from data_etl_sh_lianjia_spark import session as sess

    scratch = _scratch_copy(sf_dir, "lineitem")
    try:
        sess.pin_rollup_cut(
            spark, scratch, "retflag", "aggproj", "lineitem",
            "SELECT l_returnflag, SUM(cnt) AS n_items, SUM(s_qty) AS s_qty "
            "FROM {src} GROUP BY l_returnflag",
        )
        sess.delete_where(
            spark, scratch, "lineitem", pc.field("l_quantity") >= 45
        )
        view = sess.pinned_view(spark, scratch, "retflag")
        served = view is not None
        if served:
            result = spark.table(view).select(
                "l_returnflag",
                F.col("n_items").alias("n_items"),
                (F.col("s_qty").cast("double") / F.lit(10000.0)).alias(
                    "sum_qty"
                ),
                F.lit(True).alias("served_from_pin"),
            )
        else:  # fallback keeps the query total; the flag exposes the miss
            out_dir = spark._lianjia_ingest_map[os.path.normpath(scratch)]
            post = spark.read.parquet(
                os.path.join(out_dir, "lineitem.parquet")
            )
            result = post.groupBy("l_returnflag").agg(
                F.count(F.lit(1)).alias("n_items"),
                dsum("l_quantity", "sum_qty"),
            ).withColumn("served_from_pin", F.lit(False))
        rows = result.collect()
        return spark.createDataFrame(rows, result.schema)
    finally:
        _drop_scratch(spark, scratch)
