"""Managed-table compaction (session.compact_table) — the lakehouse
OPTIMIZE the append/update paths defer to.

Contract under test:

- Compaction merges accumulated append / copy-on-write generations back
  into globally range-clustered files (non-overlapping per-file min/max
  on the cluster key); values are byte-identical.
- Projections do NOT rebuild: their markers RESTAMP onto the new
  fingerprint chain segment (inode check), they keep SERVING, and
  projection-served == full-scan afterwards.
- The pre-compaction generation snapshots (undoable); the ``batches``
  tag map clears, so a later whole-batch source delete falls back to a
  full rebuild (honest O(history) — the tagged files are gone).
- The chain persists: an unchanged source stays fresh across ingest.
"""

from __future__ import annotations

import glob
import os
import shutil

import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from data_etl_sh_lianjia_spark import session as sess
from data_etl_sh_lianjia_spark.canon import canon_rows
from data_etl_sh_lianjia_spark.plans.registry import all_queries

SRC = "/root/testdata/sf0.001"
STAR = ("lineitem", "orders", "customer", "supplier", "nation", "region")


@pytest.fixture()
def restore_catalog(spark):
    saved = (
        dict(getattr(spark, "_lianjia_ingest_map", {}) or {}),
        dict(getattr(spark, "_lianjia_table_cache", {}) or {}),
        set(getattr(spark, "_lianjia_cached_views", set()) or set()),
        dict(getattr(spark, "_lianjia_keydict_views", {}) or {}),
        set(getattr(spark, "_lianjia_dim_pool", {}) or {}),
        set(getattr(spark, "_lianjia_flat_pool", {}) or {}),
        dict(getattr(spark, "_lianjia_bucket_tables", {}) or {}),
    )
    yield
    dim_pool = getattr(spark, "_lianjia_dim_pool", {})
    for key in set(dim_pool) - saved[4]:
        try:
            dim_pool.pop(key)[1].unpersist()
        except Exception:
            pass
    flat_pool = getattr(spark, "_lianjia_flat_pool", {})
    for key in set(flat_pool) - saved[5]:
        try:
            flat_pool.pop(key)[1].unpersist()
        except Exception:
            pass
    spark._lianjia_ingest_map = saved[0]
    spark._lianjia_table_cache = saved[1]
    spark._lianjia_cached_views = saved[2]
    spark._lianjia_keydict_views = saved[3]
    spark._lianjia_bucket_tables = saved[6]
    spark._lianjia_views_dir = None


def _run(spark, sf_dir, name):
    df = all_queries()[name].spark_fn(spark, sf_dir)
    return canon_rows([tuple(r) for r in df.collect()], df.columns)


def _inodes(pattern):
    return {p: os.stat(p).st_ino for p in glob.glob(pattern)}


def test_compact_reclusters_preserves_values_and_restamps_projections(
    spark, tmp_path, monkeypatch, restore_catalog, first_read
):
    sf = tmp_path / "sfcmp"
    (sf / "lineitem.parquet").mkdir(parents=True)
    li = pq.read_table(f"{SRC}/lineitem.parquet").sort_by("l_shipdate")
    # land as 3 date-interleaved batches: per-batch clustering only, so
    # the managed files' shipdate ranges overlap until compaction
    for i in range(3):
        idx = [j for j in range(li.num_rows) if j % 3 == i]
        pq.write_table(li.take(idx), str(sf / "lineitem.parquet" / f"b{i}.parquet"))
    for t in STAR[1:]:
        shutil.copy(f"{SRC}/{t}.parquet", str(sf / f"{t}.parquet"))
    monkeypatch.setattr(sess, "INGEST_ROOT", str(tmp_path / "ingest"))
    out = sess.ingest_tables(spark, str(sf), parts=4, min_rows_to_split=1000)
    first_read(sf)
    dst = os.path.join(out, "lineitem.parquet")

    def _ranges():
        out_r = []
        for p in sorted(glob.glob(os.path.join(dst, "*.parquet"))):
            col = pq.read_table(p, columns=["l_shipdate"]).column("l_shipdate")
            out_r.append((pc.min(col).as_py(), pc.max(col).as_py()))
        return out_r

    pre_rows = sorted(
        map(tuple, spark.read.parquet(dst).collect())
    )
    q1_pre = _run(spark, str(sf), "q1_scan_agg")
    ap_inodes = _inodes(os.path.join(out, "lineitem.aggproj.parquet", "*.parquet"))
    bk_inodes = _inodes(os.path.join(out, "lineitem.bucketed.parquet", "*.parquet"))

    st = sess.compact_table(spark, str(sf), "lineitem")
    assert st["rows"] == li.num_rows

    # globally clustered: per-file shipdate ranges must not overlap
    ranges = _ranges()
    assert len(ranges) >= 2, "fixture: compacted table must split"
    for (lo1, hi1), (lo2, _hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, "compacted files must be range-disjoint"

    post_rows = sorted(map(tuple, spark.read.parquet(dst).collect()))
    assert post_rows == pre_rows, "compaction must not change values"

    # projections restamped, not rebuilt: same data files, new marker fp
    assert _inodes(
        os.path.join(out, "lineitem.aggproj.parquet", "*.parquet")
    ) == ap_inodes
    assert _inodes(
        os.path.join(out, "lineitem.bucketed.parquet", "*.parquet")
    ) == bk_inodes
    fp, _m = sess._read_marker(os.path.join(dst, "_SUCCESS"))
    assert "~cmp" in fp

    # coarse joinproj siblings restamp onto the compacted chain too —
    # a missed restamp would silently degrade q3/q5 to their fine-rollup
    # (or full-scan) tiers after every compaction
    for art in (
        "q3_orderrev.q3top.joinproj.parquet",
        "sales_geo_year.q5asia.joinproj.parquet",
    ):
        c_fp, c_meta = sess._read_marker(os.path.join(out, art, "_SUCCESS"))
        assert (c_meta.get("components") or {}).get("lineitem") == fp, art
    q3_plan = (
        all_queries()["q3_join3"].spark_fn(spark, str(sf))
        ._jdf.queryExecution().toString()
    )
    assert "q3top" in q3_plan, "q3 must keep its coarse serve post-compact"

    # and they still SERVE: projection-served == full scan, plans unchanged
    df = all_queries()["q1_scan_agg"].spark_fn(spark, str(sf))
    assert "aggproj" in df._jdf.queryExecution().toString()
    assert _run(spark, str(sf), "q1_scan_agg") == q1_pre
    for proj, full in (
        ("q1_scan_agg", "q1_scan_agg_df"),
        ("q3_join3", "q3_join3_df"),
        ("distinct_count", "distinct_count_df"),
        ("topk_sort", "topk_sort_df"),
    ):
        assert _run(spark, str(sf), proj) == _run(spark, str(sf), full)

    # chain persists: nothing rebuilds on the next ingest (same knobs)
    sess.ingest_tables(spark, str(sf), parts=4, min_rows_to_split=1000)
    assert spark._lianjia_ingest_rebuilt == 0

    # undoable: pre-compact generation retained
    hist = sess.table_history(spark, str(sf), "lineitem")
    assert [h["superseded_by"] for h in hist if h.get("version")] == ["compact"]


def test_compact_clears_batch_tags_so_batch_delete_rebuilds(
    spark, tmp_path, monkeypatch, restore_catalog
):
    """After compaction the appended batches' tagged files are gone — a
    whole-batch source delete must fall back to the full rebuild, never
    pretend it can drop tagged files that no longer exist."""
    sf = tmp_path / "sfcmp2"
    (sf / "orders.parquet").mkdir(parents=True)
    orders = pq.read_table(f"{SRC}/orders.parquet")
    half = orders.num_rows // 2
    pq.write_table(orders.slice(0, half), str(sf / "orders.parquet" / "b0.parquet"))
    monkeypatch.setattr(sess, "INGEST_ROOT", str(tmp_path / "ingest"))
    out = sess.ingest_tables(spark, str(sf))
    pq.write_table(orders.slice(half), str(sf / "orders.parquet" / "b1.parquet"))
    sess.ingest_tables(spark, str(sf))
    assert spark._lianjia_ingest_appended == 1

    sess.compact_table(spark, str(sf), "orders")
    marker = os.path.join(out, "orders.parquet", "_SUCCESS")
    _fp, meta = sess._read_marker(marker)
    assert "batches" not in meta

    os.remove(str(sf / "orders.parquet" / "b1.parquet"))
    sess.ingest_tables(spark, str(sf))
    assert spark._lianjia_ingest_deleted == 0, (
        "batch delete after compaction must not take the O(batch) path"
    )
    assert spark._lianjia_ingest_rebuilt == 1
    post = spark.read.parquet(os.path.join(out, "orders.parquet"))
    assert post.count() == half


def test_cli_compact_subcommand(spark, tmp_path, monkeypatch, restore_catalog):
    from data_etl_sh_lianjia_spark.__main__ import main

    sf = tmp_path / "sfcmp3"
    sf.mkdir()
    shutil.copy(f"{SRC}/orders.parquet", str(sf / "orders.parquet"))
    monkeypatch.setattr(sess, "INGEST_ROOT", str(tmp_path / "ingest"))
    rc = main(["compact", "orders", "--sf-dir", str(sf)])
    assert rc == 0
    out = spark._lianjia_ingest_map[os.path.normpath(str(sf))]
    fp, _m = sess._read_marker(os.path.join(out, "orders.parquet", "_SUCCESS"))
    assert "~cmp" in fp


def test_compact_zorder_clusters_multiple_dimensions(
    spark, tmp_path, monkeypatch, restore_catalog, first_read
):
    """OPTIMIZE ZORDER BY: after a z-order compact on (shipdate, partkey),
    per-file min/max stats prune on BOTH columns — a point partkey admits
    fewer files than the plain time clustering (where every file spans
    the full partkey domain) — while values and projections are
    untouched (restamp)."""
    sf = tmp_path / "sfz"
    sf.mkdir()
    for t in STAR:
        shutil.copy(f"{SRC}/{t}.parquet", str(sf / f"{t}.parquet"))
    monkeypatch.setattr(sess, "INGEST_ROOT", str(tmp_path / "ingest"))
    out = sess.ingest_tables(spark, str(sf), parts=4, min_rows_to_split=1000)
    first_read(sf)
    dst = os.path.join(out, "lineitem.parquet")

    li = pq.read_table(f"{SRC}/lineitem.parquet")
    pk = sorted(li.column("l_partkey").to_pylist())[len(li) // 20]

    def files_admitting(col, value):
        n = 0
        for p in sorted(glob.glob(os.path.join(dst, "*.parquet"))):
            c = pq.read_table(p, columns=[col]).column(col)
            if pc.min(c).as_py() <= value <= pc.max(c).as_py():
                n += 1
        return n

    pre_rows = sorted(map(tuple, spark.read.parquet(dst).collect()))
    assert files_admitting("l_partkey", pk) == 4, (
        "fixture: plain time clustering must not prune on partkey"
    )
    ap_inodes = _inodes(os.path.join(out, "lineitem.aggproj.parquet", "*.parquet"))

    st = sess.compact_table(
        spark, str(sf), "lineitem", zorder=["l_shipdate", "l_partkey"]
    )
    assert st["rows"] == li.num_rows
    assert files_admitting("l_partkey", pk) < 4, (
        "z-ordered files must prune on the second dimension"
    )
    n_files = len(glob.glob(os.path.join(dst, "*.parquet")))
    assert n_files == 4, "layout rule unchanged by zorder"

    post_rows = sorted(map(tuple, spark.read.parquet(dst).collect()))
    assert post_rows == pre_rows, "z-order compact must not change values"
    assert _inodes(
        os.path.join(out, "lineitem.aggproj.parquet", "*.parquet")
    ) == ap_inodes, "projections restamp under zorder too"
    for proj, full in (
        ("q1_scan_agg", "q1_scan_agg_df"),
        ("q3_join3", "q3_join3_df"),
        ("topk_sort", "topk_sort_df"),
    ):
        assert _run(spark, str(sf), proj) == _run(spark, str(sf), full)

    with pytest.raises(ValueError, match=">= 2 columns"):
        sess.compact_table(spark, str(sf), "lineitem", zorder=["l_partkey"])
    with pytest.raises(ValueError, match="not in"):
        sess.compact_table(
            spark, str(sf), "lineitem", zorder=["l_partkey", "nope"]
        )
