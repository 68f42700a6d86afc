"""Distributed-DML mode (SPARK_GRAFT_DML_DISTRIBUTED=1): the delete/update
per-file split and the compaction sort run as SPARK TASKS instead of driver
threads / driver-side pyarrow — the 100 TB execution regime — and must be
value-identical to the local kernels on every surface the contract tests
pin: managed table rows, untouched-file hardlinks, projection merges,
restamp lockstep, and the schema-keeping edge cases."""

from __future__ import annotations

import glob
import os
import shutil

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from data_etl_sh_lianjia_spark import session as sess

SRC = "/root/testdata/sf0.001"
STAR = ("lineitem", "orders", "customer", "supplier", "nation", "region")


@pytest.fixture()
def restore_catalog(spark):
    saved = (
        dict(getattr(spark, "_lianjia_ingest_map", {}) or {}),
        dict(getattr(spark, "_lianjia_table_cache", {}) or {}),
        set(getattr(spark, "_lianjia_cached_views", set()) or set()),
        dict(getattr(spark, "_lianjia_keydict_views", {}) or {}),
        dict(getattr(spark, "_lianjia_bucket_tables", {}) or {}),
    )
    yield
    spark._lianjia_ingest_map = saved[0]
    spark._lianjia_table_cache = saved[1]
    spark._lianjia_cached_views = saved[2]
    spark._lianjia_keydict_views = saved[3]
    spark._lianjia_bucket_tables = saved[4]
    spark._lianjia_views_dir = None


def _mk_sf(tmp_path, monkeypatch, sub, tables=("lineitem", "orders")):
    sf = tmp_path / sub
    sf.mkdir()
    for t in tables:
        shutil.copy(f"{SRC}/{t}.parquet", str(sf / f"{t}.parquet"))
    monkeypatch.setattr(sess, "INGEST_ROOT", str(tmp_path / "ingest"))
    return str(sf)


def _rows(spark, managed_dir, table):
    df = spark.read.parquet(os.path.join(managed_dir, f"{table}.parquet"))
    return sorted(tuple(r) for r in df.collect())


def test_distributed_delete_matches_local(
    spark, tmp_path, monkeypatch, restore_catalog
):
    """The same predicate DELETE in both regimes: identical row counts,
    identical surviving rows, untouched files still HARDLINK (the driver
    links staged + untouched files — no row data crosses the driver)."""
    import datetime

    pred = lambda: (  # noqa: E731 — fresh expression per run
        pc.field("l_shipdate")
        < pc.scalar(datetime.datetime(1996, 1, 1))
    )
    results = {}
    for mode, flag in (("local", "0"), ("dist", "1")):
        # sf0.01: lineitem splits into multiple range-clustered files, so
        # the stats prune leaves genuinely untouched files to hardlink
        sf = tmp_path / f"sfdel-{mode}"
        sf.mkdir()
        for t in ("lineitem", "orders"):
            shutil.copy(
                f"/root/testdata/sf0.01/{t}.parquet", str(sf / f"{t}.parquet")
            )
        monkeypatch.setattr(sess, "INGEST_ROOT", str(tmp_path / "ingest"))
        sf = str(sf)
        out = sess.ingest_tables(spark, sf)
        li_dir = os.path.join(out, "lineitem.parquet")
        before = {
            f: os.stat(os.path.join(li_dir, f)).st_ino
            for f in os.listdir(li_dir)
            if f.endswith(".parquet")
        }
        monkeypatch.setenv("SPARK_GRAFT_DML_DISTRIBUTED", flag)
        try:
            n = sess.delete_where(spark, sf, "lineitem", pred())
        finally:
            monkeypatch.delenv("SPARK_GRAFT_DML_DISTRIBUTED", raising=False)
        after = {
            f: os.stat(os.path.join(li_dir, f)).st_ino
            for f in os.listdir(li_dir)
            if f.endswith(".parquet")
        }
        untouched = [f for f in after if after[f] == before.get(f)]
        results[mode] = (n, _rows(spark, out, "lineitem"), len(untouched))
        spark._lianjia_table_cache = {}
        assert n > 0
        assert not glob.glob(li_dir + ".stage-*"), "stage dir must be cleaned"
    assert results["local"][0] == results["dist"][0]
    assert results["local"][1] == results["dist"][1]
    # stats-pruned untouched files hardlink in BOTH regimes
    assert results["dist"][2] > 0
    assert results["local"][2] == results["dist"][2]


def test_distributed_update_matches_local_and_projections(
    spark, tmp_path, monkeypatch, restore_catalog, first_read
):
    """The same UPDATE (callable assignment over old values) in both
    regimes: identical updated rows AND an identical keydict projection
    (the negative+positive merge consumes the hold dirs the Spark tasks
    wrote)."""
    results = {}
    for mode, flag in (("local", "0"), ("dist", "1")):
        sf = _mk_sf(tmp_path, monkeypatch, f"sfupd-{mode}")
        out = sess.ingest_tables(spark, sf)
        first_read(sf, "lineitem.keydict.parquet")
        monkeypatch.setenv("SPARK_GRAFT_DML_DISTRIBUTED", flag)
        try:
            n = sess.update_where(
                spark, sf, "lineitem",
                pc.field("l_suppkey") == 3,
                {
                    "l_quantity": lambda t: pc.add(t["l_quantity"], 7.0),
                    "l_returnflag": "U",
                },
            )
        finally:
            monkeypatch.delenv("SPARK_GRAFT_DML_DISTRIBUTED", raising=False)
        assert n > 0
        kd = os.path.join(out, "lineitem.keydict.parquet")
        kd_rows = (
            sorted(tuple(r) for r in spark.read.parquet(kd).collect())
            if os.path.isdir(kd)
            else None
        )
        results[mode] = (n, _rows(spark, out, "lineitem"), kd_rows)
        spark._lianjia_table_cache = {}
    assert results["local"] == results["dist"]


def test_distributed_keydict_counts_ride_spark_tasks(
    spark, tmp_path, monkeypatch, restore_catalog, first_read
):
    """In the distributed regime the keydict deltas come back from the
    split tasks themselves — the driver must NOT re-decode held files
    (`_kd_count_frames` never runs), and the merged dictionary must be
    value-identical to the local regime's for both a DELETE and an
    UPDATE that rewrites a dictionary column."""
    kd_decodes = []
    real_count = sess._kd_count_frames

    def spy(*a, **k):
        kd_decodes.append(1)
        return real_count(*a, **k)

    monkeypatch.setattr(sess, "_kd_count_frames", spy)

    results = {}
    for mode, flag in (("local", "0"), ("dist", "1")):
        sf = _mk_sf(tmp_path, monkeypatch, f"sfkd-{mode}")
        out = sess.ingest_tables(spark, sf)
        first_read(sf, "lineitem.keydict.parquet")
        monkeypatch.setenv("SPARK_GRAFT_DML_DISTRIBUTED", flag)
        kd_decodes.clear()
        try:
            n_del = sess.delete_where(
                spark, sf, "lineitem", pc.field("l_suppkey") == 2
            )
            n_upd = sess.update_where(
                spark, sf, "lineitem",
                pc.field("l_suppkey") == 3,
                {"l_suppkey": lambda t: pc.add(t["l_suppkey"], 100)},
            )
        finally:
            monkeypatch.delenv("SPARK_GRAFT_DML_DISTRIBUTED", raising=False)
        assert n_del > 0 and n_upd > 0
        if mode == "dist":
            assert not kd_decodes, (
                "distributed keydict maintenance must not decode held "
                "files on the driver"
            )
        else:
            assert kd_decodes, "local regime still counts from held files"
        kd = os.path.join(out, "lineitem.keydict.parquet")
        results[mode] = sorted(
            tuple(r) for r in spark.read.parquet(kd).collect()
        )
        spark._lianjia_table_cache = {}
    assert results["local"] == results["dist"]
    # and the merged dictionary equals a from-scratch rebuild: counts for
    # the updated key moved, deleted key is gone
    keys = {(c, k): n for c, k, n in results["dist"]}
    assert ("l_suppkey", 2) not in keys
    assert ("l_suppkey", 3) not in keys
    assert keys.get(("l_suppkey", 103), 0) > 0


def test_distributed_compact_sort_rewrite(
    spark, tmp_path, monkeypatch, restore_catalog, first_read
):
    """Distributed compaction (Spark repartitionByRange + sortWithin):
    value-identical multiset, files pairwise RANGE-DISJOINT on the cluster
    key and internally sorted, fingerprint chains ~cmp, and the keydict
    restamps in lockstep (served, not rebuilt)."""
    sf = _mk_sf(tmp_path, monkeypatch, "sfcmp")
    out = sess.ingest_tables(spark, sf)
    first_read(sf, "lineitem.keydict.parquet")
    # a delete first, so compaction has a real multi-generation dir to merge
    sess.delete_where(spark, sf, "lineitem", pc.field("l_suppkey") == 1)
    li_dir = os.path.join(out, "lineitem.parquet")
    pre_rows = _rows(spark, out, "lineitem")
    pre_fp, _m = sess._read_marker(os.path.join(li_dir, "_SUCCESS"))

    monkeypatch.setenv("SPARK_GRAFT_DML_DISTRIBUTED", "1")
    try:
        stats = sess.compact_table(spark, sf, "lineitem")
    finally:
        monkeypatch.delenv("SPARK_GRAFT_DML_DISTRIBUTED", raising=False)

    assert stats["rows"] == len(pre_rows)
    assert _rows(spark, out, "lineitem") == pre_rows
    new_fp, _m2 = sess._read_marker(os.path.join(li_dir, "_SUCCESS"))
    assert new_fp.startswith(pre_fp) and "~cmp" in new_fp
    # keydict restamped onto the compacted fingerprint (lockstep serve)
    kd_fp, _km = sess._read_marker(
        os.path.join(out, "lineitem.keydict.parquet", "_SUCCESS")
    )
    assert kd_fp == new_fp
    # per-file ranges on the cluster key are pairwise disjoint + sorted
    key = sess._INGEST_LAYOUT["lineitem"][0]
    ranges = []
    for f in sorted(os.listdir(li_dir)):
        if not f.endswith(".parquet"):
            continue
        col = pq.read_table(os.path.join(li_dir, f), columns=[key]).column(key)
        vals = col.to_pylist()
        assert vals == sorted(vals), "file not internally sorted"
        ranges.append((vals[0], vals[-1]))
    ranges.sort()
    for (_, hi), (lo, _) in zip(ranges, ranges[1:]):
        assert hi <= lo, "compacted files must be range-disjoint"


def test_distributed_compact_nanos_timestamp_stays_schema_identical(
    spark, tmp_path, monkeypatch, restore_catalog
):
    """events carries a TIMESTAMP(NANOS) column that Spark's DataFrame
    writer would silently retype (nanosAsLong) — the distributed regime
    must route it through the arrow-native two-stage range shuffle
    (_compact_arrow_via_spark) and publish a generation that is
    byte-schema-identical to its pyarrow-written siblings, value-identical
    as a multiset, internally sorted, and range-disjoint across files."""
    arrow_path = []
    real = sess._compact_arrow_via_spark

    def spy(*a, **k):
        arrow_path.append(1)
        return real(*a, **k)

    monkeypatch.setattr(sess, "_compact_arrow_via_spark", spy)

    sf = tmp_path / "sfevt"
    sf.mkdir()
    # force the non-round-trip shape: ts as TIMESTAMP(NANOS) (the streaming
    # corpus habitat; current testdata ships us-unit, which Spark's writer
    # handles — the arrow shuffle exists for the ns/nested/unsigned cases)
    src = pq.read_table(f"{SRC}/events.parquet")
    src = src.set_column(
        src.schema.get_field_index("ts"),
        "ts",
        src.column("ts").cast(pa.timestamp("ns")),
    )
    pq.write_table(src, str(sf / "events.parquet"))
    monkeypatch.setattr(sess, "INGEST_ROOT", str(tmp_path / "ingest"))
    out = sess.ingest_tables(spark, str(sf))
    ev_dir = os.path.join(out, "events.parquet")

    def _first_part():
        return os.path.join(
            ev_dir,
            sorted(f for f in os.listdir(ev_dir) if f.endswith(".parquet"))[0],
        )

    def _whole_table():
        return pa.concat_tables(
            pq.read_table(os.path.join(ev_dir, f))
            for f in sorted(os.listdir(ev_dir))
            if f.endswith(".parquet")
        )

    pre_schema = pq.read_schema(_first_part())
    pre_tbl = _whole_table()
    key = "ts" if "ts" in pre_tbl.schema.names else pre_tbl.schema.names[0]
    pre_multiset = sorted(map(str, pre_tbl.to_pylist()))

    monkeypatch.setenv("SPARK_GRAFT_DML_DISTRIBUTED", "1")
    try:
        stats = sess.compact_table(spark, str(sf), "events")
    finally:
        monkeypatch.delenv("SPARK_GRAFT_DML_DISTRIBUTED", raising=False)

    assert arrow_path, "ns-timestamp compaction must take the arrow shuffle"
    assert stats["rows"] == pre_tbl.num_rows
    post_schema = pq.read_schema(_first_part())
    assert post_schema.equals(pre_schema), (
        "ns-timestamp generation must stay schema-identical"
    )
    post_tbl = _whole_table()
    assert post_tbl.schema.equals(pre_tbl.schema)
    post_multiset = sorted(map(str, post_tbl.to_pylist()))
    assert post_multiset == pre_multiset, "values must survive the shuffle"
    # clustering contract: files internally sorted, pairwise range-disjoint
    ranges = []
    for f in sorted(os.listdir(ev_dir)):
        if not f.endswith(".parquet"):
            continue
        vals = (
            pq.read_table(os.path.join(ev_dir, f), columns=[key])
            .column(key)
            .to_pylist()
        )
        assert vals == sorted(vals), "file not internally sorted"
        if vals:
            ranges.append((vals[0], vals[-1]))
    ranges.sort()
    for (_, hi), (lo, _) in zip(ranges, ranges[1:]):
        assert hi <= lo, "compacted files must be range-disjoint"


def test_arrow_compact_kernel_multibucket(spark, tmp_path):
    """The arrow-native shuffle kernel directly, at its hard shape:
    several input files, n_parts > 1 real range buckets, a ns-timestamp
    sort key WITH nulls, and a nested list column — multiset preserved,
    schema byte-identical, outputs sorted with nulls last, files
    range-disjoint."""
    import random

    rng = random.Random(7)
    dst = tmp_path / "tbl.parquet"
    dst.mkdir()
    schema = pa.schema(
        [
            ("ts", pa.timestamp("ns")),
            ("v", pa.uint32()),
            ("tags", pa.list_(pa.string())),
        ]
    )
    n_rows = 0
    for i in range(5):
        ts = [
            None if rng.random() < 0.1 else rng.randrange(10**15)
            for _ in range(200)
        ]
        t = pa.table(
            {
                "ts": pa.array(ts, pa.timestamp("ns")),
                "v": pa.array(
                    [rng.randrange(2**31) for _ in range(200)], pa.uint32()
                ),
                "tags": pa.array(
                    [[f"t{rng.randrange(5)}"] for _ in range(200)],
                    pa.list_(pa.string()),
                ),
            },
            schema=schema,
        )
        pq.write_table(t, str(dst / f"part-a{i:02d}-00000.parquet"))
        n_rows += t.num_rows
    parts = sorted(os.listdir(dst))
    pre = pa.concat_tables(
        pq.read_table(str(dst / f)) for f in parts
    )
    pre_multiset = sorted(map(str, pre.to_pylist()))

    tmp = tmp_path / "out"
    tmp.mkdir()
    sess._compact_arrow_via_spark(
        spark, str(dst), parts, "ts", 4, str(tmp)
    )
    outs = sorted(f for f in os.listdir(tmp) if f.endswith(".parquet"))
    assert len(outs) > 1, "multi-bucket shape must produce several files"
    post = pa.concat_tables(pq.read_table(str(tmp / f)) for f in outs)
    assert post.schema.equals(pre.schema)
    assert sorted(map(str, post.to_pylist())) == pre_multiset
    ranges = []
    saw_null_tail = False
    for f in outs:
        vals = pq.read_table(str(tmp / f), columns=["ts"]).column(
            "ts"
        ).to_pylist()
        nn = [v for v in vals if v is not None]
        assert nn == sorted(nn), "non-null keys must be sorted"
        # nulls, if any, sit at the tail (sort_by nulls-at-end)
        if None in vals:
            assert all(v is None for v in vals[vals.index(None):])
            assert f == outs[-1], "null keys must land in the last bucket"
            saw_null_tail = True
        if nn:
            ranges.append((nn[0], nn[-1]))
    assert saw_null_tail, "fixture guarantees null keys"
    ranges.sort()
    for (_, hi), (lo, _) in zip(ranges, ranges[1:]):
        assert hi <= lo, "buckets must be range-disjoint"


@pytest.mark.parametrize(
    "rows_per_file,n_files,n_parts,null_frac",
    [
        (1, 1, 4, 0.0),     # single row, more buckets than rows
        (50, 3, 2, 1.0),    # ALL-null key: everything lands in the tail
        (40, 4, 8, 0.5),    # heavy nulls, buckets >> distinct values
        (30, 2, 1, 0.2),    # single bucket degenerate
    ],
)
def test_arrow_compact_kernel_edges(
    spark, tmp_path, rows_per_file, n_files, n_parts, null_frac
):
    """Edge shapes of the arrow shuffle kernel: tiny inputs, all-null sort
    keys, empty buckets, single-bucket degenerate — multiset + schema
    always preserved, non-null keys sorted, nulls at the global tail."""
    import random

    rng = random.Random(rows_per_file * 31 + n_files)
    dst = tmp_path / "t.parquet"
    dst.mkdir()
    schema = pa.schema([("k", pa.int64()), ("v", pa.int64())])
    for i in range(n_files):
        ks = [
            None if rng.random() < null_frac else rng.randrange(100)
            for _ in range(rows_per_file)
        ]
        pq.write_table(
            pa.table(
                {
                    "k": pa.array(ks, pa.int64()),
                    "v": pa.array(
                        [rng.randrange(10**6) for _ in range(rows_per_file)],
                        pa.int64(),
                    ),
                },
                schema=schema,
            ),
            str(dst / f"part-{i:02d}.parquet"),
        )
    parts = sorted(os.listdir(dst))
    pre = pa.concat_tables(pq.read_table(str(dst / f)) for f in parts)
    tmp = tmp_path / "out"
    tmp.mkdir()
    sess._compact_arrow_via_spark(
        spark, str(dst), parts, "k", n_parts, str(tmp)
    )
    outs = sorted(f for f in os.listdir(tmp) if f.endswith(".parquet"))
    post = pa.concat_tables(pq.read_table(str(tmp / f)) for f in outs)
    assert post.schema.equals(pre.schema)
    assert sorted(map(str, post.to_pylist())) == sorted(
        map(str, pre.to_pylist())
    )
    all_keys = [
        v
        for f in outs
        for v in pq.read_table(str(tmp / f), columns=["k"]).column(
            "k"
        ).to_pylist()
    ]
    nn = [v for v in all_keys if v is not None]
    # global order across files (sorted filename order) must be
    # non-decreasing on non-null keys, nulls only at the global tail
    assert nn == sorted(nn)
    if None in all_keys:
        first_null = all_keys.index(None)
        assert all(v is None for v in all_keys[first_null:]), (
            "null keys must form the global tail"
        )


def test_distributed_delete_all_rows_keeps_schema(
    spark, tmp_path, monkeypatch, restore_catalog
):
    """Deleting every row in distributed mode still publishes one 0-row
    schema-carrying file (readers need the schema)."""
    sf = _mk_sf(tmp_path, monkeypatch, "sfdelall", tables=("orders",))
    out = sess.ingest_tables(spark, sf)
    monkeypatch.setenv("SPARK_GRAFT_DML_DISTRIBUTED", "1")
    try:
        n = sess.delete_where(spark, sf, "orders", pc.field("o_orderkey") >= 0)
    finally:
        monkeypatch.delenv("SPARK_GRAFT_DML_DISTRIBUTED", raising=False)
    assert n > 0
    o_dir = os.path.join(out, "orders.parquet")
    files = [f for f in os.listdir(o_dir) if f.endswith(".parquet")]
    assert files, "schema-carrying file must remain"
    tbl = pa.concat_tables(
        pq.read_table(os.path.join(o_dir, f)) for f in files
    )
    assert tbl.num_rows == 0 and "o_orderkey" in tbl.column_names


def test_distributed_merge_into_upserts(
    spark, tmp_path, monkeypatch, restore_catalog
):
    """merge_into composes delete_where + append: with the flag on, the
    delete half runs as Spark tasks and the upsert contract holds."""
    sf = tmp_path / "sfmrg"
    (sf / "orders.parquet").mkdir(parents=True)
    orders = pq.read_table(f"{SRC}/orders.parquet")
    pq.write_table(orders, str(sf / "orders.parquet" / "part-00000.parquet"))
    monkeypatch.setattr(sess, "INGEST_ROOT", str(tmp_path / "ingest"))
    out = sess.ingest_tables(spark, str(sf))

    hit = sorted(set(orders.column("o_orderkey").to_pylist()))[:4]
    base = orders.filter(pc.field("o_orderkey").isin(hit))
    batch = base.set_column(
        base.schema.get_field_index("o_totalprice"),
        base.schema.field("o_totalprice"),
        pc.add(base["o_totalprice"], 42.0).combine_chunks(),
    )
    monkeypatch.setenv("SPARK_GRAFT_DML_DISTRIBUTED", "1")
    try:
        replaced, landed = sess.merge_into(
            spark, str(sf), "orders", batch, "o_orderkey"
        )
    finally:
        monkeypatch.delenv("SPARK_GRAFT_DML_DISTRIBUTED", raising=False)
    assert (replaced, landed) == (base.num_rows, base.num_rows)
    post = spark.read.parquet(os.path.join(out, "orders.parquet"))
    assert post.count() == orders.num_rows
    got = {
        r["o_orderkey"]: r["o_totalprice"]
        for r in post.filter(post.o_orderkey.isin([int(k) for k in hit])).collect()
    }
    for k, v in zip(
        base.column("o_orderkey").to_pylist(),
        pc.add(base["o_totalprice"], 42.0).to_pylist(),
    ):
        assert got[k] == pytest.approx(v)


def test_distributed_zorder_compact(
    spark, tmp_path, monkeypatch, restore_catalog, first_read
):
    """Distributed ZORDER (sampled quantile boundaries -> mapInArrow Morton
    code -> range-partitioned sorted write): values untouched, projections
    restamp, and per-file min/max stats prune on the SECOND z dimension —
    the same contract the local kernel's test pins."""
    import pyarrow.compute as pc2

    sf = tmp_path / "sfzd"
    sf.mkdir()
    for t in ("lineitem", "orders", "customer", "supplier", "nation", "region"):
        shutil.copy(f"{SRC}/{t}.parquet", str(sf / f"{t}.parquet"))
    monkeypatch.setattr(sess, "INGEST_ROOT", str(tmp_path / "ingest"))
    out = sess.ingest_tables(spark, str(sf), parts=4, min_rows_to_split=1000)
    first_read(sf, "lineitem.keydict.parquet")
    dst = os.path.join(out, "lineitem.parquet")

    li = pq.read_table(f"{SRC}/lineitem.parquet")
    pk = sorted(li.column("l_partkey").to_pylist())[len(li) // 20]

    def files_admitting(col, value):
        n = 0
        for p in sorted(glob.glob(os.path.join(dst, "*.parquet"))):
            c = pq.read_table(p, columns=[col]).column(col)
            if pc2.min(c).as_py() <= value <= pc2.max(c).as_py():
                n += 1
        return n

    pre_rows = sorted(map(tuple, spark.read.parquet(dst).collect()))
    n_before = len(glob.glob(os.path.join(dst, "*.parquet")))
    assert files_admitting("l_partkey", pk) == n_before, (
        "fixture: plain time clustering must not prune on partkey"
    )
    kd_marker = os.path.join(out, "lineitem.keydict.parquet", "_SUCCESS")
    monkeypatch.setenv("SPARK_GRAFT_DML_DISTRIBUTED", "1")
    try:
        st = sess.compact_table(
            spark, str(sf), "lineitem", zorder=["l_shipdate", "l_partkey"]
        )
    finally:
        monkeypatch.delenv("SPARK_GRAFT_DML_DISTRIBUTED", raising=False)
    assert st["rows"] == li.num_rows
    assert files_admitting("l_partkey", pk) < n_before, (
        "distributed z-order must prune on the second dimension"
    )
    post_rows = sorted(map(tuple, spark.read.parquet(dst).collect()))
    assert post_rows == pre_rows, "z-order compact must not change values"
    # the __lj_z scratch column must never reach the published files
    for p in glob.glob(os.path.join(dst, "*.parquet")):
        assert "__lj_z" not in pq.read_schema(p).names
    fp, _m = sess._read_marker(os.path.join(dst, "_SUCCESS"))
    assert "~cmp" in fp
    kd_fp, _km = sess._read_marker(kd_marker)
    assert kd_fp == fp, "keydict must restamp onto the compacted chain"


def test_auto_regime_picks_spark_above_threshold(
    spark, tmp_path, monkeypatch, restore_catalog
):
    """UNSET flag = size-aware auto: a mutation whose candidate bytes
    clear LOCAL_INGEST_MAX_BYTES dispatches through Spark tasks, below it
    the local thread pool runs — same values either way (pinned by the
    cross-regime tests above); this pins the REGIME CHOICE itself."""
    calls = []
    real = sess._split_files_via_spark

    def spy(*a, **k):
        calls.append(1)
        return real(*a, **k)

    monkeypatch.setattr(sess, "_split_files_via_spark", spy)
    monkeypatch.delenv("SPARK_GRAFT_DML_DISTRIBUTED", raising=False)

    sf = _mk_sf(tmp_path, monkeypatch, "sfauto")
    sess.ingest_tables(spark, sf)
    # small data, default threshold: local kernel, no Spark dispatch
    n = sess.delete_where(spark, sf, "lineitem", pc.field("l_suppkey") == 2)
    assert n > 0 and not calls

    # drop the threshold to 0: the same shape of mutation now dispatches
    monkeypatch.setattr(sess, "LOCAL_INGEST_MAX_BYTES", 0)
    n = sess.delete_where(spark, sf, "lineitem", pc.field("l_suppkey") == 3)
    assert n > 0 and calls, "auto regime must pick Spark above threshold"

    # explicit =0 forces local even above threshold
    calls.clear()
    monkeypatch.setenv("SPARK_GRAFT_DML_DISTRIBUTED", "0")
    n = sess.delete_where(spark, sf, "lineitem", pc.field("l_suppkey") == 4)
    assert n > 0 and not calls, "=0 must force the local kernel"


def test_distributed_zorder_string_dimension(
    spark, tmp_path, monkeypatch, restore_catalog
):
    """The distributed z-code must handle non-numeric z columns: object-
    array searchsorted over string boundaries (documents.lang) interleaved
    with a long column — values untouched, clustering gains on the string
    dimension (a point lang admits fewer files than before)."""
    sf = tmp_path / "sfzstr"
    sf.mkdir()
    shutil.copy(
        "/root/testdata/sf0.01/documents.parquet", str(sf / "documents.parquet")
    )
    monkeypatch.setattr(sess, "INGEST_ROOT", str(tmp_path / "ingest"))
    out = sess.ingest_tables(spark, str(sf), parts=4, min_rows_to_split=100)
    dst = os.path.join(out, "documents.parquet")
    pre_rows = sorted(
        (r["doc_id"], r["lang"], r["n_chars"])
        for r in spark.read.parquet(dst).select("doc_id", "lang", "n_chars").collect()
    )
    n_before = len([f for f in os.listdir(dst) if f.endswith(".parquet")])

    def files_admitting(value):
        import pyarrow.compute as pc2

        n = 0
        for f in sorted(os.listdir(dst)):
            if not f.endswith(".parquet"):
                continue
            c = pq.read_table(os.path.join(dst, f), columns=["lang"]).column("lang")
            if pc2.min(c).as_py() <= value <= pc2.max(c).as_py():
                n += 1
        return n

    langs = sorted(
        set(
            pq.read_table(f"{sf}/documents.parquet", columns=["lang"])
            .column("lang")
            .to_pylist()
        )
    )
    probe = langs[len(langs) // 2]
    monkeypatch.setenv("SPARK_GRAFT_DML_DISTRIBUTED", "1")
    try:
        sess.compact_table(spark, str(sf), "documents", zorder=["lang", "n_chars"])
    finally:
        monkeypatch.delenv("SPARK_GRAFT_DML_DISTRIBUTED", raising=False)
    post_rows = sorted(
        (r["doc_id"], r["lang"], r["n_chars"])
        for r in spark.read.parquet(dst).select("doc_id", "lang", "n_chars").collect()
    )
    assert post_rows == pre_rows, "values must be untouched"
    n_after = len([f for f in os.listdir(dst) if f.endswith(".parquet")])
    if n_after >= 2 and len(langs) >= n_after:
        assert files_admitting(probe) < n_after, (
            "string z dimension should gain min/max pruning"
        )


def test_distributed_zorder_on_nanos_schema_takes_arrow_path(
    spark, tmp_path, monkeypatch, restore_catalog
):
    """OPTIMIZE ZORDER on a schema Spark's writer can't round-trip
    (ns-timestamps) must run the ARROW z shuffle: byte-identical schema,
    untouched values, z-clustering gains on the leading dimension, and
    the spy proves the distributed path (not the driver kernel) ran."""
    arrow_calls = []
    real = sess._compact_arrow_via_spark

    def spy(*a, **k):
        arrow_calls.append(k.get("zorder"))
        return real(*a, **k)

    monkeypatch.setattr(sess, "_compact_arrow_via_spark", spy)

    sf = tmp_path / "sfzns"
    sf.mkdir()
    src = pq.read_table("/root/testdata/sf0.01/events.parquet")
    src = src.set_column(
        src.schema.get_field_index("ts"),
        "ts",
        src.column("ts").cast(pa.timestamp("ns")),
    )
    pq.write_table(src, str(sf / "events.parquet"))
    monkeypatch.setattr(sess, "INGEST_ROOT", str(tmp_path / "ingest"))
    out = sess.ingest_tables(spark, str(sf), parts=4, min_rows_to_split=100)
    dst = os.path.join(out, "events.parquet")

    def _first_schema():
        p = sorted(f for f in os.listdir(dst) if f.endswith(".parquet"))[0]
        return pq.read_schema(os.path.join(dst, p))

    pre_schema = _first_schema()
    pre = sorted(
        map(
            str,
            pa.concat_tables(
                pq.read_table(os.path.join(dst, f))
                for f in sorted(os.listdir(dst))
                if f.endswith(".parquet")
            ).to_pylist(),
        )
    )

    monkeypatch.setenv("SPARK_GRAFT_DML_DISTRIBUTED", "1")
    try:
        sess.compact_table(
            spark, str(sf), "events", zorder=["user_id", "event_type"]
        )
    finally:
        monkeypatch.delenv("SPARK_GRAFT_DML_DISTRIBUTED", raising=False)

    assert arrow_calls and arrow_calls[-1] == ["user_id", "event_type"], (
        "ns-schema zorder must take the arrow z shuffle"
    )
    assert _first_schema().equals(pre_schema), "schema must stay ns"
    post_files = sorted(
        f for f in os.listdir(dst) if f.endswith(".parquet")
    )
    post = sorted(
        map(
            str,
            pa.concat_tables(
                pq.read_table(os.path.join(dst, f)) for f in post_files
            ).to_pylist(),
        )
    )
    assert post == pre, "values must be untouched"
    # clustering gain: a probe user_id admits fewer files than all
    if len(post_files) >= 2:
        users = sorted(
            set(src.column("user_id").to_pylist())
        )
        probe = users[len(users) // 2]
        import pyarrow.compute as pc2

        admitting = 0
        for f in post_files:
            c = pq.read_table(
                os.path.join(dst, f), columns=["user_id"]
            ).column("user_id")
            if pc2.min(c).as_py() <= probe <= pc2.max(c).as_py():
                admitting += 1
        assert admitting < len(post_files), (
            "z dimension should gain min/max pruning"
        )
