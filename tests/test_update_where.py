"""Row-level UPDATE (session.update_where) and MERGE (session.merge_into).

Contract under test (the update/upsert half of the storage story; the
delete half lives in tests/test_delete_where.py):

- Copy-on-write over O(affected files): part files with no matching row
  hardlink into the new generation byte-identical; only files with
  matches rewrite (survivors + updated versions, same file name).
- update == rebuild, value-identical on the managed table AND every
  projection: SUM-mergeable artifacts (keydict/colstats/aggproj/coarse/
  star rollups) NEGATIVE-merge the old row versions and POSITIVE-merge
  the new ones — exact even when the update moves rows across group
  keys; ordered/vector artifacts rebuild; the sessions artifact
  update-merges only affected users' buckets.
- Bucketed fact copies rewrite only affected bucket files, unless the
  UPDATE touches the bucket key (rows move buckets -> rebuild).
- SQL UPDATE semantics: NULL-predicate rows are untouched; updating
  zero rows is a no-op (no new generation, no chain growth); re-running
  the same update applies it again (UPDATE is not idempotent).
- merge_into == upsert: matched keys replaced by the batch version,
  unmatched batch rows inserted, all projections maintained.
"""

from __future__ import annotations

import glob
import os
import shutil

import pyarrow as pa
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
    """Same contract as tests/test_delete_where.py: put the session catalog
    back after routing it through this test's tmp managed copies."""
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


def _mk_sf(tmp_path, monkeypatch, tables=STAR, sub="sfupd"):
    sf = tmp_path / sub
    sf.mkdir()
    for t in tables:
        shutil.copy(f"{SRC}/{t}.parquet", str(sf / f"{t}.parquet"))
    monkeypatch.setattr(sess, "INGEST_ROOT", str(tmp_path / "ingest"))
    return str(sf)


def _inodes(pattern):
    return {p: os.stat(p).st_ino for p in glob.glob(pattern)}


def _digests(pattern):
    """{path: md5 of bytes} — the MERGE-direction check. Inode inequality
    is NOT a reliable merged-signal: a two-step merge (negative publish +
    positive publish) frees the pre-merge inode before the second publish
    allocates, and the filesystem can hand the freed number straight
    back, so the merged file reappears under the original inode. Content
    digests cannot alias that way (the merge changes the rollup's rows).
    Inode EQUALITY remains the right check for the restamp direction —
    restamps must not touch data files at all."""
    import hashlib

    return {
        p: hashlib.md5(open(p, "rb").read()).hexdigest()
        for p in glob.glob(pattern)
    }


def _bump_qty(t):
    return pc.add(t["l_quantity"], 5.0)


def test_predicate_update_rewrites_only_affected_files_and_matches_rebuild(
    spark, tmp_path, monkeypatch, restore_catalog, first_read
):
    """A predicate on the range-cluster key touches only the files whose
    min/max admit it (hardlink check), and EVERY artifact of the updated
    table is value-identical to a from-scratch ingest of a pre-updated
    source — update == rebuild, including the star rollups' two-sided
    (negative+positive) merges."""
    sf = _mk_sf(tmp_path, monkeypatch)
    out = sess.ingest_tables(spark, sf, parts=4, min_rows_to_split=1000)
    first_read(sf)

    li = pq.read_table(f"{SRC}/lineitem.parquet")
    dates = sorted(li.column("l_shipdate").to_pylist())
    cutoff = dates[600]  # matches ~600 earliest rows — first file only
    predicate = pc.field("l_shipdate") < cutoff
    n_match = li.filter(predicate).num_rows
    assert 0 < n_match <= 1500, "fixture: matches must fit the first file"

    before = _inodes(os.path.join(out, "lineitem.parquet", "*.parquet"))
    assert len(before) == 4, "fixture: lineitem must split into 4 files"
    n = sess.update_where(
        spark, sf, "lineitem", predicate, {"l_quantity": _bump_qty}
    )
    assert n == n_match

    after = _inodes(os.path.join(out, "lineitem.parquet", "*.parquet"))
    kept = [p for p, i in before.items() if after.get(p) == i]
    assert len(kept) == 3, (
        "range-pruned predicate must hardlink every unaffected file"
    )
    post = pa.concat_tables(
        pq.read_table(p)
        for p in sorted(glob.glob(os.path.join(out, "lineitem.parquet", "*.parquet")))
    )
    assert post.num_rows == li.num_rows, "UPDATE must not change row count"

    # update == rebuild: a second catalog ingested from a PRE-UPDATED
    # source must produce value-identical artifacts across the board
    sf2 = tmp_path / "sfrebuild"
    sf2.mkdir()
    mask_hit = pc.fill_null(pc.less(li.column("l_shipdate"), cutoff), False)
    qty = pc.if_else(
        mask_hit, pc.add(li.column("l_quantity"), 5.0), li.column("l_quantity")
    )
    pre_updated = li.set_column(
        li.schema.get_field_index("l_quantity"),
        li.schema.field("l_quantity"),
        qty.combine_chunks(),
    )
    pq.write_table(pre_updated, str(sf2 / "lineitem.parquet"))
    for t in STAR[1:]:
        shutil.copy(f"{SRC}/{t}.parquet", str(sf2 / f"{t}.parquet"))
    out2 = sess.ingest_tables(spark, str(sf2), parts=4, min_rows_to_split=1000)
    first_read(sf2)

    for artifact in (
        "lineitem.parquet",
        "lineitem.keydict.parquet",
        "lineitem.colstats.parquet",
        "lineitem.aggproj.parquet",
        "lineitem.aggproj.q1cut.parquet",
        "lineitem.price_topk.topkproj.parquet",
        "lineitem.bucketed.parquet",
        "sales_geo_date.joinproj.parquet",
        "q3_orderrev.joinproj.parquet",
    ):
        got = spark.read.parquet(os.path.join(out, artifact))
        want = spark.read.parquet(os.path.join(out2, artifact))
        assert sorted(map(tuple, got.collect())) == sorted(
            map(tuple, want.collect())
        ), f"{artifact} diverged from a from-scratch rebuild"

    # projection-served queries == full-scan plans over the mutated catalog
    for proj, full in (
        ("q1_scan_agg", "q1_scan_agg_df"),
        ("distinct_count", "distinct_count_df"),
        ("q3_join3", "q3_join3_df"),
        ("topk_sort", "topk_sort_df"),
    ):
        assert _run(spark, sf, proj) == _run(spark, sf, full), (
            f"{proj} diverged after predicate update"
        )


def test_update_moving_rows_across_group_keys_is_exact(
    spark, tmp_path, monkeypatch, restore_catalog, first_read
):
    """Updating an aggregate-projection GROUP KEY migrates rows between
    rollup groups — the negative+positive merge must land exactly the
    rebuilt state (groups drained to zero drop, new groups appear)."""
    sf = _mk_sf(tmp_path, monkeypatch, tables=("lineitem",))
    out = sess.ingest_tables(spark, sf)
    first_read(sf, "lineitem.aggproj.parquet")
    li = pq.read_table(f"{SRC}/lineitem.parquet")

    predicate = pc.field("l_returnflag") == "R"
    n = sess.update_where(
        spark, sf, "lineitem", predicate, {"l_returnflag": "Z"}
    )
    assert n == li.filter(predicate).num_rows > 0

    ap = spark.read.parquet(os.path.join(out, "lineitem.aggproj.parquet"))
    assert ap.filter("l_returnflag = 'R'").count() == 0, (
        "drained groups must drop from the rollup"
    )
    # exactness: rollup == direct recompute over the post-update table
    sf2 = tmp_path / "sfgk"
    sf2.mkdir()
    mask = pc.fill_null(pc.equal(li.column("l_returnflag"), "R"), False)
    flags = pc.if_else(mask, pa.scalar("Z"), li.column("l_returnflag"))
    pq.write_table(
        li.set_column(
            li.schema.get_field_index("l_returnflag"),
            li.schema.field("l_returnflag"),
            flags.combine_chunks(),
        ),
        str(sf2 / "lineitem.parquet"),
    )
    out2 = sess.ingest_tables(spark, str(sf2))
    first_read(sf2, "lineitem.aggproj.parquet")
    want = spark.read.parquet(os.path.join(out2, "lineitem.aggproj.parquet"))
    assert sorted(map(tuple, ap.collect())) == sorted(map(tuple, want.collect()))


def test_update_bucketed_copy_targeted_unless_bucket_key_changes(
    spark, tmp_path, monkeypatch, restore_catalog, first_read
):
    sf = _mk_sf(tmp_path, monkeypatch)
    out = sess.ingest_tables(spark, sf)
    first_read(sf)
    li = pq.read_table(f"{SRC}/lineitem.parquet")
    key = li.column("l_orderkey").to_pylist()[0]

    bk_dir = os.path.join(out, "lineitem.bucketed.parquet")
    before = _inodes(os.path.join(bk_dir, "*.parquet"))
    assert len(before) >= 8
    n = sess.update_where(
        spark, sf, "lineitem", pc.field("l_orderkey") == key,
        {"l_quantity": _bump_qty},
    )
    assert n == li.filter(pc.field("l_orderkey") == key).num_rows

    after = _inodes(os.path.join(bk_dir, "*.parquet"))
    rewritten = [p for p, i in before.items() if after.get(p) != i]
    assert len(rewritten) == 1, (
        "a single-orderkey update off the bucket key must rewrite exactly"
        " one bucket file"
    )
    q3 = all_queries()["q3_join3"].spark_fn(spark, sf)
    assert "q3_orderrev" in q3._jdf.queryExecution().toString()
    assert _run(spark, sf, "q3_join3") == _run(spark, sf, "q3_join3_df")

    # updating the BUCKET KEY moves rows across buckets -> rebuild
    key2 = li.column("l_orderkey").to_pylist()[-1]
    n2 = sess.update_where(
        spark, sf, "lineitem", pc.field("l_orderkey") == key2,
        {"l_orderkey": lambda t: pc.add(t["l_orderkey"], 1)},
    )
    assert n2 >= 1
    post = spark.read.parquet(os.path.join(out, "lineitem.parquet"))
    assert post.filter(f"l_orderkey = {key2}").count() == 0
    assert _run(spark, sf, "point_lookup_order") == _run(
        spark, sf, "point_lookup_order"
    )  # smoke: bucketed serve still consistent after rebuild
    assert _run(spark, sf, "q3_join3") == _run(spark, sf, "q3_join3_df")


def test_update_null_predicate_rows_untouched_and_set_null(
    spark, tmp_path, monkeypatch, restore_catalog
):
    """SQL UPDATE semantics: rows where the predicate is NULL are not
    updated; a constant-None assignment SETs the column NULL."""
    sf = tmp_path / "sfnull"
    sf.mkdir()
    orders = pq.read_table(f"{SRC}/orders.parquet")
    status = orders.column("o_orderstatus").to_pylist()
    n_null = 7
    status[:n_null] = [None] * n_null
    nulled = orders.set_column(
        orders.schema.get_field_index("o_orderstatus"),
        "o_orderstatus",
        pa.array(status, pa.string()),
    )
    pq.write_table(nulled, str(sf / "orders.parquet"))
    monkeypatch.setattr(sess, "INGEST_ROOT", str(tmp_path / "ingest"))
    out = sess.ingest_tables(spark, str(sf))

    want_hit = nulled.filter(pc.field("o_orderstatus") == "F").num_rows
    n = sess.update_where(
        spark, str(sf), "orders", pc.field("o_orderstatus") == "F",
        {"o_totalprice": None},
    )
    assert n == want_hit
    post = spark.read.parquet(os.path.join(out, "orders.parquet"))
    assert post.filter("o_orderstatus IS NULL").count() == n_null
    assert (
        post.filter("o_orderstatus IS NULL AND o_totalprice IS NULL").count()
        == 0
    ), "NULL-predicate rows must keep their values"
    assert post.filter("o_totalprice IS NULL").count() == want_hit
    assert post.count() == nulled.num_rows


def test_update_sessions_merge_and_vector_rebuild(
    spark, tmp_path, monkeypatch, restore_catalog, first_read
):
    """Vector pair/k-NN artifacts REBUILD on update (append-only mergers);
    the sessions artifact update-MERGES, rewriting only affected users'
    buckets."""
    sf = _mk_sf(tmp_path, monkeypatch, tables=("events", "embeddings"))
    out = sess.ingest_tables(spark, sf)
    first_read(
        sf, "embeddings.cospairs.vecproj.parquet",
        "embeddings.knn_mod100.vecproj.parquet",
        "events.sessions.resultproj.parquet",
    )

    # embeddings: update one vector -> rebuild (merged counter stays 0)
    vec = pq.read_table(f"{SRC}/embeddings.parquet")
    vid = vec.column("vec_id").to_pylist()[0]
    assert sess.update_where(
        spark, sf, "embeddings", pc.field("vec_id") == vid,
        {"embedding": lambda t: pa.array([[0.0] * 64] * t.num_rows)},
    ) == 1
    assert spark._lianjia_resultproj_merged == 0
    assert _run(spark, sf, "cosine_topk") == _run(spark, sf, "cosine_topk_grid")

    # events: update one user's values -> sessions update-merge, targeted
    ev = pq.read_table(f"{SRC}/events.parquet")
    user = ev.column("user_id").to_pylist()[0]
    sess_dir = os.path.join(out, "events.sessions.resultproj.parquet")
    before = _inodes(os.path.join(sess_dir, "*.parquet"))
    n = sess.update_where(
        spark, sf, "events", pc.field("user_id") == user,
        {"value": lambda t: pc.add(t["value"], 1.0)},
    )
    assert n == ev.filter(pc.field("user_id") == user).num_rows
    assert spark._lianjia_resultproj_merged == 1, "sessions must update-merge"
    after = _inodes(os.path.join(sess_dir, "*.parquet"))
    kept = [p for p, i in before.items() if after.get(p) == i]
    assert len(kept) >= len(before) - 2, (
        "single-user update must hardlink unaffected session buckets"
    )
    assert _run(spark, sf, "sessionize") == _run(spark, sf, "sessionize_df")


def test_update_regexmatch_view_composes_delete_and_append_merge(
    spark, tmp_path, monkeypatch, restore_catalog, first_read
):
    """The regex match view has distinct append/delete mergers: an UPDATE
    composes them (old doc ids evicted, new versions filtered in), so a
    doc updated INTO or OUT OF the match set lands correctly."""
    sf = _mk_sf(tmp_path, monkeypatch, tables=("documents",))
    out = sess.ingest_tables(spark, sf)
    first_read(sf, "documents.regexmatch.resultproj.parquet")
    art = os.path.join(out, "documents.regexmatch.resultproj.parquet")
    # snapshot the pre-update match set driver-side: a lazy DataFrame's
    # file listing freezes at analysis and would dangle across the publish
    match_ids = sorted(
        r["doc_id"] for r in spark.read.parquet(art).collect()
    )
    assert match_ids, "fixture: corpus must contain regex matches"
    gone_id = match_ids[0]

    n = sess.update_where(
        spark, sf, "documents", pc.field("doc_id") == gone_id,
        {"text": "nothing to see here"},
    )
    assert n == 1
    assert spark._lianjia_resultproj_merged == 1, "regex view must merge"
    post = spark.read.parquet(art)
    assert post.filter(f"doc_id = {gone_id!r}").count() == 0, (
        "doc updated out of the match set must leave the view"
    )
    # updated INTO the match set: rewrite a non-matching doc's text (its
    # lang must already qualify — the view also filters lang IN (...))
    docs = pq.read_table(f"{SRC}/documents.parquet")
    new_id = next(
        d
        for d, lang in zip(
            docs.column("doc_id").to_pylist(),
            docs.column("lang").to_pylist(),
        )
        if d not in set(match_ids) and lang in ("en", "zh", "de")
    )
    sess.update_where(
        spark, sf, "documents", pc.field("doc_id") == new_id,
        {"text": "a join scan walks into a merge sort"},
    )
    post2 = spark.read.parquet(art)
    assert post2.filter(f"doc_id = {new_id!r}").count() == 1, (
        "doc updated into the match set must enter the view"
    )
    assert _run(spark, sf, "string_regex") == _run(spark, sf, "string_regex_df")


def test_update_chain_persists_noop_and_reapplication(
    spark, tmp_path, monkeypatch, restore_catalog
):
    sf = _mk_sf(tmp_path, monkeypatch, tables=("lineitem",))
    out = sess.ingest_tables(spark, sf)
    marker = os.path.join(out, "lineitem.parquet", "_SUCCESS")
    li = pq.read_table(f"{SRC}/lineitem.parquet")
    n_match = li.filter(pc.field("l_suppkey") == 5).num_rows
    assert n_match > 0

    n = sess.update_where(
        spark, sf, "lineitem", pc.field("l_suppkey") == 5,
        {"l_quantity": _bump_qty},
    )
    assert n == n_match
    fp1, _ = sess._read_marker(marker)
    assert "~upd" in fp1

    # unchanged source: the chained copy is fresh, nothing rebuilds
    sess.ingest_tables(spark, sf)
    assert spark._lianjia_ingest_rebuilt == 0
    assert sess._read_marker(marker)[0] == fp1

    # zero matches: no-op — no new generation, no chain growth
    assert sess.update_where(
        spark, sf, "lineitem", pc.field("l_suppkey") == -1,
        {"l_quantity": _bump_qty},
    ) == 0
    assert sess._read_marker(marker)[0] == fp1

    # UPDATE is not idempotent: re-running applies again (+10 total)
    assert sess.update_where(
        spark, sf, "lineitem", pc.field("l_suppkey") == 5,
        {"l_quantity": _bump_qty},
    ) == n_match
    fp2, _ = sess._read_marker(marker)
    assert fp2 != fp1 and fp2.count("~upd") == 2
    post = spark.read.parquet(os.path.join(out, "lineitem.parquet"))
    want = li.filter(pc.field("l_suppkey") == 5)
    got_sum = post.filter("l_suppkey = 5").groupBy().sum("l_quantity").first()[0]
    want_sum = pc.sum(pc.add(want.column("l_quantity"), 10.0)).as_py()
    assert got_sum == pytest.approx(want_sum)


def test_update_unknown_column_rejected(
    spark, tmp_path, monkeypatch, restore_catalog
):
    sf = _mk_sf(tmp_path, monkeypatch, tables=("orders",))
    sess.ingest_tables(spark, sf)
    with pytest.raises(ValueError, match="unknown column"):
        sess.update_where(
            spark, sf, "orders", pc.field("o_orderkey") > 0,
            {"no_such_col": 1},
        )


def test_merge_into_upserts_and_maintains_projections(
    spark, tmp_path, monkeypatch, restore_catalog
):
    """merge_into == anti-join + UNION upsert, across the managed table and
    its merged projections; a batch of only-new keys is a pure insert."""
    sf = tmp_path / "sfmerge"
    sf.mkdir()
    (sf / "orders.parquet").mkdir()
    orders = pq.read_table(f"{SRC}/orders.parquet")
    pq.write_table(orders, str(sf / "orders.parquet" / "part-00000.parquet"))
    monkeypatch.setattr(sess, "INGEST_ROOT", str(tmp_path / "ingest"))
    out = sess.ingest_tables(spark, str(sf))

    keys = orders.column("o_orderkey").to_pylist()
    hit = sorted(set(keys))[:5]
    batch = orders.filter(pc.field("o_orderkey").isin(hit))
    batch = batch.set_column(
        batch.schema.get_field_index("o_totalprice"),
        batch.schema.field("o_totalprice"),
        pc.add(batch["o_totalprice"], 99.0).combine_chunks(),
    )
    new_rows = orders.slice(0, 3).set_column(
        orders.schema.get_field_index("o_orderkey"),
        orders.schema.field("o_orderkey"),
        pa.array([10_000_001, 10_000_002, 10_000_003], pa.int64()),
    )
    n_dup = orders.filter(pc.field("o_orderkey").isin(hit)).num_rows
    replaced, landed = sess.merge_into(
        spark, str(sf), "orders",
        pa.concat_tables([batch, new_rows]), "o_orderkey",
    )
    assert replaced == n_dup
    assert landed == batch.num_rows + 3

    post = spark.read.parquet(os.path.join(out, "orders.parquet"))
    assert post.count() == orders.num_rows + 3
    got = {
        r["o_orderkey"]: r["o_totalprice"]
        for r in post.filter(
            post.o_orderkey.isin([int(k) for k in hit])
        ).collect()
    }
    want = {
        r["o_orderkey"]: r["o_totalprice"] for r in batch.to_pylist() or []
    } or {
        k: v
        for k, v in zip(
            batch.column("o_orderkey").to_pylist(),
            batch.column("o_totalprice").to_pylist(),
        )
    }
    for k in hit:
        assert got[k] == pytest.approx(want[k]), "matched rows must be replaced"
    assert post.filter("o_orderkey > 10000000").count() == 3

    # keydict projection stayed consistent through delete+append merges
    kd = os.path.join(out, "orders.keydict.parquet")
    if os.path.isdir(kd):
        kd_tbl = spark.read.parquet(kd)
        total = (
            kd_tbl.filter("col = 'o_orderkey'").groupBy().sum("cnt").first()[0]
        )
        assert total == orders.num_rows + 3

    # pure insert: a second merge with only-new keys deletes nothing
    ins_only = orders.slice(3, 2).set_column(
        orders.schema.get_field_index("o_orderkey"),
        orders.schema.field("o_orderkey"),
        pa.array([10_000_004, 10_000_005], pa.int64()),
    )
    replaced2, landed2 = sess.merge_into(
        spark, str(sf), "orders", ins_only, "o_orderkey"
    )
    assert (replaced2, landed2) == (0, 2)
    assert (
        spark.read.parquet(os.path.join(out, "orders.parquet")).count()
        == orders.num_rows + 5
    )

    # NULL merge keys are ambiguous under SQL MERGE semantics: rejected
    bad = orders.slice(0, 1).set_column(
        orders.schema.get_field_index("o_orderkey"),
        orders.schema.field("o_orderkey"),
        pa.array([None], pa.int64()),
    )
    with pytest.raises(ValueError, match="non-null"):
        sess.merge_into(spark, str(sf), "orders", bad, "o_orderkey")


def test_cli_update_and_merge_subcommands(
    spark, tmp_path, monkeypatch, restore_catalog
):
    """`python -m ... update <table> "<pred>" "col = lit"` routes through
    Engine.update_where (constant-SET subset), and `merge <table> <batch>
    --key col` through Engine.merge_into."""
    from data_etl_sh_lianjia_spark.__main__ import _parse_assignment, main

    sf = tmp_path / "sfcli"
    sf.mkdir()
    (sf / "orders.parquet").mkdir()
    orders = pq.read_table(f"{SRC}/orders.parquet")
    pq.write_table(orders, str(sf / "orders.parquet" / "part-00000.parquet"))
    monkeypatch.setattr(sess, "INGEST_ROOT", str(tmp_path / "ingest"))

    want = orders.filter(pc.field("o_orderstatus") == "F").num_rows
    rc = main(
        [
            "update", "orders", "o_orderstatus == 'F'",
            "o_orderpriority = '9-RECLASSIFIED'", "--sf-dir", str(sf),
        ]
    )
    assert rc == 0
    out = spark._lianjia_ingest_map[os.path.normpath(str(sf))]
    post = pa.concat_tables(
        pq.read_table(p)
        for p in glob.glob(os.path.join(out, "orders.parquet", "*.parquet"))
    )
    got = post.filter(
        pc.field("o_orderpriority") == "9-RECLASSIFIED"
    ).num_rows
    assert got == want

    batch = orders.slice(0, 2).set_column(
        orders.schema.get_field_index("o_orderkey"),
        orders.schema.field("o_orderkey"),
        pa.array([20_000_001, 20_000_002], pa.int64()),
    )
    bpath = str(tmp_path / "batch.parquet")
    pq.write_table(batch, bpath)
    rc = main(
        ["merge", "orders", bpath, "--key", "o_orderkey", "--sf-dir", str(sf)]
    )
    assert rc == 0
    post2 = pa.concat_tables(
        pq.read_table(p)
        for p in glob.glob(os.path.join(out, "orders.parquet", "*.parquet"))
    )
    assert post2.num_rows == orders.num_rows + 2

    # assignment parser: literal forms + rejection
    assert _parse_assignment("x = 3") == ("x", 3)
    assert _parse_assignment("x = 3.5") == ("x", 3.5)
    assert _parse_assignment("x = 'a b'") == ("x", "a b")
    assert _parse_assignment("x = null") == ("x", None)
    with pytest.raises(SystemExit):
        _parse_assignment("x = y + 1")


def test_topk_projection_restamps_when_mutation_cannot_reach_boundary(
    spark, tmp_path, monkeypatch, restore_catalog, first_read
):
    """Membership-pruned ordered-projection maintenance: deleting or
    updating rows that provably sort after the top-k boundary restamps the
    artifact (same data files, new fingerprint) instead of rebuilding; a
    mutation that CAN reach the boundary still rebuilds."""
    sf = _mk_sf(tmp_path, monkeypatch, tables=("lineitem",))
    out = sess.ingest_tables(spark, sf)
    first_read(sf, "lineitem.price_topk.topkproj.parquet")
    tp = os.path.join(out, "lineitem.price_topk.topkproj.parquet")
    li = pq.read_table(f"{SRC}/lineitem.parquet")
    assert li.num_rows > 1000, "fixture: projection must be full"

    prices = sorted(li.column("l_extendedprice").to_pylist())
    low = prices[0]
    # pin the mutation to the bottom row by PRICE (the synthetic data is
    # not PK-unique: an (orderkey, linenumber) pair can hit a second,
    # top-k-member row — which must and does refuse the restamp)
    bottom = pc.field("l_extendedprice") == low

    before = _inodes(os.path.join(tp, "*.parquet"))
    n = sess.update_where(
        spark, sf, "lineitem", bottom, {"l_quantity": _bump_qty}
    )
    assert n >= 1
    assert _inodes(os.path.join(tp, "*.parquet")) == before, (
        "bottom-row update off the order columns must RESTAMP the top-k"
    )
    fp, _m = sess._read_marker(os.path.join(tp, "_SUCCESS"))
    assert "~upd" in fp, "restamp must carry the new chain fingerprint"
    assert _run(spark, sf, "topk_sort") == _run(spark, sf, "topk_sort_df")

    # a delete of the same bottom row also restamps
    n = sess.delete_where(spark, sf, "lineitem", bottom)
    assert n >= 1
    assert _inodes(os.path.join(tp, "*.parquet")) == before
    assert _run(spark, sf, "topk_sort") == _run(spark, sf, "topk_sort_df")

    # updating a row's price INTO the boundary region must rebuild
    hi = prices[-1]
    sess.update_where(
        spark, sf, "lineitem",
        pc.field("l_extendedprice") == prices[10],
        {"l_extendedprice": hi + 1.0},
    )
    assert _inodes(os.path.join(tp, "*.parquet")) != before, (
        "a price update that beats the boundary must rebuild the top-k"
    )
    from pyspark.sql import functions as F

    top1 = (
        spark.read.parquet(tp).orderBy(F.desc("l_extendedprice")).first()
    )
    assert top1["l_extendedprice"] == hi + 1.0
    assert _run(spark, sf, "topk_sort") == _run(spark, sf, "topk_sort_df")


def test_projection_relevant_cols_cover_their_sql(spark):
    """The declared PROJECTION_RELEVANT_COLS sets must cover every source
    column their builder SQL references — an under-declared set would
    restamp an artifact the update actually changed (correctness), an
    over-declared one merely forfeits restamps (safe direction)."""
    from data_etl_sh_lianjia_spark.operators import relational as rel
    from data_etl_sh_lianjia_spark.session import _referenced_cols

    events_cols = {"event_id", "ts", "ts_ns", "user_id", "event_type",
                   "value", "props", "props_k"}
    orders_cols = {"o_orderkey", "o_custkey", "o_orderstatus",
                   "o_totalprice", "o_orderdate", "o_orderpriority"}
    docs_cols = {"doc_id", "text", "lang", "source", "n_chars"}

    assert _referenced_cols(rel._SESSIONIZE_SQL, events_cols) <= set(
        rel.PROJECTION_RELEVANT_COLS["sessions"]
    )
    assert _referenced_cols(rel._WINDOW_RANK_SQL, orders_cols) <= set(
        rel.PROJECTION_RELEVANT_COLS["custrank_top3"]
    )
    assert _referenced_cols(rel._STRING_REGEX_SQL, docs_cols) <= set(
        rel.PROJECTION_RELEVANT_COLS["regex_match_docs"]
    )


def test_update_relevance_restamps_untouched_projections(
    spark, tmp_path, monkeypatch, restore_catalog, first_read
):
    """An UPDATE that assigns only columns a projection never reads must
    RESTAMP it (same data files, new fingerprint, still serving) while
    projections that DO read an assigned column merge; all results stay
    identical to the full-scan plans."""
    sf = _mk_sf(tmp_path, monkeypatch)
    out = sess.ingest_tables(spark, sf)
    first_read(sf)
    li = pq.read_table(f"{SRC}/lineitem.parquet")
    key = li.column("l_orderkey").to_pylist()[0]

    jp_q3 = os.path.join(out, "q3_orderrev.joinproj.parquet")
    jp_geo = os.path.join(out, "sales_geo_date.joinproj.parquet")
    ap = os.path.join(out, "lineitem.aggproj.parquet")
    tp = os.path.join(out, "lineitem.price_topk.topkproj.parquet")
    kd = os.path.join(out, "lineitem.keydict.parquet")
    before = {p: _inodes(os.path.join(p, "*.parquet"))
              for p in (jp_q3, jp_geo, ap, tp, kd)}
    before_ap = _digests(os.path.join(ap, "*.parquet"))

    # l_quantity feeds the q1 aggproj but NOT the revenue rollups, the
    # price top-k, or the keydict layout
    n = sess.update_where(
        spark, sf, "lineitem", pc.field("l_orderkey") == key,
        {"l_quantity": _bump_qty},
    )
    assert n >= 1
    for p in (jp_q3, jp_geo, tp):
        assert _inodes(os.path.join(p, "*.parquet")) == before[p], (
            f"{os.path.basename(p)} must restamp (l_quantity irrelevant)"
        )
    assert _digests(os.path.join(ap, "*.parquet")) != before_ap, (
        "the q1 aggproj reads l_quantity: it must MERGE, not restamp"
    )
    # restamped rollup still serves q3 and matches the full plan
    q3 = all_queries()["q3_join3"].spark_fn(spark, sf)
    assert "q3_orderrev" in q3._jdf.queryExecution().toString()
    for proj, full in (
        ("q3_join3", "q3_join3_df"),
        ("q1_scan_agg", "q1_scan_agg_df"),
        ("topk_sort", "topk_sort_df"),
        ("distinct_count", "distinct_count_df"),
    ):
        assert _run(spark, sf, proj) == _run(spark, sf, full)


def test_update_relevance_restamps_leaderboard_and_sessions(
    spark, tmp_path, monkeypatch, restore_catalog, first_read
):
    sf = _mk_sf(tmp_path, monkeypatch, tables=("orders", "events"))
    out = sess.ingest_tables(spark, sf)
    first_read(
        sf, "orders.custrank.resultproj.parquet",
        "events.sessions.resultproj.parquet",
    )
    cr = os.path.join(out, "orders.custrank.resultproj.parquet")
    ss = os.path.join(out, "events.sessions.resultproj.parquet")
    cr_before = _inodes(os.path.join(cr, "*.parquet"))
    ss_before = _inodes(os.path.join(ss, "*.parquet"))

    # o_orderpriority is outside the leaderboard's column set
    orders = pq.read_table(f"{SRC}/orders.parquet")
    okey = orders.column("o_orderkey").to_pylist()[0]
    assert sess.update_where(
        spark, sf, "orders", pc.field("o_orderkey") == okey,
        {"o_orderpriority": "9-RECLASSIFIED"},
    ) >= 1
    assert _inodes(os.path.join(cr, "*.parquet")) == cr_before
    assert spark._lianjia_resultproj_merged == 1
    assert _run(spark, sf, "window_rank") == _run(spark, sf, "window_rank_df")

    # event_type is outside the sessions column set
    ev = pq.read_table(f"{SRC}/events.parquet")
    user = ev.column("user_id").to_pylist()[0]
    assert sess.update_where(
        spark, sf, "events", pc.field("user_id") == user,
        {"event_type": "reclassified"},
    ) >= 1
    assert _inodes(os.path.join(ss, "*.parquet")) == ss_before
    assert _run(spark, sf, "sessionize") == _run(spark, sf, "sessionize_df")
    # json_events reads event_type: its rollup must have merged, and the
    # served result must match the full plan
    assert _run(spark, sf, "json_events") == _run(spark, sf, "json_events_df")


def test_update_of_shred_source_rederives_shredded_column(
    spark, tmp_path, monkeypatch, restore_catalog
):
    """Updating events.props must re-derive the materialized props_k shred
    (the managed invariant), unless props_k is assigned explicitly."""
    sf = _mk_sf(tmp_path, monkeypatch, tables=("events",))
    out = sess.ingest_tables(spark, sf)
    ev = pq.read_table(f"{SRC}/events.parquet")
    eid = ev.column("event_id").to_pylist()[0]

    n = sess.update_where(
        spark, sf, "events", pc.field("event_id") == eid,
        {"props": '{"k": 424242}'},
    )
    assert n == 1
    post = spark.read.parquet(os.path.join(out, "events.parquet"))
    row = post.filter(post.event_id == eid).select("props_k").first()
    assert row["props_k"] == 424242, "props_k must re-shred from new props"
    assert _run(spark, sf, "json_events") == _run(spark, sf, "json_events_df")


def test_update_of_events_ts_merges_the_time_keyed_rollup(
    spark, tmp_path, monkeypatch, restore_catalog, first_read
):
    """The events rollup reads the DERIVED ts_ns; the managed column
    backing it is ts. An update shifting ts a day must MERGE the rollup
    (its ts_day group key moves), never relevance-restamp it."""
    sf = _mk_sf(tmp_path, monkeypatch, tables=("events",))
    out = sess.ingest_tables(spark, sf)
    first_read(sf)
    ev = pq.read_table(f"{SRC}/events.parquet")
    eid = ev.column("event_id").to_pylist()[0]
    ap = os.path.join(out, "events.aggproj.parquet")
    before = _digests(os.path.join(ap, "*.parquet"))

    managed_cols = pq.read_schema(
        os.path.join(
            out, "events.parquet",
            sorted(
                f
                for f in os.listdir(os.path.join(out, "events.parquet"))
                if f.endswith(".parquet")
            )[0],
        )
    ).names
    ts_col = "ts" if "ts" in managed_cols else "ts_ns"

    def _shift_day(t, c=ts_col):
        col = t[c]
        if pa.types.is_timestamp(col.type):
            per_day = {"s": 86_400, "ms": 86_400_000,
                       "us": 86_400_000_000, "ns": 86_400 * 10**9}
            return pc.add(
                col, pa.scalar(per_day[col.type.unit],
                               pa.duration(col.type.unit))
            )
        return pc.add(col, 86_400 * 10**9)  # nanos-as-long form

    n = sess.update_where(
        spark, sf, "events", pc.field("event_id") == eid,
        {ts_col: _shift_day},
    )
    assert n == 1
    assert _digests(os.path.join(ap, "*.parquet")) != before, (
        "a ts update moves the rollup's ts_day group: must merge"
    )
    assert _run(spark, sf, "json_events") == _run(spark, sf, "json_events_df")


def test_merge_into_same_keys_twice_replaces_again_no_resurrection(
    spark, tmp_path, monkeypatch, restore_catalog
):
    """Re-merging the same key set (re-crawl refresh / retry) must land a
    NEW part file and replace again — a filename collision would read as
    a source modification, full-rebuild from source, and resurrect the
    previously replaced rows."""
    sf = tmp_path / "sfmerge2"
    (sf / "orders.parquet").mkdir(parents=True)
    orders = pq.read_table(f"{SRC}/orders.parquet")
    pq.write_table(orders, str(sf / "orders.parquet" / "part-00000.parquet"))
    monkeypatch.setattr(sess, "INGEST_ROOT", str(tmp_path / "ingest"))
    out = sess.ingest_tables(spark, str(sf))

    hit = sorted(set(orders.column("o_orderkey").to_pylist()))[:4]
    base = orders.filter(pc.field("o_orderkey").isin(hit))

    def _priced(delta):
        return base.set_column(
            base.schema.get_field_index("o_totalprice"),
            base.schema.field("o_totalprice"),
            pc.add(base["o_totalprice"], delta).combine_chunks(),
        )

    n_dup = base.num_rows
    r1 = sess.merge_into(spark, str(sf), "orders", _priced(10.0), "o_orderkey")
    r2 = sess.merge_into(spark, str(sf), "orders", _priced(20.0), "o_orderkey")
    assert r1 == (n_dup, n_dup) and r2 == (n_dup, n_dup)

    post = spark.read.parquet(os.path.join(out, "orders.parquet"))
    assert post.count() == orders.num_rows, "no duplicates, no resurrection"
    got = {
        r["o_orderkey"]: r["o_totalprice"]
        for r in post.filter(post.o_orderkey.isin([int(k) for k in hit])).collect()
    }
    want = dict(
        zip(
            base.column("o_orderkey").to_pylist(),
            pc.add(base["o_totalprice"], 20.0).to_pylist(),
        )
    )
    for k in hit:
        assert got[k] == pytest.approx(want[k]), (
            "second merge's values must win"
        )


def test_update_crash_between_the_two_merges_never_serves_half_merged(
    spark, tmp_path, monkeypatch, restore_catalog, first_read
):
    """Die AFTER the negative aggproj merge but BEFORE the positive one:
    the intermediate publish carries the ':neg' fingerprint no reader
    accepts, so the half-merged rollup is refused (q1 falls back to the
    full scan — correct values) and the next ingest rebuilds it from the
    post-update table."""
    sf = _mk_sf(tmp_path, monkeypatch, tables=("lineitem",))
    out = sess.ingest_tables(spark, sf)
    first_read(sf, "lineitem.aggproj.q1cut.parquet")

    real = sess._build_aggproj
    calls = {"n": 0}

    def crash_on_second(*a, **k):
        calls["n"] += 1
        if calls["n"] == 2:
            raise RuntimeError("crash between merges")
        return real(*a, **k)

    monkeypatch.setattr(sess, "_build_aggproj", crash_on_second)
    with pytest.raises(RuntimeError, match="crash between merges"):
        # l_quantity feeds the aggproj: the two-step merge path runs
        sess.update_where(
            spark, sf, "lineitem", pc.field("l_suppkey") == 5,
            {"l_quantity": _bump_qty},
        )
    monkeypatch.setattr(sess, "_build_aggproj", real)
    assert calls["n"] == 2, "fixture: must have died on the positive merge"

    # the half-merged rollup (':neg' fp) is refused by lockstep
    assert sess.aggproj_view(spark, sf, "lineitem") is None
    assert sess.aggproj_coarse_view(spark, sf, "lineitem") is None
    fp, _m = sess._read_marker(
        os.path.join(out, "lineitem.aggproj.parquet", "_SUCCESS")
    )
    assert fp.endswith(":neg"), "fixture: intermediate publish landed"
    # the table itself is fully updated; the fallback plan is correct
    assert _run(spark, sf, "q1_scan_agg") == _run(spark, sf, "q1_scan_agg_df")

    # next ingest heals: rollup rebuilds from the post-update copy
    sess.ingest_tables(spark, sf)
    assert sess.aggproj_coarse_view(spark, sf, "lineitem") is not None
    assert _run(spark, sf, "q1_scan_agg") == _run(spark, sf, "q1_scan_agg_df")


def test_point_predicate_prunes_main_file_decodes_via_bucketed_copy(
    spark, tmp_path, monkeypatch, restore_catalog, first_read
):
    """A bucket-key point predicate resolves against the key-sorted
    bucketed copy first: main files whose cluster range excludes every
    matched row are never opened (split runs only on candidates), the
    mutation stays exact, and a multi-column predicate bypasses the fast
    path entirely.

    Pinned to the LOCAL split regime: the observation hook (a driver-side
    monkeypatch of _split_file_by_predicate) cannot see executor-side
    calls. The candidate SELECTION under test (_point_prune_candidates)
    runs on the driver identically in both regimes, and distributed-mode
    value parity is pinned by tests/test_dml_distributed.py."""
    monkeypatch.setenv("SPARK_GRAFT_DML_DISTRIBUTED", "0")
    sf = _mk_sf(tmp_path, monkeypatch, tables=("lineitem",))
    out = sess.ingest_tables(spark, sf, parts=4, min_rows_to_split=1000)
    first_read(sf, "lineitem.bucketed.parquet")
    li = pq.read_table(f"{SRC}/lineitem.parquet")
    key = li.column("l_orderkey").to_pylist()[0]
    n_want = li.filter(pc.field("l_orderkey") == key).num_rows

    real = sess._split_file_by_predicate
    seen = []

    def counting(path, predicate):
        seen.append(os.path.basename(os.path.dirname(path)))
        return real(path, predicate)

    monkeypatch.setattr(sess, "_split_file_by_predicate", counting)
    n = sess.update_where(
        spark, sf, "lineitem", pc.field("l_orderkey") == key,
        {"l_quantity": _bump_qty},
    )
    assert n == n_want
    main_splits = sum(1 for d in seen if d == "lineitem.parquet")
    assert main_splits < 4, (
        f"point predicate must not decode every main file (saw {main_splits})"
    )
    assert _run(spark, sf, "q1_scan_agg") == _run(spark, sf, "q1_scan_agg_df")

    # multi-column predicate: fast path refused, every file checked
    seen.clear()
    sess.delete_where(
        spark, sf, "lineitem",
        (pc.field("l_orderkey") == key) & (pc.field("l_quantity") >= 0),
    )
    assert sum(1 for d in seen if d == "lineitem.parquet") == 4


def test_merge_tombstones_survive_full_rebuild(
    spark, tmp_path, monkeypatch, restore_catalog
):
    """The delete half of a merge must be as durable as its insert half:
    a FULL source rebuild (lost marker here — same path as changed ingest
    knobs) re-reads every landed file, and without the tombstone sidecar
    it would resurrect the replaced rows next to their batch versions.
    With two merges over the same keys, the NEWEST batch's rows must be
    the only survivors after the rebuild."""
    sf = tmp_path / "sftomb"
    (sf / "orders.parquet").mkdir(parents=True)
    orders = pq.read_table(f"{SRC}/orders.parquet")
    pq.write_table(orders, str(sf / "orders.parquet" / "part-00000.parquet"))
    monkeypatch.setattr(sess, "INGEST_ROOT", str(tmp_path / "ingest"))
    out = sess.ingest_tables(spark, str(sf))

    hit = sorted(set(orders.column("o_orderkey").to_pylist()))[:4]
    base = orders.filter(pc.field("o_orderkey").isin(hit))

    def _priced(delta):
        return base.set_column(
            base.schema.get_field_index("o_totalprice"),
            base.schema.field("o_totalprice"),
            pc.add(base["o_totalprice"], delta).combine_chunks(),
        )

    sess.merge_into(spark, str(sf), "orders", _priced(10.0), "o_orderkey")
    sess.merge_into(spark, str(sf), "orders", _priced(20.0), "o_orderkey")
    sidecars = glob.glob(str(sf / "orders.parquet" / "_merge-*.tombstones.json"))
    assert len(sidecars) == 2, "each merge persists its replaced-key sidecar"

    # lose the managed marker -> next ingest cannot prove freshness and
    # full-rebuilds from the landed dir (the ADVICE resurrection scenario)
    os.remove(os.path.join(out, "orders.parquet", "_SUCCESS"))
    spark._lianjia_table_cache = {}
    sess.ingest_tables(spark, str(sf))

    post = spark.read.parquet(os.path.join(out, "orders.parquet"))
    assert post.count() == orders.num_rows, (
        "full rebuild resurrected merge-replaced rows"
    )
    rows = post.filter(post.o_orderkey.isin([int(k) for k in hit])).collect()
    assert len(rows) == len(hit), "exactly one survivor per merged key"
    want = dict(
        zip(
            base.column("o_orderkey").to_pylist(),
            pc.add(base["o_totalprice"], 20.0).to_pylist(),
        )
    )
    for r in rows:
        assert r["o_totalprice"] == pytest.approx(want[r["o_orderkey"]]), (
            "the newest merge batch must win the rebuild"
        )


def test_merge_tombstones_survive_schema_evolving_append(
    spark, tmp_path, monkeypatch, restore_catalog
):
    """The other ADVICE scenario: a schema-ADDING landed part fails the
    _delta_schema_ok gate and forces a full rebuild — which must both
    null-fill the new column for old rows AND replay the merge tombstone."""
    sf = tmp_path / "sftomb2"
    (sf / "orders.parquet").mkdir(parents=True)
    orders = pq.read_table(f"{SRC}/orders.parquet")
    pq.write_table(orders, str(sf / "orders.parquet" / "part-00000.parquet"))
    monkeypatch.setattr(sess, "INGEST_ROOT", str(tmp_path / "ingest"))
    out = sess.ingest_tables(spark, str(sf))

    hit = sorted(set(orders.column("o_orderkey").to_pylist()))[:3]
    base = orders.filter(pc.field("o_orderkey").isin(hit))
    batch = base.set_column(
        base.schema.get_field_index("o_totalprice"),
        base.schema.field("o_totalprice"),
        pc.add(base["o_totalprice"], 55.0).combine_chunks(),
    )
    sess.merge_into(spark, str(sf), "orders", batch, "o_orderkey")

    evolved = orders.slice(0, 2).set_column(
        orders.schema.get_field_index("o_orderkey"),
        orders.schema.field("o_orderkey"),
        pa.array([20_000_001, 20_000_002], pa.int64()),
    ).append_column("o_channel", pa.array(["web", "app"]))
    pq.write_table(evolved, str(sf / "orders.parquet" / "part-evolved.parquet"))
    spark._lianjia_table_cache = {}
    sess.ingest_tables(spark, str(sf))

    post = spark.read.parquet(os.path.join(out, "orders.parquet"))
    assert "o_channel" in post.columns
    assert post.count() == orders.num_rows + 2
    got = {
        r["o_orderkey"]: r["o_totalprice"]
        for r in post.filter(post.o_orderkey.isin([int(k) for k in hit])).collect()
    }
    assert len(got) == len(hit), "rebuild resurrected merge-replaced rows"
    for k, v in zip(
        base.column("o_orderkey").to_pylist(),
        pc.add(base["o_totalprice"], 55.0).to_pylist(),
    ):
        assert got[k] == pytest.approx(v)


def test_merge_tombstones_replay_on_spark_ingest_branch(
    spark, tmp_path, monkeypatch, restore_catalog
):
    """Sources >= LOCAL_INGEST_MAX_BYTES rebuild through spark.read, not
    _read_landed — the tombstone replay must hold there too (and the
    '_'-prefixed sidecar must not read as a data file in the directory
    scan). Forced by dropping the threshold to 0."""
    sf = tmp_path / "sftombspark"
    (sf / "orders.parquet").mkdir(parents=True)
    orders = pq.read_table(f"{SRC}/orders.parquet")
    pq.write_table(orders, str(sf / "orders.parquet" / "part-00000.parquet"))
    monkeypatch.setattr(sess, "INGEST_ROOT", str(tmp_path / "ingest"))
    monkeypatch.setattr(sess, "LOCAL_INGEST_MAX_BYTES", 0)
    out = sess.ingest_tables(spark, str(sf))

    hit = sorted(set(orders.column("o_orderkey").to_pylist()))[:3]
    base = orders.filter(pc.field("o_orderkey").isin(hit))
    batch = base.set_column(
        base.schema.get_field_index("o_totalprice"),
        base.schema.field("o_totalprice"),
        pc.add(base["o_totalprice"], 31.0).combine_chunks(),
    )
    sess.merge_into(spark, str(sf), "orders", batch, "o_orderkey")
    assert glob.glob(str(sf / "orders.parquet" / "_merge-*.tombstones.json"))

    os.remove(os.path.join(out, "orders.parquet", "_SUCCESS"))
    spark._lianjia_table_cache = {}
    sess.ingest_tables(spark, str(sf))  # full rebuild on the spark branch

    post = spark.read.parquet(os.path.join(out, "orders.parquet"))
    assert post.count() == orders.num_rows, (
        "spark-branch rebuild resurrected merge-replaced rows"
    )
    got = {
        r["o_orderkey"]: r["o_totalprice"]
        for r in post.filter(post.o_orderkey.isin([int(k) for k in hit])).collect()
    }
    assert len(got) == len(hit)
    for k, v in zip(
        base.column("o_orderkey").to_pylist(),
        pc.add(base["o_totalprice"], 31.0).to_pylist(),
    ):
        assert got[k] == pytest.approx(v)


def test_merge_tombstones_survive_copied_landing(
    spark, tmp_path, monkeypatch, restore_catalog
):
    """Applicability is by the at-merge NAME manifest, not mtimes: a landed
    directory copied without mtime preservation (cp/rsync/image unpack)
    must still replay its tombstones when the copy is ingested fresh."""
    src_sf = tmp_path / "sftombsrc"
    (src_sf / "orders.parquet").mkdir(parents=True)
    orders = pq.read_table(f"{SRC}/orders.parquet")
    pq.write_table(
        orders, str(src_sf / "orders.parquet" / "part-00000.parquet")
    )
    monkeypatch.setattr(sess, "INGEST_ROOT", str(tmp_path / "ingest"))
    sess.ingest_tables(spark, str(src_sf))

    hit = sorted(set(orders.column("o_orderkey").to_pylist()))[:3]
    base = orders.filter(pc.field("o_orderkey").isin(hit))
    batch = base.set_column(
        base.schema.get_field_index("o_totalprice"),
        base.schema.field("o_totalprice"),
        pc.add(base["o_totalprice"], 77.0).combine_chunks(),
    )
    sess.merge_into(spark, str(src_sf), "orders", batch, "o_orderkey")

    # plain shutil.copy: content identical, ALL mtimes refreshed to now
    dst_sf = tmp_path / "sftombcopy"
    (dst_sf / "orders.parquet").mkdir(parents=True)
    for f in os.listdir(src_sf / "orders.parquet"):
        shutil.copy(
            str(src_sf / "orders.parquet" / f),
            str(dst_sf / "orders.parquet" / f),
        )
    out2 = sess.ingest_tables(spark, str(dst_sf))
    post = spark.read.parquet(os.path.join(out2, "orders.parquet"))
    assert post.count() == orders.num_rows, (
        "copied landing (fresh mtimes) resurrected merge-replaced rows"
    )
    got = {
        r["o_orderkey"]: r["o_totalprice"]
        for r in post.filter(post.o_orderkey.isin([int(k) for k in hit])).collect()
    }
    for k, v in zip(
        base.column("o_orderkey").to_pylist(),
        pc.add(base["o_totalprice"], 77.0).to_pylist(),
    ):
        assert got[k] == pytest.approx(v)


def test_merge_tombstones_exempt_rewritten_parts(
    spark, tmp_path, monkeypatch, restore_catalog
):
    """A source part REWRITTEN in place after a merge is a fresh landing
    ('a source rewrite resets the chain'): its rows were never covered by
    the earlier delete, so the rebuild must keep a re-landed row even when
    its key appears in an older tombstone — the size manifest exempts the
    rewritten part instead of silently dropping the user's new data."""
    sf = tmp_path / "sftombrw"
    (sf / "orders.parquet").mkdir(parents=True)
    orders = pq.read_table(f"{SRC}/orders.parquet")
    pq.write_table(orders, str(sf / "orders.parquet" / "part-00000.parquet"))
    monkeypatch.setattr(sess, "INGEST_ROOT", str(tmp_path / "ingest"))
    out = sess.ingest_tables(spark, str(sf))

    hit = sorted(set(orders.column("o_orderkey").to_pylist()))[:2]
    base = orders.filter(pc.field("o_orderkey").isin(hit))
    batch = base.set_column(
        base.schema.get_field_index("o_totalprice"),
        base.schema.field("o_totalprice"),
        pc.add(base["o_totalprice"], 11.0).combine_chunks(),
    )
    sess.merge_into(spark, str(sf), "orders", batch, "o_orderkey")

    # rewrite the ORIGINAL part in place: keep only rows with the merged
    # keys, re-priced — deliberately re-introducing tombstoned keys with a
    # different byte size (the detectable-rewrite case)
    relanded = base.set_column(
        base.schema.get_field_index("o_totalprice"),
        base.schema.field("o_totalprice"),
        pc.add(base["o_totalprice"], 999.0).combine_chunks(),
    )
    pq.write_table(relanded, str(sf / "orders.parquet" / "part-00000.parquet"))
    spark._lianjia_table_cache = {}
    sess.ingest_tables(spark, str(sf))  # source rewrite -> full rebuild

    post = spark.read.parquet(os.path.join(out, "orders.parquet"))
    # re-landed rows (999) must survive; batch rows (11) also remain
    # landed — the rewrite made the key a duplicate, which is the source
    # owner's call, never silent data loss
    prices = sorted(
        r["o_totalprice"]
        for r in post.filter(post.o_orderkey == int(hit[0])).collect()
    )
    want_batch = base.filter(pc.field("o_orderkey") == hit[0])
    b_price = want_batch.column("o_totalprice").to_pylist()[0]
    want = sorted([b_price + 11.0, b_price + 999.0])
    assert prices == pytest.approx(want), (
        "rewritten part's rows must not be tombstone-dropped"
    )
