"""Predicate (row-level) DELETE on managed tables (session.delete_where).

Contract under test (the delete half of the storage story):

- O(affected files): part files with no matching row hardlink into the
  new generation byte-identical; only files with matches rewrite.
- delete == rebuild, value-identical on the managed table AND every
  projection: SUM-mergeable artifacts (keydict/colstats/aggproj/coarse/
  star rollup) NEGATIVE-merge to exactly the state a from-scratch ingest
  of the pre-filtered source produces; ordered/vector artifacts rebuild;
  the sessions artifact delete-merges only affected users' buckets.
- Bucketed fact copies rewrite only affected bucket files.
- The fingerprint chain (~del<h>) persists the mutation across
  ingest_tables calls while the source is unchanged, commutes with later
  source appends, and resets on a source rewrite.
- A crash between the table publish and a projection merge leaves that
  projection refused-by-lockstep (never served stale) and rebuilt by the
  next ingest.
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
    """Same contract as tests/test_ingest.py: put the session catalog back
    after routing it through this test's tmp managed copies."""
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


def _mk_sf(tmp_path, monkeypatch, tables=STAR, sub="sfpd"):
    sf = tmp_path / sub
    sf.mkdir()
    for t in tables:
        shutil.copy(f"{SRC}/{t}.parquet", str(sf / f"{t}.parquet"))
    monkeypatch.setattr(sess, "INGEST_ROOT", str(tmp_path / "ingest"))
    return str(sf)


def _inodes(pattern):
    return {p: os.stat(p).st_ino for p in glob.glob(pattern)}


def _rows(path_glob):
    tables = [pq.read_table(p) for p in sorted(glob.glob(path_glob))]
    tbl = pa.concat_tables(t for t in tables if t.num_rows or len(tables) == 1)
    return sorted(map(tuple, tbl.to_pylist()[0:0] or [])) if not tbl.num_rows else (
        sorted(tuple(r.values()) for r in tbl.to_pylist())
    )


def test_predicate_delete_rewrites_only_affected_files_and_matches_rebuild(
    spark, tmp_path, monkeypatch, restore_catalog, first_read
):
    """A predicate on the range-cluster key touches only the files whose
    min/max admit it (hardlink check), and EVERY artifact of the deleted
    table is value-identical to a from-scratch ingest of the pre-filtered
    source — delete == rebuild."""
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
    n = sess.delete_where(spark, sf, "lineitem", predicate)
    assert n == n_match

    after = _inodes(os.path.join(out, "lineitem.parquet", "*.parquet"))
    kept = [p for p, i in before.items() if after.get(p) == i]
    assert len(kept) == 3, (
        "range-pruned predicate must hardlink every unaffected file"
    )

    # delete == rebuild: a second catalog ingested from the PRE-FILTERED
    # source must produce value-identical artifacts across the board
    sf2 = tmp_path / "sfrebuild"
    sf2.mkdir()
    pq.write_table(
        li.filter(
            pc.field("l_shipdate").is_null()
            | (pc.field("l_shipdate") >= cutoff)
        ),
        str(sf2 / "lineitem.parquet"),
    )
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
        ("q5_join5", "q5_join5_df"),
        ("q3_join3", "q3_join3_df"),
        ("topk_sort", "topk_sort_df"),
    ):
        assert _run(spark, sf, proj) == _run(spark, sf, full), (
            f"{proj} diverged after predicate delete"
        )


def test_predicate_delete_bucketed_copy_rewrites_only_affected_buckets(
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
    n = sess.delete_where(spark, sf, "lineitem", pc.field("l_orderkey") == key)
    assert n == li.filter(pc.field("l_orderkey") == key).num_rows

    after = _inodes(os.path.join(bk_dir, "*.parquet"))
    rewritten = [p for p, i in before.items() if after.get(p) != i]
    assert len(rewritten) == 1, (
        "a single-orderkey delete must rewrite exactly one bucket file"
    )
    # the bucketed tier still serves from the (fresh, chained-fp) copy and
    # q3's rollup tier delete-IVM'd — both value-identical to the full plan
    df = all_queries()["point_lookup_order"].spark_fn(spark, sf)
    assert "lj_bkt_lineitem" in df._jdf.queryExecution().toString()
    q3 = all_queries()["q3_join3"].spark_fn(spark, sf)
    assert "q3_orderrev" in q3._jdf.queryExecution().toString()
    assert _run(spark, sf, "q3_join3") == _run(spark, sf, "q3_join3_df")


def test_predicate_delete_removing_a_top_row_rebuilds_ordered_projection(
    spark, tmp_path, monkeypatch, restore_catalog, first_read
):
    """Ordered artifacts cannot subtract: deleting the global #1 row must
    surface the next row — only a rebuild can produce it."""
    sf = _mk_sf(tmp_path, monkeypatch, tables=("lineitem",))
    out = sess.ingest_tables(spark, sf)
    first_read(sf, "lineitem.price_topk.topkproj.parquet")
    tp = os.path.join(out, "lineitem.price_topk.topkproj.parquet")
    top = spark.read.parquet(tp).orderBy("l_extendedprice", ascending=False)
    top1 = top.first()

    # the synthetic lineitem is not PK-unique on (orderkey, linenumber):
    # pin the expected count from the source with the same predicate
    li = pq.read_table(f"{SRC}/lineitem.parquet")
    predicate = (pc.field("l_orderkey") == top1["l_orderkey"]) & (
        pc.field("l_linenumber") == top1["l_linenumber"]
    )
    n = sess.delete_where(spark, sf, "lineitem", predicate)
    assert n == li.filter(predicate).num_rows >= 1
    rebuilt = spark.read.parquet(tp)
    assert rebuilt.filter(
        (rebuilt.l_orderkey == top1["l_orderkey"])
        & (rebuilt.l_linenumber == top1["l_linenumber"])
    ).count() == 0, "deleted top rows must leave the ordered projection"
    assert rebuilt.count() == min(1000, li.num_rows - n)
    assert _run(spark, sf, "topk_sort") == _run(spark, sf, "topk_sort_df")


def test_predicate_delete_vector_artifacts_rebuild_sessions_merge(
    spark, tmp_path, monkeypatch, restore_catalog, first_read
):
    """Vector pair/k-NN artifacts REBUILD on delete (append-only mergers);
    the sessions artifact delete-MERGES, rewriting only affected buckets."""
    sf = _mk_sf(tmp_path, monkeypatch, tables=("events", "embeddings"))
    out = sess.ingest_tables(spark, sf)
    first_read(
        sf, "embeddings.cospairs.vecproj.parquet",
        "embeddings.knn_mod100.vecproj.parquet",
        "events.sessions.resultproj.parquet",
    )

    # embeddings: delete one vector -> rebuild (merged counter stays 0)
    vec = pq.read_table(f"{SRC}/embeddings.parquet")
    vid = vec.column("vec_id").to_pylist()[0]
    assert sess.delete_where(spark, sf, "embeddings", pc.field("vec_id") == vid) == 1
    assert spark._lianjia_resultproj_merged == 0
    pairs = spark.read.parquet(
        os.path.join(out, "embeddings.cospairs.vecproj.parquet")
    )
    assert pairs.filter(
        (pairs.vec_id_a == vid) | (pairs.vec_id_b == vid)
    ).count() == 0, "deleted vector must leave the pair artifact"
    assert _run(spark, sf, "cosine_topk") == _run(spark, sf, "cosine_topk_grid")

    # events: delete one user -> sessions delete-merge, targeted publish
    ev = pq.read_table(f"{SRC}/events.parquet")
    user = ev.column("user_id").to_pylist()[0]
    sess_dir = os.path.join(out, "events.sessions.resultproj.parquet")
    before = _inodes(os.path.join(sess_dir, "*.parquet"))
    n = sess.delete_where(spark, sf, "events", pc.field("user_id") == user)
    assert n == ev.filter(pc.field("user_id") == user).num_rows
    assert spark._lianjia_resultproj_merged == 1, "sessions must delete-merge"
    after = _inodes(os.path.join(sess_dir, "*.parquet"))
    kept = [p for p, i in before.items() if after.get(p) == i]
    assert len(kept) >= len(before) - 2, (
        "single-user delete must hardlink unaffected session buckets"
    )
    sessions = _run(spark, sf, "sessionize")
    assert sessions == _run(spark, sf, "sessionize_df")
    assert not [
        r for r in all_queries()["sessionize"].spark_fn(spark, sf).collect()
        if r.user_id == user
    ]


def test_predicate_delete_null_rows_survive(
    spark, tmp_path, monkeypatch, restore_catalog
):
    """SQL DELETE semantics: rows where the predicate is NULL are kept."""
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

    want_gone = nulled.filter(pc.field("o_orderstatus") == "F").num_rows
    n = sess.delete_where(
        spark, str(sf), "orders", pc.field("o_orderstatus") == "F"
    )
    assert n == want_gone
    post = spark.read.parquet(os.path.join(out, "orders.parquet"))
    assert post.filter("o_orderstatus IS NULL").count() == n_null
    assert post.filter("o_orderstatus = 'F'").count() == 0
    assert post.count() == nulled.num_rows - want_gone


def test_predicate_delete_chain_persists_commutes_and_resets(
    spark, tmp_path, monkeypatch, restore_catalog
):
    sf = tmp_path / "sfchain"
    (sf / "lineitem.parquet").mkdir(parents=True)
    li = pq.read_table(f"{SRC}/lineitem.parquet")
    cut = li.num_rows * 2 // 3
    pq.write_table(li.slice(0, cut), str(sf / "lineitem.parquet" / "b0.parquet"))
    monkeypatch.setattr(sess, "INGEST_ROOT", str(tmp_path / "ingest"))
    out = sess.ingest_tables(spark, str(sf))
    marker = os.path.join(out, "lineitem.parquet", "_SUCCESS")

    n = sess.delete_where(spark, str(sf), "lineitem", pc.field("l_suppkey") == 5)
    assert n == li.slice(0, cut).filter(pc.field("l_suppkey") == 5).num_rows
    fp1, _ = sess._read_marker(marker)
    assert "~del" in fp1

    # re-delete is a no-op: no new generation, no chain growth
    assert sess.delete_where(
        spark, str(sf), "lineitem", pc.field("l_suppkey") == 5
    ) == 0
    assert sess._read_marker(marker)[0] == fp1

    # unchanged source: the chained copy is fresh, nothing rebuilds
    sess.ingest_tables(spark, str(sf))
    assert spark._lianjia_ingest_rebuilt == 0
    assert spark._lianjia_ingest_appended == 0

    # a later source APPEND commutes: new rows land, deleted rows stay gone
    pq.write_table(li.slice(cut), str(sf / "lineitem.parquet" / "b1.parquet"))
    sess.ingest_tables(spark, str(sf))
    assert spark._lianjia_ingest_appended == 1
    managed = spark.read.parquet(os.path.join(out, "lineitem.parquet"))
    batch_supp5 = li.slice(cut).filter(pc.field("l_suppkey") == 5).num_rows
    assert managed.count() == li.num_rows - n
    assert managed.filter("l_suppkey = 5").count() == batch_supp5
    assert _run(spark, str(sf), "q1_scan_agg") == _run(
        spark, str(sf), "q1_scan_agg_df"
    )
    assert _run(spark, str(sf), "distinct_count") == _run(
        spark, str(sf), "distinct_count_df"
    )

    # a source REWRITE resets the chain: deletes are snapshot mutations
    os.utime(str(sf / "lineitem.parquet" / "b0.parquet"))
    sess.ingest_tables(spark, str(sf))
    assert spark._lianjia_ingest_rebuilt == 1
    assert spark.read.parquet(
        os.path.join(out, "lineitem.parquet")
    ).count() == li.num_rows


def test_predicate_delete_crash_before_projection_merge_never_serves_stale(
    spark, tmp_path, monkeypatch, restore_catalog, first_read
):
    """Die between the table publish and the aggproj negative merge: the
    stale projection is refused by the fingerprint lockstep (q1 falls back
    to the full scan — correct values), and the next ingest rebuilds it."""
    sf = _mk_sf(tmp_path, monkeypatch, tables=("lineitem",))
    out = sess.ingest_tables(spark, sf)
    first_read(sf, "lineitem.aggproj.q1cut.parquet")

    real = sess._build_aggproj

    def boom(*a, **k):
        raise RuntimeError("crash before aggproj merge")

    monkeypatch.setattr(sess, "_build_aggproj", boom)
    with pytest.raises(RuntimeError, match="crash before aggproj"):
        sess.delete_where(spark, sf, "lineitem", pc.field("l_suppkey") == 5)
    monkeypatch.setattr(sess, "_build_aggproj", real)

    # table mutated, aggproj one fingerprint behind -> not served
    assert sess.aggproj_view(spark, sf, "lineitem") is None
    assert sess.aggproj_coarse_view(spark, sf, "lineitem") is None
    li = pq.read_table(f"{SRC}/lineitem.parquet")
    n = li.filter(pc.field("l_suppkey") == 5).num_rows
    assert spark.read.parquet(
        os.path.join(out, "lineitem.parquet")
    ).count() == li.num_rows - n
    # q1 falls back to the full scan over the mutated table — still right
    assert _run(spark, sf, "q1_scan_agg") == _run(spark, sf, "q1_scan_agg_df")

    # next ingest heals: aggproj rebuilds from the post-delete copy
    sess.ingest_tables(spark, sf)
    assert sess.aggproj_coarse_view(spark, sf, "lineitem") is not None
    assert _run(spark, sf, "q1_scan_agg") == _run(spark, sf, "q1_scan_agg_df")


def test_concurrent_hold_dirs_do_not_collide(
    spark, tmp_path, monkeypatch, restore_catalog
):
    """Another session's in-flight holding dir (the pre-uuid pid-keyed
    name) must be neither clobbered nor deleted by this session's delete."""
    sf = _mk_sf(tmp_path, monkeypatch, tables=("lineitem",))
    out = sess.ingest_tables(spark, sf)
    dst = os.path.join(out, "lineitem.parquet")

    foreign = dst + f".dropped-{os.getpid()}"
    os.makedirs(foreign)
    sentinel = os.path.join(foreign, "other-session.parquet")
    with open(sentinel, "w") as fh:
        fh.write("held by another session")

    n = sess.delete_where(spark, sf, "lineitem", pc.field("l_suppkey") == 5)
    assert n > 0
    assert open(sentinel).read() == "held by another session"
    shutil.rmtree(foreign)


def test_whole_batch_delete_composes_with_prior_predicate_delete(
    spark, tmp_path, monkeypatch, restore_catalog
):
    """delete_where rows out of an appended batch, then drop the batch from
    the source: the whole-batch path negative-merges only the batch's
    SURVIVING rows, landing exactly on the base state."""
    sf = tmp_path / "sfcompose"
    (sf / "lineitem.parquet").mkdir(parents=True)
    li = pq.read_table(f"{SRC}/lineitem.parquet")
    cut = li.num_rows * 2 // 3
    pq.write_table(li.slice(0, cut), str(sf / "lineitem.parquet" / "b0.parquet"))
    monkeypatch.setattr(sess, "INGEST_ROOT", str(tmp_path / "ingest"))
    out = sess.ingest_tables(spark, str(sf))

    pq.write_table(li.slice(cut), str(sf / "lineitem.parquet" / "b1.parquet"))
    sess.ingest_tables(spark, str(sf))
    assert spark._lianjia_ingest_appended == 1

    # predicate-delete rows that live (partly) in the appended batch
    n = sess.delete_where(spark, str(sf), "lineitem", pc.field("l_suppkey") == 5)
    assert n == li.filter(pc.field("l_suppkey") == 5).num_rows

    # now remove the whole batch from the source
    os.remove(str(sf / "lineitem.parquet" / "b1.parquet"))
    sess.ingest_tables(spark, str(sf))
    assert spark._lianjia_ingest_deleted == 1, (
        "batch removal after a predicate delete must stay O(batch)"
    )
    managed = spark.read.parquet(os.path.join(out, "lineitem.parquet"))
    base = li.slice(0, cut)
    base_supp5 = base.filter(pc.field("l_suppkey") == 5).num_rows
    assert managed.count() == cut - base_supp5
    assert _run(spark, str(sf), "distinct_count") == _run(
        spark, str(sf), "distinct_count_df"
    )
    assert _run(spark, str(sf), "q1_scan_agg") == _run(
        spark, str(sf), "q1_scan_agg_df"
    )


def test_regexmatch_projection_serves_merges_and_delete_merges(
    spark, tmp_path, monkeypatch, restore_catalog
):
    """The materialized regex match-result view: serve == full scan, exact
    append-IVM (old ∪ filter(batch)), exact delete-IVM (doc_id anti-join)
    — the standing-filter projection a hot regex predicate earns at
    100 TB."""
    sf = tmp_path / "sfregex"
    (sf / "documents.parquet").mkdir(parents=True)
    docs = pq.read_table(f"{SRC}/documents.parquet")
    half = docs.num_rows // 2
    pq.write_table(
        docs.slice(0, half), str(sf / "documents.parquet" / "b0.parquet")
    )
    monkeypatch.setattr(sess, "INGEST_ROOT", str(tmp_path / "ingest"))
    sess.ingest_tables(spark, str(sf))

    df = all_queries()["string_regex"].spark_fn(spark, str(sf))
    assert "regexmatch" in df._jdf.queryExecution().toString()
    assert _run(spark, str(sf), "string_regex") == _run(
        spark, str(sf), "string_regex_df"
    )

    pq.write_table(
        docs.slice(half), str(sf / "documents.parquet" / "b1.parquet")
    )
    sess.ingest_tables(spark, str(sf))
    assert spark._lianjia_ingest_appended == 1
    assert spark._lianjia_resultproj_merged == 1, "regexmatch must append-merge"
    df = all_queries()["string_regex"].spark_fn(spark, str(sf))
    assert "regexmatch" in df._jdf.queryExecution().toString()
    assert _run(spark, str(sf), "string_regex") == _run(
        spark, str(sf), "string_regex_df"
    )

    n = sess.delete_where(spark, str(sf), "documents", pc.field("lang") == "en")
    assert n == docs.filter(pc.field("lang") == "en").num_rows
    assert spark._lianjia_resultproj_merged == 1, "regexmatch must delete-merge"
    df = all_queries()["string_regex"].spark_fn(spark, str(sf))
    assert "regexmatch" in df._jdf.queryExecution().toString()
    rows = _run(spark, str(sf), "string_regex")
    assert rows == _run(spark, str(sf), "string_regex_df")
    assert not [r for r in rows[1] if r[1] == "en"]


def test_cli_delete_subcommand(spark, tmp_path, monkeypatch, restore_catalog):
    """`python -m data_etl_sh_lianjia_spark delete <table> "<pred>"` routes
    through Engine.delete_where; the CLI predicate parser covers the
    documented comparison subset and rejects anything else."""
    from data_etl_sh_lianjia_spark.__main__ import _parse_predicate, main

    sf = _mk_sf(tmp_path, monkeypatch, tables=("orders",))
    orders = pq.read_table(f"{SRC}/orders.parquet")
    want = orders.filter(pc.field("o_orderstatus") == "F").num_rows

    rc = main(["delete", "orders", "o_orderstatus == 'F'", "--sf-dir", sf])
    assert rc == 0
    out = spark._lianjia_ingest_map[os.path.normpath(sf)]
    post = pq.read_table(
        sorted(glob.glob(os.path.join(out, "orders.parquet", "*.parquet")))[0]
    )
    assert post.num_rows == orders.num_rows - want
    # parser: numeric forms + rejection
    expr = _parse_predicate("o_totalprice >= 1000.5")
    assert "o_totalprice" in str(expr)
    with pytest.raises(SystemExit):
        _parse_predicate("o_totalprice >= 10 OR 1=1")


def test_custrank_leaderboard_serves_merges_and_delete_merges(
    spark, tmp_path, monkeypatch, restore_catalog
):
    """The materialized per-customer top-3 leaderboard (window_rank's
    serving artifact): serve == full window plan, append-merge re-ranks
    only affected customers, predicate deletes delete-merge through the
    same re-derive-affected merger."""
    sf = tmp_path / "sfrank"
    (sf / "orders.parquet").mkdir(parents=True)
    orders = pq.read_table(f"{SRC}/orders.parquet")
    half = orders.num_rows // 2
    pq.write_table(
        orders.slice(0, half), str(sf / "orders.parquet" / "b0.parquet")
    )
    monkeypatch.setattr(sess, "INGEST_ROOT", str(tmp_path / "ingest"))
    out = sess.ingest_tables(spark, str(sf))

    df = all_queries()["window_rank"].spark_fn(spark, str(sf))
    assert "custrank" in df._jdf.queryExecution().toString()
    assert _run(spark, str(sf), "window_rank") == _run(
        spark, str(sf), "window_rank_df"
    )

    art = os.path.join(out, "orders.custrank.resultproj.parquet")
    before = _inodes(os.path.join(art, "*.parquet"))
    assert len(before) >= 8, "leaderboard artifact must be bucketed"

    pq.write_table(
        orders.slice(half), str(sf / "orders.parquet" / "b1.parquet")
    )
    sess.ingest_tables(spark, str(sf))
    assert spark._lianjia_ingest_appended == 1
    assert spark._lianjia_resultproj_merged == 1, "custrank must append-merge"
    assert _run(spark, str(sf), "window_rank") == _run(
        spark, str(sf), "window_rank_df"
    )

    # delete one customer's orders: delete-merge rewrites only their bucket
    ck = orders.column("o_custkey").to_pylist()[0]
    n = sess.delete_where(spark, str(sf), "orders", pc.field("o_custkey") == ck)
    assert n == orders.filter(pc.field("o_custkey") == ck).num_rows
    assert spark._lianjia_resultproj_merged == 1, "custrank must delete-merge"
    after = _inodes(os.path.join(art, "*.parquet"))
    kept = [p for p, i in after.items() if before.get(p) == i]
    # most buckets from the ORIGINAL build eventually rewrite across the
    # two merges; the delete-merge itself must keep >= all-but-2 of the
    # post-append generation — compare against the generation it mutated
    rows = _run(spark, str(sf), "window_rank")
    assert rows == _run(spark, str(sf), "window_rank_df")
    assert not [r for r in rows[1] if r[0] == ck]
