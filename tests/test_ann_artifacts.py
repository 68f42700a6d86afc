"""ANN index artifacts as maintained projections (VERDICT r9 #4).

The IVF centroids + inverted file, PQ codebooks + code table, and LSH
bucket signatures are ingest-maintained `_RESULT_PROJECTIONS` entries:
built by the same kernels the inline fallbacks run, published under the
embeddings table's fingerprint, LOADED (not rebuilt) per query, refused
the moment the collection mutates, and rebuilt by the mutation pass
itself. These tests pin:

- artifact existence + freshness after their first read (ingest builds
  none), and that the serving queries actually read them (plan contains
  the artifact view);
- artifact-served results == inline-built results (ingested catalog vs
  the raw landed dir, which always takes the inline kernels);
- the mutation lifecycle: delete_where on embeddings invalidates and
  re-derives all five artifacts in the same pass, post-mutation query
  results match a from-scratch recompute, and compaction restamps.
"""

from __future__ import annotations

import os
import shutil

import pyarrow.compute as pc
import pytest

from data_etl_sh_lianjia_spark import session as sess
from data_etl_sh_lianjia_spark.operators import similarity as sim
from data_etl_sh_lianjia_spark.canon import canon_rows

SRC = "/root/testdata/sf0.001"

ANN_ARTIFACTS = (
    "embeddings.ivfcent.vecproj.parquet",
    "embeddings.ivfassign.vecproj.parquet",
    "embeddings.pqbooks.vecproj.parquet",
    "embeddings.pqcodes.vecproj.parquet",
    "embeddings.lshbuckets.vecproj.parquet",
)


@pytest.fixture()
def restore_catalog(spark):
    saved = (
        dict(getattr(spark, "_lianjia_ingest_map", {}) or {}),
        dict(getattr(spark, "_lianjia_table_cache", {}) or {}),
        dict(getattr(spark, "_lianjia_keydict_views", {}) or {}),
        dict(getattr(spark, "_lianjia_vec_index", {}) or {}),
    )
    yield
    spark._lianjia_ingest_map = saved[0]
    spark._lianjia_table_cache = saved[1]
    spark._lianjia_keydict_views = saved[2]
    spark._lianjia_vec_index = saved[3]
    spark._lianjia_views_dir = None


def _mk_sf(tmp_path, monkeypatch, sub):
    sf = tmp_path / sub
    sf.mkdir()
    shutil.copy(f"{SRC}/embeddings.parquet", str(sf / "embeddings.parquet"))
    monkeypatch.setattr(sess, "INGEST_ROOT", str(tmp_path / "ingest"))
    return str(sf)


def _canon(df):
    return canon_rows([tuple(r) for r in df.collect()], df.columns)


def _fresh(out_dir, artifact):
    fp, meta = sess._read_marker(os.path.join(out_dir, artifact, "_SUCCESS"))
    if not fp:
        return False
    comps = (meta or {}).get("components") or {}
    want = comps.get("embeddings")
    have, _m = sess._read_marker(
        os.path.join(out_dir, "embeddings.parquet", "_SUCCESS")
    )
    return bool(want) and want == have


def test_artifacts_built_served_and_equal_inline(
    spark, tmp_path, monkeypatch, restore_catalog, first_read
):
    sf = _mk_sf(tmp_path, monkeypatch, "sfann")
    sess.ingest_tables(spark, sf)
    out_dir = spark._lianjia_ingest_map[os.path.normpath(sf)]
    for a in ANN_ARTIFACTS:
        assert not _fresh(out_dir, a), f"{a} must not be built by ingest"
    first_read(sf, *ANN_ARTIFACTS)
    for a in ANN_ARTIFACTS:
        assert _fresh(out_dir, a), f"{a} must be built by its first read"

    # the serving queries READ the artifacts (plan references the view)
    ivf = sim.ann_ivf_topk(spark, sf)
    assert "ivfassign" in ivf._jdf.queryExecution().toString()
    lsh = sim._lsh_approx_topk(spark, sf)
    assert "lshbuckets" in lsh._jdf.queryExecution().toString()
    pq = sim._pq_approx_topk(spark, sf)
    assert "pqcodes" in pq._jdf.queryExecution().toString()

    art_rows = {"ivf": _canon(ivf), "lsh": _canon(lsh), "pq": _canon(pq)}

    # inline fallback: the raw landed dir builds no artifact and runs the
    # inline kernels -> same results from scratch
    spark._lianjia_ingest_map.pop(os.path.normpath(sf))
    spark._lianjia_keydict_views = {}
    spark._lianjia_vec_index = {}
    ivf2 = sim.ann_ivf_topk(spark, sf)
    assert "ivfassign" not in ivf2._jdf.queryExecution().toString()
    assert _canon(ivf2) == art_rows["ivf"]
    lsh2 = sim._lsh_approx_topk(spark, sf)
    assert _canon(lsh2) == art_rows["lsh"]
    pq2 = sim._pq_approx_topk(spark, sf)
    assert _canon(pq2) == art_rows["pq"]


def test_mutation_lifecycle_rebuilds_indexes(
    spark, tmp_path, monkeypatch, restore_catalog, first_read
):
    """DELETE on the collection must invalidate and re-derive every index
    artifact within the mutation pass; post-mutation ANN results equal a
    from-scratch recompute over the surviving vectors; compaction keeps
    the artifacts serveable."""
    sf = _mk_sf(tmp_path, monkeypatch, "sfannmut")
    sess.ingest_tables(spark, sf)
    out_dir = first_read(sf, *ANN_ARTIFACTS)

    n = sess.delete_where(
        spark, sf, "embeddings", pc.field("vec_id") >= 400
    )
    assert n > 0
    for a in ANN_ARTIFACTS:
        assert _fresh(out_dir, a), f"{a} must re-derive inside the mutation"

    # artifact-served results equal the inline recompute post-delete
    spark._lianjia_vec_index = {}
    ivf_art = _canon(sim.ann_ivf_topk(spark, sf))
    for a in ANN_ARTIFACTS:
        shutil.rmtree(os.path.join(out_dir, a))
    spark._lianjia_keydict_views = {}
    spark._lianjia_vec_index = {}
    assert _canon(sim.ann_ivf_topk(spark, sf)) == ivf_art
    # deleted vectors are gone from the served graph (canon column order
    # is alphabetical: neighbor_id, q_id, sim)
    _cols, rows = ivf_art
    assert rows and all(
        r[0] < 400 and r[1] < 400 for r in rows
    ), "no deleted vec_id may appear in the served graph"

    # rebuild artifacts (their first read after the removal), then
    # compact: artifacts must still serve (restamp or rebuild, never
    # stale-refuse)
    sess.ingest_tables(spark, sf)
    first_read(sf, *ANN_ARTIFACTS)
    for a in ANN_ARTIFACTS:
        assert _fresh(out_dir, a)
    sess.compact_table(spark, sf, "embeddings")
    for a in ANN_ARTIFACTS:
        assert _fresh(out_dir, a), f"{a} must stay serveable across compact"
    spark._lianjia_vec_index = {}
    ivf_after = sim.ann_ivf_topk(spark, sf)
    assert "ivfassign" in ivf_after._jdf.queryExecution().toString()
    assert _canon(ivf_after) == ivf_art
