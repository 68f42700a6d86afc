"""Source/sink behavior: permissive corrupt-record handling (S5), JSON-lines
round-trip fidelity (S8), collection routing (S9), transform chain (S10)."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_etl_sh_lianjia_spark.sources import readers as R


def test_jsonl_permissive_keeps_corrupt_rows(spark, tmp_path):
    p = tmp_path / "feed"
    p.mkdir()
    (p / "part-0.json").write_text(
        '{"id": 1, "price": 10.5}\n'
        "THIS IS NOT JSON\n"
        '{"id": 2, "price": "not-a-number"}\n'
        '{"id": 3, "price": 7.25}\n'
    )
    df = R.read_jsonl(spark, str(p), "id long, price double")
    rows = {r["id"]: r for r in df.collect()}
    assert rows[1]["price"] == 10.5 and rows[1]["_corrupt_record"] is None
    assert rows[3]["price"] == 7.25
    corrupt = [r for r in df.collect() if r["_corrupt_record"] is not None]
    assert len(corrupt) == 2  # the garbage line + the type-mismatched row


def test_csv_permissive_with_bad_rows(spark, tmp_path):
    p = tmp_path / "csv"
    p.mkdir()
    (p / "data.csv").write_text("id,qty\n1,10\n2,banana\n3,30\n")
    df = R.read_csv_permissive(
        spark, str(p), "id long, qty long, _corrupt_record string"
    )
    rows = {r["id"]: r for r in df.collect()}
    assert rows[1]["qty"] == 10 and rows[3]["qty"] == 30
    assert rows[2]["qty"] is None and rows[2]["_corrupt_record"] == "2,banana"


def test_save_tables_collection_routing(spark, sf_dir, tmp_path):
    from data_etl_sh_lianjia_spark.session import load_tables

    t = load_tables(spark, sf_dir, names=("region", "nation"))
    R.save_tables(
        {"lianjia_village": t["region"], "lianjia_House": t["nation"]}, str(tmp_path)
    )
    v = spark.read.parquet(str(tmp_path / "lianjia_village.parquet"))
    h = spark.read.parquet(str(tmp_path / "lianjia_House.parquet"))
    assert v.count() == t["region"].count()
    assert h.count() == t["nation"].count()


def test_transform_chain_order(spark):
    df = spark.range(5)
    out = R.transform_chain(
        df,
        [
            lambda d: d.withColumn("x", F.col("id") + 1),  # priority 1
            lambda d: d.withColumn("x", F.col("x") * 10),  # priority 2
            lambda d: d.filter(F.col("x") >= 20),  # priority 3
        ],
    )
    assert [r["x"] for r in out.orderBy("id").collect()] == [20, 30, 40, 50]


def test_python_datasource_filter_pushdown_prunes_partitions(spark):
    """The custom Python source plans one InputPartition per village range;
    a pushed village_id band must shrink the planned partition set (filter
    pushdown acting as partition pruning), and the surviving rows must
    respect the band exactly."""
    from data_etl_sh_lianjia_spark.sources import pagefeed

    pagefeed._ensure_registered(spark)
    reader = pagefeed.PageFeedReader({"villages": "40"})
    # no filters: ceil(40/8) = 5 partitions
    assert len(reader.partitions()) == 5

    from pyspark.sql.datasource import GreaterThanOrEqual, LessThan

    leftover = list(
        reader.pushFilters(
            [GreaterThanOrEqual(("village_id",), 10), LessThan(("village_id",), 30)]
        )
    )
    assert leftover == []  # both accepted
    assert len(reader.partitions()) <= 3  # 20 villages / 8 per range

    df = (
        spark.read.format("lianjia_pages")
        .option("villages", "40")
        .load()
        .filter((F.col("village_id") >= 10) & (F.col("village_id") < 30))
    )
    ids = {r["village_id"] for r in df.select("village_id").distinct().collect()}
    assert ids == set(range(10, 30))


def test_derived_copy_path_is_stable_across_processes():
    """Derived source copies are named by an md5 of the normalized sf_dir,
    not Python's per-process salted ``hash()``: two interpreters with
    different hash seeds name the same copy (no fresh copy per process)."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = (
        "from data_etl_sh_lianjia_spark.sources.readers import "
        "derived_copy_path as p; print(p('jsonl', 'orders', '/d/sf0.01/'))"
    )
    names = {
        subprocess.run(
            [sys.executable, "-c", code], cwd=repo, check=True, text=True,
            capture_output=True, env={**os.environ, "PYTHONHASHSEED": seed},
        ).stdout.strip()
        for seed in ("1", "2")
    }
    assert len(names) == 1
    assert names.pop() == R.derived_copy_path("jsonl", "orders", "/d/sf0.01")
