"""K7 quarantined delete, S6/J6 config source, S5 CSV dim."""

import pytest

from ideafast_etl_spark.sources.config import apply_dmp_dataset, load_job_config, map_lookup
from ideafast_etl_spark.sources.files import read_csv_dim
from ideafast_etl_spark.state import StateStore


def test_quarantined_delete_warns_and_removes(spark, tmp_path):
    store = StateStore(spark, str(tmp_path / "s"), partition_by=())
    store.init(spark.createDataFrame([("a",), ("b",), ("c",)], ["hash"]))
    doomed = spark.createDataFrame([("b",), ("zz",)], ["hash"])
    with pytest.warns(UserWarning, match="Never use this method"):
        removed = store._quarantined_delete(doomed)
    assert removed == 1
    assert {r["hash"] for r in store.read().collect()} == {"a", "c"}


def test_job_config_precedence(spark, tmp_path, monkeypatch):
    p = tmp_path / "cfg.json"
    p.write_text('{"page_size": "30", "cut_off": "12:00:00"}')
    monkeypatch.setenv("IDEAFAST_PAGE_SIZE", "50")
    spark.conf.set("spark.ideafast.cut_off", "09:00:00")
    try:
        cfg = load_job_config(
            spark, defaults={"page_size": "15", "cut_off": "00:00:00", "x": "y"},
            json_path=str(p),
        )
        assert cfg["page_size"] == "50"  # env beats json beats default
        assert cfg["cut_off"] == "09:00:00"  # spark.conf beats all
        assert cfg["x"] == "y"
    finally:
        spark.conf.unset("spark.ideafast.cut_off")


def test_map_lookup_literal_projection(spark):
    df = spark.createDataFrame([("TEST",), ("COS",), ("??",)], ["study"])
    m = {"TEST": "ds-1", "COS": "ds-2"}
    rows = df.select("study", map_lookup(m, "study", default="unknown").alias("ds")).collect()
    assert {r["study"]: r["ds"] for r in rows} == {"TEST": "ds-1", "COS": "ds-2", "??": "unknown"}
    # J6 is a pure projection: no join/exchange in the plan
    plan = df.select(map_lookup(m, "study"))._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan and "Exchange" not in plan


def test_apply_dmp_dataset_null_defaults_to_test(spark):
    df = spark.createDataFrame(
        [("h1", None), ("h2", "COS")], "hash string, dmp_dataset string"
    )
    out = {r["hash"]: r["dmp_dataset_id"]
           for r in apply_dmp_dataset(df, {"TEST": "ds-1", "COS": "ds-2"}).collect()}
    assert out == {"h1": "ds-1", "h2": "ds-2"}


def test_read_csv_dim(spark, tmp_path):
    p = tmp_path / "uid_map.csv"
    p.write_text("dreem_uid,device_serial\nuid-1,SER-001\nuid-2,SER-002\n")
    dim = read_csv_dim(spark, str(p), "dreem_uid string, device_serial string")
    assert {r["dreem_uid"]: r["device_serial"] for r in dim.collect()} == {
        "uid-1": "SER-001",
        "uid-2": "SER-002",
    }
