"""CLI runner: whole-pipeline and per-stage invocations (the debug path)."""

from datetime import datetime

from ideafast_etl_spark.__main__ import main


def _write_dims(spark, tmp_path):
    uid = tmp_path / "uid.csv"
    uid.write_text(
        "dreem_uid,device_serial\n"
        + "\n".join(f"uid-{i},SER-{i:03d}" for i in range(7))
        + "\n"
    )
    serial = tmp_path / "serial.csv"
    serial.write_text(
        "device_serial,device_id\n"
        + "\n".join(f"SER-{i:03d},NR{i}-DEVICE" for i in range(7))
        + "\n"
    )
    asg = tmp_path / "assignments"
    spark.createDataFrame(
        [(f"NR{i}-DEVICE", f"P{i}-PATIENT", datetime(2021, 12, 1), None) for i in range(7)],
        "device_id string, patient_id string, start_wear timestamp, end_wear timestamp",
    ).write.parquet(str(asg))
    return str(uid), str(serial), str(asg)


def test_cli_full_run_then_single_stage(spark, tmp_path):
    uid, serial, asg = _write_dims(spark, tmp_path)
    state = str(tmp_path / "state")
    argv = [
        "--state-dir", state,
        "--uid-map", uid,
        "--serial-map", serial,
        "--assignments", asg,
        "--mock-api-records", "30",
        "--stage", "all",
    ]
    report = main(argv, spark=spark)
    assert report["ingested"] == 30
    assert report["serials"] == 30
    assert report["uploaded_ok"] + report["uploaded_fail"] >= 1
    # `all` is DreemPipeline.run: its run-end compaction check reports too
    assert report["compacted"] == 0

    # single-stage re-run: nothing left to group
    report2 = main(["--state-dir", state, "--stage", "group"], spark=spark)
    assert report2 == {"grouped": 0}


def test_cli_query_subcommand_runs_registry_query(spark, capsys):
    import json

    from ideafast_etl_spark.__main__ import main

    report = main(
        ["query", "tpch_q6_forecast_revenue", "--sf-dir", "/root/testdata/sf0.001"],
        spark=spark,
    )
    assert report["query"] == "tpch_q6_forecast_revenue"
    assert report["n_rows"] == 1 and len(report["rows"]) == 1
    printed = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert printed["n_rows"] == 1


def test_cli_query_subcommand_lists_queries(spark, capsys):
    from ideafast_etl_spark.__main__ import main

    report = main(["query"], spark=spark)
    assert "tpch_q1_pricing_summary" in report["queries"]
    assert len(report["queries"]) > 80
