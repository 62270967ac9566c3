"""CLI entry point — the ``airflow tasks test``-style debug path (SURVEY.md
§3.2): run the whole pipeline or a single stage from the command line /
spark-submit.

    python -m ideafast_etl_spark --state-dir /tmp/state --stage all \
        --uid-map uid.csv --serial-map serial.csv --assignments wear.parquet \
        --mock-api-records 100

An external scheduler (Airflow's SparkSubmitOperator in production —
BASELINE "Airflow-scheduled Spark jobs") triggers exactly this, one
invocation per scheduled run; state lives in --state-dir between runs.
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import SparkSession
from pyspark.sql.types import LongType, StringType, StructField, StructType

from .pipeline import DreemPipeline, PipelineConfig
from .session import get_spark
from .sources.files import read_csv_dim
from .sources.rest import PaginatedRestSource, mock_dreem_api
from .state import StateStore

API_SCHEMA = StructType(
    [
        StructField("id", StringType()),
        StructField("device", StringType()),
        StructField(
            "report",
            StructType(
                [
                    StructField("start_time", LongType()),
                    StructField("stop_time", LongType()),
                ]
            ),
        ),
        StructField("data_url", StringType()),
    ]
)

STAGES = ("ingest", "serial", "device", "patient", "group", "upload", "all")


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="ideafast_etl_spark")
    p.add_argument("--state-dir", required=True)
    p.add_argument("--stage", choices=STAGES, default="all")
    p.add_argument("--device-type", default="DRM")
    p.add_argument("--cut-off", default="12:00:00")
    p.add_argument("--uid-map", help="CSV: dreem_uid,device_serial")
    p.add_argument("--serial-map", help="CSV: device_serial,device_id")
    p.add_argument("--assignments", help="parquet: device_id,patient_id,start_wear,end_wear")
    p.add_argument("--mock-api-records", type=int, default=0,
                   help="use the deterministic mock vendor API with N records")
    p.add_argument("--limit", type=int, default=None, help="per-stage batch cap")
    return p


def run_query(argv: list[str], spark: SparkSession | None = None) -> dict:
    """``python -m ideafast_etl_spark query <name> [--sf-dir D] [--show N]``:
    run any query from the registry (the operator inventory) against a
    testdata directory and print row count + the first rows as JSON."""
    import os

    from .queries import all_queries

    p = argparse.ArgumentParser(prog="ideafast_etl_spark query")
    p.add_argument("name", nargs="?", help="query name; omit to list all")
    p.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"),
    )
    p.add_argument("--show", type=int, default=10)
    args = p.parse_args(argv)
    registry = all_queries()
    if not args.name:
        print(json.dumps({"queries": sorted(registry)}))
        return {"queries": sorted(registry)}
    if args.name not in registry:
        raise SystemExit(f"unknown query {args.name!r}; run without a name to list")
    spark = spark or get_spark("ideafast-etl-query")
    df = registry[args.name](spark, args.sf_dir)
    rows = df.limit(args.show).collect()
    report = {
        "query": args.name,
        "n_rows": df.count(),
        "rows": [r.asDict(recursive=True) for r in rows],
    }
    print(json.dumps(report, default=str))
    return report


def main(argv: list[str] | None = None, spark: SparkSession | None = None) -> dict:
    argv = sys.argv[1:] if argv is None else argv
    if argv and argv[0] == "query":
        return run_query(argv[1:], spark=spark)
    args = build_parser().parse_args(argv)
    spark = spark or get_spark("ideafast-etl")
    cfg = PipelineConfig(
        device_type=args.device_type,
        cut_off_time=args.cut_off,
        limits={k: args.limit for k in ("ingest", "serial", "device", "patient", "upload")},
    )
    store = StateStore(spark, args.state_dir)
    pipe = DreemPipeline(spark, store, cfg)

    def api():
        return PaginatedRestSource(
            mock_dreem_api(args.mock_api_records), API_SCHEMA
        ).load(spark)

    def uid_map():
        return read_csv_dim(spark, args.uid_map, "dreem_uid string, device_serial string")

    def serial_map():
        return read_csv_dim(spark, args.serial_map, "device_serial string, device_id string")

    def assignments():
        return spark.read.parquet(args.assignments)

    # `all` is one scheduled run: stages 2-5 in one pass, then upload and
    # the run-end compaction; a single stage is that pass for its own rung
    stages = {
        "ingest": lambda: {"ingested": pipe.ingest(api())},
        "serial": lambda: {"serials": pipe.resolve_serial(uid_map())},
        "device": lambda: {"devices": pipe.resolve_device_id(serial_map())},
        "patient": lambda: {"patients": pipe.resolve_patient(assignments())},
        "group": lambda: {"grouped": pipe.group_records()},
        "upload": lambda: {"uploaded": pipe.upload()},
        "all": lambda: pipe.run(api(), uid_map(), serial_map(), assignments()),
    }
    report = stages[args.stage]()
    if "uploaded" in report:
        ok, fail, conflicts = report.pop("uploaded")
        report.update(
            uploaded_ok=ok, uploaded_fail=fail, upload_conflicts=conflicts
        )
    print(json.dumps(report))
    return report


if __name__ == "__main__":
    sys.exit(0 if main() is not None else 1)
