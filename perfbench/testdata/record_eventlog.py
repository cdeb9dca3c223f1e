"""Re-record the tiny event log the parser test reads.

    python3 perfbench/testdata/record_eventlog.py

Runs a 12-turn table extraction (round-robin exchange, kernel map,
turn_seq window, noop sink) on local[2] with the event log on, keeps the
events the parser reads (the environment dump is dropped to keep the file
small), re-compresses them as one zstd part of a rolling-log directory,
and writes ``expected.json`` from the raw events with a separate, plain
reading of the JSON (not through ``eventlog.py``).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
from collections import defaultdict

import pyarrow as pa

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import hostenv  # noqa: E402
import inputs  # noqa: E402
from opencv_table_extraction_spark.plans.pipeline import extract_transcripts  # noqa: E402

OUT = os.path.join(HERE, "eventlog_tiny")
KEEP = ("SparkListenerJobStart", "SparkListenerJobEnd", "SparkListenerStageCompleted",
        "SparkListenerTaskEnd", "SQLExecutionStart", "SQLAdaptiveExecutionUpdate")


def record(work: str) -> list[dict]:
    hostenv.confine_to(work, ROOT)
    ev_dir = os.path.join(work, "ev")
    facts = dict(hostenv.host_facts(), nproc=2, ram_mb=4096)
    spark = hostenv.start_session(hostenv.session_confs(work, facts, ev_dir))
    try:
        turns = inputs.split_turns(60, 1)["table_turns"].slice(0, 12)
        src = inputs.write_parts(turns, os.path.join(work, "in"), 3)
        spark.sparkContext.setJobDescription("tiny:extract")
        out = extract_transcripts(spark.read.parquet(src), repartition_to=4)
        out.write.format("noop").mode("overwrite").save()
    finally:
        spark.stop()
        hostenv.shutdown_jvm()
    (app_dir,) = [os.path.join(ev_dir, d) for d in os.listdir(ev_dir)]
    events = []
    for name in sorted(os.listdir(app_dir)):
        if name.startswith("events_"):
            with pa.CompressedInputStream(pa.OSFile(os.path.join(app_dir, name)), "zstd") as s:
                events += [json.loads(line) for line in s.read().decode().splitlines()]
    return [e for e in events if e["Event"].endswith(KEEP)]


def expected(events: list[dict]) -> dict:
    desc = {}
    for e in events:
        if e["Event"] == "SparkListenerJobStart":
            for sid in e["Stage IDs"]:
                desc.setdefault(sid, e["Properties"].get("spark.job.description", ""))
    stages: dict[int, dict] = defaultdict(lambda: {
        "tasks": 0, "task_ms": 0, "shuffle_write_bytes": 0, "shuffle_read_bytes": 0,
        "spill_bytes": 0})
    kernel_rows = 0
    arrow_rows_ids = set()
    for e in events:
        if e["Event"].endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
            todo = [e["sparkPlanInfo"]]
            while todo:
                n = todo.pop()
                todo += n.get("children", [])
                if n["nodeName"] == "MapInArrow":
                    arrow_rows_ids |= {m["accumulatorId"] for m in n["metrics"]
                                       if m["name"] == "number of output rows"}
    for e in events:
        if e["Event"] == "SparkListenerTaskEnd":
            m = e["Task Metrics"]
            st = stages[e["Stage ID"]]
            st["tasks"] += 1
            st["task_ms"] += m["Executor Run Time"]
            st["shuffle_write_bytes"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
            r = m["Shuffle Read Metrics"]
            st["shuffle_read_bytes"] += r["Remote Bytes Read"] + r["Local Bytes Read"]
            st["spill_bytes"] += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
            kernel_rows += sum(int(a["Update"]) for a in e["Task Info"]["Accumulables"]
                               if a["ID"] in arrow_rows_ids)
    for e in events:
        if e["Event"] == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            scopes = [json.loads(r["Scope"])["name"] for r in info["RDD Info"] if "Scope" in r]
            st = stages[info["Stage ID"]]
            st["description"] = desc.get(info["Stage ID"], "")
            st["map_in_arrow"] = "MapInArrow" in scopes
            st["window"] = "Window" in scopes
    return {
        "stages": {str(k): v for k, v in sorted(stages.items())},
        "job_descriptions": sorted(
            e["Properties"].get("spark.job.description", "")
            for e in events if e["Event"] == "SparkListenerJobStart"),
        "kernel_rows": kernel_rows,
    }


def main() -> None:
    work = os.path.join(BENCH, ".work", "record-eventlog")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        events = record(work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    shutil.rmtree(OUT, ignore_errors=True)
    os.makedirs(OUT)
    data = "".join(json.dumps(e) + "\n" for e in events).encode()
    part = os.path.join(OUT, "events_1_local-tiny.zstd")
    with pa.CompressedOutputStream(pa.OSFile(part, "wb"), "zstd") as s:
        s.write(data)
    with open(os.path.join(OUT, "expected.json"), "w") as f:
        json.dump(expected(events), f, indent=1, sort_keys=True)


if __name__ == "__main__":
    main()
