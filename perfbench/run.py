"""The repository's benchmark: one command per workload and seed.

    python3 perfbench/run.py --workload tables|text --seed N \\
        --seconds S --trace 0|1

Run from the repository root. It generates the workload's input from the
seed, starts a ``local[nproc]`` session from this single driver process
(three times; the median start-plus-warm-up is ``setup_s``), runs the
JVM's first pass of the workload, then repeats the pass until
``--seconds`` have passed and two passes ran, timing a fixed reference
job before and after each to scale the pass by the host's speed, checks
every pass's output against the generator truth, and prints the metrics
(times are the best scaled pass). The last line of standard output is
one JSON object: correct, attempted, failed, metrics.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` runs two
untraced passes, then restarts the session with the Spark event log on,
records spans over the traced warm passes, runs the layer probes,
replays the kernel in-process with timing wrappers, and reports the
per-layer metrics, including the tracing overhead. Spans, per-pass
figures, host facts and session confs go to ``perfbench/.out/``.
See NOTES.md.

Exit code 1 when any output mismatches the truth or any turn has an err.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

import pyarrow as pa

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import eventlog  # noqa: E402
import hostenv  # noqa: E402
import tracing  # noqa: E402
import inputs  # noqa: E402
from workloads import TABLES_GEN_TURNS, WORKLOADS, Dedup  # noqa: E402

SETUPS = 3
# passes run before the measured ones: the JVM's first pass of the
# workload (cold code-generation caches, first Python workers); with the
# C1 JIT the second pass is warm (NOTES.md, Host awareness)
WARM_PASSES = 1
# fewest passes measured after them; a run's times are the fastest
MIN_MEASURED = 2
# reference jobs run before the first one that is timed (the first one in
# a JVM compiles its code and starts its Python workers), at the smaller
# size: warming does not depend on it. The last one scales setup_s.
REF_WARMUPS = 2
# kernel replay sample of the traced run, and its Arrow batch size (the
# session's spark.sql.execution.arrow.maxRecordsPerBatch)
REPLAY_TABLE_TURNS = 600
REPLAY_TEXT_TURNS = 1500
REPLAY_BATCH_ROWS = 2048

END_TO_END = {
    "setup_s": "s",
    "wall_s_at_ref": "s",
    "items_per_s_at_ref": "1/s",
    "cpu_s_at_ref": "s",
    "peak_rss_mb": "MB",
}
# printed with the end-to-end metrics, not bounded: the times as the clock
# read them, which swing with other tenants' load (NOTES.md, Measured)
AS_MEASURED = {
    "setup_s": "s",
    "setup_ref_wall_s": "s",
    "wall_s": "s",
    "items_per_s": "1/s",
    "cpu_s": "s",
    "ref_wall_s": "s",
    "ref_cpu_s": "s",
}
# printed with the end-to-end metrics; both are 0 on a correct run, so they
# gate the run (exit code, ``correct``) instead of carrying a bound
RATIOS = ("error_ratio", "mismatch_ratio")
# wall and process-tree CPU seconds of the reference job, by its size, on
# a quiet host (NOTES.md, Protocol): the *_at_ref metrics are what a pass
# would take on a host on which the reference job takes this long
REF_QUIET = {40000: (0.64, 2.1), 160000: (1.6, 5.2)}

PER_LAYER = {
    "session.jvm_start_s": "s",
    "session.start_s": "s",
    "session.warmup_s": "s",
    "session.first_pass_s": "s",
    "kernel.table.turn_us": "us",
    "kernel.table.turn_us_p99": "us",
    "kernel.table.parse_us": "us",
    "kernel.table.render_us": "us",
    "kernel.table.gray_us": "us",
    "kernel.table.threshold_us": "us",
    "kernel.table.morph_us": "us",
    "kernel.table.intersect_us": "us",
    "kernel.table.joints_cc_us": "us",
    "kernel.table.detect_us": "us",
    "kernel.table.order_us": "us",
    "kernel.table.match_us": "us",
    "kernel.table.cc_calls_per_turn": "count",
    "kernel.table.canvas_kpx_p50": "kpx",
    "kernel.table.canvas_kpx_max": "kpx",
    "kernel.html.turn_us": "us",
    "kernel.scan.turn_us": "us",
    "kernel.plain.turn_us": "us",
    "kernel.batch.boundary_us_per_turn": "us",
    "plans.scan_s": "s",
    "plans.kernel_stage.task_s": "s",
    "plans.kernel_stage.tasks": "count",
    "plans.kernel_stage.skew": "ratio",
    "plans.kernel_python_s": "s",
    "plans.arrow_overhead_s": "s",
    "plans.exchange.shuffle_write_mb": "MB",
    "plans.turn_seq.task_s": "s",
    "plans.turn_seq.shuffle_write_mb": "MB",
    "plans.spill_mb": "MB",
    "plans.jvm_cpu_s": "s",
    "plans.python_cpu_s": "s",
    "plans.driver_cpu_s": "s",
    "sources.catalog.write_task_s": "s",
    "sources.catalog.files_written": "count",
    "sources.catalog.bytes_written_mb": "MB",
    "sources.catalog.lineage_s": "s",
    "sources.catalog.driver_s": "s",
    "operators.dedup.bands_s": "s",
    "operators.dedup.pairs_s": "s",
    "operators.dedup.components_s": "s",
    "operators.dedup.apply_s": "s",
    "operators.dedup.pairs": "count",
    "operators.dedup.dropped_buckets": "count",
    "operators.dedup.components_rounds": "count",
    "operators.dedup.verify_yield": "ratio",
    "operators.dedup.shuffle_write_mb": "MB",
    "operators.dedup.max_task_s": "s",
    "trace.untraced_wall_s": "s",
    "trace.wall_s": "s",
    "trace.overhead_s": "s",
}

MB = 1e6


def setup_once(wl, confs: dict, tracer: tracing.Tracer):
    """Session start plus one small warm-up pass (worker spawn, imports,
    first-query planning)."""
    with tracer.span("session.start") as s_start:
        spark = hostenv.start_session(confs)
    with tracer.span("session.warmup") as s_warm:
        spark.sparkContext.setJobDescription("warmup")
        wl.warmup(spark)
    return spark, s_start["end"] - s_start["start"], s_warm["end"] - s_warm["start"]


def measure(wl, spark, seconds: float, tracer: tracing.Tracer, phase: str,
            min_passes: int, ref_rows: int | None = None) -> list[dict]:
    """Repeat the workload's pass until ``seconds`` have passed and at
    least ``min_passes`` ran. Each pass record carries its wall time, the
    CPU of the process tree by kind, the tree's peak RSS and the host's
    steal share. With ``ref_rows``, the reference job of that size
    (``hostenv.reference_job``) runs before the first pass and after each
    pass, and each pass record also carries the mean wall and CPU time of
    the two runs around it."""
    tree = hostenv.ProcTree()
    sc = spark.sparkContext
    passes: list[dict] = []
    ref = ref_rows is not None
    refs = [_reference(spark, tree, ref_rows)] if ref else []
    t_end = time.perf_counter() + seconds
    it = 0
    while len(passes) < min_passes or time.perf_counter() < t_end:
        sc.setJobDescription(f"{phase}:{it}")
        tracer.trace_id = f"{phase}:{it}"
        cpu0, host0 = tree.cpu(), hostenv.host_cpu_jiffies()
        with tree, tracer.span("pass", phase=phase, iteration=it) as sp:
            handle = wl.run_pass(spark, tracer, it)
        cpu1, host1 = tree.cpu(), hostenv.host_cpu_jiffies()
        res = wl.finish_pass(handle)
        passes.append({
            "iteration": it,
            "wall_s": sp["end"] - sp["start"],
            "cpu": {k: cpu1[k] - cpu0[k] for k in cpu0},
            "peak_rss": tree.peak_rss,
            "host_steal_share": (host1[0] - host0[0]) / max(1, host1[1] - host0[1]),
            **vars(res),
        })
        if ref:
            refs.append(_reference(spark, tree, ref_rows))
            passes[-1]["ref_wall_s"] = (refs[-2][0] + refs[-1][0]) / 2
            passes[-1]["ref_cpu_s"] = (refs[-2][1] + refs[-1][1]) / 2
        it += 1
    sc.setJobDescription(None)
    tracer.trace_id = phase
    return passes


def _reference(spark, tree: hostenv.ProcTree, rows: int) -> tuple[float, float]:
    """Wall and process-tree CPU seconds of one reference job."""
    spark.sparkContext.setJobDescription("reference")
    cpu0 = sum(tree.cpu().values())
    t0 = time.perf_counter()
    got = hostenv.reference_job(spark, rows)
    wall = time.perf_counter() - t0
    cpu = sum(tree.cpu().values()) - cpu0
    if got != hostenv.REF_SUMS[rows]:
        raise RuntimeError(f"reference job returned {got}, expected {hostenv.REF_SUMS[rows]}")
    return wall, cpu


def _median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def end_to_end(setups: list[tuple[float, float]], setup_ref_s: float,
               measured: list[dict], ref_rows: int) -> tuple[dict, dict]:
    """The end-to-end metrics of one run, and the same times as measured.

    Other tenants of the host slow a pass by up to 2.5x (CPU steal runs
    at 0-30 % for minutes at a time), which no number of passes per run
    averages out. So each pass is scaled by the host's speed around
    it: its wall time by the reference job's quiet wall time
    (``REF_QUIET``) over its wall time around the pass, its CPU time
    likewise. A run reports its fastest scaled pass. The set-up time is
    scaled the same way by the small reference job run after the
    set-ups (``setup_ref_s``). A comparison takes the median of this
    over runs."""
    ref_wall, ref_cpu = REF_QUIET[ref_rows]
    wall = min(p["wall_s"] * ref_wall / p["ref_wall_s"] for p in measured)
    raw_wall = min(p["wall_s"] for p in measured)
    items = measured[0]["items"]
    setup = _median(a + b for a, b in setups)
    metrics = {
        "setup_s": setup * REF_QUIET[min(REF_QUIET)][0] / setup_ref_s,
        "wall_s_at_ref": wall,
        "items_per_s_at_ref": items / wall,
        "cpu_s_at_ref": min(sum(p["cpu"].values()) * ref_cpu / p["ref_cpu_s"]
                            for p in measured),
        "peak_rss_mb": _median(p["peak_rss"] for p in measured) / MB,
    }
    as_measured = {
        "setup_s": setup,
        "setup_ref_wall_s": setup_ref_s,
        "wall_s": raw_wall,
        "items_per_s": items / raw_wall,
        "cpu_s": min(sum(p["cpu"].values()) for p in measured),
        "ref_wall_s": _median(p["ref_wall_s"] for p in measured),
        "ref_cpu_s": _median(p["ref_cpu_s"] for p in measured),
    }
    return metrics, as_measured


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _stages(app: eventlog.AppLog, phase: str, it: str) -> list[eventlog.Stage]:
    """Stages of the jobs submitted under description ``phase:it[:...]``."""
    return [s for s in app.stages.values() if s.description.split(":")[:2] == [phase, it]]


def _plans_layers(app: eventlog.AppLog, p: dict, phase: str) -> dict[str, float]:
    """plans metrics of one traced pass. The kernel stage is the stage
    that ran the pass's MapInArrow kernel (a stage reading the kernel's
    persisted output also lists it, next to InMemoryTableScan)."""
    stages = _stages(app, phase, str(p["iteration"]))
    kernel = [s for s in stages if s.has("MapInArrow") and not s.has("InMemoryTableScan")]
    kernel_tasks = [t for s in kernel for t in s.task_ms]
    window = [s for s in stages if s.has("Window")]
    scan = [s for s in stages if s.has("Scan") and not s.has("MapInArrow")]
    kernel_task_s = sum(s.task_s for s in kernel)
    python_s = p["proc_us"] / 1e6
    m = {
        "plans.scan_s": sum(s.task_s for s in scan),
        "plans.kernel_stage.task_s": kernel_task_s,
        "plans.kernel_stage.tasks": float(len(kernel_tasks)),
        "plans.kernel_stage.skew": (
            max(kernel_tasks) / max(statistics.median(kernel_tasks), 1)
            if kernel_tasks else 0.0
        ),
        "plans.kernel_python_s": python_s,
        "plans.arrow_overhead_s": kernel_task_s - python_s if kernel else 0.0,
        "plans.exchange.shuffle_write_mb": sum(s.shuffle_write_bytes for s in scan) / MB,
        "plans.turn_seq.task_s": sum(s.task_s for s in window),
        # the window stage reads exactly the exchange that feeds it
        "plans.turn_seq.shuffle_write_mb": sum(s.shuffle_read_bytes for s in window) / MB,
        "plans.spill_mb": sum(s.spill_bytes for s in stages) / MB,
        "plans.jvm_cpu_s": p["cpu"]["jvm"],
        "plans.python_cpu_s": p["cpu"]["python"],
        "plans.driver_cpu_s": p["cpu"]["driver"],
    }
    return m


def _sources_layers(app: eventlog.AppLog, tracer: tracing.Tracer, phase: str,
                    p: dict) -> dict[str, float]:
    """sources.catalog metrics of the catalog probe's run_resumable pass,
    traced under description ``phase:iteration``."""
    it = str(p["iteration"])
    stages = _stages(app, phase, it)
    in_pass = [s for s in tracer.spans if s["trace"] == f"{phase}:{it}"]
    run = next(s for s in in_pass if s["name"] == "sources.run_resumable")
    lo, hi = run["start_unix"], run["end_unix"]
    jobs = [(max(lo, j.start_ms / 1e3), min(hi, j.end_ms / 1e3))
            for j in app.jobs.values() if j.start_ms / 1e3 < hi and j.end_ms / 1e3 > lo]
    return {
        "sources.catalog.write_task_s": sum(
            s.task_s for s in stages
            if s.description.endswith(":write_data") and s.has("WriteFiles")),
        "sources.catalog.files_written": float(p["files"]),
        "sources.catalog.bytes_written_mb": p["file_bytes"] / MB,
        "sources.catalog.lineage_s": sum(s["end"] - s["start"] for s in in_pass
                                         if s["name"] == "sources.write_lineage"),
        # run_resumable's time with no Spark job running: planning, py4j,
        # job commit and the manifest commit
        "sources.catalog.driver_s": (hi - lo) - _union_s(jobs),
    }


def _job_spans(app: eventlog.AppLog, tracer: tracing.Tracer) -> None:
    """Add every Spark job as a span under the innermost benchmark span
    that was open when the job started."""
    own = [s for s in tracer.spans if s["end_unix"] is not None]
    for job in sorted(app.jobs.values(), key=lambda j: j.start_ms):
        t = job.start_ms / 1e3
        enclosing = [s for s in own if s["start_unix"] <= t <= s["end_unix"]]
        parent = max(enclosing, key=lambda s: s["start_unix"]) if enclosing else None
        tracer.add(f"spark.job.{job.job_id}", t, job.end_ms / 1e3, parent,
                   description=job.description)


def kernel_replay(seed: int) -> tuple[dict[str, float], int]:
    """Replay extract_batch in-process, wrappers on, over the seed's
    table turns (the tables input) and the html/scan/plain turns the same
    generator call drew. Returns the kernel metrics and the number of
    turns with an err."""
    split = inputs.split_turns(TABLES_GEN_TURNS, seed)
    turns = pa.concat_tables([split["table_turns"].slice(0, REPLAY_TABLE_TURNS),
                              split["text_turns"].slice(0, REPLAY_TEXT_TURNS)])
    stats, errors = tracing.replay_kernel(turns, REPLAY_BATCH_ROWS)
    return tracing.kernel_metrics(stats), errors


def traced_run(wl, spark, args, work: str, facts: dict, tracer: tracing.Tracer,
               record: dict) -> tuple[dict[str, float], list[dict]]:
    """Untraced passes, then a fresh session with the event log on for the
    traced passes, then the layer probes; returns the per-layer metrics
    and every pass whose output was checked."""
    dedup = Dedup(work, args.seed)
    dedup.prepare()
    # the JVM's first pass and one warm pass: the untraced reference for
    # the tracing overhead (kept short, the traced run does the most work)
    untraced = measure(wl, spark, args.seconds / 2, tracer, "untraced", 2)
    spark.stop()
    ev_dir = os.path.join(work, "eventlog")
    record["confs_traced"] = hostenv.session_confs(work, facts, ev_dir)
    spark = hostenv.start_session(record["confs_traced"])
    spark.sparkContext.setJobDescription("warmup")
    wl.warmup(spark)
    # the JVM is warm by now: every traced pass counts (one is enough for
    # the per-layer figures, and keeps a traced run within its time limit)
    passes = measure(wl, spark, args.seconds / 2, tracer, "traced", 1)
    checked = untraced + passes
    # layer probes, so that every traced run measures every layer: the
    # dedup operators' prefix timings over the seed's planted corpus, and
    # one pass of the production job (sources) over a quarter of the
    # workload's input
    prefix = dedup.prefixes(spark, tracer)
    checked.append(prefix["check"])
    spark.sparkContext.setJobDescription("probe:0")
    tracer.trace_id = "probe:0"
    handle = wl.catalog_pass(spark, tracer)
    probe = vars(wl.finish_catalog_pass(handle)) | {"iteration": 0}
    checked.append(probe)
    spark.stop()
    app = eventlog.load(ev_dir)

    per_pass = [_plans_layers(app, p, "traced") for p in passes]
    metrics = {k: _median(m[k] for m in per_pass) for k in per_pass[0]}
    metrics.update(_sources_layers(app, tracer, "probe", probe))
    metrics.update(_dedup_layers(app, prefix))
    setups = record["setups"]
    metrics["session.jvm_start_s"] = setups[0][0]
    metrics["session.start_s"] = _median(a for a, _ in setups)
    metrics["session.warmup_s"] = _median(b for _, b in setups)
    with tracer.span("kernel.replay"):
        km, replay_errors = kernel_replay(args.seed)
    metrics.update(km)
    metrics["session.first_pass_s"] = untraced[0]["wall_s"]
    untraced_wall = min(p["wall_s"] for p in untraced[1:])
    traced_wall = min(p["wall_s"] for p in passes)
    metrics["trace.untraced_wall_s"] = untraced_wall
    metrics["trace.wall_s"] = traced_wall
    metrics["trace.overhead_s"] = traced_wall - untraced_wall
    _job_spans(app, tracer)
    record["untraced_passes"] = untraced
    record["passes"] = passes
    if replay_errors:
        checked = checked + [{"items": 0, "expected": 0, "errors": replay_errors,
                              "mismatches": 0}]
    return metrics, checked


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    facts = hostenv.host_facts()
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    out_dir = os.path.join(HERE, ".out")
    os.makedirs(out_dir, exist_ok=True)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    hostenv.confine_to(work, ROOT)
    wl = WORKLOADS[args.workload](work, args.seed)
    tracer = tracing.Tracer()
    record: dict = {"workload": args.workload, "seed": args.seed,
                    "seconds": args.seconds, "trace": args.trace, "host": facts}
    try:
        with tracer.span("prepare_inputs"):
            wl.prepare()
        record["confs"] = hostenv.session_confs(work, facts, None)
        setups = []
        for k in range(SETUPS):
            spark, start_s, warm_s = setup_once(wl, record["confs"], tracer)
            setups.append((start_s, warm_s))
            if k < SETUPS - 1:
                spark.stop()
        record["setups"] = setups
        if args.trace:
            metrics, counted = traced_run(wl, spark, args, work, facts, tracer, record)
        else:
            # the JVM's first pass of the workload (cold code-generation
            # caches, up to 2x slower): kept in the result file, left out
            # of the metrics
            warm = measure(wl, spark, 0, tracer, "warmup", WARM_PASSES)
            ref_warm = [_reference(spark, hostenv.ProcTree(), min(REF_QUIET))
                        for _ in range(REF_WARMUPS)]
            passes = measure(wl, spark, args.seconds, tracer, "measure",
                             MIN_MEASURED, wl.ref_rows)
            spark.stop()
            metrics, record["as_measured"] = end_to_end(
                setups, ref_warm[-1][0], passes, wl.ref_rows)
            record["warmup_passes"] = warm
            record["passes"] = passes
            counted = warm + passes
    finally:
        hostenv.shutdown_jvm()
        shutil.rmtree(work, ignore_errors=True)

    attempted = sum(p["items"] for p in counted)
    errors = sum(p["errors"] for p in counted)
    mismatches = sum(p["mismatches"] for p in counted)
    expected = sum(p["expected"] for p in counted)
    ratios = {"error_ratio": errors / max(attempted, 1),
              "mismatch_ratio": mismatches / max(expected, 1)}
    units = PER_LAYER if args.trace else END_TO_END
    missing = set(units) - set(metrics)
    if missing:
        raise RuntimeError(f"metrics not computed: {sorted(missing)}")
    record["metrics"] = metrics
    record["ratios"] = ratios
    stem = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    with open(stem + ".json", "w") as f:
        json.dump(record, f, indent=1, default=str)
    if args.trace:
        tracer.dump(stem + ".spans.json")

    print(f"host: {json.dumps(facts)}")
    passes = record["passes"]
    print(f"workload {args.workload} seed {args.seed}: {len(passes)} passes of "
          f"{passes[0]['items']} {wl.unit}; host steal share during passes "
          f"{_median(p['host_steal_share'] for p in passes):.3f}")
    for k in units:
        print(f"  {k} = {metrics[k]:.6g} {units[k]}")
    for k, v in record.get("as_measured", {}).items():
        print(f"  {k} = {v:.6g} {AS_MEASURED[k]} (as measured)")
    for k, v in ratios.items():
        print(f"  {k} = {v:.6g} ratio")
    correct = errors == 0 and mismatches == 0
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": errors + mismatches,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }))
    return 0 if correct else 1


def _dedup_layers(app: eventlog.AppLog, prefix: dict) -> dict[str, float]:
    """operators.dedup metrics from the prefix run (stages described
    ``prefix:<step>``)."""
    stages = [s for s in app.stages.values() if s.description.startswith("prefix:")
              and s.description != "prefix:counts"]
    verify_stages = [s for s in stages if s.description == "prefix:pairs"]
    candidates = app.arrow_metric(verify_stages, "_jaccard_verify_batches",
                                  "number of output rows")
    return {
        "operators.dedup.bands_s": prefix["bands"],
        "operators.dedup.pairs_s": prefix["pairs"] - prefix["bands"],
        "operators.dedup.components_s": prefix["components"],
        "operators.dedup.apply_s": prefix["apply"],
        "operators.dedup.pairs": float(prefix["n_pairs"]),
        "operators.dedup.dropped_buckets": float(prefix["dropped_buckets"]),
        "operators.dedup.components_rounds": float(prefix["rounds"]),
        "operators.dedup.verify_yield": prefix["n_pairs"] / candidates if candidates else 0.0,
        "operators.dedup.shuffle_write_mb": sum(s.shuffle_write_bytes for s in stages) / MB,
        "operators.dedup.max_task_s": max((s.max_task_s for s in stages), default=0.0),
    }


if __name__ == "__main__":
    sys.exit(main())
