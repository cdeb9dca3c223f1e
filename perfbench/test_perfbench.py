"""The benchmark's own tests (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
from collections import defaultdict

import pyarrow as pa
import pytest

import eventlog
import inputs
import run
import tracing
import workloads

HERE = os.path.dirname(os.path.abspath(__file__))
TINY_LOG = os.path.join(HERE, "testdata", "eventlog_tiny")


def shingle_set(text: str) -> set[str]:
    """Word 3-gram set, as operators/dedup.py shingles a space-joined text."""
    toks = text.split(" ")
    return {" ".join(toks[i : i + 3]) for i in range(max(len(toks) - 2, 1))}


def jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b)


@pytest.mark.parametrize("seed", [0, 7])
def test_turn_generator_is_deterministic_per_seed(seed):
    a = inputs.split_turns(600, seed)
    b = inputs.split_turns(600, seed)
    for k in a:
        assert a[k].equals(b[k]), k
    other = inputs.split_turns(600, seed + 1)
    assert not a["table_turns"].equals(other["table_turns"])
    routes = a["truth"]["route"].to_pylist()
    assert a["table_turns"].num_rows == routes.count("table") > 0
    assert a["text_turns"].num_rows == len(routes) - routes.count("table")


@pytest.mark.parametrize("seed", [0, 7])
def test_dedup_generator_is_deterministic_per_seed(seed):
    a = inputs.dedup_corpus(500, seed)
    b = inputs.dedup_corpus(500, seed)
    assert a["corpus"].equals(b["corpus"])
    assert a["clusters"] == b["clusters"] and a["keepers"] == b["keepers"]
    assert not a["corpus"].equals(inputs.dedup_corpus(500, seed + 1)["corpus"])


@pytest.mark.parametrize("seed", [0, 3])
def test_dedup_generator_keeps_planted_clusters_separated(seed):
    planted = inputs.dedup_corpus(workloads.DEDUP_DOCS, seed)
    texts = planted["corpus"]["text"].to_pylist()
    assert planted["corpus"]["doc_id"].to_pylist() == list(range(len(texts)))
    sh = [shingle_set(t) for t in texts]
    cluster_of = {d: c for c, docs in enumerate(planted["clusters"]) for d in docs}
    assert sorted(cluster_of) == list(range(len(texts)))

    for a, b in planted["links"]:
        assert cluster_of[a] == cluster_of[b]
        assert jaccard(sh[a], sh[b]) >= 0.7

    # every cross-cluster pair that shares any shingle, found through an
    # inverted index (pairs sharing none have Jaccard 0)
    by_shingle = defaultdict(set)
    for d, s in enumerate(sh):
        for g in s:
            by_shingle[g].add(d)
    cross = {(min(a, b), max(a, b)) for ds in by_shingle.values() for a in ds for b in ds
             if cluster_of[a] != cluster_of[b]}
    assert all(jaccard(sh[a], sh[b]) < 0.1 for a, b in cross)

    assert planted["keepers"] == {min(c) for c in planted["clusters"]}
    sizes = [len(c) for c in planted["clusters"]]
    assert sizes.count(1) > len(sizes) / 2 and max(sizes) == inputs.MAX_CLUSTER
    chains = [c for c, is_chain in zip(planted["clusters"], planted["chains"]) if is_chain]
    assert max(len(c) for c in chains) >= 5


def test_eventlog_parser_stage_totals_on_recorded_log():
    app = eventlog.load(TINY_LOG)
    with open(os.path.join(TINY_LOG, "expected.json")) as f:
        expected = json.load(f)
    got = {
        str(s.stage_id): {
            "description": s.description,
            "tasks": len(s.task_ms),
            "task_ms": sum(s.task_ms),
            "shuffle_write_bytes": s.shuffle_write_bytes,
            "shuffle_read_bytes": s.shuffle_read_bytes,
            "spill_bytes": s.spill_bytes,
            "map_in_arrow": s.has("MapInArrow"),
            "window": s.has("Window"),
        }
        for s in app.stages.values()
    }
    assert got == expected["stages"]
    assert sorted(j.description for j in app.jobs.values()) == expected["job_descriptions"]
    assert all(j.end_ms >= j.start_ms > 0 for j in app.jobs.values())
    arrow = [s for s in app.stages.values() if s.has("MapInArrow")]
    # the kernel's MapInArrow node is the one whose output has proc_us
    assert app.arrow_metric(arrow, "proc_us", "number of output rows") \
        == expected["kernel_rows"] == 12


def _drop_timing(batches: list[pa.RecordBatch]) -> bytes:
    table = pa.Table.from_batches(batches).drop_columns(["proc_us"])
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, table.schema) as w:
        w.write_table(table)
    return sink.getvalue().to_pybytes()


def test_kernel_wrappers_leave_extract_batch_output_byte_identical():
    split = inputs.split_turns(800, 5)
    turns = pa.concat_tables([split["table_turns"], split["text_turns"]])
    batches = tracing.replay_batches(turns, 128)
    plain = tracing.run_extract_batch(batches)
    stats = tracing.KernelStats()
    with tracing.instrument_kernel(stats):
        wrapped = tracing.run_extract_batch(batches)
    assert _drop_timing(plain) == _drop_timing(wrapped)
    # the wrappers recorded every table turn, and were removed again
    n_tab = split["table_turns"].num_rows
    assert len(stats.turn_s["table"]) == len(stats.canvas_px) == n_tab
    assert stats.cc_calls == 2 * n_tab
    assert tracing.extract_mod.extract_turn.__name__ == "extract_turn"
    assert tracing.components_mod.connected_components.__name__ == "connected_components"

    stats, errors = tracing.replay_kernel(turns, 128)
    m = tracing.kernel_metrics(stats)
    assert errors == 0
    assert m["kernel.table.cc_calls_per_turn"] == 2.0
    assert all(v > 0 for v in m.values()), m


def _truth_output(wl) -> pa.Table:
    """What a correct pass writes, built from the generator truth."""
    keys = list(zip(wl.turns["conv_id"].to_pylist(), wl.turns["turn_idx"].to_pylist()))
    by_conv = defaultdict(list)
    for c, t in keys:
        by_conv[c].append(t)
    rank = {(c, t): i + 1 for c, ts in by_conv.items() for i, t in enumerate(sorted(ts))}
    grid = [wl.grid.get(k, (0, 0, 0, 0)) for k in keys]
    return pa.table({
        "conv_id": [c for c, _ in keys],
        "turn_idx": [t for _, t in keys],
        "route": [wl.truth[k][0] for k in keys],
        "extracted_text": [wl.truth[k][1] for k in keys],
        "n_rows": [g[0] for g in grid],
        "n_cols": [g[1] for g in grid],
        "n_cells": [g[2] for g in grid],
        "n_joints": [g[3] for g in grid],
        "err": [""] * len(keys),
        "turn_seq": [rank[k] for k in keys],
        "proc_us": [1] * len(keys),
    })


def test_output_check_counts_each_kind_of_mismatch(tmp_path):
    wl = workloads.Tables(str(tmp_path), 3)
    wl.prepare()
    good = _truth_output(wl)
    assert wl.check(good).mismatches == 0
    for col, bad_value in (("extracted_text", "x"), ("route", "html"),
                           ("n_cells", -1), ("turn_seq", 0)):
        values = good[col].to_pylist()
        values[5] = bad_value
        bad = good.set_column(good.schema.get_field_index(col), col,
                              pa.array(values, good[col].type))
        assert wl.check(bad).mismatches == 1, col
    assert wl.check(good.slice(1)).mismatches == 1  # a missing turn
    res = wl.check(pa.concat_tables([good, good.slice(0, 1)]))
    assert res.mismatches == 1  # a duplicated turn


def test_benchmark_json_names_the_metrics_run_prints():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= set(workloads.WORKLOADS)


def test_reference_sums_match_an_independent_computation():
    import hostenv

    for rows, expected in hostenv.REF_SUMS.items():
        assert hostenv.reference_sum(rows) == expected
    assert set(hostenv.REF_SUMS) == set(run.REF_QUIET)
    assert {w.ref_rows for w in workloads.WORKLOADS.values()} <= set(run.REF_QUIET)
