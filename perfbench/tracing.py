"""Spans and the kernel's timing wrappers.

Spans are recorded from the benchmark's own code, around calls into the
package's public functions; nothing inside the package changes. They stay
in memory and are written out when the run ends.

The kernel runs inside Python workers, out of reach of driver-side spans,
so its per-phase split comes from an in-process replay of
``extract_batch`` with timing wrappers installed on the public functions
``kernel.extract`` calls (``instrument_kernel``).
"""

from __future__ import annotations

import contextlib
import json
import time
from collections import defaultdict

import numpy as np
import pyarrow as pa

import opencv_table_extraction_spark.kernel.components as components_mod
import opencv_table_extraction_spark.kernel.extract as extract_mod


class Tracer:
    """In-memory spans: name, start, end, parent span and trace id. The
    caller sets ``trace_id`` to group the spans of one pass."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.trace_id: str | None = None

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "trace": self.trace_id,
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "start_unix": time.time(),
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()
            rec["end_unix"] = rec["start_unix"] + (rec["end"] - rec["start"])

    def add(self, name: str, start_unix: float, end_unix: float,
            parent: dict | None, **attrs) -> None:
        """Record a span measured elsewhere (a Spark job from the event
        log) under ``parent``, in the parent's trace."""
        self.spans.append({
            "id": len(self.spans),
            "trace": parent["trace"] if parent else None,
            "parent": parent["id"] if parent else None,
            "name": name, "start_unix": start_unix, "end_unix": end_unix,
            "start": None, "end": None, **attrs,
        })

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


# Phase of each kernel function wrapped in kernel.extract's namespace.
# mask_intersect and grid_mask are both "intersect": each ANDs/ORs the two
# line masks. The connected_components call made by _extract_table itself
# labels the joints; the one inside detect_cells belongs to "detect".
_EXTRACT_PHASES = {
    "parse_pipe_table": "parse",
    "render_table": "render",
    "to_gray": "gray",
    "otsu_threshold": "threshold",
    "adaptive_threshold": "threshold",
    "morph_open_h": "morph",
    "morph_open_v": "morph",
    "mask_intersect": "intersect",
    "grid_mask": "intersect",
    "connected_components": "joints_cc",
    "detect_cells": "detect",
    "order_cells": "order",
}
TABLE_PHASES = ("parse", "render", "gray", "threshold", "morph", "intersect",
                "joints_cc", "detect", "order")


class KernelStats:
    """What the wrappers record during one replay."""

    def __init__(self) -> None:
        self.phase_s: dict[str, float] = defaultdict(float)
        self.turn_s: dict[str, list[float]] = defaultdict(list)
        self.cc_calls = 0
        self.canvas_px: list[int] = []
        self.batch_s = 0.0


@contextlib.contextmanager
def instrument_kernel(stats: KernelStats):
    """Install timing wrappers on the functions kernel.extract calls;
    restore the originals on exit. The wrappers return the wrapped
    function's result unchanged."""
    saved: list[tuple[object, str, object]] = []

    def patch(mod, name, wrapper):
        saved.append((mod, name, getattr(mod, name)))
        setattr(mod, name, wrapper)

    def timed(fn, phase, count_cc=False, canvas=False):
        def wrapper(*a, **kw):
            t0 = time.perf_counter()
            out = fn(*a, **kw)
            stats.phase_s[phase] += time.perf_counter() - t0
            if count_cc:
                stats.cc_calls += 1
            if canvas:
                stats.canvas_px.append(int(out[0].shape[0] * out[0].shape[1]))
            return out
        return wrapper

    for name, phase in _EXTRACT_PHASES.items():
        patch(extract_mod, name, timed(getattr(extract_mod, name), phase,
                                       count_cc=name == "connected_components",
                                       canvas=name == "render_table"))
    # detect_cells looks connected_components up in its own module
    inner_cc = components_mod.connected_components

    def counted_cc(*a, **kw):
        stats.cc_calls += 1
        return inner_cc(*a, **kw)

    patch(components_mod, "connected_components", counted_cc)
    classify = extract_mod.classify_payload

    def timed_classify(text):
        t0 = time.perf_counter()
        route = classify(text)
        stats.phase_s["classify." + route] += time.perf_counter() - t0
        return route

    patch(extract_mod, "classify_payload", timed_classify)

    turn = extract_mod.extract_turn

    def timed_turn(text, *a, **kw):
        t0 = time.perf_counter()
        out = turn(text, *a, **kw)
        route = out["route"]
        key = route if route in ("table", "html", "plain") else "scan"
        stats.turn_s[key].append(time.perf_counter() - t0)
        return out

    patch(extract_mod, "extract_turn", timed_turn)
    try:
        yield stats
    finally:
        for mod, name, orig in reversed(saved):
            setattr(mod, name, orig)


def replay_batches(turns: pa.Table, batch_rows: int) -> list[pa.RecordBatch]:
    """The turns as the Arrow batches mapInArrow would hand the kernel."""
    return turns.select(["conv_id", "turn_idx", "text"]).to_batches(batch_rows)


def run_extract_batch(batches: list[pa.RecordBatch]) -> list[pa.RecordBatch]:
    return list(extract_mod.extract_batch(iter(batches)))


def replay_kernel(turns: pa.Table, batch_rows: int) -> tuple[KernelStats, int]:
    """Replay extract_batch over ``turns`` with the wrappers installed.
    Returns the stats and the number of turns whose ``err`` is set."""
    stats = KernelStats()
    batches = replay_batches(turns, batch_rows)
    with instrument_kernel(stats):
        t0 = time.perf_counter()
        out = run_extract_batch(batches)
        stats.batch_s = time.perf_counter() - t0
    errors = sum(sum(1 for e in b.column("err").to_pylist() if e) for b in out)
    return stats, errors


def kernel_metrics(stats: KernelStats) -> dict[str, float]:
    """Per-turn microseconds by route and phase, and the exact counts."""
    us = 1e6
    n_tab = len(stats.turn_s["table"])
    tab = np.asarray(stats.turn_s["table"]) * us
    m: dict[str, float] = {}
    m["kernel.table.turn_us"] = float(tab.mean()) if n_tab else 0.0
    m["kernel.table.turn_us_p99"] = float(np.percentile(tab, 99)) if n_tab else 0.0
    phase_sum = 0.0
    for p in TABLE_PHASES:
        m[f"kernel.table.{p}_us"] = stats.phase_s[p] * us / n_tab if n_tab else 0.0
        phase_sum += stats.phase_s[p]
    # self time of _extract_table: the table turns' time not spent in a
    # wrapped phase or in extract_turn's route dispatch
    table_total = float(tab.sum()) / us
    m["kernel.table.match_us"] = (
        (table_total - phase_sum - stats.phase_s["classify.table"]) * us / n_tab
        if n_tab else 0.0
    )
    m["kernel.table.cc_calls_per_turn"] = stats.cc_calls / n_tab if n_tab else 0.0
    px = np.asarray(stats.canvas_px, dtype=np.float64) / 1000.0
    m["kernel.table.canvas_kpx_p50"] = float(np.median(px)) if len(px) else 0.0
    m["kernel.table.canvas_kpx_max"] = float(px.max()) if len(px) else 0.0
    for route in ("html", "scan", "plain"):
        v = stats.turn_s[route]
        m[f"kernel.{route}.turn_us"] = float(np.mean(v)) * us if v else 0.0
    n_all = sum(len(v) for v in stats.turn_s.values())
    turn_total = sum(sum(v) for v in stats.turn_s.values())
    m["kernel.batch.boundary_us_per_turn"] = (
        (stats.batch_s - turn_total) * us / n_all if n_all else 0.0
    )
    return m
