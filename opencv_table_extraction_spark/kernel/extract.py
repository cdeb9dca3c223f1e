"""Kernel batch driver (SURVEY.md §2.A bottom): chains A1→A22 per turn,
exposed as an Arrow RecordBatch→RecordBatch function for mapInArrow.

Per BASELINE.json:6,15 the chain is decode→render→morphology→cell-extract
executed "inside Arrow record batches (no per-row Python)" at the
DataFrame layer; within a batch, per-turn image work runs in compiled
NumPy. The route/transcribe contract for scan turns follows the reference
fragment exactly (test2.py:3-12, see kernel/router.py).
"""

from __future__ import annotations

import time
import zlib
from typing import Iterable, Iterator

import numpy as np
import pyarrow as pa

from . import html as html_mod
from . import router as router_mod
from .components import connected_components, detect_cells, order_cells
from .imaging import (
    adaptive_threshold,
    grid_mask,
    mask_intersect,
    morph_open_h,
    morph_open_v,
    otsu_threshold,
    to_gray,
)
from .render import (
    LINE_T,
    classify_payload,
    layout_table,
    noise_specks,
    parse_pipe_table,
    render_table,
)

__all__ = [
    "extract_turn",
    "extract_table_image_chain",
    "extract_batch",
    "OUT_FIELDS",
    "arrow_out_schema",
]

_SPAN_STRUCT = pa.struct(
    [
        ("row", pa.int32()),
        ("col", pa.int32()),
        ("x", pa.int32()),
        ("y", pa.int32()),
        ("w", pa.int32()),
        ("h", pa.int32()),
        ("start", pa.int32()),
        ("end", pa.int32()),
    ]
)

OUT_FIELDS: list[tuple[str, pa.DataType]] = [
    ("conv_id", pa.string()),
    ("turn_idx", pa.int32()),
    ("route", pa.string()),
    ("extracted_text", pa.string()),
    ("spans", pa.list_(_SPAN_STRUCT)),
    ("n_rows", pa.int32()),
    ("n_cols", pa.int32()),
    ("n_cells", pa.int32()),
    ("n_joints", pa.int32()),
    ("err", pa.string()),
    # per-turn kernel wall time in microseconds — feeds per-partition
    # lineage counters and the skew report (BASELINE.json:6); NOT part of
    # the deterministic-equality column set.
    ("proc_us", pa.int64()),
]


def arrow_out_schema() -> pa.Schema:
    return pa.schema(OUT_FIELDS)


def _plain_row(text: str) -> dict:
    return {"route": "plain", "extracted_text": text.strip(), "spans": [],
            "n_rows": 0, "n_cols": 0, "n_cells": 0, "n_joints": 0, "err": ""}


# Two speck origins within this many px in BOTH axes void the closed
# form's proof (two adjacent 2x2 specks can fill a 4 px dash inset and
# chain a line into a dash, a >= 9 px run); such turns take the image
# chain.
SPECK_CLEARANCE = 4


def _specks_isolated(specks: list[tuple[int, int]]) -> bool:
    for i, (xa, ya) in enumerate(specks):
        for xb, yb in specks[i + 1:]:
            if abs(xa - xb) <= SPECK_CLEARANCE and abs(ya - yb) <= SPECK_CLEARANCE:
                return False
    return True


def _noise_seed(text: str) -> int:
    # deterministic per-payload noise seed (process-independent: crc32,
    # not Python hash(), which varies with PYTHONHASHSEED)
    return zlib.crc32(text.encode("utf-8"))


def _closed_form_layout(text: str, pt) -> np.ndarray | None:
    """The layout rects when the closed form's proof covers this turn (its
    noise specks are pairwise isolated), else None: the one rule that
    sends an Otsu-route table turn to the closed form or the image chain."""
    H, W, layout_rects = layout_table(pt)
    specks = noise_specks(_noise_seed(text), H, W)
    return layout_rects if _specks_isolated(specks) else None


def _extract_table(text: str, use_adaptive: bool) -> dict:
    pt = parse_pipe_table(text)
    if pt is None:  # classified table but unparseable -> plain fallback
        return _plain_row(text)
    if not use_adaptive:
        layout_rects = _closed_form_layout(text, pt)
        if layout_rects is not None:
            return _table_closed_form(text, pt, layout_rects)
    return _table_image_chain(text, pt, use_adaptive)


def extract_table_image_chain(text: str) -> dict:
    """The Otsu table route with the image chain forced (no closed form):
    the oracle the closed form is tested against (tests/test_closed_form.py,
    tools/check_closed_form.py). Expects a table-classified payload."""
    pt = parse_pipe_table(text)
    if pt is None:
        return _plain_row(text)
    return _table_image_chain(text, pt, False)


def _table_closed_form(text: str, pt, layout_rects: np.ndarray) -> dict:
    """The Otsu route's output row computed from the layout alone — what
    the image chain would recover, without rendering a pixel.

    Exactness, for turns whose N_SPECKS noise specks are pairwise
    isolated (no two origins within SPECK_CLEARANCE px in both axes,
    ``_closed_form_layout``; other turns take the image chain):

    - Grid lines span the whole table, so every line is longer than
      either structuring element (k = max(9, dim // 20) is under the
      table's width and height), and the opens keep every line pixel.
    - Glyph dashes sit >= DASH_INSET (4) px inside each interior
      (checked at import in kernel/render.py). Their runs are <= 3 px
      wide and 2 px tall, 3 px apart.
    - A 2 px speck cannot bridge a >= 3 px gap, and isolated specks
      share a run only across one dash, so every run through a speck is
      at most 7 px wide (speck + dash + speck) and 4 px tall (speck +
      dash rows, or speck + line rows), under min_k = 9: the opens
      remove the specks. The one exception is a speck on a line's end,
      which extends that line into the margin. Those pixels lie in one
      line mask only, so they add no joint, and they touch the border
      component of the grid complement, so they enclose no region.
    - So the joints are exactly the (R+1)*(C+1) 2x2 line crossings
      (area LINE_T**2, each counted), and the grid-mask complement's
      inner components are exactly the layout interiors (each >= 8 x 12
      px, above detect_cells' size filters).
    - order_cells' row gap (median height / 2 = 6) is under the row
      pitch (CELL_H + LINE_T = 14) and a row's cells share one y, so
      each cell's (row, col) is its layout index. Each center lies in
      exactly one layout rect, so every cell matches and err is "".
    """
    cells = pt.cells
    C = pt.n_cols
    spans = [
        {"row": c.row, "col": c.col, "x": x, "y": y, "w": w, "h": h,
         "start": c.start, "end": c.end}
        for c, (x, y, w, h) in zip(cells, layout_rects.tolist())
    ]
    lines = [
        "\t".join([text[c.start : c.end] for c in cells[i : i + C]])
        for i in range(0, len(cells), C)
    ]
    return {
        "route": "table",
        "extracted_text": "\n".join(lines),
        "spans": spans,
        "n_rows": pt.n_rows,
        "n_cols": C,
        "n_cells": len(spans),
        "n_joints": (pt.n_rows + 1) * (C + 1),
        "err": "",
    }


def _table_image_chain(text: str, pt, use_adaptive: bool) -> dict:
    """Render → threshold → morphology → components → match: recover the
    cells from pixels. The adaptive route always runs it; the Otsu route
    runs it when the closed form's proof does not cover the turn."""
    img, layout_rects = render_table(pt, noise_seed=_noise_seed(text))
    gray = to_gray(img)
    if use_adaptive:
        bin_img = adaptive_threshold(gray)
    else:
        _, bin_img = otsu_threshold(gray)
    h_mask = morph_open_h(bin_img)
    v_mask = morph_open_v(bin_img)
    joints = mask_intersect(h_mask, v_mask)
    grid = grid_mask(h_mask, v_mask)
    # a true line crossing is at least LINE_T x LINE_T; smaller clusters
    # are residue of noise chaining into a line (same spirit as the
    # min_area filter in detect_cells, A12)
    _, _, joint_stats = connected_components(joints)
    n_joints = int((joint_stats[:, 4] >= LINE_T * LINE_T).sum()) if len(joint_stats) else 0
    rects = detect_cells(grid)
    ordered = order_cells(rects)

    # match detected cells back to layout rects by center containment —
    # one vectorized (n_cells x n_layout) containment test, not a loop
    err = ""
    spans: list[dict] = []
    row_texts: dict[int, list[tuple[int, str]]] = {}
    if len(ordered):
        cx = (ordered[:, 2] + ordered[:, 4] / 2.0)[:, None]
        cy = (ordered[:, 3] + ordered[:, 5] / 2.0)[:, None]
        lx, ly = layout_rects[:, 0][None, :], layout_rects[:, 1][None, :]
        contained = (
            (lx <= cx) & (cx < lx + layout_rects[:, 2][None, :])
            & (ly <= cy) & (cy < ly + layout_rects[:, 3][None, :])
        )
        n_hits = contained.sum(axis=1)
        hit_idx = contained.argmax(axis=1)
        layout_list = layout_rects.tolist()
        for (row, col, *_), nh, li in zip(ordered.tolist(), n_hits.tolist(),
                                          hit_idx.tolist()):
            if nh != 1:
                err = f"cell ({row},{col}) matched {nh} layout rects"
                continue
            cell = pt.cells[li]
            lx0, ly0, lw0, lh0 = layout_list[li]
            spans.append(
                {"row": row, "col": col, "x": lx0, "y": ly0, "w": lw0,
                 "h": lh0, "start": cell.start, "end": cell.end}
            )
            row_texts.setdefault(row, []).append((col, text[cell.start : cell.end]))

    lines = []
    for r in sorted(row_texts):
        cells = [t for _, t in sorted(row_texts[r], key=lambda p: p[0])]
        lines.append("\t".join(cells))
    n_rows = len(row_texts)
    n_cols = max((len(v) for v in row_texts.values()), default=0)
    return {
        "route": "table",
        "extracted_text": "\n".join(lines),
        "spans": spans,
        "n_rows": n_rows,
        "n_cols": n_cols,
        "n_cells": len(spans),
        "n_joints": int(n_joints),
        "err": err,
    }


def extract_turn(text: str, use_adaptive: bool = False) -> dict:
    """A1 dispatch -> one of the four extraction branches; returns the
    output-row dict (route, extracted_text, spans, counters, err)."""
    route = classify_payload(text)
    if route == "table":
        return _extract_table(text, use_adaptive)
    if route == "html":
        return {"route": "html",
                "extracted_text": html_mod.extract_main_content(text),
                "spans": [], "n_rows": 0, "n_cols": 0, "n_cells": 0,
                "n_joints": 0, "err": ""}
    if route == "scan":
        mode, transcript = router_mod.route_page(text)
        return {"route": mode,
                "extracted_text": router_mod.transcribe(mode, transcript),
                "spans": [], "n_rows": 0, "n_cols": 0, "n_cells": 0,
                "n_joints": 0, "err": ""}
    return _plain_row(text)


def extract_batch(
    batches: Iterable[pa.RecordBatch],
    use_adaptive: bool = False,
    keep_text: bool = False,
) -> Iterator[pa.RecordBatch]:
    """Arrow batch function for ``DataFrame.mapInArrow`` (B4).

    Input batches must carry (conv_id, turn_idx, text); extra columns are
    ignored (project before the map — B3). Never raises per turn: kernel
    failures land in the ``err`` column and are counted by lineage (B8).

    ``keep_text=True`` (r8) echoes the input ``text`` column verbatim as
    a trailing output column: consumers that slice span offsets out of
    the source payload (extract_order_cells) read the echo instead of
    join-back through a second derivation pass — the echoed Arrow column
    is the input buffer re-emitted, so equality with the joined source
    is by construction.
    """
    schema = arrow_out_schema()
    if keep_text:
        schema = schema.append(pa.field("text", pa.string()))
    for batch in batches:
        if batch.num_rows == 0:
            continue
        conv_ids = batch.column("conv_id").to_pylist()
        turn_idxs = batch.column("turn_idx").to_pylist()
        texts = batch.column("text").to_pylist()
        cols: dict[str, list] = {name: [] for name, _ in OUT_FIELDS}
        for cid, tix, txt in zip(conv_ids, turn_idxs, texts):
            t0 = time.perf_counter()
            try:
                row = extract_turn(txt or "", use_adaptive=use_adaptive)
            except Exception as e:  # noqa: BLE001 — lineage-counted
                row = {"route": "error", "extracted_text": "", "spans": [],
                       "n_rows": 0, "n_cols": 0, "n_cells": 0, "n_joints": 0,
                       "err": f"{type(e).__name__}: {e}"}
            cols["conv_id"].append(cid)
            cols["turn_idx"].append(tix)
            for k in ("route", "extracted_text", "spans", "n_rows", "n_cols",
                      "n_cells", "n_joints", "err"):
                cols[k].append(row[k])
            cols["proc_us"].append(int((time.perf_counter() - t0) * 1e6))
        arrays = [pa.array(cols[name], type=typ) for name, typ in OUT_FIELDS]
        if keep_text:
            arrays.append(batch.column("text"))
        yield pa.RecordBatch.from_arrays(arrays, schema=schema)
