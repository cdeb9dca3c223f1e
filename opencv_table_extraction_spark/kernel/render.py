"""Turn decode + deterministic rasterization A1-A2 (SURVEY.md §2.A).

``parse_pipe_table`` recovers the cell grid *and the character offsets of
every cell's text inside the source turn* from a markdown/pipe table.
``render_table`` paints a deterministic document image for it: black grid
lines on a white canvas, plus dashed "glyph" ink strokes inside cells
(dash run length < any structuring element, so morphological opening
removes them exactly like real text), plus sub-``min_area`` noise specks
placed by ``noise_specks``.

The geometry is the shared layout contract. On the image chain
(kernel/extract.py: the adaptive route, and the Otsu route's fallback
when two noise specks land close together) the morphology pipeline must
*recover* these cell rects from pixels alone; spans are then matched back
by center containment. The default Otsu route skips the image chain and
emits the layout directly, which is exact because of the invariants this
module keeps (grid lines longer than any structuring element, dashes
inset ``DASH_INSET`` px inside every cell, 2x2 specks); the proof is in
``kernel.extract._table_closed_form``. tests/test_closed_form.py checks
the two against each other, and tests/test_grid_recovery.py runs the
image chain on its own.

Stage list provenance: BASELINE.json:6 "batched per-turn decode→render→
morphology→cell-extract". The reference tree itself has no decode/render
code (SURVEY.md §0).
"""

from __future__ import annotations

import re
from dataclasses import dataclass

import numpy as np

__all__ = [
    "Cell",
    "ParsedTable",
    "classify_payload",
    "parse_pipe_table",
    "layout_table",
    "noise_specks",
    "render_table",
]

# Canvas geometry. Deliberately compact: the morphology/CC kernel is
# memory-bandwidth-bound, so canvas area is the unit cost of every turn
# — these values keep the smallest line segment comfortably above the
# SE floor (imaging.min_k=9) and every cell above detect_cells'
# min_area/min_w/min_h, with nothing to spare beyond that.
CHAR_W = 4          # px per character for column sizing
CELL_H = 12         # px interior height of a row
LINE_T = 2          # grid line thickness
MARGIN = 8          # canvas margin around the outer border
MIN_CELL_W = 16     # px floor for a column's interior width
MAX_CANVAS = 2400   # hard cap on either canvas dimension
DASH_INSET = 4      # min px between a glyph dash and its cell's grid lines
N_SPECKS = 3        # 2x2 noise specks per rendered table


def _check_dash_inset(cell_h: int) -> None:
    """Every glyph dash render_table paints sits >= DASH_INSET px inside
    its cell interior, hence inside the canvas; the closed form's
    exactness proof (kernel/extract.py) relies on it. Horizontally it
    holds by construction (dashes start DASH_INSET px in and are at most
    the interior width minus 2 * DASH_INSET long); vertically a 2 px dash
    at the interior's mid row leaves cell_h // 2 px above and
    cell_h - cell_h // 2 - 2 px below."""
    inset = min(cell_h // 2, cell_h - cell_h // 2 - 2)
    if inset < DASH_INSET:
        raise AssertionError(
            f"glyph dash {inset} px from its cell's grid line (need >= "
            f"{DASH_INSET}): CELL_H={cell_h} breaks the render invariant")


_check_dash_inset(CELL_H)


_PIPE_ROW = re.compile(r"^\s*\|.*\|\s*$")
_SEP_ROW = re.compile(r"^\s*\|(?:\s*:?-{2,}:?\s*\|)+\s*$")
_TAG = re.compile(r"<\s*/?\s*[a-zA-Z][a-zA-Z0-9]*(\s[^<>]*)?>")


@dataclass(frozen=True)
class Cell:
    row: int
    col: int
    text: str
    start: int  # char offset of text in the source turn payload
    end: int


@dataclass(frozen=True)
class ParsedTable:
    n_rows: int
    n_cols: int
    cells: tuple[Cell, ...]  # row-major, dense (empty cells have start==end)


def classify_payload(text: str) -> str:
    """Route a turn payload: 'scan' | 'table' | 'html' | 'plain' (A1).

    The scan sentinel models the reference's image-input turns
    (test2.py:4 "Scan the image"); pipe tables and HTML markup route to
    the table/boilerplate branches (BASELINE.json:6).
    """
    if text.lstrip().startswith("[[scan]]"):
        return "scan"
    pipe_rows = 0
    for ln in text.splitlines():
        if _PIPE_ROW.match(ln):
            pipe_rows += 1
            if pipe_rows >= 2:
                return "table"
    if _TAG.search(text):
        return "html"
    return "plain"


def parse_pipe_table(text: str) -> ParsedTable | None:
    """Parse the first markdown/pipe table in `text`, with char offsets.

    Separator rows (|---|---|) are skipped; ragged rows are padded to the
    widest row with empty cells (start == end == offset of row end).
    Cell text is the stripped content between pipes; (start, end) index
    the stripped content inside the original string.
    """
    lines = text.splitlines(keepends=True)
    pos = 0
    rows: list[list[tuple[str, int, int]]] = []
    in_table = False
    for ln in lines:
        stripped = ln.rstrip("\n")
        if _PIPE_ROW.match(stripped):
            in_table = True
            if not _SEP_ROW.match(stripped):
                cells = []
                bar_positions = [m.start() for m in re.finditer(r"\|", stripped)]
                for a, b in zip(bar_positions, bar_positions[1:]):
                    raw = stripped[a + 1 : b]
                    lead = len(raw) - len(raw.lstrip())
                    core = raw.strip()
                    s = pos + a + 1 + lead
                    cells.append((core, s, s + len(core)))
                rows.append(cells)
        elif in_table and stripped.strip():
            break  # table ended
        pos += len(ln)
    if not rows:
        return None
    n_cols = max(len(r) for r in rows)
    n_rows = len(rows)
    out: list[Cell] = []
    for ri, r in enumerate(rows):
        for ci in range(n_cols):
            if ci < len(r):
                t, s, e = r[ci]
            else:
                t, s, e = "", r[-1][2] if r else 0, r[-1][2] if r else 0
            out.append(Cell(ri, ci, t, s, e))
    return ParsedTable(n_rows, n_cols, tuple(out))


def layout_table(pt: ParsedTable) -> tuple[int, int, np.ndarray]:
    """Deterministic pixel layout. Returns (H, W, rects) where rects is
    int64 (n_rows*n_cols, 4) row-major (x, y, w, h) *interior* rects —
    i.e. the regions bounded by (exclusive of) the grid lines."""
    R, C = pt.n_rows, pt.n_cols
    widths = [MIN_CELL_W] * C
    for c in pt.cells:
        w = (len(c.text) + 2) * CHAR_W
        if w > widths[c.col]:
            widths[c.col] = w
    col_w = np.array(widths, dtype=np.int64)
    total_w = int(col_w.sum()) + (C + 1) * LINE_T
    scale = 1.0
    if total_w > MAX_CANVAS - 2 * MARGIN:
        scale = (MAX_CANVAS - 2 * MARGIN - (C + 1) * LINE_T) / float(col_w.sum())
        col_w = np.maximum((col_w * scale).astype(np.int64), 8)
    W = 2 * MARGIN + int(col_w.sum()) + (C + 1) * LINE_T
    H = 2 * MARGIN + R * CELL_H + (R + 1) * LINE_T
    # interior left edges: each column starts one line past the previous
    xs = MARGIN + LINE_T + np.cumsum(col_w + LINE_T) - (col_w + LINE_T)
    ys = MARGIN + LINE_T + np.arange(R, dtype=np.int64) * (CELL_H + LINE_T)
    rects = np.empty((R * C, 4), dtype=np.int64)
    rects[:, 0] = np.tile(xs, R)
    rects[:, 1] = np.repeat(ys, C)
    rects[:, 2] = np.tile(col_w, R)
    rects[:, 3] = CELL_H
    return H, W, rects


def render_table(pt: ParsedTable, noise_seed: int = 0) -> tuple[np.ndarray, np.ndarray]:
    """Rasterize: white canvas, black grid, dashed ink strokes per cell,
    plus deterministic sub-threshold noise specks. Returns (img, rects)."""
    H, W, rects = layout_table(pt)
    img = np.full((H, W), 255, dtype=np.uint8)
    # grid lines spanning the table bounding box
    x0, y0 = MARGIN, MARGIN
    x1 = W - MARGIN
    y1 = H - MARGIN
    for r in range(pt.n_rows + 1):
        y = y0 + r * (CELL_H + LINE_T)
        img[y : y + LINE_T, x0:x1] = 0
    xs = sorted({int(rc[0]) - LINE_T for rc in rects})
    for x in xs + [x1 - LINE_T]:
        img[y0:y1, x : x + LINE_T] = 0
    # dashed "glyph" strokes: 3-on/3-off, max run 3 px << any SE length.
    # A cell's dash pixels are exactly the offsets j in [0, n_px) with
    # j % 6 < 3 at columns x+4+j, rows (cy, cy+1) — painted for ALL
    # cells in one scatter instead of a per-cell/per-dash Python loop.
    n_cells_r = len(pt.cells)
    if n_cells_r:
        lens = np.fromiter(
            (len(c.text) for c in pt.cells), dtype=np.int64, count=n_cells_r
        )
        npx = np.minimum(lens * CHAR_W, rects[:, 2] - 2 * DASH_INSET)
        valid = npx > 0
        if valid.any():
            npx_v = npx[valid]
            x_v = rects[valid, 0] + DASH_INSET
            cy_v = rects[valid, 1] + rects[valid, 3] // 2
            # the scatter below indexes, it does not clip; the dashes stay
            # DASH_INSET px inside their cells (_check_dash_inset)
            cnt = 3 * (npx_v // 6) + np.minimum(npx_v % 6, 3)
            starts = np.cumsum(cnt) - cnt
            k = np.arange(int(cnt.sum()), dtype=np.int64) - np.repeat(starts, cnt)
            j = (k // 3) * 6 + (k % 3)
            cols = np.repeat(x_v, cnt) + j
            rows_px = np.repeat(cy_v, cnt)
            img[rows_px, cols] = 0
            img[rows_px + 1, cols] = 0
    for nx, ny in noise_specks(noise_seed, H, W):
        img[ny : ny + 2, nx : nx + 2] = 0
    return img, rects


def noise_specks(noise_seed: int, H: int, W: int) -> list[tuple[int, int]]:
    """Top-left (x, y) of the N_SPECKS 2x2 noise specks ``render_table``
    paints on an H x W canvas: below min_area, removed by the opens. The
    closed form in kernel/extract.py reads the same positions to decide
    whether its exactness proof covers a turn.

    Inline LCG (Numerical Recipes constants) instead of a RandomState:
    constructing one per turn costs more than the kernel's entire
    morphology on a compact canvas. Origins lie in [1, W-5] x [1, H-5],
    so a speck never touches the canvas border."""
    state = (noise_seed & 0x7FFFFFFF) or 1
    out = []
    for _ in range(N_SPECKS):
        state = (state * 1664525 + 1013904223) & 0xFFFFFFFF
        nx = 1 + state % max(1, W - 5)
        state = (state * 1664525 + 1013904223) & 0xFFFFFFFF
        ny = 1 + state % max(1, H - 5)
        out.append((nx, ny))
    return out
