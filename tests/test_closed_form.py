"""The Otsu table route's closed form against its oracle, the image chain.

Local-oracle pattern: the same payload goes through the default route
(``extract_turn``: the closed form wherever its proof holds) and through
``extract_table_image_chain`` (render → threshold → morphology →
components → match), and the two output rows must be equal on every column
the kernel emits (``proc_us`` is added by ``extract_batch`` and is not
compared)."""

import importlib.util
import os
import random

import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

import opencv_table_extraction_spark.kernel.extract as extract_mod
from opencv_table_extraction_spark.kernel.extract import (
    _closed_form_layout,
    _specks_isolated,
    extract_table_image_chain,
    extract_turn,
)
from opencv_table_extraction_spark.kernel.render import (
    CHAR_W,
    LINE_T,
    MARGIN,
    MAX_CANVAS,
    MIN_CELL_W,
    classify_payload,
    layout_table,
    noise_specks,
    parse_pipe_table,
)

_WORDS = ("alpha", "beta", "x", "42", "total", "a b", "q-1", "ledger")


def make_payload(R, C, col_lens, ragged, sep, prose, salt, seed):
    """A pipe-table turn: R rows, up to C cells a row (fewer when ragged),
    cell lengths up to col_lens[c], optional separator row, optional
    prose before and after, and a salt line that moves the noise seed."""
    rnd = random.Random(seed)
    lines = ["intro line before the table", ""] if prose else []
    for r in range(R):
        n = rnd.randint(1, C) if ragged else C
        cells = []
        for c in range(n):
            L = rnd.randint(0, col_lens[c])
            word = rnd.choice(_WORDS)
            cells.append((word * (L // len(word) + 1))[:L].strip())
        lines.append("| " + " | ".join(cells) + " |")
        if r == 0 and (sep or R == 1):
            lines.append("|" + "|".join(["---"] * C) + "|")
    lines += ["", f"trailing prose, salt {salt}"] if prose else [f"salt {salt}"]
    return "\n".join(lines)


def assert_matches_oracle(text):
    assert classify_payload(text) == "table"
    got = extract_turn(text)
    want = extract_table_image_chain(text)
    assert got == want


payload_params = st.integers(1, 40).flatmap(
    lambda R: st.integers(1, 30).flatmap(
        lambda C: st.tuples(
            st.just(R),
            st.just(C),
            st.lists(st.sampled_from([0, 1, 3, 8, 20, 60, 150, 300])
                     | st.integers(0, 300), min_size=C, max_size=C),
            st.booleans(),   # ragged rows
            st.booleans(),   # separator row
            st.booleans(),   # surrounding prose
            st.integers(0, 2**16),  # payload salt
            st.integers(0, 2**16),  # cell-text seed
        )))


@settings(max_examples=150, deadline=None)
@given(payload_params)
@example((3, 4, [0, 0, 0, 0], False, True, False, 0, 0))         # empty cells
@example((6, 12, [300] * 12, False, True, True, 1, 2))           # width-scaled
@example((4, 30, [300] * 6 + [0] * 24, False, False, False, 3, 4))  # 8 px floor
@example((40, 3, [5, 300, 0], True, True, True, 5, 6))            # ragged, tall
def test_closed_form_equals_image_chain(params):
    assert_matches_oracle(make_payload(*params))


@pytest.mark.parametrize("params, scaled, floored", [
    ((6, 12, [300] * 12, False, True, True, 1, 2), True, False),
    ((4, 30, [300] * 6 + [0] * 24, False, False, False, 3, 4), True, True),
])
def test_examples_reach_scaled_layouts(params, scaled, floored):
    """The explicit examples above do reach MAX_CANVAS scaling and the
    8 px column floor, so the property test covers both."""
    text = make_payload(*params)
    pt = parse_pipe_table(text)
    demand = [MIN_CELL_W] * pt.n_cols
    for c in pt.cells:
        demand[c.col] = max(demand[c.col], (len(c.text) + 2) * CHAR_W)
    rects = layout_table(pt)[2]
    unscaled_w = sum(demand) + LINE_T * (pt.n_cols + 1)
    assert (unscaled_w > MAX_CANVAS - 2 * MARGIN) == scaled
    assert (rects[:, 2].min() == 8) == floored
    assert_matches_oracle(text)


def count_calls(monkeypatch, name):
    calls = []
    fn = getattr(extract_mod, name)

    def wrapper(*a, **kw):
        calls.append(1)
        return fn(*a, **kw)

    monkeypatch.setattr(extract_mod, name, wrapper)
    return calls


def test_clustered_specks_fall_back_to_image_chain(monkeypatch):
    """Salts whose specks cluster take the image chain, and the row is
    still the oracle's; isolated salts take the closed form."""
    base = (5, 4, [12, 3, 20, 0], True, True, False)
    clustered, isolated = [], []
    for salt in range(5000):
        text = make_payload(*base, salt, 7)
        fallback = _closed_form_layout(text, parse_pipe_table(text)) is None
        (clustered if fallback else isolated).append(text)
        if len(clustered) >= 5 and len(isolated) >= 5:
            break
    assert len(clustered) >= 5 and len(isolated) >= 5
    chain = count_calls(monkeypatch, "_table_image_chain")
    closed = count_calls(monkeypatch, "_table_closed_form")
    for text in clustered:
        assert_matches_oracle(text)
    # each clustered turn ran the chain twice (default route + oracle)
    assert len(chain) == 2 * len(clustered) and not closed
    chain.clear()
    for text in isolated[:5]:
        assert_matches_oracle(text)
    assert len(closed) == 5 and len(chain) == 5  # the oracle's calls only


# The salt's last 8 chars are solved for (crc32 is affine in the message
# bits) so the payload's noise seed puts two specks side by side at
# (10, 16) and (12, 16): they fill the 4 px inset between cell (0, 0)'s
# left grid line and its first dash, the 9 px run survives the
# horizontal open and crosses that line as a tenth joint.
BRIDGED = "| ab | cd |\n|---|---|\n| ef | gh |\n\nnoise salt QM_XAD@@"


def test_bridging_specks_need_the_fallback():
    """Outside its proof's domain the closed form is wrong, so the guard
    is load-bearing; the route falls back and stays exact."""
    pt = parse_pipe_table(BRIDGED)
    H, W, rects = layout_table(pt)
    specks = noise_specks(extract_mod._noise_seed(BRIDGED), H, W)
    assert {(10, 16), (12, 16)} <= set(specks)
    assert not _specks_isolated(specks)
    assert _closed_form_layout(BRIDGED, pt) is None
    want = extract_table_image_chain(BRIDGED)
    assert want["n_joints"] == 10 and want["n_cells"] == 4
    assert extract_mod._table_closed_form(BRIDGED, pt, rects) != want
    assert extract_turn(BRIDGED) == want


def test_adaptive_route_always_runs_image_chain(monkeypatch):
    chain = count_calls(monkeypatch, "_table_image_chain")
    closed = count_calls(monkeypatch, "_table_closed_form")
    text = make_payload(3, 3, [6, 6, 6], False, True, False, 0, 0)
    assert _closed_form_layout(text, parse_pipe_table(text)) is not None
    out = extract_turn(text, use_adaptive=True)
    assert out["route"] == "table" and out["n_cells"] == 9
    assert len(chain) == 1 and not closed


def test_traced_phase_names_stay_in_kernel_extract():
    """perfbench's traced runs wrap these kernel.extract attributes by name
    (tracing._EXTRACT_PHASES); a missing one makes those runs fail."""
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "perfbench", "tracing.py")
    spec = importlib.util.spec_from_file_location("perfbench_tracing", path)
    tracing = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(tracing)
    names = set(tracing._EXTRACT_PHASES)
    assert len(names) == 12
    assert {n for n in names if not callable(getattr(extract_mod, n, None))} == set()


def test_dash_inset_violation_is_a_clear_error():
    """The closed form's proof needs every glyph dash DASH_INSET px inside
    its cell; a row height that breaks that fails loudly when kernel/render.py
    is imported instead of an IndexError from the pixel scatter (or a
    silent wrong closed form)."""
    from opencv_table_extraction_spark.kernel.render import CELL_H, _check_dash_inset

    _check_dash_inset(CELL_H)
    for cell_h, inset in ((8, 2), (9, 3), (10, 3)):
        with pytest.raises(AssertionError,
                           match=f"glyph dash {inset} px from its cell's grid line"):
            _check_dash_inset(cell_h)


def test_rendered_dashes_keep_the_inset():
    """What _check_dash_inset derives from the constants holds on real
    renders: no ink within DASH_INSET px of a cell's grid lines, apart
    from the noise specks."""
    from opencv_table_extraction_spark.kernel.render import DASH_INSET, render_table

    text = make_payload(6, 12, [300] * 12, True, True, True, 1, 2)
    pt = parse_pipe_table(text)
    img, rects = render_table(pt, noise_seed=extract_mod._noise_seed(text))
    H, W = img.shape
    for nx, ny in noise_specks(extract_mod._noise_seed(text), H, W):
        img[ny : ny + 2, nx : nx + 2] = 255
    d = DASH_INSET
    inked = 0
    for x, y, w, h in rects.tolist():
        cell = img[y : y + h, x : x + w] == 0
        inked += bool(cell.any())
        assert not cell[:d].any() and not cell[h - d:].any()
        assert not cell[:, :d].any() and not cell[:, w - d:].any()
    assert inked
