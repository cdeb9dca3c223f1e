"""Constructive kernel property tests (SURVEY.md §5.2-2): render a known
R x C grid, run the full morphology chain, assert exact recovery of cell
count, (row, col) assignment, joint count, and span slicing.

The grid checks run on both table paths: the default route (``extract_turn``,
which emits the closed form wherever its proof holds) and the image chain
called directly (``extract_table_image_chain``), so the pixel pipeline stays
covered. The default-route tests keep their names; each ``*_image_chain``
test is its image-chain twin."""

import pytest

from opencv_table_extraction_spark.kernel.extract import (
    extract_table_image_chain,
    extract_turn,
)
from opencv_table_extraction_spark.kernel.render import parse_pipe_table


def make_table_md(R, C, sep=True):
    lines = []
    for r in range(R):
        lines.append("| " + " | ".join(f"r{r}c{c}-xx" for c in range(C)) + " |")
        if r == 0 and (sep or R == 1):
            lines.append("|" + "|".join(["---"] * C) + "|")
    return "\n".join(lines)


def check_exact_grid_recovery(extract, R, C):
    text = make_table_md(R, C)
    out = extract(text)
    assert out["err"] == ""
    assert out["route"] == "table"
    assert out["n_rows"] == R and out["n_cols"] == C
    assert out["n_cells"] == R * C
    assert out["n_joints"] == (R + 1) * (C + 1)
    expected = "\n".join("\t".join(f"r{r}c{c}-xx" for c in range(C)) for r in range(R))
    assert out["extracted_text"] == expected
    # spans slice back to the original cell text, in (row, col) order
    spans = sorted(out["spans"], key=lambda s: (s["row"], s["col"]))
    for s in spans:
        assert text[s["start"] : s["end"]] == f"r{s['row']}c{s['col']}-xx"


@pytest.mark.parametrize("R", [1, 2, 3, 5, 8])
@pytest.mark.parametrize("C", [1, 2, 4, 8])
def test_exact_grid_recovery(R, C):
    check_exact_grid_recovery(extract_turn, R, C)


@pytest.mark.parametrize("R", [1, 2, 3, 5, 8])
@pytest.mark.parametrize("C", [1, 2, 4, 8])
def test_exact_grid_recovery_image_chain(R, C):
    check_exact_grid_recovery(extract_table_image_chain, R, C)


@pytest.mark.parametrize("use_adaptive", [False, True])
def test_both_threshold_paths_agree(use_adaptive):
    text = make_table_md(4, 3)
    out = extract_turn(text, use_adaptive=use_adaptive)
    assert out["n_cells"] == 12 and out["err"] == ""


def check_ragged_rows_padded(extract):
    text = "| a1 | b1 | c1 |\n| a2 | b2 |"
    out = extract(text)
    assert out["n_rows"] == 2 and out["n_cols"] == 3
    assert out["extracted_text"] == "a1\tb1\tc1\na2\tb2\t"


def test_ragged_rows_padded():
    check_ragged_rows_padded(extract_turn)


def test_ragged_rows_padded_image_chain():
    check_ragged_rows_padded(extract_table_image_chain)


def test_prose_noise_around_table_ignored():
    text = "intro prose line.\n| a | b |\n| c | d |\n\ntrailing prose."
    out = extract_turn(text)
    assert out["extracted_text"] == "a\tb\nc\td"


def test_parse_offsets():
    text = "| alpha | beta |\n|---|---|\n| gamma | d |"
    pt = parse_pipe_table(text)
    assert pt.n_rows == 2 and pt.n_cols == 2
    for cell in pt.cells:
        assert text[cell.start : cell.end] == cell.text


def check_noise_specks_do_not_create_cells(extract):
    # many renders with different noise seeds (seed derives from payload)
    for salt in range(10):
        text = make_table_md(3, 3) + f"\n\nnoise salt {salt}."
        out = extract(text)
        assert out["n_cells"] == 9, f"salt {salt}: {out}"


def test_noise_specks_do_not_create_cells():
    check_noise_specks_do_not_create_cells(extract_turn)


def test_noise_specks_do_not_create_cells_image_chain():
    check_noise_specks_do_not_create_cells(extract_table_image_chain)
