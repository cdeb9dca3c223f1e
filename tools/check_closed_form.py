"""Bit-exact sweep of the table route's closed form against the image chain.

Input: every table turn that ``transcripts_from_tpch`` derives from the
sf0.001, sf0.01 and sf0.1 TPC-H parquet dirs, plus the table turns of
``gen_tables(10000, 90210)`` (perfbench's held-out seed). Each turn
runs through ``extract_turn`` (the default Otsu route: the closed form where
its proof holds, the image chain otherwise) and through
``extract_table_image_chain`` (the image chain, always). Every output column
but ``proc_us`` must be equal.

Prints, per source and in total, the turn count, the share of turns the
default route sent to the image chain (the fallback share) and each
mismatch; exits 1 on any mismatch.

Usage: python tools/check_closed_form.py --sf-root DIR [--workers N]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import multiprocessing

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from opencv_table_extraction_spark.kernel import extract as extract_mod  # noqa: E402
from opencv_table_extraction_spark.kernel.render import (  # noqa: E402
    classify_payload,
    parse_pipe_table,
)

SCALES = ("sf0.001", "sf0.01", "sf0.1")
GEN_TURNS, GEN_SEED = 10000, 90210
CHUNK = 500  # turns per worker task


def tpch_table_turns(sf_dir: str) -> list[str]:
    """The table-route payloads transcripts_from_tpch derives from sf_dir."""
    from opencv_table_extraction_spark.plans.pipeline import transcripts_from_tpch
    from opencv_table_extraction_spark.session import build_session

    spark = build_session(
        "check-closed-form", master="local[2]", shuffle_partitions=4,
        extra_confs={"spark.ui.enabled": "false", "spark.driver.memory": "2g"},
    )
    texts = transcripts_from_tpch(spark, sf_dir).select("text").toArrow()
    return [t for t in texts.column("text").to_pylist()
            if classify_payload(t or "") == "table"]


def gen_table_turns(n_turns: int, seed: int) -> list[str]:
    from opencv_table_extraction_spark.fixtures.gen import gen_tables

    texts = gen_tables(n_turns, seed)[0].column("text").to_pylist()
    return [t for t in texts if classify_payload(t or "") == "table"]


def check_chunk(args: tuple[str, int, list[str]]) -> tuple[str, int, int, list[dict]]:
    source, offset, texts = args
    fallbacks = 0
    mismatches = []
    for i, text in enumerate(texts):
        pt = parse_pipe_table(text)
        # the route's own rule (an unparseable payload is a plain row)
        fallbacks += pt is not None and extract_mod._closed_form_layout(text, pt) is None
        got = extract_mod.extract_turn(text)
        want = extract_mod.extract_table_image_chain(text)
        if got != want:
            fields = sorted(k for k in want if got.get(k) != want[k])
            mismatches.append({"source": source, "turn": offset + i,
                               "fields": fields, "text": text[:200]})
    return source, len(texts), fallbacks, mismatches


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--sf-root", required=True,
                    help="the TESTDATA.md directory holding sf0.001/, "
                         "sf0.01/ and sf0.1/")
    ap.add_argument("--workers", type=int,
                    default=max(1, min(4, len(os.sched_getaffinity(0)))))
    args = ap.parse_args()

    t0 = time.time()
    sources: dict[str, list[str]] = {}
    for sf in SCALES:
        sources[sf] = tpch_table_turns(os.path.join(args.sf_root, sf))
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    sources[f"gen_tables({GEN_TURNS}, {GEN_SEED})"] = gen_table_turns(
        GEN_TURNS, GEN_SEED)
    load_s = time.time() - t0

    work = [(name, off, texts[off:off + CHUNK])
            for name, texts in sources.items()
            for off in range(0, len(texts), CHUNK)]
    totals = {name: [0, 0] for name in sources}
    mismatches: list[dict] = []
    t1 = time.time()
    # spawn, not fork: this process has started a JVM gateway's threads
    with multiprocessing.get_context("spawn").Pool(args.workers) as pool:
        for name, n, fb, bad in pool.imap_unordered(check_chunk, work):
            totals[name][0] += n
            totals[name][1] += fb
            mismatches.extend(bad)
    check_s = time.time() - t1

    n_all = sum(n for n, _ in totals.values())
    fb_all = sum(fb for _, fb in totals.values())
    for name, (n, fb) in totals.items():
        print(f"{name:>24}: {n:7d} table turns, fallback {fb:5d} "
              f"({fb / max(n, 1):.2%})")
    for m in mismatches:
        print("MISMATCH", json.dumps(m))
    print(json.dumps({
        "turns": n_all,
        "fallback_turns": fb_all,
        "fallback_share": round(fb_all / max(n_all, 1), 5),
        "mismatches": len(mismatches),
        "load_s": round(load_s, 1),
        "check_s": round(check_s, 1),
        "workers": args.workers,
    }))
    return 1 if mismatches else 0


if __name__ == "__main__":
    sys.exit(main())
