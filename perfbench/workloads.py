"""The workloads: seeded input, one measured pass, output check.

Why each exists (see NOTES.md for the layer-to-metric map):

* ``tables``: table-route turns only, so a kernel change to the image
  chain shows here; ``text`` bypasses it.
* ``text``: the html, scan and plain turns of the same generator draw,
  through the same pipeline: the kernel is a small part, so the Arrow
  hand-off, the exchange, the ``turn_seq`` window and the sink dominate.

Either workload's input also feeds the catalog probe (the production
job's ``run_resumable`` pass) of its traced runs, and every traced run
times the dedup operators over a planted corpus (``Dedup``).

Input sizes are fixed, so every seed gives the same amount of work; a run
repeats the pass until its measuring time is used up.
"""

from __future__ import annotations

import glob
import os
import shutil
import time
from collections import defaultdict
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

from opencv_table_extraction_spark.operators.dedup import (
    connected_components_pairs,
    dedup_apply,
    minhash_band_rows,
    minhash_lsh_pairs_with_drops,
)
from opencv_table_extraction_spark.plans.pipeline import extract_transcripts
from opencv_table_extraction_spark.session import tune_scan_for_cpu_bound
from opencv_table_extraction_spark.sources.catalog import SnapshotCatalog, run_resumable

import inputs

N_FILES = 16
WARMUP_TURNS = 16
# gen_tables turns drawn for the tables input; about a quarter are table
# turns, the rest feed the kernel replay's html/scan/plain figures
TABLES_GEN_TURNS = 10000
# the production job's shape (jobs/extract.py defaults)
CATALOG_BUCKETS = 256
CATALOG_SALT = 16
# the catalog probe writes a quarter of the tables input: its figures are
# the catalog's write and commit costs, which do not need the whole input
CATALOG_PROBE_FILES = N_FILES // 4
DEDUP_DOCS = 800


@dataclass
class Pass:
    """Outcome of one measured pass, from its checked output."""

    items: int
    expected: int
    errors: int = 0
    mismatches: int = 0
    proc_us: int = 0  # summed kernel time of the output's turns
    files: int = 0  # catalog passes: parquet files written
    file_bytes: int = 0
    rounds: int = 0  # dedup: components rounds used


def _check_turns(out: pa.Table, inp: pa.Table, truth: dict, grid: dict) -> Pass:
    """Per-turn route, extracted_text and grid counts against the
    generator truth, and turn_seq = rank of turn_idx within its
    conversation. proc_us is timing, not output, and is not compared."""
    rank: dict[tuple[str, int], int] = {}
    by_conv: dict[str, list[int]] = defaultdict(list)
    for c, t in zip(inp["conv_id"].to_pylist(), inp["turn_idx"].to_pylist()):
        by_conv[c].append(t)
    for c, ts in by_conv.items():
        for i, t in enumerate(sorted(ts)):
            rank[(c, t)] = i + 1
    cols = ("conv_id", "turn_idx", "route", "extracted_text", "n_rows", "n_cols",
            "n_cells", "n_joints", "err", "turn_seq")
    rows = zip(*[out[c].to_pylist() for c in cols])
    seen = set()
    bad = errors = 0
    for conv, tix, route, text, nr, nc, ncell, nj, err, seq in rows:
        key = (conv, tix)
        if err:
            errors += 1
        exp = truth.get(key)
        ok = (
            key not in seen
            and exp is not None
            and key in rank
            and (route, text) == exp
            and (nr, nc, ncell, nj) == grid.get(key, (0, 0, 0, 0))
            and seq == rank[key]
        )
        seen.add(key)
        bad += not ok
    bad += len(rank) - len(seen & rank.keys())  # turns missing from the output
    proc = sum(out["proc_us"].to_pylist())
    return Pass(out.num_rows, len(rank), errors, bad, proc)


class Workload:
    """Shared set-up: every workload warms a fresh session with the same
    small pass, a narrow table extraction of a few turns (starts the
    Python workers and imports numpy, pyarrow and the kernel in them).
    It is kept this small because the run pays it three times; a warm-up
    through the workload's own pipeline costs more there than it saves in
    the first pass (NOTES.md, Protocol)."""

    name = ""
    unit = ""
    # size of the reference job (hostenv.reference_job) timed around each
    # measured pass, matched to the pass's shape (NOTES.md, Protocol)
    ref_rows = 40000

    def __init__(self, work: str, seed: int) -> None:
        self.work = work
        self.seed = seed
        self.in_dir = os.path.join(work, "in", self.name)
        self.warm_dir = os.path.join(work, "in", "warmup")

    def prepare_warmup(self) -> None:
        turns = inputs.split_turns(200, self.seed)["table_turns"]
        inputs.write_parts(turns.slice(0, WARMUP_TURNS), self.warm_dir, 1)

    def warmup(self, spark) -> None:
        out = extract_transcripts(spark.read.parquet(self.warm_dir),
                                  salt_buckets=None, add_turn_seq=False)
        out.write.format("noop").mode("overwrite").save()


class _TracedCatalog(SnapshotCatalog):
    """SnapshotCatalog with spans and job descriptions around its two
    sinks, so the event log can tell the data write from the lineage
    write. Behaviour is the parent's."""

    def __init__(self, root: str, n_buckets: int, tracer, desc: str) -> None:
        super().__init__(root, n_buckets)
        self.tracer = tracer
        self.desc = desc

    def _sink(self, which: str, fn, df) -> None:
        sc = df.sparkSession.sparkContext
        sc.setJobDescription(f"{self.desc}:{which}")
        try:
            with self.tracer.span(f"sources.{which}"):
                fn(df)
        finally:
            sc.setJobDescription(self.desc)

    def write_data(self, out) -> None:
        self._sink("write_data", super().write_data, out)

    def write_lineage(self, lineage) -> None:
        self._sink("write_lineage", super().write_lineage, lineage)


class Tables(Workload):
    name = "tables"
    unit = "turns"
    # a long parallel map: a small reference job, mostly fixed job
    # overhead, slows more under load than a tables pass does
    ref_rows = 160000
    # which turns of the generator's draw form the input
    turns_key = "table_turns"

    def prepare(self) -> None:
        split = inputs.split_turns(TABLES_GEN_TURNS, self.seed)
        self.turns = split[self.turns_key]
        t = split["truth"]
        self.truth = {
            (c, i): (r, e)
            for c, i, r, e in zip(*[t[k].to_pylist() for k in
                                    ("conv_id", "turn_idx", "route", "expected_text")])
        }
        g = split["grid"]
        self.grid = {
            (c, i): (a, b, n, j)
            for c, i, a, b, n, j in zip(*[g[k].to_pylist() for k in
                                          ("conv_id", "turn_idx", "n_rows", "n_cols",
                                           "n_cells", "n_joints")])
        }
        inputs.write_parts(self.turns, self.in_dir, N_FILES)
        self.prepare_warmup()

    def check(self, out: pa.Table) -> Pass:
        return _check_turns(out, self.turns, self.truth, self.grid)

    # The catalog probe of a traced run, in the production job's shape
    # (jobs/extract.py): tune the scan for a CPU-bound map, then
    # run_resumable into a fresh SnapshotCatalog with CATALOG_BUCKETS conv
    # buckets and CATALOG_SALT salt, over the first CATALOG_PROBE_FILES
    # input files.
    def catalog_pass(self, spark, tracer) -> tuple[str, pa.Table]:
        root = os.path.join(self.work, "out", "catalog")
        files = sorted(glob.glob(os.path.join(self.in_dir, "*.parquet")))
        files = files[:CATALOG_PROBE_FILES]
        turns = pq.read_table(files)
        desc = spark.sparkContext.getLocalProperty("spark.job.description") or ""
        with tracer.span("sources.run_resumable"):
            tune_scan_for_cpu_bound(spark)
            cat = _TracedCatalog(root, CATALOG_BUCKETS, tracer, desc)
            res = run_resumable(spark, spark.read.parquet(*files), cat,
                                salt_buckets=CATALOG_SALT)
        if res["n_turns"] != turns.num_rows:
            raise RuntimeError(f"run_resumable reported {res['n_turns']} turns, "
                               f"expected {turns.num_rows}")
        return root, turns

    def finish_catalog_pass(self, handle: tuple[str, pa.Table]) -> Pass:
        root, turns = handle
        data = os.path.join(root, "data")
        res = _check_turns(pq.read_table(data), turns, self.truth, self.grid)
        for d, _, files in os.walk(data):
            for f in files:
                if f.endswith(".parquet"):
                    res.files += 1
                    res.file_bytes += os.path.getsize(os.path.join(d, f))
        shutil.rmtree(root)
        return res

    def run_pass(self, spark, tracer, it: int) -> str:
        dst = os.path.join(self.work, "out", f"tables-{it}")
        with tracer.span("plans.extract_transcripts"):
            out = extract_transcripts(spark.read.parquet(self.in_dir))
            # the parquet sink materializes every column of the output
            out.write.mode("overwrite").parquet(dst)
        return dst

    def finish_pass(self, dst: str) -> Pass:
        res = self.check(pq.read_table(dst))
        shutil.rmtree(dst)
        return res


class Text(Tables):
    """The html, scan and plain turns of the same generator draw, through
    the same pipeline and sink as ``tables``."""

    name = "text"
    turns_key = "text_turns"
    # a few short stages of mostly fixed job overhead: under load it
    # slows like the small reference job, more than the large one
    ref_rows = 40000


class Dedup(Workload):
    """The dedup probe of every traced run: a planted near-duplicate
    corpus through MinHash-LSH pairs, connected components
    (``mode="auto"``) and ``dedup_apply``, timed prefix by prefix. It is
    not an end-to-end workload: a pass is a chain of ~30 small Spark jobs
    that still gets faster after five passes and that other tenants' load
    slows by up to 2x, so its run-to-run spread did not fit a bound within
    the time a run may take (NOTES.md, Measured)."""

    name = "dedup"
    unit = "docs"

    def prepare(self) -> None:
        planted = inputs.dedup_corpus(DEDUP_DOCS, self.seed)
        self.corpus = planted["corpus"]
        self.keepers = planted["keepers"]
        inputs.write_parts(self.corpus, self.in_dir, N_FILES)

    def finish_pass(self, handle: tuple[list[int], list[int]]) -> Pass:
        kept, rounds = handle
        got = set(kept)
        bad = len(got ^ self.keepers) + (len(kept) - len(got))
        return Pass(self.corpus.num_rows, len(self.keepers), mismatches=bad,
                    rounds=sum(rounds))

    def prefixes(self, spark, tracer) -> dict:
        """Time successive prefixes of the pipeline, each materialized:
        bands; pairs (bands + candidates + verify); components on the
        materialized pairs; apply on the materialized decisions. The
        applied result is checked like a pass (``check``)."""
        sc = spark.sparkContext
        corpus = spark.read.parquet(self.in_dir)
        out: dict[str, float] = {}

        def timed(label, fn):
            sc.setJobDescription(f"prefix:{label}")
            with tracer.span(f"operators.dedup.prefix.{label}"):
                t0 = time.perf_counter()
                res = fn()
                out[label] = time.perf_counter() - t0
            return res

        timed("bands", lambda: minhash_band_rows(corpus.select("doc_id", "text"))
              .write.format("noop").mode("overwrite").save())
        pairs, dropped = minhash_lsh_pairs_with_drops(corpus)
        pairs = timed("pairs", lambda: pairs.localCheckpoint(eager=True))
        rounds: list[int] = []
        decisions = timed("components", lambda: connected_components_pairs(
            pairs, mode="auto", round_counter=rounds))
        kept = timed("apply", lambda: dedup_apply(corpus, decisions)
                     .select("doc_id").collect())
        sc.setJobDescription("prefix:counts")
        out["n_pairs"] = pairs.count()
        out["dropped_buckets"] = dropped.count()
        out["rounds"] = sum(rounds)
        sc.setJobDescription(None)
        out["check"] = vars(self.finish_pass(([r[0] for r in kept], rounds)))
        return out


WORKLOADS = {w.name: w for w in (Tables, Text)}
