"""Seeded inputs for the workloads.

The package only ever sees the parquet written here. Truth comes from the
generators themselves, never from the package's output:

* ``tables`` (and the kernel replay) reuse ``fixtures.gen.gen_tables``
  (its truth tables are string joins over the constructed content) and
  split its turns by the truth route;
* ``dedup`` plants near-duplicate clusters whose keeper set (the smallest
  doc_id of each cluster) is known by construction.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from opencv_table_extraction_spark.fixtures.gen import gen_tables

# Planted links change one token of a document of at least MIN_DOC_TOKENS
# tokens, so at most 3 of >= 38 shingles differ: Jaccard >= 35/41 = 0.85.
# At that similarity the 16x2 LSH banding misses a link with probability
# (1 - (35/41)**2)**16 < 1e-9, so the keeper set is exact in practice.
MIN_DOC_TOKENS = 40
MAX_DOC_TOKENS = 64
ZIPF_A = 2.0
MAX_CLUSTER = 12
CHAIN_SHARE = 0.3
# The cluster structure (sizes, chain or tree shape, which member each copy
# is made from) is drawn from this fixed seed, so every run seed plants the
# same pair graph and does the same amount of work; the run seed draws the
# text, the edits and the doc ids.
STRUCTURE_SEED = 20261017


def split_turns(n_turns: int, seed: int) -> dict[str, pa.Table]:
    """gen_tables(n_turns, seed) split by truth route.

    Returns ``table_turns`` / ``text_turns`` (input rows) and the truth
    tables ``truth`` (conv_id, turn_idx, route, expected_text) and ``grid``.
    """
    turns, truth, grid = gen_tables(n_turns, seed=seed)
    table_keys = set(
        zip(
            *[
                truth.filter(pc.equal(truth["route"], "table"))[c].to_pylist()
                for c in ("conv_id", "turn_idx")
            ]
        )
    )
    is_table = pa.array(
        [
            k in table_keys
            for k in zip(turns["conv_id"].to_pylist(), turns["turn_idx"].to_pylist())
        ]
    )
    return {
        "table_turns": turns.filter(is_table),
        "text_turns": turns.filter(pc.invert(is_table)),
        "truth": truth,
        "grid": grid,
    }


def write_parts(table: pa.Table, out_dir: str, n_files: int) -> str:
    """Write ``table`` as ``n_files`` parquet files (a many-file scan)."""
    os.makedirs(out_dir, exist_ok=True)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        chunk = table.slice(i * step, step)
        if chunk.num_rows:
            pq.write_table(chunk, os.path.join(out_dir, f"part-{i:05d}.parquet"))
    return out_dir


def _doc(rng: np.random.Generator, n_tokens: int) -> list[str]:
    # tokens drawn from a 10^9 space: two clusters share a 3-gram only by
    # a vanishing coincidence, so cross-cluster Jaccard is ~0
    return [f"w{v}" for v in rng.integers(0, 10**9, n_tokens)]


def _mutate(rng: np.random.Generator, toks: list[str]) -> list[str]:
    out = list(toks)
    out[int(rng.integers(0, len(out)))] = f"w{int(rng.integers(0, 10**9))}"
    return out


def dedup_corpus(n_docs: int, seed: int) -> dict:
    """Planted near-duplicate corpus of exactly ``n_docs`` documents.

    Cluster sizes are heavy-tailed (Zipf, capped at MAX_CLUSTER; most
    clusters are singletons). Each new member copies an earlier member
    and changes one token: a random earlier member for tree-shaped
    clusters, the previous member for chain-shaped ones (CHAIN_SHARE of
    the multi-doc clusters). Chains have a long pair-graph diameter, so
    components needs more than one round. The structure comes from
    STRUCTURE_SEED, the content from ``seed``.

    Returns the corpus table (doc_id int64, text string), ``clusters``
    (lists of doc_ids), ``links`` (the planted (parent, child) doc_id
    pairs) and ``keepers`` (the smallest doc_id of every cluster).
    """
    shape = np.random.default_rng(STRUCTURE_SEED)
    rng = np.random.default_rng(seed)
    members: list[list[list[str]]] = []
    chains: list[bool] = []
    links_local: list[tuple[int, int, int]] = []  # (cluster, parent, child)
    total = 0
    while total < n_docs:
        size = min(int(shape.zipf(ZIPF_A)), MAX_CLUSTER, n_docs - total)
        chain = size >= 3 and shape.random() < CHAIN_SHARE
        docs = [_doc(rng, int(rng.integers(MIN_DOC_TOKENS, MAX_DOC_TOKENS + 1)))]
        for k in range(1, size):
            parent = k - 1 if chain else int(shape.integers(0, k))
            docs.append(_mutate(rng, docs[parent]))
            links_local.append((len(members), parent, k))
        members.append(docs)
        chains.append(chain)
        total += size
    ids = rng.permutation(n_docs).astype(np.int64)
    clusters: list[list[int]] = []
    texts: list[str] = [""] * n_docs
    pos = 0
    for docs in members:
        cid = [int(ids[pos + k]) for k in range(len(docs))]
        for i, toks in zip(cid, docs):
            texts[i] = " ".join(toks)
        clusters.append(cid)
        pos += len(docs)
    links = [(clusters[c][p], clusters[c][k]) for c, p, k in links_local]
    corpus = pa.table(
        {
            "doc_id": pa.array(range(n_docs), pa.int64()),
            "text": pa.array(texts, pa.string()),
        }
    )
    return {
        "corpus": corpus,
        "clusters": clusters,
        "chains": chains,
        "links": links,
        "keepers": {min(c) for c in clusters},
    }
