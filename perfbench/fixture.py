"""The benchmark's input tables.

``data/sf0.1`` and ``data/sf0.001`` hold byte-identical copies of the
tables of the repository's sf0.1 and sf0.001 test fixtures (TESTDATA.md)
that the workloads read, so the benchmark runs on the exact data the
queries and their DuckDB oracles were developed against, from inside
the checkout.  The trend workloads read them in place.

``write_corpus`` builds the ``corpus_scale`` input from a fixture's
``documents`` table: the table replicated, each replica after the first
with a seeded suffix token appended to every text.  It is written
without compression or dictionary encoding, so that its on-disk size
(the figure ``ext.text_arrow`` compares with its kernel crossover)
tracks the text volume.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


def fixture_dir(sf: float) -> str:
    path = os.path.join(DATA, f"sf{sf:g}")
    if not os.path.isdir(path):
        raise SystemExit(f"perfbench: no fixture for sf{sf:g} in {DATA}")
    return path


def fixture_tables(sf_dir: str, names: list[str]) -> dict[str, str]:
    return {n: os.path.join(sf_dir, f"{n}.parquet") for n in names}


def write_corpus(out_dir: str, seed: int, sf_dir: str,
                 replicas: int) -> str:
    """``documents`` of ``sf_dir`` replicated ``replicas`` times: replica
    ``i`` shifts ``doc_id`` by ``i`` times the base count and, for
    ``i > 0``, appends a seeded suffix token to every text, so replicas
    form near-duplicate cliques rather than one exact-duplicate clique."""
    base = pq.read_table(os.path.join(sf_dir, "documents.parquet"))
    n = base.num_rows
    rng = np.random.default_rng(seed)
    suffixes = [f" {t:08x}" for t in rng.integers(0, 1 << 32, replicas)]
    parts = []
    for i in range(replicas):
        rep = base.set_column(0, "doc_id", pc.add(
            base["doc_id"], pa.scalar(i * n, pa.int64())))
        if i > 0:
            text = pc.binary_join_element_wise(
                base["text"], pa.scalar(suffixes[i]), "")
            rep = rep.set_column(1, "text", text).set_column(
                4, "n_chars", pc.utf8_length(text).cast(pa.int64()))
        parts.append(rep)
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "documents.parquet")
    pq.write_table(pa.concat_tables(parts), path, compression="none",
                   use_dictionary=False)
    return path
