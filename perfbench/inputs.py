"""Seeded inputs for the benchmark workloads.

Everything here is a pure function of (workload, seed, scale): the engine
only ever sees the generated parquet files.

- corpus: a lineitem-shaped table (TPC-H cardinalities: uniform order, part
  and supplier keys; return flags N/A/R drawn 50/25/25, about the split
  TPC-H's receipt-date rule gives), turned into tokens by the engine's own
  ``sources.tokens.token_table``. The return flag is the source column, so
  the sources are skewed as ``token_table`` expects. Short
  arithmetic-progression documents, ~32.5 tokens each.
- entropy: ``sources.tokens.synthetic_arrays("mixed", n, seed)`` documents
  (~300 tokens each, five codec-stress profiles) with sources drawn
  90/5/4/1 as in the ``skewed_source`` profile, written to parquet.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# rows of lineitem per unit of scale factor (TPC-H cardinalities)
_LINEITEM_PER_SF = 6_000_000


def write_corpus_lineitem(seed: int, n_rows: int, out_dir: str) -> str:
    """Seeded lineitem.parquet under out_dir; returns out_dir (the
    ``sf_dir`` that ``token_table`` expects)."""
    rng = np.random.default_rng(seed)
    sf = n_rows / _LINEITEM_PER_SF
    day_us = 86_400 * 10**6
    table = pa.table(
        {
            "l_orderkey": rng.integers(0, max(int(1_500_000 * sf), 1), n_rows),
            "l_partkey": rng.integers(0, max(int(200_000 * sf), 64), n_rows),
            "l_suppkey": rng.integers(0, max(int(10_000 * sf), 1), n_rows),
            "l_linenumber": rng.integers(1, 8, n_rows).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_rows).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900.0, 105_000.0, n_rows), 2),
            "l_returnflag": rng.choice(np.array(["N", "A", "R"]), n_rows,
                                       p=[0.5, 0.25, 0.25]),
            "l_shipdate": pa.array(
                (8035 + rng.integers(0, 2557, n_rows)) * day_us,
                pa.timestamp("us"),
            ),
        }
    )
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(table, os.path.join(out_dir, "lineitem.parquet"))
    return out_dir


def write_entropy_tokens(seed: int, n_docs: int, out_path: str) -> str:
    """Seeded high-entropy token table (TOKEN_SCHEMA) as one parquet file."""
    from copybook_rs_spark.sources.tokens import TOKEN_SCHEMA, synthetic_arrays

    doc_ids, arrays, _ = synthetic_arrays("mixed", n_docs, seed)
    r = np.random.default_rng(seed + 1).random(n_docs)
    sources = np.where(
        r < 0.90, "web", np.where(r < 0.95, "books", np.where(r < 0.99, "code", "wiki"))
    )
    lens = np.array([len(a) for a in arrays], dtype=np.int32)
    offsets = np.zeros(n_docs + 1, dtype=np.int32)
    np.cumsum(lens, out=offsets[1:])
    table = pa.table(
        {
            "doc_id": pa.array(doc_ids, pa.string()),
            "tokens": pa.ListArray.from_arrays(
                pa.array(offsets), pa.array(np.concatenate(arrays), pa.int32())
            ),
            "n_tok": pa.array(lens, pa.int32()),
            "source": pa.array(sources.tolist(), pa.string()),
        },
        schema=TOKEN_SCHEMA,
    )
    os.makedirs(os.path.dirname(out_path), exist_ok=True)
    pq.write_table(table, out_path)
    return out_path


class Truth:
    """Driver-side copy of the input token table: the brute-force side of
    every correctness check. Built once during set-up, never timed."""

    def __init__(self, table: pa.Table):
        table = table.sort_by([("source", "ascending"), ("doc_id", "ascending")])
        self.doc_ids = table.column("doc_id").to_pylist()
        self.sources = table.column("source").to_pylist()
        toks = table.column("tokens").combine_chunks()
        self.offsets = toks.offsets.to_numpy()
        self.values = toks.values.to_numpy(zero_copy_only=False).astype(np.int64)
        self.n_docs = len(self.doc_ids)
        self.n_tokens = int(len(self.values))
        self.row_of = {d: i for i, d in enumerate(self.doc_ids)}
        self.doc_of_value = np.repeat(
            np.arange(self.n_docs), np.diff(self.offsets)
        )

    def tokens(self, row: int) -> np.ndarray:
        return self.values[self.offsets[row] : self.offsets[row + 1]]

    def lookup_keys(self, rng: np.random.Generator, n: int) -> list[str]:
        return [self.doc_ids[int(i)] for i in rng.integers(0, self.n_docs, n)]

    def rare_needles(self, rng: np.random.Generator, n: int) -> list[int]:
        """Tokens present in the table that occur in at most 3 documents,
        so the token index has real pruning to do."""
        pairs = np.unique(self.values * self.n_docs + self.doc_of_value)
        toks, doc_freq = np.unique(pairs // self.n_docs, return_counts=True)
        rare = toks[doc_freq <= 3]
        if len(rare) == 0:
            rare = toks[doc_freq == doc_freq.min()]
        return [int(t) for t in rng.choice(rare, n)]

    def search_answer(self, token: int) -> set[tuple[str, str, int]]:
        """{(doc_id, source, n_hits)} by a full scan of the input."""
        hit_docs = self.doc_of_value[self.values == token]
        docs, counts = np.unique(hit_docs, return_counts=True)
        return {
            (self.doc_ids[d], self.sources[d], int(c)) for d, c in zip(docs, counts)
        }


def list_total_length(table: pa.Table, column: str) -> int:
    """Sum of list lengths of one list column (decoded/packed token counts)."""
    col = table.column(column)
    if col.num_chunks == 0:
        return 0
    return int(pc.sum(pc.list_value_length(col)).as_py() or 0)
