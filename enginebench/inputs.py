"""Seeded input tables for the engine benchmark.

Every table is generated in this process from ``--seed`` with numpy and
written to parquet under the run's work directory; the engine only ever
receives those paths.  The in-memory copy (``Docs``) is what the output
checks compare the engine's results against.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_SOURCES = 16
ZIPF_S = 1.2
N_TOK = 1024
BUCKETS = 64
RAGGED_MIN, RAGGED_MAX = 64, 4096


@dataclass
class Docs:
    """A generated sequence table: one entry per row."""

    doc_id: list[str]
    source: np.ndarray  # str
    time_bucket: np.ndarray  # int64
    tokens: list[np.ndarray]  # int32, one array per row

    @property
    def rows(self) -> int:
        return len(self.doc_id)

    @property
    def lengths(self) -> np.ndarray:
        return np.fromiter((len(t) for t in self.tokens), np.int64, self.rows)

    def table(self) -> pa.Table:
        lengths = self.lengths
        offsets = np.zeros(self.rows + 1, dtype=np.int32)
        np.cumsum(lengths, out=offsets[1:])
        flat = np.concatenate(self.tokens).astype(np.int32, copy=False)
        return pa.table(
            {
                "doc_id": pa.array(self.doc_id, pa.string()),
                "tokens": pa.ListArray.from_arrays(
                    pa.array(offsets), pa.array(flat, pa.int32())
                ),
                "n_tok": pa.array(lengths.astype(np.int32)),
                "source": pa.array(self.source.tolist(), pa.string()),
                "time_bucket": pa.array(self.time_bucket, pa.int64()),
            }
        )

    def write(self, path: str, files: int) -> str:
        """Write as ``files`` parquet files of one row group each, so the
        scan fans out over that many tasks."""
        os.makedirs(path, exist_ok=True)
        tab = self.table()
        step = -(-self.rows // files)
        for i, lo in enumerate(range(0, self.rows, step)):
            part = tab.slice(lo, step)
            pq.write_table(
                part, os.path.join(path, f"part-{i:05d}.parquet"),
                row_group_size=part.num_rows,
            )
        return path

    def summary(self) -> dict:
        lengths = self.lengths
        return {
            "rows": self.rows,
            "tokens": int(lengths.sum()),
            "sources": int(len(np.unique(self.source))),
            "buckets": [int(self.time_bucket.min()), int(self.time_bucket.max())],
        }


def _zipf_sources(rng: np.random.Generator, n: int) -> np.ndarray:
    w = 1.0 / np.arange(1, N_SOURCES + 1) ** ZIPF_S
    idx = rng.choice(N_SOURCES, size=n, p=w / w.sum())
    return np.array([f"src_{i:02d}" for i in range(N_SOURCES)])[idx]


def uniform_docs(
    seed: int, stream: int, rows: int, prefix: str, buckets=None
) -> Docs:
    """Fixed-length rows (n_tok = 1024), values uniform in [0, 256),
    Zipf sources over 16.  ``buckets``: None draws uniformly over the 64
    time buckets; an int pins every row to that bucket."""
    rng = np.random.default_rng([seed, stream])
    mat = rng.integers(0, 256, size=(rows, N_TOK), dtype=np.int32)
    tb = (
        rng.integers(0, BUCKETS, size=rows).astype(np.int64)
        if buckets is None
        else np.full(rows, buckets, dtype=np.int64)
    )
    return Docs(
        doc_id=[f"{prefix}{i:07d}" for i in range(rows)],
        source=_zipf_sources(rng, rows),
        time_bucket=tb,
        tokens=list(mat),
    )


def ragged_docs(seed: int, stream: int, total_tokens: int, prefix: str) -> Docs:
    """Categorical run-length labels (values in [1000, 1256), mean run
    8) in rows whose lengths follow a Pareto(1) tail over [64, 4096] —
    P(len > x) = 64 / x — so almost every Arrow batch mixes lengths."""
    rng = np.random.default_rng([seed, stream])
    lengths: list[int] = []
    total = 0
    while total < total_tokens:
        n = int(min(RAGGED_MAX, RAGGED_MIN / (1.0 - rng.random())))
        lengths.append(n)
        total += n
    # `total` runs of length >= 1 always cover `total` tokens
    vals = rng.integers(1000, 1256, size=total, dtype=np.int32)
    stream_ = np.repeat(vals, rng.geometric(1 / 8, size=total))
    cuts = np.cumsum(lengths)[:-1]
    rows = len(lengths)
    return Docs(
        doc_id=[f"{prefix}{i:07d}" for i in range(rows)],
        source=_zipf_sources(rng, rows),
        time_bucket=rng.integers(0, BUCKETS, size=rows).astype(np.int64),
        tokens=np.split(stream_[:total], cuts),
    )


def length_histogram(docs: Docs) -> dict[str, int]:
    """Row counts per power-of-two length band, e.g. '64-127'."""
    out: dict[str, int] = {}
    for n in docs.lengths:
        lo = 1 << (int(n).bit_length() - 1)
        key = f"{lo}-{2 * lo - 1}"
        out[key] = out.get(key, 0) + 1
    return dict(sorted(out.items(), key=lambda kv: int(kv[0].split("-")[0])))
