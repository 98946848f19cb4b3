"""Arrow-vectorized UDFs wrapping the numpy pooling kernels.

The Arrow batch boundary (JVM -> Python worker) is this engine's analog
of the reference's Python -> Cython boundary (downsample.py:53): data
crosses once per ~4096-row batch, then everything is vectorized numpy.
No per-row Python anywhere (BASELINE.json input_hint mandate).

Every pooling surface — the scalar ``arrow_udf``s and the mapInArrow
tier mappers — goes through one Arrow batch codec: ``_gather`` views a
``ListArray`` batch as one dense 2-D matrix per token-array length (the
batched analog of the reference's dense-plane kernels), and
``_assemble`` builds the output ``ListArray`` from the pooled matrices.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import functions as F
from pyspark.sql.types import DataType, StructType

from . import kernels as K

__all__ = [
    "pool_udf",
    "float_pool_udf",
    "pool_all_tiers_udf",
    "pool_tiers_map_in_arrow",
    "pool_tier_map_in_arrow",
    "avg_step_map_in_arrow",
]


def _uniform_matrix(col, dtype):
    """(n, L) dense view of a pyarrow ListArray when every row has the
    same length and no nulls; None otherwise (caller falls back)."""
    offs = col.offsets.to_numpy()
    lengths = np.diff(offs)
    if len(lengths) == 0 or col.null_count or not (lengths == lengths[0]).all():
        return None
    n = len(col)
    return (
        col.values.to_numpy()[offs[0]: offs[-1]]
        .reshape(n, int(lengths[0]))
        .astype(dtype, copy=False)
    )


def _ranges(starts, counts):
    """``arange(s, s + c)`` per (start, count), concatenated, loop-free."""
    ends = np.cumsum(counts)
    return np.repeat(starts - ends + counts, counts) + np.arange(ends[-1])


def _gather(col, name: str, dtype, groups=None):
    """Gather: ``(groups, mats)``, the ascending row indices and dense
    (k, L) matrix of each token-array length.  A uniform batch is one
    zero-copy group; a ragged one is gathered in stable length order
    with one fancy index, each group a view of its span.  Another
    column's ``groups`` gather this one row-aligned (the sparse denom).
    A null row raises rather than being read as an empty array."""
    if col.null_count:
        raise ValueError(f"null {name!r} row: every pooled row needs an array")
    if groups is None or len(groups) == 1:
        mat = _uniform_matrix(col, dtype)
        if mat is not None:
            return [np.arange(len(col))], [mat]
    offs = col.offsets.to_numpy()
    lengths = np.diff(offs)
    if groups is None:
        order = np.argsort(lengths, kind="stable")
        groups = np.split(order, np.flatnonzero(np.diff(lengths[order])) + 1)
    order = np.concatenate(groups)
    sizes = np.array([len(idx) for idx in groups])
    width = lengths[order]
    group_width = width[np.cumsum(sizes) - sizes]
    if (width != np.repeat(group_width, sizes)).any():
        raise ValueError(f"{name!r} rows misaligned with the pooled ones")
    flat = col.values.to_numpy()[_ranges(offs[order], width)]
    spans = np.split(flat.astype(dtype, copy=False),
                     np.cumsum(sizes * group_width)[:-1])
    mats = [m.reshape(k, w) for m, k, w in zip(spans, sizes, group_width)]
    return groups, mats


def _assemble(n: int, groups, mats, dtype):
    """Assemble: the ``n``-row ``ListArray`` whose rows ``groups[g]``
    are ``mats[g]`` — cumsum offsets, then one vectorized scatter.  A
    lone group spanning the batch (a uniform one) is in row order, so
    its matrix is the value buffer as is."""
    if len(mats) == 1 and len(mats[0]) == n:
        offsets = np.arange(n + 1, dtype=np.int32) * mats[0].shape[1]
        values = mats[0].ravel()
    else:
        rows = np.concatenate(groups)
        width = np.repeat([m.shape[1] for m in mats], [len(m) for m in mats])
        offsets = np.zeros(n + 1, dtype=np.int32)
        offsets[rows + 1] = width  # every row appears in exactly one group
        np.cumsum(offsets, out=offsets)
        values = np.empty(int(offsets[-1]), dtype=dtype)
        values[_ranges(offsets[rows], width)] = np.concatenate(
            [m.ravel() for m in mats]
        )
    return pa.ListArray.from_arrays(
        pa.array(offsets, type=pa.int32()),
        pa.array(values, type=pa.from_numpy_dtype(dtype)),
    )


def _pooler(kind, window, num_tiers, sparse, tier=None, dtype=np.int32,
            guard_tiers=None, all_tiers=False):
    """tokens ``ListArray`` -> pooled ``ListArray`` at ``tier`` (default:
    the deepest), or with ``all_tiers`` a ``list<list<int>>`` of every
    tier (tier t of row r is inner row ``r * num_tiers + t``).

    ``guard_tiers``: enforce the pyramid-depth minimum-size guard
    (accelerated.pyx:89-90, n >= window**guard_tiers) per batch, so the
    engine needs no driver-side pre-scan to validate a deep pyramid."""
    pick = (num_tiers if tier is None else tier) - 1

    def pool(tokens: pa.Array) -> pa.Array:
        n = len(tokens)
        groups, mats = _gather(tokens, "tokens", dtype)
        if guard_tiers is not None:  # mats[0] holds the shortest rows
            K.validate_pool_args(mats[0].shape[1], window, guard_tiers,
                                 pot_only=False)
        pooled = [K.pool(kind, mat, window=window, num_tiers=num_tiers,
                         sparse=sparse, dtype=dtype) for mat in mats]
        if not all_tiers:
            return _assemble(n, groups, [p[pick] for p in pooled], dtype)
        inner = _assemble(
            n * num_tiers,
            [idx * num_tiers + t for idx in groups for t in range(num_tiers)],
            [mat for tiers in pooled for mat in tiers],
            dtype,
        )
        outer = np.arange(0, n * num_tiers + 1, num_tiers, dtype=np.int32)
        return pa.ListArray.from_arrays(pa.array(outer), inner)

    return pool


def _mapper(in_cols, out_ddl: str, step, key_cols=()):
    """``f(df) -> df`` over mapInArrow: ``key_cols`` pass through, then
    the ``out_ddl`` columns ``step(batch)`` returns by name."""

    def run(batches):
        for batch in batches:
            if batch.num_rows:
                cols = step(batch)
                yield pa.RecordBatch.from_arrays(
                    [batch.column(k) for k in key_cols] + list(cols.values()),
                    names=[*key_cols, *cols],
                )

    def apply(df):
        keys = [df.schema[k] for k in key_cols]
        out = StructType(keys + DataType.fromDDL(out_ddl).fields)
        return df.select(*key_cols, *in_cols).mapInArrow(run, out)

    return apply


_TIER_DDL = "tokens array<int>, n_tok int"  # rollup's tier schema


def _tier_columns(tok, **extra) -> dict:
    """``tok`` as the ``_TIER_DDL`` columns, then ``extra``."""
    n_tok = pa.array(np.diff(tok.offsets.to_numpy()).astype(np.int32))
    return {"tokens": tok, "n_tok": n_tok, **extra}


def pool_udf(
    kind: str,
    window: int = 4,
    num_tiers: int = 1,
    sparse: bool = False,
    tier: int | None = None,
    guard_tiers: int | None = None,
):
    """Scalar Arrow UDF: tokens array -> pooled array at `tier`
    (default: the deepest tier). Stays fully inside one projection —
    no shuffle is ever required for pooling itself.  ``guard_tiers`` as
    in ``_pooler``."""
    return F.arrow_udf(
        _pooler(kind, window, num_tiers, sparse, tier,
                guard_tiers=guard_tiers),
        "array<int>",
    )


def float_pool_udf(
    kind: str = "avg",
    window: int = 4,
    num_tiers: int = 1,
    sparse: bool = False,
    tier: int | None = None,
):
    """Scalar Arrow UDF over float32 token arrays: the reference's
    float tier semantics — divide the running accumulator by
    ``w^(m+1)`` with NO cycle renormalization (accelerated.pyx:469-599,
    divisor at :497).  Input may be int or float; pooled in float32."""
    return F.arrow_udf(
        _pooler(kind, window, num_tiers, sparse, tier, dtype=np.float32),
        "array<float>",
    )


def pool_all_tiers_udf(
    kind: str,
    window: int = 4,
    num_tiers: int = 1,
    sparse: bool = False,
):
    """Scalar Arrow UDF: tokens -> array of per-tier arrays (the
    reference's '[mip0, mip1, ...]' return shape, downsample.py:45)."""
    return F.arrow_udf(
        _pooler(kind, window, num_tiers, sparse, all_tiers=True),
        "array<array<int>>",
    )


def pool_tiers_map_in_arrow(
    kind: str,
    window: int = 4,
    num_tiers: int = 1,
    sparse: bool = False,
):
    """``pool_all_tiers_udf`` as ``f(df) -> df`` over ``mapInArrow``:
    ``tokens array<int>`` -> ``(tiers array<array<int>>)``, for
    pre-tokenized sequences padded to a fixed n_tok (the 100TB ingest
    shape, pooled from a zero-copy view of each batch)."""
    pool = _pooler(kind, window, num_tiers, sparse, all_tiers=True)
    return _mapper(
        ("tokens",),
        "tiers array<array<int>>",
        lambda b: {"tiers": pool(b.column("tokens"))},
    )


def pool_tier_map_in_arrow(
    kind: str,
    window: int = 4,
    sparse: bool = False,
    guard_tiers: int | None = None,
    key_cols: tuple[str, ...] = ("doc_id", "source", "time_bucket"),
):
    """One rollup tier (mode/max/min/stride or single-tier avg) as a
    mapInArrow projection with key-column passthrough: the production
    tier path.  Returns ``f(df) -> df`` with columns ``key_cols +
    (tokens, n_tok)`` — the exact schema rollup's ``_pool_tier``
    emits."""
    pool = _pooler(kind, window, 1, sparse, guard_tiers=guard_tiers)
    return _mapper(
        ("tokens",),
        _TIER_DDL,
        lambda b: _tier_columns(pool(b.column("tokens"))),
        key_cols,
    )


def avg_step_map_in_arrow(
    window: int = 4,
    sparse: bool = False,
    tier: int = 1,
    guard_tiers: int | None = None,
    key_cols: tuple[str, ...] = ("doc_id", "source", "time_bucket"),
):
    """One retention-tier step for AVG from persisted accumulators, as a
    mapInArrow projection (key passthrough + tokens/n_tok/accum/denom).

    Tier k+1 extends the int64 block-sum accumulator persisted with
    tier k instead of re-pooling rendered values — the engine analog of
    the reference's multi-mip shared accumulator (accelerated.pyx:
    223-259, SURVEY.md O2).  ``tier`` is 1-based; tier 1 initializes the
    accumulator from raw tokens."""
    if tier == 1:
        in_cols = ("tokens",)
    else:
        in_cols = ("accum", "denom") if sparse else ("accum",)

    def step(batch):
        n = batch.num_rows
        groups, mats = _gather(batch.column(in_cols[0]), in_cols[0],
                               np.int64)
        dmats = [None] * len(mats)
        if len(in_cols) == 2:
            dmats = _gather(batch.column("denom"), "denom", np.int64,
                            groups)[1]
        acc, den, rendered = zip(*(
            _avg_step_matrices(mat, dmat, window, sparse, tier, guard_tiers)
            for mat, dmat in zip(mats, dmats)
        ))
        if sparse:
            denom = _assemble(n, groups, den, np.int64)
        else:
            denom = pa.nulls(n, type=pa.list_(pa.int64()))
        return _tier_columns(
            _assemble(n, groups, rendered, np.int32),
            accum=_assemble(n, groups, acc, np.int64),
            denom=denom,
        )

    out_ddl = f"{_TIER_DDL}, accum array<bigint>, denom array<bigint>"
    return _mapper(in_cols, out_ddl, step, key_cols)


# -- incremental tier stepping (the persisted-accumulator fast path) ----


def _avg_step_params(window: int, tier: int) -> tuple[int, int, bool]:
    """(shift, prev_shift, renorm) for one tier step (pyx:224,240-241)."""
    log2w = K._LOG2[window]
    cycle = K._cycle(window, np.dtype(np.int32))
    m = tier - 1
    shift = log2w * ((m % cycle) + 1)
    prev_shift = log2w * (((m - 1) % cycle) + 1) if m > 0 else 0
    renorm = m > 0 and prev_shift == log2w * cycle
    return shift, prev_shift, renorm


def _avg_step_matrices(
    stacked: np.ndarray,
    dstack: "np.ndarray | None",
    window: int,
    sparse: bool,
    tier: int,
    guard_tiers: int | None,
):
    """One dense length-group of the AVG tier step: returns
    (acc int64 (n, L/w), den int64|None, rendered int32).  The single
    home of the cycle-renorm / sparse-denom semantics."""
    shift, prev_shift, renorm = _avg_step_params(window, tier)
    if tier == 1 and guard_tiers is not None:
        # pyramid-depth guard per batch (pyx:89-90), no driver pre-scan
        K.validate_pool_args(
            stacked.shape[1], window, guard_tiers, pot_only=False
        )
    prev = stacked >> prev_shift if renorm else stacked  # pyx:240-241
    acc = K._windows(prev, window).sum(axis=2, dtype=np.int64)
    if not sparse:
        r = K._render_int(acc, shift, np.dtype(np.int64))
        return acc, None, r.astype(np.int32)
    if tier == 1:
        dstack = (stacked != 0).astype(np.int64)
    elif renorm and window == 8:
        dstack = dstack >> prev_shift  # pyx:758-761 quirk
    den = K._windows(dstack, window).sum(axis=2, dtype=np.int64)
    r = np.where(den == 0, 0, K._trunc_div(acc, np.maximum(den, 1)))
    return acc, den, r.astype(np.int32)
