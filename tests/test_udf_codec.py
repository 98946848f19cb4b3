"""The Arrow batch codec behind every pooling UDF (udfs._gather /
udfs._assemble), checked without Spark: pooling a whole ListArray batch
through gather -> kernel -> assemble must equal pooling each row on its
own, for uniform, ragged, single-row and sliced batches."""

import numpy as np
import pyarrow as pa
import pytest

from tinybrain_spark import kernels as K
from tinybrain_spark import udfs

TIERS = 2


def _ragged(rng, n, window, spread=40):
    lo = window**TIERS
    lengths = rng.integers(lo, lo + spread, size=n)
    # small values: zeros exercise the sparse denominators, ties the mode
    return pa.array([rng.integers(0, 6, size=m).tolist() for m in lengths],
                    type=pa.list_(pa.int32()))


def _batches(window):
    rng = np.random.default_rng(window)
    ragged = _ragged(rng, 300, window)
    uniform = pa.array(rng.integers(-50, 50, size=(64, 4 * window**TIERS))
                       .tolist(), type=pa.list_(pa.int32()))
    return {
        "ragged": ragged,
        "uniform": uniform,
        "single_row": _ragged(rng, 1, window),
        # sliced: offsets[0] != 0 and values beyond the slice's end
        "sliced_ragged": ragged.slice(7, 200),
        "sliced_uniform": uniform.slice(5),
    }


def _row_pool(row, kind, window, sparse):
    mat = np.asarray(row, dtype=np.int32)[None, :]
    return [t[0].tolist() for t in K.pool(kind, mat, window=window,
                                         num_tiers=TIERS, sparse=sparse,
                                         dtype=np.int32)]


CASES = [
    (kind, window, sparse)
    for window in (2, 3, 4)
    for kind, sparse in (("avg", False), ("avg", True), ("mode", False),
                         ("max", False), ("min", False), ("stride", False))
    if not (kind == "mode" and window == 3)  # mode is power-of-two only
]


@pytest.mark.parametrize("kind,window,sparse", CASES)
def test_codec_pool_equals_per_row_kernel(kind, window, sparse):
    for name, col in _batches(window).items():
        want = [_row_pool(r, kind, window, sparse) for r in col.to_pylist()]
        for tier in range(1, TIERS + 1):
            pool = udfs._pooler(kind, window, TIERS, sparse, tier)
            got = pool(col)
            assert got.type == pa.list_(pa.int32())
            assert got.to_pylist() == [w[tier - 1] for w in want], (name, tier)
        nested = udfs._pooler(kind, window, TIERS, sparse, all_tiers=True)
        assert nested(col).to_pylist() == want, name


def test_gather_groups_by_length_and_views_uniform_zero_copy():
    col = pa.array([[1, 2], [3], [4, 5], [6], [7, 8, 9]],
                   type=pa.list_(pa.int32()))
    groups, mats = udfs._gather(col, "tokens", np.int32)
    assert [g.tolist() for g in groups] == [[1, 3], [0, 2], [4]]
    assert [m.tolist() for m in mats] == [[[3], [6]], [[1, 2], [4, 5]],
                                          [[7, 8, 9]]]
    out = udfs._assemble(len(col), groups, mats, np.int32)
    assert out.to_pylist() == col.to_pylist()

    uniform = pa.array([[1, 2], [3, 4], [5, 6]], type=pa.list_(pa.int32()))
    (idx,), (mat,) = udfs._gather(uniform.slice(1), "tokens", np.int32)
    assert idx.tolist() == [0, 1] and mat.tolist() == [[3, 4], [5, 6]]
    assert np.shares_memory(mat, uniform.values.to_numpy())


def test_gather_second_column_row_aligned():
    """The sparse denom is gathered with its accum's groups."""
    acc = pa.array([[1, 2], [3], [4, 5]], type=pa.list_(pa.int64()))
    den = pa.array([[7, 8], [9], [10, 11]], type=pa.list_(pa.int64()))
    groups, _ = udfs._gather(acc, "accum", np.int64)
    _, dmats = udfs._gather(den, "denom", np.int64, groups)
    assert [m.tolist() for m in dmats] == [[[9]], [[7, 8], [10, 11]]]
    bad = pa.array([[7], [9, 9], [10, 11]], type=pa.list_(pa.int64()))
    with pytest.raises(ValueError, match="misaligned"):
        udfs._gather(bad, "denom", np.int64, groups)
    # a uniform pair stays zero-copy on both columns
    acc, den = acc.slice(2), den.slice(2)
    groups, _ = udfs._gather(acc, "accum", np.int64)
    _, (dmat,) = udfs._gather(den, "denom", np.int64, groups)
    assert np.shares_memory(dmat, den.values.to_numpy())


@pytest.mark.parametrize("window,tiers", [(2, 9), (4, 5)])
@pytest.mark.parametrize("sparse", [False, True])
def test_codec_avg_step_equals_per_row(window, tiers, sparse):
    """gather(accum, denom) -> _avg_step_matrices -> assemble equals the
    step applied row by row, tier after tier up to the first cycle
    renorm (the last tier of each case)."""
    assert udfs._avg_step_params(window, tiers)[2]
    rng = np.random.default_rng(5)
    lengths = rng.integers(window**tiers, window**tiers + 30, size=60)
    rows = [(rng.integers(0, 6, size=(1, m)), None, None) for m in lengths]
    acc = pa.array([r[0][0].tolist() for r in rows],
                   type=pa.list_(pa.int64()))
    den = None
    for tier in range(1, tiers + 1):
        n = len(acc)
        groups, mats = udfs._gather(acc, "accum", np.int64)
        dmats = [None] * len(mats)
        if den is not None:
            _, dmats = udfs._gather(den, "denom", np.int64, groups)
        steps = [udfs._avg_step_matrices(m, d, window, sparse, tier, None)
                 for m, d in zip(mats, dmats)]
        rows = [udfs._avg_step_matrices(a, d, window, sparse, tier, None)
                for a, d, _ in rows]
        out = {k: udfs._assemble(n, groups, [s[k] for s in steps], np.int64)
               for k in ((0, 1, 2) if sparse else (0, 2))}
        for k, got in out.items():
            assert got.to_pylist() == [r[k][0].tolist() for r in rows], k
        acc, den = out[0], out.get(1)


def test_null_row_raises_naming_the_column():
    col = pa.array([[1, 2, 3, 4], None, [5, 6, 7, 8]],
                   type=pa.list_(pa.int32()))
    with pytest.raises(ValueError, match="null 'tokens' row"):
        udfs._pooler("avg", 4, 1, False)(col)

