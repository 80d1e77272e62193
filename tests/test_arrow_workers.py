"""Edge cases of the Arrow worker payloads, called directly on pyarrow
data (no Spark): the kNN-graph bucket scorer against the pair-dot scorer
it replaced, the SimHash worker on a sliced batch, and an empty / one-row
/ sliced / null-vector harness shared by the LSH-signature, centroid-assign
and pair-dot workers."""

import math
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pyarrow as pa
import pytest

from postpy_spark.operators.dedup import _make_simhash_worker
from postpy_spark.operators.similarity import (
    _make_assign_worker,
    _make_bucket_topk_worker,
    _make_pair_dot_worker,
    _make_signature_worker,
)

LIST_F64 = pa.list_(pa.float64())


def _bucket(ids, vecs):
    return pa.table(
        [pa.array(ids, type=pa.int64()), pa.array(vecs, type=LIST_F64)],
        names=["id", "v"],
    )


def _round6(x):
    """Spark's ``round(double, 6)``: HALF_UP on the decimal form; NaN
    passes through."""
    if math.isnan(x):
        return x
    return float(Decimal(repr(x)).quantize(Decimal("1e-6"), ROUND_HALF_UP))


def _topk(edges, k):
    """(src, dst, dot) → per-src top-k under the window knn_graph runs:
    rounded cosine DESC (NaN above every number, as Spark orders it),
    then dst ascending.  Returns {src: [(dst, cosine-repr), ...]}."""
    by_src = {}
    for s, d, dot in edges:
        by_src.setdefault(s, {})[d] = _round6(dot)
    out = {}
    for s, cands in by_src.items():
        order = sorted(
            cands.items(),
            key=lambda e: ((0, 0.0) if math.isnan(e[1]) else (1, -e[1]), e[0]),
        )
        out[s] = [(d, repr(c)) for d, c in order[:k]]
    return out


def _rows(table):
    return list(
        zip(
            table.column("src").to_pylist(),
            table.column("dst").to_pylist(),
            table.column("dot").to_pylist(),
        )
    )


def _pair_path(ids, vecs):
    """Every ordered pair of the bucket scored by the pair-dot worker —
    the old knn_graph's candidate scoring."""
    pairs = [(i, j) for i in range(len(ids)) for j in range(len(ids)) if i != j]
    if not pairs:
        return []
    batch = pa.RecordBatch.from_arrays(
        [
            pa.array([ids[i] for i, _ in pairs], type=pa.int64()),
            pa.array([ids[j] for _, j in pairs], type=pa.int64()),
            pa.array([vecs[i] for i, _ in pairs], type=LIST_F64),
            pa.array([vecs[j] for _, j in pairs], type=LIST_F64),
        ],
        ["src", "dst", "sv", "dv"],
    )
    (out,) = list(_make_pair_dot_worker()(iter([batch])))
    return _rows(out)


def _same_bits(a, b):
    return (math.isnan(a) and math.isnan(b)) or (
        np.float64(a).view(np.int64) == np.float64(b).view(np.int64)
    )


def _check_against_pair_path(ids, vecs, k):
    got = _rows(_make_bucket_topk_worker(k)(_bucket(ids, vecs)))
    want = _pair_path(ids, vecs)
    assert all(s != d for s, d, _ in got)
    assert len({(s, d) for s, d, _ in got}) == len(got)
    # every emitted dot is bit-identical to the pair worker's
    ref = {(s, d): dot for s, d, dot in want}
    assert all(_same_bits(dot, ref[(s, d)]) for s, d, dot in got)
    assert _topk(got, k) == _topk(want, k)
    return got


def test_bucket_worker_single_member_emits_nothing():
    out = _make_bucket_topk_worker(5)(_bucket([7], [[1.0, 0.0]]))
    assert out.num_rows == 0
    assert out.column_names == ["src", "dst", "dot"]
    assert out.schema.field("src").type == pa.int64()


def test_bucket_worker_empty_bucket():
    out = _make_bucket_topk_worker(5)(_bucket([], []))
    assert out.num_rows == 0


def test_bucket_worker_at_most_k_members_keeps_every_pair():
    rng = np.random.default_rng(3)
    for s in (2, 4, 6):  # s - 1 < k, s - 1 == k - 1, s - 1 == k
        vecs = rng.standard_normal((s, 8)).tolist()
        got = _check_against_pair_path(list(range(s)), vecs, k=5)
        assert len(got) == s * (s - 1)


def test_bucket_worker_near_tie_straddling_kth_place():
    """Two candidates within 1e-6 of each other around src's k-th place
    must both survive (their ROUNDED order decides), and one 3e-6 below
    is pruned — it is strictly beaten after rounding."""
    eps = 4e-7
    vecs = [
        [1.0, 0.0],  # src
        [0.9, 0.0],
        [0.5, 0.0],  # k-th (k=2) best
        [0.5 - eps, 0.0],  # straddles the k-th place
        [0.5 - 3e-6, 0.0],  # below the margin
        [0.1, 0.0],
    ]
    ids = [10, 11, 12, 13, 14, 15]
    got = _check_against_pair_path(ids, vecs, k=2)
    from_src = {d for s, d, _ in got if s == 10}
    assert from_src == {11, 12, 13}
    # ties under rounding break on dst, whichever raw dot is larger
    vecs[2], vecs[3] = vecs[3], vecs[2]
    _check_against_pair_path(ids, vecs, k=2)


def test_bucket_worker_zero_vector_scores_positive_zero():
    vecs = [[0.0, 0.0, 0.0], [0.6, -0.8, 0.0], [-1.0, 0.0, 0.0], [0.0, 0.0, -1.0]]
    got = _check_against_pair_path([1, 2, 3, 4], vecs, k=1)
    zero_dots = [dot for s, d, dot in got if 1 in (s, d)]
    assert zero_dots and all(d == 0.0 and math.copysign(1.0, d) == 1.0 for d in zero_dots)


def test_bucket_worker_null_vector_raises():
    table = pa.table(
        [
            pa.array([1, 2, 3], type=pa.int64()),
            pa.array([[1.0, 0.0], None, [0.0, 1.0]], type=LIST_F64),
        ],
        names=["id", "v"],
    )
    with pytest.raises(ValueError, match="null vector"):
        _make_bucket_topk_worker(1)(table)


def test_bucket_worker_keeps_nan_candidates():
    """A NaN dot sorts above every number under Spark's DESC, so a NaN
    candidate must survive the prune even when k finite candidates beat
    everything else — and a NaN src keeps all its (NaN) candidates."""
    nan = float("nan")
    vecs = [
        [1.0, 0.0],
        [0.9, 0.1],
        [0.8, 0.2],
        [nan, 0.0],
        [0.1, 0.9],
        [0.0, 1.0],
    ]
    ids = [1, 2, 3, 4, 5, 6]
    for k in (1, 2, 3):
        got = _check_against_pair_path(ids, vecs, k=k)
        assert (1, 4) in {(s, d) for s, d, _ in got}
        assert {d for s, d, _ in got if s == 4} == {1, 2, 3, 5, 6}


def test_bucket_worker_sliced_and_chunked_input():
    rng = np.random.default_rng(11)
    ids = list(range(40))
    vecs = rng.standard_normal((40, 16)).tolist()
    whole = _bucket(ids, vecs)
    part = pa.concat_tables([whole.slice(5, 10), whole.slice(15, 12)])
    assert part.column("v").num_chunks == 2
    got = _make_bucket_topk_worker(3)(part)
    want = _make_bucket_topk_worker(3)(_bucket(ids[5:27], vecs[5:27]))
    assert got.equals(want)
    _check_against_pair_path(ids[5:27], vecs[5:27], k=3)


def test_simhash_worker_sliced_batch_matches_unsliced():
    """A sliced batch's list ``.values`` is the parent's whole buffer; the
    worker must stop its last reduceat segment at the slice's end."""
    hashes = [[1, 1, 2], [-1], [5, 6, 7, 8], [3], [-1, -1, -1, 0], [9, 9]]
    batch = pa.RecordBatch.from_arrays(
        [
            pa.array(range(len(hashes)), type=pa.int64()),
            pa.array(hashes, type=pa.list_(pa.int64())),
        ],
        ["doc_id", "_hs"],
    )
    run = _make_simhash_worker()
    for offset, length in [(0, 3), (1, 2), (2, 3), (5, 1)]:
        (got,) = list(run(iter([batch.slice(offset, length)])))
        fresh = pa.RecordBatch.from_arrays(
            [
                pa.array(range(offset, offset + length), type=pa.int64()),
                pa.array(hashes[offset : offset + length], type=pa.list_(pa.int64())),
            ],
            ["doc_id", "_hs"],
        )
        (want,) = list(run(iter([fresh])))
        assert got.column("simhash").to_pylist() == want.column("simhash").to_pylist()


# ---------------------------------------------------------------------------
# Shared harness: mapInArrow workers fed one RecordBatch at a time
# ---------------------------------------------------------------------------

DIM = 6
_PLANES = np.random.default_rng(5).standard_normal((8, DIM)).tolist()
_CELLS = [
    (cid, (v / np.linalg.norm(v)).tolist())
    for cid, v in zip(
        (2, 5, 9), np.random.default_rng(6).standard_normal((3, DIM))
    )
]


def _vec_batch(vecs):
    return pa.RecordBatch.from_arrays(
        [
            pa.array(range(100, 100 + len(vecs)), type=pa.int64()),
            pa.array(vecs, type=LIST_F64),
        ],
        ["vec_id", "v"],
    )


def _pair_batch(vecs):
    n = len(vecs)
    return pa.RecordBatch.from_arrays(
        [
            pa.array(range(n), type=pa.int64()),
            pa.array(range(n, 2 * n), type=pa.int64()),
            pa.array(vecs, type=LIST_F64),
            pa.array(vecs[::-1], type=LIST_F64),
        ],
        ["src", "dst", "sv", "dv"],
    )


#: name → (worker factory, batch builder, output rows per input row)
WORKERS = {
    "signature": (lambda: _make_signature_worker(_PLANES, 2), _vec_batch, 2),
    "assign": (lambda: _make_assign_worker(_CELLS), _vec_batch, 1),
    "pair_dot": (_make_pair_dot_worker, _pair_batch, 1),
}


def _run(name, batch):
    make, _, _ = WORKERS[name]
    (out,) = list(make()(iter([batch])))
    return out


def _vecs(n, seed=0):
    return np.random.default_rng(seed).standard_normal((n, DIM)).tolist()


@pytest.mark.parametrize("name", sorted(WORKERS))
def test_worker_empty_batch(name):
    _, build, _ = WORKERS[name]
    full = _run(name, build(_vecs(3)))
    out = _run(name, build(_vecs(3)).slice(0, 0))
    assert out.num_rows == 0
    assert out.schema.names == full.schema.names
    assert [f.type for f in out.schema] == [f.type for f in full.schema]


@pytest.mark.parametrize("name", sorted(WORKERS))
def test_worker_one_row_batch(name):
    """A one-row batch scores that row exactly as it is scored inside a
    larger batch (rows are independent)."""
    _, build, per_row = WORKERS[name]
    vecs = _vecs(5, seed=1)
    full = _run(name, build(vecs))
    for i in (0, 4):
        got = _run(name, build(vecs).take(pa.array([i])))
        assert got.num_rows == per_row
        want = full.slice(i * per_row, per_row).to_pydict()
        assert got.to_pydict() == want


@pytest.mark.parametrize("name", sorted(WORKERS))
@pytest.mark.parametrize("offset,length", [(1, 3), (4, 2), (6, 1)])
def test_worker_sliced_batch_matches_unsliced(name, offset, length):
    """A batch sliced at a nonzero offset (its list offsets point into the
    parent's value buffer) must equal the unsliced result for those rows."""
    _, build, per_row = WORKERS[name]
    vecs = _vecs(7, seed=2)
    batch = build(vecs)
    got = _run(name, batch.slice(offset, length)).to_pydict()
    full = _run(name, batch)
    assert got == full.slice(offset * per_row, length * per_row).to_pydict()
    fresh = _run(name, build(vecs).take(pa.array(range(offset, offset + length))))
    assert got == fresh.to_pydict()


@pytest.mark.parametrize("name", sorted(WORKERS))
def test_worker_null_vector_raises(name):
    _, build, _ = WORKERS[name]
    vecs = _vecs(3, seed=3)
    vecs[1] = None
    with pytest.raises(ValueError, match="null vector"):
        _run(name, build(vecs))
