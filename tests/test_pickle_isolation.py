"""Worker-payload self-containment: every function/class shipped to Python
workers must cloudpickle BY VALUE, because the external driver may run with
any cwd/PYTHONPATH — ``import postpy_spark`` is not guaranteed to work in
the worker process.  (Round 6 found three by-reference payloads this way:
the session summarizer, the fake-pixel decoder, and the Python data source
classes.)

Each payload is pickled here, then unpickled AND CALLED in a subprocess
whose sys.path cannot resolve postpy_spark — exactly the worker's view."""

import base64
import os
import subprocess
import sys
import textwrap

from pyspark import cloudpickle

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_DRIVER = textwrap.dedent(
    """
    import base64, sys
    # simulate a worker that cannot import the repo: drop repo/cwd entries
    sys.path = [p for p in sys.path if not p.rstrip('/').endswith('repo')
                and p not in ('', '.')]
    sys.modules.pop('postpy_spark', None)
    from pyspark import cloudpickle
    payload = base64.b64decode(sys.stdin.buffer.read())
    obj, probe = cloudpickle.loads(payload)
    probe(obj)
    print('PAYLOAD_OK')
    """
)


def _roundtrip_in_clean_subprocess(obj, probe):
    """cloudpickle (obj, probe) and execute probe(obj) where postpy_spark is
    unimportable; probe must exercise the payload, not just unpickle it."""
    blob = base64.b64encode(cloudpickle.dumps((obj, probe)))
    res = subprocess.run(
        [sys.executable, "-c", _DRIVER],
        input=blob,
        capture_output=True,
        cwd="/",
        timeout=120,
    )
    assert res.returncode == 0 and b"PAYLOAD_OK" in res.stdout, (
        res.stdout.decode()[-2000:] + res.stderr.decode()[-2000:]
    )


def test_session_summarizer_pickles_by_value():
    from postpy_spark.streaming import _make_session_summarizer

    def probe(fn):
        import pandas as pd

        pdf = pd.DataFrame(
            {
                "user_id": [1, 1, 1],
                "ts": pd.to_datetime(
                    ["2024-01-01 00:00", "2024-01-01 00:10", "2024-01-01 02:00"]
                ),
                "event_id": [1, 2, 3],
            }
        )
        out = fn(pdf)
        assert out["n_sessions"].iloc[0] == 2, out

    _roundtrip_in_clean_subprocess(_make_session_summarizer(30), probe)


def test_fake_pixels_decoder_pickles_by_value():
    from postpy_spark.operators.multimodal import _make_fake_pixels

    def probe(fn):
        assert fn(b"ab") == [97, 98]

    _roundtrip_in_clean_subprocess(_make_fake_pixels(), probe)


def test_python_datasource_classes_pickle_by_value():
    from postpy_spark.sources import SyntheticSource

    def probe(cls):
        src = cls(options={"n": 8})
        reader = src.reader(None)
        parts = reader.partitions()
        rows = [r for p in parts for r in reader.read(p)]
        assert sorted(r[0] for r in rows) == list(range(8)), rows
        sr = src.simpleStreamReader(None)
        it, off = sr.read(sr.initialOffset())
        assert off == {"pos": 8} and len(list(it)) == 8
        # writer half: stage -> commit protocol against a temp dir
        import os
        import tempfile
        from collections import namedtuple

        with tempfile.TemporaryDirectory() as td:
            w = cls(options={"path": td}).writer(None, False)
            Row = namedtuple("Row", ["id", "tag"])

            class _R(Row):
                def asDict(self):
                    return self._asdict()

            msg = w.write(iter([_R(1, "a"), _R(2, "b")]))
            assert msg.n_rows == 2 and os.path.exists(msg.tmp_path)
            w.commit([msg])
            finals = [f for f in os.listdir(td) if f.startswith("part-")]
            assert finals == ["part-00000.jsonl"], finals
            assert not [f for f in os.listdir(td) if f.startswith("_staged_")]
            # abort must remove staged files, not committed ones
            m2 = w.write(iter([_R(3, "c")]))
            w.abort([m2])
            assert not os.path.exists(m2.tmp_path)

    _roundtrip_in_clean_subprocess(SyntheticSource, probe)


def test_pq_encode_mapper_pickles_by_value():
    """The PQ encoder ships as a mapInPandas payload (operators/pq.py::
    _make_encode_mapper) — an OPERATOR rather than a scalar pandas UDF,
    after a Spark 4.1 planner edge let the UDF-in-projection form escape
    ArrowEvalPython extraction over cached InMemoryRelation fragments."""
    import numpy as np

    from postpy_spark.operators.pq import _make_encode_mapper

    cb = np.zeros((2, 2, 2))
    cb[0, 1] = [5.0, 5.0]
    cb[1, 1] = [5.0, 5.0]

    mapper = _make_encode_mapper(cb, "v")

    def probe(fn):
        import pandas as pd

        out = list(fn(iter([pd.DataFrame({"v": [[0.1, 0.1, 4.9, 4.9]]})])))
        assert len(out) == 1 and out[0]["codes"].iloc[0] == [0, 1], out

    _roundtrip_in_clean_subprocess(mapper, probe)


def test_pq_lut_mapper_pickles_by_value():
    """The query-side ADC LUT ships as a mapInPandas payload too
    (operators/pq.py::_make_lut_mapper) — same by-value contract."""
    import numpy as np

    from postpy_spark.operators.pq import _make_lut_mapper

    cb = np.zeros((2, 2, 2))
    cb[0, 1] = [1.0, 1.0]
    cb[1, 1] = [1.0, 1.0]

    mapper = _make_lut_mapper(cb, "v")

    def probe(fn):
        import pandas as pd

        out = list(fn(iter([pd.DataFrame({"v": [[0.0, 0.0, 1.0, 1.0]]})])))
        assert len(out) == 1, out
        lut = out[0]["lut"].iloc[0]
        # subspace 0: q=(0,0) → d² to c0=(0,0) is 0, to c1=(1,1) is 2
        # subspace 1: q=(1,1) → d² to c0=(0,0) is 2, to c1=(1,1) is 0
        assert lut == [[0.0, 2.0], [2.0, 0.0]], lut

    _roundtrip_in_clean_subprocess(mapper, probe)


def test_mmr_greedy_pickles_by_value():
    from postpy_spark.operators.similarity import _make_mmr_greedy

    def probe(fn):
        import pandas as pd

        pdf = pd.DataFrame(
            {
                "query_id": [1, 1, 1],
                "cand_id": [10, 11, 12],
                "cosine": [0.9, 0.8, 0.7],
                "qv": [[1.0, 0.0]] * 3,
                "cv": [[1.0, 0.0], [0.9, 0.1], [0.0, 1.0]],
            }
        )
        out = fn(pdf)
        assert list(out["mmr_rank"]) == [1, 2], out
        # λ=0.3 must diversify: after the exact match, the orthogonal
        # vector (cand 12, MMR 0) beats the near-duplicate (cand 11,
        # MMR 0.3·0.994 − 0.7·0.994 < 0)
        assert list(out["cand_id"]) == [10, 12], out

    _roundtrip_in_clean_subprocess(_make_mmr_greedy(2, 0.3), probe)


def test_bloom_dedup_core_pickles_by_value():
    """approx_dedup payloads must ship by value (nested closures), not by
    module reference — same contract as the session summarizer."""
    from postpy_spark.streaming import _make_bloom_dedup_core

    def probe(fn):
        import pandas as pd

        pdf = pd.DataFrame({"user_id": [1, 1, 2], "event_type": ["a", "a", "b"]})
        bits = bytearray((1 << 8) // 8)
        assert fn(pdf, bits) == [True, False, True]

    _roundtrip_in_clean_subprocess(_make_bloom_dedup_core(1 << 8, 3), probe)


def test_pair_dot_worker_pickles_by_value():
    """The kNN-graph pair-dot scorer ships as a mapInArrow payload
    (operators/similarity.py::_make_pair_dot_worker) — factory-nested so
    the worker cloudpickles by value; the probe runs a real Arrow batch
    through it and checks the left-fold dot."""
    from postpy_spark.operators.similarity import _make_pair_dot_worker

    def probe(fn):
        import pyarrow as pa

        batch = pa.RecordBatch.from_arrays(
            [
                pa.array([1, 2], type=pa.int64()),
                pa.array([3, 4], type=pa.int64()),
                pa.array([[1.0, 2.0], [0.5, 0.5]], type=pa.list_(pa.float64())),
                pa.array([[3.0, 4.0], [2.0, 2.0]], type=pa.list_(pa.float64())),
            ],
            ["src", "dst", "sv", "dv"],
        )
        out = list(fn(iter([batch])))
        assert len(out) == 1
        dots = out[0].column("dot").to_pylist()
        assert dots == [11.0, 2.0], dots

    _roundtrip_in_clean_subprocess(_make_pair_dot_worker(), probe)


def test_bucket_topk_worker_pickles_by_value():
    """The kNN-graph bucket scorer ships as an applyInArrow payload
    (operators/similarity.py::_make_bucket_topk_worker) — factory-nested
    so it cloudpickles by value; the probe scores a 3-member bucket with
    k=1 and checks the pruned edges and their dots."""
    from postpy_spark.operators.similarity import _make_bucket_topk_worker

    def probe(fn):
        import pyarrow as pa

        table = pa.table(
            [
                pa.array([1, 2, 3], type=pa.int64()),
                pa.array(
                    [[1.0, 0.0], [0.6, 0.8], [0.0, 1.0]], type=pa.list_(pa.float64())
                ),
            ],
            names=["id", "v"],
        )
        out = fn(table)
        edges = sorted(zip(*(out.column(c).to_pylist() for c in ("src", "dst", "dot"))))
        assert edges == [(1, 2, 0.6), (2, 3, 0.8), (3, 2, 0.8)], edges

    _roundtrip_in_clean_subprocess(_make_bucket_topk_worker(1), probe)


def test_signature_worker_pickles_by_value():
    """The kNN-graph LSH-signature stage ships as a mapInArrow payload
    (operators/similarity.py::_make_signature_worker) closing over the
    hyperplane matrix — factory-nested so both cloudpickle by value; the
    probe runs a real Arrow batch through it and checks the posexploded
    (id, band_id, band_val) shape and a hand-computed sign fold."""
    from postpy_spark.operators.similarity import _make_signature_worker

    def probe(fn):
        import pyarrow as pa

        batch = pa.RecordBatch.from_arrays(
            [
                pa.array([7, 8], type=pa.int64()),
                pa.array([[1.0, -2.0], [-1.0, 2.0]], type=pa.list_(pa.float64())),
            ],
            ["id", "v"],
        )
        out = list(fn(iter([batch])))
        assert len(out) == 1
        rows = list(
            zip(
                out[0].column(0).to_pylist(),
                out[0].column("band_id").to_pylist(),
                out[0].column("band_val").to_pylist(),
            )
        )
        # planes: p0=(1,0) -> dot signs (+, -); p1=(0,1) -> (-, +);
        # bands of width 1 -> band_val IS the sign bit
        assert rows == [(7, 0, 1), (7, 1, 0), (8, 0, 0), (8, 1, 1)], rows

    _roundtrip_in_clean_subprocess(
        _make_signature_worker([[1.0, 0.0], [0.0, 1.0]], bands=2), probe
    )


def test_assign_worker_pickles_by_value():
    """The IVF centroid-assignment stage ships as a mapInArrow payload
    (operators/similarity.py::_make_assign_worker) closing over the
    collected unit centroids — factory-nested so both cloudpickle by
    value; the probe checks the argmax and its lowest-cell tie-break."""
    from postpy_spark.operators.similarity import _make_assign_worker

    def probe(fn):
        import pyarrow as pa

        batch = pa.RecordBatch.from_arrays(
            [
                pa.array([1, 2], type=pa.int64()),
                pa.array([[1.0, 0.0], [0.7, 0.7]], type=pa.list_(pa.float64())),
            ],
            ["vec_id", "embedding"],
        )
        out = list(fn(iter([batch])))
        assert len(out) == 1
        cells = out[0].column("cell_id").to_pylist()
        # row 1: dot (1,0)·c10=(1,0) = 1 beats c20=(0,1)'s 0 -> cell 10;
        # row 2: (0.7,0.7) ties both cells at 0.7 -> lowest cell_id wins
        assert cells == [10, 10], cells

    _roundtrip_in_clean_subprocess(
        _make_assign_worker([(10, [1.0, 0.0]), (20, [0.0, 1.0])]), probe
    )


def test_simhash_worker_pickles_by_value():
    """The SimHash bit-count stage ships as a mapInArrow payload
    (operators/dedup.py::_make_simhash_worker) — factory-nested so it
    cloudpickles by value; the probe checks a hand-computed majority vote
    including the sign bit (bit 63)."""
    from postpy_spark.operators.dedup import _make_simhash_worker

    def probe(fn):
        import pyarrow as pa

        # doc 1: hashes {0b01, 0b01, 0b10}: bit0 ones=2>1.5 set,
        # bit1 ones=1<1.5 unset -> simhash 1
        # doc 2: one hash -1 (all 64 bits set) -> simhash -1
        batch = pa.RecordBatch.from_arrays(
            [
                pa.array([1, 2], type=pa.int64()),
                pa.array([[1, 1, 2], [-1]], type=pa.list_(pa.int64())),
            ],
            ["doc_id", "_hs"],
        )
        out = list(fn(iter([batch])))
        assert len(out) == 1
        sigs = out[0].column("simhash").to_pylist()
        assert sigs == [1, -1], sigs

    _roundtrip_in_clean_subprocess(_make_simhash_worker(), probe)


def test_unigram_estep_pickles_by_value():
    """The unigram-EM E-step ships as a mapInPandas payload
    (operators/unigram.py::_make_estep) with the piece log-probs AND the
    Viterbi function captured by value — the Viterbi impl is itself
    factory-nested so no module-level reference leaks in."""
    import math

    from postpy_spark.operators.unigram import _make_estep

    logp = {"ab": math.log(0.5), "a": math.log(0.25), "b": math.log(0.25)}
    estep = _make_estep(logp, 4)

    def probe(fn):
        import pandas as pd

        out = list(fn(iter([pd.DataFrame({"w": ["abab"], "cnt": [3]})])))
        # "abab" -> ["ab","ab"]: one partial row per occurrence, each
        # weighted by the word count
        assert list(out[0]["piece"]) == ["ab", "ab"], out[0]
        assert list(out[0]["cnt"]) == [3, 3], out[0]

    _roundtrip_in_clean_subprocess(estep, probe)


def test_unigram_segmenter_pickles_by_value():
    """The final-vocab segmenter payload (operators/unigram.py::
    _make_segmenter) — same by-value contract."""
    import math

    from postpy_spark.operators.unigram import _make_segmenter

    logp = {"ab": math.log(0.5), "a": math.log(0.2), "b": math.log(0.2)}
    seg = _make_segmenter(logp, 4)

    def probe(fn):
        import pandas as pd

        out = list(fn(iter([pd.DataFrame({"w": ["abab", "aa"]})])))
        got = dict(zip(out[0]["w"], out[0]["n_pieces"]))
        assert got == {"abab": 2, "aa": 2}, got

    _roundtrip_in_clean_subprocess(seg, probe)
