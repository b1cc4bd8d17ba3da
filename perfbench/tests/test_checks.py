"""A wrong output is counted as a failed op, which is what ``failed``,
``correct`` and ``fail_frac`` report."""

import numpy as np
import pandas as pd

from perfbench import inputs, reference
from perfbench.run import Bench
from perfbench.workloads import DocJoin, Op, RasterVectorize


class _Context:
    def setJobDescription(self, _desc):
        pass


class _Session:
    sparkContext = _Context()


class _Stub(RasterVectorize):
    """Two ops over fixed outputs: one right, one corrupted."""

    steps = [["right"], ["corrupted"]]
    reps = [1, 1]

    def ops(self):
        return [
            Op("right", run=lambda _: 42, check=lambda out: out == 42),
            Op("corrupted", run=lambda _: 41, check=lambda out: out == 42),
        ]


def _bench(workload_cls, tmp_path):
    b = Bench(workload_cls, seed=1, seconds=0)
    b.spark = b.wl.spark = _Session()
    return b


def test_corrupted_output_counts_as_failed(tmp_path):
    b = _bench(_Stub, tmp_path)
    p = b.run_pass(0)
    assert (b.attempted, b.failed) == (2, 1)
    assert p["ops"]["right"][0] is not None and p["ops"]["corrupted"] == [None]
    assert p["steps"][0] is not None and p["steps"][1] is None
    assert b.failed / b.attempted == 0.5  # the traced run's fail_frac


def test_raising_op_counts_as_failed(tmp_path):
    class Raising(_Stub):
        steps = [["boom"]]
        reps = [1]

        def ops(self):
            return [Op("boom", run=lambda _: 1 / 0, check=lambda out: True)]

    b = _bench(Raising, tmp_path)
    assert b.run_pass(0)["ops"]["boom"] == [None]
    assert (b.attempted, b.failed) == (1, 1)


def test_knn_check_rejects_a_swapped_neighbour(tmp_path):
    wl = DocJoin(None, 1, str(tmp_path))
    keys = np.arange(100, dtype=np.int64)
    x = np.linspace(0.0, 9.9, 100)
    y = np.zeros(100)
    wl.ref_knn = reference.knn(keys, x, y, [(0, 0.0, 0.0)], 3)
    check = next(op for op in wl.ops() if op.name == "knn").check
    rows = [{"query_id": 0, "rank": r, "key": k} for (_, r), k in wl.ref_knn.items()]
    assert check(rows)
    rows[0], rows[1] = {**rows[0], "key": rows[1]["key"]}, {**rows[1], "key": rows[0]["key"]}
    assert not check(rows)


def test_ring_check_rejects_a_wrong_area(tmp_path):
    wl = RasterVectorize(None, 1, str(tmp_path))
    wl.grid = inputs.grid()
    wl.ref_ring_cells = np.array([4] + [0] * (inputs.RING_VALUES - 1))
    check = next(op for op in wl.ops() if op.name == "polygonize").check
    square = "POLYGON ((0.0 0.0, 2.0 0.0, 2.0 2.0, 0.0 2.0, 0.0 0.0))"
    assert check(pd.DataFrame({"value": [0.0], "wkt": [square]}))
    holed = square[:-1] + ", (0.0 0.0, 1.0 0.0, 1.0 1.0, 0.0 1.0, 0.0 0.0))"
    assert not check(pd.DataFrame({"value": [0.0], "wkt": [holed]}))
