"""Unit tests of the benchmark's own measurement code (no Spark needed):

    python3 -m pytest perfbench/tests -q
"""

import hashlib
import json
import os

import pytest

import gen
from measure import (
    EventLog,
    Span,
    min_samples,
    parquet_inodes,
    percentile,
    rewrite_stats,
    self_time,
    union_length,
)


# -- percentiles and their sample-count rule -----------------------------------


def test_min_samples_leaves_ten_beyond_the_percentile():
    assert min_samples(0.5) == 20
    assert min_samples(0.9) == 100
    assert min_samples(0.99) == 1000


def test_p90_is_nearest_rank_and_needs_100_samples():
    values = list(range(1, 101))  # 1..100
    assert percentile(values, 0.9) == 90
    assert sum(v > percentile(values, 0.9) for v in values) == 10
    with pytest.raises(ValueError):
        percentile(values[:99], 0.9)


def test_median_from_any_nonempty_sample():
    assert percentile([3.0], 0.5) == 3.0
    assert percentile([4.0, 1.0, 2.0, 3.0], 0.5) == 2.5
    with pytest.raises(ValueError):
        percentile([], 0.5)


# -- intervals, spans, driver gap ----------------------------------------------


def test_union_length_merges_overlaps_and_clips():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([(0, 10)], lo=2, hi=5) == 3
    assert union_length([(0, 1), (1, 2)]) == 2
    assert union_length([(3, 4)], lo=5, hi=9) == 0
    assert union_length([]) == 0


def _span(sid, start, end, parent=None):
    return Span(sid, f"s{sid}", start, end, parent, "run", "w")


def test_self_time_subtracts_union_of_direct_children():
    root = _span(1, 0.0, 10.0)
    kids = [_span(2, 1.0, 4.0, 1), _span(3, 3.0, 5.0, 1), _span(4, 9.0, 12.0, 1)]
    grandchild = _span(5, 1.0, 2.0, 2)  # inside a child: not subtracted again
    spans = [root, *kids, grandchild]
    assert self_time(root, spans) == pytest.approx(10.0 - (4.0 + 1.0))
    assert self_time(kids[0], spans) == pytest.approx(3.0 - 1.0)
    assert self_time(grandchild, spans) == pytest.approx(1.0)


def _event_log(tmp_path, events):
    d = tmp_path / "eventlog" / "eventlog_v2_app"
    d.mkdir(parents=True)
    (d / "events_1_app").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    return EventLog.read(str(tmp_path / "eventlog"))


def test_driver_gap_is_span_minus_union_of_job_intervals(tmp_path):
    def job(i, start_s, end_s, stages):
        return [
            {"Event": "SparkListenerJobStart", "Job ID": i,
             "Submission Time": int(start_s * 1000), "Stage IDs": stages},
            {"Event": "SparkListenerJobEnd", "Job ID": i, "Completion Time": int(end_s * 1000)},
        ]

    def task(stage, launch, finish, run_ms):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                "Task Info": {"Launch Time": launch * 1000, "Finish Time": finish * 1000,
                              "Accumulables": [{"Name": "time to run Python workers",
                                                "Update": 250}]},
                "Task Metrics": {"Executor Run Time": run_ms, "Executor CPU Time": 10**9,
                                 "Shuffle Write Metrics": {"Shuffle Bytes Written": 2**20}}}

    log = _event_log(tmp_path, [
        *job(0, 101.0, 103.0, [0]),
        *job(1, 102.0, 104.0, [1]),  # overlaps job 0: counted once
        *job(2, 106.0, 107.0, [2]),
        *job(3, 200.0, 201.0, [3]),  # outside the span
        task(0, 101, 102, 1000), task(1, 102, 103, 1000), task(1, 102, 106, 4000),
        task(3, 200, 201, 1000),
    ])
    f = log.fold(100.0, 110.0)
    assert f["spark.jobs"] == 3
    assert f["spark.driver_gap_s"] == pytest.approx(10.0 - (3.0 + 1.0))
    assert f["spark.tasks"] == 3 and f["spark.stages"] == 2
    assert f["spark.executor_run_s"] == pytest.approx(6.0)
    assert f["spark.executor_cpu_s"] == pytest.approx(3.0)
    assert f["spark.shuffle_write_mb"] == pytest.approx(3.0)
    assert f["spark.python_s"] == pytest.approx(0.75)
    assert f["spark.task_skew"] == pytest.approx(4.0 / 2.5)


# -- the inode count behind files_rewritten_frac -------------------------------


def test_hard_linked_files_are_not_rewritten(tmp_path):
    old, new = tmp_path / "old", tmp_path / "new"
    old.mkdir()
    for i in range(4):
        (old / f"part-{i}.parquet").write_bytes(b"x" * (i + 1))
    (old / "_SUCCESS").write_bytes(b"")
    before = parquet_inodes(str(old))
    # the swap: two files carried by hard link, one rewritten, one added
    new.mkdir()
    os.link(old / "part-0.parquet", new / "part-0.parquet")
    os.link(old / "part-1.parquet", new / "part-1.parquet")
    (new / "part-2b.parquet").write_bytes(b"y" * 10)
    (new / "part-4.parquet").write_bytes(b"z" * 7)
    stats = rewrite_stats(before, parquet_inodes(str(new)))
    assert stats == {"table_files": 4, "files_rewritten": 2,
                     "files_rewritten_frac": 0.5, "bytes_written": 17}


# -- seed determinism ----------------------------------------------------------

SMALL = gen.Sizes(customers=50, orders=300, parts=40, suppliers=10, documents=60, files=2,
                  deltas=4, delta_rows=20)


def _digest(root):
    h = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            h[os.path.relpath(p, root)] = hashlib.sha256(open(p, "rb").read()).hexdigest()
    return h


@pytest.mark.parametrize("workload", sorted(gen.WORKLOAD_TABLES))
def test_one_seed_gives_byte_identical_inputs(tmp_path, workload):
    a = gen.generate(str(tmp_path / "a"), 7, workload, SMALL)
    b = gen.generate(str(tmp_path / "b"), 7, workload, SMALL)
    c = gen.generate(str(tmp_path / "c"), 8, workload, SMALL)
    assert a == b
    assert _digest(tmp_path / "a") == _digest(tmp_path / "b")
    assert _digest(tmp_path / "a") != _digest(tmp_path / "c")
    assert c["key_shift"] != a["key_shift"]
    assert all(t["rows"] > 0 and t["bytes"] > 0 and t["files"] >= 1
               for t in a["tables"].values())


def test_manifest_counts_the_dirty_orders(tmp_path):
    import pyarrow.parquet as pq

    m = gen.generate(str(tmp_path), 3, "nightly_batch", SMALL)
    orders = pq.read_table(str(tmp_path / "orders")).to_pandas()
    dirty = (orders.o_orderstatus == "X") | (orders.o_totalprice <= 0)
    assert m["dirty_orders"] == int(dirty.sum())


def test_deltas_alternate_skewed_and_uniform(tmp_path):
    import pyarrow.parquet as pq

    sizes = gen.Sizes(customers=1000, orders=100, files=1, deltas=4, delta_rows=200)
    m = gen.generate(str(tmp_path), 5, "gold_refresh", sizes)
    d = pq.read_table(str(tmp_path / "deltas")).to_pandas()
    spans = d.groupby("delta_id").o_custkey.agg(lambda s: s.max() - s.min())
    assert (spans[[0, 2]] < 50).all() and (spans[[1, 3]] > 500).all()
    assert d.o_orderkey.min() >= m["key_shift"] + sizes.orders  # no clash with base orders
