"""Tests of the benchmark's own code: statistics, failure counting, metric
names and the event-log reader. No Spark session is started."""

import json
import os
import re
import sys

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, BENCH)

import layers  # noqa: E402
import probes  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


def _spec():
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
        return json.load(f)


# -- tail percentile ---------------------------------------------------------

@pytest.mark.parametrize("n,rank", [(1, None), (10, None), (11, 1),
                                    (20, 10), (100, 90)])
def test_tail_rank_leaves_ten_samples_beyond(n, rank):
    assert stats.tail_rank(n) == rank
    if rank is not None:
        assert n - rank >= stats.TAIL_BEYOND
        assert n - (rank + 1) < stats.TAIL_BEYOND


def test_tail_value_and_percentile():
    samples = [float(x) for x in range(30, 0, -1)]     # order must not matter
    value, pct, beyond = stats.tail(samples)
    assert value == 20.0
    assert pct == pytest.approx(100 * 20 / 30)
    assert beyond == 10
    assert sum(s > value for s in samples) == 10


def test_tail_falls_back_to_median_when_too_few_samples():
    assert stats.tail([3.0, 1.0, 2.0]) == (2.0, 50.0, 1)
    assert stats.tail([5.0]) == (5.0, 50.0, 0)


# -- failure share -----------------------------------------------------------

def test_failed_frac_counts_failures_over_attempts():
    assert stats.failed_frac(10, 0) == 0.0
    assert stats.failed_frac(10, 3) == 0.3
    assert stats.failed_frac(4, 4) == 1.0


@pytest.mark.parametrize("attempted,failed", [(0, 0), (3, 4), (3, -1)])
def test_failed_frac_rejects_impossible_counts(attempted, failed):
    with pytest.raises(ValueError):
        stats.failed_frac(attempted, failed)


class _Flaky:
    """A workload on a fake clock: each iteration takes one second; the
    second raises and the third gets one of its three operations wrong."""
    calls = 3

    def __init__(self):
        self.n = 0
        self.clock = 0.0

    def reset(self):
        pass

    def iterate(self, spark, tracer):
        self.n += 1
        self.clock += 1.0
        if self.n == 2:
            raise RuntimeError("engine failure")
        return {"n": self.n, "items": 3, "part_s": {}, "pairs": 0}

    def check(self, out):
        return ["op_b"] if out["n"] == 3 else []


def test_measure_counts_raised_and_wrong_operations(monkeypatch):
    wl = _Flaky()
    monkeypatch.setattr(run.time, "perf_counter", lambda: wl.clock)
    m = run.measure(None, wl, probes.Tracer(), seconds=2.0)
    # the first iteration, then a closed loop for two fake seconds
    assert m["walls"] == [1.0] * 3
    assert run.steady(m) == [1.0, 1.0]
    n = len(m["walls"])
    assert (m["attempted"], m["failed"]) == (3 * n, 4)  # 3 raised + 1 wrong
    assert stats.failed_frac(m["attempted"], m["failed"]) == 4 / (3 * n)
    assert m["outs"][1] is None and len(m["failures"]) == 2


# -- metric names ------------------------------------------------------------

def test_benchmark_json_names_are_well_formed():
    spec = _spec()
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    names += [w["name"] for w in spec["workloads"]]
    assert len(names) == len(set(names))
    for n in names:
        assert NAME.fullmatch(n) and len(n) <= 64, n
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert UNIT.fullmatch(m["unit"]), m
    assert {w["name"] for w in spec["workloads"]} <= set(
        __import__("workloads").WORKLOADS)


def test_printed_end_to_end_metrics_match_benchmark_json():
    spec = {m["name"]: m["unit"] for m in _spec()["end_to_end"]}
    out = {"items": 10, "part_s": {}, "pairs": 0}
    walls = [3.0, 1.0, 2.0]
    m = {"walls": walls, "outs": [out] * len(walls)}
    metrics = run.end_to_end([11.0, 10.5, 10.7], m)
    assert set(metrics) == set(spec) == set(run.END_TO_END)
    assert all(run.END_TO_END[k] == spec[k] for k in spec)
    assert metrics["setup_s"] == 10.7
    assert metrics["items_per_s"] == pytest.approx(10 / 1.5)
    assert metrics["first_iter_s"] == 3.0
    assert all(v > 0 for v in metrics.values())


def test_reported_metrics_time_queries_and_round_trip_apart():
    import workloads
    wl = workloads.Headline()
    rt = wl.ROUNDTRIP
    part = {q: 0.5 for q in workloads.HEADLINE_RUN} | {rt: 2.0}
    out = {"items": wl.calls, "part_s": part, "pairs": 0}
    m = {"walls": [9.0, 5.0], "outs": [out, out], "attempted": 20,
         "failed": 0, "peak_rss_mb": 100.0}
    assert set(run.reported(workloads.Canonical(), m)) == {
        "pages_per_s", "iter_tail_s", "peak_rss_mb", "failed_frac"}
    got = run.reported(wl, m)
    n = len(workloads.HEADLINE_RUN)
    assert got["queries_per_s"]["value"] == pytest.approx(n / (0.5 * n))
    assert got["mpix_per_s"]["value"] == pytest.approx(
        wl.raster.pixels / 1e6 / 2.0, rel=1e-5)
    assert got["failed_frac"]["value"] == 0.0
    for name, v in got.items():
        assert NAME.fullmatch(name) and UNIT.fullmatch(v["unit"])


def test_printed_per_layer_metrics_match_benchmark_json():
    spec = {m["name"]: m["unit"] for m in _spec()["per_layer"]}
    tracer = probes.Tracer()
    metrics = layers.per_layer(
        tracer, None, {1}, setup_s=1.0, pairs=0, bytes_written=0,
        decoded_bytes=0, io={"syscr": 1, "syscw": 1, "rchar": 1,
                             "wchar": 1}, peak_rss_mb=100.0, overhead=0.01)
    assert set(metrics) == set(spec) == set(layers.PER_LAYER)
    assert all(layers.unit(k) == spec[k] for k in spec)


# -- raster check ------------------------------------------------------------

class _Tile:
    def __init__(self, arr, tx, ty, zoom=0):
        self.px, self.dtype = arr.tobytes(), str(arr.dtype)
        self.tile_x, self.tile_y, self.zoom = tx, ty, zoom


def _tiles(arr, tile, zoom=0):
    import numpy as np
    n = -(-arr.shape[0] // tile)
    pad = np.zeros((n * tile, n * tile), arr.dtype)
    pad[:arr.shape[0], :arr.shape[1]] = arr
    return [_Tile(pad[y * tile:(y + 1) * tile, x * tile:(x + 1) * tile],
                  x, y, zoom) for y in range(n) for x in range(n)]


@pytest.mark.parametrize("rule", ["round_half_up", "truncate", "wrong"])
def test_raster_check_accepts_either_overview_rule(tmp_path, rule):
    import numpy as np
    import workloads
    r = workloads.Raster()
    r.size, r.tile = 64, 16
    r.prepare(None, str(tmp_path), np.random.default_rng(3))
    pyramid = [t for lv, a in enumerate(r.expect)
               for t in _tiles(a, r.tile, -lv)]
    ovr = {"round_half_up": r.expect[1], "truncate": r.expect_cog,
           "wrong": r.expect[1] + 2}[rule]
    bad = r.check({"pyramid": pyramid, "ovr": _tiles(ovr, r.tile)})
    assert bad == ([] if rule != "wrong" else ["write_cog"])
    off = np.count_nonzero(ovr != r.expect[1])
    assert r.notes["cog_ovr_px_off_pyramid"] == off
    assert (off > 0) == (rule != "round_half_up")


# -- event log ---------------------------------------------------------------

def _events():
    plan = {"nodeName": "ArrowEvalPython", "metrics": [
        {"name": probes.PY_RUN, "accumulatorId": 7, "metricType": "timing"},
        {"name": "number of output rows", "accumulatorId": 8,
         "metricType": "sum"}],
        "children": [{"nodeName": "BroadcastHashJoin", "metrics": [
            {"name": "number of output rows", "accumulatorId": 9,
             "metricType": "sum"}], "children": []}]}

    def task(stage, dur, run_ms):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                "Task Info": {"Launch Time": 0, "Finish Time": dur,
                              "Accumulables": [
                                  {"ID": 7, "Update": "1500",
                                   "Metadata": "sql"},
                                  {"ID": 8, "Update": "10",
                                   "Metadata": "sql"},
                                  {"ID": 9, "Update": "40",
                                   "Metadata": "sql"}]},
                "Task Metrics": {"Executor Run Time": run_ms,
                                 "Shuffle Write Metrics":
                                     {"Shuffle Bytes Written": 100}}}
    return [
        {"Event": "SparkListenerJobStart", "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "pb0"}},
        {"Event": "SparkListenerJobStart", "Stage IDs": [2],
         "Properties": {"spark.jobGroup.id": "pb5"}},
        {"Event": "org.apache.spark.sql.execution.ui."
                  "SparkListenerSQLExecutionStart", "sparkPlanInfo": plan},
        task(0, 10, 5), task(0, 10, 5), task(0, 40, 5), task(1, 5, 5),
        task(2, 1000, 1000),
    ]


def test_event_log_totals_per_job_group(tmp_path):
    path = tmp_path / "events"
    path.write_text("\n".join(json.dumps(e) for e in _events()))
    t = probes.EventLog(str(path)).group_totals(["pb0"])
    assert (t["jobs"], t["stages"], t["tasks"]) == (1, 2, 4)
    assert t["run_s"] == pytest.approx(0.02)
    assert t["py_run_s"] == pytest.approx(6.0)      # 4 x 1500 ms
    assert t["py_rows"] == 40 and t["join_rows"] == 160
    assert t["shuffle_write"] == 400
    assert t["task_skew"] == pytest.approx(4.0)     # stage 0: 40 / 10


def test_io_delta_counts_new_processes_from_zero():
    before = {1: {"syscr": 5, "syscw": 1, "rchar": 50, "wchar": 10}}
    after = {1: {"syscr": 7, "syscw": 1, "rchar": 80, "wchar": 10},
             2: {"syscr": 3, "syscw": 2, "rchar": 30, "wchar": 20}}
    assert run.io_delta(before, after) == {"syscr": 5, "syscw": 2,
                                           "rchar": 60, "wchar": 20}


def test_steal_share_reads_the_eighth_cpu_field():
    before = [100, 0, 50, 800, 10, 0, 0, 40, 0, 0]
    after = [200, 0, 100, 900, 10, 0, 0, 90, 0, 0]   # 300 ticks, 50 stolen
    assert probes.steal_share(before, after) == pytest.approx(50 / 300)
    assert probes.steal_share(before, before) == 0.0
