"""The benchmark's own tests, at sf0.001 scale (``--size smoke``).

Slow (each run starts a JVM and warms it up; about six minutes in all)
and not part of the tier-1 suite:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap

import pytest

BENCH_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REPO_ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, REPO_ROOT)

from perfbench import run as bench  # noqa: E402
from perfbench.trace import LAYERS, Span, layer_metrics, parse_event_log  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

EVENT_LOG = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "eventlog_small.json")
SEED = 3


def _invoke(code: str) -> tuple[dict, str]:
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=REPO_ROOT, capture_output=True, text=True, timeout=900
    )
    assert out.returncode == 0, out.stderr[-4000:]
    return json.loads(out.stdout.strip().splitlines()[-1]), out.stderr


def _main_code(workload: str, trace: int, prelude: str = "") -> str:
    argv = ["--workload", workload, "--seed", str(SEED), "--seconds", "1",
            "--trace", str(trace), "--size", "smoke"]
    return textwrap.dedent(prelude) + f"\nimport sys\nfrom perfbench import run\nsys.exit(run.main({argv!r}))\n"


_RUNS: dict = {}


def smoke(workload: str, trace: int, repeat: int = 0) -> dict:
    key = (workload, trace, repeat)
    if key not in _RUNS:
        _RUNS[key] = _invoke(_main_code(workload, trace))[0]
    return _RUNS[key]


def _manifest() -> dict:
    with open(os.path.join(REPO_ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_manifest_matches_run_py():
    assert _manifest() == bench.manifest()


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
@pytest.mark.parametrize("trace,section", [(0, "end_to_end"), (1, "per_layer")])
def test_smoke_pass_reports_every_metric(workload, trace, section):
    res = smoke(workload, trace)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in _manifest()[section]}
    assert set(res["metrics"]) == set(want)
    for name, m in res["metrics"].items():
        assert m["unit"] == want[name]
        assert isinstance(m["value"], (int, float))
    if trace == 0:
        assert all(m["value"] > 0 for m in res["metrics"].values())


def test_traced_counts_repeat_for_one_seed():
    first = smoke("index_lifecycle", 1)["metrics"]
    second = smoke("index_lifecycle", 1, repeat=1)["metrics"]
    for layer in LAYERS:
        for field in ("calls", "jobs", "stages", "tasks"):
            name = f"{layer}.{field}"
            assert first[name]["value"] == second[name]["value"], name


def test_corrupted_expected_output_counts_as_failed():
    prelude = """
        import dataclasses
        from perfbench import workloads
        stage = workloads.S3WarehouseEtl.stage
        def corrupted(self, *args):
            st = stage(self, *args)
            bad = list(st.q_status[0]); bad[2] += 1
            return dataclasses.replace(st, q_status=[tuple(bad)] + st.q_status[1:])
        workloads.S3WarehouseEtl.stage = corrupted
    """
    res, err = _invoke(_main_code("s3_warehouse_etl", 0, prelude))
    assert res["correct"] is False
    assert res["failed"] >= 1 and res["failed"] < res["attempted"]
    assert "FAILED warehouse.query_df" in err


def test_empty_checkout_fails_without_result(tmp_path):
    import shutil

    shutil.copytree(BENCH_DIR, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(REPO_ROOT, "BENCHMARK.json"), tmp_path)
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "s3_warehouse_etl", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert out.returncode != 0
    assert '"metrics"' not in out.stdout


# --------------------------------------------------------------------------
# event-log parser against a recorded log (local[2], 4 shuffle partitions):
#   group g-agg:   groupBy(k).count().collect() over range(20000) -> jobs 0, 1
#                  (stage 1 of job 1 is skipped: its map output is reused)
#   group g-write: parquet write of the same frame                -> job 2
#   group g-read:  read back + count                              -> jobs 3, 4, 5
# --------------------------------------------------------------------------


def test_event_log_parser_counts():
    log = parse_event_log(EVENT_LOG)
    assert sorted(log.jobs) == [0, 1, 2, 3, 4, 5]
    assert [log.jobs[j]["group"] for j in range(6)] == ["g-agg", "g-agg", "g-write", "g-read", "g-read", "g-read"]
    ran = {sid for sid, st in log.stages.items() if st.ran}
    assert ran == {0, 2, 3, 4, 5, 7}
    assert log.stages[0].tasks == 2 and log.stages[0].shuffle_records == 14
    assert log.stages[3].output_bytes > 0


def test_layer_metrics_from_recorded_log():
    log = parse_event_log(EVENT_LOG)
    t = {j: (v["t0"], v["t1"]) for j, v in log.jobs.items()}
    tail = (t[3][0] - t[2][1]) / 2  # ends before the first read job starts
    # a dedup span over the aggregation jobs holding a nested genstore
    # span over the write job, and an annindex span over the read jobs
    spans = [
        Span(0, None, "dedup", "outer", "g-agg", t[0][0] - 0.5, t[2][1] + tail, children=[1]),
        Span(1, 0, "genstore", "inner", "g-write", t[2][0], t[2][1]),
        Span(2, None, "annindex", "read", "g-read", t[3][0], t[5][1]),
    ]
    m = layer_metrics(spans, log)
    assert (m["dedup"]["jobs"], m["dedup"]["stages"], m["dedup"]["tasks"]) == (2, 2, 3)
    assert (m["genstore"]["jobs"], m["genstore"]["stages"]) == (1, 1)
    assert (m["annindex"]["jobs"], m["annindex"]["stages"]) == (3, 3)
    assert m["dedup"]["shuffle_records"] == 14 + 0
    outer, inner = spans[0], spans[1]
    assert m["dedup"]["self_s"] == pytest.approx((outer.t1 - outer.t0) - (inner.t1 - inner.t0))
    # the outer span's own time outside any job: the 0.5 s lead-in, the
    # tail, and the gaps between the aggregation jobs and the write
    gap = 0.5 + tail + (t[1][0] - t[0][1]) + (t[2][0] - t[1][1])
    assert m["dedup"]["driver_gap_s"] == pytest.approx(gap, abs=1e-6)
    assert m["genstore"]["driver_gap_s"] == pytest.approx(0.0, abs=1e-6)
    for layer in ("objectstore", "warehouse"):
        assert m[layer]["calls"] == 0
