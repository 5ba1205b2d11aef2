"""Tests of the benchmark itself: its arithmetic, its tracer, and a
tiny-input run of each workload in both modes.

    python -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys

import pytest

from perfbench import stats
from perfbench.data import expected_digest, sha256_hex

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
    BENCH = json.load(fh)


# -- tail percentile -------------------------------------------------------


@pytest.mark.parametrize("n,p", [(1, None), (10, None), (11, 9), (20, 50), (30, 66), (100, 90), (1000, 99)])
def test_tail_percentile_known_values(n, p):
    assert stats.tail_percentile(n) == p


def test_tail_percentile_is_the_highest_with_ten_beyond():
    for n in range(11, 600):
        p = stats.tail_percentile(n)
        beyond = lambda q: n - math.ceil(q * n / 100)  # noqa: E731
        assert beyond(p) >= 10
        assert p == 100 or beyond(p + 1) < 10


def test_tail_reports_value_percentile_and_n():
    vals = list(range(1, 21))  # 20 samples: p50 has 10 beyond it
    assert stats.tail(vals) == {"p": 50, "n": 20, "value": 10}
    assert stats.tail([1.0] * 5) == {"p": None, "n": 5, "value": None}


def test_percentile_nearest_rank():
    vals = [5, 1, 4, 2, 3]
    assert stats.percentile(vals, 1) == 1
    assert stats.percentile(vals, 50) == 3
    assert stats.percentile(vals, 100) == 5


# -- spans ---------------------------------------------------------------


def span(i, parent, a, b):
    return {"id": i, "parent": parent, "start": a, "end": b}


def test_self_time_subtracts_union_of_direct_children():
    spans = [
        span(0, None, 0.0, 10.0),
        span(1, 0, 1.0, 3.0),
        span(2, 0, 2.0, 5.0),  # overlaps child 1: the union counts once
        span(3, 0, 7.0, 8.0),
        span(4, 2, 2.5, 4.5),  # grandchild: inside child 2, not subtracted again
    ]
    st = stats.self_times(spans)
    assert st[0] == pytest.approx(10.0 - 4.0 - 1.0)
    assert st[1] == pytest.approx(2.0)
    assert st[2] == pytest.approx(3.0 - 2.0)
    assert st[3] == pytest.approx(1.0)
    assert st[4] == pytest.approx(2.0)


def test_covered_clips_to_window_and_merges():
    assert stats.covered([(-1, 2), (1, 3), (5, 20)], 0, 10) == pytest.approx(3 + 5)
    assert stats.covered([], 0, 10) == 0


# -- write amplification ---------------------------------------------------


def test_write_amp():
    assert stats.write_amp(300, 100) == 3.0
    with pytest.raises(ValueError):
        stats.write_amp(1, 0)


def test_erase_write_amp_pools_bytes():
    # 100 B rewritten for a 10 B subject, 300 B for another 10 B subject
    assert stats.erase_write_amp([(100, 10), (300, 10)]) == 20.0


def test_paired_overhead_resolves_only_above_the_untraced_spread():
    clear = stats.paired_overhead([(10.0, 12.0), (10.5, 12.4), (10.2, 12.1)])
    assert clear["value"] == pytest.approx(1.9) and clear["pairs"] == 3
    assert clear["untraced_spread_s"] == pytest.approx(0.5) and clear["resolved"]
    noisy = stats.paired_overhead([(10.0, 10.1), (12.0, 12.3)])
    assert noisy["value"] == pytest.approx(0.2) and not noisy["resolved"]
    assert not stats.paired_overhead([(1.0, 3.0)])["resolved"]  # one pair is not enough
    assert stats.paired_overhead([])["value"] is None


# -- layer metrics and coverage from spans -----------------------------------


def lspan(i, name, a, b, request, parent=None, unit=None, **kw):
    return {"id": i, "name": name, "parent": parent, "start": a, "end": b, "request": request, "unit": unit, **kw}


def test_layer_metrics_ignore_probe_and_setup_spans():
    from perfbench.run import layer_metrics

    plan = {"counters": {"files_planned": 2, "files_live": 10}}
    spans = [
        lspan(0, "synth.generate", 0, 4, None),
        lspan(1, "request", 10, 20, "erase-1"),
        lspan(2, "table.plan", 11, 12, "erase-1", parent=1, **plan),
        lspan(3, "table.plan", 12, 13, "erase-1", parent=1, **plan),
        lspan(4, "request", 30, 40, "probe-0"),
        lspan(5, "table.plan", 31, 39, "probe-0", parent=4, counters={"files_planned": 9, "files_live": 10}),
        lspan(6, "synth.generate", 32, 38, "probe-0", parent=4),
        lspan(7, "table.plan", 50, 58, None, counters={"files_planned": 7, "files_live": 10}),
    ]
    m = layer_metrics(spans)
    assert m["table.plan_s"] == pytest.approx(2.0)  # both calls of erase-1 only
    assert m["table.files_planned"] == 4
    assert m["synth.generate_s"] == pytest.approx(4.0)  # setup's own span only


def test_coverage_per_end_to_end_metric():
    from perfbench.run import coverage

    spans = [
        lspan(0, "chain.ingest", 0, 10, "c-0", unit=0),
        lspan(1, "table.write", 1, 9, "c-0", parent=0, unit=0),
        lspan(2, "chain.compact", 10, 20, "c-0", unit=0),
        lspan(3, "maintenance.compact", 10, 15, "c-0", parent=2, unit=0),
        lspan(4, "chain.verify_scan", 20, 30, "c-0", unit=0),
        lspan(5, "verify.digest", 20, 30, "c-0", parent=4, unit=0),
    ]
    cov = coverage(spans)
    assert cov["write_p50_s"] == pytest.approx(0.8)
    assert cov["maintain_p50_s"] == pytest.approx(0.5)
    assert cov["read_p50_s"] == pytest.approx(1.0)
    assert cov["unit_p50_s"] == pytest.approx(23 / 30)


# -- the engine-free digest oracle -------------------------------------------


def test_expected_digest_tombstones_erased_subjects():
    rows = [("r1", "p", "c", sha256_hex("x")), ("r2", "p", "c", sha256_hex("y"))]
    live = expected_digest(rows, set())
    gone = expected_digest(rows, {"r2"})
    assert live.endswith("-2") and gone.endswith("-2")
    assert live != gone
    assert gone == expected_digest([rows[0], ("r2", "p", "c", sha256_hex("<shredded>"))], set())


# -- the tracer ----------------------------------------------------------------


def test_tracer_wraps_every_binding_and_restores():
    pytest.importorskip("pyspark")
    sys.path.insert(0, ROOT)
    import pi2spark.maintenance as m
    import pi2spark.table as t
    from perfbench.trace import Tracer

    orig = t.collect_data_files
    tr = Tracer()
    tr.install()
    try:
        assert m.collect_data_files is t.collect_data_files is not orig
        assert getattr(t.Table.commit, "__wrapped_by_perfbench__", False)
        with tr.request("erase-0"):
            with tr.span("inner"):
                pass
        names = [s["name"] for s in tr.spans]
        assert names == ["request", "inner"]
        assert tr.spans[1]["parent"] == tr.spans[0]["id"]
        assert {s["request"] for s in tr.spans} == {"erase-0"}
    finally:
        tr.uninstall()
    assert m.collect_data_files is orig and t.collect_data_files is orig
    assert not getattr(t.Table.commit, "__wrapped_by_perfbench__", False)


# -- whole runs ------------------------------------------------------------------

TINY = ["--seconds", "1", "--rows", "2000", "--max-len", "2000"]


def run(args, cwd=ROOT):
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
@pytest.mark.parametrize("trace", [0, 1])
def test_tiny_run_reports_every_metric(workload, trace):
    p = run(["--workload", workload, "--seed", "3", "--trace", str(trace), *TINY])
    assert p.returncode == 0, p.stderr[-2000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    want = BENCH["per_layer"] if trace else BENCH["end_to_end"]
    assert set(res["metrics"]) == {m["name"] for m in want}
    for m in want:
        got = res["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))
    if not trace:
        assert all(v["value"] > 0 for v in res["metrics"].values())
    else:
        report = json.loads(p.stdout.strip().splitlines()[-2])
        assert report["trace_overhead"]["pairs"] >= 2
        assert all(report["coverage_share"][m] is not None for m in ("write_p50_s", "maintain_p50_s", "read_p50_s"))


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    p = run(["--workload", "bulk_chain", "--seed", "1", "--seconds", "1", "--trace", "0"], cwd=str(tmp_path))
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
