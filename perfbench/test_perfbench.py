"""Tests of the benchmark's own logic: python3 -m pytest perfbench -q"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO_ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, BENCH_DIR)

from layers import LAYER_METRICS, submission_self_gap  # noqa: E402
from spans import Span, Tracer, self_times  # noqa: E402
from stats import percentile, tail_level  # noqa: E402
from workloads import WORKLOADS, pass_order  # noqa: E402


@pytest.mark.parametrize(
    "n, level",
    [(0, None), (19, None), (20, 50.0), (39, 50.0), (40, 75.0), (100, 90.0), (199, 90.0), (200, 95.0), (1000, 99.0), (10_000, 99.9)],
)
def test_tail_level_leaves_ten_samples_beyond(n, level):
    assert tail_level(n) == level
    if level is not None:
        assert round(n * (100 - level) / 100, 9) >= 10


def test_percentile_interpolates():
    xs = [4.0, 1.0, 3.0, 2.0]
    assert percentile(xs, 0) == 1.0
    assert percentile(xs, 100) == 4.0
    assert percentile(xs, 50) == 2.5


def _span(i, name, start, end, parent=None, sid=0):
    s = Span(i, name, start, parent, sid)
    s.end = end
    return s


def test_self_time_subtracts_covered_child_time():
    spans = [
        _span(0, "submission", 0.0, 10.0),
        _span(1, "build", 0.0, 4.0, 0),
        _span(2, "catalog.load_table", 1.0, 2.0, 1),
        _span(3, "catalog.load_table", 1.5, 3.0, 1),  # overlaps its sibling
        _span(4, "plan", 4.0, 5.0, 0),
        _span(5, "execute", 5.0, 9.5, 0),
    ]
    selfs = self_times(spans)
    assert selfs[0] == pytest.approx(0.5)
    assert selfs[1] == pytest.approx(2.0)  # 4 s minus the union [1, 3]
    assert selfs[2] == pytest.approx(1.0)
    assert selfs[5] == pytest.approx(4.5)


def test_self_times_of_a_nested_submission_sum_to_its_wall():
    tracer = Tracer()
    with tracer.submission(7, "q"):
        with tracer.span("build"):
            with tracer.span("catalog.load_table"):
                pass
            with tracer.span("script_runner.run_redshift_script"):
                with tracer.span("redshift_sql.translate_redshift_sql"):
                    pass
        with tracer.span("plan"):
            pass
        with tracer.span("execute"):
            sum(range(10_000))
    assert {s.sid for s in tracer.spans} == {7}
    assert submission_self_gap(tracer.spans) < 1e-9


def test_spans_outside_a_submission_are_not_recorded():
    tracer = Tracer()
    with tracer.span("catalog.load_table") as span:
        assert span is None
    assert tracer.spans == []


def test_seeded_order_is_reproducible_permutation():
    mix = WORKLOADS["warehouse_sf01"].mix
    for seed in (0, 1, 17):
        for k in (1, 2, 3):
            first = pass_order(mix, seed, k)
            assert first == pass_order(mix, seed, k)
            assert sorted(first) == sorted(mix)
    orders = {tuple(pass_order(mix, seed, 1)) for seed in range(10)}
    assert len(orders) > 1
    assert pass_order(mix, 3, 1) != pass_order(mix, 3, 2)


def test_benchmark_json_names_match_the_runner():
    with open(os.path.join(REPO_ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert [m["name"] for m in spec["per_layer"]] == list(LAYER_METRICS)
    assert [m["unit"] for m in spec["per_layer"]] == list(LAYER_METRICS.values())
    assert {m["name"] for m in spec["end_to_end"]} == {
        "setup_s",
        "cold_pass_s",
        "throughput_qps",
        "latency_p50_s",
    }


_WRAPPER_PROBE = r"""
import sys
sys.path[:0] = [{bench!r}, {repo!r}]
from spans import Tracer, install_wrappers
tracer = Tracer()
install_wrappers(tracer)
from sql_redshift_etl_spark import catalog, staging
assert hasattr(catalog.load_table, "__wrapped_by_perfbench__")
assert staging.load_table is catalog.load_table  # bound before wrapping, rebound
from sql_redshift_etl_spark.plans.registry import all_queries
from sql_redshift_etl_spark.session import get_spark
import run
spark = get_spark("perfbench-test")
try:
    with tracer.submission(0, "q3_shipping_priority"):
        all_queries()["q3_shipping_priority"].builder(spark, run.fixture_dir())
finally:
    spark.stop()
print(sum(1 for s in tracer.spans if s.name == "catalog.load_table"))
"""


def test_wrappers_record_catalog_loads_of_a_warehouse_query():
    sys.path.insert(0, REPO_ROOT)
    import run

    try:
        fixtures = run.fixture_dir()
    except (OSError, RuntimeError) as exc:
        pytest.skip(f"fixtures not found: {exc}")
    if not os.path.isdir(fixtures):
        pytest.skip(f"fixtures not found at {fixtures}")
    code = _WRAPPER_PROBE.format(bench=BENCH_DIR, repo=REPO_ROOT)
    proc = subprocess.run([sys.executable, "-c", code], capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert int(proc.stdout.strip().splitlines()[-1]) > 0


# A child that exits with code 3 and leaves two sleepers behind, one of them
# in a session of its own, so that killing the child's process group misses it.
_LEAKY_CHILD = r"""
import subprocess, sys
a = subprocess.Popen(["sleep", "60"], start_new_session=True)
b = subprocess.Popen(["sleep", "60"])
print(a.pid, b.pid, flush=True)
sys.exit(3)
"""

_SUPERVISOR = r"""
import sys
sys.path.insert(0, {bench!r})
from procs import children, run_supervised
code = run_supervised([sys.executable, "-c", {child!r}], grace_s=1.0)
print("exit", code, "left", len(children()), flush=True)
"""


def test_supervisor_reaps_every_process_the_run_leaves():
    code = _SUPERVISOR.format(bench=BENCH_DIR, child=_LEAKY_CHILD)
    proc = subprocess.run([sys.executable, "-c", code], capture_output=True, text=True, timeout=60)
    assert proc.returncode == 0, proc.stderr[-2000:]
    pids_line, result = proc.stdout.strip().splitlines()[-2:]
    assert result == "exit 3 left 0"
    for pid in map(int, pids_line.split()):
        assert not os.path.exists(f"/proc/{pid}")
