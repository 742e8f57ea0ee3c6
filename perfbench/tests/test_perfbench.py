"""Self-test of the benchmark on tiny inputs. No timing assertions.

    python -m pytest perfbench/tests -q

The oracle tests run in-process; the command tests run
perfbench/run.py in a subprocess and read its last stdout line.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import oracles  # noqa: E402
from perfbench.trace import parse_metric_string, union_length  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    BENCHMARK = json.load(fh)


# -- pure helpers -------------------------------------------------------------


SQUARE = [[(0, 0), (10, 0), (10, 10), (0, 10), (0, 0)]]
HOLED = SQUARE + [[(3, 3), (3, 7), (7, 7), (7, 3), (3, 3)]]
ELL = [[(0, 0), (10, 0), (10, 4), (4, 4), (4, 10), (0, 10), (0, 0)]]


@pytest.mark.parametrize(
    "rect, rings, want",
    [
        ((5, 5, 5, 5), SQUARE, True),  # point inside
        ((10, 5, 10, 5), SQUARE, True),  # point on an edge (closed set)
        ((11, 5, 11, 5), SQUARE, False),
        ((4, 4, 6, 6), HOLED, False),  # strictly inside the hole
        ((3, 4, 6, 6), HOLED, True),  # touches the hole's ring
        ((6, 6, 8, 8), ELL, False),  # in the L's cut-away corner
        ((-5, -5, 20, 20), ELL, True),  # covers the whole polygon
        ((4, 4, 4, 4), ELL, True),  # the reflex vertex
    ],
)
def test_rect_intersects_polygon(rect, rings, want):
    assert oracles.rect_intersects_polygon(*rect, rings) is want


def test_checksum_matches_gdal_rule():
    arr = np.arange(12, dtype=np.int64).reshape(3, 4)
    primes = [7, 11, 13, 17, 19, 23, 29, 31, 37, 41, 43]
    want = sum(int(v) % primes[i % 11] for i, v in enumerate(arr.ravel())) % 65536
    assert oracles.checksum(arr) == want


@pytest.mark.parametrize("seed", [0, 1, -5, 2999, 123456789, 2**32 - 1, 2**63 + 11])
def test_any_seed_keeps_ids_in_the_datagen_range(seed):
    # docs_table hashes ids as id * 2654435761 in 64-bit ANSI arithmetic
    from perfbench.workloads import WORKLOADS, id_offset

    lo = id_offset(seed)
    assert lo >= 0 and lo % 1000 == 0
    top = lo + 10 * max(w.unit_docs for w in WORKLOADS.values())
    assert top * 2654435761 < 2**63


def test_s2_reference_cells():
    # level-0 face cells of the six axis directions, and the level-1
    # child of face 0 at i, j both in the upper half (Hilbert position 2)
    ax = np.array([[1, 0, 0], [0, 1, 0], [0, 0, 1], [-1, 0, 0], [0, -1, 0], [0, 0, -1]], dtype=np.float64)
    got = oracles.s2_cells(ax[:, 0], ax[:, 1], ax[:, 2], 0)
    assert [int(c) for c in got] == [(f << 61) | (1 << 60) for f in range(6)]
    one = oracles.s2_cells(np.array([1.0]), np.array([0.1]), np.array([0.1]), 1)
    assert int(one[0]) == (2 << 59) | (1 << 58)


def test_trace_helpers():
    assert parse_metric_string("1,234") == 1234
    assert parse_metric_string("total (min, med, max (stageId: taskId))\n2.0 KiB (1.0 KiB, ...)") == 2048
    assert parse_metric_string("1.5 s") == 1500
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4


# -- oracles catch a wrong answer --------------------------------------------


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from perfbench import run

    workdir = str(tmp_path_factory.mktemp("perfbench"))
    run.prepare_environment(workdir)
    session = run.start_spark(workdir)
    yield session, workdir
    run.stop_spark(session)


@pytest.mark.parametrize("name", ["join_points_fewzones", "join_polygons_manyzones", "raster_tiling"])
def test_perturbed_expectation_fails(spark, name):
    """A pass checks clean against the oracle; the same pass against an
    oracle with one value changed reports the step that disagrees."""
    from perfbench import run
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS

    session, workdir = spark
    wl = WORKLOADS[name](11, 0.02, workdir)
    inputs = wl.make_inputs(session)
    expected = wl.expected()
    tracer = Tracer(session, "selftest", False)
    _, attempted, failed = run.run_pass(tracer, wl, session, inputs, expected, "clean")
    assert (attempted, failed) == (len(wl.steps), 0)

    bad = dict(expected)
    if name == "join_points_fewzones":
        bad["zone_counts"] = {**expected["zone_counts"], 0: expected["zone_counts"].get(0, 0) + 1}
        # one level-8 cell without its level marker bit
        cells = dict(expected["s2_cells"])
        cell = next(iter(cells))
        cells[cell ^ (1 << 44)] = cells.pop(cell)
        bad["s2_cells"] = cells
        wrong_steps = {"join", "join_cells", "s2"}
    elif name == "join_polygons_manyzones":
        bad["sample_pairs"] = set(expected["sample_pairs"]) | {(expected["sample_ids"][0], 10**6)}
        wrong_steps = {"join", "join_cells"}
    else:
        bad["checksum"] = (expected["checksum"] + 1) % 65536
        wrong_steps = {"rasterize"}
    spans, attempted, failed = run.run_pass(tracer, wl, session, inputs, bad, "perturbed")
    assert failed == len(wrong_steps)
    assert {s["name"] for s in spans if "errors" in s} == wrong_steps


# -- the command emits every named metric with its unit ------------------------


def _run(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload, "--seed", "7",
         "--seconds", "0", "--trace", str(trace), "--scale", "0.02"],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", [w["name"] for w in BENCHMARK["workloads"]])
def test_end_to_end_metrics(workload):
    out = _run(workload, 0)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in BENCHMARK["end_to_end"]}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    assert all(v["value"] > 0 for v in out["metrics"].values())


def test_per_layer_metrics():
    out = _run(BENCHMARK["workloads"][0]["name"], 1)
    assert out["correct"] is True
    want = {m["name"]: m["unit"] for m in BENCHMARK["per_layer"]}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want


def test_refuses_without_engine(tmp_path):
    """Outside a source checkout the command fails without a result."""
    bench = tmp_path / "perfbench"
    bench.mkdir()
    for f in ("__init__.py", "run.py"):
        (bench / f).write_text(open(os.path.join(ROOT, "perfbench", f)).read())
    proc = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "raster_tiling", "--seed", "1",
                           "--seconds", "1", "--trace", "0"], cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert proc.returncode != 0 and proc.stdout.strip() == ""
