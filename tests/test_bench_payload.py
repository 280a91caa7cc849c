"""The bench stdout line IS the driver's official per-round record —
the driver keeps the last ~2000 chars of output, so a line longer
than the window is truncated from the FRONT and the record goes
unparseable (it did in r5 and r6). These tests pin the envelope so
adding benched queries can never silently re-break it."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _bench():
    import importlib

    sys.path.insert(0, _REPO)
    return importlib.import_module("bench")


def test_payload_fits_capture_window_at_worst_case_widths():
    """Every benched query at a 4-char value (99.9 — no sf0.1 query
    is within 10x of that) must fit the budget, with headroom for
    several more rows."""
    bench = _bench()
    worst = {n: 99.9 for n in bench.BENCH_QUERIES}
    p = bench._stdout_payload(worst, 9999.999, 0.1, rot=12, pyloop_ds=999)
    assert len(p) <= bench._STDOUT_BUDGET
    # headroom probe: +5 future queries still fit (possibly via the
    # integer-degrade rung, which is exactly what it exists for)
    bigger = dict(worst, **{f"future_query_{i}": 99.9 for i in range(5)})
    p2 = bench._stdout_payload(bigger, 9999.999, 0.1, pyloop_ds=999)
    assert len(p2) <= bench._STDOUT_BUDGET


def test_rotation_covers_every_declared_row_within_k_rounds():
    """v7 contract (r14 VERDICT task 5): the stdout map rotates —
    BASELINE_PINNED every round, the rest via a round-robin window —
    so EVERY declared benched row reaches the external BENCH_r*.json
    record within k = ceil(pool / width) rounds, and every rotation
    renders at the 1-decimal rung (BENCH_r{N} values are only useful
    for cross-round deltas with >= 1 decimal)."""
    bench = _bench()
    from cubert_spark.queries import all_queries

    declared = set(all_queries())
    # pinned rows must be real declared+benched rows — a typo would
    # silently drop a judge-gate row from every round's record
    assert set(bench.BASELINE_PINNED) <= declared & set(bench.BENCH_QUERIES)
    declared_order = [n for n in bench.BENCH_QUERIES if n in declared]
    timings = {n: 99.9 for n in declared_order}
    pool = len(declared_order) - len(
        [n for n in bench.BASELINE_PINNED if n in timings]
    )
    width = bench.MAX_STDOUT_ROWS - len(bench.BASELINE_PINNED)
    k = -(-pool // width)  # ceil
    assert k <= 2, f"rotation period grew to {k} rounds — document it"
    seen = set()
    for rot in range(k):
        rows = bench._rotate_stdout_rows(timings, declared_order, rot)
        assert set(bench.BASELINE_PINNED) <= set(rows)
        assert len(rows) <= bench.MAX_STDOUT_ROWS
        p = bench._stdout_payload(rows, 9999.999, 0.1, rot=rot, pyloop_ds=999)
        assert len(p) <= bench._STDOUT_BUDGET
        d = json.loads(p)
        assert d["rot"] == rot
        assert d["queries"][next(iter(rows))] == 99.9  # 1-decimal rung
        seen |= set(rows)
    assert seen == set(declared_order), (
        f"rows never reaching the external record: "
        f"{set(declared_order) - seen}"
    )
    # consecutive rotation indices shift the window: rot and rot+k
    # carry the same map (period k), rot and rot+1 differ when the
    # pool overflows one window
    if pool > width:
        r0 = bench._rotate_stdout_rows(timings, declared_order, 0)
        r1 = bench._rotate_stdout_rows(timings, declared_order, 1)
        assert set(r0) != set(r1)


def test_payload_is_parseable_json_with_contract_keys():
    """The line stays parseable with the contract keys at ANY bench
    row count: every row is either in the map or counted in "dropped"
    (the v6 heaviest-first drop rung — production stdout carries the
    smaller declared-only set, pinned by the budget test above)."""
    bench = _bench()
    t = {n: 1.234 for n in bench.BENCH_QUERIES}
    p = bench._stdout_payload(t, 107.358, 0.1)
    assert len(p) <= bench._STDOUT_BUDGET
    d = json.loads(p)
    assert d["metric"] == "bench_total_wall_sec"
    assert d["unit"] == "sec"
    assert d["sf"] == 0.1
    assert d["value"] == 107.358
    assert set(d["queries"]) <= set(bench.BENCH_QUERIES)
    assert len(d["queries"]) + d.get("dropped", 0) == len(bench.BENCH_QUERIES)
    assert all(isinstance(v, (int, float)) for v in d["queries"].values())
    # v8 host-attribution keys (r15 VERDICT task 7): always present —
    # null quiet means the gate never ran, and no gate runs any more
    assert d["v"] == 8
    assert "quiet" in d and d["quiet"] is None
    assert "pyloop_ds" in d
    d8 = json.loads(
        bench._stdout_payload({"q1_groupby_agg": 1.2}, 1.2, 0.1, rot=3, pyloop_ds=4)
    )
    assert d8["quiet"] is None and d8["pyloop_ds"] == 4
    assert set(d8) == {
        "metric", "value", "unit", "queries", "v", "sf", "rot", "quiet",
        "pyloop_ds",
    }


def test_degrade_rung_kicks_in_rather_than_overflow():
    """Just past the budget at 1 decimal (realistic name widths), the
    integer rung engages and the line fits + parses."""
    bench = _bench()
    # 90 entries x 13-char names at 5-char values: ~2,070 bytes at
    # 1 decimal (overflow), ~1,890 as integers (fits)
    huge = {f"query_name_{i:02d}": 123.456 for i in range(90)}
    p = bench._stdout_payload(huge, 9999.9, 0.1)
    assert len(p) <= bench._STDOUT_BUDGET
    d = json.loads(p)
    assert d["queries"]["query_name_00"] == 123  # integer rung used


def test_named_rows_mode_times_only_those_rows(tmp_path, sf_dir):
    """``bench.py Q ...`` is one side of the A/B pair: one JSON object
    on stdout holding only the named rows, and no record file. Run in a
    subprocess because ``main`` stops its session; the script runs from
    a copy so a stray BENCH_DETAIL*.json would land in ``tmp_path``."""
    shutil.copy(os.path.join(_REPO, "bench.py"), tmp_path)
    env = dict(
        os.environ,
        PYTHONPATH=_REPO,
        SPARK_GRAFT_SF_DIR=sf_dir,
        SPARK_GRAFT_BENCH_RUNS="1",
    )
    out = subprocess.run(
        [sys.executable, str(tmp_path / "bench.py"), "q1_groupby_agg"],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    lines = out.stdout.splitlines()
    assert len(lines) == 1, out.stdout
    d = json.loads(lines[0])
    assert list(d) == ["q1_groupby_agg"]
    assert len(d["q1_groupby_agg"]["runs"]) == 1
    assert d["q1_groupby_agg"]["min"] == d["q1_groupby_agg"]["runs"][0]
    assert list(tmp_path.glob("BENCH_DETAIL*.json")) == []
