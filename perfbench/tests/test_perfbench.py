"""Tests of the benchmark itself: input generators, metric names, the
tail rule, self-time arithmetic, and smoke runs in which a corrupted
expected value must trip the workload's correctness gate.

    python3 -m pytest perfbench/tests -q

The smoke runs start Spark (about a minute each); the rest is fast.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys
import textwrap

import pytest

import run
import tables
from spans import Span, op_balance, self_times
from stats import tail
from workbooks import (BOUNDARY_GRADES, IN_PROGRESS_TERM, JUNK, LENIENT_COLS,
                       Registrar, row_key)

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


# -- generators --------------------------------------------------------------
def test_tables_are_deterministic_per_seed():
    a, b, c = (tables.make_tables(300, s) for s in (5, 5, 6))
    assert all(a[n].equals(b[n]) for n in a)
    assert not a["lineitem"].equals(c["lineitem"])


def test_registrar_is_deterministic_per_seed():
    def history(seed):
        reg = Registrar(seed, rows_per_faculty=400)
        drops = [reg.redrop() for _ in range(3)]
        return reg.files, drops

    assert history(9) == history(9)
    assert history(9) != history(10)


def test_registrar_covers_the_reference_schema():
    reg = Registrar(3, rows_per_faculty=2400)
    col = {n: i for i, n in enumerate(("F_MASV", "F_MAMH", "F_TENMHVN",
                                       "F_DVHT", "F_TENLOP", "NHHK", "F_DIEM2",
                                       "F_TCDTTL", "F_KHOAHOC", "@timestamp"))}
    for rows in reg.files:
        grades = {r[col["F_DIEM2"]] for r in rows}
        assert set(BOUNDARY_GRADES) <= grades
        starred = sum("*" in r[col["F_TENMHVN"]] for r in rows) / len(rows)
        assert 0.01 < starred < 0.12
        assert any(r[col["NHHK"]] == IN_PROGRESS_TERM for r in rows)
        for c in LENIENT_COLS:
            assert any(r[col[c]] in JUNK for r in rows)
        keys = [row_key(r) for r in rows]
        assert len(set(keys)) < len(keys)
        assert len({tuple(r) for r in rows}) < len(rows)


def test_redrop_change_set_is_what_the_state_shows():
    reg = Registrar(4, rows_per_faculty=1000)
    before = reg.state()
    f, changes = reg.redrop()
    after = reg.state()
    n_rows = len(reg.files[f])
    assert 0.015 < (len(changes) - 3) / n_rows < 0.03
    moved = {k for k in after if before.get(k) != after[k]}
    assert moved == {row_key(r) for r in changes}


def test_workbooks_round_trip_through_both_parsers(tmp_path):
    from _big_data_analytics_and_visualization_tracking_student_progress__spark.sources.xls import read_xls_rows
    from _big_data_analytics_and_visualization_tracking_student_progress__spark.sources.xlsx import read_xlsx_rows

    reg = Registrar(2, rows_per_faculty=200)
    folder = tmp_path / "drop"
    folder.mkdir()
    for f, read in ((0, read_xls_rows), (1, read_xlsx_rows)):
        header, rows = read(reg.write(str(folder), f))
        assert [list(r) for r in rows] == [list(r) for r in reg.files[f]]
        assert header[0] == "F_MASV"


# -- metric names and the JSON contract --------------------------------------
def test_metric_names_and_units():
    spec = _spec()
    names = [m["name"] for group in ("workloads", "end_to_end", "per_layer")
             for m in spec[group]]
    assert all(NAME.match(n) for n in names), names
    assert len(names) == len(set(names))
    assert all(UNIT.match(m["unit"]) for g in ("end_to_end", "per_layer")
               for m in spec[g])
    assert [m["name"] for m in spec["per_layer"]] == list(run.PER_LAYER)
    assert {w["name"] for w in spec["workloads"]} == set(run.WORKLOADS)
    assert any(m["name"] == "setup_s" and m["unit"] == "s"
               for m in spec["end_to_end"])


# -- tail rule ----------------------------------------------------------------
def test_tail_is_the_highest_percentile_with_ten_samples_beyond():
    xs = [float(i) for i in range(1, 101)]
    assert tail(xs[:19]) is None
    assert tail(xs[:20]) == (50.0, 10.0)
    assert tail(xs[:40]) == (75.0, 30.0)
    assert tail(xs) == (90.0, 90.0)
    assert tail(xs * 10) == (99.0, 99.0)


# -- self time -----------------------------------------------------------------
def test_self_time_subtracts_covered_child_time():
    spans = [
        Span(1, "op", 0.0, 10.0, None, 0),
        Span(2, "a", 1.0, 4.0, 1, 0),
        Span(3, "b", 5.0, 8.0, 1, 0),
        Span(4, "a.child", 2.0, 3.0, 2, 0),
    ]
    assert self_times(spans) == {1: 4.0, 2: 2.0, 3: 3.0, 4: 1.0}
    assert op_balance(spans) == 0.0


def test_self_time_counts_overlapping_children_once():
    spans = [
        Span(1, "op", 0.0, 10.0, None, 0),
        Span(2, "a", 1.0, 6.0, 1, 0),
        Span(3, "b", 4.0, 12.0, 1, 0),  # overlaps a, runs past the parent
    ]
    assert self_times(spans)[1] == pytest.approx(1.0)


def test_tracer_restores_what_it_wraps():
    from spans import Tracer

    class Target:
        def work(self):
            return 7

    tracer = Tracer()
    original = Target.work
    tracer.wrap(Target, "work", "layer.work", keep_return=True)
    assert Target().work() == 7
    assert [s.name for s in tracer.spans] == ["layer.work"]
    assert list(tracer.returns.values()) == [7]
    tracer.restore()
    assert Target.work is original


# -- smoke runs: a corrupted expected value trips the gate -------------------
_DRIVER = """
import json, sys
sys.path.insert(0, {bench!r})
sys.argv = ["run.py"] + {argv!r}
{patch}
import run
sys.exit(run.main())
"""

_CORRUPT = {
    # every page's expected GPA is off by one grade point
    "student_page": textwrap.dedent("""
        import pages
        real = pages.oracle
        pages.oracle = lambda d: {k: (g + 1.0, c, s)
                                  for k, (g, c, s) in real(d).items()}
    """),
    # the generator's per-cohort totals are off by one row
    "drop_ingest": textwrap.dedent("""
        import workbooks
        real = workbooks.Registrar.cohort_totals
        workbooks.Registrar.cohort_totals = lambda self: {
            k: (n + 1, s) for k, (n, s) in real(self).items()}
    """),
}


@pytest.mark.parametrize("workload", sorted(_CORRUPT))
def test_corrupted_expectation_trips_the_gate(workload, tmp_path):
    code = _DRIVER.format(
        bench=BENCH,
        argv=["--workload", workload, "--seed", "1", "--seconds", "1"],
        patch=_CORRUPT[workload],
    )
    proc = subprocess.run([sys.executable, "-c", code], cwd=ROOT,
                          capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["correct"] is False
    assert out["failed"] >= 1
    assert "FAILED" in proc.stderr


def test_missing_package_fails_without_a_result(tmp_path):
    bench = tmp_path / "perfbench"
    bench.mkdir()
    for name in os.listdir(BENCH):
        if name.endswith(".py"):
            (bench / name).write_text(open(os.path.join(BENCH, name)).read())
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "student_page",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
