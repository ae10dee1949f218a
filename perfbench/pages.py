"""``student_page``: students open their progress page, closed loop.

One client opens pages back to back: the next request goes out when the
previous page has been checked.  Each request renders
``serving.report.render_student_report`` for one student.  Keys mix
returning students (a repeat of one of the last few keys) with keys
drawn uniformly over all students.  A page's latency runs from the
request until the rendered HTML is back.

The loop is closed because an open loop was not steady enough to bound:
at 0.3 pages/s (a send every 3.3 s against a 2.2-2.5 s page) an
18-second run held five pages, and whenever the host slowed pages past
the send interval they queued, so the median page latency of ten seeds
spread 0.39 and 0.77 of its median in two sets of runs of the same
code.  Back to back, a slow page delays none of the others.
"""

from __future__ import annotations

import random
import time
from concurrent.futures import ThreadPoolExecutor
from importlib import import_module

from common import PKG, Bench, Op
from tables import write_tables

N_STUDENTS = 15000
RETURNING_SHARE = 0.3
RECENT_KEYS = 8
WARM_PAGES = 6
MIN_PAGES = 3
SLO_S = 5.0


def keys(seed: int):
    """The student key of every page in the run, in order."""
    rng = random.Random(seed)
    recent: list[int] = []
    while True:
        if recent and rng.random() < RETURNING_SHARE:
            key = rng.choice(recent)
        else:
            key = rng.randint(1, N_STUDENTS)
        recent = (recent + [key])[-RECENT_KEYS:]
        yield key


def oracle(sf_dir: str) -> dict[int, tuple]:
    """``custkey -> (gpa4, credits_earned, status)`` from the flagship
    report's reference SQL, run in DuckDB."""
    import duckdb

    sp = import_module(f"{PKG}.plans.student_progress")
    con = duckdb.connect()
    try:
        for t in ("lineitem", "orders", "customer", "nation", "region"):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )
        rows = con.execute(
            f"SELECT c_custkey, gpa4, credits_earned, status FROM ({sp.FLAGSHIP_ORACLE_SQL})"
        ).fetchall()
    finally:
        con.close()
    return {int(k): (g, c, s) for k, g, c, s in rows}


def expected_fragments(report, key: int, want: tuple | None) -> list[str]:
    """HTML the page must contain for ``key``, formatted by the page's
    own display rules."""
    if want is None:
        return [f"<h1>Student {key}</h1>", "no records found"]
    gpa, credits, status = want
    return [
        f"student #{key}",
        f"<div class='hero'>{report._esc(report._fmt(gpa))}</div>",
        f"<div class='value'>{report._esc(report._fmt(credits))}</div>",
        report._status_chip(status),
    ]


def _inputs(b: Bench, sf_dir: str) -> dict[int, tuple]:
    t = time.perf_counter()
    b.info["table_rows"] = write_tables(sf_dir, N_STUDENTS, b.seed)
    b.info["table_gen_s"] = time.perf_counter() - t
    t = time.perf_counter()
    want = oracle(sf_dir)
    b.info["oracle_s"] = time.perf_counter() - t
    return want


def run(b: Bench, seconds: float) -> dict:
    sf_dir = b.path("sf")
    # the tables and the oracle are made while the JVM starts
    with ThreadPoolExecutor(max_workers=1) as gen:
        inputs = gen.submit(_inputs, b, sf_dir)
        b.start_spark()
        want = inputs.result()
    report = import_module(f"{PKG}.serving.report")
    rng = random.Random(b.seed + 1)

    def page(key: int) -> bool:
        html = report.render_student_report(b.spark, sf_dir, key)
        missing = [f for f in expected_fragments(report, key, want.get(key))
                   if f not in html]
        if missing:
            b.report_failure(f"page for student {key}: missing {missing[0]!r}")
        return not missing

    # The first page compiles the plans and the next ones run the JIT
    # down the steep part of its warm-up curve (pages 2-6 take from about
    # 2x down to 1.4x the time of a fully warm page); all are checked,
    # none is timed.  Pages keep getting faster for about 40 s of paging;
    # warming up that far would add about 15 s to every run's set-up.
    for _ in range(WARM_PAGES):
        key = rng.randint(1, N_STUDENTS)
        try:
            ok = page(key)
        except Exception as exc:  # noqa: BLE001 — counted, never skipped
            b.report_failure(f"warm page for student {key}", exc)
            ok = False
        b.setup_failures += not ok
    setup_s = time.perf_counter() - b.t0

    # Every page that starts inside the window is timed to its end.
    stream = keys(b.seed)
    deadline = time.perf_counter() + seconds
    while len(b.ops) < MIN_PAGES or time.perf_counter() < deadline:
        i, key = len(b.ops), next(stream)
        group = f"page-{i}"
        b.spark.sparkContext.setJobGroup(group, group, False)
        cpu0 = b.cpu_s()
        t = time.perf_counter()
        root = b.tracer.open("op", start=t, op=i) if b.tracer else None
        try:
            ok = page(key)
        except Exception as exc:  # noqa: BLE001 — counted, never skipped
            b.report_failure(f"page for student {key}", exc)
            ok = False
        finally:
            done = time.perf_counter()
            cpu = b.cpu_s() - cpu0
            if root:
                b.tracer.close(root)
        jobs, tasks = b.group_stats(group)
        b.ops.append(Op(done - t, ok, jobs, tasks, cpu))

    slo = sum(1 for op in b.ops if op.ok and op.latency_s <= SLO_S) / len(b.ops)
    return {
        "setup_s": setup_s,
        "named": {"page_slo_share": (slo, "share")},
        "prefix": "page",
    }
