"""``drop_ingest``: a registrar re-uploads faculty workbooks, closed loop.

Set-up writes the seeded workbooks into a drop folder and bulk-loads
them through the whole write path.  Each timed drop then re-uploads one
workbook with about 2% of its grades changed and a few new-term rows:

    DropIngestor.process_once   drop folder scan → read_excel → row-hash
                                CDC → changed-rows log → KeyedParquetTable
    upsert_stream_run           log → ManifestSnapshotTable (partitioned by
                                cohort, keyed by the con.py composite key)
                                → IncrementalAggView (rows, grade sum)
    probe                       reference_domain.transcript + view.read()

A drop's latency runs from the finished workbook write until the probe
has seen the change in both the table and the view.
"""

from __future__ import annotations

import os
import time
from decimal import Decimal
from importlib import import_module

from pyspark.sql import functions as F

from common import PKG, Bench, Op
from workbooks import (KEY_COLS, LENIENT_COLS, N_FACULTIES, Registrar,
                       lenient_grade)

ROWS_PER_FACULTY = 2400
WARM_DROPS = 3
MIN_DROPS = 2


def _tree(path: str, skip: str) -> dict[str, tuple[int, int]]:
    """``{file: (size, mtime_ns)}`` under ``path``, outside ``skip``."""
    out = {}
    for d, dirs, files in os.walk(path):
        dirs[:] = [x for x in dirs if os.path.join(d, x) != skip]
        for name in files:
            p = os.path.join(d, name)
            try:
                st = os.stat(p)
            except FileNotFoundError:
                continue
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def bytes_written(before: dict, after: dict) -> int:
    """Bytes of the files that are new or rewritten between two walks."""
    return sum(sig[0] for p, sig in after.items() if before.get(p) != sig)


class Pipeline:
    """The registrar's write path, built once per run."""

    def __init__(self, b: Bench, reg: Registrar):
        upsert = import_module(f"{PKG}.operators.upsert")
        matview = import_module(f"{PKG}.operators.matview")
        watcher = import_module(f"{PKG}.sources.watcher")
        self.scalar = import_module(f"{PKG}.functions.scalar")
        self.pipeline = import_module(f"{PKG}.streaming.pipeline")
        self.reference = import_module(f"{PKG}.plans.reference_domain")
        self.readers = import_module(f"{PKG}.sources.readers")
        self.spark = b.spark
        self.reg = reg
        self.wd = b.path("ingest")
        self.drop = os.path.join(self.wd, "drop")
        os.makedirs(self.drop)
        self.seq = watcher.SEQ_COL
        self.staging = upsert.KeyedParquetTable(
            self.spark, os.path.join(self.wd, "staging"),
            keys=list(KEY_COLS), order_cols=[self.seq, "@timestamp"],
        )
        self.ingestor = watcher.DropIngestor(
            self.spark, self.drop, os.path.join(self.wd, "state"), self.staging
        )
        self.sink = upsert.ManifestSnapshotTable(
            self.spark, os.path.join(self.wd, "fact"), keys=["doc_id"],
            order_cols=[self.seq, "@timestamp"], partition_by=["F_KHOAHOC"],
            stable_partitions=True,
        )
        self.view = matview.IncrementalAggView(
            self.spark, os.path.join(self.wd, "view"), self.sink,
            group_cols=["F_KHOAHOC"],
            measures=[("n_rows", None, "count"),
                      ("grade_sum", "grade_dec", "sum")],
            prepare=_prepare_grade,
        )
        self.log_schema = None

    def stream(self) -> None:
        if self.log_schema is None:
            self.log_schema = self.spark.read.parquet(self.ingestor.log_path).schema
        sdf = self.readers.file_stream(
            self.spark, self.ingestor.log_path, self.log_schema
        )
        strings = ["F_MASV", "F_MAMH", "F_TENMHVN", "F_TENLOP", "F_KHOAHOC",
                   *LENIENT_COLS]
        typed = sdf.select(
            *[F.col(c).cast("string").alias(c) for c in strings],
            F.col("NHHK").cast("int").alias("NHHK"),
            F.col("`@timestamp`").cast("long").alias("@timestamp"),
            F.col(self.seq).cast("long").alias(self.seq),
        ).withColumn(
            "doc_id",
            self.scalar.composite_key(*[F.col(c) for c in KEY_COLS]),
        )
        self.pipeline.upsert_stream_run(
            self.spark, typed, self.sink, workdir=os.path.join(self.wd, "run"),
            view=self.view,
        )

    def probe(self, masv: str):
        """The reads a student and a dashboard make after the drop."""
        table = self.sink.read()
        transcript = self.reference.transcript(table, masv).collect()
        view = self.view.read().collect()
        return transcript, view


def _prepare_grade(df):
    return df.withColumn(
        "grade_dec", F.col("F_DIEM2").try_cast("double").cast("decimal(22,4)")
    )


def _transcript_ok(rows, reg_state: dict, masv: str) -> bool:
    want = sorted(
        (r["F_MAMH"], r["NHHK"], lenient_grade(r["F_DIEM2"]))
        for r in reg_state.values() if r["F_MASV"] == masv
    )
    got = sorted((r["F_MAMH"], r["NHHK"], r["F_DIEM2"]) for r in rows)
    return got == want


def _view_dict(rows) -> dict:
    return {r["F_KHOAHOC"]: (int(r["n_rows"]), Decimal(r["grade_sum"]))
            for r in rows}


def run(b: Bench, seconds: float) -> dict:
    spark = b.start_spark()
    t = time.perf_counter()
    reg = Registrar(b.seed, ROWS_PER_FACULTY)
    p = Pipeline(b, reg)
    for f in range(N_FACULTIES):
        reg.write(p.drop, f)
    b.info["workbook_gen_s"] = time.perf_counter() - t
    b.info["workbook_rows"] = reg.n_rows

    t = time.perf_counter()
    p.ingestor.process_once()
    p.stream()
    bulk = time.perf_counter() - t
    logged = spark.read.parquet(p.ingestor.log_path).count()
    if logged != reg.n_rows:
        b.setup_failures += 1
        b.report_failure(f"bulk load logged {logged} of {reg.n_rows} rows")

    # Untimed, checked warm drops.  The first re-upload compiles the
    # incremental paths (hash anti-join, pruned merge, partial refresh)
    # and the next ones run the JIT down its warm-up curve: re-uploads
    # 2-4 take about 1.25x, 1.15x and 1.1x the time of a later one, and
    # 1.8x, 1.5x and 1.2x its CPU time, so after three warm drops the
    # timed ones are about as fast as they get in a run.  The first is
    # the .xls drop in the registrar's order, so the legacy parser runs
    # in every run; the registrar re-uploads the .xls workbook again
    # every eighth drop, so timed drops 1-5 are .xlsx.
    for _ in range(WARM_DROPS):
        if not drop(b, p, op_id=None).ok:
            b.setup_failures += 1
    setup_s = time.perf_counter() - b.t0

    # Every drop that starts inside the window is timed to its end, so a
    # run holds about ``seconds`` / 4.5 s drops, and at least MIN_DROPS
    # on a slow host.
    deadline = time.perf_counter() + seconds
    while len(b.ops) < MIN_DROPS or time.perf_counter() < deadline:
        b.ops.append(drop(b, p, op_id=len(b.ops)))

    if not final_checks(p):
        b.setup_failures += 1
    return {
        "setup_s": setup_s,
        "named": {"bulk_load_s": (bulk, "s")},
        "prefix": "drop_visible",
    }


def drop(b: Bench, p: Pipeline, op_id: int | None) -> Op:
    """One re-upload, timed from the finished write until the probe sees
    it; ``op_id`` None marks the untimed warm drop (no op span)."""
    reg = p.reg
    f, changes = reg.redrop()
    before = _tree(p.wd, p.drop)
    masv = changes[0][0]
    path = reg.write(p.drop, f)
    job0 = b.next_job_id()
    cpu0 = b.cpu_s()
    t_written = time.perf_counter()
    root = (b.tracer.open("op", start=t_written, op=op_id)
            if b.tracer and op_id is not None else None)
    batch = None
    try:
        batch = p.ingestor.process_once()
        p.stream()
        transcript, view = p.probe(masv)
        t_visible = time.perf_counter()
        cpu = b.cpu_s() - cpu0
        error = None
    except Exception as exc:  # noqa: BLE001 — a failed drop is counted
        t_visible = time.perf_counter()
        cpu = b.cpu_s() - cpu0
        error = exc
    finally:
        if root:
            b.tracer.close(root)
    jobs, tasks = b.job_stats(range(job0, b.next_job_id()))
    ok = error is None
    extra = {"file_rows": len(reg.files[f])}
    if ok:
        state = reg.state()
        n_logged = batch.count() if batch is not None else 0
        checks = {
            "logged rows = change set": n_logged == len(changes),
            "transcript shows the change": _transcript_ok(transcript, state, masv),
            "view = generator totals": _view_dict(view) == reg.cohort_totals(),
        }
        for what, passed in checks.items():
            if not passed:
                b.report_failure(f"drop of {path}: {what}")
        ok = all(checks.values())
        extra["logged"] = n_logged
    else:
        b.report_failure(f"drop of {path}", error)
    after = _tree(p.wd, p.drop)
    extra["bytes_written"] = bytes_written(before, after)
    return Op(t_visible - t_written, ok, jobs, tasks, cpu, extra)


def final_checks(p: Pipeline) -> bool:
    """The table equals the generator's last-write-wins state and the
    view equals a batch re-aggregation of the table."""
    state = p.reg.state()
    table = p.sink.read()
    cols = ["F_MASV", "F_MAMH", "F_TENMHVN", "F_TENLOP", "F_KHOAHOC",
            *LENIENT_COLS, "NHHK", "@timestamp"]
    got = sorted(tuple(r) for r in table.select(*[F.col(f"`{c}`") for c in cols]).collect())
    want = sorted(tuple(row[c] for c in cols) for row in state.values())
    table_ok = got == want
    batch = (
        _prepare_grade(table).groupBy("F_KHOAHOC")
        .agg(F.count(F.lit(1)).alias("n_rows"),
             F.sum("grade_dec").alias("grade_sum"))
        .collect()
    )
    view_ok = _view_dict(p.view.read().collect()) == _view_dict(batch)
    if not table_ok:
        Bench.report_failure(
            f"final table: {len(set(got) ^ set(want))} distinct rows and "
            f"{len(got)} vs {len(want)} rows differ from the generator state"
        )
    if not view_ok:
        Bench.report_failure("final view differs from a batch re-aggregation")
    return table_ok and view_ok
