"""Student-progress benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload drop_ingest --seed 1 --seconds 12 --trace 0

Workloads (see BENCHMARK.json and perfbench/METRICS.md):

- ``drop_ingest``  closed loop, one registrar re-uploading workbooks;
- ``student_page`` closed loop, one student opening progress pages.

Human-readable lines (every metric by name with its unit, the pinned
environment, failures) go to stdout first; the last line is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``.  With
``--trace 0`` the metrics are the end-to-end ones.  With ``--trace 1``
the same workload runs with spans wrapped around the engine's public
functions, the spans are written to ``.bench_out/`` and the metrics are
the per-layer ones.
"""

from __future__ import annotations

import argparse
import dataclasses
import importlib.util
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from common import PKG, ROOT, Bench  # noqa: E402

WORKLOADS = ("drop_ingest", "student_page")
OUT_DIR = os.path.join(ROOT, ".bench_out")

# span name -> per-layer metric (every other span name X reports X_s)
_SELF_METRICS = {
    "op": "bench.op_self_s",
    "cdc": "cdc.self_s",
    "streaming.run": "streaming.run_self_s",
    "serving.page": "serving.page_self_s",
}
PER_LAYER = (
    "sources.read_excel_s", "sources.monitor_scan_s", "cdc.self_s",
    "cdc.changed_share", "upsert.staging_s", "upsert.manifest_s",
    "upsert.manifest_read_s", "upsert.bytes_written_per_drop",
    "upsert.bytes_per_changed_row",
    "streaming.run_self_s", "streaming.batches_per_drop",
    "matview.refresh_s", "matview.recomputed_share", "matview.read_s",
    "plans.reference_transcript_s", "plans.flagship_lookup_s",
    "plans.transcript_lookup_s", "queries.grade_histogram_s",
    "serving.page_self_s", "bench.op_self_s",
    "session.start_s", "spark.jobs_per_op", "spark.tasks_per_op",
)
COUNTS = {"upsert.bytes_written_per_drop": "bytes",
          "upsert.bytes_per_changed_row": "bytes",
          "streaming.batches_per_drop": "count",
          "spark.jobs_per_op": "count", "spark.tasks_per_op": "count"}


def unit_of(name: str) -> str:
    if name in COUNTS:
        return COUNTS[name]
    return "share" if name.endswith("_share") else "s"


def install_spans(tracer) -> None:
    """Wrap the engine's public functions.  ``process_once`` imports
    ``read_excel`` at call time, so wrapping the readers module's
    attribute reaches it; ``with_row_hash`` is bound at import, so the
    row-hash CDC shows up as ``process_once``'s self time."""
    from importlib import import_module

    try:
        from pyspark.sql.classic.dataframe import DataFrame
    except ImportError:
        from pyspark.sql import DataFrame

    mod = lambda name: import_module(f"{PKG}.{name}")  # noqa: E731
    watcher = mod("sources.watcher")
    upsert = mod("operators.upsert")
    view = mod("operators.matview").IncrementalAggView
    registry = mod("registry")
    registry.all_queries()  # registration happens on first use
    tracer.wrap(mod("sources.readers"), "read_excel", "sources.read_excel")
    tracer.wrap(watcher.DropFolderMonitor, "scan", "sources.monitor_scan")
    tracer.wrap(watcher.DropIngestor, "process_once", "cdc")
    tracer.wrap(upsert.KeyedParquetTable, "upsert", "upsert.staging")
    tracer.wrap(upsert.ManifestSnapshotTable, "upsert", "upsert.manifest")
    # read() resolves the manifest eagerly before returning its plan
    tracer.wrap(upsert.ManifestSnapshotTable, "read", "upsert.manifest_read")
    tracer.wrap(mod("streaming.pipeline"), "upsert_stream_run",
                "streaming.run", adopt=True)
    tracer.wrap(view, "refresh", "matview.refresh", keep_return=True)
    tracer.wrap(mod("serving.report"), "render_student_report", "serving.page")
    tracer.label(view, "read", "matview.read")
    tracer.label(mod("plans.reference_domain"), "transcript",
                 "plans.reference_transcript")
    sp = mod("plans.student_progress")
    tracer.label(sp, "flagship_progress", "plans.flagship_lookup")
    tracer.label(sp, "transcript_lookup", "plans.transcript_lookup")
    qd = registry._REGISTRY["grade_histogram"]
    tracer.replace_item(registry._REGISTRY, qd.name, dataclasses.replace(
        qd, fn=tracer.labelled(qd.fn, "queries.grade_histogram")))
    tracer.time_collects(DataFrame)


def per_layer(b: Bench, spans, res: dict) -> dict[str, float]:
    """Per-layer metrics: mean self time per timed op for every span
    name, plus the counts the workloads and layers report."""
    from spans import self_times

    selfs = self_times(spans)
    by_id = {s.id: s for s in spans}
    in_op = []  # spans under a timed op's root span
    for s in spans:
        r = s
        while r.parent is not None and r.parent in by_id:
            r = by_id[r.parent]
        if r.op is not None:
            in_op.append(s)
    n = max(len(b.ops), 1)
    out = {m: 0.0 for m in PER_LAYER}
    for s in in_op:
        metric = _SELF_METRICS.get(s.name, f"{s.name}_s")
        if metric in out:
            out[metric] += selfs[s.id] / n

    def mean(xs):
        return sum(xs) / len(xs) if xs else 0.0

    ops = b.ops
    drops = [op.extra for op in ops if "logged" in op.extra]
    logged = sum(d["logged"] for d in drops)
    refresh = [b.tracer.returns[s.id] for s in in_op if s.id in b.tracer.returns]
    out.update({
        "cdc.changed_share": mean([d["logged"] / d["file_rows"] for d in drops]),
        "upsert.bytes_written_per_drop": mean([d["bytes_written"] for d in drops]),
        "upsert.bytes_per_changed_row": (
            sum(d["bytes_written"] for d in drops) / logged if logged else 0.0),
        "streaming.batches_per_drop": (
            sum(s.name == "upsert.manifest" for s in in_op) / len(drops)
            if drops else 0.0),
        "matview.recomputed_share": mean([
            r["recomputed"] / r["total"] for r in refresh if r.get("total")]),
        "session.start_s": b.info.get("session_start_s", 0.0),
        "spark.jobs_per_op": mean([op.jobs for op in ops]),
        "spark.tasks_per_op": mean([op.tasks for op in ops]),
    })
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    spec = importlib.util.find_spec(PKG)
    if spec is None or not (spec.origin or "").startswith(ROOT + os.sep):
        print(f"error: package {PKG} not found under {ROOT}", file=sys.stderr)
        return 2

    tracer = None
    if args.trace:
        from spans import Tracer

        tracer = Tracer()
    b = Bench(args.workload, args.seed, tracer)
    try:
        if tracer:
            install_spans(tracer)
        if args.workload == "drop_ingest":
            import ingest as workload
        else:
            import pages as workload
        res = workload.run(b, args.seconds)
        peak = b.peak_rss_mb()
        b.info.update(b.cpu_shares())
    finally:
        if tracer:
            tracer.restore()
        b.stop()
    return report(args, b, res, peak)


def report(args, b: Bench, res: dict, peak: float) -> int:
    from stats import iqr_share, median, tail

    ok_lat = [op.latency_s for op in b.ops if op.ok]
    failed = sum(1 for op in b.ops if not op.ok) + (1 if b.setup_failures else 0)
    # the set-up and final checks count as one op
    attempted = len(b.ops) + 1
    # when every op failed the run is not correct; report their times
    p50 = median(ok_lat or [op.latency_s for op in b.ops])
    cpu = median([op.cpu_s for op in b.ops if op.ok] or [op.cpu_s for op in b.ops])
    prefix = res["prefix"]
    lines = [
        (f"{prefix}_p50_s", p50, "s"),
        (f"{prefix}_cpu_s", cpu, "s"),
        ("setup_s", res["setup_s"], "s"),
        ("peak_rss_mb", peak, "MB"),
        ("failed_share", failed / attempted, "share"),
    ] + [(k, v, u) for k, (v, u) in res["named"].items()]
    for k, v in sorted(b.info.items()):
        print(f"env {k} = {v}")
    print(f"run workload={args.workload} seed={args.seed} "
          f"seconds={args.seconds:g} trace={args.trace} ops={len(b.ops)}")
    for name, value, unit in lines:
        print(f"metric {name} = {value:.6g} {unit}")
    print("samples op_latency_s = " + " ".join(f"{x:.3f}" for x in ok_lat))
    print("samples op_cpu_s = " + " ".join(f"{op.cpu_s:.3f}" for op in b.ops))
    t = tail(ok_lat)
    if t:
        print(f"metric {prefix}_tail_s = {t[1]:.6g} s (p{t[0]:g}, n={len(ok_lat)})")
    else:
        print(f"metric {prefix}_tail_s = n/a (n={len(ok_lat)}: fewer than "
              "ten samples beyond any percentile)")

    e2e = {"op_p50_s": p50, "op_cpu_s": cpu, "setup_s": res["setup_s"]}
    os.makedirs(OUT_DIR, exist_ok=True)
    # the untraced run a traced run of the same workload and seed is
    # compared with: same inputs, so the difference is tracing plus noise
    base_path = os.path.join(OUT_DIR, f"untraced-{args.workload}-{args.seed}.json")
    if args.trace:
        spans = b.tracer.spans
        path = os.path.join(OUT_DIR, f"spans-{args.workload}-{args.seed}.jsonl")
        b.tracer.write(path)
        from spans import layer_table, op_balance

        print(f"trace spans={len(spans)} file={os.path.relpath(path, ROOT)}")
        table = layer_table(spans)
        print(f"{'span':32} {'calls':>6} {'self_s':>10} {'wall_s':>10}")
        for name, row in sorted(table.items(), key=lambda kv: -kv[1]["self_s"]):
            print(f"{name:32} {row['calls']:6d} {row['self_s']:10.4f} {row['wall_s']:10.4f}")
        gap = op_balance(spans)
        print(f"trace max |op wall - sum of self times| = {gap:.3g} s")
        if gap > 1e-6:
            failed += 1
        if os.path.exists(base_path):
            with open(base_path) as fh:
                base = json.load(fh)
            for k, v in e2e.items():
                if k not in base:
                    continue
                print(f"trace overhead {k} = {v - base[k]:+.6g} "
                      f"(traced {v:.6g} - untraced {base[k]:.6g})")
            ops = base["op_latency_s"]
            noise = f"{iqr_share(ops):.3g}" if len(ops) >= 2 else "n/a"
            print(f"trace overhead noise: the untraced run's op latencies "
                  f"spread {noise} (Q3 - Q1) / median; an overhead inside "
                  "that, or inside the seed-to-seed spread in "
                  "perfbench/METRICS.md, is not tracing")
        else:
            print(f"trace overhead = n/a (no untraced run of {args.workload} "
                  f"with seed {args.seed} yet)")
        metrics = per_layer(b, spans, res)
    else:
        if failed == 0 and b.ops:
            with open(base_path, "w") as fh:
                json.dump({**e2e, "op_latency_s": ok_lat}, fh)
        metrics = e2e
    out = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": unit_of(k)}
                    for k, v in metrics.items()},
    }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
