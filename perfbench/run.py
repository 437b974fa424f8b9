"""Layered CDC benchmark: one workload per invocation.

    python3 perfbench/run.py --workload stream_append --seed 1 --seconds 10 --trace 0

Run from the repository root. ``--trace 0`` times the workload with no
tracing and reports the end-to-end metrics; ``--trace 1`` runs the same
timed part once more with spans around the engine's entry points and
reports the per-layer metrics (and the tracing overhead: traced wall minus
untraced wall). Every metric is printed as ``name = value unit``; the last
line of standard output is one compact JSON object. Layer detail, spans
with self times and the Spark jobs go to
``.bench_work/out/<workload>-s<seed>-trace<t>.json``. All work files live
under ``.bench_work/``. See ``perfbench/METRICS.md`` for what each metric
measures and which end-to-end metric each layer metric should move.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".bench_work")
CORES = 4
SHUFFLE_PARTITIONS = 8
MAX_LINE = 2000  # the result line must fit in a 2,000-character output tail

E2E_UNITS = {
    "setup_s": "s",
    "events_per_s": "events/s",
    "batch_p50_s": "s",
    "batch_tail_s": "s",
    "stored_bytes_per_event": "B/event",
}

LAYER_UNITS = {
    "job.apply_s": "s",
    "job.trigger_overhead_s": "s",
    "job.wal_commit_s": "s",
    "job.commit_offsets_s": "s",
    "job.spark_jobs_per_batch": "count",
    "job.py4j_calls_per_batch": "count",
    "job.driver_gap_s": "s",
    "laketable.append_events_s": "s",
    "laketable.merge_events_s": "s",
    "laketable.compactions": "count",
    "laketable.compact_buckets_s": "s",
    "laketable.read_input_rows": "rows",
    "laketable.files_written_per_batch": "count",
    "laketable.bytes_written_per_batch": "B",
    "lineage.write_s": "s",
    "normalize.scan_stage_cpu_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.shuffle_write_bytes": "B",
    "spark.shuffle_read_bytes": "B",
    "spark.input_bytes": "B",
    "spark.output_bytes": "B",
    "spark.spill_bytes": "B",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.core_busy_frac": "1",
    "trace.overhead_s": "s",
    "trace.top_cover_frac": "1",
}


def sig(v, digits: int = 6):
    """``v`` to ``digits`` significant digits (integers stay exact)."""
    if isinstance(v, int) or v == 0:
        return v
    return float(f"{v:.{digits}g}")


def result_line(correct: bool, attempted: int, failed: int, metrics: dict, units: dict) -> str:
    line = json.dumps(
        {
            "correct": bool(correct),
            "attempted": int(attempted),
            "failed": int(failed),
            "metrics": {k: {"value": sig(metrics[k]), "unit": units[k]} for k in units},
        },
        separators=(",", ":"),
    )
    if len(line) >= MAX_LINE or json.loads(line)["metrics"].keys() != units.keys():
        raise ValueError(f"result line is {len(line)} characters or lost a metric")
    return line


class Ctx:
    def __init__(self, args, spark, oracle):
        self.seed = args.seed
        self.seconds = args.seconds
        self.spark = spark
        self.oracle = oracle
        self.work = WORK
        # a fixed path per workload and seed: manifests store absolute file
        # paths, so stored bytes repeat exactly only if the path does
        self.run_dir = os.path.join(WORK, "runs", f"{args.workload}-s{args.seed}")
        self.feed_generated = False
        self.phases = [("start", T_START)]
        shutil.rmtree(self.run_dir, ignore_errors=True)
        os.makedirs(self.run_dir)

    def mark(self, name: str) -> None:
        """Record the end of a phase (written to the detail file)."""
        self.phases.append((name, time.time()))


def start_spark():
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    # Spark and its Python workers write scratch files only under the checkout
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["PYTHONPATH"] = ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
    # pin what get_spark reads from the environment: local[4], a 3 GB heap
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "3g"
    for var in ("SPARK_GRAFT_MASTER", "SPARK_MASTER", "MASTER"):
        os.environ.pop(var, None)
    from nifi_spark.session import get_spark

    return get_spark(
        "perfbench",
        cores=CORES,
        shuffle_partitions=SHUFFLE_PARTITIONS,
        extra_conf={
            # keep every job and stage of the run in the status store
            "spark.ui.retainedJobs": "1000000",
            "spark.ui.retainedStages": "1000000",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.streaming.numRecentProgressUpdates": "1000",
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            # no hsperfdata file in the system temp directory either
            "spark.driver.extraJavaOptions": "-XX:-UsePerfData -Djava.io.tmpdir="
            + os.path.join(WORK, "tmp"),
        },
    )


def vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def peak_rss_mb(spark) -> float:
    """Peak resident memory of this process plus the JVM. Printed, not
    gated: it follows the G1 heap's growth and spread from 1,288 to
    1,978 MB over ten runs of the same code on a 4-CPU host."""
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    return vm_hwm_mb("self") + vm_hwm_mb(jvm_pid)


def end_to_end(p, setup_s: float) -> dict:
    return {
        "setup_s": setup_s,
        "events_per_s": p.events / p.wall,
        "batch_p50_s": statistics.median(p.batch_s),
        # the slowest batch: no run holds enough batches for a percentile
        # with ten samples beyond it (see METRICS.md)
        "batch_tail_s": max(p.batch_s),
        "stored_bytes_per_event": p.stored_bytes / p.table_events,
    }


def traced_pass(w, spark):
    """Run the timed part once more with spans around the entry points."""
    from nifi_spark import lineage, normalize
    from nifi_spark.sinks.laketable import LakeTable
    from nifi_spark.streaming import job
    from tracing import Py4jCounter, Tracer
    from workloads import dir_files

    def on_open(sp):
        if sp["name"] == w.unit_span:
            sp["_fs"] = dir_files(w.current_table)

    def on_close(sp):
        if "_fs" in sp:
            before = sp.pop("_fs")
            new = {k: v for k, v in dir_files(w.current_table).items() if k not in before}
            sp["files_written"] = len(new)
            sp["bytes_written"] = sum(new.values())

    py4j = Py4jCounter()
    tr = Tracer(py4j, on_open, on_close)
    tr.wrap(job.CdcPipeline, "run_to_completion", "job.run_to_completion")
    tr.wrap(job.CdcPipeline, "apply_batch", "job.apply_batch", batch_arg=2)
    tr.wrap(job, "write_lineage_rows", "lineage.write_lineage_rows")
    tr.wrap(LakeTable, "append_events", "laketable.append_events")
    tr.wrap(LakeTable, "merge_events", "laketable.merge_events")
    tr.wrap(LakeTable, "compact_buckets", "laketable.compact_buckets")
    tr.wrap(LakeTable, "read", "laketable.read")
    tr.wrap(normalize, "normalize_json", "normalize.normalize_json")
    tr.wrap(lineage, "read_lineage", "lineage.read_lineage")
    py4j.install()
    try:
        p = w.measure(tr)
    finally:
        py4j.uninstall()
        tr.uninstall()
    return p, tr.spans


def layer_metrics(w, p, spans, jobs, untraced_wall) -> tuple[dict, dict]:
    """Per-layer metrics of the traced pass, and the detail for the file."""
    from sparkstats import totals
    from tracing import interval_union, self_times

    med = lambda xs: statistics.median(xs) if xs else 0.0  # noqa: E731
    by_id = {s["id"]: s for s in spans}

    def depth(s):
        d = 0
        while s["parent"] is not None:
            s, d = by_id[s["parent"]], d + 1
        return d

    for j in jobs:  # attach each Spark job to the innermost span it ran under
        cands = [s for s in spans if s["start"] - 0.002 <= j["start"] <= s["end"]]
        same_batch = [s for s in cands if j["batch"] is not None and s["batch_id"] == j["batch"]]
        cands = same_batch or cands
        j["span"] = max(cands, key=depth)["id"] if cands else None

    def under(span_id):
        out, todo = set(), [span_id]
        while todo:
            i = todo.pop()
            out.add(i)
            todo += [s["id"] for s in spans if s["parent"] == i]
        return out

    def jobs_under(s):
        ids = under(s["id"])
        return [j for j in jobs if j["span"] in ids]

    def named(name):
        return [s for s in spans if s["name"] == name and p.t_from <= s["start"] <= p.t_to]

    dur = lambda s: s["end"] - s["start"]  # noqa: E731
    units = named(w.unit_span)
    unit_jobs = [jobs_under(u) for u in units]
    gaps = [
        dur(u) - interval_union(
            (max(j["start"], u["start"]), min(j["end"], u["end"])) for j in js
            if j["end"] > u["start"]
        )
        for u, js in zip(units, unit_jobs)
    ]
    feed_rows = set(p.unit_rows.values())
    scan_cpu = sum(
        st["cpu_s"] for js in unit_jobs for j in js for st in j["stages"]
        if st["input_records"] in feed_rows
    )
    reads = [s for s in spans if s["name"] in ("bench.point_read", "bench.scan_read", "bench.check_read")]
    read_rows = sum(st["input_records"] for r in reads for j in jobs_under(r) for st in j["stages"])
    prog = p.progress
    timed_jobs = [j for j in jobs if j["start"] <= p.t_to]
    tot = totals(timed_jobs)
    top = [
        (max(s["start"], p.t_from), min(s["end"], p.t_to)) for s in spans
        if s["parent"] is None and s["end"] > p.t_from and s["start"] < p.t_to
    ]
    m = {
        "job.apply_s": med([dur(u) for u in units]),
        "job.trigger_overhead_s": med([(x["triggerExecution"] - x.get("addBatch", 0)) / 1e3 for x in prog]),
        "job.wal_commit_s": med([x.get("walCommit", 0) / 1e3 for x in prog]),
        "job.commit_offsets_s": med([x.get("commitOffsets", 0) / 1e3 for x in prog]),
        "job.spark_jobs_per_batch": med([len(js) for js in unit_jobs]),
        "job.py4j_calls_per_batch": med([u["py4j_calls"] for u in units]),
        "job.driver_gap_s": med(gaps),
        "laketable.append_events_s": med([dur(s) for s in named("laketable.append_events")]),
        "laketable.merge_events_s": med([dur(s) for s in named("laketable.merge_events")]),
        "laketable.compactions": len(named("laketable.compact_buckets")),
        "laketable.compact_buckets_s": sum(dur(s) for s in named("laketable.compact_buckets")),
        "laketable.read_input_rows": read_rows / len(reads) if reads else 0.0,
        "laketable.files_written_per_batch": med([u.get("files_written", 0) for u in units]),
        "laketable.bytes_written_per_batch": med([u.get("bytes_written", 0) for u in units]),
        "lineage.write_s": med([dur(s) for s in named("lineage.write_lineage_rows")]),
        "normalize.scan_stage_cpu_s": scan_cpu / len(units) if units else 0.0,
        "spark.jobs": tot["jobs"],
        "spark.stages": tot["stages"],
        "spark.tasks": tot["tasks"],
        "spark.shuffle_write_bytes": tot["shuffle_write_bytes"],
        "spark.shuffle_read_bytes": tot["shuffle_read_bytes"],
        "spark.input_bytes": tot["input_bytes"],
        "spark.output_bytes": tot["output_bytes"],
        "spark.spill_bytes": tot["spill_bytes"],
        "spark.executor_run_s": tot["run_s"],
        "spark.executor_cpu_s": tot["cpu_s"],
        "spark.gc_s": tot["gc_s"],
        "spark.core_busy_frac": tot["run_s"] / (p.wall * CORES),
        "trace.overhead_s": p.wall - untraced_wall,
        "trace.top_cover_frac": interval_union(top) / p.wall,
    }
    selfs = self_times(spans)
    by_name: dict[str, float] = {}
    for s in spans:
        if p.t_from <= s["start"] <= p.t_to:
            by_name[s["name"]] = by_name.get(s["name"], 0.0) + selfs[s["id"]]
    py4j = sorted(u["py4j_calls"] for u in units)
    detail = {
        "self_time_by_span_s": by_name,
        "py4j_calls_per_batch": {
            "values": py4j,
            "iqr": statistics.quantiles(py4j, n=4)[2] - statistics.quantiles(py4j, n=4)[0]
            if len(py4j) > 1 else 0,
        },
        "spans": [dict(s, self_s=selfs[s["id"]]) for s in spans],
    }
    return m, detail


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import nifi_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    from oracle import Oracle
    from sparkstats import jobs_between, totals
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    spark = start_spark()
    oracle = Oracle()
    ctx = Ctx(args, spark, oracle)
    try:
        ctx.mark("session")
        w = WORKLOADS[args.workload](ctx)
        w.setup()
        ctx.mark("setup")
        setup_s = time.time() - T_START
        pa = w.measure()
        ctx.mark("measure")
        jobs_a = jobs_between(spark, pa.t_from, pa.t_to)
        ctx.mark("status_store")
        e2e = metrics = end_to_end(pa, setup_s)
        rss = peak_rss_mb(spark)
        passes = [pa]
        detail = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "feed_generated": ctx.feed_generated,
            "untraced": {"wall_s": pa.wall, "events": pa.events, "batch_s": pa.batch_s,
                         "point_s": pa.point_s, "scan_s": pa.scan_s,
                         "progress": pa.progress, "spark": totals(jobs_a),
                         "stored_bytes": pa.stored_bytes, "peak_rss_mb": rss,
                         "oracle_mismatch_rows": pa.mismatch_rows,
                         "lineage_events": pa.lineage_events},
        }
        units = dict(E2E_UNITS)
        if args.trace:
            pb, spans = traced_pass(w, spark)
            jobs_b = jobs_between(spark, pb.t_from, time.time())
            ctx.mark("traced_measure")
            lm, ldetail = layer_metrics(w, pb, spans, jobs_b, pa.wall)
            passes.append(pb)
            metrics, units = lm, dict(LAYER_UNITS)
            detail["traced"] = {"wall_s": pb.wall, "layers": lm, **ldetail, "jobs": jobs_b,
                                "oracle_mismatch_rows": pb.mismatch_rows}
        failed = sum(
            q.failed_reads + (q.mismatch_rows != 0) + (not q.lineage_ok) for q in passes
        )
        attempted = sum(len(q.batch_s) + len(q.point_s) + len(q.scan_s) for q in passes)
        mismatch = sum(q.mismatch_rows for q in passes)
        line = result_line(failed == 0, attempted, failed, metrics, units)
        detail["phases_s"] = [
            [name, round(t - prev, 3)]
            for (_, prev), (name, t) in zip(ctx.phases, ctx.phases[1:])
        ]
        os.makedirs(os.path.join(WORK, "out"), exist_ok=True)
        out = os.path.join(WORK, "out", f"{args.workload}-s{args.seed}-trace{args.trace}.json")
        with open(out, "w") as f:
            json.dump(detail, f, indent=1, default=str)
    finally:
        oracle.close()
        stop_spark(spark)
        shutil.rmtree(ctx.run_dir, ignore_errors=True)

    print(f"workload = {args.workload}  seed = {args.seed}  seconds = {args.seconds}  trace = {args.trace}")
    for k, u in E2E_UNITS.items():
        print(f"{k} = {sig(e2e[k])} {u}")
    print(f"peak_rss_mb = {sig(rss)} MB")
    for name, xs in (("point_read_p50_s", pa.point_s), ("scan_read_p50_s", pa.scan_s)):
        if xs:  # the read loop of ingest_read; not part of the result line
            print(f"{name} = {sig(statistics.median(xs))} s")
    if args.trace:
        print(f"traced timed wall = {sig(pb.wall)} s, untraced = {sig(pa.wall)} s")
        for k, u in LAYER_UNITS.items():
            print(f"{k} = {sig(metrics[k])} {u}")
    print(f"oracle_mismatch_rows = {mismatch} rows")
    if pa.lineage_events is not None:
        print(f"lineage_events = {pa.lineage_events} of {pa.table_events} applied")
    reads = sum(len(q.point_s) + len(q.scan_s) for q in passes)
    if reads:
        print(f"failed_reads = {sum(q.failed_reads for q in passes)} of {reads}")
    print(f"detail = {os.path.relpath(out, ROOT)}")
    print(line)
    return 0


def stop_spark(spark) -> None:
    """Stop the session and the Py4J gateway (so no late call reaches a
    dead JVM), then close the JVM's stdin (it exits on EOF) and wait for
    it to end."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:
        traceback.print_exc()
        sys.exit(1)
