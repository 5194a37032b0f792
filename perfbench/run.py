#!/usr/bin/env python3
"""NOC benchmark: one workload, one seed, one measured window.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The run generates its input tables from
``--seed`` (``datagen.py``, sf0.1), starts one local Spark session sized to
the machine, sets the workload up and warms it (cold, once: the cost every
new session pays), and then drives it for ``--seconds`` seconds with
closed-loop client threads. Every operation's output is checked; failures
are counted, never fatal. The traced run ends with the layers no window
exercises (see ``workloads.py``).

Standard output: one report line (JSON: run facts, per-kind latency
statistics, calibration, check failures, and in the traced run the span
summary), then the result line::

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

whose metrics are the ``end_to_end`` metrics of ``BENCHMARK.json`` with
``--trace 0`` and its ``per_layer`` metrics with ``--trace 1``, in its order
and units. All files the run
writes live in a scratch directory inside the checkout that is removed at
exit; the Spark JVM is stopped and waited for.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG_DIR = os.path.join(ROOT, "mysoftware_nocnetintel_spark")
sys.path.insert(0, HERE)

SF = 0.1
CALIBRATION_REPEATS = 5
# a run whose calibration probes move by more than this share between
# before and after the window is flagged (and kept)
CALIBRATION_BOUND = 0.25


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def driver_memory() -> str:
    """A quarter of physical memory, 1-16 GiB: the machine is shared and
    the sf0.1 working set is about 17 MB."""
    try:
        with open("/proc/meminfo", encoding="ascii") as f:
            kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    except (OSError, StopIteration, ValueError):
        return "2g"
    return f"{max(1, min(16, kb // (4 * 1024 * 1024)))}g"


def median(xs):
    return statistics.median(xs) if xs else 0.0


class Context:
    def __init__(self, args, scratch):
        self.seed = args.seed
        self.scratch = scratch
        self.data_dir = os.path.join(scratch, "data")
        self.nproc = os.cpu_count() or 1
        self.driver_mem = driver_memory()
        self.spark = None
        self.tracer = None


def start_session(ctx) -> float:
    """Start the shared session with the serving configuration bench.py
    uses (FAIR scheduling, 8 shuffle partitions, AQE off), every temp and
    warehouse path inside the run's scratch directory, and console
    progress off."""
    tmp = os.path.join(ctx.scratch, "tmp")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = ctx.driver_mem
    os.environ["SPARK_GRAFT_AQE"] = "false"
    # Python workers import the package from the checkout, whatever the cwd
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    t0 = time.perf_counter()
    from mysoftware_nocnetintel_spark.session import get_spark

    ctx.spark = get_spark(
        app_name="perfbench",
        master=f"local[{ctx.nproc}]",
        extra_conf={
            "spark.scheduler.mode": "FAIR",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(ctx.scratch, "warehouse"),
            "spark.local.dir": tmp,
            # -XX:-UsePerfData: no hsperfdata file in the system /tmp
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    ctx.spark.conf.set("spark.sql.shuffle.partitions", "8")
    ctx.spark.conf.set("spark.sql.adaptive.enabled", "false")
    return time.perf_counter() - t0


def stop_session(ctx) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    if ctx.spark is not None:
        ctx.spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def calibrate(ctx, n: int = CALIBRATION_REPEATS) -> dict:
    """Two probes, each the median of ``n`` runs: the Spark statement floor
    (a fresh count over the 5-row region table, as bench.py measures it)
    and a single-threaded DuckDB control (a sum over lineitem), which has
    no JIT to warm and so tracks only the machine's speed."""
    import duckdb

    from mysoftware_nocnetintel_spark.sources.registry import load_table, table_path

    def med(fn):
        xs = []
        for _ in range(n):
            t0 = time.perf_counter()
            fn()
            xs.append(time.perf_counter() - t0)
        return statistics.median(xs)

    con = duckdb.connect(config={"threads": 1})
    lineitem = table_path(ctx.data_dir, "lineitem")
    try:
        return {
            "spark_floor_s": med(lambda: load_table(ctx.spark, ctx.data_dir, "region")
                                 .selectExpr("count(*) AS n").toArrow()),
            "duckdb_s": med(lambda: con.execute(
                f"SELECT sum(l_extendedprice * (1 - l_discount)) "
                f"FROM read_parquet('{lineitem}')").fetchall()),
        }
    finally:
        con.close()


def drift_report(before: dict, after: dict) -> dict:
    """Drift of each probe over the window. The run is flagged when the
    DuckDB control moved by more than ``CALIBRATION_BOUND`` either way, or
    the Spark floor slowed by more than that: the floor also speeds up as
    the JVM's JIT matures (20-45% over a quiet run), so only its slowdowns
    say something about the machine."""
    d = {k: after[k] / before[k] - 1.0 for k in before}
    return {
        "before": {k: round(v, 4) for k, v in before.items()},
        "after": {k: round(v, 4) for k, v in after.items()},
        "drift": {k: round(v, 4) for k, v in d.items()},
        "flagged": abs(d["duckdb_s"]) > CALIBRATION_BOUND or d["spark_floor_s"] > CALIBRATION_BOUND,
    }


def timed_into(report: dict, key: str, fn) -> None:
    t0 = time.perf_counter()
    fn()
    report[key] = round(time.perf_counter() - t0, 3)


def kind_stats(ops) -> dict:
    from checks import tail_percentile

    out = {}
    for kind in sorted({o.kind for o in ops}):
        for name in sorted({o.name for o in ops if o.kind == kind}) + [None]:
            xs = [o.dur for o in ops if o.kind == kind and (name is None or o.name == name) and o.ok]
            if not xs:
                continue
            tail = tail_percentile(xs)
            out[f"{kind}" if name is None else f"{kind}.{name}"] = {
                "n": len(xs), "p50": round(median(xs), 4),
                "tail_p": tail["p"],
                "tail": round(tail["value"], 4) if tail["value"] is not None else None,
            }
    return out


def in_window(ops, window) -> float:
    """Operations done in the window, counting one in flight at either edge
    by the share of its time that falls inside, so the count does not jump
    by whole operations with where the window happens to cut."""
    w0, w1 = window
    return sum((min(w1, o.t0 + o.dur) - max(w0, o.t0)) / o.dur
               for o in ops if o.t0 < w1 and o.t0 + o.dur > w0 and o.dur > 0)


def end_to_end(wl, ops, window, setup_s) -> dict:
    wall = window[1] - window[0]
    reads = [o.dur for o in ops if o.kind == "query" and o.ok]
    lookups = [o.dur for o in ops if o.kind == "lookup" and o.ok]
    served = [o for o in wl.rec.ops if o.kind in ("query", "lookup") and o.ok]
    st = wl.storage()
    return {
        "setup_s": setup_s,
        "query_p50_s": median(reads),
        "queries_per_s": in_window(served, window) / wall,
        "lookup_p50_s": median(lookups),
        "stored_bytes_per_user_byte": st["stored_bytes"] / st["user_bytes"],
    }


# root span layers of the measured operations (see Workload.statement/timed)
OP_LAYERS = ("query", "lookup", "writer")


def per_layer(ctx, wl, ops, window, setup, cpu_share) -> tuple[dict, dict]:
    """Layer metrics of the traced run, and a span summary for the report."""
    from spans import attribute_jobs, self_times

    tr, spark = ctx.tracer, ctx.spark
    w0, w1 = window
    wall = w1 - w0
    spans = tr.spans
    by_id = {s.id: s for s in spans}
    roots = {s.id for s in spans if s.parent is None and s.layer in OP_LAYERS
             and s.t0 >= w0 and s.t1 <= w1}
    wsp = [s for s in spans if s.op in roots]
    selfs = self_times(spans)
    jobs = tr.jobs()
    by_span = attribute_jobs(jobs, spans)

    def phase(span_id):
        s = by_id[span_id]
        while s.parent is not None and s.name not in ("build", "optimize", "execute"):
            s = by_id[s.parent]
        return s.name

    wjobs = [(sid, j) for sid, js in by_span.items() if sid in by_id and by_id[sid].op in roots
             for j in js]
    n_ops = max(1, len(roots))
    n_stmt = max(1, sum(1 for s in wsp if s.name == "build"))

    def durs(*names):
        return [s.dur for s in wsp if s.name in names]

    def op_durs(*names):
        return [o.dur for o in ops if o.name in names and o.ok]

    reads = [s for s in wsp if s.layer == "readers"]
    read_ops = {s.op for s in reads}
    queue = [(j.first_task_ms - j.submit_ms) / 1000.0 for _, j in wjobs if j.first_task_ms]
    st = wl.lake_stats
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    try:
        with open(f"/proc/{jvm_pid}/status", encoding="ascii") as f:
            rss_kb = int(next(x for x in f if x.startswith("VmHWM")).split()[1])
    except (OSError, StopIteration):
        rss_kb = 0
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    # the tracer's bookkeeping since the window opened, in-flight ops included
    op_time = sum(s.dur for s in spans if s.parent is None and s.t0 >= w0) or 1.0
    # counted now, outside every span: the files each snapshot read planned
    files = [len(s.result.inputFiles()) for s in reads if s.result is not None]
    m = {
        "session.start_s": setup["session_s"],
        "session.jvm_peak_rss_mb": rss_kb / 1024.0,
        "registry.cache_build_s": setup["cache_s"],
        "registry.cached_bytes": sum(i.memSize() + i.diskSize() for i in infos),
        "plans.build_s": median(durs("build")),
        "plans.build_jobs": sum(1 for sid, _ in wjobs if phase(sid) == "build") / n_stmt,
        "plans.build_total_s": sum(durs("build")),
        "optimize.p50_s": median(durs("optimize")),
        "execute.fetch_p50_s": median(durs("execute")),
        "execute.jobs_per_op": len(wjobs) / n_ops,
        "execute.tasks_per_op": sum(j.tasks for _, j in wjobs) / n_ops,
        "execute.shuffle_bytes": sum(j.shuffle_bytes for _, j in wjobs) / n_ops,
        "execute.spill_bytes": sum(j.spill_bytes for _, j in wjobs),
        "execute.job_queue_s": statistics.fmean(queue) if queue else 0.0,
        "execute.slot_busy_share": sum(j.run_ms for _, j in wjobs) / 1000.0 / (wall * ctx.nproc),
        "driver.python_cpu_share": cpu_share,
        "ann_index.build_s": setup.get("ann_index.build_s", 0.0),
        "ann_index.query_s": median(durs("ann_index.query_ivf_index")),
        "dedup_index.build_s": setup.get("dedup_index.build_s", 0.0),
        "dedup_index.gate_s": median(durs("dedup_index.dedup_against_minhash_index")),
        "hamming_index.build_s": setup.get("hamming_index.build_s", 0.0),
        "hamming_index.gate_s": setup.get("hamming_index.gate_s", 0.0),
        "forecast.fit_s": setup.get("forecast.fit_s", 0.0),
        "dispatch.plan_s": setup.get("dispatch.plan_s", 0.0),
        "gate.batch_s": median(op_durs("gate")),
        "gate.novel_share": wl.novel_share(),
        # setup writes included: serve writes only while building its index
        "delta.append_s": median([s.dur for s in spans if s.name == "delta.write_delta_append"]),
        "delta.merge_s": median(op_durs("delta_merge")),
        "iceberg.merge_s": median(op_durs("iceberg_merge")),
        "maintenance_s": median(op_durs("compact")),
        "maintenance.bytes_rewritten": st["maintenance_bytes"],
        "written_bytes_per_user_byte": st["written_bytes"] / max(1, st["batch_bytes"]),
        "delta.live_files": st["delta_live_files"],
        "iceberg.live_delete_files": st["iceberg_live_delete_files"],
        "commits_per_call": st["commits"] / max(1, st["writer_calls"]),
        "commit_p50_s": median(op_durs("gate", "delta_merge", "iceberg_merge")),
        "ingest_rows_per_s": wl.window_rows / wl.writer_s if wl.writer_s else 0.0,
        "readers.replay_s": median([s.dur for s in reads]),
        "readers.scan_s": median([s.dur for s in wsp if s.name == "execute" and s.op in read_ops]),
        "readers.files_per_read": statistics.fmean(files) if files else 0.0,
        "trace.overhead_share": tr.overhead_s / op_time,
    }
    # span summary: inclusive and self time per span name, and the
    # statements' coverage by their build/optimize/execute children
    summary: dict[str, dict] = {}
    for s in wsp:
        e = summary.setdefault(s.name, {"n": 0, "total_s": 0.0, "self_s": 0.0,
                                        "jobs": 0, "eager_only": s.eager_only})
        e["n"] += 1
        e["total_s"] += s.dur
        e["self_s"] += selfs[s.id]
        e["jobs"] += len(by_span.get(s.id, []))
    for e in summary.values():
        e["total_s"], e["self_s"] = round(e["total_s"], 3), round(e["self_s"], 3)
    stmt_roots = [by_id[r] for r in roots if any(
        s.parent == r and s.name == "build" for s in wsp)]
    kids = {}
    for s in wsp:
        if s.parent in roots:
            kids[s.parent] = kids.get(s.parent, 0.0) + s.dur
    cover = [kids.get(r.id, 0.0) / r.dur for r in stmt_roots if r.dur > 0]
    extra = {
        "spans": summary,
        "statement_phase_coverage_min": round(min(cover), 4) if cover else None,
        "jobs_total": len(jobs),
        "jobs_in_window_ops": len(wjobs),
    }
    return m, extra


def run(args, ctx) -> tuple[dict, dict]:
    from datagen import generate

    report = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "sf": SF, "nproc": ctx.nproc,
              "driver_memory": ctx.driver_mem}
    # inputs are generated while the JVM starts
    datagen = threading.Thread(target=timed_into, args=(
        report, "datagen_s", lambda: generate(ctx.data_dir, args.seed)))
    datagen.start()
    session_s = start_session(ctx)
    datagen.join()
    if "datagen_s" not in report:
        raise RuntimeError("input generation failed")
    # set-up: session start, then from here on the table cache, fixtures,
    # warm pass and expected outputs
    t_setup = time.perf_counter()
    from spans import Tracer
    from workloads import WORKLOADS

    ctx.tracer = Tracer(ctx.spark, bool(args.trace))
    ctx.tracer.install()
    wl = WORKLOADS[args.workload](ctx)
    # expected outputs are computed (DuckDB, Python) while Spark sets up
    oracle = threading.Thread(target=timed_into, args=(report, "oracle_s", wl.prepare_checks))
    oracle.start()
    setup = wl.setup()
    setup["session_s"] = session_s
    report["setup"] = {k: round(v, 3) for k, v in setup.items()}
    log(f"setup {report['setup']}")
    oracle.join()
    if "oracle_s" not in report:
        raise RuntimeError("expected outputs could not be computed")
    setup_s = session_s + time.perf_counter() - t_setup
    report["setup_s"] = round(setup_s, 3)
    wl.rec.settle()
    before = calibrate(ctx)

    wl.start_window()
    ctx.tracer.overhead_s = 0.0
    cpu0 = time.process_time()
    window = wl.run(args.seconds)
    # driver CPU over the whole run of the client threads, drain included
    cpu_share = (time.process_time() - cpu0) / (time.perf_counter() - window[0])
    after = calibrate(ctx)
    wl.rec.settle()
    report["calibration"] = drift_report(before, after)
    wl.final_check()
    ops = [o for o in wl.rec.ops if o.t0 >= window[0] and o.t0 + o.dur <= window[1]]
    report["window_s"] = round(window[1] - window[0], 3)
    report["ops"] = kind_stats(ops + [o for o in wl.rec.parts if o.t0 >= window[0]
                                      and o.t0 + o.dur <= window[1]])
    report["approx_matches"] = sum(1 for o in wl.rec.ops if o.approx)
    attempted = len(wl.rec.ops) + wl.final_checks
    failed = len(wl.rec.failures)
    report["error_rate"] = failed / attempted
    report["failures"] = wl.rec.failures[:10]

    if args.trace:
        ctx.tracer.uninstall()
        metrics, extra = per_layer(ctx, wl, ops, window, {**setup, **wl.timings}, cpu_share)
        report.update(extra)
    else:
        metrics = end_to_end(wl, ops, window, setup_s)
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)["per_layer" if args.trace else "end_to_end"]
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in spec},
    }
    return report, result


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("serve", "ingest"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(PKG_DIR):
        log(f"package not found at {PKG_DIR}; run from the root of a checkout")
        return 2
    sys.path.insert(0, ROOT)
    # a terminated run still stops its JVM and removes its scratch directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    scratch = tempfile.mkdtemp(prefix=".perfbench-", dir=ROOT)
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    cwd = os.getcwd()
    os.chdir(scratch)  # nothing Spark drops into its cwd lands in the checkout
    ctx = Context(args, scratch)
    try:
        report, result = run(args, ctx)
    finally:
        os.chdir(cwd)
        try:
            stop_session(ctx)
        finally:
            shutil.rmtree(scratch, ignore_errors=True)
    print(json.dumps(report, separators=(",", ":")))
    print(json.dumps(result, separators=(",", ":")))
    return 0


if __name__ == "__main__":
    sys.exit(main())
