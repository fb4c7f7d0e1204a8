#!/usr/bin/env python3
"""deepex_spark benchmark: two warm, closed-loop workloads and a traced
per-layer run. See kgbench/README.md.

    python3 kgbench/run.py --workload crawl_build --seed 1 --seconds 8 --trace 0
    python3 kgbench/run.py --workload all --seed 1 --seconds 8   # every workload, one table

Run it from the repository root. The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; the line before it is a
report with host stamps, sample counts and the per-workload metric names.
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
import time

HERE = os.path.dirname(os.path.abspath(__file__))

END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "stored_bytes_per_input_byte": "ratio",
    "peak_rss_mb": "MB",
}

# what op_p50_s / op_tail_s are called on each workload
OP_NAMES = {
    "crawl_build": ("build_s", "build_tail_s"),
    "kg_live": ("cycle_p50_s", "cycle_tail_s"),
}

# warm-up units paid inside setup_s: the first Spark operation of a
# process runs 2-3x slower than a warm one (JIT, Python worker pool,
# the native kernel loading into every worker); kg_live's short jobs
# keep speeding up through a third unit
WARM_UNITS = {"crawl_build": 1, "kg_live": 3}

# timed units per run, however long they take: one warm build, and on a
# busy host one kg_live unit, takes longer than a run measures; a second
# steadies the median and keeps the sample count fixed, a third would push
# a run well past a minute
MIN_UNITS = 2

_LAYERS = ["normalize", "sentencize", "extract", "distill", "rerank", "link",
           "canonicalize", "graph", "catalog", "fold", "sparql", "labels"]
PER_LAYER = {
    "session.start_s": "s",
    "normalize.busy_s": "s", "sentencize.busy_s": "s", "sentencize.rows_out": "count",
    "extract.busy_s": "s", "extract.cpu_s": "s", "extract.rows_out": "count",
    "extract.task_skew": "ratio",
    "distill.busy_s": "s", "distill.shuffle_bytes": "bytes", "rerank.busy_s": "s",
    "link.busy_s": "s", "link.matched_ratio": "ratio", "canonicalize.busy_s": "s",
    "graph.build_s": "s", "graph.merge_s": "s", "graph.live_edges": "count",
    "catalog.checkpoint_s": "s", "catalog.write_s": "s", "catalog.bytes_written": "bytes",
    "catalog.files_written": "count", "catalog.publish_s": "s", "catalog.read_s": "s",
    "catalog.expire_s": "s", "fold.batch_edges_s": "s",
    "sparql.compile_s": "s", "sparql.plan_s": "s", "sparql.execute_s": "s",
    "sparql.rows_out": "count", "labels.join_s": "s",
    **{f"{layer}.gc_s": "s" for layer in _LAYERS},
    **{f"{layer}.spill_bytes": "bytes" for layer in _LAYERS},
    "trace.root_self_s": "s", "trace.coverage": "ratio", "trace.overhead": "ratio",
}


def log(msg: str) -> None:
    print(f"kgbench: {msg}", file=sys.stderr, flush=True)


def tail(values: list[float]) -> tuple[float, str]:
    """The highest percentile with at least ten samples beyond it, and its
    name; the maximum when that percentile would not lie above the median."""
    v = sorted(values)
    if len(v) < 21:  # no percentile above the median has ten beyond it
        return v[-1], "max"
    i = len(v) - 11
    return v[i], f"p{100 * (i + 1) / len(v):.0f}"


def start_session(work: str, threads: int, trace: bool):
    from deepex_spark.session import build_session

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # the serial collector sizes the heap from the data live after each
        # collection, so the JVM's resident size follows what the program
        # keeps; G1 grows the heap from pause and overhead goals, and the
        # JVM's peak varied 1.5-2.3 GB between crawl_build runs.
        # No perf-data file under /tmp.
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
                                         "-XX:+UseSerialGC -XX:-UsePerfData",
    }
    if trace:
        events = os.path.join(work, "events")
        os.makedirs(events, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + events,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = build_session(app_name="kgbench", master=f"local[{threads}]",
                          shuffle_partitions=threads, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop Spark and wait for the JVM, and with it every Python worker,
    to exit: the JVM quits when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def per_layer(tracer, groups: dict, counts: dict, ops: int, untraced_wall: float,
              session_s: float) -> dict:
    """Per-layer metrics from the spans and the event-log rollup. Times,
    bytes and row counts are per operation (per build, fold or query)."""
    out = {name: 0.0 for name in PER_LAYER}
    out["session.start_s"] = session_s
    selfs = tracer.self_times()
    traced_wall = sum(s["end"] - s["start"] for s in tracer.spans if s["parent"] is None)
    layer_self = 0.0
    for s in tracer.spans:
        if s["parent"] is None:
            out["trace.root_self_s"] += selfs[s["id"]] / ops
            continue
        name, layer = s["name"], s["name"].split(".")[0]
        layer_self += selfs[s["id"]]
        out[f"{name}_s" if "." in name else f"{name}.busy_s"] += selfs[s["id"]] / ops
        g = groups.get(s["group"], {})
        out[f"{layer}.gc_s"] += g.get("gc_s", 0.0) / ops
        out[f"{layer}.spill_bytes"] += g.get("spill_bytes", 0) / ops
        if name == "extract":
            out["extract.cpu_s"] += s["cpu_s"] / ops
            out["extract.task_skew"] = g.get("task_skew", 1.0)
        if name == "distill":
            out["distill.shuffle_bytes"] += g.get("shuffle_bytes", 0) / ops
    out.update(counts)
    out["trace.coverage"] = layer_self / traced_wall
    out["trace.overhead"] = traced_wall / untraced_wall
    return {k: {"value": float(v), "unit": PER_LAYER[k]} for k, v in out.items()}


def span_table(tracer, groups: dict) -> dict:
    """Per span name, summed over its spans: count, self time, process-tree
    CPU and the event-log task rollup (max for the task skew)."""
    selfs = tracer.self_times()
    table: dict[str, dict] = {}
    for s in tracer.spans:
        row = table.setdefault(s["name"], {"spans": 0, "self_s": 0.0, "cpu_s": 0.0})
        row["spans"] += 1
        row["self_s"] += selfs[s["id"]]
        row["cpu_s"] += s["cpu_s"]
        for k, v in groups.get(s["group"], {}).items():
            row[k] = max(row.get(k, 0), v) if k == "task_skew" else row.get(k, 0) + v
    return table


def run_workload(args, root: str) -> int:
    sys.path[:0] = [root, HERE]
    import probe
    import refdb
    import workloads

    threads = min(4, os.cpu_count() or 1)
    work = os.path.join(HERE, "_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # every process the run starts (JVM, Python workers) stays in the checkout
    # a 2g driver heap limit (the session's default is 8g) keeps a run small
    os.environ.update({"PYTHONPATH": root, "TMPDIR": os.path.join(work, "tmp"),
                       "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
                       "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
                       "SPARK_DRIVER_MEM": "2g"})
    db = refdb.RefDB()
    w = workloads.WORKLOADS[args.workload](work, db)
    spark = None
    try:
        w.generate(args.seed)
        stamp = probe.stamps(root, threads)
        # outputs of earlier runs on the same inputs and program sources
        inputs = probe.tree_digest(os.path.join(work, "input"))
        record = os.path.join(HERE, "_work", "records",
                              f"{args.workload}-{inputs}-{stamp['src_digest']}.json")
        w.load_record(record)
        steal0 = probe.read_steal()
        attempted = failed = 0
        with probe.RssSampler(skip=db.pid) as rss:
            t0 = time.perf_counter()
            spark = start_session(work, threads, bool(args.trace))
            session_s = time.perf_counter() - t0
            w.prepare(spark)
            setup_s = time.perf_counter() - t0
            log(f"session {session_s:.2f}s, prepare {setup_s - session_s:.2f}s")
            w.prepare_checks(spark)
            log(f"reference answers {time.perf_counter() - t0 - setup_s:.2f}s")
            for _ in range(WARM_UNITS[args.workload]):
                lats, bad = workloads.run_unit(w, spark)
                log(f"warm-up unit {sum(lats):.2f}s")
                setup_s += sum(lats)
                attempted += w.ops_per_unit
                failed += bad
            lats = []
            for split in w.splits.values():
                split.clear()
            t_meas = time.perf_counter()
            units = 0
            while True:
                unit_lats, bad = workloads.run_unit(w, spark)
                lats += unit_lats
                attempted += w.ops_per_unit
                failed += bad
                units += 1
                # the traced run needs one untraced unit, for the overhead
                if args.trace or (time.perf_counter() - t_meas >= args.seconds
                                  and units >= MIN_UNITS):
                    break
            if args.trace:
                tracer = probe.Tracer(spark)
                counts, bad = w.traced_unit(spark, tracer)
                attempted += w.ops_per_unit
                failed += bad
        if args.trace:
            stop_spark(spark)  # flushes the event log
            spark = None
            groups = probe.task_metrics_by_group(os.path.join(work, "events"))
            untraced = sum(lats[:w.ops_per_unit])
            metrics = per_layer(tracer, groups, counts, w.ops_per_unit, untraced, session_s)
        # no sample at all means every operation failed: correct is false
        p50 = statistics.median(lats) if lats else 0.0
        tail_v, tail_pct = tail(lats) if lats else (0.0, "none")
        e2e = {
            "setup_s": setup_s,
            "op_p50_s": p50,
            "op_tail_s": tail_v,
            "stored_bytes_per_input_byte": w.stored_ratio,
            "peak_rss_mb": rss.peak / 2**20,
        }
        if not args.trace:
            metrics = {k: {"value": float(v), "unit": END_TO_END[k]} for k, v in e2e.items()}
        p50_name, tail_name = OP_NAMES[args.workload]
        report = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "stamps": {**stamp, "steal_pct": probe.steal_pct(steal0, probe.read_steal())},
            "samples": len(lats), "tail_percentile": tail_pct,
            "named": {p50_name: p50, tail_name: tail_v, "setup_s": setup_s,
                      **{f"{part}_{k}": v for part, xs in w.splits.items() if xs
                         for k, v in (("p50_s", statistics.median(xs)),
                                      ("tail_s", tail(xs)[0]))},
                      "stored_bytes_per_input_byte": w.stored_ratio,
                      "peak_rss_mb": rss.peak / 2**20,
                      "error_rate": failed / max(attempted, 1)},
            "peak_rss_by_process_mb": rss.peak_by_process,
            "latencies_s": [round(x, 4) for x in lats],
        }
        if args.trace:
            report["spans"] = span_table(tracer, groups)
        if failed == 0:
            w.save_record(record)
        print("report " + json.dumps(report, sort_keys=True))
        print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
        return 0
    finally:
        # stop_spark can fail when a signal cut a JVM call short; the
        # reference process and the scratch files go anyway
        try:
            if spark is not None:
                stop_spark(spark)
        finally:
            db.close()
            shutil.rmtree(work, ignore_errors=True)


def run_all(args) -> int:
    """Every workload in its own process, then one table of the named
    end-to-end metrics."""
    rows = []
    for name in OP_NAMES:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"]
        r = subprocess.run(cmd, capture_output=True, text=True)
        lines = r.stdout.strip().splitlines()
        if r.returncode != 0 or len(lines) < 2:
            sys.stderr.write(r.stderr[-4000:])
            return r.returncode or 1
        report = json.loads(lines[-2].split(" ", 1)[1])
        result = json.loads(lines[-1])
        rows.append((name, report, result))
    for name, report, result in rows:
        print(f"{name}: correct={result['correct']} attempted={result['attempted']} "
              f"samples={report['samples']} tail={report['tail_percentile']}")
        for metric, value in report["named"].items():
            unit = "s" if metric.endswith("_s") else "MB" if metric.endswith("_mb") else "ratio"
            print(f"  {metric:32s} {value:.6g} {unit}")
    return 0 if all(r[2]["correct"] for r in rows) else 1


def main(argv=None) -> int:
    # a SIGTERM (a timeout) still stops the JVM and removes the scratch files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=[*OP_NAMES, "all"])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=8)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "deepex_spark", "pipeline.py")):
        print("kgbench: run from the repository root (deepex_spark/ not found)", file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args)
    return run_workload(args, root)


if __name__ == "__main__":
    sys.exit(main())
