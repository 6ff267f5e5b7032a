#!/usr/bin/env python3
"""The repository benchmark: one named workload, one seed, one run.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 20 --trace 0

Run from the repository root. It builds the engine from source (first run
only), generates the workload's inputs from the seed, drives the engine in
one JVM through its public entry points, checks every result, and prints
one JSON line last: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones; with --trace 1 they are the
per-layer ones from a traced run. The full record of the run (samples,
tail percentiles, calibration, failures, spans, the single-threaded
baseline) is written under .bench_build/results/. See README.md.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import benchlib  # noqa: E402
import build  # noqa: E402

JVM_TIMEOUT_S = 165
MAX_PASSES = 8
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def metric(value, unit):
    return {"value": value, "unit": unit}


def mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def end_to_end(workload, raw, golden):
    """(attempted, failed, failures, metrics, notes) of an untraced run."""
    failures = []
    setup_s = raw["jvm_boot_s"] + statistics.median(raw["setups_s"]) + raw["warmup_s"]
    notes = {k: raw[k] for k in ("jvm_boot_s", "setups_s", "warmup_s",
                                 "live_heap_peak_mb", "non_heap_mb", "rss_peak_mb")}
    if workload == "stream":
        attempted = raw["backlog"] + raw["live_events"]
        failed = raw["missing"] + raw["failed_triggers"]
        if raw["missing"]:
            failures.append(f"{raw['missing']} events never reached the sink")
        if raw["failed_triggers"]:
            failures.append(f"failed trigger: {raw['error']}")
        parity = raw["parity"]
        notes.update({k: raw[k] for k in ("catch_up_s", "live_wall_s", "drain_s",
                                           "parity_s", "gen_late_ms_max")})
        notes["parity"] = parity
        attempted += 2
        if not parity.get("checked"):
            failed += 2
            failures.append(f"parity not checked: {parity.get('error')}")
        else:
            for key in ("minute_diff", "analysis_diff"):
                if parity[key]:
                    failed += 1
                    failures.append(f"stream/batch parity: {key}={parity[key]}")
        # fastest round: on one host, each round ran faster than the one
        # before it, so the median would follow that trend
        catch_up_s = min(raw["catch_up_s"])
        op_s = raw["trigger_s"] or [catch_up_s]
        lat_ms = raw["latencies_ms"] or [catch_up_s * 1e3]
        pass_s = catch_up_s
        events_per_s = raw["backlog"] / catch_up_s
    else:
        ops = raw["ops"]
        attempted = len(ops)
        failed = 0
        for op in ops:
            why = (f"{op['name']}: {op['error']}" if op["error"]
                   else benchlib.fingerprint_mismatch(golden, op["name"], op["fp"]))
            if why:
                failed += 1
                failures.append(why)
        op_s = [op["latency_s"] for op in ops if not op["error"]] or [raw["wall_s"]]
        lat_ms = [x * 1e3 for x in op_s]
        pass_s = statistics.median(raw["passes_s"])
        events_per_s = len(ops) / raw["wall_s"]
    q_pct, q_tail = benchlib.tail(op_s)
    l_pct, l_tail = benchlib.tail(lat_ms)
    notes.update({"query_tail_pct": q_pct, "query_n": len(op_s),
                  "latency_tail_pct": l_pct, "latency_n": len(lat_ms),
                  "fail_ratio": failed / attempted})
    metrics = {
        "setup_s": metric(setup_s, "s"),
        "query_p50_s": metric(statistics.median(op_s), "s"),
        "query_tail_s": metric(q_tail, "s"),
        "pass_s": metric(pass_s, "s"),
        "events_per_s": metric(events_per_s, "events/s"),
        "latency_p50_ms": metric(statistics.median(lat_ms), "ms"),
        "latency_tail_ms": metric(l_tail, "ms"),
        "mem_peak_mb": metric(raw["mem_peak_mb"], "MB"),
    }
    return attempted, failed, failures, metrics, notes


def per_layer(workload, raw, cores):
    """Per-layer metrics of a traced run: per operation (a query, or a
    stream trigger) unless the name says otherwise."""
    m = {}
    spans = raw["spans"]
    if workload == "stream":
        trig = raw["triggers"]
        n = max(len(trig), 1)
        live = [t for t in trig if t["measured"] and t["rows"] > 0] or trig
        c = raw["counters"]

        def dur(key):
            return statistics.median([t["duration_ms"].get(key, 0) for t in live])
        # the counters are those of the last consumer: its catch-up round
        # and the live phase
        busy_wall = raw["catch_up_s"][-1] + raw["live_wall_s"]
        m.update({
            "sources.input_mb": c.get("input_mb", 0) / n,
            "sources.input_rows": c.get("input_rows", 0) / n,
            "sources.broker_backlog_max": raw["broker_backlog_max"],
            "sources.gen_late_ms_max": raw["gen_late_ms_max"],
            "operators.build_s": 0.0, "operators.exec_s": 0.0,
            "operators.jobs": c.get("jobs", 0) / n,
            "operators.stages": c.get("stages", 0) / n,
            "operators.tasks": c.get("tasks", 0) / n,
            "operators.task_s": c.get("task_s", 0) / n,
            "operators.cpu_s": c.get("cpu_s", 0) / n,
            "operators.busy_ratio": c.get("task_s", 0) / (busy_wall * cores),
            "operators.gc_s": raw["gc_s"] / n,
            "operators.shuffle_mb": c.get("shuffle_mb", 0) / n,
            "operators.spill_mb": c.get("spill_mb", 0) / n,
            "operators.task_skew": c.get("task_skew", 1.0),
            "plans.plan_s": 0.0, "plans.nodes": 0.0, "plans.exchanges": 0.0,
            "materialize.pins": mean([t["pins"] for t in trig]),
            "materialize.pin_jobs": c.get("pin_jobs", 0) / n,
            "materialize.pinned_mb": raw["pinned_mb"],
            "materialize.release_s": 0.0,
            "streaming.batches": len(trig),
            "streaming.rows_per_batch": mean([t["rows"] for t in trig if t["rows"] > 0]),
            "streaming.trigger_ms": dur("triggerExecution"),
            "streaming.plan_ms": dur("queryPlanning"),
            "streaming.add_batch_ms": dur("addBatch"),
            "streaming.wal_ms": dur("walCommit"),
            "streaming.commit_ms": dur("commitOffsets"),
            "streaming.sink_ms": statistics.median(
                [t["sink_ms"] for t in live if t["sink_ms"] > 0] or [0.0]),
            "streaming.state_rows": max([t["state_rows"] for t in trig] or [0]),
            "streaming.state_mb": max([t["state_mb"] for t in trig] or [0]),
            "streaming.state_commit_ms": statistics.median(
                [t["state_commit_ms"] for t in live] or [0]),
            "streaming.late_rows_dropped": sum(t["late_rows_dropped"] for t in trig),
        })
    else:
        ops = [o for o in raw["ops"] if not o["error"]] or raw["ops"]
        n = max(len(ops), 1)

        def avg(key, sub=None):
            return mean([(o[sub] if sub else o).get(key, 0) for o in ops])
        m.update({
            "sources.input_mb": avg("input_mb", "counters"),
            "sources.input_rows": avg("input_rows", "counters"),
            "sources.broker_backlog_max": 0.0, "sources.gen_late_ms_max": 0.0,
            "operators.build_s": avg("build_s"), "operators.exec_s": avg("exec_s"),
            "operators.jobs": avg("jobs", "counters"),
            "operators.stages": avg("stages", "counters"),
            "operators.tasks": avg("tasks", "counters"),
            "operators.task_s": avg("task_s", "counters"),
            "operators.cpu_s": avg("cpu_s", "counters"),
            "operators.busy_ratio": sum(o["counters"]["task_s"] for o in ops)
            / (sum(o["latency_s"] for o in ops) * cores),
            "operators.gc_s": avg("gc_s"),
            "operators.shuffle_mb": avg("shuffle_mb", "counters"),
            "operators.spill_mb": avg("spill_mb", "counters"),
            "operators.task_skew": avg("task_skew", "counters"),
            "plans.plan_s": avg("plan_s"), "plans.nodes": avg("nodes"),
            "plans.exchanges": avg("exchanges"),
            "materialize.pins": avg("pins"),
            "materialize.pin_jobs": avg("pin_jobs", "counters"),
            "materialize.pinned_mb": avg("pinned_mb"),
            "materialize.release_s": avg("release_s"),
        })
        for k in ("batches", "rows_per_batch", "trigger_ms", "plan_ms",
                  "add_batch_ms", "wal_ms", "commit_ms", "sink_ms", "state_rows",
                  "state_mb", "state_commit_ms", "late_rows_dropped"):
            m["streaming." + k] = 0.0
    for layer, s in benchlib.layer_self_times(spans).items():
        m[layer + ".self_s"] = s / n
    return {k: metric(float(v), layer_unit(k)) for k, v in m.items()}


def layer_unit(name):
    if name.endswith(("busy_ratio", "task_skew")):
        return "ratio"
    for part, unit in (("_mb", "MB"), ("_ms", "ms")):
        if part in name:
            return unit
    return "s" if name.endswith("_s") else "count"


def make_inputs(args, cores, run_dir, data):
    spec = {"workload": args.workload, "seconds": args.seconds, "cores": cores,
            "data": data, "workdir": run_dir, "trace": args.trace,
            "setups": 3, "passes": MAX_PASSES,
            "out": os.path.join(run_dir, "raw.json")}
    if args.workload == "stream":
        ramp = benchlib.STREAM["rate"] * benchlib.STREAM["ramp_s"]
        count = benchlib.STREAM["backlog"] + ramp + benchlib.STREAM["rate"] * args.seconds
        events, ts = benchlib.stream_events(args.seed, count)
        path = os.path.join(run_dir, "events.tsv")
        with open(path, "w") as fh:
            fh.writelines(f"{t}\t{j}\n" for t, j in events)
        backlog = benchlib.STREAM["backlog"]
        # catch-up is done once the trigger at the backlog's watermark has
        # returned from the sink; the run once the final one has
        spec.update({"events": path, "backlog": backlog,
                     "final_watermark_ms": benchlib.watermark(ts, count),
                     "backlog_watermark_ms": benchlib.watermark(ts, backlog),
                     "rate": benchlib.STREAM["rate"], "ramp_events": ramp,
                     "catch_up_rounds": benchlib.STREAM["catch_up_rounds"]})
    else:
        for i, order in enumerate(benchlib.query_orders(args.workload, args.seed, MAX_PASSES)):
            spec[f"order.{i}"] = ",".join(order)
    path = os.path.join(run_dir, "spec.txt")
    with open(path, "w") as fh:
        fh.writelines(f"{k}={v}\n" for k, v in spec.items())
    return path


def run_jvm(root, classes, spec_path, run_dir):
    jars = os.path.join(build.spark_jars(root), "*")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # no -Xms: the heap grows with demand instead of being touched whole
    cmd = ["java", "-Xmx4g", "-Xss8m", "-XX:-UsePerfData", "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}{os.pathsep}{jars}", "perfbench.Harness", spec_path]
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    if code != 0:
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-6000:])
        raise SystemExit(f"perfbench: harness JVM failed ({code})")


def tracing_overhead(results, workload, raw, seed, stamp):
    """Traced against untraced pass time, from the untraced run of the
    same workload and seed on the same sources (same stamp), if any."""
    path = os.path.join(results, f"{workload}-s{seed}-t0.json")
    base = None
    if os.path.isfile(path):
        with open(path) as fh:
            base = json.load(fh)
    if base is None or base.get("source_stamp") != stamp:
        return {"note": "no untraced run of this workload, seed and source stamp "
                        "to compare with"}
    untraced = base["metrics"]["pass_s"]["value"]
    traced = (min(raw["catch_up_s"]) if workload == "stream"
              else statistics.median(raw["passes_s"]))
    return {"untraced_pass_s": untraced, "traced_pass_s": traced,
            "overhead": traced / untraced - 1, "against": os.path.basename(path)}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=benchlib.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.seconds < 1:
        ap.error("--seconds must be at least 1")

    root = os.getcwd()
    classes = build.ensure(root)
    with open(os.path.join(classes, build.STAMP)) as fh:
        stamp = fh.read()
    data = benchlib.data_dir()
    if not os.path.isfile(os.path.join(data, "events.parquet")):
        raise SystemExit(f"perfbench: no sf0.1 tables at {data} (set SPARK_GRAFT_SF_DIR)")
    with open(os.path.join(HERE, "golden.json")) as fh:
        golden = json.load(fh)
    cores = benchlib.nproc()
    work = os.path.join(root, ".bench_build")
    run_dir = os.path.join(work, "runs", f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    results = os.path.join(work, "results")
    os.makedirs(run_dir)
    os.makedirs(results, exist_ok=True)
    try:
        spec = make_inputs(args, cores, run_dir, data)
        t = time.time()
        run_jvm(root, classes, spec, run_dir)
        with open(os.path.join(run_dir, "raw.json")) as fh:
            raw = json.load(fh)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    attempted, failed, failures, e2e, notes = end_to_end(args.workload, raw, golden)
    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "source_stamp": stamp, "jvm_wall_s": time.time() - t,
              "calibration": raw["calibration"], "failures": failures,
              "notes": notes, "metrics": e2e,
              "samples": [{k: o[k] for k in ("name", "pass", "start_s", "latency_s", "error")}
                          for o in raw.get("ops", [])],
              "fingerprints": {o["name"]: o["fp"] for o in raw.get("ops", []) if not o["error"]}}
    if args.trace:
        metrics = per_layer(args.workload, raw, cores)
        record.update({"metrics": metrics, "end_to_end_traced": e2e,
                       "tracing": tracing_overhead(results, args.workload, raw, args.seed, stamp),
                       "single_thread": raw["single_thread"], "spans": raw["spans"]})
        st = raw["single_thread"]
        if st.get("failed"):
            failures.append(f"local[1]: {st['failed']} stream failures")
        if "ops" in st:
            for op in st["ops"]:
                why = (op["error"] or
                       benchlib.fingerprint_mismatch(golden, op["name"], op["fp"]))
                if why:
                    failures.append(f"local[1]: {why}")
            record["single_thread"] = {
                "pass_s": statistics.median(st["passes_s"]),
                "query_p50_s": statistics.median([o["latency_s"] for o in st["ops"]])}
    else:
        metrics = e2e
    out = os.path.join(results, f"{args.workload}-s{args.seed}-t{args.trace}.json")
    with open(out, "w") as fh:
        json.dump(record, fh, indent=1)
    for f in failures[:20]:
        sys.stderr.write(f"FAIL {f}\n")
    line = {"correct": failed == 0 and not failures, "attempted": attempted,
            "failed": max(failed, len(failures)), "metrics": metrics}
    print(json.dumps(line))


if __name__ == "__main__":
    main()
