#!/usr/bin/env python3
"""Benchmark entry point.

    python3 pipebench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the benchmark from source (once per source
state), generates the workload's inputs from the seed, runs the
workload in one JVM, checks every output, and prints one JSON object as
the last line of standard output. With --trace 0 it carries the
end-to-end metrics, with --trace 1 the per-layer metrics. The full
record of the run (samples, percentiles with their sample counts, host
calibration, and with --trace 1 the spans) is written to
pipebench/.out/<workload>-<seed>-trace<t>.json for diff.py.

    python3 pipebench/run.py --smoke

runs every workload end to end on tiny inputs and checks that every
metric prints with its unit and that a wrong expected value fails the
run (see README.md).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402

SPARK_HOME = os.environ.get("SPARK_HOME", "/opt/spark")
BUILD = os.path.join(HERE, ".build")
CLASSES = os.path.join(BUILD, "target", "scala-2.13", "classes")
RESOURCES = os.path.join(ROOT, "src", "main", "resources")
OUT = os.path.join(HERE, ".out")
JVM_TIMEOUT = 170

# Workloads (README.md says why each exists and how the list was chosen).
# One query from each of the 14 query modules.
SWEEP = ["q02", "q22", "q32", "q41", "q52", "q55", "q56", "q60", "q64", "q90", "q93",
         "q102", "q104", "q120"]
# More cities than WeatherStream.runOnce takes files per micro-batch by
# default (9); the workload raises the batch to a whole day (README.md,
# "Known defect").
CITIES = 24
WORKLOADS = {
    "sweep_sf01": {"kind": "queries", "sf": 0.01, "queries": SWEEP, "min_rounds": 2},
    "daily_ingest": {"kind": "daily", "min_rounds": 2, "serve_per_day": 6},
}
SMOKE = {
    "sweep_sf01": {"sf": 0.001, "min_rounds": 2},
    "daily_ingest": {"min_rounds": 2, "serve_per_day": 4},
}

E2E_UNITS = {"setup_s": "s", "round_s": "s", "op_gmean_ms": "ms", "op_p90_ms": "ms"}


def fail(msg, code=2):
    print(f"pipebench: {msg}", file=sys.stderr)
    sys.exit(code)


# ---------------------------------------------------------------- build

def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for p in sorted(files):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("program sources (src/main/scala/graft) not found next to the benchmark")
    stamp = source_stamp()
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.isdir(CLASSES) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as lf:
        rc = subprocess.call(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                             cwd=HERE, stdout=lf, stderr=subprocess.STDOUT, timeout=850)
    if rc != 0:
        fail(f"build failed (rc={rc}), see {log}")
    with open(stamp_file, "w") as f:
        f.write(stamp)


# ------------------------------------------------------------------ jvm

OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
         "java.base/java.io", "java.base/java.net", "java.base/java.nio",
         "java.base/java.util", "java.base/java.util.concurrent",
         "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
         "java.base/sun.nio.cs", "java.base/sun.security.action",
         "java.base/sun.util.calendar"]


def run_jvm(cfg_path, work):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + [a for p in OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Xmx3g", f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-cp", f"{CLASSES}:{RESOURCES}:{SPARK_HOME}/jars/*", "pipebench.Main", cfg_path]
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=work,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return f"timed out after {JVM_TIMEOUT}s"
    if rc != 0:
        with open(log) as f:
            tail = f.read()[-2000:]
        return f"jvm exited {rc}: {tail}"
    return None


# -------------------------------------------------------------- metrics

def pct(xs, q):
    """Nearest-rank percentile."""
    s = sorted(xs)
    return s[min(len(s) - 1, max(0, int(round(q / 100.0 * len(s) + 0.5)) - 1))]


def summary(xs, qs):
    out = {"n": len(xs)}
    if xs:
        out.update({f"p{q}": pct(xs, q) for q in qs})
        out["mean"] = statistics.fmean(xs)
    return out


def p90(xs):
    """90th percentile interpolated between samples (0 for no samples)."""
    if len(xs) < 2:
        return xs[0] if xs else 0.0
    return statistics.quantiles(xs, n=10, method="inclusive")[8]


def untraced_rounds(res):
    return [r for r, t in zip(res["round_s"], res["traced"]) if not t]


def end_to_end(res):
    """`op_gmean_ms` is the geometric mean over operation kinds (a query,
    or a step of the day) of each kind's median latency, so a step that
    fails and leaves no sample does not shift the mix. `op_p90_ms`
    interpolates between samples, so it does not jump from one query's
    time to the next one's. A run whose failures left a sample set empty
    reads 0 there; such a run is reported as not correct anyway."""
    ops = [v for vs in res["op_ms"].values() for v in vs]
    kinds = [statistics.median(vs) for vs in res["op_ms"].values() if vs]
    rounds = untraced_rounds(res)
    return {
        "setup_s": res["setup_s"],
        "round_s": statistics.median(rounds) if rounds else 0.0,
        "op_gmean_ms": statistics.geometric_mean(kinds) if kinds else 0.0,
        "op_p90_ms": p90(ops),
    }


def named(workload, res):
    """The workload's own metrics by the names the README uses, each
    percentile with its sample count (not gated)."""
    ops = res["op_ms"]
    heap = {"heap_peak_mb": res["heap_peak_mb"], "heap_live_mb": res["heap_live_mb"]}
    if workload == "daily_ingest":
        m = {"day_s": summary(untraced_rounds(res), (50,)), **heap}
        for k, q in (("serve", (50, 99)), ("append", (50,)), ("merge", (50,)),
                     ("delete", (50,)), ("scan", (50,)), ("maintain", (50,)),
                     ("compact", (50,)), ("tick", (50,)), ("fit", (50,))):
            m[f"{k}_ms"] = summary(ops.get(k, []), q)
        return m
    q = [v / 1e3 for vs in ops.values() for v in vs]
    return {"query_total_s": summary(untraced_rounds(res), (50,)),
            "query_s": summary(q, (50, 90)), **heap}


def per_layer(res, spans):
    """Per-layer metrics from the traced rounds' spans: per round (a pass
    over the query list, or one day) for times and counters, as ratios
    where the name says so. Layers a workload does not exercise read 0."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)

    def subtree(s):
        out, todo = [], [s]
        while todo:
            x = todo.pop()
            out.append(x)
            todo += kids.get(x["id"], [])
        return out

    def under(root_name):
        roots = [s for s in spans if s["name"] == root_name]
        return roots, [x for r in roots for x in subtree(r)]

    def c(ss, k):
        return sum(s["counters"].get(k, 0.0) for s in ss)

    def dur_s(ss):
        return sum(s["dur_ms"] for s in ss) / 1e3

    def named_spans(ss, name):
        return [s for s in ss if s["name"] == name]

    def driver_s(s):
        iv = sorted((max(a, s["start_ms"]), min(b, s["end_ms"]))
                    for x in subtree(s) for a, b in x["jobs_iv"])
        covered, reach = 0, s["start_ms"]
        for a, b in iv:
            lo = max(a, reach)
            if b > lo:
                covered, reach = covered + b - lo, b
        return max(0, s["end_ms"] - s["start_ms"] - covered) / 1e3

    m = {k: 0.0 for k in LAYER_METRICS}
    rounds, ss = under("pass")
    if rounds:
        n = len(rounds)
        qs = named_spans(ss, "query")
        m["queries.construct_s"] = dur_s(named_spans(ss, "queries.construct")) / n
        m["queries.construct_jobs"] = c(named_spans(ss, "queries.construct"), "jobs") / n
        m["plans.GuardRails.gate_s"] = dur_s(named_spans(ss, "plans.GuardRails.gate")) / n
        ex = named_spans(ss, "queries.exec")
        m["queries.plan_s"] = c(ex, "plan_s") / n
        m["plans.exchange_misestimates"] = c(ex, "exchange_misestimates") / n
        for k in ("jobs", "stages", "tasks", "task_cpu_s", "gc_s", "shuffle_read_bytes",
                  "shuffle_write_bytes", "fetch_wait_s", "spill_bytes", "input_bytes"):
            m[f"queries.{k}"] = c(ss, k) / n
        m["queries.peak_exec_mem_bytes"] = max(
            [s["counters"].get("peak_exec_mem_bytes", 0.0) for s in ss] + [0.0])
        m["queries.driver_s"] = sum(driver_s(q) for q in qs) / n
        for mod in MODULES:
            m[f"queries.{mod}.exec_s"] = dur_s([s for s in ex if s["tag"] == mod]) / n
    days, ds = under("day")
    if days:
        n = len(days)
        layer = res.get("layer", {})
        ticks = named_spans(ds, "streaming.WeatherStream.tick")
        m["streaming.WeatherStream.tick_s"] = dur_s(ticks) / n
        m["streaming.batches_per_tick"] = c(ticks, "batches") / max(1, len(ticks))
        for ph in ("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit",
                   "commitOffsets"):
            m[f"streaming.trigger.{ph}_ms"] = c(ticks, f"trigger.{ph}_ms") / n
        m["weather.Weather.latestPerCity_s"] = dur_s(
            named_spans(ds, "weather.Weather.latestPerCity")) / n
        fit = named_spans(ds, "ml.NextDayTemp.fit")
        pred = named_spans(ds, "ml.NextDayTemp.predict")
        m["ml.NextDayTemp.fit_s"] = dur_s(fit) / n
        m["ml.NextDayTemp.predict_s"] = dur_s(pred) / n
        m["ml.NextDayTemp.jobs"] = c(fit + pred, "jobs") / n
        m["sinks.Publish.publish_s"] = dur_s(named_spans(ds, "sinks.Publish.publish")) / n
        m["sinks.Publish.files_written"] = layer.get("publish_files", 0.0) / n
        serve = named_spans(ds, "sinks.Publish.serve")
        m["sinks.Publish.serve_jobs_per_request"] = c(serve, "jobs") / max(1, len(serve))
        m["sinks.Publish.serve_rows_scanned_per_returned"] = (
            c(serve, "input_records") / max(1.0, layer.get("serve_rows_returned", 0.0)))
        for op in ("append", "merge", "delete", "compact"):
            m[f"sinks.TxnTable.{op}_ms"] = statistics.fmean(
                [s["dur_ms"] for s in named_spans(ds, f"sinks.TxnTable.{op}")] or [0.0])
        commits = [s for s in ds if s["name"] in (
            "sinks.TxnTable.append", "sinks.TxnTable.merge", "sinks.TxnTable.delete",
            "sinks.TxnTable.compact")]
        m["sinks.TxnTable.jobs_per_commit"] = c(commits, "jobs") / max(1, len(commits))
        m["sinks.TxnTable.files_per_commit"] = (
            layer.get("txn.files_added", 0.0) / max(1.0, 2.0 * n))
        m["sinks.TxnTable.manifest_bytes"] = layer.get("txn.manifest_bytes", 0.0) / n
        m["sinks.TxnTable.scan_files_read_frac"] = (
            layer.get("txn.scan_files_read", 0.0) / max(1.0, layer.get("txn.scan_files_total", 0.0)))
        m["queries.Materialized.maintain_ms"] = statistics.fmean(
            [s["dur_ms"] for s in named_spans(ds, "queries.Materialized.maintain")] or [0.0])
        m["queries.Materialized.feed_rows"] = layer.get("feed_rows", 0.0) / n
    rounds = list(zip(res["round_s"], res["traced"]))[1:]  # the first round is cold
    plain = [r for r, t in rounds if not t]
    traced = [r for r, t in rounds if t]
    if plain and traced:
        m["trace.overhead_frac"] = statistics.fmean(traced) / statistics.fmean(plain) - 1.0
    return m


MODULES = ["Relational", "LlmOps", "TextOps", "Multimodal", "Bucketed", "Sessions",
           "ZOrder", "Incremental", "Clusters", "Scd", "Txn", "Materialized", "PageRank",
           "QualityFilter"]
LAYER_UNITS = {
    "queries.construct_s": "s", "queries.construct_jobs": "count",
    "plans.GuardRails.gate_s": "s", "queries.plan_s": "s",
    "queries.jobs": "count", "queries.stages": "count", "queries.tasks": "count",
    "queries.driver_s": "s", "queries.task_cpu_s": "s", "queries.gc_s": "s",
    "queries.shuffle_read_bytes": "bytes", "queries.shuffle_write_bytes": "bytes",
    "queries.fetch_wait_s": "s", "queries.spill_bytes": "bytes",
    "queries.input_bytes": "bytes", "queries.peak_exec_mem_bytes": "bytes",
    **{f"queries.{m}.exec_s": "s" for m in MODULES},
    "plans.exchange_misestimates": "count",
    "streaming.WeatherStream.tick_s": "s", "streaming.batches_per_tick": "count",
    **{f"streaming.trigger.{p}_ms": "ms" for p in (
        "latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets")},
    "weather.Weather.latestPerCity_s": "s", "ml.NextDayTemp.fit_s": "s",
    "ml.NextDayTemp.predict_s": "s", "ml.NextDayTemp.jobs": "count",
    "sinks.Publish.publish_s": "s", "sinks.Publish.files_written": "count",
    "sinks.Publish.serve_jobs_per_request": "count",
    "sinks.Publish.serve_rows_scanned_per_returned": "ratio",
    **{f"sinks.TxnTable.{op}_ms": "ms" for op in ("append", "merge", "delete", "compact")},
    "sinks.TxnTable.jobs_per_commit": "count", "sinks.TxnTable.files_per_commit": "count",
    "sinks.TxnTable.manifest_bytes": "bytes", "sinks.TxnTable.scan_files_read_frac": "ratio",
    "queries.Materialized.maintain_ms": "ms", "queries.Materialized.feed_rows": "count",
    "trace.overhead_frac": "ratio",
}
LAYER_METRICS = list(LAYER_UNITS)


# ------------------------------------------------------------- workload

def prepare(w, seed, work, corrupt):
    """Generate the inputs; return the JVM config and the check context."""
    cfg = {"kind": w["kind"], "cpus": os.cpu_count() or 4, "work": work,
           "min_rounds": w["min_rounds"], "out": os.path.join(work, "result.json"),
           "spans": os.path.join(work, "spans.json")}
    if w["kind"] == "queries":
        data = os.path.join(work, "data")
        gen.tables(data, w["sf"], seed)
        cfg.update(queries=w["queries"], data=data, dump=os.path.join(work, "dump"))
        return cfg, {"data": data}
    inp = os.path.join(work, "input")
    spec = gen.daily(inp, os.path.join(ROOT, "src", "test", "resources", "weather"), seed,
                     cities=CITIES, serve_per_day=w["serve_per_day"])
    if corrupt:
        spec["txn_sums"][spec["dates"][spec["history"]]][0] += 1
    cfg.update(input=inp, spec=spec, serve_per_day=w["serve_per_day"])
    return cfg, {"corrupted": "append"} if corrupt else {}


def run_workload(name, w, seed, seconds, trace, corrupt=False):
    """One run, in a fresh work directory (empty warehouse and temp dir).
    Returns (result line dict, full record dict). `corrupt` makes one
    expected value wrong, for the self-test."""
    work = os.path.join(HERE, ".work", f"{name}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t0 = time.time()
        cfg, ctx = prepare(w, seed, work, corrupt)
        t_gen = time.time()
        cfg.update(trace=int(trace), seconds=seconds)
        cfg_path = os.path.join(work, "config.json")
        with open(cfg_path, "w") as f:
            json.dump(cfg, f)
        err = run_jvm(cfg_path, work)
        if err:
            fail(f"{name}: {err}", 3)
        t_jvm = time.time()
        with open(cfg["out"]) as f:
            res = json.load(f)
        failures = list(res["failures"])
        attempted = res["attempted"]
        if w["kind"] == "queries":
            with open(os.path.join(work, "oracle.json")) as f:
                sqls = json.load(f)
            if corrupt:
                q = ctx["corrupted"] = next(q for q in res["queries"] if q in sqls)
                sqls[q] = f"SELECT * FROM ({sqls[q]}) UNION ALL (SELECT * FROM ({sqls[q]}) LIMIT 1)"
            checked = oracle.check(ctx["data"], cfg["dump"], res["queries"], sqls)
            failures += [f"{q}: {msg}" for q, msg in checked.items() if msg]
            attempted += len(checked)
        phases = {"generate_s": t_gen - t0, "jvm_s": t_jvm - t_gen,
                  "check_s": time.time() - t_jvm}
        spans = []
        if trace:
            with open(cfg["spans"]) as f:
                spans = json.load(f)
        record = {"workload": name, "seed": seed, "seconds": seconds, "trace": int(trace),
                  "cal_cpu": res["cal_cpu"], "cal_shuffle": res["cal_shuffle"],
                  "boot_s": res["boot_s"], "session_s": res["session_s"],
                  "queries": res.get("queries", []),
                  "samples": {
                      "setup_s": res["setup_s"], "setup_ms": res.get("setup_ms", {}),
                      "round_s": res["round_s"],
                      "traced": res["traced"],
                      "op_ms": res["op_ms"]},
                  "phases": phases, "named": named(name, res),
                  "end_to_end": end_to_end(res),
                  "attempted": attempted, "failures": failures,
                  "corrupted": ctx.get("corrupted")}
        if trace:
            record["per_layer"] = per_layer(res, spans)
            record["spans"] = spans
            metrics = {k: {"value": v, "unit": LAYER_UNITS[k]}
                       for k, v in record["per_layer"].items()}
        else:
            metrics = {k: {"value": v, "unit": E2E_UNITS[k]}
                       for k, v in record["end_to_end"].items()}
        line = {"correct": not failures, "attempted": attempted,
                "failed": min(attempted, len(failures)), "metrics": metrics}
        return line, record
    finally:
        shutil.rmtree(work, ignore_errors=True)


def smoke():
    """Every workload end to end on tiny inputs. The harness passes when
    every metric prints with its unit, a traced run traces some layer, and
    a wrong expected value adds a failure for the check it corrupts.
    Failed checks of the program's own outputs are printed, not counted
    against the harness: reporting them is what the harness is for."""
    build()
    problems = []
    for name, w in WORKLOADS.items():
        ws = dict(w, **SMOKE[name])
        for trace in (0, 1):
            line, record = run_workload(name, ws, 1, 2, trace)
            want = LAYER_UNITS if trace else E2E_UNITS
            got = {k: v.get("unit") for k, v in line["metrics"].items()}
            if got != want:
                problems.append(f"{name} trace={trace}: metrics {sorted(got)} != {sorted(want)}")
            if trace and not any(v["value"] for v in line["metrics"].values()):
                problems.append(f"{name} trace=1: no layer was traced")
            print(f"smoke {name} trace={trace}: correct={line['correct']} "
                  f"attempted={line['attempted']} failed={line['failed']}", flush=True)
            for msg in record["failures"][:5]:
                print("  program check failed:", msg)
            if not trace:
                clean = record["failures"]
        line, record = run_workload(name, ws, 1, 2, 0, corrupt=True)
        target = record["corrupted"] + ":"
        caught = any(f.startswith(target) for f in record["failures"])
        if not caught or any(f.startswith(target) for f in clean) or line["correct"]:
            problems.append(f"{name}: a wrong expected value for {target} was not "
                            f"reported as a failure")
        print(f"smoke {name} wrong expectation for {target} reported: {caught}", flush=True)
    for p in problems:
        print("SMOKE FAIL:", p)
    print("smoke:", "FAILED" if problems else "ok")
    return 1 if problems else 0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    ap.add_argument("--smoke", action="store_true")
    a = ap.parse_args()
    if a.smoke:
        sys.exit(smoke())
    if a.workload not in WORKLOADS:
        fail(f"unknown workload {a.workload!r}; one of {sorted(WORKLOADS)}")
    build()
    t0 = time.time()
    line, record = run_workload(a.workload, WORKLOADS[a.workload], a.seed, a.seconds, a.trace)
    record["wall_s"] = time.time() - t0
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, f"{a.workload}-{a.seed}-trace{a.trace}.json"), "w") as f:
        json.dump(record, f)
    for msg in record["failures"][:20]:
        print("FAILED", msg)
    print(json.dumps(record["named"]))
    # a completed run exits 0; failed checks are in the line (correct, failed)
    print(json.dumps(line))


if __name__ == "__main__":
    main()
