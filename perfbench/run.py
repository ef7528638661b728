#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the engine and the harness from
source on first use (perfbench/.build), generates the workload's inputs
from the seed (perfbench/.work), runs one closed-loop client in one JVM
with Spark in local mode, checks every op's output outside the timed
window, and prints a report followed by one JSON line. See
perfbench/README.md.
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
BUILD = os.path.join(HERE, ".build")
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("trip_cycle", "dict_resolve", "corpus_curation", "state_waves")
# Spark local[k], one client: one vCPU (of at most four) is left to the
# driver thread, so task threads and driver are no more than nproc
CORES = max(1, min(4, os.cpu_count() or 1) - 1)
DEADLINE_S = 170          # a run must end within 180 s
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    # the per-layer metrics a traced run puts in its JSON line; the text
    # lines also show the layers of the workloads BENCHMARK.json omits
    PER_LAYER = json.load(_f)["per_layer"]
TAIL_SAMPLES = 10         # samples required beyond the tail percentile
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 80.0, 75.0)
MAX_OPS = {"trip_cycle": gen.SIZES["trip_cycle"]["cycles"],
           "dict_resolve": 300, "corpus_curation": 60,
           "state_waves": gen.SIZES["state_waves"]["waves"]}
JVM_OPTS = [
    "-Xmx3g", "-Xms3g", "-XX:+UseParallelGC",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar")
    for x in ("--add-opens", f"{p}=ALL-UNNAMED")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def _source_hash():
    h = hashlib.sha256()
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                 os.path.join(HERE, "build.sbt"),
                 os.path.join(HERE, "project", "build.properties")):
        paths = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile engine + harness with sbt once per source state; returns
    the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("engine sources (src/main/scala) not found")
    digest = _source_hash()
    cp_file = os.path.join(BUILD, f"classpath-{digest[:16]}")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            return f.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = " ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"])
    log("building engine and harness (sbt)")
    t0 = time.time()
    sbt_log = os.path.join(BUILD, "sbt.log")
    with open(sbt_log, "w") as f:
        rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Compile/fullClasspath"], HERE, f, 840, env)[0]
    with open(sbt_log) as f:
        lines = [l for l in f.read().splitlines()
                 if l.endswith(".jar") or "classes:" in l]
    if rc != 0 or not lines:
        raise SystemExit(f"build failed (see {sbt_log})")
    log(f"built in {time.time() - t0:.1f} s")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    return lines[-1].strip()


# --------------------------------------------------------------- metrics

def tail(values):
    """The highest ladder percentile with >= TAIL_SAMPLES samples beyond
    it, or the ladder's lowest (p75) when a run is too short for any:
    (value, percentile, samples beyond). Nearest rank."""
    xs = sorted(values)
    n = len(xs)
    for p in TAIL_LADDER:
        rank = max(1, -(-round(p * n * 10) // 1000))  # ceil(p * n / 100)
        if n - rank >= TAIL_SAMPLES or p == TAIL_LADDER[-1]:
            return xs[rank - 1], p, n - rank


def median(xs):
    return statistics.median(xs) if xs else 0.0


def layer_metrics(res):
    """Per-layer metrics from the traced run's spans: each is the median
    over the ops that entered the layer of its per-op total (span time is
    inclusive of child spans). Layers a workload never enters read 0."""
    spans = res["trace"]["spans"]
    cores = res["trace"]["cores"]
    # spans inside each timed op (a read after a wave carries the wave's
    # op id but runs after the op's root span ends)
    roots = {s["op"]: s for s in spans if s["name"] == "op"}
    by_op = {}
    for s in spans:
        r = roots.get(s["op"])
        if r and r["start_s"] <= s["start_s"] <= r["start_s"] + r["dur_s"]:
            by_op.setdefault(s["op"], []).append(s)
    reads = [s for s in spans if s["op"] >= 0 and s not in by_op.get(s["op"], [])]

    def per_op(name, field="dur_s"):
        vals = [sum(s[field] for s in ss if s["name"] == name)
                for ss in by_op.values() if any(s["name"] == name for s in ss)]
        return median(vals)

    def spark_per_op(field):
        return median([sum(s[field] for s in ss) for ss in by_op.values()])

    gaps, busy = [], []
    for i, ss in by_op.items():
        dur = roots[i]["dur_s"]
        gaps.append(max(0.0, dur - sum(s["task_covered_s"] for s in ss)))
        busy.append(sum(s["task_busy_s"] for s in ss) / (dur * cores))
    samples = res["samples"]
    facts = res["facts"]
    update_write = [b - a for a, b in zip(
        [facts.get("state_bytes_before", 0)] + samples.get(
            "streaming.state_bytes", [])[:-1],
        samples.get("streaming.state_bytes", []))]
    m = {
        "nlp.resolve_s": per_op("nlp.resolve"),
        "api.clean_us": median(samples.get("api.clean_us", [])),
        "nlp.distinct_strings": median(samples.get("nlp.distinct_strings", [])),
        "nlp.resolved_share": facts.get("resolved_share", 0.0),
        "sources.read_s": per_op("sources.read"),
        "sources.sink_s": per_op("sources.sink"),
        "streaming.trigger_s": per_op("streaming.trigger"),
        "sources.sink_bytes": median(samples.get("sources.sink_bytes", [])),
        "ops.n13_s": per_op("ops.n13"),
        "ops.n14_s": per_op("ops.n14"),
        "ops.n15_s": per_op("ops.n15"),
        "ops.construct_s": per_op("ops.construct"),
        "ops.action_s": per_op("ops.action"),
        "caches.build_s": median(samples.get("caches.build_s", [])),
        "ops.dedup_s": per_op("ops.dedup"),
        "ops.similarity_s": per_op("ops.similarity"),
        "ops.text_s": per_op("ops.text"),
        "ops.pipeline_s": per_op("ops.pipeline"),
        "streaming.update_s": per_op("streaming.update"),
        "streaming.compact_s": per_op("streaming.compact"),
        "streaming.read_s": median([
            sum(s["dur_s"] for s in reads if s["op"] == i)
            for i in sorted({s["op"] for s in reads})]),
        "streaming.wave_bytes_written": median(update_write),
        "streaming.wave_bytes_read": per_op("streaming.update", "input_bytes"),
        "streaming.files": median(samples.get("streaming.files", [])),
        "streaming.tiers": median(samples.get("streaming.tiers", [])),
        "streaming.state_bytes": facts.get("state_bytes", 0),
        "spark.jobs": spark_per_op("jobs"),
        "spark.stages": spark_per_op("stages"),
        "spark.tasks": spark_per_op("tasks"),
        "spark.driver_gap_s": median(gaps),
        "spark.core_busy_share": median(busy),
        "spark.executor_cpu_s": spark_per_op("executor_cpu_s"),
        "spark.gc_s": spark_per_op("gc_s"),
        "spark.input_bytes": spark_per_op("input_bytes"),
        "spark.shuffle_read_bytes": spark_per_op("shuffle_read_bytes"),
        "spark.shuffle_write_bytes": spark_per_op("shuffle_write_bytes"),
        "spark.spill_bytes": spark_per_op("spill_bytes"),
    }
    return m


def self_times(res):
    """Per span name: total self time (duration minus the part of it its
    child spans cover) and call count."""
    spans = res["trace"]["spans"]
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_s"], s["start_s"] + s["dur_s"]
        iv = sorted((max(lo, c["start_s"]), min(hi, c["start_s"] + c["dur_s"]))
                    for c in kids.get(s["id"], []))
        covered, cur_a, cur_b = 0.0, None, None
        for a, b in iv:
            if b <= a:
                continue
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    covered += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            covered += cur_b - cur_a
        t = out.setdefault(s["name"], {"self_s": 0.0, "calls": 0})
        t["self_s"] += s["dur_s"] - covered
        t["calls"] += 1
    return out


# ------------------------------------------------------------------ main

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    cp = build()
    started = time.time()  # the run limit starts after a first-run build
    run_dir = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    data = os.path.join(run_dir, "data")
    os.makedirs(data)
    try:
        info = gen.GENERATORS[args.workload](args.seed, data, ROOT)
        gen.preflight(args.workload, data, info)
        res, peak_rss_mb = jvm(args, cp, data, os.path.join(run_dir, "work"),
                               started)
        failed_ops, notes = checks.CHECKS[args.workload](res, data)
        report(args, res, failed_ops, notes, peak_rss_mb, data)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def jvm(args, cp, data, work, started):
    """The benchmark JVM: set-up, then the timed ops. Returns (its result
    document, its peak RSS in MB)."""
    os.makedirs(os.path.join(work, "tmp"))
    out_json = os.path.join(work, "result.json")
    opts = JVM_OPTS + [f"-Djava.io.tmpdir={work}/tmp",
                       f"-Dspark.local.dir={work}/tmp",
                       f"-Dspark.sql.warehouse.dir={work}/warehouse"]
    cmd = ["java"] + opts + ["-cp", cp, "graft.perfbench.Main",
                             args.workload, data, work, str(args.seconds),
                             str(args.trace), str(CORES),
                             str(MAX_OPS[args.workload]), out_json]
    budget = DEADLINE_S - (time.time() - started)
    with open(os.path.join(work, "jvm.log"), "w") as jlog:
        rc, peak_rss_mb = run_group(cmd, work, jlog, budget)
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"benchmark JVM failed ({rc})")
    with open(out_json) as f:
        return json.load(f), peak_rss_mb


def run_group(cmd, cwd, out, budget, env=None):
    """Run cmd in its own process group to completion; returns (exit code,
    its peak RSS in MB). On timeout the whole group is killed and waited
    for."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out,
                         stderr=subprocess.STDOUT, start_new_session=True)
    deadline = time.time() + budget
    while True:
        pid, status, ru = os.wait4(p.pid, os.WNOHANG)
        if pid:
            p.returncode = os.waitstatus_to_exitcode(status)
            return p.returncode, ru.ru_maxrss / 1024.0
        if time.time() > deadline:
            os.killpg(p.pid, signal.SIGKILL)
            os.wait4(p.pid, 0)
            p.returncode = -9
            return -9, 0.0
        time.sleep(0.05)


def report(args, res, failed_ops, notes, peak_rss_mb, data):
    lat = res["op_s"]
    n = len(lat)
    timed = sum(lat)
    records = sum(res["op_records"])
    in_bytes = sum(res["op_input_bytes"])
    t_val, t_pct, t_beyond = tail(lat)
    written = res["program_disk_bytes"] + res["spark_disk_bytes"]
    e2e = {
        "setup_s": (res["setup_s"], "s"),
        "records_per_s": (records / timed, "1/s"),
        "op_p50_s": (median(lat), "s"),
        "op_tail_s": (t_val, "s"),
        "write_amp": (written / in_bytes if in_bytes else 0.0, "ratio"),
        "peak_rss_mb": (peak_rss_mb, "MB"),
    }
    extra = {"failed_ratio": (len(failed_ops) / n, "ratio")}
    if args.workload == "state_waves":
        extra["read_p50_s"] = (median(res["samples"]["read_s"]), "s")
        extra["space_amp"] = (res["facts"]["state_bytes"] /
                              res["facts"]["ingested_bytes"], "ratio")
    for note in notes[:5]:
        print(f"check: {note}")
    print(f"workload {args.workload} seed {args.seed} trace {args.trace}: "
          f"{n} ops in {timed:.2f} s timed, {records} records, "
          f"closed loop, 1 client, local[{res['cores']}]")
    for k, (v, u) in list(e2e.items()) + list(extra.items()):
        print(f"  {k:<14} {v:>14.6g} {u}")
    print(f"  op_tail_s is p{t_pct:g} of {n} ops ({t_beyond} beyond it)")
    if args.workload == "trip_cycle":
        print("  end_location classes of the timed records: " +
              ", ".join(f"{c} {v:.1%}" for c, v in
                        trip_class_shares(res, data).items()))
    if args.trace:
        layers = layer_metrics(res)
        for k, v in layers.items():
            print(f"  {k:<28} {v:>14.6g}")
        print("  self time by span (s, calls):")
        for k, t in sorted(self_times(res).items(),
                           key=lambda kv: -kv[1]["self_s"]):
            print(f"    {k:<24} {t['self_s']:>10.4f} {t['calls']:>6}")
        metrics = {m["name"]: {"value": layers[m["name"]], "unit": m["unit"]}
                   for m in PER_LAYER}
        save_trace(args, res)
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    save_summary(args, e2e)
    print(json.dumps({"correct": not failed_ops, "attempted": n,
                      "failed": len(failed_ops), "metrics": metrics}))


def save_trace(args, res):
    """Keep the spans (and the untraced run's numbers, when one was made
    for this workload and seed) for inspection after the run."""
    os.makedirs(WORK, exist_ok=True)
    path = os.path.join(WORK, f"trace-{args.workload}-{args.seed}.json")
    with open(path, "w") as f:
        json.dump({"spans": res["trace"]["spans"], "samples": res["samples"]},
                  f)
    print(f"  spans written to {os.path.relpath(path, ROOT)}")


def save_summary(args, e2e):
    """Tracing overhead: traced minus untraced end-to-end numbers for the
    same workload and seed, once both runs exist."""
    os.makedirs(WORK, exist_ok=True)
    base = os.path.join(WORK, f"e2e-{args.workload}-{args.seed}")
    with open(f"{base}-trace{args.trace}.json", "w") as f:
        json.dump({k: v for k, (v, _) in e2e.items()}, f)
    other = f"{base}-trace{1 - args.trace}.json"
    if os.path.exists(other):
        with open(other) as f:
            o = json.load(f)
        cur = {k: v for k, (v, _) in e2e.items()}
        traced, untraced = (cur, o) if args.trace else (o, cur)
        print("  tracing overhead (traced - untraced): " + ", ".join(
            f"{k} {traced[k] - untraced[k]:+.4g}" for k in traced))


def trip_class_shares(res, data):
    """Share of each end_location class among the records the run's
    cycles landed."""
    counts = {}
    for o in res["outputs"]:
        path = os.path.join(data, "cycles", f"c{o['cycle']:04d}", "truth.json")
        with open(path, encoding="utf-8") as f:
            for cls, _, _ in json.load(f).values():
                counts[cls] = counts.get(cls, 0) + 1
    total = sum(counts.values()) or 1
    return {c: counts.get(c, 0) / total for c, _ in gen.CLASS_WEIGHTS}


if __name__ == "__main__":
    main()
