#!/usr/bin/env python3
"""The repository benchmark: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload offload_full --seed 1 --seconds 20 --trace 0

Run from the repository root. The first run builds the engine and the
benchmark (perfbench/build.sbt, an sbt build that depends on the engine
build at the root) and caches the classpath under perfbench/.build. Each
run starts one JVM (perfbench.Main) that generates or reuses the seeded
inputs under perfbench/.work/inputs, sets up, drives the workload for the
given seconds and writes its raw record; this script reduces the record to
the metrics named in BENCHMARK.json.

Standard output: one line per metric with its unit and sample count, the
failed/attempted ratio, a host line (cores, load average at start and end,
contention label) and, last, the result object
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones; with --trace 1 the per-layer ones, and the span
tree goes to perfbench/.work/traces/. The exit code is non-zero when a
correctness check failed or the run could not be made.

    python3 perfbench/run.py --selftest

runs the benchmark's own tests (statistics, self time, output parsing) and
then one one-second traced query_warm run whose result line is checked.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import stats  # noqa: E402

WORKLOADS = ("offload_full", "query_warm")
PRIMARY = {"offload_full": "offload", "query_warm": "query"}
BUILD = os.path.join(HERE, ".build")
WORK = os.path.join(HERE, ".work")
DEADLINE_S = 170
# Input directories of this many most recent seeds are kept.
KEEP_INPUTS = 4
# A run during which the hypervisor gave more than this share of the
# machine's CPU time to other guests is labelled contended.
CONTENDED_STEAL_PCT = 5.0

# Spark on JDK 17 outside spark-submit needs these (Spark's
# JavaModuleOptions.defaultModuleOptions), as the engine's own build sets.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def sources_newer_than(stamp):
    t = os.path.getmtime(stamp)
    for top in ("src/main", "perfbench/src", "build.sbt",
                "perfbench/build.sbt"):
        if os.path.isfile(top):
            if os.path.getmtime(top) > t:
                return True
            continue
        for d, _, files in os.walk(top):
            if any(os.path.getmtime(os.path.join(d, f)) > t for f in files):
                return True
    return False


def build(deadline):
    """Compile engine and benchmark with sbt; return the runtime classpath."""
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(cp_file) and not sources_newer_than(cp_file):
        return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     "-Dsbt.repository.config=" + repos]
        env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true",
                          "compile", "export Runtime/fullClasspath"],
                         os.path.join(os.getcwd(), "perfbench"), env, out,
                         deadline)
    lines = open(log).read().splitlines()
    if rc != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail("build failed (log: %s)" % log)
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    return lines[-1].strip()


def run_bounded(cmd, cwd, env, out, deadline):
    """Run `cmd` in its own process group; kill the group at the deadline
    and wait for it, so no process outlives the run."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out,
                         stderr=subprocess.STDOUT, start_new_session=True)
    try:
        return p.wait(timeout=max(1, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail("timed out: " + " ".join(cmd[:3]))
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def prune_inputs(keep):
    d = os.path.join(WORK, "inputs")
    if not os.path.isdir(d):
        return
    seeded = [os.path.join(d, n) for n in os.listdir(d)
              if n.startswith("full-")]
    seeded.sort(key=os.path.getmtime, reverse=True)
    for p in seeded[keep:]:
        shutil.rmtree(p, ignore_errors=True)


def run_jvm(args, classpath, deadline):
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    out = os.path.join(WORK, "record.json")
    if os.path.exists(out):
        os.remove(out)
    cmd = (["java", "-Xmx3g", "-XX:+UseParallelGC",
            "-Djava.io.tmpdir=" + os.path.join(run_dir, "tmp"),
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main", args.workload,
              str(args.seed), str(args.seconds), str(args.trace), run_dir, out]
           + (["record"] if args.record_reference else []))
    log = os.path.join(WORK, "jvm.log")
    with open(log, "w") as f:
        rc = run_bounded(cmd, os.getcwd(), dict(os.environ), f, deadline)
    shutil.rmtree(run_dir, ignore_errors=True)
    if rc != 0 or not os.path.exists(out):
        sys.stderr.write("".join(open(log).readlines()[-40:]))
        fail("benchmark JVM failed (exit %d, log: %s)" % (rc, log), 1)
    with open(out) as f:
        return json.load(f)


# ---- reduction ---------------------------------------------------------


def timed_ops(rec, kind, traced=None):
    return [o for o in rec["ops"] if o["pass"] >= 1 and o["kind"] == kind
            and (traced is None or o["traced"] == traced)]


def dur_s(xs):
    return [(x["end"] - x["start"]) / 1000.0 for x in xs]


def outcome(rec, kind):
    """(attempted, failed): timed operations, and those that failed or ran
    into a failed check. A failed operation or check of any kind in a
    pass (an agg-validate, a metadata check) counts as one more failed
    operation, capped at the number attempted."""
    ops = timed_ops(rec, kind)
    failed = sum(1 for o in rec["ops"] if o["pass"] >= 1 and not o["ok"])
    failed += sum(1 for c in rec["checks"]
                  if not c["ok"] and c["op"] == 0 and c["pass"] >= 1)
    attempted = max(1, len(ops))
    return attempted, min(failed, attempted)


def end_to_end(rec, kind, traced=False):
    ops = dur_s(timed_ops(rec, kind, traced))
    # a pass's time is the sum of its timed operations; untimed input
    # preparation and correctness checks between them are left out
    per_pass = {}
    for o in rec["ops"]:
        if o["pass"] >= 1 and o["traced"] == traced:
            per_pass[o["pass"]] = (per_pass.get(o["pass"], 0.0) +
                                   (o["end"] - o["start"]) / 1000.0)
    passes = list(per_pass.values())
    setups = rec["setup_reps_s"]

    def med(xs):
        return stats.median(xs) if xs else 0.0
    return {
        "setup_s": (med(setups), "s", len(setups)),
        "op_p50_s": (med(ops), "s", len(ops)),
        "pass_s": (med(passes), "s", len(passes)),
    }


def per_layer(rec, kind):
    """Per-layer metrics from the traced passes, normalised per operation."""
    ops = timed_ops(rec, kind, traced=True)
    ids = {o["id"] for o in ops}
    n = max(1, len(ops))
    cnt = {c["op"]: c for c in rec["counters"]}

    def total(key):
        return sum(cnt.get(i, {}).get(key, 0.0) for i in ids)

    def per_op(key):
        return total(key) / n

    def ratio(a, b):
        return a / b if b else 0.0

    facts = rec["facts"]
    spans = [s for s in rec["spans"] if s["op"] in ids]
    # task_metrics is left out: its step body is empty (the listener-bus
    # barrier it reports runs before the step starts, so it lands in
    # orchestrate.self_ms) and it reads 0 ms on every run
    step_keys = ("analyze_plan", "stage_and_load", "verify_counts",
                 "save_metadata")
    step_sum = {i: sum(v for k, v in cnt.get(i, {}).items()
                       if k.startswith("step.")) for i in ids}
    jobs = {}
    for s in spans:
        if s["name"] == "job":
            jobs.setdefault(s["op"], []).append((s["start"], s["end"]))

    def span_mean(name):
        xs = [s["end"] - s["start"] for s in spans if s["name"] == name]
        return sum(xs) / n if xs else 0.0

    is_offload = kind == "offload"
    source_bytes = facts.get("source_bytes", 0.0) * len(ops)
    rows_landed = facts.get("rows_landed_per_op", 0.0) * len(ops)
    op_ms = sum(o["end"] - o["start"] for o in ops)

    def kind_mean(k):
        xs = [o["end"] - o["start"] for o in rec["ops"]
              if o["pass"] >= 1 and o["traced"] and o["kind"] == k]
        return sum(xs) / len(xs) if xs else 0.0

    def artifact_ms(passes):
        """Sum over the artifact-building queries of each one's median
        time in the given passes."""
        total = 0.0
        for q in rec.get("artifact_queries", []):
            xs = [o["end"] - o["start"] for o in rec["ops"]
                  if o["kind"] == "query" and o["name"] == q
                  and passes(o)]
            total += stats.median(xs) if xs else 0.0
        return total

    m = {
        "orchestrate.self_ms": (sum(o["end"] - o["start"] - step_sum[o["id"]]
                                    for o in ops) / n if is_offload else 0.0,
                                "ms"),
        **{"step.%s_ms" % k: (per_op("step.%s_ms" % k), "ms")
           for k in step_keys},
        "meta.load_ms": (kind_mean("meta_load"), "ms"),
        "meta.audit_bytes_per_op": (per_op("meta_bytes_added"), "bytes"),
        "sink.bytes_written_per_source_byte": (
            ratio(total("bytes_written"), source_bytes), "ratio"),
        "sink.records_written_per_row": (
            ratio(total("records_written"), rows_landed), "ratio"),
        "sink.files_per_op": (per_op("files_written"), "count"),
        "sink.bytes_stored_per_source_byte": (
            ratio(facts.get("final_bytes", 0.0), facts.get("source_bytes", 0))
            if is_offload else 0.0, "ratio"),
        "source.rows_read_per_row_landed": (
            ratio(total("records_read"), rows_landed), "ratio"),
        "offload.rows_per_s": (ratio(rows_landed, op_ms / 1000.0)
                               if is_offload else 0.0, "rows/s"),
        "verify.agg_validate_ms": (kind_mean("agg_validate"), "ms"),
        "spark.jobs_per_op": (per_op("jobs"), "count"),
        "spark.stages_per_op": (per_op("stages"), "count"),
        "spark.tasks_per_op": (per_op("tasks"), "count"),
        "spark.task_run_ms_per_op": (per_op("task_run_ms"), "ms"),
        "spark.task_cpu_ms_per_op": (per_op("task_cpu_ms"), "ms"),
        "spark.gc_ms_per_op": (per_op("gc_ms"), "ms"),
        "spark.shuffle_bytes_per_op": (per_op("shuffle_bytes"), "bytes"),
        "spark.spill_bytes_per_op": (per_op("spill_bytes"), "bytes"),
        "spark.task_failures": (total("task_failures"), "count"),
        "spark.driver_gap_ms_per_op": (
            sum(o["end"] - o["start"] -
                stats.union_ms(jobs.get(o["id"], []), o["start"], o["end"])
                for o in ops) / n, "ms"),
        "plan.analysis_ms_per_op": (per_op("analysis_ms"), "ms"),
        "plan.optimization_ms_per_op": (per_op("optimization_ms"), "ms"),
        "plan.planning_ms_per_op": (per_op("planning_ms"), "ms"),
        "plan.actions_per_op": (per_op("actions"), "count"),
        "query.construct_ms": (span_mean("construct"), "ms"),
        "query.execute_ms": (span_mean("execute"), "ms"),
        # set-up runs build the artifacts, untraced timed runs look them up
        "artifact.build_ms": (artifact_ms(lambda o: o["pass"] == 0), "ms"),
        "artifact.hit_ms": (artifact_ms(
            lambda o: o["pass"] >= 1 and not o["traced"]), "ms"),
        "jvm.heap_peak_mb": (rec["jvm_heap_peak_mb"], "MB"),
        "jvm.gc_ms_per_op": (rec["jvm_gc_ms"] / max(
            1, len(timed_ops(rec, kind))), "ms"),
    }
    untraced = dur_s(timed_ops(rec, kind, traced=False))
    traced = dur_s(ops)
    m["trace.overhead_pct"] = (
        100.0 * (stats.median(traced) / stats.median(untraced) - 1)
        if untraced and traced else 0.0, "%")
    return m, spans


def write_trace(args, rec, kind, layer, spans):
    d = os.path.join(WORK, "traces")
    os.makedirs(d, exist_ok=True)
    per_query = {}
    for o in timed_ops(rec, kind):
        if o["kind"] == "query":
            per_query.setdefault(o["name"], []).append(
                (o["end"] - o["start"]) / 1000.0)
    doc = {
        "workload": args.workload, "seed": args.seed,
        "per_layer": {k: {"value": v, "unit": u}
                      for k, (v, u) in layer.items()},
        "query_s": {"query.%s_s" % q: stats.median(v)
                    for q, v in sorted(per_query.items())},
        "end_to_end_untraced": {k: v for k, (v, _, _) in
                                end_to_end(rec, kind, False).items()},
        "end_to_end_traced": {k: v for k, (v, _, _) in
                              end_to_end(rec, kind, True).items()},
        "spans": stats.span_tree(stats.nest_in_steps(spans)),
    }
    path = os.path.join(d, "%s-%d.json" % (args.workload, args.seed))
    with open(path, "w") as f:
        json.dump(doc, f, indent=1)
    return path, doc


def smoke():
    """One one-second traced query_warm run (sf0.001) through this script:
    its result line must parse, be correct and carry exactly the per-layer
    metrics of BENCHMARK.json."""
    p = subprocess.run([sys.executable, os.path.abspath(__file__),
                        "--workload", "query_warm", "--seed", "1",
                        "--seconds", "1", "--trace", "1"],
                       capture_output=True, text=True)
    try:
        obj = stats.parse_result_line(p.stdout)
        with open("BENCHMARK.json") as f:
            names = {m["name"] for m in json.load(f)["per_layer"]}
        ok = p.returncode == 0 and obj["correct"] and set(obj["metrics"]) == names
    except (ValueError, OSError) as e:
        print("smoke: %s" % e)
        ok = False
    print("smoke run: %s" % ("ok" if ok else "FAILED\n" + p.stdout[-2000:]
                             + p.stderr[-2000:]))
    return ok


def cpu_ticks():
    """(steal, total) jiffies of all CPUs from /proc/stat, or None."""
    try:
        with open("/proc/stat") as f:
            xs = [int(x) for x in f.readline().split()[1:]]
        return xs[7] if len(xs) > 7 else 0, sum(xs)
    except (OSError, ValueError):
        return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-reference", action="store_true",
                    help="store this run's query result hashes as the "
                         "reference (query workloads)")
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args()
    # a terminated run still stops the JVM it started (run_bounded)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if args.selftest:
        import unittest
        suite = unittest.defaultTestLoader.discover(HERE, "test_*.py")
        ok = unittest.TextTestRunner(verbosity=1).run(suite).wasSuccessful()
        sys.exit(0 if ok and smoke() else 1)
    if args.workload is None:
        ap.error("--workload is required")
    deadline = time.time() + DEADLINE_S
    for need in ("build.sbt", "src/main/scala/graft", "perfbench/build.sbt"):
        if not os.path.exists(need):
            fail("run from the repository root (missing %s)" % need)
    classpath = build(time.time() + 900)
    os.makedirs(WORK, exist_ok=True)
    prune_inputs(KEEP_INPUTS)
    ticks0 = cpu_ticks()
    rec = run_jvm(args, classpath, max(deadline, time.time() + 150))
    ticks1 = cpu_ticks()
    kind = PRIMARY[args.workload]
    attempted, failed = outcome(rec, kind)
    bad = [c for c in rec["checks"] if not c["ok"]]
    for c in bad[:10]:
        print("FAILED check (pass %d): %s %s" % (c["pass"], c["what"],
                                                  c["detail"]))
    for o in [o for o in rec["ops"] if not o["ok"]][:10]:
        print("FAILED %s %s (pass %d): %s" % (o["kind"], o["name"],
                                              o["pass"], o["err"]))
    correct = not bad and all(o["ok"] for o in rec["ops"])
    e2e = end_to_end(rec, kind)
    for k, (v, unit, n) in e2e.items():
        print("%-28s %12.4f %-6s n=%d" % (k, v, unit, n))
    ops = dur_s(timed_ops(rec, kind, traced=False))
    tail = stats.tail_percentile(len(ops))
    if tail is not None:
        print("%-28s %12.4f %-6s n=%d" % ("op_p%g_s" % tail,
                                          stats.percentile(ops, tail), "s",
                                          len(ops)))
    print("%-28s %d/%d" % ("failed_op_ratio", failed, attempted))
    # CPU time the hypervisor gave to others during the run
    steal = (round(100.0 * (ticks1[0] - ticks0[0]) /
                   max(1, ticks1[1] - ticks0[1]), 2)
             if ticks0 and ticks1 else None)
    print("host " + json.dumps({
        "cores": rec["cores"], "loadavg_start": rec["loadavg_start"],
        "loadavg_end": rec["loadavg_end"],
        "contended": rec["contended"] or (steal or 0) > CONTENDED_STEAL_PCT,
        "steal_pct": steal, "input_gen_s": rec["gen_s"],
        "facts": rec["facts"]}))
    if args.trace:
        layer, spans = per_layer(rec, kind)
        path, doc = write_trace(args, rec, kind, layer, spans)
        for k, (v, unit) in layer.items():
            print("%-36s %14.4f %s" % (k, v, unit))
        for k, v in doc["query_s"].items():
            print("%-36s %14.4f s" % (k, v))
        print("trace written to %s" % os.path.relpath(path))
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in layer.items()}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u, _) in e2e.items()}
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
