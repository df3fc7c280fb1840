"""pyieldspark benchmark.

    python3 perfbench/run.py --workload <fixed_income|curation>
        --seed <n> --seconds <s> --trace <0|1>

Builds the engine from source (perfbench/build.py), generates the workload's
inputs from the seed (perfbench/gen.py), runs the workload in one host-sized
local Spark session (perfbench/scala), checks every output independently of
the program (perfbench/checks.py) and prints one JSON object as the last line
of stdout. With `--trace 0` it carries the end-to-end metrics, with
`--trace 1` the per-layer metrics; a traced run also writes its spans to
`.bench_build/trace/`. Exits non-zero if an operation or a check fails.
"""

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402

SETUPS = 5


def jvm_timeout_s(seconds):
    """The workload JVM's time limit: its fixed part (start, set-ups, the
    check pass, a last round that overruns `--seconds`) takes about 50 s on
    the reference host; the limit leaves room for a change that makes all of
    it several times slower, so that such a change is measured, not cut."""
    return 240 + 4 * seconds


E2E_UNITS = {
    "setup_s": "s", "rows_per_s": "rows/s", "ops_per_s": "ops/s",
    "op_p50_ms": "ms", "op_p90_ms": "ms", "cpu_s": "s", "shuffle_mb": "MB",
    "heap_retained_mb": "MB",
}

# per-layer metrics of a traced run, grouped by the workload that moves them
LAYER_METRICS = {
    "fixed_income": [
        "core.wall_s", "core.task_cpu_s", "curve.wall_s", "curve.task_cpu_s",
        "curve.shuffle_write_mb", "ops.wall_s", "ops.shuffle_write_mb",
        "bonds.wall_s", "bonds.task_cpu_s", "bonds.gc_s",
        "core.scalar_ns_per_call", "bonds.scalar_us_per_call", "bonds.bootstrap_ms"],
    "curation": [
        "text.wall_s", "text.task_cpu_s", "text.gc_s", "text.codegen_fallback_exprs",
        "sim.wall_s", "sim.task_cpu_s", "sim.codegen_fallback_exprs",
        "dedup.wall_s", "dedup.task_cpu_s", "dedup.gc_s", "dedup.shuffle_write_mb",
        "dedup.spill_mb", "dedup.codegen_fallback_exprs", "dedup.candidate_pairs",
        "dedup.verified_pairs", "dedup.verify_yield", "dedup.exact_pairs",
        "dedup.pair_recall", "sim.broadcast_mb", "streaming.wall_s",
        "streaming.task_cpu_s", "streaming.broadcast_mb", "streaming.batches",
        "queries.pinned_rdds", "queries.pinned_mb", "queries.pinned_rdds_after_clear",
        "queries.build_s", "queries.hit_wall_ms"],
    "both": [
        "plans.planning_ms", "plans.jobs_per_op", "plans.stages_per_op", "plans.tasks_per_op"],
}
ALL_LAYER_METRICS = [m for ms in LAYER_METRICS.values() for m in ms]
# curation calls that build the pass's memos, and the one served from them
MEMO_BUILDS = ("text_features", "neardup_clusters")
MEMO_HIT = "cluster_lookup"
LAYER_UNITS = {
    "wall_s": "s", "task_cpu_s": "s", "gc_s": "s", "shuffle_write_mb": "MB",
    "spill_mb": "MB", "broadcast_mb": "MB", "codegen_fallback_exprs": "count",
    "candidate_pairs": "count", "verified_pairs": "count", "exact_pairs": "count",
    "verify_yield": "ratio", "pair_recall": "ratio", "batches": "count",
    "pinned_rdds": "count", "pinned_mb": "MB", "pinned_rdds_after_clear": "count",
    "build_s": "s", "hit_wall_ms": "ms", "planning_ms": "ms", "jobs_per_op": "count",
    "stages_per_op": "count", "tasks_per_op": "count", "scalar_ns_per_call": "ns",
    "scalar_us_per_call": "us", "bootstrap_ms": "ms",
}


def host_cores():
    try:
        return max(1, len(os.sched_getaffinity(0)))
    except AttributeError:
        return max(1, os.cpu_count() or 1)


def host_heap_gb():
    """A quarter of physical memory, between 1 and 6 GB: the host is shared."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    gb = int(line.split()[1]) // (4 * 1024 * 1024)
                    return min(6, max(1, gb))
    except OSError:
        pass
    return 2


ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def run_jvm(classpath, archive, workload, inp, work, seconds, trace,
            setups=SETUPS, extra=()):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx%dg" % host_heap_gb(), "-Xss8m", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + tmp, "-Dspark.ui.enabled=false"] + list(extra)
    if archive:
        cmd.append("-XX:SharedArchiveFile=" + archive)
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main", "--workload", workload,
            "--in", inp, "--out", work, "--seconds", str(seconds),
            "--trace", "1" if trace else "0", "--cores", str(host_cores()),
            "--setups", str(setups)]
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_CONF")}
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, env=env)
        try:
            rc = p.wait(timeout=jvm_timeout_s(seconds))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout after %d s" % jvm_timeout_s(seconds)
    return rc, log


def quantile(xs, q):
    xs = sorted(xs)
    if not xs:
        return float("nan")
    i = q * (len(xs) - 1)
    lo = int(i)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (i - lo)


def end_to_end(res, gen_s):
    ok = [o for o in res["ops"] if o["ok"]]
    busy = sum(o["ms"] for o in ok) / 1e3 or float("nan")
    lat = [o["ms"] for o in ok]
    return {
        # the program sees generated inputs, so generation is set-up work;
        # the session/input/artifact part is the median over repeats
        "setup_s": gen_s + statistics.median(res["setup_s"]),
        # throughputs over the whole timed section
        "rows_per_s": sum(o["rows"] for o in ok) / busy,
        "ops_per_s": len(ok) / busy,
        "op_p50_ms": quantile(lat, 0.5),
        "op_p90_ms": quantile(lat, 0.9),
        # process CPU and shuffle bytes per round, so that they do not
        # depend on how many rounds fit into the section
        "cpu_s": sum(res["round_cpu_s"]) / len(res["round_cpu_s"]),
        "shuffle_mb": statistics.median(res["round_shuffle_mb"]),
        "heap_retained_mb": res["heap_retained_mb"],
    }


def per_layer(res):
    """Every per-layer metric; a layer a workload does not call reads 0."""
    got = dict(res["per_layer"])
    ops_per_round = len(res["ops"]) / max(res["rounds"], 1)
    for key in ("jobs", "stages", "tasks"):
        got["plans.%s_per_op" % key] = sum(
            v for k, v in got.items() if k.endswith("." + key)) / ops_per_round
    builds, hits = {}, []
    for o in res["ops"]:
        if o["ok"] and o["name"] in MEMO_BUILDS:
            builds[o["round"]] = builds.get(o["round"], 0.0) + o["ms"] / 1e3
        if o["ok"] and o["name"] == MEMO_HIT:
            hits.append(o["ms"])
    if builds:
        got["queries.build_s"] = statistics.median(builds.values())
    if hits:
        got["queries.hit_wall_ms"] = statistics.median(hits)
    out = {}
    for name in ALL_LAYER_METRICS:
        v = got.get(name)
        out[name] = {"value": 0.0 if v is None else v,
                     "unit": LAYER_UNITS[name.split(".", 1)[1]]}
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(gen.GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    classpath, archive = build.build()
    work = os.path.join(build.BUILD, "runs", "%s-%d-%d" % (a.workload, a.seed, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    inp = os.path.join(work, "input")
    t0 = time.perf_counter()
    gen.generate(a.workload, inp, a.seed)
    gen_s = time.perf_counter() - t0

    rc, log = run_jvm(classpath, archive, a.workload, inp, work, a.seconds, a.trace == 1)
    result_path = os.path.join(work, "result.json")
    if not os.path.isfile(result_path):
        with open(log) as f:
            sys.stderr.write(f.read()[-6000:])
        why = rc if isinstance(rc, str) else "exit %s" % rc
        raise SystemExit("perfbench: workload run failed (%s) before a result" % why)
    with open(result_path) as f:
        res = json.load(f)
    failed = [o for o in res["ops"] if not o["ok"]]
    for o in failed:
        sys.stderr.write("perfbench: FAILED %s round %d: %s\n" % (o["name"], o["round"], o["error"]))
    if failed:
        with open(log) as f:
            sys.stderr.write(f.read()[-6000:])

    problems = checks.run(a.workload, inp, os.path.join(work, "check"), res)
    for p in problems:
        sys.stderr.write("perfbench: CHECK FAILED %s\n" % p)

    if a.trace:
        trace_dir = os.path.join(build.BUILD, "trace")
        os.makedirs(trace_dir, exist_ok=True)
        base = os.path.join(trace_dir, "%s-seed%d" % (a.workload, a.seed))
        shutil.copyfile(os.path.join(work, "spans.jsonl"), base + ".spans.jsonl")
        with open(base + ".layers.json", "w") as f:
            json.dump(res["per_layer"], f, indent=1, sort_keys=True)
        metrics = per_layer(res)
    else:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in end_to_end(res, gen_s).items()}

    ok = not problems and not failed and rc == 0
    if ok:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": not problems, "attempted": len(res["ops"]),
                      "failed": len(failed), "metrics": metrics}))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
