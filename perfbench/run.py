#!/usr/bin/env python3
"""graft benchmark: one closed-loop run of one workload.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload telemetry_olap --seed 1 --seconds 10 --trace 0

Steps: build the engine and the harness from source (once per source
tree), derive one fresh input directory per lap from the seed, run the
harness JVM (session build, warm-up laps, timed laps, an untimed output
check), diff every key's output against its DuckDB oracle, and print
one JSON object as the last line of stdout. `--trace 0` reports the
end-to-end metrics; `--trace 1` runs untraced and traced laps in
alternation and reports the per-layer metrics from the traced ones,
writing the full trace to perfbench/out/.

Every file the run writes stays under perfbench/ (.build, .work, out);
the per-run work directory is deleted when the run ends.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time
from concurrent.futures import ProcessPoolExecutor

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import inputs  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402

SEED_DATA = os.path.join(BENCH, "data", "sf0.01")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
CLASSPATH = os.path.join(BENCH, ".build", "classpath")
CPUS = 4
HEAP = "1g"
MIN_LAPS = 4  # the harness times at least 2 laps (4 in a traced run)
JVM_TIMEOUT_S = 150  # a run must end within 180 s, once the build is done
BUILD_TIMEOUT_S = 800

WORKLOADS = {
    # driver-bound: many short calls of the telemetry pipeline and the relational core.
    # An odd key count puts the median call inside one key's cluster of calls,
    # not in the gap between two keys, which doubled call_p50_s's spread.
    "telemetry_olap": dict(amplify=1, est_lap_s=3.3, warmup_laps=3, keys=[
        "frame_roundtrip", "frame_stats", "downsample_1hz", "beacon_5min", "session_windows",
        "data_budget", "chunk_messages", "queue_stats", "relay_gate", "q1_agg", "q5_multijoin"]),
    # the streaming layer's per-trigger lifecycle and the staging write path
    "stream_twins": dict(amplify=1, est_lap_s=7.0, warmup_laps=2, keys=[
        "stream_downsample", "stream_chunks", "stream_queue_stats"]),
    # executor compute, shuffle and native expressions on a fresh-id amplified corpus
    "corpus_scale": dict(amplify=2, est_lap_s=7.5, warmup_laps=2, keys=[
        "dedup_minhash", "text_bm25", "ts_interp", "dedup_substring"]),
}

JAVA_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest():
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(BENCH, "src")]
    files = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs if f.endswith((".scala", ".java"))]
    for p in sorted(files):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Compiles engine + harness with sbt unless this source tree was built,
    and records the runtime classpath sbt resolved for them."""
    stamp = os.path.join(BENCH, ".build", "stamp")
    digest = source_digest()
    if os.path.exists(stamp) and open(stamp).read() == digest and os.path.exists(CLASSPATH):
        return
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=(
        "-Dsbt.override.build.repos=true -Dsbt.repository.config=" +
        os.path.expanduser("~/.sbt/repositories") + " -Dsbt.offline=true -Xmx2g"))
    log = os.path.join(BENCH, ".build", "sbt.log")
    with open(log, "w") as out:
        rc = wait_or_kill(subprocess.Popen(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            cwd=BENCH, env=env,
            stdout=out, stderr=subprocess.STDOUT, start_new_session=True), BUILD_TIMEOUT_S)
    if rc != 0:
        sys.stderr.write(open(log).read()[-4000:])
        fail(f"build failed (sbt exit {rc}, log in {log})", 3)
    # `export` prints the classpath as the last line of the log
    with open(log) as f:
        classpath = f.read().strip().splitlines()[-1]
    if ".jar" not in classpath:
        fail(f"no classpath in the build log {log}", 3)
    with open(CLASSPATH, "w") as f:
        f.write(classpath)
    with open(stamp, "w") as f:
        f.write(digest)


def wait_or_kill(p, timeout):
    """Exit code of p, or "timeout" after killing its process group."""
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return "timeout"
    except BaseException:  # interrupted, e.g. by SIGTERM: never leave the child behind
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def run_jvm(props_path, work):
    env = dict(os.environ, GRAFT_SCRATCH_DIR=os.path.join(work, "scratch"),
               SPARK_LOCAL_DIRS=os.path.join(work, "local"))
    for k in ("SPARK_GRAFT_CPUS", "GRAFT_EXTRA_JAVA_OPTS", "GRAFT_OHA_FALLBACK"):
        env.pop(k, None)
    # C1 only: with C2 the timed laps were still warming up (README.md, "Why C1 only")
    cmd = ["java", *JAVA_OPENS, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UseDynamicNumberOfCompilerThreads",
           "-XX:TieredStopAtLevel=1",
           f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", open(CLASSPATH).read(), "perfbench.Harness", props_path]
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as out:
        rc = wait_or_kill(subprocess.Popen(cmd, cwd=work, env=env, stdout=out,
                                           stderr=subprocess.STDOUT, start_new_session=True),
                          JVM_TIMEOUT_S)
    if rc != 0:
        sys.stderr.write(open(log, errors="replace").read()[-4000:])
        fail(f"harness JVM failed ({rc})", 4)


def make_inputs(work, seed, wl, seconds):
    """Warm-up and timed input directories; the first warm-up one is checked."""
    k = wl["amplify"]
    n_timed = min(16, max(MIN_LAPS + 2, math.ceil(seconds / (0.5 * wl["est_lap_s"])) + 2))
    names = [f"warm{i}" for i in range(wl["warmup_laps"])] + [f"lap{i}" for i in range(n_timed)]
    dirs = {n: os.path.join(work, "in", n) for n in names}
    # one single-threaded DuckDB per directory, so each stays byte-identical per seed
    with ProcessPoolExecutor(max_workers=CPUS) as pool:
        sizes = dict(zip(names, pool.map(inputs.make_lap_dir, [SEED_DATA] * len(names),
                                         [dirs[n] for n in names], [seed] * len(names), names,
                                         [k] * len(names))))
    for t, (rows, nbytes) in sizes["lap0"].items():
        print(f"input {t}: {rows} rows, {nbytes} bytes")
    return ([dirs[n] for n in names if n.startswith("warm")],
            [dirs[n] for n in names if n.startswith("lap")])


def end_to_end(res):
    calls = [c for c in res["calls"] if not c["traced"]]
    ok = [c["s"] for c in calls if c["ok"]]
    by_key = {}
    for c in calls:
        if c["ok"]:
            by_key.setdefault(c["key"], []).append(c["s"])
    laps = [l for l in res["laps"] if not l["traced"]]
    print("laps: " + ", ".join(f"{l['wall']:.3f} s (cpu {l['cpu']:.2f}, jit {l['jit_cpu']:.2f})" for l in laps))
    print("key medians: " + ", ".join(f"{k} {stats.median(v):.3f}" for k, v in by_key.items()))
    tail, pct, beyond = stats.call_tail(ok)
    print(f"call_tail_s is p{pct:.1f} of {len(ok)} calls ({beyond} beyond it)")
    slow = sorted((c for c in calls if c["ok"]), key=lambda c: -c["s"])[:beyond + 1]
    print("slowest calls: " + ", ".join(f"{c['key']} {c['s']:.3f}" for c in slow))
    return {
        "setup_s": res["setup_s"],
        "lap_s": stats.median([l["wall"] for l in laps]),
        "call_p50_s": stats.median(ok),
        "call_tail_s": tail,
        "key_geomean_s": stats.key_geomean(by_key),
        "cpu_s_per_lap": stats.median([l["cpu"] - l["jit_cpu"] for l in laps]),
        "peak_rss_mb": res["peak_rss_mb"],
    }


def per_layer(res, trace, workload, seed):
    metrics, per_key, table = stats.layer_metrics(trace, res["cpus"])
    laps = res["laps"]
    untraced = stats.median([l["wall"] for l in laps if not l["traced"]])
    traced = stats.median([l["wall"] for l in laps if l["traced"]])
    metrics["session.build_s"] = res["session_build_s"]
    metrics["session.first_scan_s"] = res["first_scan_s"]
    metrics["bench.trace_overhead_frac"] = traced / untraced - 1
    os.makedirs(os.path.join(BENCH, "out"), exist_ok=True)
    path = os.path.join(BENCH, "out", f"trace-{workload}-seed{seed}.json")
    with open(path, "w") as f:
        json.dump({"workload": workload, "seed": seed, "per_lap": metrics,
                   "self_time_s_per_lap": table, "per_key": per_key, "raw": trace}, f, indent=1)
    print(f"trace written to {os.path.relpath(path, ROOT)}")
    print("self time per lap: " + ", ".join(f"{k} {v:.3f} s" for k, v in table.items()) +
          f" (calls {metrics['call_s']:.3f} s)")
    for layer in ("plans", "exec", "streaming"):
        metrics[f"{layer}.self_s"] = table[layer]
    return metrics


def declared_metrics(group):
    """(name, unit) of every metric BENCHMARK.json declares in `group`."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return [(m["name"], m["unit"]) for m in json.load(f)[group]]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    t_start = time.time()
    if not os.path.isfile(os.path.join(ENGINE_SRC, "graft", "SparkEntry.scala")):
        fail(f"engine sources not found under {ENGINE_SRC}")
    if not os.path.isdir(SEED_DATA):
        fail(f"seed tables not found under {SEED_DATA}")
    declared = declared_metrics("per_layer" if a.trace else "end_to_end")
    build()
    wl = WORKLOADS[a.workload]
    work = os.path.join(BENCH, ".work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        for d in ("scratch", "local", "tmp"):
            os.makedirs(os.path.join(work, d))
        warm, timed = make_inputs(work, a.seed, wl, a.seconds)
        check_dir = warm[0]
        digest = inputs.dir_digest(check_dir)
        t_gen = time.time()
        props = os.path.join(work, "run.properties")
        with open(props, "w") as f:
            f.write("\n".join([
                f"keys={','.join(wl['keys'])}", f"warm_dirs={','.join(warm)}",
                f"timed_dirs={','.join(timed)}",
                f"seconds={a.seconds}", f"trace={a.trace}", f"cpus={CPUS}",
                f"out={os.path.join(work, 'out')}"]) + "\n")
        run_jvm(props, work)
        t_jvm = time.time()
        outd = os.path.join(work, "out")
        with open(os.path.join(outd, "results.json")) as f:
            res = json.load(f)
        with open(os.path.join(outd, "oracle.json")) as f:
            sqls = json.load(f)
        verdict = oracle.check(check_dir, digest, sqls, os.path.join(outd, "check"), res["checks"],
                               os.path.join(BENCH, ".work", "oracle-cache"))
        mismatched = sorted(k for k, v in verdict.items() if v)
        print(f"run phases: build+inputs {t_gen - t_start:.1f} s, harness {t_jvm - t_gen:.1f} s, "
              f"oracle {time.time() - t_jvm:.1f} s")
        for k in mismatched:
            print(f"oracle mismatch {k}: {verdict[k]}")
        calls = res["calls"]
        failed = sum(1 for c in calls if not c["ok"])
        print(f"{a.workload}: failed_frac {failed / len(calls):.4f} ({failed}/{len(calls)} calls), "
              f"oracle_mismatch_keys {len(mismatched)} of {len(verdict)}")
        if a.trace:
            with open(os.path.join(outd, "trace_raw.json")) as f:
                values = per_layer(res, json.load(f), a.workload, a.seed)
        else:
            values = end_to_end(res)
        metrics = {n: {"value": values.get(n, 0.0), "unit": u} for n, u in declared}
        for n, m in metrics.items():
            print(f"{n} = {m['value']:.6g} {m['unit']}")
        print(json.dumps({"correct": not mismatched and failed == 0, "attempted": len(calls),
                          "failed": failed, "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
