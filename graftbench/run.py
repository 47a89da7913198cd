"""graft benchmark: one workload, one seed, one JVM.

    python3 graftbench/run.py --workload vault_ingest --seed 1 --seconds 10 --trace 0

Run from the repository root. Builds graft and the benchmark from source
(graftbench/build.py), then launches a plain `java` process with
`local[nproc]`, a fixed heap and a fresh lake, scratch, temp and Spark
local directory under .bench_build/runs/, all deleted at exit. One client
thread runs the workload's operations in a closed loop for --seconds.

Prints every metric by name with its unit, then, as the last line, one JSON
object {"correct", "attempted", "failed", "metrics"}: the end-to-end
metrics with --trace 0, the per-layer metrics with --trace 1. A traced run
also writes its spans, jobs and stages to .bench_build/traces/. Exits 1 if
any operation or correctness check failed. See graftbench/README.md.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("vault_ingest", "corpus_dedup")
HEAP = "3g"
MIN_FREE_BYTES = 3 << 30
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
FLUSH_POLICY = ("lake on the checkout's local disk; writes are buffered by the OS "
                "(no fsync per file, no page-cache drop between runs), the same on every run")


def spec():
    with open("BENCHMARK.json") as fh:
        return json.load(fh)


def child_env():
    # Parent and change must run identically: drop every graft override
    # and anything that would inject JVM or Spark settings.
    drop = ("SPARK_CONF_DIR", "SPARK_LOCAL_DIRS", "JAVA_TOOL_OPTIONS", "_JAVA_OPTIONS", "JDK_JAVA_OPTIONS")
    return {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_") and k not in drop}


def run_jvm(cmd, log_path):
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=child_env(), start_new_session=True)
        try:
            return p.wait(timeout=JVM_TIMEOUT_S)
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    root = os.getcwd()
    bench = spec()

    free = shutil.disk_usage(root).free
    if free < MIN_FREE_BYTES:
        raise SystemExit(f"[graftbench] only {free >> 20} MB free on {root}; need {MIN_FREE_BYTES >> 20} MB")
    classpath, modules = build.build(root)

    base = os.path.join(root, build.BUILD_DIR)
    work = os.path.join(base, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    result_path = os.path.join(work, "result.json")
    traces = os.path.join(base, "traces")
    os.makedirs(traces, exist_ok=True)
    spans_path = os.path.join(traces, f"{a.workload}-seed{a.seed}.json")
    cpus = str(len(os.sched_getaffinity(0)))
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory
    # an explicit heap ceiling, no floor: the heap grows only as the run needs it
    cmd = (["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dspark.driver.host=127.0.0.1", "-Dspark.driver.bindAddress=127.0.0.1"]
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", classpath, "graftbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--work", work, "--out", result_path,
              "--spans", spans_path, "--modules", modules, "--cpus", cpus])
    try:
        t0 = time.time()
        rc = run_jvm(cmd, os.path.join(work, "jvm.log"))
        if rc != 0 or not os.path.exists(result_path):
            with open(os.path.join(work, "jvm.log"), errors="replace") as fh:
                sys.stderr.write(fh.read()[-6000:])
            raise SystemExit(f"[graftbench] JVM exited with {rc} after {time.time() - t0:.1f} s")
        with open(result_path) as fh:
            res = json.load(fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    report(a, bench, res, spans_path, source_key(classpath), commit(root, classpath))


def report(a, bench, res, spans_path, source, commit):
    env = res["env"]
    print(f"[graftbench] workload={a.workload} seed={a.seed} seconds={a.seconds} trace={a.trace}")
    print(f"[graftbench] env nproc={env['nproc']} master={env['master']} heap_max_mb={env['heap_max_mb']:.0f} "
          f"spark={env['spark_version']} jdk={env['jdk']} commit={commit}")
    print("[graftbench] spark.graft confs: " + ", ".join(f"{k}={v}" for k, v in env["graft_confs"].items()))
    print(f"[graftbench] flush policy: {FLUSH_POLICY}")
    print(f"[graftbench] input fingerprint {res['input_fingerprint']}")

    metrics = dict(res["metrics"])
    layer = dict(res["layer"])
    # Tracing overhead: this traced run's op_p50_s against an untraced run
    # of the same workload, seed, --seconds and source tree in this checkout.
    untraced = os.path.join(build.BUILD_DIR, "traces",
                            f"untraced-{a.workload}-seed{a.seed}-s{a.seconds:g}-{source}.json")
    if a.trace:
        traced = layer["trace.op_p50_s"]["value"]
        if os.path.exists(untraced):
            with open(untraced) as fh:
                base = json.load(fh)["op_p50_s"]
            print(f"[graftbench] tracing overhead: {traced - base:+.4f} s "
                  f"(traced op_p50_s {traced:.4f} s, untraced {base:.4f} s, same seed and source)")
        else:
            print("[graftbench] tracing overhead: not measured (no untraced run of this workload, "
                  "seed, --seconds and source tree in this checkout)")
        print(f"[graftbench] spans, jobs and stages written to {os.path.relpath(spans_path)}")
    elif not res["failures"]:
        with open(untraced, "w") as fh:
            json.dump({"op_p50_s": res["info"]["op_p50_s"]["value"]}, fh)

    for group, vals in (("end-to-end", metrics), ("info", res["info"]), ("layer", layer)):
        for k, v in vals.items():
            print(f"[graftbench] {group:10s} {k} = {v['value']:.6g} {v['unit']}")
    print("[graftbench] operations (wall/cpu/gc s): "
          + " ".join(f"{o['kind']}={o['seconds']:.3f}/{o['cpu_s']:.2f}/{o['gc_s']:.2f}" for o in res["ops"]))
    for f in res["failures"]:
        print(f"[graftbench] FAILED: {f}")

    wanted = bench["per_layer"] if a.trace else bench["end_to_end"]
    source = layer if a.trace else metrics
    # a layer the workload does not exercise reports 0
    out = {m["name"]: {"value": source.get(m["name"], {"value": 0.0})["value"], "unit": m["unit"]} for m in wanted}
    failed = int(res["failed"]) + (0 if not res["failures"] or int(res["failed"]) else 1)
    correct = not res["failures"]
    print(json.dumps({"correct": correct, "attempted": int(res["attempted"]), "failed": failed, "metrics": out}))
    sys.exit(0 if correct and failed == 0 else 1)


def source_key(classpath):
    """The source hash the build is keyed by."""
    return os.path.basename(os.path.dirname(classpath.split(os.pathsep)[0])).replace("classes-", "")


def commit(root, classpath):
    """The checkout's git commit, or the source hash the build is keyed by."""
    source = "source " + source_key(classpath)
    try:
        r = subprocess.run(["git", "-C", root, "rev-parse", "--show-toplevel", "--short", "HEAD"],
                           capture_output=True, text=True, timeout=5)
        top, head = (r.stdout.split() + ["", ""])[:2]
        if r.returncode == 0 and os.path.realpath(top) == os.path.realpath(root):
            return f"{head} ({source})"
    except OSError:
        pass
    return source


if __name__ == "__main__":
    main()
