"""Benchmark of the checkpointed dedup pipeline (`dedup.Pipeline`).

    python3 dedupbench/run.py --workload <name|all> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the engine and the harness offline
with sbt (once per source state; the classpath is cached in .bench_build/),
generates the workload's input from the seed, runs the harness JVM, checks
every pipeline output with check.py and prints the metrics. The last
stdout line is one JSON object: correct, attempted, failed, metrics.

--trace 0 reports the end-to-end metrics of BENCHMARK.json, --trace 1 the
per-layer ones. --smoke shrinks the inputs to a quarter for a quick pass;
--keep leaves the scratch directory (.bench_tmp/...) in place so check.py
can be rerun on it. Exits non-zero only when the benchmark itself breaks.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402

FLAGS = {"crawl_mix": "", "boilerplate_skew": "", "substring_heavy": "--simhash --suffix"}
BUILD_DIR = os.path.join(ROOT, ".bench_build")
TMP_DIR = os.path.join(ROOT, ".bench_tmp")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


class BenchError(Exception):
    """The benchmark itself broke (not the program under test)."""


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def source_stamp():
    """Digest of every file the build reads."""
    h = hashlib.sha256()
    for base in ("build.sbt", "project", "src/main", "dedupbench/build.sbt",
                 "dedupbench/project", "dedupbench/src"):
        p = os.path.join(ROOT, base)
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, dirs, fs in os.walk(p)
            for f in fs if "target" not in d.split(os.sep) and "project/project" not in d)
        for f in files:
            if f.endswith((".scala", ".sbt", ".properties", ".java")):
                h.update(f[len(ROOT):].encode())
                with open(f, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles engine + harness offline; returns the runtime classpath."""
    os.makedirs(BUILD_DIR, exist_ok=True)
    stamp = source_stamp()
    cp_file = os.path.join(BUILD_DIR, "classpath.txt")
    with open(os.path.join(BUILD_DIR, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(cp_file):
            with open(cp_file) as f:
                saved_stamp, cp = f.read().split("\n", 1)
            if saved_stamp == stamp and all(os.path.exists(e) for e in cp.strip().split(":")):
                return cp.strip()
        env = dict(os.environ, COURSIER_MODE="offline")
        opts = ["-Dsbt.override.build.repos=true", "-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts.append(f"-Dsbt.repository.config={repos}")
        env["SBT_OPTS"] = " ".join(opts)
        log("building engine and harness with sbt (offline) ...")
        t0 = time.time()
        try:
            p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                                "export Runtime/fullClasspath"], cwd=HERE, env=env,
                               stdin=subprocess.DEVNULL, capture_output=True, text=True,
                               timeout=BUILD_TIMEOUT_S)
        except (OSError, subprocess.TimeoutExpired) as e:
            raise BenchError(f"sbt build failed: {e}")
        lines = [ln for ln in p.stdout.splitlines()
                 if ln.strip() and not ln.startswith("[") and "dedupbench" in ln]
        if p.returncode != 0 or not lines:
            log(p.stdout[-4000:] + p.stderr[-4000:])
            raise BenchError(f"sbt build failed (exit {p.returncode})")
        cp = lines[-1].strip()
        with open(cp_file, "w") as f:
            f.write(stamp + "\n" + cp)
        log(f"built in {time.time() - t0:.0f}s")
        return cp


def cpu_times():
    """(steal, total) jiffies from /proc/stat, or None off Linux."""
    try:
        with open("/proc/stat") as f:
            vals = [int(v) for v in f.readline().split()[1:]]
        return vals[7] if len(vals) > 7 else 0, sum(vals[:8])
    except OSError:
        return None


def run_jvm(cp, mode, work, pages, warmup_pages, flags, cores):
    out = os.path.join(work, "harness.json")
    cmd = (["java", *ADD_OPENS, "-Xmx4g", f"-Djava.io.tmpdir={work}",
            f"-Dderby.system.home={work}", "-Dspark.ui.enabled=false",
            "-cp", cp, "dedupbench.Harness", "--mode", mode, "--input", pages,
            "--warmup-input", warmup_pages,
            "--work", work, "--out", out, "--flags", flags, "--cores", str(cores)])
    with open(os.path.join(work, "jvm.log"), "w") as jlog:
        spawn_ms = int(time.time() * 1000)
        p = subprocess.Popen(cmd + ["--spawn-ms", str(spawn_ms)], cwd=work,
                             stdin=subprocess.DEVNULL, stdout=jlog, stderr=jlog)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            raise BenchError(f"harness JVM exceeded {JVM_TIMEOUT_S}s")
        finally:
            if p.poll() is None:  # timed out or interrupted
                p.kill()
                p.wait()
    if rc != 0 or not os.path.exists(out):
        with open(os.path.join(work, "jvm.log")) as f:
            log(f.read()[-4000:])
        raise BenchError(f"harness JVM exited {rc}")
    with open(out) as f:
        return json.load(f)


def check_ops(report, checker):
    """Runs the independent checks per operation; returns failure lists."""
    failures = {}
    root_fails = {}

    def guarded(check, *args):
        # output the checker cannot even read is a failed check, not a crash
        try:
            return check(*args)
        except Exception as e:  # noqa: BLE001
            return [f"unreadable output: {type(e).__name__}: {e}"]

    def root_check(root):
        if root not in root_fails:
            root_fails[root] = guarded(checker.check_root, root)
        return root_fails[root]
    by_name = {op["name"]: op for op in report["ops"]}
    for op in report["ops"]:
        if op["error"]:
            failures[op["name"]] = [f"threw {op['error']}"]
            continue
        if not op["root"]:  # the warm-up: set-up, its output is not checked
            failures[op["name"]] = []
            continue
        fails = list(root_check(op["root"]))
        if op["assignments"]:
            fails += guarded(checker.same, op["root"] + "/assignments/data", op["assignments"])
        if op["name"] == "traced" and "untraced" in by_name:
            fails += guarded(checker.same, op["root"] + "/assignments/data",
                             by_name["untraced"]["root"] + "/assignments/data")
        failures[op["name"]] = fails
    return failures


def run_workload(workload, seed, seconds, trace, scale, keep, cp, metric_defs):
    cores = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    os.makedirs(TMP_DIR, exist_ok=True)
    work = os.path.join(TMP_DIR, f"{workload}-s{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t0 = time.time()
        docs = gen.generate(workload, seed, seconds, os.path.join(work, "input"), scale)
        gen.generate(workload, seed, seconds, os.path.join(work, "warmup_input"), scale, True)
        pages = os.path.join(work, "input", "pages")
        log(f"{workload}: generated {docs} pages in {time.time() - t0:.1f}s")
        t1 = time.time()
        cpu0 = cpu_times()
        report = run_jvm(cp, "trace" if trace else "run", work, pages,
                         os.path.join(work, "warmup_input", "pages"), FLAGS[workload], cores)
        cpu1 = cpu_times()
        t2 = time.time()
        checker = check.Checker(pages, os.path.join(work, "input", "truth.parquet"),
                                workload, seed)
        failures = check_ops(report, checker)
        for name, fails in failures.items():
            for msg in fails:
                log(f"{workload}: {name}: FAILED {msg}")
        source = report.get("per_layer", {}) if trace else report
        metrics = {}
        for m in metric_defs:
            if m["name"] in source:
                metrics[m["name"]] = {"value": source[m["name"]], "unit": m["unit"]}
        completed = not any(op["error"] for op in report["ops"])
        missing = [m["name"] for m in metric_defs if m["name"] not in metrics]
        if missing and completed:
            raise BenchError(f"harness reported no {', '.join(missing)}")
        if trace and completed and abs(source["trace.span_sum_ratio"] - 1.0) > 0.05:
            raise BenchError(f"spans cover {source['trace.span_sum_ratio']:.3f} of the traced wall")
        steal = None
        if cpu0 and cpu1 and cpu1[1] > cpu0[1]:
            steal = (cpu1[0] - cpu0[0]) / (cpu1[1] - cpu0[1])
        conditions = {"workload": workload, "docs": docs, "cores": cores, "steal_share": steal,
                      "canary_mbps_1t": report.get("canary_mbps_1t"),
                      "planted_pairs": len(checker.planted),
                      "gen_s": round(t1 - t0, 2), "jvm_s": round(t2 - t1, 2),
                      "check_s": round(time.time() - t2, 2)}
        # an operation that threw is counted in `failed`; `correct` speaks of
        # the outputs of the operations that completed
        return {"correct": not any(failures[op["name"]] for op in report["ops"]
                                   if not op["error"]),
                "attempted": len(report["ops"]),
                "failed": sum(1 for f in failures.values() if f),
                "metrics": metrics, "conditions": conditions}
    finally:
        if keep:
            log(f"kept scratch directory {work}")
        else:
            shutil.rmtree(work, ignore_errors=True)
            try:
                os.rmdir(TMP_DIR)  # only if no other run still uses it
            except OSError:
                pass


def main():
    ap = argparse.ArgumentParser(description="dedup pipeline benchmark")
    ap.add_argument("--workload", required=True, choices=gen.WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--keep", action="store_true")
    a = ap.parse_args()
    # on SIGTERM unwind through the `finally` blocks that stop the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    bench_json = os.path.join(ROOT, "BENCHMARK.json")
    if not (os.path.exists(os.path.join(ROOT, "build.sbt")) and os.path.exists(
            os.path.join(ROOT, "src/main/scala/dedup/Pipeline.scala")) and
            os.path.exists(bench_json)):
        log(f"{ROOT} holds no dedup engine sources to benchmark")
        return 2
    with open(bench_json) as f:
        spec = json.load(f)
    metric_defs = spec["per_layer"] if a.trace else spec["end_to_end"]
    try:
        cp = build()
        workloads = gen.WORKLOADS if a.workload == "all" else (a.workload,)
        results = {w: run_workload(w, a.seed, a.seconds, a.trace, 0.25 if a.smoke else 1.0,
                                   a.keep, cp, metric_defs) for w in workloads}
    except BenchError as e:
        log(f"benchmark broke: {e}")
        return 1
    for w, r in results.items():
        print(json.dumps({"conditions": r["conditions"]}))
        for name, m in r["metrics"].items():
            print(f"{w:18s} {name:32s} {m['value']:>16.4f} {m['unit']}")
        print(f"{w:18s} attempted {r['attempted']} failed {r['failed']}")
    if len(results) == 1:
        r = next(iter(results.values()))
        metrics = r["metrics"]
    else:
        metrics = {f"{w}.{k}": v for w, r in results.items() for k, v in r["metrics"].items()}
    print(json.dumps({"correct": all(r["correct"] for r in results.values()),
                      "attempted": sum(r["attempted"] for r in results.values()),
                      "failed": sum(r["failed"] for r in results.values()),
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
