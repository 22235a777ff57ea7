#!/usr/bin/env python3
"""Job benchmark: one workload, one seed, one closed-loop client.

    python3 jobbench/run.py --workload curation_job --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run in a checkout builds the
engine and the harness from source (sbt, offline); later runs reuse the
classpath as long as no source file changed. Inputs are generated from
the seed (jobbench/gen.py), the workload runs in a fresh local Spark
session (jobbench/src/main/scala/jobbench/Main.scala), outputs are
checked, and the last stdout line is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are BENCHMARK.json's end_to_end metrics, with
--trace 1 its per_layer metrics. The exit code is 0 only when every
operation ran and every output matched. Everything the run writes stays
under .bench_build/ in the checkout.
"""
import argparse
import contextlib
import fcntl
import hashlib
import importlib.util
import io
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402

WORKLOADS = tuple(gen.SHAPES)
HEAP = "3g"
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 840
# Spark on JDK 17 outside spark-submit (same list as the engine's build)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]
BUILD_INPUTS = ("build.sbt", "project/build.properties", "src/main",
                "jobbench/build.sbt", "jobbench/project/build.properties",
                "jobbench/src")


def fail(msg):
    print(f"jobbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest(root):
    h = hashlib.sha256()
    for rel in BUILD_INPUTS:
        path = os.path.join(root, rel)
        if not os.path.exists(path):
            fail(f"missing {rel}: run from the root of a repository checkout")
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def build(root, work):
    """Compile engine + harness once per source digest; returns the
    runtime classpath."""
    stamp = os.path.join(work, f"classpath-{source_digest(root)}.txt")
    if os.path.exists(stamp):
        return open(stamp).read().strip()
    os.makedirs(work, exist_ok=True)
    with open(os.path.join(work, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(stamp):
            return open(stamp).read().strip()
        log = os.path.join(work, "build.log")
        with open(log, "w") as out:
            p = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true",
                 "export Runtime/fullClasspath"],
                cwd=os.path.join(root, "jobbench"), stdout=subprocess.PIPE,
                stderr=out, stdin=subprocess.DEVNULL, text=True,
                timeout=BUILD_LIMIT_S)
        lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
        if p.returncode != 0 or not lines or ":" not in lines[-1]:
            sys.stderr.write(p.stdout[-4000:])
            fail(f"build failed (exit {p.returncode}); see {log}")
        tmp = f"{stamp}.{os.getpid()}"
        with open(tmp, "w") as f:
            f.write(lines[-1])
        os.rename(tmp, stamp)
        return lines[-1]


def run_jvm(classpath, args, run_dir, deadline):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java, f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "jobbench.Main"] + args
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as out:
        # nothing outside the benchmark may change what it measures: no
        # engine knobs, and Spark's scratch space stays in the run dir
        env = {k: v for k, v in os.environ.items()
               if not k.startswith("SPARK_GRAFT_") and k != "SPARK_LOCAL_DIRS"}
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, env=env,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = "timeout"
    if rc != 0:
        with open(log) as f:
            sys.stderr.write(f.read()[-6000:])
        fail(f"harness JVM exited with {rc}")


def oracle_checks(root, input_dir, run_dir, oracle):
    """DuckDB oracle compare of every dumped result through the repo's
    own checker (tools/check_oracle.py), one query per call. Returns
    [(check name, ok, checker output, seconds)]."""
    if not oracle:
        return []
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(root, "tools", "check_oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    dump = os.path.join(run_dir, "dump")
    out = []
    for name in sorted(oracle):
        with open(os.path.join(dump, "oracle_sql.json"), "w") as f:
            json.dump({name: oracle[name]}, f)
        buf = io.StringIO()
        t0 = time.perf_counter()
        with contextlib.redirect_stdout(buf):
            rc = mod.main(os.path.join(input_dir, "oracle"), dump)
        lines = buf.getvalue().splitlines()
        out.append((f"oracle:{name}", rc == 0, lines[0] if lines else "",
                    time.perf_counter() - t0))
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.time()
    root = os.getcwd()
    try:
        with open(os.path.join(root, "BENCHMARK.json")) as f:
            spec = json.load(f)
    except OSError:
        fail("BENCHMARK.json not found: run from the repository root")
    work = os.path.join(root, ".bench_build")
    classpath = build(root, work)

    deadline = time.time() + RUN_LIMIT_S
    t0 = time.perf_counter()
    input_dir, cache, manifest = gen.ensure(
        os.path.join(work, "inputs"), a.seed, a.workload)
    gen_s = time.perf_counter() - t0

    run_dir = os.path.join(work, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    t_jvm = time.time()
    try:
        run_jvm(classpath, [a.workload, input_dir, run_dir, str(a.seconds),
                            str(a.trace)], run_dir, deadline)
        with open(os.path.join(run_dir, "result.json")) as f:
            res = json.load(f)
        with open(os.path.join(run_dir, "jvm.log")) as f:
            harness_log = [ln.rstrip() for ln in f if ln.startswith("[jobbench]")]
        jvm_s = time.time() - t_jvm
        checks = [(c["name"], c["ok"], c["detail"]) for c in res["checks"]]
        t_oracle = time.time()
        oracle = oracle_checks(root, input_dir, run_dir, res["oracle"])
        checks += [c[:3] for c in oracle]
        oracle_s = time.time() - t_oracle
        spans = None
        if a.trace:
            with open(os.path.join(run_dir, "spans.json")) as f:
                spans = json.load(f)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    attempted = res["attempted"] + len(checks) - len(res["checks"])
    failed = res["failed"] + sum(1 for _, ok, _ in checks[len(res["checks"]):]
                                 if not ok)
    correct = failed == 0
    for name, ok, detail in checks:
        if not ok:
            print(f"jobbench: check {name} failed: {detail}", file=sys.stderr)

    e2e = dict(res["e2e"])
    e2e["setup_s"] = gen_s + statistics.median(res["setup_session_s"])
    values = res["layers"] if a.trace else e2e
    section = "per_layer" if a.trace else "end_to_end"
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)),
                           "unit": m["unit"]} for m in spec[section]}

    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "trace": a.trace, "time": time.strftime("%Y-%m-%dT%H:%M:%S"),
        "inputs": {"cache": cache, "generate_s": gen_s,
                   "mb": gen.input_bytes(manifest) / 1e6},
        "telemetry": dict(res["telemetry"], heap=HEAP, jvm_s=jvm_s,
                          oracle_s=oracle_s, wall_s=time.time() - t_start),
        "passes": res["passes"], "e2e": e2e, "layers": res["layers"],
        "self_ms": res["self_ms"],
        "checks": [{"name": n, "ok": ok, "detail": d} for n, ok, d in checks],
        "log": harness_log,
        "oracle_s": {n: s for n, _, _, s in oracle},
    }
    out_dir = os.path.join(work, "results", a.workload)
    os.makedirs(out_dir, exist_ok=True)
    stem = f"seed{a.seed}-trace{a.trace}-{int(time.time() * 1000)}"
    with open(os.path.join(out_dir, stem + ".json"), "w") as f:
        json.dump(record, f, indent=1)
    if spans is not None:
        with open(os.path.join(out_dir, stem + ".spans.json"), "w") as f:
            json.dump(spans, f)

    print(json.dumps({"telemetry": record["telemetry"],
                      "inputs": record["inputs"],
                      "passes": len(res["passes"])}))
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
