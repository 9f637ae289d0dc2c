#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload ingest_file --seed 1 --seconds 12 --trace 0

Run from the repository root. The first run builds the engine from
../src/main/scala together with the harness (sbt, offline) into
perfbench/target; later runs reuse the build while the sources are
unchanged. Every run writes its inputs and outputs under perfbench/.work.

The last stdout line is one JSON object with `correct`, `attempted`,
`failed` and `metrics`: the end-to-end metrics of BENCHMARK.json with
--trace 0, its per-layer metrics with --trace 1. The line before it is
the full run record (samples summarised as n/median/quartiles, seed,
input size, effective Spark conf, host facts). Exit status 0 means every
output was checked and correct (and, with --trace 1, every per-layer
metric the workload runs was emitted).
"""
import argparse
import fnmatch
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
sys.path.insert(0, HERE)
import stats  # noqa: E402

ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
WORK = os.path.join(HERE, ".work")
BUILD = os.path.join(WORK, "build")
WORKLOADS = ("ingest_file", "stream_stateful", "query_mix")
# the per-layer metrics each workload must emit (fnmatch patterns); a run
# that leaves one out is incorrect, and the layers it does not run read 0
LAYERS = {
    "ingest_file": ("rainerscript.*", "templates.*", "sources.*", "operators.lookup.self_s",
                    "operators.lookup.hit_ratio", "sink.*", "ladder.*", "spark.*", "trace.*"),
    "stream_stateful": ("sources.*", "streaming.*", "spark.*", "trace.*"),
    "query_mix": ("tables.*", "catalyst.*", "operators.*.exec_s", "spark.*", "trace.*"),
}
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
# A fixed heap and young generation: the JVM's adaptive heap sizing made
# peak RSS swing by half between identical runs.
JVM_HEAP = ["-Xms3g", "-Xmx3g", "-Xmn512m"]

# the module opens Spark needs on JDK 17 outside spark-submit
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile engine + harness when the sources changed; return the classpath."""
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    print("perfbench: building engine and harness", file=sys.stderr)
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, capture_output=True, text=True,
                       timeout=BUILD_TIMEOUT_S, stdin=subprocess.DEVNULL)
    lines = [l for l in r.stdout.splitlines() if l.strip()]
    if r.returncode != 0 or not lines or ":" not in lines[-1] or lines[-1].startswith("["):
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        die("build failed")
    with open(cp_file, "w") as fh:
        fh.write(lines[-1].strip())
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return lines[-1].strip()


def run_jvm(cp, args, work, budget_s):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = ["java", *JVM_HEAP, "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
           f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
           f"-Dderby.system.home={os.path.join(work, 'derby')}"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main", "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--work", work]
    log = open(os.path.join(work, "jvm.log"), "w")
    p = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        rc = p.wait(timeout=budget_s)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        rc = None
    finally:
        log.close()
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as fh:
            sys.stderr.write(fh.read()[-6000:])
        die("engine run timed out" if rc is None else f"engine run exited with {rc}")


def missing_layers(workload, per_layer, layers):
    """The per-layer metrics `workload` runs that `layers` lacks or has no value for."""
    return [m["name"] for m in per_layer
            if any(fnmatch.fnmatchcase(m["name"], p) for p in LAYERS[workload])
            and layers.get(m["name"]) is None]


def main():
    t_start = time.monotonic()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        die(f"engine sources not found at {ENGINE_SRC}; run from a repository checkout")
    if shutil.which("java") is None or shutil.which("sbt") is None:
        die("java and sbt are required")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    t_build = time.monotonic()
    cp = build()
    build_s = time.monotonic() - t_build  # the first run in a checkout builds

    work = os.path.join(WORK, "run")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    if args.workload == "query_mix":
        import tables
        tables.generate(os.path.join(work, "tables"), args.seed, scale=0.1)
        tables.generate(os.path.join(work, "warm_tables"), args.seed + 1, scale=0.01)

    run_jvm(cp, args, work, JVM_TIMEOUT_S - (time.monotonic() - t_start - build_s))
    with open(os.path.join(work, "result.json")) as fh:
        res = json.load(fh)
    attempted, failed = res["attempted"], res["failed"]
    failures = list(res["failures"])
    if args.workload == "query_mix":
        import tables
        with open(os.path.join(work, "oracles.json")) as fh:
            oracles = json.load(fh)
        execs = res["facts"]["executions"]
        for name, why in tables.check(os.path.join(work, "tables"),
                                      os.path.join(work, "results"), oracles).items():
            if why is not None:
                failed += execs.get(name, 1)
                failures.append(f"{name}: oracle mismatch: {why}")

    samples = {k: stats.summary(v) for k, v in res["samples"].items()}
    correct = failed == 0
    if args.trace:
        layers = res["layers"]
        missing = missing_layers(args.workload, spec["per_layer"], layers)
        if missing:
            correct = False
            failures.append(f"per-layer metrics missing: {', '.join(missing)}")
        metrics = {m["name"]: {"value": float(layers.get(m["name"]) or 0.0), "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        lat = res["samples"]["latency_s"]
        value = {
            "setup_s": samples["setup_s"]["median"],
            "throughput_per_s": samples["throughput_per_s"]["median"],
            "latency_p50_s": samples["latency_s"]["median"],
            "latency_p90_s": stats.percentile(lat, 90.0),
            "peak_rss_mb": samples["peak_rss_mb"]["median"],
        }
        metrics = {m["name"]: {"value": value[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    res["facts"]["run_wall_s"] = time.monotonic() - t_start
    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "samples": samples, "failures": failures[:20],
              "facts": res["facts"]}
    print(json.dumps({"record": record}, sort_keys=True))
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
