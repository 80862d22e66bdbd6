#!/usr/bin/env python3
"""perfbench: end-to-end and per-layer benchmark of the engine.

Usage (from the repository root):
  python3 perfbench/run.py --workload classify|logs_stream \
      --seed N --seconds S --trace 0|1

Builds the engine and the harness from source (perfbench/build.sbt, once per
checkout), generates the workload's inputs from the seed, runs the harness
JVM, checks every output against DuckDB, and prints as its last stdout line
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with the end-to-end metrics (--trace 0) or the per-layer metrics (--trace 1).
The line before it carries the generated input's sizes and layout. Every
file it writes is under perfbench/target, perfbench/project/target and
perfbench/.work; the traced run also leaves its spans and counters in
perfbench/.work/<workload>/trace.json.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import check  # noqa: E402
import gen  # noqa: E402

ENGINE_SRC = os.path.join(ROOT, "src", "main")
CLASSPATH = os.path.join(HERE, "target", "classpath.txt")
STAMP = os.path.join(HERE, "target", "perfbench.sources.sha256")
# A run has 180 s; both workloads stop timing once --seconds have passed, so
# the JVM needs set-up (25-40 s, more on a loaded host) plus --seconds plus
# one pass or drain.
JVM_SLACK_S = 145

# JVM flags of the engine's direct launcher (tools/run_main.sh), plus the
# scratch locations that keep every write inside the checkout.
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
JVM_FLAGS = [f for p in ADD_OPENS for f in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] + [
    "-XX:ReservedCodeCacheSize=768m", "-Dspark.ui.enabled=false",
    "-Dspark.sql.session.timeZone=UTC", "-Xmx8g"]

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)
# metric name -> unit, as BENCHMARK.json declares them
END_TO_END = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in SPEC["per_layer"]}


def fail(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources_digest():
    """sha256 over the engine's and the harness' sources and build files."""
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, n) for d, _, names in os.walk(r) for n in names)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(work):
    """Compile engine + harness with sbt unless this source tree is built."""
    if not os.path.isfile(os.path.join(ENGINE_SRC, "scala", "graft", "SparkEntry.scala")):
        fail(f"engine sources not found under {ENGINE_SRC}", 2)
    digest = sources_digest()
    if os.path.isfile(CLASSPATH) and os.path.isfile(STAMP):
        with open(STAMP) as f:
            if f.read() == digest:
                return
    # offline: every dependency comes from the local caches or the Spark jars
    opts = "-Dsbt.offline=true -Xmx2g"
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=opts)
    log = os.path.join(work, "build.log")
    with open(log, "w") as out:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, timeout=840).returncode
    if rc != 0 or not os.path.isfile(CLASSPATH):
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"build failed (sbt exit {rc}), log in {log}", 3)
    with open(STAMP, "w") as f:
        f.write(digest)


def run_jvm(args, data, work):
    with open(CLASSPATH) as f:
        cp = ":".join(line.strip() for line in f if line.strip())
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + JVM_FLAGS + [f"-Djava.io.tmpdir={tmp}", "-cp", cp, "perfbench.Main",
                                  "--workload", args.workload, "--data", data, "--work", work,
                                  "--seconds", str(args.seconds), "--trace", str(args.trace),
                                  "--cores", str(len(os.sched_getaffinity(0)))]
    timeout = JVM_SLACK_S + args.seconds
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as out:
        try:
            rc = subprocess.run(cmd, cwd=work, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, timeout=timeout).returncode
        except subprocess.TimeoutExpired:
            fail(f"harness JVM exceeded {timeout:.0f} s, log in {log}", 4)
    result = os.path.join(work, "result.json")
    if rc != 0 or not os.path.isfile(result):
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"harness JVM failed (exit {rc}), log in {log}", 4)
    with open(result) as f:
        return json.load(f)


def end_to_end(r):
    """classify's pass_s sums each query's median over the timed passes, so a
    slow spell inside one query moves one query's sample, not a whole pass;
    the stream's is its median drain."""
    if "query_s" in r:
        pass_s = sum(statistics.median(v) for v in r["query_s"].values())
    else:
        pass_s = statistics.median(r["pass_s"])
    return {"setup_s": r["setup_s"], "pass_s": pass_s, "mem_peak_mb": r["mem_peak_mb"]}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=gen.WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()

    base = os.path.join(HERE, ".work")
    work = os.path.join(base, args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    build(base)

    data = os.path.join(work, "data")
    manifest = gen.generate(args.workload, args.seed, args.seconds, data)
    r = run_jvm(args, data, work)

    out = os.path.join(work, "out")
    if args.workload == "logs_stream":
        gate = check.stream(os.path.join(work, "stream", "live"), out, r["watermark_s"])
        if r["rows_dropped"] != 0:
            gate["rows_dropped"] = f"{r['rows_dropped']:.0f} rows dropped by the watermark"
    else:
        gate = check.batch(data, out)
    failures = {k: v for k, v in gate.items() if v is not None}
    failures.update({k: f"exception: {v}" for k, v in r["errors"].items()})
    attempted = int(r["attempted"]) + len(gate)

    not_used = []
    if args.trace:
        # a layer the workload does not run reports 0 and is listed as such
        layers = r["layers"]
        not_used = sorted(set(PER_LAYER) - set(layers))
        metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u} for k, u in PER_LAYER.items()}
        with open(os.path.join(work, "trace.json"), "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed, "layers": layers,
                       "pass_s": r["pass_s"], "traced_pass_s": r.get("traced_pass_s"),
                       "jobs_per_query": r.get("jobs_per_query"),
                       "spans": r.get("spans", [])}, f, indent=1)
    else:
        metrics = {k: {"value": float(v), "unit": END_TO_END[k]}
                   for k, v in end_to_end(r).items()}

    print(json.dumps({"inputs": manifest, "gate": gate, "errors": r["errors"],
                      "samples": {k: r[k] for k in ("pass_s", "query_s", "cpu_s", "traced_pass_s",
                                                    "setup_s", "lag_s")
                                  if k in r},
                      "layers_not_used": not_used}))
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": len(failures), "metrics": metrics}))


if __name__ == "__main__":
    main()
