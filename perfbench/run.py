#!/usr/bin/env python3
"""Benchmark entry point.  Run from the root of a checkout:

    python3 perfbench/run.py --workload serve_daily --seed 1 --seconds 30 --trace 0

It builds the program and the harness from source (once per source state,
into `.bench_build/`), generates the workload's inputs from the seed, runs
the JVM harness (`perfbench.Main`), checks the outputs against independent
computations (`check.py`) and prints one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics of BENCHMARK.json, `--trace 1`
the per-layer metrics.  Exit code 0 means the run finished; `correct`
says whether every checked output matched.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("serve_daily", "registry")
# the smallest scale of the test tables, whose statistics gen.py reproduces
REGISTRY_SF = 0.001
# a fixed, pre-touched heap: the resident memory outside it is then the
# rest of the peak resident set (see Jvm.footprintMb)
HEAP = "2g"
RUN_LIMIT_S = 170  # a run must end within 180 s, checks included
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp(root):
    """Hash of every build input: a changed source triggers a rebuild."""
    h = hashlib.sha256()
    for top in ("src/main", "perfbench/src", "perfbench/build.sbt",
                "perfbench/project/build.properties"):
        base = os.path.join(root, top)
        paths = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for p in paths:
            st = os.stat(p)
            h.update(f"{os.path.relpath(p, root)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build(root, build_dir):
    """Compile the program and the harness with sbt; return the classpath."""
    stamp = source_stamp(root)
    cp_file = os.path.join(build_dir, "classpath.txt")
    stamp_file = os.path.join(build_dir, "classpath.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and \
            open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    log = os.path.join(build_dir, "build.log")
    # the toolchain resolves from its local caches only
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true")
    with open(log, "w") as f:
        rc = subprocess.call(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=os.path.join(root, "perfbench"), stdout=f, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, env=env, timeout=800)
    lines = open(log).read().splitlines()
    cps = [ln for ln in lines if os.pathsep in ln and "classes" in ln and not ln.startswith("[")]
    if rc != 0 or not cps:
        fail(f"build failed (rc {rc}); see {log}:\n" + "\n".join(lines[-20:]))
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1]


def pool_rounds(seconds):
    """Rounds of request bodies to generate: more than a run can use."""
    return int(math.ceil(seconds)) + 4


def gen_stamp():
    """Hash of the generator's source: generated tables are reused only
    while gen.py is unchanged."""
    with open(os.path.join(HERE, "gen.py"), "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:12]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.time()

    root = os.getcwd()
    for need in ("build.sbt", "src/main/scala/graft", "tools/golden_gen.py",
                 "BENCHMARK.json"):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"{need} not found: run from the root of a checkout of the program")
    spec = json.load(open(os.path.join(root, "BENCHMARK.json")))
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]

    build_dir = os.path.join(root, ".bench_build")
    os.makedirs(build_dir, exist_ok=True)
    classpath = build(root, build_dir)
    t_built = time.time()  # a build may take longer; the run limit counts from here

    work = os.path.join(build_dir, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    out = os.path.join(work, "out")
    os.makedirs(out)
    if a.workload == "registry":
        inputs = os.path.join(build_dir, "data",
                              f"seed{a.seed}-sf{REGISTRY_SF}-gen{gen_stamp()}")
        if not os.path.exists(os.path.join(inputs, ".done")):
            shutil.rmtree(inputs, ignore_errors=True)
            gen.write_tables(inputs, a.seed, REGISTRY_SF)
            open(os.path.join(inputs, ".done"), "w").close()
    else:
        inputs = os.path.join(work, "inputs")
        gen.write_serve(inputs, a.seed, pool_rounds(a.seconds))

    t_gen = time.time()
    cores = len(os.sched_getaffinity(0))
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
            "-Dspark.ui.enabled=false"] +
           [x for p in JDK_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] +
           ["-cp", classpath, "perfbench.Main", "--workload", a.workload,
            "--inputs", inputs, "--out", out, "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--cores", str(cores)])
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as f:
        proc = subprocess.Popen(cmd, stdout=f, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, cwd=work)
        try:
            rc = proc.wait(timeout=RUN_LIMIT_S - (time.time() - t_built))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"harness timed out; see {log}")
    if rc != 0:
        tail = open(log).read().splitlines()[-25:]
        fail(f"harness exited {rc}; see {log}:\n" + "\n".join(tail))
    t_jvm = time.time()
    result = json.load(open(os.path.join(out, "result.json")))
    if result.get("poolExhausted"):
        fail("the run used every generated request body; raise pool_rounds")

    ops = result["operations"]
    timed = [o for o in ops if o["phase"] != "check"]
    attempted = len(timed)
    failed = sum(1 for o in timed if not o["ok"])
    errors = [o["error"] for o in ops if o.get("error")]
    if a.workload == "registry":
        checked, errs = check.check_registry(inputs, out, result)
        errs += [f"{o['query']} ({o['phase']}): {o['error']}" for o in ops
                 if o["phase"] == "check" and o["error"]]
    else:
        checked, errs = check.check_serve(root, inputs, out, result)
    for e in errs[:20]:
        print(f"CHECK FAILED: {e}", file=sys.stderr)
    for e in sorted(set(errors))[:5]:
        print(f"operation failed: {e}", file=sys.stderr)
    print(f"perfbench: {a.workload} seed {a.seed}: {attempted} operations, {failed} failed, "
          f"{checked} outputs checked, {len(errs)} check failures, "
          + (f"host steal {result['stealShare']:.1%} of CPU time while timed, "
             if "stealShare" in result else "") +
          f"{time.time() - t_start:.1f} s (build and inputs {t_gen - t_start:.1f} s, harness "
          f"{t_jvm - t_gen:.1f} s, checks {time.time() - t_jvm:.1f} s)", file=sys.stderr)

    # a traced run reports the layers its workload runs; the layers of the
    # other workloads read 0 (no request parsed, no registry query built)
    own = ("registry.",) if a.workload == "registry" else ("api.", "spark.", "forecast.", "jvm.")
    metrics = {}
    for m in wanted:
        v = result["metrics"].get(m["name"])
        if v is None and a.trace and not m["name"].startswith(own + ("trace.",)):
            v = 0.0
        if not isinstance(v, (int, float)) or not math.isfinite(v):
            fail(f"metric {m['name']} missing or not finite: {v}")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    print(json.dumps({"correct": not errs and checked > 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
