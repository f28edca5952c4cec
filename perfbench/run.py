#!/usr/bin/env python3
"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 15 --trace 0

Run from the root of the repository. The first run builds the program and
the harness from source with sbt (offline) into perfbench/target and the
repository's target/; later runs reuse that build while the sources are
unchanged. Each run starts one JVM (Spark on local[<cores>]), keeps its
scratch data under perfbench/.work/ and deletes it afterwards, and stores
its full result (every metric plus per-query / per-endpoint detail, and
the span dump of a traced run) under perfbench/results/, never
overwriting an earlier file. Compare two sets of results with
perfbench/diff.py.

The last line of standard output is
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with the end-to-end metrics of BENCHMARK.json (--trace 0) or its per-layer
metrics (--trace 1).
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
WORK = os.path.join(HERE, ".work")
RESULTS = os.path.join(HERE, "results")

# Spark on JDK 17 needs these outside spark-submit (the same list the
# repository's build.sbt passes to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

RUN_TIMEOUT_S = 170


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def load_spec():
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(path):
        fail("BENCHMARK.json not found next to perfbench/")
    with open(path) as f:
        return json.load(f)


def source_fingerprint():
    """Hash of every file the build reads, so an edit forces a rebuild."""
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "build.sbt"),
              os.path.join(ROOT, "project", "build.properties"),
              os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, files in os.walk(top):
            inputs += [os.path.join(d, f) for f in files]
    for p in sorted(inputs):
        if not os.path.isfile(p):
            fail(f"build input missing: {os.path.relpath(p, ROOT)}")
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def sbt_env():
    env = dict(os.environ)
    # resolve only from the local caches; never reach for a network
    env["COURSIER_MODE"] = "offline"
    opts = env.get("SBT_OPTS", "")
    for flag in ("-Dsbt.offline=true", "-Dsbt.override.build.repos=true"):
        if flag not in opts:
            opts += " " + flag
    env["SBT_OPTS"] = (opts + " -Xmx2g").strip()
    return env


def build():
    """Compile the program and the harness; return the runtime classpath."""
    stamp = os.path.join(BUILD, f"classpath-{source_fingerprint()}.txt")
    if os.path.isfile(stamp):
        with open(stamp) as f:
            return f.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "sbt.log")
    with open(log, "w") as out:
        rc = subprocess.call(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
             "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=sbt_env(), stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=840)
    with open(log) as f:
        lines = [l.strip() for l in f if l.strip()]
    cp = [l for l in lines if not l.startswith("[") and os.pathsep in l and ".jar" in l]
    if rc != 0 or not cp:
        fail(f"build failed (exit {rc}); see {os.path.relpath(log, ROOT)}")
    with open(stamp, "w") as f:
        f.write(cp[-1])
    return cp[-1]


def heap_arg():
    """Half the machine's memory, between 2 and 4 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = int(next(l for l in f if l.startswith("MemTotal:")).split()[1])
        gb = max(2, min(4, kb // 2 // 1048576))
    except (OSError, StopIteration, ValueError):
        gb = 2
    return f"-Xmx{gb}g"


def run_jvm(cp, args, work):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    out = os.path.join(work, "result.json")
    cmd = ["java", heap_arg()]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--out", out]
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=lf, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    if rc != 0 or not os.path.isfile(out):
        with open(log, errors="replace") as lf:
            tail = lf.read()[-3000:]
        fail(f"workload run failed ({rc}):\n{tail}")
    with open(out) as f:
        return json.load(f)


def keep_result(args, res, work):
    """Store the full result under results/<workload>/ without overwriting."""
    d = os.path.join(RESULTS, args.workload)
    os.makedirs(d, exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%SZ", time.gmtime())
    base = f"{stamp}-seed{args.seed}-trace{args.trace}"
    for n in range(1000):
        name = base + (f"-{n}" if n else "")
        try:
            with open(os.path.join(d, name + ".json"), "x") as f:
                json.dump(dict(res, workload=args.workload, seed=args.seed,
                               seconds=args.seconds, trace=args.trace), f, indent=1)
            break
        except FileExistsError:
            continue
    for f in sorted(os.listdir(work)):
        if f.startswith("spans") and f.endswith(".jsonl"):
            shutil.move(os.path.join(work, f), os.path.join(d, f"{name}.{f}"))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec = load_spec()
    names = [w["name"] for w in spec["workloads"]]
    if args.workload not in names:
        fail(f"unknown workload {args.workload!r}; one of {names}")
    cp = build()
    os.makedirs(WORK, exist_ok=True)
    work = os.path.join(WORK, f"{args.workload}-{os.getpid()}-{time.time_ns()}")
    try:
        res = run_jvm(cp, args, work)
        keep_result(args, res, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    wanted = spec["per_layer" if args.trace else "end_to_end"]
    got = res["metrics"]
    metrics = {}
    for m in wanted:
        v = got.get(m["name"])
        if v is None and args.trace:
            # a layer this workload does not exercise did no work in it
            v = {"value": 0.0, "unit": m["unit"]}
        if v is None:
            fail(f"run did not report {m['name']}")
        if v["unit"] != m["unit"]:
            fail(f"{m['name']} reported in {v['unit']}, BENCHMARK.json says {m['unit']}")
        metrics[m["name"]] = v
    extra = sorted(set(got) - set(metrics))
    if extra:
        fail(f"run reported metrics BENCHMARK.json does not list: {extra}")
    for name, v in res.get("named", {}).items():
        print(f"{args.workload}.{name} = {v['value']:.6g} {v['unit']}")
    for c in res.get("checks", []):
        print(f"check failed: {c}")
    print(f"{args.workload}: output checks {'passed' if res['correct'] else 'FAILED'}")
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
