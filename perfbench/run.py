#!/usr/bin/env python3
"""The repository benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. It builds the engine and the harness from
source (sbt, cached by a hash of the sources under .perfbench/build),
generates the seeded inputs, runs the harness JVM, checks every output and
prints one JSON line last on standard output. Workloads, metrics and the
layer-to-end-to-end mapping are described in perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import inputs  # noqa: E402
import layers  # noqa: E402

ROOT = os.getcwd()
STATE = os.path.join(ROOT, ".perfbench")
DATA = os.path.join(HERE, "data", "sf0.01")

# MapleJuice input sizes (the reference's votes.txt holds 100k ballots)
MAPLEJUICE = {"n_ballots": 30000, "n_lines": 30000, "words_per_line": 12,
              "vocab_size": 20000}
# input rates of the streaming ladder (rows/s; the top one is past the
# query's capacity on 4 cores) and the latency limit a rate must meet
# (tail latency, seconds) to count as sustained
STREAM_RATES = [2000, 10000, 80000]
LATENCY_LIMIT_S = 2.0

WORKLOADS = ("batch", "stream_dedup")
# a fixed heap size, so collections do not depend on when the heap grew;
# the memory metric is the live set after a full collection, which the
# heap size does not set
HEAP = "2g"
RUN_TIMEOUT_S = 175
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def die(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def source_hash():
    h = hashlib.sha256()
    roots = ["build.sbt", "project", "src/main", "perfbench/build.sbt",
             "perfbench/project", "perfbench/src"]
    for r in roots:
        path = os.path.join(ROOT, r)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs
            if "/target" not in d and "/project/project" not in d)
        for f in files:
            if f.endswith((".scala", ".sbt", ".properties", ".java")):
                h.update(os.path.relpath(f, ROOT).encode())
                with open(f, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def build():
    """Compile engine + harness; return the runtime classpath."""
    for need in ("build.sbt", "src/main/scala/graft", "perfbench/build.sbt"):
        if not os.path.exists(os.path.join(ROOT, need)):
            die("%s not found: run from the repository root" % need)
    if shutil.which("sbt") is None or shutil.which("java") is None:
        die("sbt and java are needed on PATH")
    cache = os.path.join(STATE, "build", "classpath-%s.txt" % source_hash())
    if os.path.exists(cache):
        with open(cache) as f:
            return f.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    if os.path.exists(os.path.expanduser("~/.sbt/repositories")):
        opts.append("-Dsbt.override.build.repos=true")
    env.setdefault("SBT_OPTS", " ".join(opts))
    t0 = time.monotonic()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=os.path.join(ROOT, "perfbench"), env=env, stdin=subprocess.DEVNULL,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=850)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    cp = next((ln for ln in reversed(lines)
               if not ln.startswith("[") and ".jar" in ln), None)
    if p.returncode != 0 or cp is None:
        sys.stderr.write(p.stdout[-4000:])
        die("build failed")
    print("perfbench: built in %.1f s" % (time.monotonic() - t0), file=sys.stderr)
    os.makedirs(os.path.dirname(cache), exist_ok=True)
    with open(cache, "w") as f:
        f.write(cp)
    return cp


def run_harness(cp, args, work, timeout):
    java = shutil.which("java")
    log = os.path.join(work, "spark.log")
    cmd = [java] + [x for p in JDK_OPENS
                    for x in ("--add-opens", "java.base/%s=ALL-UNNAMED" % p)]
    # -UsePerfData: no hsperfdata file outside the checkout
    cmd += ["-Xms" + HEAP, "-Xmx" + HEAP, "-XX:-UsePerfData",
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
            "-Dperfbench.log=" + log, "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "perfbench.Main"] + ["%s=%s" % kv for kv in args.items()]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    proc = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.DEVNULL,
                            stdout=sys.stderr, stderr=sys.stderr)
    try:
        rc = proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        die("harness did not finish within %d s" % timeout)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if rc != 0:
        die("harness exited with %d (Spark log: %s)" % (rc, log))
    with open(args["out"]) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a terminated run still stops (and waits for) the JVM it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    cp = build()
    started = time.monotonic()
    work = os.path.join(STATE, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    args = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
            "trace": a.trace, "work": work, "out": os.path.join(work, "result.json")}
    generate_s = 0.0
    if a.workload == "batch":
        src = os.path.join(STATE, "inputs", "maplejuice-s%d" % a.seed)
        generate_s = inputs.maplejuice(src, a.seed, **MAPLEJUICE)
        args["inputs"] = src
        args["data"] = DATA
    else:
        args["rates"] = ",".join(map(str, STREAM_RATES))

    res = run_harness(cp, args, work, RUN_TIMEOUT_S - (time.monotonic() - started))

    # correctness: every op of every pass must have run; outputs must match
    out_dir = os.path.join(work, "out")
    errors = {}
    attempted = failed = 0
    if a.workload == "stream_dedup":
        for p in res["passes"]:
            for r in p["rungs"]:
                attempted += r["processed_rows"]
                failed += r["missing"] + r["extra"]
                if not r["ok"]:
                    errors["rate-%d" % r["rate"]] = "%d missing, %d extra" % (
                        r["missing"], r["extra"])
    else:
        runs = [o for p in res["warmup"] + res["passes"] for o in p["ops"]]
        attempted = len(runs)
        for o in runs:
            if not o["ok"]:
                failed += 1
                errors[o["name"]] = o.get("error")
        with open(os.path.join(args["inputs"], "expected.json")) as f:
            wrong = checks.maplejuice(out_dir, json.load(f))
        wrong.update(checks.catalog(DATA, out_dir, res["oracles"],
                                    [n for n in res["op_names"] if n not in wrong]))
        for name, err in wrong.items():
            if err:
                failed += 1
                errors[name] = err
    attempted = max(attempted, 1)

    record = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
              "trace": a.trace, "cores": res["cores"], "heap_mb": res["heap_mb"],
              "window": res["window"], "errors": errors,
              "session_start_s": res["session_start_s"], "warmup_s": res["warmup_s"],
              "wall_s": time.monotonic() - started}
    if a.trace:
        metrics = layers.per_layer(res, STREAM_RATES, LATENCY_LIMIT_S, generate_s)
    else:
        metrics, tail = layers.end_to_end(res)
        record["op_timing"] = tail
    record["metrics"] = metrics
    runs_dir = os.path.join(STATE, "runs")
    os.makedirs(runs_dir, exist_ok=True)
    with open(os.path.join(runs_dir, "%s-s%d-t%d.json" % (a.workload, a.seed, a.trace)), "w") as f:
        json.dump(record, f, indent=1)
    w = res["window"]
    print("perfbench: %s seed %d: window %.1f s, own %.2f, foreign %.2f, steal %.2f cores; "
          "%d errors" % (a.workload, a.seed, w["seconds"], w["own_cores"],
                         w["foreign_cores"], w["steal_cores"], len(errors)),
          file=sys.stderr)
    for name, err in errors.items():
        print("perfbench: FAIL %s: %s" % (name, err), file=sys.stderr)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    out = {}
    for m in wanted:
        if m["name"] not in metrics:
            die("metric %s was not computed" % m["name"])
        out[m["name"]] = {"value": metrics[m["name"]], "unit": m["unit"]}
    print(json.dumps({"correct": not errors, "attempted": attempted,
                      "failed": failed, "metrics": out}))


if __name__ == "__main__":
    main()
