#!/usr/bin/env python3
"""graft benchmark: runs one workload of graft's gates and prints its metrics.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine from `src/main/scala` and the harness from `perfbench/src`
with the Scala compiler that ships in Spark's jars, generates the input tables
once, then starts a fresh JVM that opens a session, runs one cold pass over
the workload's gates and keeps its clients busy for `--seconds` more. Every
operation's result is checked against the digests pinned in `expected.json`.
The last line of standard output is one JSON object: the end-to-end metrics
with `--trace 0`, the per-layer metrics of a traced run with `--trace 1`.
Workloads, their reasons and the metric definitions are in `workloads.json`.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CONFIG = json.load(open(os.path.join(HERE, "workloads.json")))
DEADLINE_S = 170  # after the build, a run must end within 180 s
SETUP_SAMPLES = 3  # the timed JVM plus two that only set up, all side by side
JVM_OPTS = [
    # Spark on JDK 17 outside spark-submit; the list in build.sbt
    *[x for p in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
                  "java.net", "java.nio", "java.util", "java.util.concurrent",
                  "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
                  "sun.security.action", "sun.util.calendar")
      for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")],
    "-Xmx3g", "-Xss16m", "-XX:-UsePerfData", "-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
]


class BenchError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise BenchError("Spark not found: set SPARK_HOME")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BenchError(f"no Spark jars with a Scala compiler under {jars}")
    return os.path.join(jars, "*")


def sources(d):
    return sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))


def fingerprint(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(p.encode())
        h.update(open(p, "rb").read())
    return h.hexdigest()[:16]


def scalac(jars, out, classpath, srcs, log):
    os.makedirs(out)
    cmd = ["java", "-Xss16m", "-Xmx2g", "-XX:-UsePerfData", "-cp", jars, "scala.tools.nsc.Main", "-nowarn",
           "-d", out, "-cp", classpath, *srcs]
    if subprocess.run(cmd, stdout=log, stderr=log).returncode != 0:
        raise BenchError(f"compilation failed, see {log.name}")


def build(jars):
    """Compiles engine and harness once per source fingerprint."""
    engine = sources(os.path.join(ROOT, "src", "main", "scala"))
    if not engine:
        raise BenchError("no engine sources under src/main/scala")
    harness = sources(os.path.join(HERE, "src"))
    key = fingerprint(engine + harness)
    out = os.path.join(HERE, ".build", key)
    if not os.path.isdir(out):
        tmp = out + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        with open(os.path.join(tmp, "build.log"), "w") as log:
            scalac(jars, os.path.join(tmp, "engine"), jars, engine, log)
            scalac(jars, os.path.join(tmp, "harness"),
                   jars + os.pathsep + os.path.join(tmp, "engine"), harness, log)
        os.rename(tmp, out)
    return os.pathsep.join([os.path.join(out, "engine"), os.path.join(out, "harness"), jars])


def data(sf):
    gen = os.path.join(HERE, "gendata.py")
    out = os.path.join(HERE, ".data", f"sf{sf}-{fingerprint([gen])}")
    if not os.path.isdir(out):
        tmp = out + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        subprocess.run([sys.executable, gen, tmp, str(sf)], check=True)
        os.rename(tmp, out)
    return out


def start_jvm(cp, run_dir, args, name):
    """Starts the harness in a fresh JVM whose scratch lives under run_dir."""
    dirs = {k: os.path.join(run_dir, name, k)
            for k in ("tmp", "warehouse", "checkpoint", "local")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    out = os.path.join(run_dir, f"{name}.json")
    cmd = ["java", *JVM_OPTS,
           f"-Djava.io.tmpdir={dirs['tmp']}",
           f"-Dderby.system.home={dirs['tmp']}",
           f"-Dspark.sql.warehouse.dir={dirs['warehouse']}",
           f"-Dspark.sql.streaming.checkpointLocation={dirs['checkpoint']}",
           f"-Dspark.local.dir={dirs['local']}",
           "-cp", cp, "perfbench.Harness", f"out={out}", f"t0={time.time_ns()}", *args]
    log = os.path.join(run_dir, f"{name}.log")
    with open(log, "w") as f:
        proc = subprocess.Popen(cmd, stdout=f, stderr=subprocess.STDOUT, cwd=run_dir)
    return name, proc, out, log


def finish_jvm(handle, started):
    """Waits for a JVM from start_jvm, killing it at the run deadline."""
    name, proc, out, log = handle
    try:
        code = proc.wait(timeout=max(DEADLINE_S - (time.monotonic() - started), 1))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise BenchError(f"{name} JVM did not finish within the run deadline")
    if code != 0 or not os.path.exists(out):
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        raise BenchError(f"{name} JVM exited with {code}")
    return json.load(open(out))


def check(ops, expected):
    """Marks each operation failed if it threw or its digest differs."""
    failed = []
    for op in ops:
        want = expected.get(op["gate"])
        if op["error"]:
            failed.append(f"{op['gate']}: {op['error']}")
        elif op["digest"] != want:
            failed.append(f"{op['gate']}: digest {op['digest']} != expected {want}")
    return failed


def main():
    # a run stopped from outside still ends the JVMs it started (see the
    # finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(CONFIG["workloads"]))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    w = CONFIG["workloads"][a.workload]
    cp = build(spark_jars())
    data_dir = data(w["sf"])
    started = time.monotonic()
    run_dir = os.path.join(HERE, ".runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    out_dir = os.path.join(HERE, "out")
    os.makedirs(out_dir, exist_ok=True)
    tag = f"{a.workload}-seed{a.seed}"
    common = [f"cores={w['cores']}", f"data={data_dir}"]
    go = os.path.join(run_dir, "go")
    handles = []
    try:
        # all set-up samples start side by side, to keep the run short; the
        # timed JVM waits for the file `go` before its first pass, so that
        # no other JVM runs beside the passes
        handles.append(start_jvm(cp, run_dir, [
            "mode=run", *common, f"go={go}", f"gates={','.join(w['gates'])}",
            f"clients={w['clients']}", f"exclusive={','.join('+'.join(g) for g in w['exclusive'])}",
            f"seed={a.seed}", f"seconds={a.seconds}", f"trace={a.trace}",
            f"spans={os.path.join(out_dir, f'spans-{tag}.jsonl')}"], "run"))
        handles += [start_jvm(cp, run_dir, ["mode=setup", *common], f"setup{i}")
                    for i in range(1, SETUP_SAMPLES)]
        setups = [finish_jvm(h, started)["setup_s"] for h in handles[1:]]
        open(go, "w").close()
        res = finish_jvm(handles[0], started)
        setups.append(res["setup_s"])
    finally:
        for _, proc, _, _ in handles:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)

    with open(os.path.join(out_dir, f"run-{tag}.json"), "w") as f:
        json.dump(res, f)
    expected = json.load(open(os.path.join(HERE, "expected.json")))
    ops = res["ops"]
    failed = check(ops, expected)
    for f in failed:
        print(f"FAILED {f}", file=sys.stderr)
    warm = [o["latency_s"] for o in ops if o["pass"] == "warm" and not o["error"]]
    if len(warm) < 2:
        raise BenchError("fewer than two warm operations completed")
    # throughput while the clients are busy (Little's law for a closed loop),
    # from each gate's median warm latency, so that neither a slow spell of
    # the host nor the tail where the last operations finish on fewer
    # clients weighs in
    per_gate = {}
    for o in ops:
        if o["pass"] == "warm":
            per_gate.setdefault(o["gate"], []).append(o["latency_s"])
    busy = [statistics.median(v) for v in per_gate.values()]
    values = {
        "setup_s": statistics.median(setups),
        "cold_pass_s": res["cold_pass_s"],
        "qps": w["clients"] * len(busy) / sum(busy),
        "latency_p50_s": statistics.median(warm),
        "latency_p80_s": statistics.quantiles(warm, n=5)[3],
        "ok_frac": 1 - len(failed) / len(ops),
        "retained_heap_mb": res["retained_heap_mb"],
    }
    print(f"warm operations: {len(warm)}", file=sys.stderr)
    units = {k: v["unit"] for k, v in {**CONFIG["end_to_end"], **CONFIG["per_layer"]}.items()}
    if a.trace:
        layers = res["layers"]
        layers["trace.qps"] = values["qps"]
        layers["trace.latency_p50_s"] = values["latency_p50_s"]
        with open(os.path.join(out_dir, f"layers-{tag}.json"), "w") as f:
            json.dump({"workload": a.workload, "seed": a.seed, "layers": layers}, f, indent=1)
        metrics = {k: {"value": v, "unit": units[k]} for k, v in layers.items()}
    else:
        metrics = {k: {"value": v, "unit": units[k]} for k, v in values.items()}
    print(json.dumps({"correct": not failed, "attempted": len(ops), "failed": len(failed),
                      "metrics": metrics}))


if __name__ == "__main__":
    try:
        main()
    except (BenchError, OSError, subprocess.CalledProcessError) as e:
        print(f"perfbench: {e}", file=sys.stderr)
        sys.exit(1)
