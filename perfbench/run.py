#!/usr/bin/env python3
"""Layered benchmark of the engine: one workload, one seed, one JVM.

    python3 perfbench/run.py --workload suite-sf0.1 --seed 1 --seconds 6 --trace 0

Run from the repository root. The first run builds the harness (the
engine's sources plus perfbench/src) with sbt; generated inputs are
kept per seed. The last line of standard output is one JSON object
with `correct`, `attempted`, `failed` and `metrics`: the end-to-end
metrics of BENCHMARK.json with --trace 0, its per-layer metrics with
--trace 1. Lines before it give every metric with its unit and sample
count, each failed operation with its error and, on traced runs, the
tracing overhead and the span file. See perfbench/README.md.
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
ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
WORKLOADS = ("suite-sf0.1", "aoi-etl")
KEEP_SEEDS = 4
JVM_TIMEOUT_S = 170
JVM_OPTS = [
    *[x for p in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
                  "java.net", "java.nio", "java.util", "java.util.concurrent",
                  "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
                  "sun.security.action", "sun.util.calendar")
      for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")],
    "-Xmx3g", "-XX:ReservedCodeCacheSize=1g",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run_bounded(cmd, cwd, log, timeout):
    """Run `cmd` in its own process group with output to `log`; kill the
    whole group on timeout. Returns the exit code."""
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None


def tail(path, n=30):
    with open(path, errors="replace") as f:
        return "".join(f.readlines()[-n:])


def sources_stamp():
    """Hash of everything the build compiles."""
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for base in (ENGINE_SRC, os.path.join(HERE, "src", "main")):
        for d, _, fs in os.walk(base):
            files += [os.path.join(d, f) for f in fs]
    h = hashlib.sha256()
    for p in sorted(files):
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def classpath():
    """Build if the sources changed; return the runtime classpath."""
    cp_file, stamp_file = os.path.join(WORK, "classpath.txt"), os.path.join(WORK, "stamp.txt")
    stamp = sources_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    log = os.path.join(WORK, "build.log")
    rc = run_bounded(["sbt", "-batch", "-Dsbt.server.autostart=false", "-Dsbt.log.noformat=true",
                      "export Runtime/fullClasspath"], HERE, log, 840)
    lines = [l.strip() for l in open(log, errors="replace") if l.strip()]
    if rc != 0 or not lines or "perfbench" not in lines[-1]:
        fail(f"build failed (exit {rc}):\n{tail(log)}")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1]


def sf_dir():
    """The sf0.1 tables: $PERFBENCH_SF_DIR, else the 0.1 row of TESTDATA.md."""
    path = os.environ.get("PERFBENCH_SF_DIR")
    if path is None and os.path.exists(os.path.join(ROOT, "TESTDATA.md")):
        with open(os.path.join(ROOT, "TESTDATA.md")) as f:
            for line in f:
                cells = [c.strip().strip("`") for c in line.strip().strip("|").split("|")]
                if len(cells) > 1 and cells[0] == "0.1":
                    path = cells[1].rstrip("/")
    if path is None or not os.path.isdir(path):
        fail(f"sf0.1 tables not found (at {path}); set PERFBENCH_SF_DIR")
    return path


def inputs(workload, seed):
    """The input directory of `workload` for `seed`, generated on first use."""
    if workload == "suite-sf0.1":
        return sf_dir()
    sys.path.insert(0, HERE)
    import gen
    base = os.path.join(WORK, "data", workload)
    out = os.path.join(base, f"s{seed}")
    if not os.path.isdir(out):
        os.makedirs(base, exist_ok=True)
        old = sorted((os.path.getmtime(os.path.join(base, d)), d) for d in os.listdir(base))
        for _, d in old[:max(0, len(old) - KEEP_SEEDS + 1)]:
            shutil.rmtree(os.path.join(base, d), ignore_errors=True)
        gen.generate(seed, out)
    return out


def fmt(name, m):
    extra = ""
    if "beyond" in m:
        extra = f", {m['beyond']} beyond" + ("" if m["resolved"] else ", fewer than 10: unresolved")
    return f"{name} = {m['value']:.6g} {m['unit']} (n={m['samples']}{extra})"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=6)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-expected", action="store_true",
                    help="write this run's first-pass checksums to perfbench/expected/")
    a = ap.parse_args()
    t0 = time.time()

    if not os.path.isfile(os.path.join(ENGINE_SRC, "graft", "SparkEntry.scala")):
        fail("engine sources (src/main/scala) not found: run from the repository root")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    os.makedirs(WORK, exist_ok=True)
    cp = classpath()
    data = inputs(a.workload, a.seed)

    run = os.path.join(WORK, "run")
    shutil.rmtree(run, ignore_errors=True)
    os.makedirs(os.path.join(run, "tmp"))
    result = os.path.join(run, "result.json")
    spans = os.path.join(WORK, f"spans-{a.workload}-s{a.seed}.jsonl")
    expected = os.path.join(HERE, "expected", f"{a.workload}.json")
    log = os.path.join(WORK, "jvm.log")
    cmd = ["java", *JVM_OPTS, f"-Djava.io.tmpdir={run}/tmp", "-cp", cp, "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--data", data, "--work", run, "--result", result,
           "--expected", expected, "--spans", spans]
    rc = run_bounded(cmd, run, log, JVM_TIMEOUT_S)
    shutil.rmtree(os.path.join(run, "tmp"), ignore_errors=True)
    shutil.rmtree(os.path.join(run, "spark-local"), ignore_errors=True)
    if rc != 0 or not os.path.exists(result):
        fail(f"benchmark JVM {'timed out' if rc is None else f'exited {rc}'}:\n{tail(log)}")
    with open(result) as f:
        r = json.load(f)

    for name, m in r["e2e"].items():
        print(fmt(name, m))
    print(f"run wall = {time.time() - t0:.1f} s (build, inputs and JVM included)")
    for x in r["failures"]:
        print(f"FAILED {x['op']} (pass {x['pass']}): {x['error']}")
    results = os.path.join(WORK, "results")
    os.makedirs(results, exist_ok=True)
    untraced = os.path.join(results, f"{a.workload}-s{a.seed}.json")
    if a.trace:
        if os.path.exists(untraced):
            with open(untraced) as f:
                base = json.load(f)["e2e"]
            for name, m in r["e2e"].items():
                d = m["value"] - base[name]["value"]
                print(f"tracing overhead {name} = {d:+.6g} {m['unit']}")
        else:
            print("tracing overhead: no untraced run of this workload and seed to compare")
        print(f"spans: {r['spans_file']}")
        wanted, have = spec["per_layer"], r["layers"]
    else:
        with open(untraced, "w") as f:
            json.dump(r, f)
        wanted, have = spec["end_to_end"], r["e2e"]
    if a.record_expected:
        seed = None if a.workload == "suite-sf0.1" else a.seed
        with open(expected, "w") as f:
            json.dump({"workload": a.workload, "seed": seed, "checksums": r["checksums"]},
                      f, indent=1, sort_keys=True)
            f.write("\n")

    metrics = {}
    for m in wanted:
        v = have.get(m["name"])
        if v is None:
            fail(f"metric {m['name']} missing from the run's result")
        metrics[m["name"]] = {"value": v["value"] if isinstance(v, dict) else v, "unit": m["unit"]}
    print(json.dumps({"correct": r["failed"] == 0, "attempted": r["attempted"],
                      "failed": r["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
