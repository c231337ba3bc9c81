#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one closed-loop run.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload <llm_cold|llm_rerun|catalog> \
        --seed <n> --seconds <s> --trace <0|1>

Builds the harness together with the program's sources (perfbench/build.sbt)
when they changed since the last build, runs the workload in one JVM with
`local[<cores>]`, checks its outputs, writes a JSON artifact under
perfbench/out/results/, and prints as the last stdout line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the BENCHMARK.json `end_to_end` metrics (--trace 0) or `per_layer`
metrics (--trace 1). Exits non-zero without a result line when it cannot
build or run the program.
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
ROOT = os.path.dirname(HERE)
PROGRAM_SOURCES = os.path.join(ROOT, "src", "main", "scala")
OUT = os.path.join(HERE, "out")
BUILD_TIMEOUT_S = 840
RUN_LIMIT_S = 170  # every run but a building one ends within 180 s

# What `spark-submit` passes a JDK 17 driver (JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        die("no Spark installation: set SPARK_HOME")
    return home


def source_files():
    files = []
    for top in (PROGRAM_SOURCES, os.path.join(HERE, "src", "main")):
        for dirpath, _, names in os.walk(top):
            files += [os.path.join(dirpath, n) for n in names]
    files += [os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project", "build.properties")]
    return sorted(files)


def source_digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(digest):
    """Compile harness + program unless this exact source tree is built."""
    stamp = os.path.join(HERE, "target", "perfbench.stamp")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return
    os.makedirs(OUT, exist_ok=True)
    if os.path.exists(stamp):
        os.remove(stamp)
    log = os.path.join(OUT, "build.log")
    # sbt's temp files, server socket and locks go under perfbench/out, so
    # the build writes nothing outside the checkout; it only reads the
    # dependency caches.
    tmp = os.path.join(OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, TMPDIR=tmp, JAVA_TOOL_OPTIONS=" ".join(
        ["-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", f"-Djna.tmpdir={tmp}"]))
    with open(log, "w") as fh:
        rc = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.boot.lock=false",
                        "-Dsbt.server.autostart=false",
                        f"-Dsbt.ivy.home={os.path.join(OUT, 'ivy2')}",
                        "clean", "compile"],
                       fh, BUILD_TIMEOUT_S, cwd=HERE, env=env)
    if rc != 0:
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        die(f"build failed (rc={rc}); log in {log}")
    with open(stamp, "w") as fh:
        fh.write(digest)


def run_child(cmd, out, timeout_s, cwd=None, env=None):
    """Run cmd in its own process group; kill the whole group on timeout
    or interruption, and wait for it to end."""
    p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, cwd=cwd,
                         env=env, start_new_session=True)
    try:
        return p.wait(timeout=timeout_s)
    except subprocess.TimeoutExpired:
        print(f"perfbench: {cmd[0]} timed out after {timeout_s:.0f} s",
              file=sys.stderr)
        return -1
    finally:
        if p.poll() is None:
            try:
                os.killpg(p.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            p.wait()


def commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
        if out.returncode == 0:
            return {"value": out.stdout.strip()}
    except (OSError, subprocess.SubprocessError):
        pass
    return {"value": None, "reason": "the checkout is not a git repository"}


def check_catalog(check_dir, data_dir, entries, log):
    """Run tools/check_correctness.py over the entries written to
    check_dir. It compares each with its DuckDB oracle; an entry without
    an oracle must be non-empty. Returns the failures by entry name."""
    cmd = [sys.executable, os.path.join(ROOT, "tools", "check_correctness.py"),
           data_dir, check_dir]
    env = dict(os.environ, PYTHONDONTWRITEBYTECODE="1")
    p = subprocess.run(cmd, capture_output=True, text=True, timeout=30, env=env)
    with open(log, "a") as fh:
        fh.write(p.stdout + p.stderr)
    lines = [l.strip() for l in p.stdout.splitlines()]
    checked = sum(l.startswith(("[PASS]", "[rows-only]", "[FAIL]")) for l in lines)
    failures = {}
    for l in lines:
        if l.startswith("[FAIL]") or (l.startswith("[rows-only]") and l.endswith("EMPTY!")):
            name, _, why = l.split(" ", 1)[1].partition(": ")
            failures[name] = why
    if p.returncode not in (0, 1) or (p.returncode == 1) != any(
            l.startswith("[FAIL]") for l in lines):
        failures["check_correctness.py"] = f"exit code {p.returncode}: {p.stderr[-300:]}"
    elif checked != len(entries):
        failures["check_correctness.py"] = f"checked {checked} of {len(entries)} entries"
    return failures


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    started = time.time()

    if not os.path.isdir(PROGRAM_SOURCES):
        die(f"program sources not found at {os.path.relpath(PROGRAM_SOURCES)}; "
            "run from the root of a full checkout")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    with open(os.path.join(HERE, "workloads.json")) as fh:
        spec = json.load(fh)
    if args.workload not in spec["workloads"]:
        die(f"unknown workload {args.workload}; one of {sorted(spec['workloads'])}")
    home = spark_home()

    digest = source_digest()
    build(digest)
    run_started = time.time()

    tag = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(OUT, "work", tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    result_path = os.path.join(work, "result.json")
    cp = os.pathsep.join([os.path.join(HERE, "target", "scala-2.13", "classes"),
                          os.path.join(home, "jars", "*")])
    cmd = (["java", "-Xmx3g", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dspark.ui.enabled=false"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graft.perfbench.Main",
              "--spec", os.path.join(HERE, "workloads.json"),
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", work, "--out", result_path])
    log = os.path.join(OUT, "logs", tag + ".log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    budget = RUN_LIMIT_S - (time.time() - run_started)
    with open(log, "w") as fh:
        rc = run_child(cmd, fh, budget, cwd=ROOT)
    if rc != 0 or not os.path.exists(result_path):
        with open(log) as fh:
            sys.stderr.write("".join(l for l in fh.readlines()[-60:]
                                     if " INFO " not in l))
        shutil.rmtree(work, ignore_errors=True)
        die(f"harness failed (rc={rc}); log in {log}")
    with open(result_path) as fh:
        res = json.load(fh)

    spans = res.pop("spans", None)
    attempted, failed = res["attempted"], res["failed"]
    checks = res["checks"]
    wspec = spec["workloads"][args.workload]
    if wspec["kind"] == "catalog":
        data = os.path.join(ROOT, wspec["data"])
        checked = len(wspec["entries"])
        oracle_failures = check_catalog(checks["check_dir"], data, wspec["entries"], log)
        attempted += checked
        failed += len(oracle_failures)
        checks["oracle_checked"] = checked
        checks["oracle_failures"] = oracle_failures
    metrics = res["metrics"]
    metrics["failed_ops_ratio"] = {"value": failed / attempted, "unit": "ratio",
                                   "samples": attempted}
    wanted = bench["per_layer" if args.trace else "end_to_end"]
    missing = [m["name"] for m in wanted
               if metrics.get(m["name"], {}).get("value") is None]
    if missing:
        shutil.rmtree(work, ignore_errors=True)
        die(f"metrics not measured: {missing}")

    artifact = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "commit": commit(), "source_digest": digest,
        "cores": res["cores"], "attempted": attempted, "failed": failed,
        "correct": failed == 0, "checks": checks,
        "workload_spec": wspec,
        "latency_model": spec["latency_model"], "pipeline": spec["pipeline"],
        "metrics": metrics, "run_s": time.time() - started,
    }
    results = os.path.join(OUT, "results")
    os.makedirs(results, exist_ok=True)
    if spans is not None:
        artifact["spans_file"] = tag + ".spans.json"
        with open(os.path.join(results, artifact["spans_file"]), "w") as fh:
            json.dump(spans, fh)
    with open(os.path.join(results, tag + ".json"), "w") as fh:
        json.dump(artifact, fh, indent=1)
    shutil.rmtree(work, ignore_errors=True)

    line = {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {m["name"]: {"value": metrics[m["name"]]["value"],
                                    "unit": m["unit"]} for m in wanted}}
    print(json.dumps(line))


if __name__ == "__main__":
    main()
