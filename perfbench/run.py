#!/usr/bin/env python3
"""The repository benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload service_mix --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. It builds the engine and the harness
from source with sbt (once per source state, into $CARGO_TARGET_DIR or
.bench_build), generates the input tables (once; the seed changes only the
operation sequence), runs the workload in a fresh JVM and a fresh work
directory, checks the outputs, writes a result file with its provenance
under <build dir>/results/, prints a table of every figure to stderr and,
as the last line of stdout, one JSON object: the end-to-end metrics with
--trace 0, the per-layer metrics with --trace 1. It exits 1 when any check
fails and 2 when it cannot run.
"""
import argparse
import datetime
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
sys.dont_write_bytecode = True  # leave the checkout as it was

import checks  # noqa: E402
import datagen  # noqa: E402

WORKLOADS = ("service_mix", "curation_batch", "vector_lifecycle")
HEAP = "3g"
BUILD_TIMEOUT_S = 880
RUN_LIMIT_S = 160
# Spark on JDK 17 needs these when the session starts outside spark-submit
ADD_OPENS = [arg for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for arg in ("--add-opens", f"{p}=ALL-UNNAMED")]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp(root):
    """Digest of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    picked = []
    for top in ("build.sbt", "project", "src/main", "perfbench/build.sbt",
                "perfbench/project", "perfbench/src/main"):
        path = os.path.join(root, top)
        if os.path.isfile(path):
            picked.append(path)
        for d, subdirs, files in os.walk(path):
            subdirs[:] = sorted(s for s in subdirs if s not in ("target", "project"))
            picked += [os.path.join(d, f) for f in sorted(files)
                       if f.endswith((".scala", ".java", ".sbt", ".properties"))]
    for p in picked:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build(root, build_dir):
    """Classpath of the compiled engine and harness, building if stale."""
    stamp = source_stamp(root)
    record = os.path.join(build_dir, "classpath.json")
    if os.path.exists(record):
        with open(record) as f:
            prior = json.load(f)
        if prior["stamp"] == stamp and all(os.path.exists(p) for p in prior["classpath"]):
            return prior["classpath"]
    sbt = shutil.which("sbt") or die("sbt is not on the PATH")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log = os.path.join(build_dir, "build.log")
    with open(log, "w") as lf:
        try:
            p = subprocess.run([sbt, "-batch", "-Dsbt.log.noformat=true",
                                "export perfbench/Runtime/fullClasspath"],
                               cwd=os.path.join(root, "perfbench"), env=env,
                               stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
                               stderr=lf, text=True, timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            die(f"build timed out; see {log}")
        lf.write(p.stdout)
    lines = [ln for ln in p.stdout.splitlines() if ".jar" in ln and not ln.startswith("[")]
    if p.returncode != 0 or not lines:
        die(f"build failed; see {log}")
    classpath = lines[-1].strip().split(os.pathsep)
    with open(record, "w") as f:
        json.dump({"stamp": stamp, "classpath": classpath}, f)
    return classpath


def input_tables(build_dir):
    """The generated tables, made once per generator version: they do not
    depend on the seed, and runs only read them."""
    with open(datagen.__file__, "rb") as f:
        data_dir = os.path.join(build_dir, "data-" + hashlib.sha256(f.read()).hexdigest()[:16])
    if not os.path.isdir(data_dir):
        tmp = f"{data_dir}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        datagen.generate(tmp)
        try:
            os.rename(tmp, data_dir)
        except OSError:  # another run made it first
            shutil.rmtree(tmp, ignore_errors=True)
    return data_dir


def git_state(root):
    if not os.path.isdir(os.path.join(root, ".git")):
        return {"head": "unknown", "dirty": None}
    try:
        head = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                              text=True, timeout=30).stdout.strip()
        status = subprocess.run(["git", "status", "--porcelain"], cwd=root, capture_output=True,
                                text=True, timeout=30).stdout
        return {"head": head or "unknown", "dirty": bool(status.strip())}
    except (OSError, subprocess.TimeoutExpired):
        return {"head": "unknown", "dirty": None}


def run_jvm(classpath, args, run_dir, data_dir, out, deadline):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}", *ADD_OPENS,
           "-cp", os.pathsep.join(classpath), "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--data", data_dir, "--work", run_dir, "--out", out]
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=lf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = None
    if rc != 0 or not os.path.exists(out):
        with open(log, errors="replace") as f:
            tail = f.readlines()[-40:]
        sys.stderr.write("".join(tail))
        die("the workload timed out" if rc is None else f"the workload exited {rc}", 1)
    with open(out) as f:
        return json.load(f)


def table(result):
    rows = [("end_to_end", result["end_to_end"]), ("details", result["details"]),
            ("per_layer", result.get("per_layer") or {})]
    lines = []
    for section, metrics in rows:
        for name in sorted(metrics):
            m = metrics[name]
            lines.append(f"{section:10} {name:44} {m['value']!s:>22} {m['unit']}")
    return "\n".join(lines)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    ap.add_argument("--result", help="also write the result file here")
    args = ap.parse_args()
    started = time.monotonic()

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))
            and os.path.isfile(os.path.join(root, "perfbench", "build.sbt"))):
        die("run from the root of a checkout of the engine (build.sbt, src/, perfbench/)")
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    os.makedirs(build_dir, exist_ok=True)
    classpath = build(root, build_dir)
    phases = {"build_s": time.monotonic() - started}

    load_start = os.getloadavg()
    run_dir = os.path.join(build_dir, "runs", f"{args.workload}-seed{args.seed}-trace{args.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    t = time.monotonic()
    data_dir = input_tables(build_dir)
    phases["datagen_s"] = time.monotonic() - t
    out = os.path.join(run_dir, "jvm.json")
    t = time.monotonic()
    # the first run in a checkout also builds; the limit covers the rest
    res = run_jvm(classpath, args, run_dir, data_dir, out,
                  started + phases["build_s"] + RUN_LIMIT_S)
    phases["jvm_s"] = time.monotonic() - t
    t = time.monotonic()

    n_exports, export_failures = checks.check_exports(res.pop("exports", []))
    n_oracle, oracle_failures = checks.check_oracle(data_dir, res.pop("oracle", []),
                                                    f"{data_dir}-oracle")
    attempted = res["attempted"] + n_exports + n_oracle
    failed = res["failed"] + len(export_failures) + len(oracle_failures)
    res["failures"] += export_failures + oracle_failures
    res["details"]["fail_ratio"] = {"value": failed / attempted, "unit": "ratio"}
    phases["checks_s"] = time.monotonic() - t
    res.update(attempted=attempted, failed=failed, provenance={
        "nproc": os.cpu_count(),
        "spark_master": res["jvm"]["master"],
        "shuffle_partitions": res["jvm"]["shuffle_partitions"],
        "git": git_state(root),
        "seed": args.seed,
        "java_version": res["jvm"]["java_version"],
        "xmx": HEAP,
        "loadavg_start": load_start,
        "loadavg_end": os.getloadavg(),
        "phases_s": phases,
        "wall_s": time.monotonic() - started,
    })
    stamp = datetime.datetime.now(datetime.timezone.utc).strftime("%Y%m%dT%H%M%S")
    results = os.path.join(build_dir, "results")
    os.makedirs(results, exist_ok=True)
    for path in filter(None, (os.path.join(
            results, f"{args.workload}-seed{args.seed}-trace{args.trace}-{stamp}.json"), args.result)):
        with open(path, "w") as f:
            json.dump(res, f, indent=1, sort_keys=True)
    shutil.rmtree(run_dir, ignore_errors=True)

    print(table(res), file=sys.stderr)
    for msg in res["failures"]:
        print(f"FAILED {msg}", file=sys.stderr)
    metrics = res["per_layer"] if args.trace else res["end_to_end"]
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
