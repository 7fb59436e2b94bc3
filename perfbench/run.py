#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and the
benchmark from source with sbt (offline) and caches the classpath under
the build directory ($CARGO_TARGET_DIR, default .bench_build) together
with its own copy of the compiled classes, keyed by a hash of every source
and build file; later runs start the JVM directly.
The last stdout line is one JSON object with the keys correct, attempted,
failed and metrics. Everything else, Spark's log included, goes to stderr.
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
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
RUN_LIMIT_S = 170  # a run must end within 180 s; the JVM gets what is left
HEAP = "3g"
# C1 only. Under the default tiered JIT, C2 keeps speeding the passes up for
# more passes than a run can afford: germline passes took 12-17 s, then
# 3.6-5.6 s, and were still falling at the seventh pass, and runs that
# started alike settled anywhere between 2.6 and 4.5 s. Over ten seeds with
# three warm-up passes that spread germline wall_s by 0.29, above any bound
# a metric may have. Under C1 the pass time is flat from the second pass on,
# so these timings are C1 figures, higher than those of a C2-warmed JVM.
JIT = ["-XX:TieredStopAtLevel=1"]
# environment variables the program's build.sbt reads into its JVM options
BUILD_ENV = ("SPARK_DRIVER_MEM", "SPARK_GRAFT_JAVA_OPTS")


def die(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    """Every file whose change should trigger a rebuild."""
    files = [ROOT / "build.sbt", BENCH / "build.sbt"]
    for base in (ROOT / "project", BENCH / "project"):
        files += sorted(p for p in base.glob("*") if p.is_file())
    for base in (ROOT / "src" / "main", BENCH / "src" / "main"):
        files += sorted(p for p in base.rglob("*") if p.is_file())
    return files


def fingerprint(files):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    # the program's build.sbt bakes these into its JVM options
    for var in BUILD_ENV:
        h.update(f"{var}={os.environ.get(var, '')}".encode())
    return h.hexdigest()[:16]


def build(build_dir):
    """Compile with sbt once per source state; return (classpath, jvm options).

    sbt writes classes into the checkout's target directories, which the
    next build overwrites, so each build copies the classpath entries that
    live in the checkout into a directory of its own, named by the hash.
    """
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main").is_dir():
        die(f"no program sources next to {BENCH.name}/ (expected build.sbt and src/main)", 2)
    own = build_dir / f"build-{fingerprint(sources())}"
    launch = own / "launch.txt"
    if not launch.is_file():
        env = dict(os.environ, COURSIER_MODE="offline")
        env["SBT_OPTS"] = os.environ.get(
            "SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g")
        log = build_dir / "build.log"
        t0 = time.time()
        with open(log, "w") as out:
            rc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                 "perfbench/launch"],
                cwd=BENCH, env=env, stdout=out, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL).returncode
        if rc != 0:
            sys.stderr.write(log.read_text()[-4000:])
            die(f"build failed (rc={rc}); log in {log}", 2)
        print(f"perfbench: built in {time.time() - t0:.0f}s", file=sys.stderr)
        cp, *opts = (BENCH / "target" / "launch.txt").read_text().splitlines()
        staging = build_dir / f"{own.name}.tmp"
        shutil.rmtree(staging, ignore_errors=True)
        staging.mkdir()
        entries = []
        for i, entry in enumerate(cp.split(os.pathsep)):
            src = Path(entry)
            if src.is_relative_to(ROOT) and not src.is_relative_to(build_dir):
                if not src.exists():
                    continue
                name = f"{i}-{src.name}"
                if src.is_dir():
                    shutil.copytree(src, staging / name)
                else:
                    shutil.copyfile(src, staging / name)
                entry = str(own / name)
            entries.append(entry)
        (staging / "launch.txt").write_text("\n".join([os.pathsep.join(entries)] + opts) + "\n")
        shutil.rmtree(own, ignore_errors=True)
        staging.rename(own)
    cp, *opts = launch.read_text().splitlines()
    return cp, [o for o in opts if o and not o.startswith("-Xmx")]


def expected_metrics(trace):
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    build_dir = Path(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    build_dir = (build_dir if build_dir.is_absolute() else ROOT / build_dir).resolve()
    build_dir.mkdir(parents=True, exist_ok=True)
    classpath, jvm_opts = build(build_dir)

    run_dir = build_dir / "runs" / f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("work", "tmp", "spark-local"):
        (run_dir / d).mkdir(parents=True)
    traces = build_dir / "traces"
    traces.mkdir(exist_ok=True)
    result = run_dir / "result.json"
    cores = min(4, os.cpu_count() or 1)
    env = dict(os.environ, SPARK_MASTER=f"local[{cores}]", SPARK_GRAFT_CPUS=str(cores),
               SPARK_LOCAL_DIRS=str(run_dir / "spark-local"))
    cmd = (["java"] + jvm_opts + JIT + [f"-Xmx{HEAP}", f"-Djava.io.tmpdir={run_dir / 'tmp'}", "-cp", classpath,
            "perfbench.Bench", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", str(run_dir / "work"), "--result", str(result),
            "--trace-file", str(traces / f"{a.workload}-seed{a.seed}.json")])
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=sys.stderr, stderr=sys.stderr,
                            stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        rc = proc.wait(timeout=RUN_LIMIT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
        die(f"run exceeded {RUN_LIMIT_S}s", 3)
    if rc != 0 or not result.is_file():
        shutil.rmtree(run_dir, ignore_errors=True)
        die(f"benchmark JVM failed (rc={rc})", 4)
    out = json.loads(result.read_text())
    shutil.rmtree(run_dir, ignore_errors=True)
    # the result carries exactly the metrics BENCHMARK.json declares for this mode
    expected = expected_metrics(a.trace)
    missing = [m for m in expected if m not in out["metrics"]]
    unmeasured = [m for m in expected if m in out["metrics"] and out["metrics"][m]["value"] is None]
    if missing or unmeasured:
        die(f"metrics missing {missing}, unmeasured {unmeasured}", 5)
    out["metrics"] = {m: out["metrics"][m] for m in expected}
    print(json.dumps(out))


if __name__ == "__main__":
    main()
