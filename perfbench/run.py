#!/usr/bin/env python3
"""One benchmark run of the deployed riemannspark process.

    python3 perfbench/run.py --workload ingest|flood|query --seed N \
        --seconds S --trace 0|1 --ingest-rate R

Run from the repository root. The first run builds the program and the
harness from source with sbt (output under .bench_build/ and the sbt
target directories); later runs reuse the build while the sources are
unchanged. The harness JVM starts the process with graft.Main.start and
drives a separate load-generator JVM. Human-readable lines come first;
the last stdout line is one JSON object with the keys correct,
attempted, failed and metrics. The exit code is non-zero when the run
did not complete or any check failed. See perfbench/README.md.
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

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build" / "perfbench"
WORKLOADS = ("ingest", "flood", "query")
HEAP = "3g"
TIMEOUT_S = 165    # the harness must end well within a run's 180 s
# Spark 4 on JDK 17 outside spark-submit needs these; the same list and
# -D settings as the root build's forked `run`.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    for base in (ROOT / "src" / "main", HERE / "src" / "main"):
        files += sorted(p for p in base.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build(stamp):
    """Compile program and harness; return the runtime classpath."""
    cp_file, stamp_file = BUILD / "classpath", BUILD / "stamp"
    if cp_file.exists() and stamp_file.exists() and \
            stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    BUILD.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log("building program and harness with sbt")
    t = time.time()
    with open(BUILD / "build.log", "w") as out:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "export perfbench/Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=out,
            text=True, timeout=850, stdin=subprocess.DEVNULL)
        out.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if "scala-2.13/classes" in l]
    if p.returncode != 0 or not lines:
        sys.exit(f"build failed (exit {p.returncode}); see {BUILD / 'build.log'}")
    cp_file.write_text(lines[-1].strip())
    stamp_file.write_text(stamp)
    log(f"built in {time.time() - t:.0f} s")
    return lines[-1].strip()


def revision(stamp):
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                           capture_output=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "source-sha256:" + stamp[:16]


def run_harness(cp, args, work):
    java = shutil.which("java") or "java"
    # a fixed heap: a full GC must not shrink it and change later timings
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={work / 'tmp'}",
            f"-Dspark.local.dir={work / 'spark-local'}",
            f"-Dspark.sql.warehouse.dir={work / 'warehouse'}",
            "-cp", cp, "graft.perfbench.Harness",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", str(work), "--ingest-rate", str(args.ingest_rate)]
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    with open(work / "harness.log", "w") as out:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            return p.wait(timeout=TIMEOUT_S)
        except subprocess.TimeoutExpired:
            log(f"harness still running after {TIMEOUT_S} s; stopping it")
            return -1
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--ingest-rate", type=float, required=True,
                    help="offered events/s of the ingest open loop; "
                         "BENCHMARK.json sets it")
    args = ap.parse_args()

    if not (ROOT / "build.sbt").is_file() or \
            not (ROOT / "src" / "main" / "scala" / "graft" / "Main.scala").is_file():
        sys.exit(f"no riemannspark sources under {ROOT}; run from a checkout")

    load_start = os.getloadavg()
    stamp = source_stamp()
    cp = build(stamp)
    work = BUILD / "runs" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    t = time.time()
    code = run_harness(cp, args, work)
    log(f"harness exit {code} after {time.time() - t:.1f} s")
    result_file = work / "result.json"
    if code != 0 or not result_file.exists():
        keep = BUILD / "failed-run.log"
        shutil.copy(work / "harness.log", keep)
        for line in (work / "harness.log").read_text(errors="replace").splitlines()[-25:]:
            log(line)
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(f"harness failed (exit {code}); log kept in {keep}")
    shutil.copy(work / "harness.log", BUILD / "last-run.log")
    res = json.loads(result_file.read_text())
    if args.trace:
        traces = BUILD / "traces"
        traces.mkdir(exist_ok=True)
        shutil.copy(work / "trace.jsonl", traces / f"{args.workload}-seed{args.seed}.jsonl")
    shutil.rmtree(work, ignore_errors=True)

    stamp_line = {
        "nproc": os.cpu_count(), "loadavg_start": round(load_start[0], 2),
        "loadavg_end": round(os.getloadavg()[0], 2), "heap_max": HEAP,
        "revision": revision(stamp), "workload": args.workload,
        "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
    }
    attempted, failed = res["attempted"], res["failed"]
    print("stamp " + json.dumps(stamp_line))
    for name, m in res["report"].items():
        print(f"{args.workload}.{name} = {m['value']:.6g} {m['unit']}")
    print(f"{args.workload}.fail_frac = {failed / max(1, attempted):.6g} "
          f"({failed} of {attempted})")
    for note in res["notes"]:
        print(f"{args.workload}.failure: {note}")
    for name, m in res["metrics"].items():
        print(f"{name} = {m['value']:.6g} {m['unit']}")
    ok = res["correct"] and failed == 0
    print(json.dumps({"correct": ok, "attempted": attempted,
                      "failed": failed, "metrics": res["metrics"]}), flush=True)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
