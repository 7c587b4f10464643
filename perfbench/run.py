#!/usr/bin/env python3
"""Benchmark of the featureboxspark engine: one workload per run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --all [--seed <n>] [--seconds <s>]

Run from the root of a checkout. The first run builds the engine and the
benchmark from source with sbt (perfbench/build.sbt) and caches the
classpath under perfbench/target; later runs start the JVM directly with
the classpath sbt exported. Each
run keeps its scratch data in its own directory under .perfbench/ and
removes it on exit. Spans of traced runs are written to .perfbench/out/.
The last line of standard output is the JSON result.
"""
import argparse
import hashlib
import os
import pathlib
import shutil
import signal
import subprocess
import sys
import time

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
TARGET = HERE / "target"
WORKLOADS = ["pit_flagship", "pit_factory", "curate_ingest", "feature_search"]
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
HEAP = "3g"

# Spark on JDK 17 needs these outside spark-submit; build.sbt reads the same file.
ADD_OPENS = (HERE / "add-opens.args").read_text().split()


def fail(msg, code):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def build_inputs():
    """Every file the build reads, in a fixed order."""
    files = [ROOT / "build.sbt", HERE / "build.sbt", pathlib.Path(__file__).resolve()]
    for base in (ROOT / "project", HERE / "project"):
        files += sorted(p for p in base.glob("*") if p.is_file())
    for base in (ROOT / "src" / "main", HERE / "src" / "main"):
        files += sorted(p for p in base.rglob("*") if p.is_file())
    return files


def build():
    """Compile with sbt when any source changed; return the classpath."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        fail(f"no engine sources next to {HERE.name}/ (expected build.sbt and src/main/scala)", 2)
    digest = hashlib.sha256()
    for f in build_inputs():
        digest.update(str(f.relative_to(ROOT)).encode() + b"\0" + f.read_bytes() + b"\0")
    stamp, cpfile = TARGET / "perfbench.stamp", TARGET / "perfbench.classpath"
    if stamp.is_file() and cpfile.is_file() and stamp.read_text() == digest.hexdigest():
        return cpfile.read_text()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = pathlib.Path.home() / ".sbt" / "repositories"
    if repos.is_file():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    print("[perfbench] building engine and benchmark with sbt", file=sys.stderr)
    try:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
            stderr=subprocess.STDOUT, text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out", 3)
    lines = [l for l in r.stdout.splitlines() if l.strip()]
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stdout)
        fail("build failed", 3)
    cp = lines[-1].strip()
    if "perfbench" not in cp:
        sys.stderr.write(r.stdout)
        fail("build printed no classpath", 3)
    cpfile.write_text(cp)
    stamp.write_text(digest.hexdigest())
    return cp


def scratch_dir():
    """A new per-run directory for inputs, outputs and Spark's scratch."""
    run_dir = ROOT / ".perfbench" / f"run-{os.getpid()}-{time.time_ns()}"
    for sub in ("tmp", "local", "ckpt", "warehouse"):
        (run_dir / sub).mkdir(parents=True, exist_ok=True)
    return run_dir


def spark_env(run_dir):
    return dict(os.environ,
                SPARK_GRAFT_LOCAL_DIR=str(run_dir / "local"),
                SPARK_GRAFT_CHECKPOINT_DIR=str(run_dir / "ckpt"),
                SPARK_LOCAL_IP="127.0.0.1")


def java(cp, run_dir):
    """The JVM command line up to the main class."""
    return ["java", *ADD_OPENS, "-Xlog:disable", "-Xlog:all=error:stderr",
            f"-Xmx{HEAP}", "-XX:+UseG1GC",
            f"-Djava.io.tmpdir={run_dir / 'tmp'}",
            f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.sql.warehouse.dir={run_dir / 'warehouse'}",
            "-cp", cp]


def run_one(args, cp):
    """Run one workload in a fresh JVM; forward its output."""
    deadline = time.monotonic() + RUN_TIMEOUT_S
    run_dir = scratch_dir()
    # a terminated runner still stops its JVM and removes its scratch (finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    cmd = java(cp, run_dir) + [
        "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--cores", str(len(os.sched_getaffinity(0))), "--dir", str(run_dir),
        "--out", str(ROOT / ".perfbench" / "out")]
    proc = subprocess.Popen(cmd, cwd=ROOT, env=spark_env(run_dir), stdin=subprocess.DEVNULL,
                            stdout=subprocess.PIPE, text=True, start_new_session=True)
    last = ""
    try:
        out, _ = proc.communicate(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s", 4)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
    for line in out.splitlines():
        if line.startswith("{"):
            last = line
        else:
            print(line)
    if proc.returncode != 0 or not last:
        fail(f"benchmark process exited with code {proc.returncode}", 5)
    print(last, flush=True)


def run_all(args):
    """Every workload, untraced then traced, through this same script."""
    code = 0
    for w in WORKLOADS:
        for trace in (0, 1):
            r = subprocess.run([sys.executable, __file__, "--workload", w,
                                "--seed", str(args.seed), "--seconds", str(args.seconds),
                                "--trace", str(trace)], cwd=ROOT)
            code = code or r.returncode
    return code


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=10)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--all", action="store_true", help="run every workload, untraced and traced")
    args = p.parse_args()
    if args.all:
        sys.exit(run_all(args))
    if not args.workload:
        p.error("--workload is required")
    run_one(args, build())


if __name__ == "__main__":
    main()
