#!/usr/bin/env python3
"""Runs one benchmark workload against the engine in this checkout.

    python3 etlbench/run.py --workload cdc_epochs --seed 1 --seconds 20 --trace 0

Builds the engine and the harness from source when they changed (one sbt
build, offline), then starts one JVM with a single closed-loop client.
The last line of standard output is the JSON result. Workloads, metrics
and sizes are described in etlbench/README.md.
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
WORKLOADS = ("flight_refresh", "cdc_epochs", "dv_churn")
CLASSES = HERE / "target" / "scala-2.13" / "classes"
STAMP = HERE / "target" / "etlbench.stamp"
SCRATCH = ROOT / ".bench_build" / "etlbench"
HEAP = "2g"
SBT_BUILD = ["sbt", "--batch", "-Dsbt.log.noformat=true", "clean", "Compile / products"]

RUN_LIMIT_S = 175     # a run must end within 180 s
BUILD_RUN_LIMIT_S = 880  # ... or 900 s when it builds first

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"etlbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_home():
    """$SPARK_HOME, else the installation whose spark-submit is on PATH."""
    if os.environ.get("SPARK_HOME"):
        return Path(os.environ["SPARK_HOME"])
    submit = shutil.which("spark-submit")
    return Path(submit).resolve().parent.parent if submit else None


def check_prerequisites():
    """Returns the Spark installation after checking every input of a run."""
    if not (ROOT / "src" / "main" / "scala").is_dir():
        fail(f"engine sources not found at {ROOT / 'src/main/scala'}; "
             "run from a checkout of the repository")
    home = spark_home()
    if home is None or not list((home / "jars").glob("spark-sql_*.jar")):
        fail(f"Spark jars not found (SPARK_HOME={home}); set SPARK_HOME")
    for tool in ("java", "sbt"):
        if shutil.which(tool) is None:
            fail(f"'{tool}' is not on PATH")
    return home


def source_stamp():
    """Hash of every input of the build, so classes are reused only when
    they were compiled from exactly these sources."""
    h = hashlib.sha256(" ".join(SBT_BUILD).encode())
    inputs = [HERE / "build.sbt", HERE / "project" / "build.properties"]
    for base in (ROOT / "src" / "main", HERE / "src" / "main"):
        inputs += sorted(p for p in base.rglob("*") if p.is_file())
    for p in inputs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build(home):
    stamp = source_stamp()
    if CLASSES.is_dir() and STAMP.is_file() and STAMP.read_text() == stamp:
        return False
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=str(home))
    env["SBT_OPTS"] = " ".join([
        "-Dsbt.offline=true", "-Dsbt.override.build.repos=true",
        f"-Dsbt.repository.config={Path.home() / '.sbt' / 'repositories'}",
        "-Xmx2g", "-XX:-UsePerfData"])
    print("etlbench: building engine and harness (sbt clean, then compile and copy resources)", file=sys.stderr)
    try:
        r = subprocess.run(SBT_BUILD, cwd=HERE, env=env, stdin=subprocess.DEVNULL,
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           text=True, timeout=BUILD_RUN_LIMIT_S - 120)
    except subprocess.TimeoutExpired:
        fail("build timed out", 3)
    if r.returncode != 0 or not CLASSES.is_dir():
        sys.stderr.write(r.stdout[-6000:])
        fail(f"build failed (sbt exit {r.returncode})", 3)
    STAMP.write_text(stamp)
    return True


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()
    # a terminated run still stops its JVM and removes its scratch files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    started = time.monotonic()
    home = check_prerequisites()
    built = build(home)
    limit = (BUILD_RUN_LIMIT_S if built else RUN_LIMIT_S) - (time.monotonic() - started)

    run_dir = SCRATCH / f"run-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    cmd = ["java", "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}",
           f"-Djava.io.tmpdir={run_dir / 'tmp'}",
           f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
           "-Dspark.ui.enabled=false"]
    for m in JDK_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", f"{CLASSES}{os.pathsep}{home / 'jars' / '*'}", "etlbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--run-dir", str(run_dir)]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.DEVNULL,
                            stdout=subprocess.PIPE, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=max(1.0, limit))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"run exceeded its time limit ({limit:.0f} s); killed", 4)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)

    lines = out.splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(out)
        fail(f"benchmark JVM exited with {proc.returncode}", 5)
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (ValueError, AssertionError):
        sys.stderr.write(out)
        fail("benchmark JVM printed no result line", 5)
    for line in lines[:-1]:
        print(line)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
