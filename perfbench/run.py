"""Runs one workload of the graft benchmark and prints its result.

    python3 perfbench/run.py --workload tile_batch --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The first run builds the program and the
benchmark from source (see build.py). The last line of stdout is the result
object {"correct", "attempted", "failed", "metrics"}; the line before it,
prefixed "report ", is the full report (run environment, layout, plain and
traced phases, per-layer metrics, spans), also written to
<build dir>/results/. Options for the benchmark's own tests: --scale (input
size factor), --inject shift_box (a wrong answer the gate must catch).
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("tile_batch", "query_mix", "ingest_dedup")
RUN_TIMEOUT_S = 170

# Spark 4 on JDK 17 needs these outside spark-submit
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def source_id(dig):
    """The git commit when the checkout is a repository, else a source digest."""
    if (build.ROOT / ".git").exists():
        res = subprocess.run(["git", "rev-parse", "HEAD"], cwd=build.ROOT,
                             stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        if res.returncode == 0:
            return "git:" + res.stdout.strip()
    return "sources-sha256:" + dig


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=float)
    p.add_argument("--trace", required=True, choices=("0", "1"))
    p.add_argument("--scale", type=float, default=1.0)
    p.add_argument("--inject", default="none", choices=("none", "shift_box"))
    a = p.parse_args()

    try:
        classes, dig = build.build()
        jars = build.spark_jars()
        java = build.java()
    except (build.BuildError, subprocess.TimeoutExpired) as e:
        sys.exit(f"perfbench: {e}")

    out = build.out_dir()
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = out / "work" / f"{tag}-{os.getpid()}"
    (out / "logs").mkdir(parents=True, exist_ok=True)
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    cmd = [java, "-Xms2g", "-Xmx2g", "-XX:+UseParallelGC", "-XX:+AlwaysPreTouch", "-Xss4m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work / 'tmp'}", *ADD_OPENS,
           "-cp", f"{classes}{os.pathsep}{jars / '*'}", "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", a.trace, "--scale", str(a.scale), "--inject", a.inject,
           "--work", str(work),
           "--results", str(out / "results"), "--source", source_id(dig)]
    log_path = out / "logs" / f"{tag}.log"
    t0 = time.time()
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                                start_new_session=True)
        try:
            stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            shutil.rmtree(work, ignore_errors=True)
            sys.exit(f"perfbench: {tag} exceeded {RUN_TIMEOUT_S} s; log in {log_path}")
    shutil.rmtree(work, ignore_errors=True)

    lines = stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1])
        ok = proc.returncode == 0 and set(result) == {"correct", "attempted", "failed", "metrics"}
    except (IndexError, ValueError):
        ok = False
    if not ok:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        sys.exit(f"perfbench: {tag} failed (exit {proc.returncode}) after {time.time() - t0:.1f} s")
    print("\n".join(lines))


if __name__ == "__main__":
    main()
