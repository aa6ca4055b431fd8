#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Run from the repository root. Builds the program and the benchmark from
source on first use (perfbench/build.py), runs one workload in a fresh JVM
under local[N] with N = nproc, and relays its output; the last line is the
result JSON. Everything it writes stays under .bench_build.

After each build, one untimed training JVM (Main --train) records the
classes that the crawl and the queries load into a class-data archive,
which every later JVM maps instead of loading those classes from the jars.
This takes about 10 s off each run's start, for the parent and a change
alike; the program's own code is measured as before.
"""
import argparse
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ["seen_churn", "ops_corpus"]
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
TIMEOUT_S = 170


def run_jvm(main_args, extra_props=()):
    """Runs perfbench.Main in a fresh JVM; returns (exit code, stdout)."""
    if os.path.exists(build.ARCHIVE):
        extra_props = [f"-XX:SharedArchiveFile={build.ARCHIVE}"] + list(extra_props)
    work = os.path.join(build.BUILD, "work", str(os.getpid()))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx3g", "-XX:+UseParallelGC", "-Xss16m", "-XX:-UsePerfData",
           "-Xlog:disable", "-Xlog:all=warning:stderr",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += list(extra_props)
    cmd += ["-cp", build.classpath(), "perfbench.Main",
            "--work", work, "--data", os.path.join("perfbench", "data")] + main_args
    env = dict(os.environ, SPARK_LOCAL_IP="127.0.0.1", SPARK_LOCAL_HOSTNAME="localhost")
    env.pop("GRAFT_TRACE", None)
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                            text=True, env=env, start_new_session=True)
    try:
        out, err = proc.communicate(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        out, err = proc.communicate()
        sys.stderr.write(err[-4000:])
        sys.exit("run: benchmark JVM timed out")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    with open(os.path.join(build.BUILD, "last-stderr.log"), "w") as f:
        f.write(err)
    if proc.returncode != 0:
        sys.stderr.write(err[-8000:])
    return proc.returncode, out


def ensure_archive():
    """Makes the class-data archive if the last build removed it. On
    failure the runs go on without one.
    """
    if os.path.exists(build.ARCHIVE):
        return
    tmp = build.ARCHIVE + ".tmp"
    code, _ = run_jvm(["--train"], [f"-XX:ArchiveClassesAtExit={tmp}"])
    if code == 0 and os.path.exists(tmp):
        os.replace(tmp, build.ARCHIVE)
    else:
        sys.stderr.write(f"run: no class-data archive (training exit {code})\n")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--record", metavar="SF",
                    help="re-record the expected query digests on perfbench/data/<SF>")
    a = ap.parse_args()
    if not (a.selftest or a.record) and a.workload is None:
        ap.error("--workload is required")
    build.build()
    ensure_archive()
    if a.selftest:
        import selftest
        sys.exit(selftest.main(run_jvm))
    if a.record:
        out_dir = os.path.abspath(os.path.join(build.BUILD, "record-" + a.record))
        shutil.rmtree(out_dir, ignore_errors=True)
        os.makedirs(out_dir)
        code, out = run_jvm(["--record", a.record, "--out", out_dir])
        out += f"query results and oracle SQL in {out_dir}\n"
        sys.stdout.write(out)
        sys.exit(code)
    code, out = run_jvm(["--workload", a.workload, "--seed", str(a.seed),
                         "--seconds", str(a.seconds), "--trace", str(a.trace)])
    lines = out.rstrip("\n").split("\n") if out else []
    # the JVM prints the result JSON last; nothing else is printed after it
    for line in lines:
        print(line)
    sys.stdout.flush()
    if code != 0 or not lines or not lines[-1].startswith("{"):
        sys.exit(code or 1)


if __name__ == "__main__":
    main()
