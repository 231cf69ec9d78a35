#!/usr/bin/env python3
"""graft's benchmark command.

    python3 perfbench/run.py --workload migrate|queries --seed N \
        --seconds S --trace 0|1

Run from the root of a checkout. Builds the program and the driver with
perfbench/build.sh when their sources changed (into $CARGO_TARGET_DIR,
default .bench_build), then runs one workload in one driver JVM and
prints its result object as the last line of stdout. The JVM's log goes
to .bench_out/<workload>-<seed>.log, the traced run's spans to
.bench_out/trace-<workload>.json. Exits 0 only when every output was
correct. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170

# Spark on JDK 17 outside spark-submit (the same list as build.sbt).
ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]


def sources_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sh")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory the program's sbt build
    compiles against (its unmanagedBase)."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise RuntimeError("set SPARK_HOME: build.sbt names no unmanagedBase")
    return m.group(1)


def build(out_dir, jars):
    stamp_file = os.path.join(out_dir, "stamp")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise RuntimeError("no program sources under src/main/scala")
    stamp = sources_stamp()
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    log = os.path.join(ROOT, ".bench_out", "build.log")
    with open(log, "w") as f:
        rc = subprocess.run(["bash", os.path.join(HERE, "build.sh"), out_dir,
                             jars],
                            cwd=ROOT, stdout=f, stderr=subprocess.STDOUT,
                            timeout=BUILD_TIMEOUT_S).returncode
    if rc != 0:
        sys.stderr.write(open(log).read()[-4000:])
        raise RuntimeError(f"build failed (rc={rc}), see {log}")
    with open(stamp_file, "w") as f:
        f.write(stamp)


def run_jvm(args, classes, jars):
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("spark", "tmp"):
        os.makedirs(os.path.join(work, d))
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory
    cmd = ["java", *ADD_OPENS, "-Xmx3g", "-Xss8m", "-XX:-UsePerfData",
           "-Dfile.encoding=UTF-8", "-Dsun.jnu.encoding=UTF-8",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Dspark.local.dir={work}/spark", f"-Djava.io.tmpdir={work}/tmp",
           f"-Dspark.sql.warehouse.dir={work}/warehouse",
           f"-Dderby.system.home={work}/derby",
           "-cp", os.pathsep.join([classes, os.path.join(jars, "*")]),
           "graftbench.Main", "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", str(args.trace), "--work", os.path.join(work, "w"),
           "--out", os.path.join(ROOT, ".bench_out"), "--home", HERE]
    if args.dump:
        cmd += ["--dump", os.path.abspath(args.dump)]
    log = os.path.join(ROOT, ".bench_out", f"{args.workload}-{args.seed}.log")
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                                stderr=err, text=True, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            out = None
        finally:
            shutil.rmtree(work, ignore_errors=True)
    if out is None:
        raise RuntimeError(f"driver JVM timed out, see {log}")
    if args.dump:
        return None, proc.returncode
    lines = [ln for ln in out.splitlines() if ln.strip()]
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        sys.stderr.write(open(log).read()[-4000:])
        raise RuntimeError(f"driver printed no result (rc={proc.returncode})")
    return result, proc.returncode


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True,
                   choices=["migrate", "queries"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--dump", help="queries only: write the lake, the query "
                   "results, expected.tsv and oracle_sql.json here for "
                   "tools/compare.py, then stop")
    args = p.parse_args()
    if args.seconds < 1:
        p.error("--seconds must be at least 1")
    os.makedirs(os.path.join(ROOT, ".bench_out"), exist_ok=True)
    target = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    out_dir = os.path.join(ROOT, target, "graftbench")
    try:
        jars = spark_jars()
        build(out_dir, jars)
        result, rc = run_jvm(args, os.path.join(out_dir, "classes"), jars)
    except (RuntimeError, subprocess.TimeoutExpired, OSError) as e:
        sys.stderr.write(f"perfbench: {e}\n")
        return 1
    if result is None:
        return rc
    print(json.dumps(result))
    return 0 if rc == 0 and result.get("correct") else 1


if __name__ == "__main__":
    sys.exit(main())
