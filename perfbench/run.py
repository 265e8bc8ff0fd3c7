#!/usr/bin/env python3
"""Pipeline-first benchmark entry point.

    python3 perfbench/run.py --workload mt_sample --seed 1 --seconds 15 --trace 0

Run from the repository root. The first call builds the program and the
benchmark from source with sbt (perfbench/build.sbt compiles the root build
plus perfbench/src), caches the runtime classpath and trains the benchmark's
Random Forest once; later calls reuse both. Each call then runs one JVM
(perfbench.Main) that generates the workload's inputs from the seed, times
the pipeline and prints the result JSON as its last stdout line.

Extra options: --scale X shrinks or grows every workload (the smoke test
uses a small scale).
"""
import argparse
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(HERE, ".state")
CLASSPATH = os.path.join(STATE, "classpath.txt")
STAMP = os.path.join(STATE, "sources.stamp")
MODEL = os.path.join(STATE, "model")
WORKLOADS = ("mt_sample", "numt_rich", "cohort")
RUN_TIMEOUT_S = 170
HEAP = "2g"

# JDK 17 module openings Spark needs outside spark-submit (as in build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx4g"]
        repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def java(classpath, args, work, **kw):
    """Runs perfbench.Main in its own JVM with every scratch file under
    `work`."""
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work}", "-Dspark.ui.enabled=false"] + opens +
           ["-cp", classpath, "perfbench.Main"] + args + ["--work", work])
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    return subprocess.Popen(cmd, cwd=ROOT, env=env, **kw)


def source_stamp():
    """Sizes and mtimes of every build input, to rebuild when one changes."""
    entries = []
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        for d, dirs, files in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x != "target")
            for f in sorted(files):
                st = os.stat(os.path.join(d, f))
                entries.append(f"{os.path.join(d, f)} {st.st_size} {st.st_mtime_ns}")
    for f in (os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")):
        st = os.stat(f)
        entries.append(f"{f} {st.st_size} {st.st_mtime_ns}")
    return "\n".join(entries)


def build():
    """Compile program + benchmark once and train the model once."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("the program's sources (build.sbt, src/main/scala/graft) are not "
             "beside perfbench/; run from a full checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")
    os.makedirs(STATE, exist_ok=True)
    stamp = source_stamp()
    current = open(STAMP).read() if os.path.exists(STAMP) else None
    stale = current != stamp or not os.path.exists(CLASSPATH) or any(
        not os.path.exists(p) for p in open(CLASSPATH).read().strip().split(os.pathsep))
    if stale:
        t0 = time.time()
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "export perfbench/Runtime/fullClasspath"],
            cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE,
            stderr=subprocess.STDOUT, text=True)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines or os.pathsep not in lines[-1]:
            sys.stderr.write(proc.stdout[-4000:])
            fail("build failed")
        with open(CLASSPATH + ".tmp", "w") as f:
            f.write(lines[-1].strip())
        os.replace(CLASSPATH + ".tmp", CLASSPATH)
        with open(STAMP, "w") as f:
            f.write(stamp)
        print(f"built in {time.time() - t0:.1f} s", file=sys.stderr)
    with open(CLASSPATH) as f:
        classpath = f.read().strip()
    if not os.path.exists(os.path.join(MODEL, "metadata")):
        work = os.path.join(STATE, "train-work")
        os.makedirs(work, exist_ok=True)
        shutil.rmtree(MODEL, ignore_errors=True)
        code = java(classpath, ["--train-model", MODEL], work,
                    stdout=sys.stderr).wait()
        shutil.rmtree(work, ignore_errors=True)
        if code != 0:
            shutil.rmtree(MODEL, ignore_errors=True)
            fail("model training failed")
    return classpath


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0)
    a = ap.parse_args()
    classpath = build()
    work = os.path.join(STATE, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    args = ["--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--scale", str(a.scale), "--model", MODEL]
    proc = java(classpath, args, work, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    shutil.rmtree(work, ignore_errors=True)
    lines = out.rstrip("\n").splitlines()
    if proc.returncode != 0 or not lines or not lines[-1].startswith("{"):
        sys.stdout.write("\n".join(l for l in lines if not l.startswith("{")) + "\n")
        fail(f"benchmark JVM exited with code {proc.returncode}")
    sys.stdout.write(out)
    sys.stdout.flush()


if __name__ == "__main__":
    main()
