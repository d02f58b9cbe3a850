"""Build file of the benchmark: compiles graft's `src/main/scala` and the
benchmark harness in `perfbench/scala` with the Scala compiler that ships in
the Spark distribution's jars, against the same classpath the repository's
direct-JVM runner uses. No sbt, no network.

    python3 perfbench/build.py      # prints the classes directory

The output is keyed by a hash of every source file and of this file, so an
unchanged tree builds once per checkout.
"""
import fcntl
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit("build: no Spark distribution with a Scala compiler found "
                         "(set SPARK_HOME)")
    return jars


def sources():
    main = sorted(glob.glob(os.path.join(REPO, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    if not main:
        raise SystemExit("build: no graft sources under src/main/scala")
    return main + sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))


def build_dir():
    return os.path.join(REPO, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")


def build():
    srcs = sources()
    jars = spark_jars()
    h = hashlib.sha256()
    for p in srcs + [os.path.abspath(__file__)]:  # sources and the compiler flags below
        h.update(os.path.relpath(p, REPO).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    out = build_dir()
    dest = os.path.join(out, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(dest, ".ok")):
        return dest
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(os.path.join(dest, ".ok")):
            return dest
        tmp = dest + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        argfile = os.path.join(out, "sources.txt")
        with open(argfile, "w") as f:
            f.write("\n".join(srcs))
        cp = os.path.join(jars, "*")
        cmd = ["java", "-Xmx3g", "-Xss16m", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
               "-nowarn", "-encoding", "UTF-8", "-cp", cp, "-d", tmp, "@" + argfile]
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            sys.stderr.write(r.stdout[-8000:])
            raise SystemExit("build: scalac failed")
        shutil.rmtree(dest, ignore_errors=True)
        os.rename(tmp, dest)
        open(os.path.join(dest, ".ok"), "w").close()
        for old in glob.glob(os.path.join(out, "classes-*")):
            if old != dest:
                shutil.rmtree(old, ignore_errors=True)
    return dest


if __name__ == "__main__":
    print(build())
