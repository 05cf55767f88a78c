"""Build file of the benchmark: compiles the engine (`src/main/scala`) and
the benchmark harness (`perfbench/harness`, `perfbench/test`) with the
Scala compiler that ships in the Spark distribution, into a directory
under `.bench_build/` keyed by a digest of every source file. A later run
on the same sources reuses it.

    python3 perfbench/build.py        # build (or find) and print the classes dir
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_ROOT = os.path.join(ROOT, ".bench_build", "perfbench")


def spark_jars():
    """The jar directory of the Spark distribution, which must ship the
    Scala compiler: $SPARK_HOME/jars, else the `unmanagedBase` the
    project's build.sbt compiles against."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m:
            candidates.append(m.group(1))
    except OSError:
        pass
    for jars in candidates:
        if glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return jars
    raise SystemExit("perfbench: no Spark distribution with a Scala compiler "
                     "(set SPARK_HOME)")


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                              recursive=True))
    if not engine:
        raise SystemExit("perfbench: no engine sources under src/main/scala")
    bench = sorted(glob.glob(os.path.join(HERE, "harness", "*.scala")) +
                   glob.glob(os.path.join(HERE, "test", "*.scala")))
    return engine + bench


def ensure():
    """Return a directory holding the compiled classes, building it if needed."""
    srcs = sources()
    digest = hashlib.sha256()
    for p in srcs:
        digest.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            digest.update(f.read())
    out = os.path.join(BUILD_ROOT, "classes-" + digest.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".complete")):
        return out
    jars = spark_jars()
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(tmp, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cp = os.path.join(jars, "*")
    print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr, flush=True)
    rc = subprocess.call(["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp,
                          "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-classpath", cp,
                          "@" + argfile], stdout=sys.stderr)
    if rc != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit(f"perfbench: compilation failed (exit {rc})")
    os.remove(argfile)
    open(os.path.join(tmp, ".complete"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    for old in glob.glob(os.path.join(BUILD_ROOT, "classes-*")):
        if old != out:
            shutil.rmtree(old, ignore_errors=True)
    return out


if __name__ == "__main__":
    print(ensure())
