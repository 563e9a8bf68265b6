"""Build file of the benchmark: compiles the program (src/main/scala) and the
benchmark harness (perfbench/scala) from source with the Scala compiler that
ships in Spark's jars, into .bench_build/classes-<source hash>/. A build
whose sources are unchanged is reused.

    python3 perfbench/build.py        # prints the classes directory

Needs SPARK_HOME (its jars/ directory is the compile and run classpath) and
`java` on PATH or under JAVA_HOME.
"""
import fcntl
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(BENCH)


class BuildError(Exception):
    pass


def java_bin():
    home = os.environ.get("JAVA_HOME")
    if home and os.path.exists(os.path.join(home, "bin", "java")):
        return os.path.join(home, "bin", "java")
    found = shutil.which("java")
    if not found:
        raise BuildError("no java on PATH or under JAVA_HOME")
    return found


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise BuildError("SPARK_HOME must name a Spark install with a jars/ directory")
    return os.path.join(home, "jars")


def sources():
    main = os.path.join(REPO, "src", "main", "scala")
    if not os.path.isdir(main):
        raise BuildError(f"program sources not found under {os.path.relpath(main)}")
    files = sorted(glob.glob(os.path.join(main, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(BENCH, "scala", "**", "*.scala"), recursive=True))
    return files


def build():
    """Return the classes directory, compiling first if the sources changed."""
    jars = spark_jars()
    compiler = [glob.glob(os.path.join(jars, f"scala-{n}_*.jar")) or
                glob.glob(os.path.join(jars, f"scala-{n}-2*.jar")) for n in ("compiler", "library", "reflect")]
    if not all(compiler):
        raise BuildError("scala-compiler/library/reflect jars not found in SPARK_HOME/jars")
    srcs = sources()
    resources = os.path.join(REPO, "src", "main", "resources")
    digest = hashlib.sha256()
    for f in srcs + sorted(glob.glob(os.path.join(resources, "**", "*"), recursive=True)):
        if os.path.isfile(f):
            digest.update(os.path.relpath(f, REPO).encode() + b"\0")
            with open(f, "rb") as fh:
                digest.update(fh.read())
    digest.update(" ".join(os.path.basename(c[0]) for c in compiler).encode())
    out_root = os.path.join(REPO, ".bench_build")
    os.makedirs(out_root, exist_ok=True)
    out = os.path.join(out_root, "classes-" + digest.hexdigest()[:16])
    with open(os.path.join(out_root, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(os.path.join(out, ".complete")):
            return out
        for stale in glob.glob(os.path.join(out_root, "classes-*")):
            shutil.rmtree(stale, ignore_errors=True)
        tmp = out + ".tmp"
        os.makedirs(tmp)
        argfile = os.path.join(out_root, "sources.txt")
        with open(argfile, "w") as fh:
            fh.write("\n".join(srcs) + "\n")
        cmd = [java_bin(), "-Xss8m", "-Xmx2g", "-cp", ":".join(c[0] for c in compiler),
               "scala.tools.nsc.Main", "-nowarn", "-classpath", os.path.join(jars, "*"),
               "-d", tmp, "@" + argfile]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if proc.returncode != 0:
            shutil.rmtree(tmp, ignore_errors=True)
            raise BuildError("scalac failed:\n" + proc.stdout[-4000:])
        if os.path.isdir(resources):
            shutil.copytree(resources, tmp, dirs_exist_ok=True)
        os.rename(tmp, out)
        open(os.path.join(out, ".complete"), "w").close()
        return out


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
