"""Build file of the benchmark package.

Compiles the program's sources (`src/main/scala` at the repository
root) together with the benchmark's own (`perfbench/src/main/scala`)
using the Scala compiler shipped in the Spark distribution named by
`$SPARK_HOME`, into
`$CARGO_TARGET_DIR/perfbench/classes-<source hash>` (default target dir
`.bench_build`). A build whose source hash already has classes is reused.

Usage:
  python3 perfbench/build.py          build, print the classes directory
  python3 perfbench/build.py test     build, then compile and run the
                                      benchmark's own tests
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
SPARK_HOME = os.environ.get("SPARK_HOME", "")

# Spark 4 on JDK 17 needs these when the session is created outside
# spark-submit (the same set the root build passes to forked JVMs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def target_dir():
    return os.path.join(os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build")),
                        "perfbench")


def scala_files(*dirs):
    files = []
    for d in dirs:
        files += glob.glob(os.path.join(d, "**", "*.scala"), recursive=True)
    return sorted(files)


def source_hash(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def spark_classpath():
    jars = os.path.join(SPARK_HOME, "jars")
    if not SPARK_HOME or not os.path.isdir(jars):
        raise SystemExit(f"build: no Spark jars under SPARK_HOME={SPARK_HOME!r}")
    return os.path.join(jars, "*")


def compile_to(out, files, classpath, resources=None):
    """scalac `files` into `out`, then copy `resources` (a directory tree
    such as META-INF/services) beside the classes. Atomic: a failed build
    leaves nothing."""
    if os.path.isdir(out):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(tmp, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", spark_classpath(), "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", classpath, "@" + argfile]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit(f"build: scalac failed ({r.returncode})")
    os.remove(argfile)
    if resources and os.path.isdir(resources):
        shutil.copytree(resources, tmp, dirs_exist_ok=True)
    os.rename(tmp, out)
    return out


def build():
    """Compile program + benchmark; return the classes directory."""
    program = os.path.join(ROOT, "src", "main", "scala")
    bench = os.path.join(BENCH_DIR, "src", "main", "scala")
    if not os.path.isdir(program):
        raise SystemExit(f"build: program sources not found at {program}")
    resources = os.path.join(ROOT, "src", "main", "resources")
    files = scala_files(program, bench)
    res_files = sorted(glob.glob(os.path.join(resources, "**", "*"), recursive=True))
    out = os.path.join(target_dir(), "classes-" + source_hash(
        files + [f for f in res_files if os.path.isfile(f)]))
    os.makedirs(target_dir(), exist_ok=True)
    return compile_to(out, files, spark_classpath(), resources)


def classpath(classes):
    return classes + os.pathsep + spark_classpath()


# C1-only JIT, as the repository's own mains run: the JIT settles within
# the warm-up instead of recompiling hot paths (C2) during the measured
# window, which drifted the relay latency by ~25% across one run.
JIT = "-XX:TieredStopAtLevel=1"


def java_cmd(classes, main, args, heap="2g", tmpdir=None):
    cmd = ["java", f"-Xms{heap}", f"-Xmx{heap}", JIT]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    if tmpdir:
        cmd.append(f"-Djava.io.tmpdir={tmpdir}")
    return cmd + ["-cp", classpath(classes), main] + list(args)


def test():
    classes = build()
    tests = scala_files(os.path.join(BENCH_DIR, "src", "test", "scala"))
    out = os.path.join(target_dir(), "test-classes-" + source_hash(tests) + "-"
                       + os.path.basename(classes))
    compile_to(out, tests, classpath(classes))
    cp = out + os.pathsep + classes
    r = subprocess.run(java_cmd(cp, "perfbench.SelfTest", [], heap="1g"))
    return r.returncode


if __name__ == "__main__":
    if sys.argv[1:] == ["test"]:
        sys.exit(test())
    print(build())
