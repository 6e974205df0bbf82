"""Builds the benchmark: compiles the program's main sources together with
the benchmark's own sources into one class directory with scalac, against
the Spark jars the program's build uses.

    python3 perfbench/build.py            # prints the class directory

The output lands in $CARGO_TARGET_DIR (default `.bench_build`) under the
checkout root and is rebuilt only when a source file changes.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MAIN_SRC = os.path.join(ROOT, "src", "main", "scala")
MAIN_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(HERE, "src")


def out_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def spark_jars():
    """The jar directory the program's build.sbt names as unmanagedBase,
    else $SPARK_HOME/jars."""
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    except OSError:
        pass
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    raise SystemExit("build: no Spark jar directory (build.sbt unmanagedBase or SPARK_HOME)")


def sources():
    files = []
    for base in (MAIN_SRC, BENCH_SRC):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names if n.endswith((".scala", ".java"))]
    return sorted(files)


def tree_sha(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    """Returns (class directory, source sha, spark jar directory)."""
    if not os.path.isdir(MAIN_SRC):
        raise SystemExit("build: no program sources at src/main/scala")
    srcs = sources()
    resources = []
    for d, _, names in os.walk(MAIN_RES):
        resources += [os.path.join(d, n) for n in names]
    sha = tree_sha(srcs + sorted(resources))
    jars = spark_jars()
    classes = os.path.join(out_dir(), "classes")
    stamp = os.path.join(classes, ".source-sha")
    if os.path.exists(stamp) and open(stamp).read() == sha:
        return classes, sha, jars
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(out_dir(), "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss16m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp, "@" + argfile]
    print("build: compiling %d sources" % len(srcs), file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit("build: scalac failed with code %d" % r.returncode)
    if os.path.isdir(MAIN_RES):
        shutil.copytree(MAIN_RES, tmp, dirs_exist_ok=True)
    with open(os.path.join(tmp, ".source-sha"), "w") as f:
        f.write(sha)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    return classes, sha, jars


if __name__ == "__main__":
    print(build()[0])
