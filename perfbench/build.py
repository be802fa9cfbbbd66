"""Build file of the benchmark: compiles the repo's `src/main/scala`
together with the benchmark's own `perfbench/src` into one class
directory, with the plain Scala compiler from the Spark jar set that
`build.sbt` names as its `unmanagedBase`. The build is skipped while a
stamp over every source file still matches.

Usage: python3 perfbench/build.py   (from the repo root)
"""
import glob
import hashlib
import os
import re
import subprocess
import sys

BUILD_DIR = ".bench_build"
SCALA_JARS = ["scala-compiler", "scala-library", "scala-reflect"]


def jars_dir(root):
    """The Spark jar directory: build.sbt's unmanagedBase, else $SPARK_HOME/jars."""
    sbt = open(os.path.join(root, "build.sbt")).read()
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt)
    d = m.group(1) if m else os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not os.path.isdir(d):
        raise SystemExit(f"Spark jars not found at {d!r}")
    return d


def jvm_opens(root):
    """The --add-opens list build.sbt passes to forked runs (JDK 17)."""
    sbt = open(os.path.join(root, "build.sbt")).read()
    return [f"--add-opens={p}=ALL-UNNAMED"
            for p in re.findall(r'"(java\.base/[^"]+)"', sbt)]


def sources(root):
    return sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True)
                  + glob.glob(os.path.join(root, "perfbench/src/*.scala")))


def classpath(root):
    return os.pathsep.join([os.path.join(root, BUILD_DIR, "classes")]
                           + sorted(glob.glob(os.path.join(jars_dir(root), "*.jar"))))


def build(root):
    """Compile if any source changed; returns the runtime classpath."""
    srcs = sources(root)
    if not any(s.startswith(os.path.join(root, "src")) for s in srcs):
        raise SystemExit("no src/main/scala sources: run from the repo root")
    h = hashlib.sha256()
    for s in srcs + [os.path.abspath(__file__)]:
        h.update(s.encode())
        h.update(open(s, "rb").read())
    out = os.path.join(root, BUILD_DIR, "classes")
    stamp = os.path.join(root, BUILD_DIR, "stamp")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return classpath(root)
    if os.path.exists(stamp):
        os.remove(stamp)
    subprocess.run(["rm", "-rf", out], check=True)
    os.makedirs(out)
    jd = jars_dir(root)
    compiler = os.pathsep.join(
        glob.glob(os.path.join(jd, f"{j}-*.jar"))[0] for j in SCALA_JARS)
    subprocess.run(
        ["java", "-Xss8m", "-Xmx3g", "-cp", compiler, "scala.tools.nsc.Main",
         "-nowarn", "-classpath", classpath(root), "-d", out] + srcs,
        check=True, stdout=sys.stderr)
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return classpath(root)


if __name__ == "__main__":
    build(os.getcwd())
