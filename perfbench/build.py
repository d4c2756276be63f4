"""Build file of the benchmark: compiles the engine's main sources and the
harness under perfbench/src into one class directory with the Scala
compiler that ships among the Spark jars, and returns the classpath.

The Spark jar directory is the one the project's build.sbt names as its
`unmanagedBase`. A build is keyed by a hash of every
source and resource file, so an unchanged tree is compiled once per
checkout (under .bench_build/perfbench).

    python3 perfbench/build.py        # build (or reuse) and print the classpath
"""

import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

MAIN_SRC = os.path.join("src", "main", "scala")
MAIN_RES = os.path.join("src", "main", "resources")
HARNESS_SRC = os.path.join("perfbench", "src")
OUT = os.path.join(".bench_build", "perfbench")


class BuildError(Exception):
    pass


def spark_jars(root):
    """The Spark jar directory: build.sbt's unmanagedBase."""
    sbt = os.path.join(root, "build.sbt")
    if os.path.isfile(sbt):
        with open(sbt, encoding="utf-8") as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise BuildError("no Spark jars: build.sbt names no unmanagedBase directory")


def _files(root, rel, suffix=None):
    base = os.path.join(root, rel)
    out = []
    for d, _, names in os.walk(base):
        for n in names:
            if suffix is None or n.endswith(suffix):
                out.append(os.path.relpath(os.path.join(d, n), root))
    return sorted(out)


def ensure(root):
    """Compile if needed; return the run classpath (classes + Spark jars)."""
    if not os.path.isdir(os.path.join(root, MAIN_SRC)):
        raise BuildError("no engine sources under %s" % MAIN_SRC)
    jars = spark_jars(root)
    sources = _files(root, MAIN_SRC, ".scala") + _files(root, HARNESS_SRC, ".scala")
    resources = _files(root, MAIN_RES) if os.path.isdir(os.path.join(root, MAIN_RES)) else []
    h = hashlib.sha256()
    for rel in sources + resources:
        h.update(rel.encode())
        with open(os.path.join(root, rel), "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    h.update(" ".join(sorted(os.listdir(jars))).encode())
    classes = os.path.join(root, OUT, "classes-" + h.hexdigest()[:16])
    cp = classes + os.pathsep + os.path.join(jars, "*")
    if os.path.isfile(os.path.join(classes, ".built")):
        return cp

    compiler = [glob.glob(os.path.join(jars, "scala-%s-2.*.jar" % k))
                for k in ("compiler", "library", "reflect")]
    if not all(compiler):
        raise BuildError("no Scala compiler among the Spark jars in %s" % jars)
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(root, OUT, "sources.txt")
    with open(argfile, "w", encoding="utf-8") as f:
        f.write("\n".join(os.path.join(root, s) for s in sources))
    libs = os.pathsep.join(sorted(glob.glob(os.path.join(jars, "*.jar"))))
    cmd = ["java", "-XX:-UsePerfData", "-Xss16m", "-Xmx2g", "-cp", os.pathsep.join(c[0] for c in compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-classpath", libs, "@" + argfile]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          text=True, timeout=600)
    if proc.returncode != 0:
        raise BuildError("compile failed:\n" + proc.stdout[-4000:])
    for rel in resources:
        dst = os.path.join(tmp, os.path.relpath(rel, MAIN_RES))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(os.path.join(root, rel), dst)
    with open(os.path.join(tmp, ".built"), "w") as f:
        f.write("ok\n")
    # drop builds of other trees, then publish this one
    for old in glob.glob(os.path.join(root, OUT, "classes-*")):
        if old != tmp:
            shutil.rmtree(old, ignore_errors=True)
    os.rename(tmp, classes)
    return cp


if __name__ == "__main__":
    try:
        print(ensure(os.getcwd()))
    except BuildError as e:
        sys.exit(str(e))
