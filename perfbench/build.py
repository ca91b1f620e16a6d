"""Build file of the benchmark package: compiles graft's main sources and the
benchmark's own Scala sources (``perfbench/scala``) with the Scala compiler
that ships in Spark's jar directory, into ``$CARGO_TARGET_DIR`` (default
``.bench_build``) under the checkout root. A content stamp skips the build
when nothing changed.

Usage: python3 perfbench/build.py        (from the checkout root)
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spark_jars():
    """Spark's jar directory: ``$SPARK_HOME/jars``, else the one the
    repository's ``build.sbt`` declares as ``unmanagedBase``."""
    home = os.environ.get("SPARK_HOME")
    if home:
        return os.path.join(home, "jars")
    try:
        with open(os.path.join(os.getcwd(), "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if not m:
        raise RuntimeError("Spark's jars not found: set SPARK_HOME")
    return m.group(1)


def sources(root):
    srcs = []
    for base in (os.path.join(root, "src", "main", "scala"), os.path.join(HERE, "scala")):
        for dirpath, _, files in os.walk(base):
            srcs += [os.path.join(dirpath, f) for f in files if f.endswith((".scala", ".java"))]
    return sorted(srcs)


def build_dir(root):
    return os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def stamp(srcs):
    h = hashlib.sha256()
    for p in srcs:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    h.update("\n".join(sorted(os.listdir(spark_jars()))).encode())
    return h.hexdigest()


def build(root, log=sys.stderr):
    """Compile if needed; returns the classes directory."""
    main_src = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(main_src):
        raise RuntimeError(f"no program sources at {main_src}")
    srcs = sources(root)
    out = build_dir(root)
    classes = os.path.join(out, "classes")
    want = stamp(srcs)
    stamp_file = os.path.join(out, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == want:
        return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-classpath", tmp, "-nowarn", "-d", tmp, "@" + argfile]
    print(f"[perfbench] compiling {len(srcs)} sources", file=log, flush=True)
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        print(proc.stdout[-4000:], file=log)
        raise RuntimeError("compile failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(want)
    return classes


if __name__ == "__main__":
    print(build(os.getcwd()))
