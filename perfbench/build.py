#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (`src/main/scala`) and
the benchmark's own code (`perfbench/scala`) with the Scala compiler that ships
in Spark's jar directory, into `.perfbench/build/<source hash>/classes`.

A build is reused while no source file changes. Spark's jars are found
through `SPARK_HOME`, else through `spark-submit` on the PATH.

Usage: build.py [repo root]   (prints the classes directory)
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
SOURCE_DIRS = ("src/main/scala", "perfbench/scala")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise SystemExit("perfbench: set SPARK_HOME (Spark's jars are the classpath)")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars")
    if not os.path.isdir(jars):
        raise SystemExit(f"perfbench: no jars directory under {home}")
    return jars


def sources(root):
    out = []
    for d in SOURCE_DIRS:
        for base, _, files in os.walk(os.path.join(root, d)):
            out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build(root):
    srcs = sources(root)
    if not any(s.startswith(os.path.join(root, "src")) for s in srcs):
        raise SystemExit("perfbench: no program sources under src/main/scala")
    jars = spark_jars()
    h = hashlib.sha256(" ".join(sorted(os.listdir(jars))).encode())
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    out = os.path.join(root, ".perfbench", "build", h.hexdigest()[:16])
    classes = os.path.join(out, "classes")
    if os.path.exists(os.path.join(out, "OK")):
        return out, jars
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(classes)
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
           "-d", classes, "-classpath", cp] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("perfbench: compilation failed")
    open(os.path.join(out, "OK"), "w").close()
    # older builds and the reference stores made with them are stale now
    for d in os.listdir(os.path.dirname(out)):
        if d != os.path.basename(out):
            shutil.rmtree(os.path.join(os.path.dirname(out), d), ignore_errors=True)
    return out, jars


if __name__ == "__main__":
    print(os.path.join(build(sys.argv[1] if len(sys.argv) > 1 else os.path.dirname(HERE))[0], "classes"))
