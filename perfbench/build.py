#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the engine's Scala sources (``src/main/scala`` of the checkout) and
the benchmark's own sources (``perfbench/src``) with the Scala compiler that
ships inside the Spark distribution, straight into ``.bench_build/`` — no sbt,
no dependency resolution, nothing written outside the checkout.

The Spark jar directory comes from ``$SPARK_HOME/jars``, or else from the
``unmanagedBase := file("...")`` line of the checkout's ``build.sbt`` (the
same directory the engine's own build compiles against).

Usage: python3 perfbench/build.py        (prints the classpath when done)
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.isfile(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise BuildError("no Spark jar directory: set SPARK_HOME or keep build.sbt's unmanagedBase")


def java_bin():
    home = os.environ.get("JAVA_HOME")
    if home and os.path.isfile(os.path.join(home, "bin", "java")):
        return os.path.join(home, "bin", "java")
    found = shutil.which("java")
    if not found:
        raise BuildError("no java on PATH")
    return found


def _files(top, suffixes=(".scala", ".java")):
    out = []
    for d, _, files in os.walk(top):
        out += [os.path.join(d, f) for f in files if suffixes is None or f.endswith(suffixes)]
    return sorted(out)


def _fingerprint(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def _scalac(java, jars, classpath, out, sources):
    os.makedirs(out, exist_ok=True)
    argfile = out + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(sources))
    cmd = [java, "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-deprecation:false",
           "-classpath", classpath, "-d", out, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    os.remove(argfile)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])


def _jar(src_dir, jar):
    """Pack a class or resource directory into a jar. A classpath made only
    of jars lets the runner keep a class-data-sharing archive of it."""
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
        for d, _, files in os.walk(src_dir):
            for f in sorted(files):
                p = os.path.join(d, f)
                z.write(p, os.path.relpath(p, src_dir))


def build():
    """Compile (when sources changed) and return the run classpath."""
    engine_src = os.path.join(ROOT, "src", "main", "scala")
    bench_src = os.path.join(HERE, "src")
    if not os.path.isdir(engine_src):
        raise BuildError("engine sources not found at src/main/scala")
    jars = spark_jars()
    java = java_bin()
    resources = os.path.join(ROOT, "src", "main", "resources")
    engine_files = _files(engine_src)
    bench_files = _files(bench_src)
    # the build's inputs: sources, resources and this build file
    tag = _fingerprint(engine_files + bench_files + _files(resources, None) + [os.path.abspath(__file__)])
    out = os.path.join(BUILD, "classes-" + tag)
    names = ["bench.jar", "engine.jar"] + (["resources.jar"] if os.path.isdir(resources) else [])
    cp = [os.path.join(out, n) for n in names] + [os.path.join(jars, "*")]
    if os.path.isfile(os.path.join(out, "OK")):
        return os.pathsep.join(cp)
    tmp = out + ".tmp%d" % os.getpid()
    shutil.rmtree(tmp, ignore_errors=True)
    try:
        _scalac(java, jars, os.path.join(jars, "*"), os.path.join(tmp, "engine"), engine_files)
        _scalac(java, jars, os.pathsep.join([os.path.join(tmp, "engine"), os.path.join(jars, "*")]),
                os.path.join(tmp, "bench"), bench_files)
        _jar(os.path.join(tmp, "engine"), os.path.join(tmp, "engine.jar"))
        _jar(os.path.join(tmp, "bench"), os.path.join(tmp, "bench.jar"))
        if os.path.isdir(resources):
            _jar(resources, os.path.join(tmp, "resources.jar"))
        shutil.rmtree(os.path.join(tmp, "engine"))
        shutil.rmtree(os.path.join(tmp, "bench"))
        open(os.path.join(tmp, "OK"), "w").close()
        shutil.rmtree(out, ignore_errors=True)
        os.replace(tmp, out)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    # older builds of other source states are dead weight
    for d in os.listdir(BUILD):
        if d.startswith("classes-") and os.path.join(BUILD, d) != out and ".tmp" not in d:
            shutil.rmtree(os.path.join(BUILD, d), ignore_errors=True)
    return os.pathsep.join(cp)


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(str(e), file=sys.stderr)
        sys.exit(2)
