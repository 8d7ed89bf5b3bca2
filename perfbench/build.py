#!/usr/bin/env python3
"""Build file of the benchmark: compiles graft (src/main/scala) together
with the harness (perfbench/src/main/scala) with the Scala compiler that
ships in the Spark installation's jars directory, against those same jars.
The build reads only the checkout, the JDK and the Spark installation, and
writes only under .bench_build/perfbench; it needs no sbt, no dependency
cache and no network.

    python3 perfbench/build.py

Run from the repository root. Prints the runtime classpath. run.py calls
build() before every run; it recompiles only when a source changed.
"""

import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BUILD_TIMEOUT_S = 600
COMPILER_HEAP = "-Xmx2g"


class BuildError(Exception):
    def __init__(self, msg, log=None):
        super().__init__(msg)
        self.log = log  # the compiler's output, when it ran


def profile_env():
    """SPARK_HOME and PATH as the system login profile (/etc/profile and the
    scripts it sources) sets them: a benchmark started from a service or a
    non-login shell may not have inherited them."""
    try:
        p = subprocess.run(
            ["sh", "-c", '. /etc/profile >/dev/null 2>&1; printf "%s\\0%s" "$SPARK_HOME" "$PATH"'],
            stdin=subprocess.DEVNULL, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
            text=True, timeout=30)
    except (OSError, subprocess.TimeoutExpired):
        return {}
    vals = p.stdout.split("\0")
    if len(vals) != 2:
        return {}
    return {k: v for k, v in zip(("SPARK_HOME", "PATH"), vals) if v}


def _homes_on_path(path, launcher):
    """Installation directories of `launcher` on a PATH string (the parent
    of the bin directory it sits in, links resolved)."""
    return [os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, launcher))))
            for d in path.split(os.pathsep)
            if d and os.path.isfile(os.path.join(d, launcher))]


def _jars_of(homes):
    """The jars directory of the first of `homes` that holds Spark's jars,
    spelt as its real path so the build stamp does not change with the way
    the installation was found."""
    for h in homes:
        if h and glob.glob(os.path.join(h, "jars", "spark-sql_*.jar")):
            return os.path.realpath(os.path.join(h, "jars"))
    return None


def spark_jars():
    """The jars directory of the Spark installation: $SPARK_HOME, else the
    one whose spark-submit is on PATH, else the login profile's."""
    jars = _jars_of([os.environ.get("SPARK_HOME", "")] +
                    _homes_on_path(os.environ.get("PATH", ""), "spark-submit"))
    if jars is None:
        prof = profile_env()
        jars = _jars_of([prof.get("SPARK_HOME", "")] +
                        _homes_on_path(prof.get("PATH", ""), "spark-submit"))
    if jars is None:
        raise BuildError("Spark not found: set SPARK_HOME to the Spark installation")
    return jars


def java_bin():
    """java of $JAVA_HOME, else the first on PATH."""
    home = os.environ.get("JAVA_HOME")
    if home and os.path.isfile(os.path.join(home, "bin", "java")):
        return os.path.join(home, "bin", "java")
    java = shutil.which("java")
    if java is None:
        raise BuildError("java not found: set JAVA_HOME or put java on PATH")
    return java


def sources(root):
    """Every Scala source the harness is compiled from, in a fixed order."""
    out = []
    for d in (os.path.join(root, "src", "main", "scala"), os.path.join(HERE, "src", "main", "scala")):
        for dp, dn, fn in os.walk(d):
            dn.sort()
            out.extend(os.path.join(dp, f) for f in sorted(fn) if f.endswith(".scala"))
    return out


def fingerprint(files, jars):
    h = hashlib.sha256()
    for f in files:
        with open(f, "rb") as fh:
            h.update(f.encode() + b"\0" + hashlib.sha256(fh.read()).digest())
    h.update("\0".join(jars).encode())
    return h.hexdigest()


def build(root):
    """Compile if a source changed since the last build; returns the runtime
    classpath (the compiled classes, then the Spark jars)."""
    out_dir = os.path.join(root, ".bench_build", "perfbench")
    os.makedirs(out_dir, exist_ok=True)
    jars_dir = spark_jars()
    jars = sorted(glob.glob(os.path.join(jars_dir, "*.jar")))
    classes = os.path.join(out_dir, "classes")
    stamp_file = os.path.join(out_dir, "build.stamp")
    files = sources(root)
    if not any(f.startswith(HERE) for f in files):
        raise BuildError("harness sources not found under perfbench/src/main/scala")
    fp = fingerprint(files, jars)
    classpath = os.pathsep.join([classes] + jars)
    if os.path.isdir(classes) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == fp:
                return classpath

    def jar(prefix):
        m = [j for j in jars if os.path.basename(j).startswith(prefix)]
        if not m:
            raise BuildError(f"{prefix}*.jar not found in {jars_dir}")
        return m[0]

    compiler_cp = os.pathsep.join(jar(p) for p in ("scala-compiler-", "scala-library-", "scala-reflect-"))
    tmp = os.path.join(out_dir, "tmp")
    fresh = os.path.join(out_dir, "classes.new")
    shutil.rmtree(fresh, ignore_errors=True)
    os.makedirs(fresh)
    os.makedirs(tmp, exist_ok=True)
    args_file = os.path.join(out_dir, "scalac.args")
    with open(args_file, "w") as f:
        for a in ["-encoding", "UTF-8", "-deprecation", "-classpath", os.pathsep.join(jars),
                  "-d", fresh] + files:
            f.write(f'"{a}"\n')
    log = os.path.join(out_dir, "build.log")
    with open(log, "w") as lf:
        try:
            p = subprocess.run([java_bin(), COMPILER_HEAP, "-Xss8m", f"-Djava.io.tmpdir={tmp}",
                                "-cp", compiler_cp, "scala.tools.nsc.Main", f"@{args_file}"],
                               stdout=lf, stderr=subprocess.STDOUT, cwd=out_dir,
                               timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            raise BuildError(f"build exceeded {BUILD_TIMEOUT_S}s; see {log}", log)
    if p.returncode != 0 or not os.path.isfile(os.path.join(fresh, "graftbench", "Main.class")):
        raise BuildError(f"build failed (exit {p.returncode}); see {log}", log)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(fresh, classes)
    with open(stamp_file, "w") as f:
        f.write(fp)
    return classpath


if __name__ == "__main__":
    try:
        print(build(os.getcwd()))
    except BuildError as e:
        sys.exit(f"perfbench: {e}")
