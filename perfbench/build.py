#!/usr/bin/env python3
"""Build file of the benchmark: compiles the library (`src/main/scala`) and
the benchmark's own sources (`perfbench/scala`) into one jar.

It calls the Scala compiler that ships in Spark's `jars` directory, so the
build needs Java, `$SPARK_HOME` (or `spark-submit` on the PATH) and nothing
from the network. A digest of every source file is stored next to the jar;
an unchanged tree is not compiled again.

`archive` makes the JVM class-data-sharing archive runs start from: the
classes a session start loads, mapped instead of parsed from Spark's jars,
which takes a few seconds off every run's set-up. It is remade with the jar.

Usage: build.py <repo_root> <build_dir>   (prints the jar)
"""
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        raise SystemExit("perfbench: set SPARK_HOME to a Spark 4.1 install")
    return jars


def sources(root):
    out = []
    for top in (os.path.join(root, "src", "main", "scala"), os.path.join(HERE, "scala")):
        for d, _, files in os.walk(top):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def digest(root, files):
    h = hashlib.sha256()
    for f in files + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def fresh(path, want):
    stamp = path + ".sha256"
    return os.path.exists(path) and os.path.exists(stamp) and open(stamp).read() == want


def mark(path, want):
    with open(path + ".sha256", "w") as fh:
        fh.write(want)


def build(root, build_dir):
    """Compile when the sources changed; returns (jar, source digest)."""
    files = sources(root)
    if not any(f.startswith(os.path.join(root, "src")) for f in files):
        raise SystemExit(f"perfbench: no library sources under {root}/src/main/scala")
    jar = os.path.join(build_dir, "perfbench.jar")
    want = digest(root, files)
    if fresh(jar, want):
        return jar, want
    tmp = os.path.join(build_dir, f"classes.tmp{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(build_dir, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cp = os.path.join(spark_jars(), "*")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", cp, "@" + argfile]
    log = os.path.join(build_dir, "build.log")
    with open(log, "w") as out:
        rc = subprocess.run(cmd, stdout=out, stderr=subprocess.STDOUT).returncode
    if rc != 0:
        sys.stderr.write(open(log).read()[-4000:])
        raise SystemExit(f"perfbench: compile failed (exit {rc}), see {log}")
    with zipfile.ZipFile(jar + ".tmp", "w") as z:
        for d, _, names in os.walk(tmp):
            for n in names:
                z.write(os.path.join(d, n), os.path.relpath(os.path.join(d, n), tmp))
    shutil.rmtree(tmp)
    os.replace(jar + ".tmp", jar)
    mark(jar, want)
    return jar, want


def archive(build_dir, want, dump):
    """The class-data archive for digest `want`; `dump(flag)` runs a JVM
    with the flag that writes it."""
    path = os.path.join(build_dir, "session.jsa")
    if not fresh(path, want):
        if os.path.exists(path):
            os.remove(path)
        dump(f"-XX:ArchiveClassesAtExit={path}")
        if not os.path.exists(path):
            raise SystemExit(f"perfbench: the archive run left no {path}")
        mark(path, want)
    return path


def main():
    if len(sys.argv) != 3:
        raise SystemExit(__doc__)
    os.makedirs(sys.argv[2], exist_ok=True)
    print(build(os.path.abspath(sys.argv[1]), os.path.abspath(sys.argv[2]))[0])


if __name__ == "__main__":
    main()
