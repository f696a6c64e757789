#!/usr/bin/env python3
"""Build the benchmark: compile graft's sources (src/main/scala) together with
the benchmark's own (perfbench/src) into one class directory.

    python3 perfbench/build.py        # prints the class directory

Compiles with the Scala compiler shipped among Spark's jars ($SPARK_HOME/jars,
or the jars next to the spark-submit on PATH), the same jars the program runs
on. Classes go to .bench_build/classes-<hash of every source file>, so a
changed source rebuilds and an unchanged one is reused.
"""
import hashlib
import os
import pathlib
import shutil
import subprocess
import sys

ROOT = pathlib.Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build"


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = pathlib.Path(shutil.which("spark-submit")).resolve().parent.parent
    if not home:
        raise BuildError("set SPARK_HOME, or put spark-submit on PATH")
    return pathlib.Path(home) / "jars"


def sources():
    program = ROOT / "src" / "main" / "scala"
    if not program.is_dir():
        raise BuildError(f"no program sources at {program.relative_to(ROOT)}")
    own = ROOT / "perfbench" / "src"
    return sorted(program.rglob("*.scala")) + sorted(own.rglob("*.scala"))


def build():
    """Return the class directory, compiling first if it is missing."""
    srcs = sources()
    digest = hashlib.sha256()
    for f in srcs:
        digest.update(str(f.relative_to(ROOT)).encode())
        digest.update(f.read_bytes())
    out = BUILD / f"classes-{digest.hexdigest()[:16]}"
    if (out / "_BUILT").exists():
        return out
    jars = spark_jars()
    if not list(jars.glob("scala-compiler-*.jar")):
        raise BuildError(f"no Scala compiler among the jars in {jars}")
    tmp = BUILD / f"tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    cp = f"{jars}/*"
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-Ybackend-parallelism", "4", "-d", str(tmp), "-classpath", cp,
           *map(str, srcs)]
    proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          text=True, timeout=850)
    if proc.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("compilation failed:\n" + proc.stdout[-4000:])
    (tmp / "_BUILT").write_text("ok\n")
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    for old in BUILD.glob("classes-*"):
        if old != out:
            shutil.rmtree(old, ignore_errors=True)
    return out


if __name__ == "__main__":
    try:
        print(build())
    except (BuildError, subprocess.TimeoutExpired) as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
