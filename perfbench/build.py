#!/usr/bin/env python3
"""Build the benchmark from source.

The program's main sources (src/main/scala) and the benchmark's own
(perfbench/src/main/scala) are compiled together with the Scala compiler
that ships among Spark's jars, into .bench_build/perfbench/. The output
directory is keyed by a hash of every source, so an unchanged tree is not
rebuilt.

    python3 perfbench/build.py          # build, print the classes directory
    python3 perfbench/build.py test     # build and run the benchmark's unit tests
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
OUT = ROOT / ".bench_build" / "perfbench"


class BuildError(Exception):
    pass


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory the program's build.sbt names."""
    home = os.environ.get("SPARK_HOME")
    if home and (Path(home) / "jars").is_dir():
        return Path(home) / "jars"
    sbt = ROOT / "build.sbt"
    if sbt.is_file():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if m and Path(m.group(1)).is_dir():
            return Path(m.group(1))
    raise BuildError("no Spark jars: set SPARK_HOME or keep unmanagedBase in build.sbt")


def scala_files(d):
    return sorted(p for p in d.rglob("*.scala") if p.is_file())


def program_sources():
    src = ROOT / "src" / "main" / "scala"
    files = scala_files(src)
    if not files:
        raise BuildError(f"no program sources under {src.relative_to(ROOT)}/")
    return files


def stamp(files, jars):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    h.update("\n".join(sorted(p.name for p in jars.glob("*.jar"))).encode())
    return h.hexdigest()[:16]


def scalac(jars, out, sources, extra_cp=()):
    cp = os.pathsep.join([*map(str, extra_cp), str(jars / "*")])
    tmp = Path(str(out) + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    cmd = ["java", "-Xss16m", "-Xmx1g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-cp", str(jars / "*"), "scala.tools.nsc.Main",
           "-nowarn", "-d", str(tmp), "-classpath", cp, *map(str, sources)]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout)
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError(f"scalac failed ({r.returncode})")
    tmp.rename(out)


def build():
    """Compile if needed; return (classes directory, Spark jar directory)."""
    jars = spark_jars()
    sources = program_sources() + scala_files(BENCH / "src" / "main" / "scala")
    out = OUT / f"classes-{stamp(sources + [Path(__file__).resolve()], jars)}"
    if not out.is_dir():
        OUT.mkdir(parents=True, exist_ok=True)
        for old in OUT.glob("classes-*"):
            shutil.rmtree(old, ignore_errors=True)
        sys.stderr.write(f"perfbench: compiling {len(sources)} sources\n")
        scalac(jars, out, sources)
    return out, jars


def test():
    classes, jars = build()
    tests = scala_files(BENCH / "src" / "test" / "scala")
    out = OUT / "test-classes"
    shutil.rmtree(out, ignore_errors=True)
    scalac(jars, out, tests, extra_cp=[classes])
    cp = os.pathsep.join([str(out), str(classes), str(jars / "*")])
    return subprocess.run(["java", "-XX:-UsePerfData", "-cp", cp, "perfbench.HelpersTest"]).returncode


if __name__ == "__main__":
    try:
        if sys.argv[1:] == ["test"]:
            sys.exit(test())
        elif sys.argv[1:]:
            sys.exit("usage: build.py [test]")
        print(build()[0])
    except BuildError as e:
        sys.exit(f"perfbench: {e}")
