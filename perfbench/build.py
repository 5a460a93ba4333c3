#!/usr/bin/env python3
"""Build file of the daemon ingest benchmark.

Compiles the program (src/main/scala of the repository this directory
sits in, plus its resources) and then the benchmark's own sources
(perfbench/src) with the Scala compiler that ships in the Spark
distribution, against the Spark jars. Output goes to
.bench_build/classes under the repository root; a stamp of every
source file's content lets a second call skip the build.

    python3 perfbench/build.py        # from the repository root
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

SCALA = "2.13.17"


def spark_jars(root):
    """The Spark distribution's jar directory: $SPARK_HOME/jars, else the
    directory the program's own build.sbt takes its jars from, else the
    one beside the spark-submit on PATH."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(Path(os.environ["SPARK_HOME"]) / "jars")
    sbt = root / "build.sbt"
    if sbt.is_file():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if m:
            candidates.append(Path(m.group(1)))
    submit = shutil.which("spark-submit")
    if submit:
        candidates.append(Path(submit).resolve().parent.parent / "jars")
    for jars in candidates:
        if (jars / f"scala-compiler-{SCALA}.jar").is_file():
            return jars
    raise SystemExit(f"build: no Spark jars with a Scala {SCALA} compiler in {candidates}")


def sources(root):
    prog = sorted((root / "src" / "main" / "scala").rglob("*.scala"))
    res = sorted(p for p in (root / "src" / "main" / "resources").rglob("*") if p.is_file())
    bench = sorted((root / "perfbench" / "src").rglob("*.scala"))
    if not prog or not bench:
        raise SystemExit(f"build: program or benchmark sources missing under {root}")
    return prog, res, bench


def stamp(files, root):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(root)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def scalac(jars, classpath, out, files):
    out.mkdir(parents=True, exist_ok=True)
    compiler = ":".join(str(jars / f"scala-{m}-{SCALA}.jar") for m in ("compiler", "library", "reflect"))
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", compiler, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", classpath, "-d", str(out)] + [str(f) for f in files]
    subprocess.run(cmd, check=True, stdout=sys.stderr)


def build(root):
    """Compile whatever changed; return the run classpath."""
    root = Path(root).resolve()
    jars = spark_jars(root)
    prog, res, bench = sources(root)
    out = root / ".bench_build" / "classes"
    spark_cp = str(jars / "*")
    prog_stamp = stamp(prog + res, root)
    bench_stamp = prog_stamp + stamp(bench, root)
    for part, want, files, cp in (("program", prog_stamp, prog, spark_cp),
                                  ("bench", bench_stamp, bench, f"{out / 'program'}:{spark_cp}")):
        stamp_file = out / f"{part}.stamp"
        if stamp_file.is_file() and stamp_file.read_text() == want:
            continue
        print(f"[perfbench] building {part}", file=sys.stderr)
        shutil.rmtree(out / part, ignore_errors=True)
        scalac(jars, cp, out / part, files)
        if part == "program":
            for r in res:
                dst = out / part / r.relative_to(root / "src" / "main" / "resources")
                dst.parent.mkdir(parents=True, exist_ok=True)
                shutil.copyfile(r, dst)
        stamp_file.write_text(want)
    return f"{out / 'program'}:{out / 'bench'}:{spark_cp}"


if __name__ == "__main__":
    build(Path(__file__).resolve().parent.parent)
