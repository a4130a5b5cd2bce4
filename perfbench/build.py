#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (`src/main`) and the
benchmark harness (`perfbench/src`) with the Scala compiler that ships in the
Spark distribution the project builds against, into `.bench_build/perfbench`.

The build is skipped when a stamp of every input file matches the last
successful build. Run it from the repository root:

    python3 perfbench/build.py

Exits non-zero, and says why on stderr, when the engine sources or the Spark
jars are missing or the compiler fails.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
OUT = ROOT / ".bench_build" / "perfbench"
MAIN_SRC = ROOT / "src" / "main" / "scala"
MAIN_RES = ROOT / "src" / "main" / "resources"
BENCH_SRC = HERE / "src"


def spark_jars() -> Path:
    """The jar directory the project's build.sbt names (`unmanagedBase`),
    or `$SPARK_HOME/jars`."""
    home = os.environ.get("SPARK_HOME")
    if home and (Path(home) / "jars").is_dir():
        return Path(home) / "jars"
    sbt = ROOT / "build.sbt"
    if sbt.is_file():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if m and Path(m.group(1)).is_dir():
            return Path(m.group(1))
    raise SystemExit("perfbench: no Spark jars (set SPARK_HOME or check build.sbt)")


def classpath() -> str:
    """Runtime classpath: engine classes, harness classes, Spark jars."""
    return os.pathsep.join([str(OUT / "main"), str(OUT / "bench"),
                            str(spark_jars() / "*")])


def inputs():
    files = [HERE / "build.py"]
    for base in (MAIN_SRC, MAIN_RES, BENCH_SRC):
        files += sorted(p for p in base.rglob("*") if p.is_file())
    return files


def stamp(files) -> str:
    h = hashlib.sha256()
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def scalac(dest: Path, sources, extra_cp, log):
    if dest.exists():
        shutil.rmtree(dest)
    dest.mkdir(parents=True)
    cp = os.pathsep.join([str(spark_jars() / "*")] + [str(p) for p in extra_cp])
    args = OUT / f"{dest.name}.args"
    args.write_text("\n".join(str(s) for s in sources) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", str(dest), f"@{args}"]
    r = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT)
    if r.returncode != 0:
        raise SystemExit(f"perfbench: scalac failed for {dest.name} (see {log.name})")


def build() -> None:
    if not MAIN_SRC.is_dir():
        raise SystemExit(f"perfbench: engine sources not found under {MAIN_SRC}")
    files = inputs()
    want = stamp(files)
    done = OUT / "stamp"
    if done.is_file() and done.read_text() == want:
        return
    OUT.mkdir(parents=True, exist_ok=True)
    if done.exists():
        done.unlink()
    with open(OUT / "build.log", "w") as log:
        scalac(OUT / "main", sorted(MAIN_SRC.rglob("*.scala")), [], log)
        if MAIN_RES.is_dir():
            shutil.copytree(MAIN_RES, OUT / "main", dirs_exist_ok=True)
        scalac(OUT / "bench", sorted(BENCH_SRC.rglob("*.scala")), [OUT / "main"], log)
    done.write_text(want)


if __name__ == "__main__":
    build()
    print(f"perfbench: built into {OUT}", file=sys.stderr)
