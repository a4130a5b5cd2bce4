#!/usr/bin/env python3
"""Pipeline benchmark of the graft engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the engine and the harness if their
sources changed (`perfbench/build.py`), then runs one workload in one JVM
(`local[4]`, 4 shuffle partitions) and prints, as the last line of stdout,
one JSON object: `correct`, `attempted`, `failed` and `metrics` (the
end-to-end metrics with `--trace 0`, the per-layer metrics and the tracing
overhead with `--trace 1`). The line before it carries the run's provenance
(load average, calibration probes, `contended` / `drifted`).

Exits 1 when an output check fails, 2 when the benchmark cannot build or run.
See perfbench/README.md for the workloads and metrics.
"""
import argparse
import json
import shutil
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("office_pipeline", "stream_steady")
JVM_TIMEOUT_S = 170
# A fixed heap: a heap that grows during the run times differently from run
# to run.
HEAP = "3g"

# Spark on JDK 17 needs these when the session is not made by spark-submit
# (the same list build.sbt passes to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def parse():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def tail(path: Path, n: int = 40) -> str:
    try:
        return "".join(path.read_text(errors="replace").splitlines(True)[-n:])
    except OSError:
        return ""


def main() -> int:
    a = parse()
    try:
        build.build()
    except SystemExit as e:
        print(e, file=sys.stderr)
        return 2

    work = build.OUT.parent / "perfbench-work" / a.workload
    if work.exists():
        shutil.rmtree(work)
    (work / "tmp").mkdir(parents=True)
    out = work / "result.json"
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xss4m", f"-Djava.io.tmpdir={work / 'tmp'}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", build.classpath(), "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--work", str(work), "--out", str(out),
              "--launched-ms", str(int(time.time() * 1000))])
    log_path = work / "jvm.log"
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT)
        try:
            proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            print(f"perfbench: run exceeded {JVM_TIMEOUT_S} s\n{tail(log_path)}",
                  file=sys.stderr)
            return 2
    # Drop the run's data now, so its pages are not written back to disk
    # while the next run measures; the log, result and spans stay.
    for child in work.iterdir():
        if child.is_dir():
            shutil.rmtree(child, ignore_errors=True)
    if proc.returncode != 0 or not out.is_file():
        print(f"perfbench: run failed (exit {proc.returncode})\n{tail(log_path)}",
              file=sys.stderr)
        return 2

    rec = json.loads(out.read_text())
    runs = build.OUT.parent / "perfbench-runs"
    runs.mkdir(parents=True, exist_ok=True)
    (runs / f"{a.workload}-seed{a.seed}-trace{a.trace}.json").write_text(
        json.dumps(rec, indent=1))
    print(json.dumps({"provenance": rec["provenance"]}))
    result = {k: rec[k] for k in ("correct", "attempted", "failed", "metrics")}
    print(json.dumps(result))
    if not result["correct"]:
        print(f"perfbench: output checks failed\n{tail(log_path)}", file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
