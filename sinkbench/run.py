#!/usr/bin/env python3
"""sinkbench: end-to-end and per-layer benchmark of the HFP sink.

Usage (from the repository root):
  python3 sinkbench/run.py --workload W --seed N --seconds S --trace 0|1
  python3 sinkbench/run.py --selftest

Workloads: backfill_pb, backfill_json, live_1s, registry (see README.md).
Builds the program from source when needed (sinkbench/build.py), runs one
workload in a fresh JVM, checks the outputs, and prints a run-context line
and, last, one JSON result line. Exits non-zero without a result line when
the build, the run or the set-up fails.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
# no __pycache__ here or beside scripts/oracle_check.py, which oracle.py imports
sys.dont_write_bytecode = True
import build  # noqa: E402

WORKLOADS = ["backfill_pb", "backfill_json", "live_1s", "registry"]
DEADLINE_S = 170
JAVA_OPTS = ["-Xmx3g", "-Xss8m", "-XX:+UseG1GC", "-XX:-UsePerfData",
             f"-Dlog4j.configurationFile={HERE / 'log4j2.properties'}"] + [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def steal_s() -> float:
    """Host steal time so far, summed over CPUs, in seconds."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def loadavg_1m() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def probe_s() -> float:
    """Fixed single-threaded work that calls no program code: its time says
    how fast this box runs right now."""
    t = time.perf_counter()
    x = 0
    for _ in range(1_500_000):
        x = (x * 1103515245 + 12345) & 0x7FFFFFFF
    return time.perf_counter() - t


def context() -> dict:
    return {"steal_s": steal_s(), "loadavg_1m": loadavg_1m(), "probe_s": probe_s(),
            "time": time.time()}


def java(classes: Path, args: list[str], work: Path, timeout: float) -> None:
    cmd = ["java", *JAVA_OPTS, f"-Djava.io.tmpdir={work}",
           f"-Dderby.stream.error.file={work / 'derby.log'}",
           "-cp", os.pathsep.join([str(classes), build.classpath()]), "sinkbench.Main", *args]
    p = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, cwd=work)
    try:
        rc = p.wait(timeout=timeout)
    finally:
        if p.poll() is None:
            p.kill()
            p.wait()
    if rc != 0:
        raise RuntimeError(f"benchmark JVM exited with {rc}")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and a.workload is None:
        ap.error("--workload is required")
    started = time.monotonic()
    root = Path.cwd()
    try:
        classes = build.build(root)
    except (build.BuildError, subprocess.SubprocessError, OSError) as e:
        print(f"[sinkbench] build failed: {e}", file=sys.stderr)
        return 2
    name = "selftest" if a.selftest else f"{a.workload}-{a.seed}-{a.trace}"
    work = root / ".sinkbench_runs" / f"{name}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        if a.selftest:
            java(classes, ["selftest", str(work)], work, DEADLINE_S)
            return 0
        before = context()
        # set-up starts here, after the build and the probe: setup_s runs
        # from this instant to the end of the workload's set-up in the JVM
        origin_ms = int(time.time() * 1000)
        tables_dir = work / "tables"
        if a.workload == "registry":
            import registry_tables
            registry_tables.write(tables_dir, a.seed)
        result_file = work / "result.json"
        java(classes, [a.workload, str(a.seed), str(a.seconds), str(a.trace), str(work),
                       str(result_file), str(origin_ms), str(tables_dir)],
             work, DEADLINE_S - (time.monotonic() - started))
        out = json.loads(result_file.read_text())
        errors = list(out["errors"])
        if a.workload == "registry":
            import oracle
            results = work / "registry"
            names = sorted(p.stem for p in results.glob("*.sql"))
            errors += oracle.check_registry(str(tables_dir), results, names)
        after = context()
        ctx = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
               "steal_s": round(after["steal_s"] - before["steal_s"], 3),
               "loadavg_1m_start": before["loadavg_1m"], "loadavg_1m_end": after["loadavg_1m"],
               "probe_s_start": round(before["probe_s"], 4), "probe_s_end": round(after["probe_s"], 4),
               "run_wall_s": round(after["time"] - before["time"], 2), **out["info"]}
        metrics = dict(out["metrics"])
        if a.trace:
            metrics.update({
                "box.steal_s": {"value": ctx["steal_s"], "unit": "s"},
                "box.loadavg_1m": {"value": before["loadavg_1m"], "unit": "load"},
                "box.probe_s": {"value": (before["probe_s"] + after["probe_s"]) / 2, "unit": "s"}})
        for e in errors:
            print(f"[sinkbench] CHECK FAILED: {e}", file=sys.stderr)
        print(json.dumps({"context": ctx}))
        print(json.dumps({"correct": not errors, "attempted": out["attempted"],
                          "failed": out["failed"], "metrics": metrics}))
        return 0
    except (build.BuildError, RuntimeError, subprocess.TimeoutExpired, OSError, ValueError,
            KeyError) as e:
        print(f"[sinkbench] run failed: {e}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
