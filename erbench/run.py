"""Run one benchmark workload against the engine built from this checkout.

    python3 erbench/run.py --workload er_pipeline --seed 1 --seconds 10 --trace 0
    python3 erbench/run.py --workload all --seed 1 --seconds 10   # every workload,
        untraced then traced, with the tracing overhead
    python3 erbench/run.py --selftest                              # helper tests

A run prints one line per named metric, then, as its last line, one JSON
object with the keys correct, attempted, failed and metrics. --trace 0
reports the end-to-end metrics, --trace 1 the per-layer ones. The full
record (generator properties, ratios with their bases, environment, spans)
goes to .bench_build/erbench/results/. See erbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ["er_pipeline", "search_serve"]
RUN_TIMEOUT_S = 170
HEAP = "3g"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def java_cmd(classpath, main, args, tmp):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", "-XX:-UsePerfData", f"-Xmx{HEAP}", f"-Xms{HEAP}",
             f"-Djava.io.tmpdir={tmp}",
             f"-Dlog4j2.configurationFile={build.BENCH / 'log4j2.properties'}"]
            + opens + ["-cp", os.pathsep.join(map(str, classpath)), main] + args)


def run_java(cmd, timeout):
    """Run the JVM in its own process group; kill the group on timeout or
    interrupt and wait for it, so nothing outlives the run."""
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def run_one(workload, seed, seconds, trace, classes):
    tmp = build.OUT / "tmp" / f"{workload}-{seed}-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    try:
        args = ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
                "--trace", str(trace), "--cores", str(cores()), "--tmp", str(tmp),
                "--out", str(build.OUT / "results")]
        cp = [classes, f"{build.spark_jars()}/*"]
        try:
            code, out = run_java(java_cmd(cp, "erbench.Main", args, tmp), RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            print(f"erbench: {workload} did not finish in {RUN_TIMEOUT_S} s", file=sys.stderr)
            return None, ""
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    lines = out.rstrip("\n").split("\n") if out.strip() else []
    if code != 0 or not lines:
        sys.stderr.write(out)
        print(f"erbench: {workload} failed (exit {code})", file=sys.stderr)
        return None, out
    result = json.loads(lines[-1])
    return result, "\n".join(lines[:-1])


def run_all(seed, seconds, classes):
    """Every workload untraced and traced; prints all named metrics and the
    tracing overhead, then one combined JSON line."""
    combined = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for w in WORKLOADS:
        plain, text = run_one(w, seed, seconds, 0, classes)
        traced, _ = run_one(w, seed, seconds, 1, classes)
        if plain is None or traced is None:
            return 1
        print(text)
        untraced_ms = plain["metrics"]["op_p50_ms"]["value"]
        traced_ms = traced["metrics"]["op.wall_ms"]["value"]
        overhead = traced_ms / untraced_ms - 1.0
        print(f"[erbench] {w:<15} {'tracing_overhead':<22} {overhead:14.4f} ratio  "
              f"traced op median {traced_ms:.1f} ms vs untraced {untraced_ms:.1f} ms")
        for r in (plain, traced):
            combined["correct"] &= r["correct"]
            combined["attempted"] += r["attempted"]
            combined["failed"] += r["failed"]
        for name, m in plain["metrics"].items():
            combined["metrics"][f"{w}.{name}"] = m
        combined["metrics"][f"{w}.tracing_overhead"] = {"value": overhead, "unit": "ratio"}
    print(json.dumps(combined))
    return 0


def selftest():
    classpath = build.build_tests() + [f"{build.spark_jars()}/*"]
    tmp = build.OUT / "tmp" / f"selftest-{os.getpid()}"
    tmp.mkdir(parents=True, exist_ok=True)
    try:
        code, out = run_java(java_cmd(classpath, "erbench.HelperTests", [], tmp), RUN_TIMEOUT_S)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    sys.stdout.write(out)
    return code


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if a.selftest:
        return selftest()
    if not a.workload:
        ap.error("--workload is required")
    classes = build.build()
    if a.workload == "all":
        return run_all(a.seed, a.seconds, classes)
    result, text = run_one(a.workload, a.seed, a.seconds, a.trace, classes)
    if result is None:
        return 1
    if text:
        print(text)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
