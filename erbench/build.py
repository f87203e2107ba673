"""Build file of the benchmark: compiles the engine sources of the checkout
(src/main/scala) together with the benchmark's own sources into
.bench_build/erbench, with the Scala compiler and Spark jars that ship with
the Spark distribution. A build is skipped when a stamp over every source
file and the JDK version matches the last one.

    python3 erbench/build.py          # compile the benchmark
    python3 erbench/build.py --tests  # and its helper tests
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
ENGINE_SRC = ROOT / "src" / "main" / "scala"
OUT = ROOT / ".bench_build" / "erbench"


def spark_jars():
    """The jars of the Spark distribution: $SPARK_HOME's, else those of the
    first spark-submit on PATH that belongs to a distribution with a Scala
    compiler."""
    homes = [os.environ.get("SPARK_HOME")] + [
        Path(d, "spark-submit").resolve().parent.parent
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if d and Path(d, "spark-submit").is_file()]
    for home in filter(None, homes):
        jars = Path(home) / "jars"
        if list(jars.glob("scala-compiler*.jar")):
            return jars
    raise SystemExit("erbench: no Spark distribution with a Scala compiler; set SPARK_HOME")


def scala_files(*dirs):
    return sorted(p for d in dirs for p in d.rglob("*.scala"))


def java_version():
    r = subprocess.run(["java", "-version"], capture_output=True, text=True)
    return r.stderr.strip()


def build():
    """Compile the engine and the benchmark if needed; return the classes
    directory."""
    if not ENGINE_SRC.is_dir() or not scala_files(ENGINE_SRC):
        raise SystemExit(f"erbench: engine sources not found at {ENGINE_SRC}")
    return compile_once("classes", scala_files(ENGINE_SRC, BENCH / "src"), [])


def build_tests():
    """Compile the helper tests against the benchmark; return both class
    directories."""
    main = build()
    return [compile_once("classes-test", scala_files(BENCH / "test"), [main]), main]


def compile_once(name, files, extra_cp):
    jars = spark_jars()
    h = hashlib.sha256(java_version().encode())
    for p in [*extra_cp, *files]:
        h.update(str(p.relative_to(ROOT)).encode())
        if p.is_file():
            h.update(p.read_bytes())
    if extra_cp:
        h.update((OUT / "classes.stamp").read_bytes())
    stamp = h.hexdigest()
    classes = OUT / name
    stamp_file = OUT / f"{name}.stamp"
    if classes.is_dir() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return classes
    staging = OUT / f"{name}.staging"
    shutil.rmtree(staging, ignore_errors=True)
    staging.mkdir(parents=True)
    cp = os.pathsep.join([*map(str, extra_cp), f"{jars}/*"])
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", f"-Djava.io.tmpdir={OUT}",
           "-cp", f"{jars}/*", "scala.tools.nsc.Main", "-nowarn", "-classpath", cp,
           "-d", str(staging)] + [str(p) for p in files]
    print(f"erbench: compiling {len(files)} Scala files", file=sys.stderr, flush=True)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(staging, ignore_errors=True)
        raise SystemExit(f"erbench: compilation failed (exit {r.returncode})")
    shutil.rmtree(classes, ignore_errors=True)
    staging.rename(classes)
    stamp_file.write_text(stamp)
    return classes


if __name__ == "__main__":
    print(build_tests()[0] if "--tests" in sys.argv else build())
