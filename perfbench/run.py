#!/usr/bin/env python3
"""Benchmark entry point: build the engine and the benchmark from source,
run one workload in a fresh JVM, and print one JSON result line.

    python3 perfbench/run.py --workload query_fleet --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest

Run it from the root of a checkout. The build (scalac over
`src/main/scala` and `perfbench/src`) lands in `.bench_build/`, keyed by a
hash of every source file, so an unchanged tree is compiled once. Each
run gets its own directory under `.bench_build/runs/` for inputs,
warehouse, spark local dirs and `java.io.tmpdir`; it is deleted when the
run ends, so nothing one run builds can be read by the next. Span files
of traced runs are kept in `.bench_build/spans/`.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import uuid
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
ENGINE_SRC = ROOT / "src" / "main" / "scala"
BENCH_SRC = BENCH / "src"
RUN_TIMEOUT_S = 175
BUILD_TIMEOUT_S = 600

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME/jars, else next to the
    spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = Path(shutil.which("spark-submit")).resolve().parent.parent
    if not home or not (Path(home) / "jars").is_dir():
        fail("Spark not found: set SPARK_HOME or put spark-submit on PATH")
    return Path(home) / "jars"


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    p = Path(d)
    return p if p.is_absolute() else ROOT / p


def sources():
    if not ENGINE_SRC.is_dir():
        fail(f"engine sources not found at {ENGINE_SRC}; run from a full checkout")
    files = sorted(ENGINE_SRC.rglob("*.scala")) + sorted(BENCH_SRC.rglob("*.scala"))
    if not files:
        fail("no Scala sources found")
    return files


def compile_classes(files, out_root, spark_jars):
    """Compile engine + benchmark once per source hash; return the class dir."""
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    classes = out_root / f"classes-{h.hexdigest()[:16]}"
    if (classes / "_COMPLETE").exists():
        return classes
    jars = sorted(spark_jars.glob("*.jar"))
    compiler = [j for j in jars if j.name.startswith(("scala-compiler-", "scala-library-", "scala-reflect-"))]
    if len(compiler) != 3:
        fail(f"scala compiler jars not found in {spark_jars}")
    staging = out_root / f"staging-{uuid.uuid4().hex}"
    staging.mkdir(parents=True)
    argfile = staging / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(map(str, compiler)),
           "scala.tools.nsc.Main", "-nowarn",
           "-classpath", os.pathsep.join(map(str, jars)),
           "-d", str(staging), f"@{argfile}"]
    t0 = time.time()
    res = subprocess.run(cmd, timeout=BUILD_TIMEOUT_S)
    if res.returncode != 0:
        shutil.rmtree(staging, ignore_errors=True)
        fail("compilation failed")
    argfile.unlink()
    (staging / "_COMPLETE").write_text(f"{time.time() - t0:.1f}\n")
    shutil.rmtree(classes, ignore_errors=True)
    staging.rename(classes)
    return classes


def alive(pid):
    try:
        os.kill(pid, 0)
        return True
    except ProcessLookupError:
        return False
    except PermissionError:
        return True


def fresh_run_dir(runs):
    """A new run directory named after this process; directories of runs
    whose process is gone (killed runs) are removed first."""
    runs.mkdir(parents=True, exist_ok=True)
    for d in runs.iterdir():
        owner = d.name.split("-")[0]
        if not owner.isdigit() or not alive(int(owner)):
            shutil.rmtree(d, ignore_errors=True)
    run_dir = runs / f"{os.getpid()}-{uuid.uuid4().hex[:8]}"
    (run_dir / "tmp").mkdir(parents=True)
    return run_dir


def java_cmd(classes, spark_jars, run_dir, main_args):
    return (["java", "-Xmx3g", "-Xss8m",
             f"-Djava.io.tmpdir={run_dir / 'tmp'}",
             f"-Dlog4j2.configurationFile={BENCH / 'log4j2.properties'}",
             "-Dspark.ui.enabled=false"]
            + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-cp", f"{classes}{os.pathsep}{spark_jars / '*'}",
               "perfbench.Main"] + main_args)


def run_jvm(cmd, timeout):
    env = dict(os.environ)
    # Spark's env overrides would send shuffle and state files outside the run dir.
    for k in ("SPARK_LOCAL_DIRS", "SPARK_CONF_DIR", "SPARK_GRAFT_SF_DIR"):
        env.pop(k, None)
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, env=env)

    def stop(signum, _frame):
        proc.kill()
        proc.wait()
        fail(f"stopped by signal {signum}")

    # A terminated benchmark must not leave its JVM running.
    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, stop)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"JVM did not finish within {timeout} s")
    return proc.returncode, out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--expect", action="store_true",
                    help="regenerate data/fleet_expected.tsv (digests and cost tiers)")
    args = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    check_only = args.selftest or args.expect
    if not check_only and args.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {args.workload!r}")

    files = sources()
    jars = spark_jars()
    out_root = build_dir()
    out_root.mkdir(parents=True, exist_ok=True)
    classes = compile_classes(files, out_root, jars)
    run_dir = fresh_run_dir(out_root / "runs")
    try:
        if args.selftest:
            main_args = ["selftest", str(BENCH), str(run_dir), str(ROOT / "BENCHMARK.json")]
        elif args.expect:
            main_args = ["expect", str(BENCH), str(run_dir), str(BENCH / "data" / "fleet_expected.tsv")]
        else:
            spans = out_root / "spans"
            spans.mkdir(exist_ok=True)
            main_args = ["run", args.workload, str(args.seed), str(args.seconds),
                         str(args.trace), str(BENCH), str(run_dir),
                         str(spans / f"{args.workload}-seed{args.seed}.jsonl")]
        code, out = run_jvm(java_cmd(classes, jars, run_dir, main_args),
                            timeout=3600 if args.expect else RUN_TIMEOUT_S)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    for l in lines[:-1]:
        print(l)
    if code != 0 or not lines:
        fail(f"JVM exited with code {code}")
    if check_only:
        print(lines[-1])
        return
    result = json.loads(lines[-1])
    want = [m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]]
    missing = [m for m in want if m not in result["metrics"]]
    if missing:
        fail(f"result lacks metrics {missing}")
    print(json.dumps(result, separators=(",", ":")))


if __name__ == "__main__":
    main()
