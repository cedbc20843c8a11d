"""Runs one benchmark workload and prints its result as the last line.

    python3 perfbench/run.py --workload daily_deep --seed 1 --seconds 12 --trace 0

Builds the engine and harness from source (perfbench/build.py), then
launches one plain `java` process on the compiled classpath with its own
temp dir, Spark local dir, warehouse and state root under
`.bench_build/runs/`, which is deleted afterwards. The heap is sized from
MemTotal as the repo's test line sizes its JVM (half, 2g to 8g).
The last stdout line is a JSON object with `correct`, `attempted`,
`failed` and `metrics` (`--trace 0`: the end-to-end metrics; `--trace 1`:
the per-layer metrics, with spans written to the run dir).

Extra flags for the benchmark's own use: `--tiny 1` (small inputs, for
the self-test), `--inject wrong_expectation|entry_failure` (break a
check on purpose), `--record-expected FILE` (write the catalog's cold-pass
row counts and hashes).
"""
import argparse
import json
import os
import pathlib
import shutil
import subprocess
import sys
import time

HERE = pathlib.Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import build  # noqa: E402

ROOT = HERE.parent
WORKLOADS = ("daily_deep", "catalog")
DEADLINE_S = 175
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def heap() -> str:
    """Half of MemTotal in whole GiB, clamped to 2g..8g."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def cores() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def declared_metrics(trace: bool) -> list:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", type=int, choices=(0, 1), default=0)
    p.add_argument("--inject", choices=("none", "wrong_expectation", "entry_failure"), default="none")
    p.add_argument("--record-expected")
    a = p.parse_args()
    start = time.time()

    classes = build.build()
    jars = build.spark_jars()
    run_dir = build.BUILD / "runs" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("tmp", "spark-local", "warehouse"):
        (run_dir / d).mkdir(parents=True)
    out = run_dir / "result.json"
    log = run_dir / "jvm.log"
    h, n = heap(), cores()
    # a fixed-size heap and the throughput collector: peak RSS then tracks
    # the work done, not when G1 chose to grow or shrink the heap
    cmd = ["java", f"-Xms{h}", f"-Xmx{h}", "-Xss8m", "-XX:+UseParallelGC",
           *[x for o in JDK_OPENS for x in ("--add-opens", f"{o}=ALL-UNNAMED")],
           f"-Djava.io.tmpdir={run_dir / 'tmp'}", "-Duser.timezone=UTC",
           f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
           "-cp", f"{classes}{os.pathsep}{jars / '*'}", "graft.perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--run-dir", str(run_dir), "--out", str(out),
           "--cores", str(n), "--tiny", str(a.tiny), "--inject", a.inject,
           "--expected", str(HERE / "catalog_expected.tsv")]
    if a.record_expected:
        cmd += ["--record", str(pathlib.Path(a.record_expected).resolve())]
    try:
        with open(log, "w") as lf:
            cmd += ["--launch-ms", str(int(time.time() * 1000))]
            proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=run_dir)
            try:
                proc.wait(timeout=max(10.0, DEADLINE_S - (time.time() - start)))
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                sys.stderr.write("perfbench: run exceeded its deadline\n")
                return 3
        text = log.read_text(errors="replace")
        for line in text.splitlines():
            if line.startswith("[perfbench]"):
                sys.stderr.write(line + "\n")
        if proc.returncode != 0 or not out.is_file():
            sys.stderr.write(text[-4000:])
            sys.stderr.write(f"perfbench: JVM exited with {proc.returncode}\n")
            return 2
        result = json.loads(out.read_text())
        want = declared_metrics(bool(a.trace))
        missing = [m for m in want if m not in result["metrics"]]
        extra = [m for m in result["metrics"] if m not in want]
        if missing or extra:
            sys.stderr.write(f"perfbench: metrics missing {missing}, undeclared {extra}\n")
            return 2
        result["metrics"] = {m: result["metrics"][m] for m in want}
        version = subprocess.run(["java", "-version"], capture_output=True, text=True).stderr
        print("provenance: " + json.dumps({
            "source_sha256": (build.BUILD / "classes.stamp").read_text(),
            "cores": n, "heap": h, "jdk": version.splitlines()[0] if version else "?",
            "vintage": next((l.split("] ", 1)[1] for l in text.splitlines()
                             if l.startswith("[perfbench] vintage")), "n/a"),
            "note": "BENCH_r*.json files were taken at c8/c32 on another host; "
                    "comparing them with these figures is invalid"}))
        print(json.dumps(result))
        return 0
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
