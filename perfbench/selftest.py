"""Self-test of the benchmark's checks: runs a tiny seed of each workload
as is, with a deliberately wrong expectation, and with a forced entry
(or night) failure. The clean run must pass with failed = 0; each broken
one must raise `failed`, so the checks are not vacuous.

    python3 perfbench/selftest.py
"""
import json
import pathlib
import subprocess
import sys

RUN = pathlib.Path(__file__).resolve().parent / "run.py"


def run(workload: str, inject: str) -> dict:
    p = subprocess.run([sys.executable, str(RUN), "--workload", workload, "--seed", "7",
                        "--seconds", "1", "--trace", "0", "--tiny", "1", "--inject", inject],
                       capture_output=True, text=True)
    if p.returncode != 0:
        sys.exit(f"selftest: {workload}/{inject} exited {p.returncode}\n{p.stderr[-3000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def main() -> int:
    bad = []
    for workload in ("daily_deep", "catalog"):
        for inject in ("none", "wrong_expectation", "entry_failure"):
            r = run(workload, inject)
            ratio = r["failed"] / r["attempted"]
            ok = (ratio == 0 and r["correct"]) if inject == "none" else (ratio > 0 and not r["correct"])
            print(f"{workload:10s} {inject:18s} attempted={r['attempted']} failed={r['failed']} "
                  f"fail_ratio={ratio:.3f} {'ok' if ok else 'WRONG'}", flush=True)
            if not ok:
                bad.append(f"{workload}/{inject}")
    if bad:
        print("selftest FAILED: " + ", ".join(bad))
        return 1
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
