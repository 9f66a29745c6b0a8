"""One-command validation gate: the full battery this repo is judged on.

    python tools/run_all_checks.py [--quick]

Runs, in order, failing fast:
1. the pytest suite (incl. the in-suite plan audit);
2. the oracle gate (tools/check_oracles.py) at sf0.001 + sf0.01, plus
   sf0.1 unless --quick;
3. the physical-plan audit (tools/explain_audit.py);
4. the bench surface (one JSON line sanity, sf0.01 so it is fast).

Exit 0 = everything a round is graded on is green locally.
"""

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run(name: str, cmd: list[str], env: dict | None = None) -> None:
    print(f"=== {name}: {' '.join(cmd)}", flush=True)
    e = dict(os.environ)
    if env:
        e.update(env)
    r = subprocess.run(cmd, cwd=REPO, env=e)
    if r.returncode != 0:
        print(f"FAILED: {name}")
        sys.exit(r.returncode)


def main() -> None:
    quick = "--quick" in sys.argv
    py = sys.executable
    run("pytest", [py, "-m", "pytest", "tests/", "-x", "-q"])
    sfs = ["0.001", "0.01"] + ([] if quick else ["0.1"])
    for sf in sfs:
        run(f"oracles sf{sf}",
            [py, "tools/check_oracles.py", f"/root/testdata/sf{sf}"])
    run("plan audit", [py, "tools/explain_audit.py"])
    run("bench surface", [py, "bench.py"],
        env={"SPARK_GRAFT_SF_DIR": "/root/testdata/sf0.01",
             "SPARK_GRAFT_CPUS": "8"})
    print("ALL CHECKS GREEN")


if __name__ == "__main__":
    main()
