"""bench.py's command line: the headline (no flag), ``--scaling`` and the
internal ``--measure-build``.  Nothing here starts a JVM: ``--help`` and
an unknown flag exit before any Spark import, and the docs check only
reads files."""

import glob
import os
import re
import subprocess
import sys

from tests.conftest import REPO_ROOT

BENCH = os.path.join(REPO_ROOT, "bench.py")


def _bench(*args):
    return subprocess.run([sys.executable, BENCH, *args], capture_output=True,
                          text=True, timeout=60, cwd=REPO_ROOT)


def _modes() -> list[str]:
    out = _bench("--help")
    assert out.returncode == 0, out.stderr
    line = next(ln for ln in out.stdout.splitlines() if ln.startswith("modes:"))
    return [w for w in line.split() if w.startswith("--")]


def test_help_lists_exactly_the_two_modes():
    assert _modes() == ["--scaling", "--measure-build"]


def test_unknown_flag_exits_2():
    out = _bench("--sketches")
    assert out.returncode == 2
    assert "modes:" in out.stdout


def test_documented_bench_flags_are_accepted():
    docs = [os.path.join(REPO_ROOT, p) for p in (
        "README.md", "BENCH/BASELINE.md", ".claude/skills/verify/SKILL.md")]
    docs += glob.glob(os.path.join(REPO_ROOT, "tools", "*.py"))
    docs += glob.glob(os.path.join(REPO_ROOT, "jobs", "*.py"))
    modes = set(_modes())
    cited = {}
    for path in docs:
        with open(path, encoding="utf-8") as f:
            for flag in re.findall(r"bench\.py\s+(--[\w-]+)", f.read()):
                cited.setdefault(flag, []).append(os.path.relpath(path, REPO_ROOT))
    unknown = {f: files for f, files in cited.items() if f not in modes}
    assert not unknown, f"docs cite bench.py modes that do not exist: {unknown}"
