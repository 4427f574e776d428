"""Run the ``slow`` test set and record its result.

The default pytest profile (``pytest.ini``) deselects tests marked
``slow``; this runs exactly that set, prints pytest's output as it
goes, writes the counts to ``SLOW_TESTS.json`` at the repo root and
exits with pytest's exit code.

    python tools/run_slow.py
"""

from __future__ import annotations

import json
import pathlib
import re
import subprocess
import sys
import time

ROOT = pathlib.Path(__file__).resolve().parent.parent
CMD = [sys.executable, "-m", "pytest", "tests/", "-q", "-m", "slow", "-p", "no:cacheprovider"]
OUTCOMES = ("passed", "failed", "skipped", "errors")


def summarize(output: str) -> dict[str, int]:
    """Outcome counts from pytest's final summary line
    (``3 passed, 1 failed, 2 errors in 9.1s``)."""
    lines = [ln for ln in output.splitlines() if re.search(r" in [\d.]+s", ln)]
    last = lines[-1] if lines else ""
    counts = dict.fromkeys(OUTCOMES, 0)
    for n, word in re.findall(r"(\d+) (\w+)", last):
        word = "errors" if word == "error" else word
        if word in counts:
            counts[word] = int(n)
    return counts


def main() -> int:
    t0 = time.monotonic()
    proc = subprocess.Popen(
        CMD, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True
    )
    output = []
    for line in proc.stdout:
        sys.stdout.write(line)
        output.append(line)
    code = proc.wait()
    result = {
        "command": " ".join(["python"] + CMD[1:]),
        **summarize("".join(output)),
        "duration_s": round(time.monotonic() - t0, 1),
        "exit_code": code,
    }
    (ROOT / "SLOW_TESTS.json").write_text(json.dumps(result, indent=2) + "\n")
    return code


if __name__ == "__main__":
    sys.exit(main())
