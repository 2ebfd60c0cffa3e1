"""Self-test of the benchmark's correctness gate.

    python3 perfbench/selftest.py            # digest checks + one short run
    python3 perfbench/selftest.py --quick    # digest checks only, no Spark

Run from the repository root. The short run is a cdc_tail run with
``--wrong-digest``: its expected table digest is corrupted on purpose, and
the run must report ``correct: false`` with at least one failed operation.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import digest  # noqa: E402


def check_digests() -> None:
    rows = [
        ("doc-1", [1, 2, 3], 3, "src0", None),
        ("doc-2", [7], 1, "src1", "en"),
    ]
    want = digest.of_rows(rows)
    assert digest.of_rows(reversed(rows)) == want, "digest depends on row order"
    changed = [rows[0], ("doc-2", [7], 1, "src1", "de")]
    assert digest.of_rows(changed) != want, "a changed value kept the digest"
    assert digest.of_rows(rows[:1]) != want, "a missing row kept the digest"
    assert digest.of_rows(rows + rows[:1]) != want, "a duplicate row kept the digest"
    print("digest checks passed")


def check_wrong_digest_run() -> None:
    cmd = [
        sys.executable, os.path.join("perfbench", "run.py"),
        "--workload", "cdc_tail", "--seed", "7", "--seconds", "3",
        "--trace", "0", "--wrong-digest",
    ]
    out = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    if out.returncode != 0:
        raise AssertionError(f"run failed (rc={out.returncode}):\n{out.stderr[-3000:]}")
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert result["correct"] is False, result
    assert result["failed"] >= 1, result
    print(f"wrong-digest run reported failed={result['failed']} correct=false")


if __name__ == "__main__":
    check_digests()
    if "--quick" not in sys.argv:
        check_wrong_digest_run()
