"""Self-test of the benchmark command at minimal size.

    python3 perfbench/selftest.py

For every workload it runs ``run.py --size tiny`` twice: once plain,
which must exit 0 with ``"correct": true``, and once with ``--corrupt``
(one output damaged before the checks), which must exit non-zero with
``"correct": false`` and at least one failed operation. It also runs the
command from a directory holding only ``BENCHMARK.json`` and this
package, where it must exit non-zero without printing a result. Prints
one line per case and exits 0 only when every case behaved.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TIMEOUT_S = 300


def _run(cwd: str, args: list[str]) -> tuple[int, dict | None, str]:
    p = subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                       capture_output=True, text=True, timeout=TIMEOUT_S)
    lines = p.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        result = None
    return p.returncode, result, p.stderr[-2000:]


def main() -> int:
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    ok = True
    for wl in sorted(WORKLOADS):
        base = ["--workload", wl, "--seed", "7", "--seconds", "2", "--trace", "0", "--size", "tiny"]
        code, res, err = _run(ROOT, base)
        good = code == 0 and res is not None and res["correct"] and res["failed"] == 0
        print(f"{wl:22s} plain    exit={code} correct={res and res['correct']} "
              f"{'ok' if good else 'BAD'}")
        if not good:
            print(err, file=sys.stderr)
        ok &= good
        code, res, err = _run(ROOT, base + ["--corrupt"])
        good = code != 0 and res is not None and not res["correct"] and res["failed"] >= 1
        print(f"{wl:22s} corrupt  exit={code} correct={res and res['correct']} "
              f"failed={res and res['failed']} {'ok' if good else 'BAD'}")
        ok &= good

    bare = os.path.join(ROOT, ".perfbench", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    code, res, _ = _run(bare, ["--workload", "ingest_corpus", "--seed", "1",
                               "--seconds", "1", "--trace", "0"])
    shutil.rmtree(bare, ignore_errors=True)
    good = code != 0 and res is None
    print(f"{'(no engine)':22s} bare     exit={code} result={res is not None} "
          f"{'ok' if good else 'BAD'}")
    ok &= good
    print("selftest", "passed" if ok else "FAILED")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
