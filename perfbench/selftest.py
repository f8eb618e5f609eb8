"""Self-test of the benchmark itself (about six minutes on 4 cores).

    python3 perfbench/selftest.py

Checks, against ``BENCHMARK.json``:

1. every workload completes with ``--trace 0`` and ``--trace 1`` and prints
   each declared metric, with its declared unit, as the last stdout line;
2. a deliberately wrong expected fingerprint drives ``success_rate`` below 1
   and ``correct`` to false, so the output check can fail;
3. a tree holding only ``BENCHMARK.json`` and the benchmark's own files
   makes the benchmark exit non-zero without printing a result.

Exits 1 on the first failed check.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
OUT = HERE / "out" / "selftest"


def bench(args: list[str], cwd: Path = ROOT) -> tuple[int, dict | None]:
    p = subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                       capture_output=True, text=True, timeout=180)
    lines = p.stdout.strip().splitlines()
    try:
        return p.returncode, json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        return p.returncode, None


def check(cond: bool, what: str) -> None:
    print(f"{'ok  ' if cond else 'FAIL'} {what}", flush=True)
    if not cond:
        sys.exit(1)


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    shutil.rmtree(OUT, ignore_errors=True)
    OUT.mkdir(parents=True)
    for w in spec["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            code, res = bench(["--workload", w["name"], "--seed", "7",
                               "--seconds", "1", "--trace", str(trace)])
            check(code == 0 and res is not None, f"{w['name']} trace={trace} completes")
            check(set(res) == {"correct", "attempted", "failed", "metrics"}
                  and res["correct"] and res["failed"] == 0,
                  f"{w['name']} trace={trace} outputs correct")
            check(all(isinstance(v["value"], (int, float)) for v in res["metrics"].values()),
                  f"{w['name']} trace={trace} metric values are numbers")
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            check(got == want,
                  f"{w['name']} trace={trace} prints every {key} metric with its unit")

    wrong = json.loads((HERE / "expected.json").read_text())
    wrong["rows"]["tpch_q1_pricing_summary"]["fingerprint"] = "0" * 64
    bad = OUT / "wrong-expected.json"
    bad.write_text(json.dumps(wrong))
    code, res = bench(["--workload", "warehouse", "--seed", "7", "--seconds", "1",
                       "--trace", "0", "--expected", str(bad)])
    check(code == 0 and res is not None, "run with a wrong expected value completes")
    check(not res["correct"] and res["failed"] > 0
          and res["metrics"]["success_rate"]["value"] < 1,
          "a wrong expected fingerprint drives success_rate below 1")

    bare = OUT / "bare"
    bare.mkdir()
    shutil.copy(ROOT / "BENCHMARK.json", bare)
    for p in spec["paths"]:
        shutil.copytree(ROOT / p, bare / p, ignore=shutil.ignore_patterns("out", "__pycache__"))
    code, res = bench(["--workload", "warehouse", "--seed", "7", "--seconds", "1",
                       "--trace", "0"], cwd=bare)
    check(code != 0 and res is None, "a tree without the engine exits non-zero, no result")
    shutil.rmtree(OUT, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
