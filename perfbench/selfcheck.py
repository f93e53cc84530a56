"""Self-check of the benchmark.

    python3 perfbench/selfcheck.py          # determinism + sf0.001 smoke
    python3 perfbench/selfcheck.py --quick  # determinism only (no Spark)

Determinism: two generations with one seed are byte-identical, another
seed differs, and every source key tuple is unique (``generate``
raises otherwise). Smoke: each workload runs once untraced and once
traced at sf0.001 and must print a result line with the metrics
BENCHMARK.json names, every output checked correct.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[0] = ROOT

from perfbench import gen  # noqa: E402


def check_determinism() -> None:
    tmp = tempfile.mkdtemp(dir=ROOT, prefix=".perfbench_selfcheck")
    try:
        a = gen.generate(os.path.join(tmp, "a"), 7, 0.001)
        gen.generate(os.path.join(tmp, "b"), 7, 0.001)
        gen.generate(os.path.join(tmp, "c"), 8, 0.001)
        da, db, dc = (gen.digest(os.path.join(tmp, d)) for d in "abc")
        if da != db:
            raise SystemExit("generator is not deterministic for a fixed seed")
        if da == dc:
            raise SystemExit("generator ignores the seed")
        for v in "AB":
            for t, n in a.rows[v].items():
                if not 0 < n < a.rows["base"][t]:
                    raise SystemExit(f"version {v} of {t} drops no rows")
        print(f"determinism ok: {da[:16]}")
    finally:
        shutil.rmtree(tmp)


def smoke(workload: str, trace: int) -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    want = {m["name"] for m in spec["per_layer" if trace else "end_to_end"]}
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
           "--seconds", "1", "--trace", str(trace), "--sf", "0.001"]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if out.returncode != 0:
        raise SystemExit(f"{workload} trace={trace} exited {out.returncode}:\n{out.stderr[-3000:]}")
    result = json.loads(out.stdout.strip().splitlines()[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        raise SystemExit(f"{workload}: result keys {sorted(result)}")
    if set(result["metrics"]) != want:
        raise SystemExit(f"{workload}: metrics differ from BENCHMARK.json: "
                         f"{sorted(set(result['metrics']) ^ want)}")
    if not result["correct"] or result["attempted"] < 1:
        raise SystemExit(f"{workload}: {out.stdout[-3000:]}")
    print(f"smoke ok: {workload} trace={trace} attempted={result['attempted']} "
          f"failed={result['failed']}")


def main() -> None:
    check_determinism()
    if "--quick" in sys.argv[1:]:
        return
    for workload in ("migrate", "query_mix"):
        for trace in (0, 1):
            smoke(workload, trace)


if __name__ == "__main__":
    main()
