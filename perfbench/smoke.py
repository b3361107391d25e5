"""The benchmark's own smoke test.

    python3 perfbench/smoke.py

Runs every workload in ``BENCHMARK.json`` once untraced and once
traced, each for one second at sf0.001, and checks that

* the last stdout line is the result object and every end-to-end
  (untraced) or per-layer (traced) metric named in ``BENCHMARK.json``
  is printed with its unit;
* the outputs passed their checks and the error rate is 0.

It also prints the tracing overhead at that scale: the traced run's
end-to-end figures minus the untraced run's.  Exits 1 on any failure.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: input scale of every smoke run
SF = 0.001


def _run(workload: str, trace: int) -> tuple[dict, dict]:
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
         "--workload", workload, "--seed", "1", "--seconds", "1",
         "--trace", str(trace), "--sf", str(SF)],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        raise RuntimeError(f"{workload} trace={trace} exited "
                           f"{proc.returncode}: {proc.stderr[-2000:]}")
    return json.loads(lines[-2]), json.loads(lines[-1])


def _problems(spec: list[dict], result: dict, detail: dict) -> list[str]:
    out = []
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        out.append(f"result keys {sorted(result)}")
    if not result.get("correct") or result.get("failed") != 0 \
            or detail.get("error_rate") != 0:
        out.append(f"outputs failed: {detail.get('errors')}")
    got = result.get("metrics", {})
    for m in spec:
        v = got.get(m["name"])
        if v is None or v.get("unit") != m["unit"] \
                or not isinstance(v.get("value"), (int, float)):
            out.append(f"metric {m['name']}: {v}")
    extra = set(got) - {m["name"] for m in spec}
    if extra:
        out.append(f"unlisted metrics {sorted(extra)}")
    return out


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    failed = False
    for w in bench["workloads"]:
        name = w["name"]
        runs = {}
        for trace, spec in ((0, bench["end_to_end"]),
                            (1, bench["per_layer"])):
            detail, result = _run(name, trace)
            runs[trace] = detail
            problems = _problems(spec, result, detail)
            failed |= bool(problems)
            print(f"{name} trace={trace}: "
                  f"{'ok' if not problems else problems}", flush=True)
        overhead = {k: runs[1]["end_to_end"][k] - v
                    for k, v in runs[0]["end_to_end"].items()}
        print(f"{name} tracing overhead (traced - untraced): "
              f"{json.dumps(overhead)}", flush=True)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
