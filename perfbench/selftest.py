"""Self-test of the benchmark on tiny seeded inputs.

    python3 perfbench/selftest.py

Runs perfbench/run.py as a subprocess from the checkout root, once untraced and
once traced per workload, on the tiny input size, and checks that:

- the last stdout line is the result object, and it names every metric
  BENCHMARK.json lists for that mode, each with its unit;
- no operation raised or mismatched its oracle (fail_ratio is 0);
- the traced ``itemcf.recommend.rows_out`` equals the row count of the
  untraced ``q_cf_recommend`` result.

Exits 0 when every check holds. Takes a few minutes: each run starts a
Spark session.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SEED = 7


def bench(workload: str, trace: int) -> tuple[dict, dict]:
    """(result object, run record) of one tiny run."""
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
        "--seed", str(SEED), "--seconds", "1", "--trace", str(trace), "--tiny",
    ]
    out = subprocess.run(
        cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
        text=True, timeout=600,
    )
    if out.returncode != 0:
        raise RuntimeError(f"{' '.join(cmd)} exited {out.returncode}")
    result = json.loads(out.stdout.strip().splitlines()[-1])
    record_file = os.path.join(
        ROOT, ".perfbench", "records", f"{workload}-seed{SEED}-trace{trace}.json"
    )
    with open(record_file) as f:
        return result, json.load(f)["record"]


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    problems: list[str] = []
    untraced_rows = None
    for w in (x["name"] for x in spec["workloads"]):
        for trace, listed in ((0, spec["end_to_end"]), (1, spec["per_layer"])):
            result, record = bench(w, trace)
            tag = f"{w} trace={trace}"
            if set(result) != {"correct", "attempted", "failed", "metrics"}:
                problems.append(f"{tag}: result keys {sorted(result)}")
            if result["failed"] or not result["correct"] or record["fail_ratio"]:
                problems.append(f"{tag}: {result['failed']} of {result['attempted']} failed")
            want = {m["name"]: m["unit"] for m in listed}
            got = {k: v.get("unit") for k, v in result["metrics"].items()}
            if got != want:
                problems.append(f"{tag}: metrics/units differ from BENCHMARK.json: "
                                f"missing {sorted(set(want) - set(got))}, "
                                f"extra {sorted(set(got) - set(want))}, "
                                f"units {[k for k in want if got.get(k, want[k]) != want[k]]}")
            if "q_cf_recommend" in record["result_rows"]:
                if trace == 0:
                    untraced_rows = record["result_rows"]["q_cf_recommend"]
                else:
                    traced = result["metrics"]["itemcf.recommend.rows_out"]["value"]
                    if traced != untraced_rows:
                        problems.append(f"{tag}: itemcf.recommend.rows_out {traced} != "
                                        f"untraced q_cf_recommend rows {untraced_rows}")
            print(f"ran {tag}: {result['attempted']} operations checked")
    for p in problems:
        print(f"FAIL {p}")
    print("self-test " + ("failed" if problems else "passed"))
    return 1 if problems else 0


if __name__ == "__main__":
    raise SystemExit(main())
