"""First-invocation pin for a set of queries (VERDICT r13 ask #2):
one fresh subprocess per sample, q1 warm-up (JVM/footers/Arrow), then
the query's FIRST noop-sink invocation timed — the bench's protocol —
plus the bench's fixed Spark calibration job so a degraded-box sample
is recognizable. ROUND-ROBIN over the query list (not per-query
batches) so a box drift mid-session hits all queries equally.

Usage: python scripts/pin_query.py [--cpus N] <sf_dir> <rounds> <query> [query ...]

``--cpus`` (default: this machine's CPU count) sizes each child's
local Spark session.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_CHILD = r"""
import os, sys, time, json
name, sf, root, cpus = sys.argv[1:5]
sys.path.insert(0, root)
# the Python UDF workers inherit the environment, not sys.path
os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [root, os.environ.get("PYTHONPATH")]))
from overturelink_data_pipeline_spark.session import get_spark
from overturelink_data_pipeline_spark import registry
registry.load_all()
spark = get_spark(app_name="pin-child", cpus=cpus)

def noop(df):
    df.write.format("noop").mode("overwrite").save()

noop(registry.QUERIES["q1_pricing_summary"](spark, sf))
t0 = time.perf_counter()
spark.range(2_000_000_000).selectExpr("bit_xor(xxhash64(id)) AS s").write.format(
    "noop"
).mode("overwrite").save()
calib = time.perf_counter() - t0
t0 = time.perf_counter()
noop(registry.QUERIES[name](spark, sf))  # FIRST invocation — the bench's number
first = time.perf_counter() - t0
print("CHILD_RESULT " + json.dumps({"first_s": first, "calib_s": calib}))
"""


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("sf_dir")
    ap.add_argument("rounds", type=int)
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--cpus", type=int, default=os.cpu_count())
    args = ap.parse_args()
    sf, rounds, names = args.sf_dir, args.rounds, args.queries
    results: dict[str, list] = {n: [] for n in names}
    for r in range(rounds):
        for name in names:
            out = subprocess.run(
                [sys.executable, "-c", _CHILD, name, sf, REPO_ROOT, str(args.cpus)],
                capture_output=True,
                text=True,
                timeout=900,
            )
            res = None
            for line in out.stdout.splitlines():
                if line.startswith("CHILD_RESULT "):
                    res = json.loads(line.split(" ", 1)[1])
            if res is None:
                print(f"round {r} {name}: CHILD FAILED {out.stderr[-200:]}")
                continue
            results[name].append(res)
            print(
                f"round {r} {name:36s} first {res['first_s']:6.2f}s  "
                f"calib {res['calib_s']:5.2f}s",
                flush=True,
            )
    for name, rs in results.items():
        if not rs:
            continue
        firsts = sorted(x["first_s"] for x in rs)
        med = firsts[len(firsts) // 2]
        print(
            f"PIN {name:36s} min {firsts[0]:6.2f}  med {med:6.2f}  "
            f"all {' '.join(f'{x:.2f}' for x in firsts)}"
        )


if __name__ == "__main__":
    main()
