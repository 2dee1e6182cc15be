"""random_walks scale evidence: the r6c sorted-neighbor-array walk
kernel on a deterministic synthetic skewed graph at TWO parallelism
levels (same harness contract as scale_graph.py — local[LO] vs
local[HI] in separate JVMs, per-core heap, best-of-N, order-independent
result fingerprints).

Why this operator gets its own two-level run: the third optimization
session replaced its per-step (src, rank) adjacency join — which
re-shuffled and re-sorted the full 2E-row frame every step — with a
single-key join against per-node sorted neighbor ARRAYS
(graph._adjacency_lists). The walks are md5-deterministic, so the
(walk_id, step, node) multiset must be BYTE-IDENTICAL across cluster
sizes — exactly what the cross-level fingerprint asserts — and the
hubby graph (cubed-uniform endpoint) exercises the "a hub's array is
one row in one partition" claim at 10M edges.

Usage: python scripts/scale_walks.py [n_nodes] [n_edges] [walk_len]
       [walks_per_node] [trials]
       (defaults 2000000, 10000000, 4, 1, 2; SCALE_LEVELS="LO,HI")
Writes BENCH/SCALING_WALKS.md and prints one JSON line.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

RUNNER = r"""
import json, sys, time
master, n_nodes, n_edges, walk_len, wpn, trials = (
    sys.argv[1], int(sys.argv[2]), int(sys.argv[3]), int(sys.argv[4]),
    int(sys.argv[5]), int(sys.argv[6]))
cores = int(master.split("[")[1].rstrip("]"))
from pyspark.sql import functions as F
from generative_ner_spark.plans.session import build_session
from generative_ner_spark.operators import graph
spark = build_session(app_name=f"walks-scale-{cores}", master=master,
                      shuffle_partitions=cores * 2)
spark.sparkContext.setLogLevel("ERROR")

def edges(n_e):
    raw = spark.range(0, n_e).select(
        F.pmod(F.xxhash64("id", F.lit("a")), F.lit(n_nodes)).alias("x"),
        (F.pmod(F.xxhash64("id", F.lit("b")), F.lit(1 << 31))
         / F.lit(float(1 << 31))).alias("u"),
    ).select(
        "x",
        F.floor(F.lit(float(n_nodes)) * F.pow("u", F.lit(3.0)))
         .cast("long").alias("y"),
    ).where(F.col("x") != F.col("y"))
    return raw.select(
        F.least("x", "y").alias("src"), F.greatest("x", "y").alias("dst")
    ).distinct()

graph.random_walks(edges(20000), walk_len=2).count()  # warm up

e = edges(n_edges).repartition(cores * 2).persist()
n_real_edges = e.count()

best = None
fp = steps = None
for _ in range(trials):
    t0 = time.time()
    walks = graph.random_walks(e, walk_len=walk_len, walks_per_node=wpn)
    row = walks.agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("bit_xor(xxhash64(walk_id, step, node))").alias("h"),
    ).first()
    dt = time.time() - t0
    if best is None or dt < best:
        best = dt
    # walks are md5-deterministic: every trial of a level must agree
    # before the two levels are compared
    assert fp is None or (row["h"], row["n"]) == (fp, steps), (
        f"trials differ within {master}: fp/n_steps {row['h']}/{row['n']} "
        f"vs {fp}/{steps}")
    fp, steps = row["h"], row["n"]
print("WALKRESULT " + json.dumps({
    "master": master, "n_edges": n_real_edges, "n_steps": steps,
    "fp_walks": fp, "wall_s": round(best, 2),
    "steps_per_sec": round(steps / best, 1),
}))
"""


def run_level(master: str, n_nodes: int, n_edges: int, walk_len: int,
              wpn: int, trials: int, timeout: int | None = None) -> dict:
    timeout = timeout or 3600
    cores = int(master.split("[")[1].rstrip("]"))
    env = dict(os.environ, SPARK_DRIVER_MEM=f"{2 * cores}g")
    out = subprocess.run(
        [sys.executable, "-c", RUNNER, master, str(n_nodes), str(n_edges),
         str(walk_len), str(wpn), str(trials)],
        capture_output=True, text=True, env=env,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        timeout=timeout,
    )
    for line in out.stdout.splitlines():
        if line.startswith("WALKRESULT "):
            return json.loads(line[len("WALKRESULT "):])
    raise RuntimeError(
        f"no result from {master}: stdout={out.stdout[-2000:]} "
        f"stderr={out.stderr[-2000:]}")


def main() -> None:
    n_nodes = int(sys.argv[1]) if len(sys.argv) > 1 else 2_000_000
    n_edges = int(sys.argv[2]) if len(sys.argv) > 2 else 10_000_000
    walk_len = int(sys.argv[3]) if len(sys.argv) > 3 else 4
    wpn = int(sys.argv[4]) if len(sys.argv) > 4 else 1
    trials = int(sys.argv[5]) if len(sys.argv) > 5 else 2
    spec = os.environ.get("SCALE_LEVELS", "4,16")
    n_lo, n_hi = (int(x) for x in spec.split(","))
    lo = run_level(f"local[{n_lo}]", n_nodes, n_edges, walk_len, wpn, trials)
    hi = run_level(f"local[{n_hi}]", n_nodes, n_edges, walk_len, wpn, trials)
    identical = (lo["n_steps"] == hi["n_steps"]
                 and lo["fp_walks"] == hi["fp_walks"])
    speedup = hi["steps_per_sec"] / lo["steps_per_sec"]
    summary = {
        "n_nodes": n_nodes, "n_edges": lo["n_edges"],
        "walk_len": walk_len, "walks_per_node": wpn, "trials": trials,
        "levels": [n_lo, n_hi], "lo": lo, "hi": hi,
        "speedup_lo_to_hi": round(speedup, 3),
        "scaling_efficiency": round(speedup / (n_hi / n_lo), 3),
        "walk_fingerprints_identical": identical,
        "load_1min": round(os.getloadavg()[0], 2),
    }
    md = [
        "# SCALING_WALKS — random_walks (sorted neighbor-array kernel)",
        "",
        "Two separate JVMs (local[{}] vs local[{}]), deterministic skewed".format(n_lo, n_hi),
        "synthetic graph generated in-session (cubed-uniform endpoint =>",
        "hub skew), best-of-{} per level. Walks are md5-deterministic, so".format(trials),
        "the (walk_id, step, node) multiset must be byte-identical across",
        "levels — asserted via count + order-independent bit_xor(xxhash64)",
        "fingerprint.",
        "",
        "```json",
        json.dumps(summary, indent=2),
        "```",
        "",
        "NOTE the shared-sandbox caveat from BENCH/SCALING.md: single-box",
        "two-level ratios under-measure for shuffle/memory-bus-bound",
        "operators (both levels share one memory bus and, on this boot,",
        "32 SMT threads deliver ~21-23 effective cores); the cross-level",
        "BYTE-IDENTICAL fingerprint is the load-independent signal.",
    ]
    with open(os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "BENCH", "SCALING_WALKS.md"),
            "w") as f:
        f.write("\n".join(md) + "\n")
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
