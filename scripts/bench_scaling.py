"""Two-parallelism scaling run (the BASELINE.json north-rule evidence).

No real cluster exists in this sandbox, so the N→4N executor scaling
criterion is evidenced by running the IDENTICAL KG job on the SAME
deterministic input at local[N] and local[4N] (fresh JVM each) and
reporting throughput at both plus efficiency = (T_N / T_4N) / 4.

Usage: PYTHONPATH=/root/repo python scripts/bench_scaling.py [n_convs] [N]
Writes/updates BENCH/SCALING.json and prints a summary.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

JOB = r"""
import json, sys, time
from batch_import_spark.session import build_session
from batch_import_spark.pipeline.kg import run_kg_pipeline
from batch_import_spark.sources.transcripts import alias_dict_df, generate_transcripts
from pyspark.sql import functions as F

cores = int(sys.argv[1]); n_convs = int(sys.argv[2])
mode = sys.argv[3] if len(sys.argv) > 3 else "pandas"
spark = build_session(app_name=f"kg-scaling-{cores}", master=f"local[{cores}]",
                      shuffle_partitions=max(cores * 2, 8))
spark.sparkContext.setLogLevel("ERROR")
t = generate_transcripts(spark, n_convs=n_convs, median_turns=16, hot_factor=100,
                         partitions=cores * 2).localCheckpoint(eager=True)
n_turns = t.count()
link_dict = None
# run 1 warms JIT/codegen/python workers; best-of-3 defuses the noisy
# shared sandbox (ambient load average >10 observed)
times = []
for i in range(3):
    t0 = time.time()
    res = run_kg_pipeline(t, alias_dict_df(spark), extraction=mode)
    n_edges = res.edges.count()
    times.append(time.time() - t0)
sec = min(times)
n_triples = res.edges.agg(F.sum("n_occurrences")).collect()[0][0]
print(json.dumps({"cores": cores, "mode": mode, "n_turns": n_turns, "sec": round(sec, 3),
                  "all_secs": [round(x, 3) for x in times],
                  "turns_per_sec": round(n_turns / sec, 1),
                  "triples": int(n_triples),
                  "triples_per_sec": round(n_triples / sec, 1),
                  "edges": n_edges}))
"""


def run_at(cores: int, n_convs: int, mode: str = "pandas") -> dict:
    out = subprocess.run(
        [sys.executable, "-c", JOB, str(cores), str(n_convs), mode],
        capture_output=True,
        text=True,
        env={**os.environ, "PYTHONPATH": "/root/repo"},
        timeout=1800,
    )
    lines = [l for l in out.stdout.splitlines() if l.startswith("{")]
    if not lines:
        raise RuntimeError(f"no output at cores={cores}: {out.stderr[-2000:]}")
    return json.loads(lines[-1])


def main() -> int:
    n_convs = int(sys.argv[1]) if len(sys.argv) > 1 else 8000
    n = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    modes = (sys.argv[3].split(",") if len(sys.argv) > 3 else ["pandas", "expr"])
    result = {"n_cores": n, "four_n_cores": 4 * n, "target": 0.8, "modes": {}}
    for mode in modes:
        r_n = run_at(n, n_convs, mode)
        r_4n = run_at(4 * n, n_convs, mode)
        eff = (r_4n["triples_per_sec"] / r_n["triples_per_sec"]) / 4
        result["modes"][mode] = {
            "at_n": r_n,
            "at_4n": r_4n,
            "scaling_efficiency": round(eff, 3),
        }
    os.makedirs("BENCH", exist_ok=True)
    with open("BENCH/SCALING.json", "w") as f:
        json.dump(result, f, indent=2)
    print(json.dumps(result, indent=2))
    return 0


if __name__ == "__main__":
    sys.exit(main())
