"""Scaling-efficiency evidence for the north rule (N vs 4N executors).

No real cluster exists in this sandbox, so per BASELINE.md we run the
identical flagship job (extract → tile → broadcast PIP → rollup) on the
identical input at two local parallelism levels — local[8] and local[32]
— in separate JVMs (subprocess per level, cold session each), and report
docs/sec at both plus scaling efficiency = T_N / (4 · T_4N).

Writes BENCH/BASELINE.md. Usage: python bench_scaling.py [n_docs] [N] [4N]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent

_WORKER = r"""
import json, sys, time
sys.path.insert(0, %(repo)r)
from pyspark.sql import functions as F
from mimirsbrunn_spark.session import get_spark
from mimirsbrunn_spark.operators.spans import extract_geo_points
from mimirsbrunn_spark.operators.pip import attach_admins
from mimirsbrunn_spark.tiles import with_grid_cells

cpus = int(sys.argv[1])
docs_path, admins_path = sys.argv[2], sys.argv[3]
spark = get_spark(app_name=f"scaling_{cpus}", cpus=cpus, shuffle_partitions=cpus)
docs = spark.read.parquet(docs_path)
admins = spark.read.parquet(admins_path)
n_docs = docs.count()

def _warm(it):
    import numpy  # noqa
    yield from it
spark.range(cpus * 2).repartition(cpus * 2).mapInPandas(_warm, "id long").count()

def q1():
    pts = with_grid_cells(extract_geo_points(docs), "lon", "lat")
    att = attach_admins(pts.select("h3_7", "lon", "lat"), admins, strategy="broadcast")
    return (att.select("h3_7", F.try_element_at("admin_ids", F.lit(1)).alias("admin_id"))
            .groupBy("admin_id").agg(F.count("*").alias("n")).count())

times = []
for _ in range(5):
    t0 = time.perf_counter(); q1(); times.append(time.perf_counter() - t0)
best = min(times)
print(json.dumps({"cpus": cpus, "n_docs": n_docs, "times": [round(t,3) for t in times],
                  "best_sec": round(best, 3), "docs_per_sec": round(n_docs / best, 1)}))
"""


def run_level(cpus: int, docs_path: str, admins_path: str) -> dict:
    script = _WORKER % {"repo": str(REPO)}
    out = subprocess.run(
        [sys.executable, "-c", script, str(cpus), docs_path, admins_path],
        capture_output=True, text=True, timeout=1800,
    )
    if out.returncode != 0:
        raise RuntimeError(f"level {cpus} failed:\n{out.stderr[-3000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> None:
    import argparse

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("n_docs", type=int, nargs="?", default=2_400_000)
    ap.add_argument("n_level", type=int, nargs="?", default=8, help="N cores")
    ap.add_argument("xn_level", type=int, nargs="?", default=None, help="4N cores (default 4*N)")
    args = ap.parse_args()
    n_docs, n_level = args.n_docs, args.n_level
    xn_level = args.xn_level or 4 * n_level
    # reuse bench corpus machinery at a dedicated size
    from mimirsbrunn_spark.session import get_spark
    from bench import ensure_corpus

    sf_equiv = n_docs / 1_500_000
    spark = get_spark(app_name="scaling_datagen", cpus=32)
    docs_path, admins_path, n_docs = ensure_corpus(spark, sf_equiv, REPO / ".bench_cache" / "scaling")
    spark.stop()
    time.sleep(2)

    # interleave levels (two cold JVMs each) so co-tenant noise bursts hit
    # both levels equally; min-of-all is the steady-state estimate.
    runs = {n_level: [], xn_level: []}
    for cpus in (n_level, xn_level, n_level, xn_level):
        r = run_level(cpus, docs_path, admins_path)
        runs[cpus].append(r)
    lo = min(runs[n_level], key=lambda r: r["best_sec"])
    lo["times"] = sorted(t for r in runs[n_level] for t in r["times"])
    lo["best_sec"] = lo["times"][0]
    lo["docs_per_sec"] = round(n_docs / lo["best_sec"], 1)
    hi = min(runs[xn_level], key=lambda r: r["best_sec"])
    hi["times"] = sorted(t for r in runs[xn_level] for t in r["times"])
    hi["best_sec"] = hi["times"][0]
    hi["docs_per_sec"] = round(n_docs / hi["best_sec"], 1)
    eff = round(lo["best_sec"] / (4.0 * hi["best_sec"]), 3)

    report = {
        "job": "flagship: extract geo spans -> h3 tiles -> broadcast PIP -> rollup",
        "input_docs": n_docs,
        "N_cores": lo,
        "fourN_cores": hi,
        "scaling_efficiency": eff,
        "rule": "efficiency = T_N / (4 * T_4N), target >= 0.8",
    }
    print(json.dumps(report))

    bench_dir = REPO / "BENCH"
    bench_dir.mkdir(exist_ok=True)
    header_and_scaling = f"""# BENCH/BASELINE — scaling-efficiency evidence (N vs 4N)

Per the north rule, the two-cluster-size criterion is evidenced in this
sandbox by running the identical flagship job on the identical input at
two local parallelism levels in separate cold JVMs.

Job: interleaved docs → geo-span extraction (Catalyst) → H3 res-7..12
tile encoding (JVM expressions) → broadcast PIP admin attachment
(map-side, zero shuffle, vectorized refine) → per-admin rollup.

| level | cores | runs (sec) | best (sec) | docs/sec |
|---|---|---|---|---|
| N  | {n_level}  | {lo['times']} | {lo['best_sec']} | {lo['docs_per_sec']} |
| 4N | {xn_level} | {hi['times']} | {hi['best_sec']} | {hi['docs_per_sec']} |

- input: {n_docs:,} interleaved docs (deterministic seeded corpus, octagon
  admin hierarchy from `mimirsbrunn_spark/datagen.py`)
- **scaling efficiency = {lo['best_sec']} / (4 × {hi['best_sec']}) = {eff}**
  (target ≥ 0.8)
- reference single-node baseline: ≈20–25k docs/s (BASELINE.md); this
  engine at 4N: {hi['docs_per_sec']} docs/s.

Why it scales: the flagship plan has **no shuffle before the final small
rollup** — extraction/tiling are whole-stage-codegen'd JVM expressions
and the PIP join is map-side (admin dim broadcast once per executor,
Arrow-vectorized refine). Work is embarrassingly parallel over input
splits, so wall time tracks 1/cores until input splits or the Python
worker pool run out.
"""
    # regenerate ONLY the header + scaling section; keep every other
    # section (skew report, why-N, strategy comparison) intact
    target = bench_dir / "BASELINE.md"
    if target.exists():
        old = target.read_text()
        cut = old.find("\n## ")
        rest = old[cut:] if cut >= 0 else ""
        target.write_text(header_and_scaling.rstrip() + "\n" + rest)
    else:
        target.write_text(header_and_scaling)
    print(f"wrote {target}")


if __name__ == "__main__":
    main()
