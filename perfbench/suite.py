"""Run every workload of BENCHMARK.json once and print one table.

    python3 perfbench/suite.py [--seed N] [--trace 0|1]

Each workload runs in its own process through ``run.py`` (a Spark JVM
starts once per process). With ``--trace 0`` the table holds every
end-to-end metric plus the serving percentiles and ``failed_share``; with
``--trace 1`` it holds the per-layer rows of every workload, which are
also written to ``.perfbench/layers.json`` together with the spans files'
locations.
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
from pathlib import Path

# reported by run.py in result.json, outside the bounded metrics
EXTRA = {
    "docs_per_s": "1/s",
    "reverse_ms_p50": "ms", "reverse_ms_p90": "ms", "reverse_requests": "count",
    "autocomplete_ms_p50": "ms", "autocomplete_ms_p90": "ms", "autocomplete_requests": "count",
    "peak_rss_mb": "MB",
    "failed_share": "ratio",
}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=None)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    root = Path.cwd()
    spec = json.loads((root / "BENCHMARK.json").read_text())
    here = Path(__file__).resolve().parent
    rows, layers, failed = [], [], 0
    for w in spec["workloads"]:
        cmd = [sys.executable, str(here / "run.py"), "--workload", w["name"], "--trace", str(args.trace)]
        if args.seed is not None:
            cmd += ["--seed", str(args.seed)]
        proc = subprocess.run(cmd, capture_output=True, text=True)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(proc.stderr[-4000:], file=sys.stderr)
            print(f"{w['name']}: run failed (exit {proc.returncode})")
            failed += 1
            continue
        res = json.loads(lines[-1])
        failed += not res["correct"]
        for k, m in res["metrics"].items():
            rows.append((w["name"], k, m["value"], m["unit"]))
        details = next(
            line.split(" in ", 1)[1] for line in proc.stderr.splitlines()
            if line.startswith("perfbench: details in ")
        )
        d = json.loads(Path(details).read_text())
        if args.trace:
            run_dir = Path(details).parent
            for r in json.loads((run_dir / "layers.json").read_text()):
                layers.append({**r, "spans": str(run_dir / "spans.jsonl")})
        else:
            rows += [(w["name"], k, d[k], u) for k, u in EXTRA.items() if d.get(k) is not None]
    if args.trace:
        (root / ".perfbench").mkdir(exist_ok=True)
        (root / ".perfbench" / "layers.json").write_text(json.dumps(layers, indent=1))
        rows = [(r["workload"], r["metric"], r["value"], r["unit"]) for r in layers]
    for w, k, v, u in rows:
        print(f"{w:18s} {k:32s} {v:16.4f} {u}")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
