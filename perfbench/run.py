"""Benchmark entry point: one workload, one seed, one run.

    python3 perfbench/run.py --workload index_partitioned --seed 1 --seconds 12 --trace 0

Run it from the root of a checkout of the repository. It generates the
seeded inputs under ``.perfbench/`` (which also holds Spark's scratch
space, so the run reads and writes nothing outside the checkout), starts
a local Spark session with the program's defaults except
``SPARK_GRAFT_CPUS`` (half the cores, see ``spark_cpus``), runs the
workload's operation in a closed loop for ``--seconds`` seconds (at least
the workload's ``min_ops`` times, in whole ``op_period``s, and no further
period once the next one is expected to end past ``--seconds``), checks
the outputs against independent oracles, and prints one JSON object as
the last line of standard output. A directory without the program makes
it exit with code 2 and print no result.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` runs the same
workload with a span around each call into a layer and Spark's event log
on, and reports the per-layer metrics instead; its spans and per-layer
table go to ``.perfbench/runs/<run>/``. ``perfbench/metrics.json`` maps
every metric to its layer and workloads.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
import traceback
from pathlib import Path
from statistics import median

HERE = Path(__file__).resolve().parent
MIN_TRACED_ITERS = 2  # a traced iteration is a plain, a spanned and a layer-prefix op


def _fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def spark_cpus() -> int:
    """Spark task slots: half the cores. A slot keeps a JVM task thread and,
    for the Arrow UDFs, a Python worker busy, so a slot per core leaves the
    JIT compiler, the GC and the driver to compete with the tasks; on a
    4-core host runs of the same code were steadier with 2 slots than with
    3 or 4, and no slower."""
    from perfbench.host import nproc

    return max(nproc() // 2, 1)


def _prepare_env(run_dir: Path) -> None:
    """Point every scratch location Spark and Python use into the checkout."""
    tmp = run_dir / "tmp"
    for d in (tmp / "local", tmp / "warehouse", tmp / "cache"):
        d.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp / "local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = str(tmp / "warehouse")
    os.environ["MIMIRSBRUNN_SPARK_CACHE"] = str(tmp / "cache")
    # every JVM (the spark-submit launcher and the Spark driver) keeps its scratch
    # files here; -XX:-UsePerfData stops the hsperfdata file in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    tempfile.tempdir = None


def _session(event_dir: Path | None):
    from mimirsbrunn_spark.session import get_spark

    conf = {"spark.ui.showConsoleProgress": "false"}
    if event_dir is not None:
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = event_dir.as_uri()
        # one plain JSON-lines file, so the fold needs no codec
        conf["spark.eventLog.rolling.enabled"] = "false"
        conf["spark.eventLog.compress"] = "false"
    return get_spark(app_name="perfbench", extra_conf=conf)


def _stop_session(spark) -> None:
    """Stop Spark and its gateway JVM, and wait for every child to end."""
    from pyspark import SparkContext

    from perfbench.host import descendants, stop_all

    pids = descendants()
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        if gw.proc is not None and gw.proc.stdin is not None:
            gw.proc.stdin.close()  # the gateway JVM exits when its stdin closes
    stop_all(pids)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=None)
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = Path.cwd()
    if not (root / "mimirsbrunn_spark" / "__init__.py").is_file() or not (root / "bench.py").is_file():
        return _fail(f"run from the repository root: no mimirsbrunn_spark/ or bench.py in {root}")
    spec = json.loads((root / "BENCHMARK.json").read_text()) if (root / "BENCHMARK.json").is_file() else {}
    from perfbench import host, trace
    from perfbench.workloads import WORKLOADS, percentile

    if args.workload not in WORKLOADS:
        return _fail(f"unknown workload {args.workload!r}; choose one of {sorted(WORKLOADS)}")
    meta = json.loads((HERE / "metrics.json").read_text())
    seed = meta["seeds"]["default"] if args.seed is None else args.seed
    seconds = float(spec.get("run_seconds", 10) if args.seconds is None else args.seconds)
    traced = args.trace == 1

    work = root / ".perfbench"
    run_dir = work / "runs" / f"{args.workload}_s{seed}_t{args.trace}_{os.getpid()}"
    run_dir.mkdir(parents=True, exist_ok=True)
    _prepare_env(run_dir)
    os.environ["SPARK_GRAFT_CPUS"] = str(spark_cpus())
    sys.path.insert(0, str(root))
    import bench  # the frozen harness: its /proc noise accounting is reused

    import mimirsbrunn_spark

    if Path(mimirsbrunn_spark.__file__).resolve().parent != (root / "mimirsbrunn_spark").resolve():
        return _fail("mimirsbrunn_spark resolves outside this checkout")

    age0 = host.process_age_s()
    phase = {"imports": age0}
    sampler = host.RssSampler().start()
    t0 = time.perf_counter()
    event_dir = None
    if traced:
        event_dir = run_dir / "eventlog"
        event_dir.mkdir(exist_ok=True)
    spark = _session(event_dir)
    start_s = time.perf_counter() - t0
    try:
        tracer = trace.Tracer(spark, traced)
        wl = WORKLOADS[args.workload](spark, tracer, run_dir, work / "cache", seed)
        tg = time.perf_counter()
        wl.inputs()
        gen_s = time.perf_counter() - tg
        ts = time.perf_counter()
        wl.setup()
        warm_s = time.perf_counter() - ts
        setup_s = age0 + (time.perf_counter() - t0) - gen_s

        stamp = host.host_stamp(spark)
        if traced:
            wl.traced_extras()

        op_s: list[float] = []
        plain_s: list[float] = []
        spanned_s: list[float] = []
        attempted = failed = 0
        sc = spark.sparkContext
        noise = host.NoiseWindow(bench)
        t_loop = time.perf_counter()
        i = 0
        min_iters = MIN_TRACED_ITERS if traced else wl.min_ops
        period = 1 if traced else wl.op_period
        while i < min_iters or i % period or _next_period_fits(time.perf_counter() - t_loop, i, period, seconds):
            if traced:
                # a plain op (no spans) and a spanned op, their order
                # alternating between iterations so the pairwise ratios
                # cancel the JIT's warm-up trend, then a layer-prefix op
                try:
                    for spanned in ((False, True) if i % 2 == 0 else (True, False)):
                        tracer.enabled = spanned
                        ta = time.perf_counter()
                        if spanned:
                            with tracer.span("workload.op", f"spanned{i}"):
                                attempted += wl.op()
                            spanned_s.append(time.perf_counter() - ta)
                        else:
                            sc.setJobGroup("workload.plain", "workload.plain", interruptOnCancel=False)
                            attempted += wl.op()
                            plain_s.append(time.perf_counter() - ta)
                            sc.setLocalProperty("spark.jobGroup.id", None)
                    tracer.enabled = True
                    with tracer.span("workload.op", f"layers{i}"):
                        attempted += wl.traced_op()
                except Exception:  # noqa: BLE001 - a failed op is counted, the loop goes on
                    traceback.print_exc()
                    attempted += 1
                    failed += 1
                finally:
                    tracer.enabled = True
            else:
                ta = time.perf_counter()
                try:
                    attempted += wl.op()
                    op_s.append(time.perf_counter() - ta)
                    wl.after_op()
                except Exception:  # noqa: BLE001 - a failed op is counted, the loop goes on
                    traceback.print_exc()
                    attempted += 1
                    failed += 1
            i += 1
            if failed > 3 and failed * 2 > attempted:
                break
        loop_s = time.perf_counter() - t_loop
        noise_info = noise.close()
        tracer.enabled = False
        try:
            tc = time.perf_counter()
            check_failed = wl.check()
            phase["check"] = time.perf_counter() - tc
        except Exception:  # noqa: BLE001 - a check that raises is a failed check
            traceback.print_exc()
            check_failed = 1
        failed += check_failed
        attempted = max(attempted, failed, 1)
    finally:
        tc = time.perf_counter()
        _stop_session(spark)
        phase["stop"] = time.perf_counter() - tc
    peak_mb = sampler.stop()
    for p in run_dir.iterdir():  # keep the reports, drop outputs and scratch space
        if p.is_dir() and p.name != "eventlog":
            shutil.rmtree(p, ignore_errors=True)

    details = {
        "workload": args.workload,
        "seed": seed,
        "seconds": seconds,
        "trace": args.trace,
        "host": stamp,
        "noise": noise_info,
        "phase_s": phase,
        "input_gen_s": gen_s,
        "session_start_s": start_s,
        "setup_after_session_s": warm_s,
        "loop_s": loop_s,
        "ops_timed": len(op_s),
        "attempted": attempted,
        "failed": failed,
        "failed_share": failed / attempted,
        "checks": wl.notes,
    }
    if not traced:
        metrics = {
            "setup_s": (setup_s, "s"),
            "op_ms_p50": (median(op_s) * 1e3 if op_s else 0.0, "ms"),
            "items_per_s": (wl.items_per_op / median(op_s) if op_s else 0.0, "1/s"),
        }
        details["peak_rss_mb"] = peak_mb
        if args.workload == "serve_mixed":
            for kind, xs in wl.latency.items():
                details[f"{kind}_ms_p50"] = median(xs) * 1e3 if xs else None
                details[f"{kind}_ms_p90"] = percentile(xs, 90) * 1e3 if xs else None
                details[f"{kind}_requests"] = len(xs)
        else:
            details["docs_per_s"] = metrics["items_per_s"][0]
        details["op_s"] = op_s
    else:
        folds = trace.by_layer(trace.fold_event_log(event_dir))
        metrics = _layer_metrics(wl, tracer, folds, start_s, warm_s, plain_s, spanned_s, peak_mb, meta)
        tracer.write(run_dir / "spans.jsonl")
        rows = [
            {"workload": args.workload, "metric": k, "layer": meta["per_layer"][k]["layer"],
             "value": v, "unit": u}
            for k, (v, u) in metrics.items()
            if args.workload in meta["per_layer"][k]["workloads"]
        ]
        (run_dir / "layers.json").write_text(json.dumps(rows, indent=1))
        details["event_log_groups"] = folds
    (run_dir / "result.json").write_text(json.dumps({**details, "metrics": metrics}, indent=1, default=str))
    for k, (v, u) in metrics.items():
        print(f"{args.workload:18s} {k:32s} {v:14.4f} {u}", file=sys.stderr)
    for k in ("reverse_ms_p50", "reverse_ms_p90", "autocomplete_ms_p50", "autocomplete_ms_p90",
              "docs_per_s", "peak_rss_mb", "failed_share"):
        if details.get(k) is not None:
            print(f"{args.workload:18s} {k:32s} {details[k]:14.4f}", file=sys.stderr)
    print(f"perfbench: details in {run_dir / 'result.json'}", file=sys.stderr)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def _next_period_fits(elapsed: float, done: int, period: int, seconds: float) -> bool:
    """Whether one more period of ops, at the run's mean op time so far, ends
    within ``seconds``; so a run never overshoots its time by a whole period."""
    return elapsed + period * elapsed / done <= seconds


def _layer_metrics(wl, tracer, folds, start_s, warm_s, plain_s, spanned_s, peak_mb, meta) -> dict:
    """Every per-layer metric of BENCHMARK.json; 0 where the workload does
    not run the layer (perfbench/metrics.json lists where each applies)."""
    n = max(len(wl.layer.get("pip.join_s", wl.layer.get("dedup.lsh_s", []))), 1)

    def fold(group: str, key: str) -> float:
        return folds.get(group, {}).get(key, 0) / n

    def med(key: str) -> float:
        xs = wl.layer.get(key)
        return median(xs) if xs else 0.0

    def mean(key: str) -> float:
        xs = wl.layer.get(key)
        return sum(xs) / len(xs) if xs else 0.0

    index = wl.name.startswith("index")
    selfs = tracer.self_times()
    roots = [s for s in tracer.spans if s["name"] == "workload.op" and s["request"].startswith("layers")]
    root_wall = sum(s["end"] - s["start"] for s in roots)
    covered = root_wall - sum(selfs[s["id"]] for s in roots)
    m = {
        "session.start_s": (start_s, "s"),
        "session.warm_s": (warm_s, "s"),
        "spans.extract_s": (med("spans.extract_s"), "s"),
        "spans.points_out": (float(getattr(wl, "n_points", 0)), "count"),
        "tiles.encode_s": (med("tiles.encode_s"), "s"),
        "pip.plan_s": (med("pip.plan_s"), "s"),
        "pip.plan_jobs": (med("pip.plan_jobs"), "count"),
        "pip.join_s": (med("pip.join_s"), "s"),
        "pip.python_bytes": (
            (fold("pip.run", "python_bytes") - fold("tiles.run", "python_bytes")) if index else 0.0,
            "bytes"),
        "pip.gc_s": ((fold("pip.run", "gc_ms") - fold("tiles.run", "gc_ms")) / 1e3 if index else 0.0,
                     "s"),
        "pip.shuffle_write_bytes": (
            fold("pip.run", "shuffle_write_bytes") - fold("tiles.run", "shuffle_write_bytes"), "bytes"),
        "pip.shuffle_read_bytes": (
            fold("pip.run", "shuffle_read_bytes") - fold("tiles.run", "shuffle_read_bytes"), "bytes"),
        "pip.spill_bytes": (fold("pip.run", "spill_bytes") - fold("tiles.run", "spill_bytes"), "bytes"),
        "pip.task_max_over_median": (
            folds.get("pip.run", {}).get("task_max_over_median", 0.0) if index else 0.0, "ratio"),
        "pip.admin_ids_out": (float(wl.notes.get("admin_ids_out", 0)), "count"),
        "pip.refine_us_per_point": (med("pip.refine_us_per_point"), "us"),
        "geometry.pip_us_per_point": (med("geometry.pip_us_per_point"), "us"),
        "layout.publish_s": (med("layout.publish_s"), "s"),
        "layout.lake_write_s": (getattr(wl, "lake_write_s", 0.0), "s"),
        "layout.plan_ms_p50": (med("layout.plan_ms"), "ms"),
        "layout.jobs_per_request": (mean("layout.jobs_per_request"), "count"),
        "layout.windows_per_request": (mean("layout.windows_per_request"), "count"),
        "layout.files_opened_share": (mean("layout.files_opened_share"), "ratio"),
        "knn.run_ms_p50": (med("knn.run_ms"), "ms"),
        "knn.hit_share": (mean("knn.hit_share"), "ratio"),
        "geocode.plan_ms_p50": (med("geocode.plan_ms"), "ms"),
        "geocode.jobs_per_request": (mean("geocode.jobs_per_request"), "count"),
        "geocode.run_ms_p50": (med("geocode.run_ms"), "ms"),
        "geocode.fuzzy_share": (mean("geocode.fuzzy"), "ratio"),
        "dedup.lsh_s": (med("dedup.lsh_s"), "s"),
        "dedup.candidate_pairs": (float(wl.notes.get("candidate_pairs", 0)), "count"),
        "dedup.shuffle_write_bytes": (fold("dedup.lsh", "shuffle_write_bytes"), "bytes"),
        "dedup.components_plan_s": (med("dedup.components_plan_s"), "s"),
        "similarity.plan_s": (med("similarity.plan_s"), "s"),
        "similarity.run_s": (med("similarity.run_s"), "s"),
        "similarity.spill_bytes": (
            fold("operators.similarity", "spill_bytes") + fold("similarity.run", "spill_bytes"),
            "bytes"),
        "run.peak_rss_mb": (peak_mb, "MB"),
        "driver.jobs": (folds.get("workload.plain", {}).get("jobs", 0) / max(len(plain_s), 1),
                        "count"),
        "trace.overhead_share": (
            median(s / p - 1.0 for p, s in zip(plain_s, spanned_s)) if plain_s and spanned_s else 0.0,
            "ratio"),
        "trace.coverage_share": (covered / root_wall if root_wall else 0.0, "ratio"),
    }
    missing = set(meta["per_layer"]) ^ set(m)
    if missing:
        raise KeyError(f"per-layer metrics out of sync with metrics.json: {sorted(missing)}")
    return m


if __name__ == "__main__":
    sys.path.insert(0, str(HERE.parent))
    sys.exit(main())
