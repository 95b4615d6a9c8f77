"""Urban-core skew defense: hot-cell detection, salting, AQE conf.

At planetary scale a handful of res-7 cells (city centers) hold orders
of magnitude more points than the median cell — the reference never
faces this (single-process R-tree), but any shuffle keyed on cell id
would straggle (SURVEY §7 risk 3). Two complementary defenses:

1. **AQE skew-join splitting** — enabled session-wide (session.py);
   handles skew discovered at runtime for sort-merge joins.
2. **Explicit cell splitting ("salting by resolution")** — hot cells
   detected on a sample are re-keyed to their res+k children, cold cells
   keep the coarse key. Deterministic, content-derived (no random salt),
   so both join sides can compute the same salted key independently —
   which a random salt cannot do for an equi-join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..tiles import _I_SHIFT, _RES_SHIFT, grid_cell_col


def detect_hot_cells(
    points: DataFrame,
    lon_col: str = "lon",
    lat_col: str = "lat",
    res: int = 7,
    sample_fraction: float = 0.05,
    hot_multiplier: float = 20.0,
    min_sample_rows: int = 50_000,
) -> list[int]:
    """Cells whose (sampled) point count exceeds hot_multiplier × median.

    The median threshold is computed IN-CLUSTER (percentile_approx) and
    only the hot cells cross the driver boundary: at planetary res-7
    occupancy the full histogram is 10^6–10^7 cells (tens of MB of driver
    transfer) while the hot list is, by construction, a handful — so the
    driver transfer is bounded by the answer size, not the cell count."""
    sample = points.sample(fraction=sample_fraction, seed=42)
    counts = (
        sample.select(grid_cell_col(lon_col, lat_col, res).alias("cell"))
        .groupBy("cell")
        .agg(F.count("*").alias("n"))
    )
    # percentile_approx(n, 0.5) with high accuracy ≈ the exact median for
    # integer counts; greatest(.., 1.0) keeps the empty/degenerate cases safe.
    thr = counts.agg(
        F.greatest(
            F.expr("percentile_approx(n, 0.5, 100000)") * F.lit(float(hot_multiplier)),
            F.lit(1.0),
        ).alias("thr")
    )
    hot = (
        counts.join(F.broadcast(thr))
        .where(F.col("n") > F.col("thr"))
        .select("cell")
        .collect()
    )
    return sorted(r["cell"] for r in hot)


def salted_cell_col(
    lon_col: str,
    lat_col: str,
    base_res: int,
    hot_cells: list[int],
    fine_res: int | None = None,
) -> Column:
    """Deterministic salted key: points in hot base-res cells are keyed at
    fine_res (default base+2 → up to 16 subkeys per hot cell), others at
    base_res. Both sides of an equi-join can apply this identically."""
    if fine_res is None:
        fine_res = base_res + 2
    base = grid_cell_col(lon_col, lat_col, base_res)
    fine = grid_cell_col(lon_col, lat_col, fine_res)
    if not hot_cells:
        return base.alias("salted_cell")
    return F.when(base.isin(hot_cells), fine).otherwise(base).alias("salted_cell")


def ensure_parallelism(df: DataFrame) -> DataFrame:
    """Round-robin rebalance of an under-parallel narrow lineage — the
    "one huge unsplittable file" defense (optimization guide §2.5: fix
    input skew "immediately after the read"; §2.6 idle capacity).

    A parquet file can only split across its row groups: a scan of a
    single-file, single-row-group table feeds every downstream map stage
    from ONE task no matter how many cores the cluster has, so an
    expensive per-row operator (the mapInPandas PIP refine, MinHash
    signatures, the geocode score expression, cosine folds) runs at 1/N
    of the machine. When the incoming *narrow* lineage plans fewer
    partitions than the session's default parallelism, repartition()
    round-robin up to that parallelism. Scale-adaptive by construction:

    - a lineage that already contains a shuffle exchange is left alone —
      its parallelism is spark.sql.shuffle.partitions (cluster-sized);
    - a multi-file / many-row-group table (any realistic 100-TB input)
      plans >= cluster parallelism and is left alone;
    - only the degenerate under-split scan pays one cheap narrow-row
      shuffle to unlock the whole machine.

    Call it at the consuming operator right before heavy per-row work,
    never at the source (a repartition between scan and filter would
    block predicate pushdown, guide §6). The partition probe reads the
    planned partitioning only — no job runs for narrow plans (broadcast
    stages under the plan may be materialized, bounded by broadcast
    size).

    Only a SEVERE deficit fires the rebalance — fewer planned partitions
    than a quarter of the default parallelism. The exchange has a fixed
    cost (stage barrier, serialization, an AQE materialization point):
    an A/B on the flagship corpus at sf0.1 (8 scan partitions on 32
    cores) measured the rebalance LOSING 0.4 s, while the 1-2-partition
    degenerate scans it exists for win seconds. A quarter separates the
    two regimes with margin on both sides.
    """
    n_target = df.sparkSession.sparkContext.defaultParallelism
    fire_below = max(2, n_target // 4)
    try:
        plan = df._jdf.queryExecution().executedPlan().toString()
        # a shuffle exchange anywhere in the lineage already re-spreads
        # rows across shuffle.partitions; only broadcast-free narrow
        # plans inherit the scan's (possibly degenerate) split count
        import re

        if re.search(r"\bExchange (hash|range|RoundRobin|Single)", plan):
            return df
        n_now = df.rdd.getNumPartitions()
    except Exception:  # pragma: no cover — planning quirks never fail the op
        return df
    if n_now >= fire_below:
        return df
    # hash-repartition on a content-derived key, not round-robin: a
    # keyless repartition(n) first sorts every input partition
    # (spark.sql.execution.sortBeforeRepartition, needed for retry
    # determinism) — measured 2× the shuffle cost on narrow rows. A
    # deterministic xxhash64 over the row's columns is retry-stable by
    # construction (the guide's pmod(xxhash64(..)) recipe, §2.5) and
    # skips the sort. Map-typed columns cannot be hashed — fall back to
    # round-robin there.
    def _hashable(dt) -> bool:
        from pyspark.sql import types as T

        if isinstance(dt, T.MapType):
            return False
        if isinstance(dt, T.StructType):
            return all(_hashable(f.dataType) for f in dt.fields)
        if isinstance(dt, T.ArrayType):
            return _hashable(dt.elementType)
        return True

    if all(_hashable(f.dataType) for f in df.schema.fields):
        key = F.xxhash64(*[F.col(c) for c in df.columns])
        return df.repartition(n_target, key)
    return df.repartition(n_target)


def salted_mod_col(key_col: Column | str, n_salts: int) -> Column:
    """Deterministic hash-mod salt in [0, n_salts): content-derived (no
    rand()), so retries/AQE replans recompute the identical salt. Used by
    the partitioned PIP refine to split one giant polygon's candidate set
    (a country's millions of candidate points would otherwise land on a
    single (admin_id) reducer)."""
    c = F.col(key_col) if isinstance(key_col, str) else key_col
    return F.pmod(F.xxhash64(c), F.lit(n_salts)).cast("int")


def split_cells_to_children(cells: list[int], levels: int = 2) -> list[int]:
    """Enumerate the res+levels children of the given cells (driver-side;
    used to re-key the small/dimension side of a salted join)."""
    out = []
    for cell in cells:
        res = cell // _RES_SHIFT
        rem = cell - res * _RES_SHIFT
        i = rem // _I_SHIFT
        j = rem - i * _I_SHIFT
        child_res = res + levels
        base_i, base_j = i << levels, j << levels
        for di in range(1 << levels):
            for dj in range(1 << levels):
                out.append(child_res * _RES_SHIFT + (base_i + di) * _I_SHIFT + (base_j + dj))
    return out


def skew_report(
    points: DataFrame,
    lon_col: str = "lon",
    lat_col: str = "lat",
    res: int = 7,
    sample_fraction: float | None = None,
) -> dict:
    """Max/median cell occupancy — the straggler-bound metric BENCH
    reports (BASELINE.md asks for partition/skew stats).

    ``sample_fraction``: when set (0 < f < 1), compute the histogram on a
    seeded sample — a metrics dict must not cost a full-corpus
    aggregation at 10^12 rows (VERDICT r04 item 5). Sampled counts are
    rescaled by 1/f so max_cell/median_cell stay comparable across runs
    with different fractions; they are then ESTIMATES (the median scales
    unbiasedly in expectation, a sample max is biased slightly low), so
    skew_ratio from a sampled run is approximate. None/1.0 keeps the
    exact path."""
    f = (
        sample_fraction
        if sample_fraction is not None and 0.0 < sample_fraction < 1.0
        else 1.0
    )
    if f < 1.0:
        points = points.sample(fraction=f, seed=42)
    counts = (
        points.select(grid_cell_col(lon_col, lat_col, res).alias("cell"))
        .groupBy("cell")
        .agg(F.count("*").alias("n"))
        .agg(
            F.max("n").alias("max_cell"),
            F.expr("percentile_approx(n, 0.5)").alias("median_cell"),
            F.count("*").alias("n_cells"),
        )
        .collect()[0]
    )
    # an empty points table (e.g. every doc filtered out upstream)
    # aggregates to NULL max/median — report zeros, not a crash.
    # Rescale sampled counts to occupancy estimates (cells below ~1/f
    # expected rows stay noisy; max/median targets are far above that).
    mx = round((counts["max_cell"] or 0) / f)
    med = round((counts["median_cell"] or 0) / f)
    return {
        "res": res,
        "n_cells": counts["n_cells"],
        "max_cell": mx,
        "median_cell": med,
        "skew_ratio": round(mx / max(med, 1), 1),
        "sample_fraction": f,
    }
