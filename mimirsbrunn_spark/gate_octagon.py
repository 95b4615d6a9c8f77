"""Driver gate for the HARD branches of the G5 admin-attach semantics.

The rectangle gate (gate.py) runs the full attach machinery but its
perfectly nested hierarchy means every point hits exactly one admin per
zone type — the zone-type-collision skip, the hierarchy-memo acceptance
and untyped admins (the branches of ``geofinder.get`` that port
/root/reference/src/admin_geofinder.rs:220-269, exercised by the
reference's own octagon family tests :311-530) never fire at the driver
level (VERDICT r03 #1). This module adds an octagon admin family with
exactly those shapes:

- ``oct:t:A`` ∩ ``oct:t:B``: two overlapping same-zone-type cities —
  in the overlap the later candidate is skipped (added_zone_types);
- ``oct:t:B`` spills EAST beyond its parent state's polygon — points
  there memo-accept ``oct:s:S`` (id in tested_hierarchy) WITHOUT a
  containment test, attaching an admin the point is geometrically
  outside of (trust-the-hierarchy, admin_geofinder.rs:236-238);
- ``oct:d:D`` is boundary-less (insert-without-index,
  admin_geofinder.rs:149-152): never a candidate, but walking city A's
  parent chain adds its zone_type, which BLOCKS the overlapping indexed
  state_district ``oct:d:E`` over A;
- ``oct:u:U`` / ``oct:u:V``: two overlapping UNTYPED admins — rank -1
  (processed first), never zone-type-blocked, both attach; U's parent
  is a dangling id (orphan walk terminates safely);
- the same 15k-point deterministic cloud as the rectangle gate.

The DuckDB oracle is fully independent of the engine: the even-odd ray
cast is transposed edge-wise (the IDENTICAL IEEE operation sequence as
``geometry.points_in_ring``, so crossings agree bit-for-bit) and the candidate fold of ``geofinder.get`` is
replayed as a recursive CTE over candidates ordered by (zone_rank, id).
The parent walk collapses to a precomputed ancestor closure — the
walk's early-break only skips ids/types that an earlier walk already
added (see the loop in geofinder.py get()) — inlined per admin as
literal lists.

All octagon coordinates are multiples of 0.25 (exactly representable
doubles), so vertex literals round-trip engine-to-engine without
parsing error.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .geofinder import zone_rank
from .geometry import mp_to_wkb

# ---------------------------------------------------------------------------
# the octagon family: (id, zone_type|None, parent_id|None, cx, cy, r, h)
# octagon vertices: (±r,±h), (±h,±r) around (cx, cy); D is boundary-less
# ---------------------------------------------------------------------------

OCT_FAMILY = [
    ("oct:c:C", "country", None, 0.0, 0.0, 70.0, 29.0),
    ("oct:s:S", "state", "oct:c:C", -5.0, 0.0, 45.0, 18.75),
    ("oct:d:D", "state_district", "oct:s:S", None, None, None, None),  # no boundary
    ("oct:t:A", "city", "oct:d:D", 0.0, 0.0, 25.0, 10.25),
    ("oct:t:B", "city", "oct:s:S", 25.0, 5.0, 25.0, 10.25),
    ("oct:d:E", "state_district", "oct:c:C", 10.0, 8.0, 20.0, 8.25),
    ("oct:u:U", None, "oct:ghost", -10.0, -8.0, 18.0, 7.5),  # dangling parent
    ("oct:u:V", None, None, -12.0, -10.0, 16.0, 6.5),
]


def _oct_ring(cx: float, cy: float, r: float, h: float) -> np.ndarray:
    return np.array(
        [
            (cx + r, cy + h), (cx + h, cy + r), (cx - h, cy + r), (cx - r, cy + h),
            (cx - r, cy - h), (cx - h, cy - r), (cx + h, cy - r), (cx + r, cy - h),
        ],
        dtype=np.float64,
    )


def octagon_admins_df(spark: SparkSession) -> DataFrame:
    rows = []
    for aid, zt, pid, cx, cy, r, h in OCT_FAMILY:
        wkb = None if cx is None else mp_to_wkb([[_oct_ring(cx, cy, r, h)]])
        rows.append((aid, zt, pid, wkb))
    return spark.createDataFrame(
        rows, schema="id string, zone_type string, parent_id string, boundary_wkb binary"
    )


def _ancestor_closure() -> dict[str, tuple[list[str], list[str]]]:
    """Per admin: (ancestor ids in walk order incl. dangling, non-null
    ancestor zone_types). Equivalent to the walk in geofinder.get: the
    early break (parent already tested) only skips ids/types the earlier
    walk through that parent already added, so the closure is exact."""
    by_id = {aid: (zt, pid) for aid, zt, pid, *_ in OCT_FAMILY}
    out = {}
    for aid, _, pid, *_ in OCT_FAMILY:
        ids, types = [], []
        while pid is not None:
            ids.append(pid)
            parent = by_id.get(pid)
            if parent is None:
                break  # dangling id was still recorded in tested_hierarchy
            if parent[0] is not None:
                types.append(parent[0])
            pid = parent[1]
        out[aid] = (ids, types)
    return out


def _attach_oct(spark: SparkSession, sf_dir: str, strategy: str) -> DataFrame:
    from .gate import points_from_orders
    from .operators.pip import attach_admins

    pts = points_from_orders(spark, sf_dir).withColumn(
        "point_uid", F.col("point_id").cast("string")
    )
    attached = attach_admins(pts, octagon_admins_df(spark), strategy=strategy)
    return attached.select(
        "point_id", F.posexplode("admin_ids").alias("pos0", "admin_id")
    ).select("point_id", "admin_id", (F.col("pos0") + 1).alias("pos"))


def q_pip_octagon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G5 hard branches through the broadcast strategy."""
    return _attach_oct(spark, sf_dir, "broadcast")


def q_pip_octagon_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same contract through the shuffled cogroup path (int-coded
    candidates, ancestor-only False rows, batch replay)."""
    return _attach_oct(spark, sf_dir, "partitioned")


def _sql_list(vals: list[str]) -> str:
    if not vals:
        return "[]::VARCHAR[]"
    return "[" + ",".join(f"'{v}'" for v in vals) + "]"


def octagon_oracle_sql(points_sql: str | None = None) -> str:
    """Engine-independent replay of geofinder.get over the octagon family.

    ``points_sql``: SQL producing (point_id, lon, lat) for the cloud;
    defaults to the driver gate's orders-derived cloud. The randomized
    property sweep (test_octagon_oracle_property.py, VERDICT r04 #8)
    swaps in registered random clouds here."""
    closure = _ancestor_closure()
    adm_rows, edge_rows = [], []
    for aid, zt, _pid, cx, cy, r, h in OCT_FAMILY:
        if cx is None:
            continue  # boundary-less: never a candidate
        ids, types = closure[aid]
        ring = _oct_ring(cx, cy, r, h)
        nxt = np.roll(ring, -1, axis=0)
        for a, b in zip(ring, nxt):
            edge_rows.append(
                f"('{aid}', {float(a[0])!r}, {float(a[1])!r}, "
                f"{float(b[0])!r}, {float(b[1])!r})"
            )
        zt_sql = "NULL" if zt is None else f"'{zt}'"
        adm_rows.append(
            f"('{aid}', {zone_rank(zt)}, {zt_sql}, {_sql_list(ids)}, {_sql_list(types)}, "
            f"{cx - r!r}, {cy - r!r}, {cx + r!r}, {cy + r!r})"
        )
    if points_sql is None:
        from .gate import POINTS_FROM_ORDERS_SQL

        points_sql = POINTS_FROM_ORDERS_SQL
    # candidate fold state: res (append-ordered), tested ids, added types
    return f"""
    WITH RECURSIVE
    adm(admin_id, zone_rank, zone_type, anc_ids, anc_types, minx, miny, maxx, maxy)
      AS (VALUES {",".join(adm_rows)}),
    edges(admin_id, x1, y1, x2, y2) AS (VALUES {",".join(edge_rows)}),
    pts AS ({points_sql}),
    bcand AS (
      SELECT p.point_id, p.lon, p.lat, a.admin_id, a.zone_rank, a.zone_type,
             a.anc_ids, a.anc_types
      FROM pts p JOIN adm a
        ON p.lon >= a.minx AND p.lon <= a.maxx AND p.lat >= a.miny AND p.lat <= a.maxy
    ),
    cand AS (
      SELECT c.point_id, c.admin_id, c.zone_type, c.anc_ids, c.anc_types,
             row_number() OVER (PARTITION BY c.point_id
                                ORDER BY c.zone_rank, c.admin_id) AS rn,
             (SUM(CASE WHEN ((e.y1 <= c.lat) <> (e.y2 <= c.lat))
                        AND (c.lon < e.x1 + (c.lat - e.y1) * (e.x2 - e.x1) / (e.y2 - e.y1))
                  THEN 1 ELSE 0 END) % 2) = 1 AS inside
      FROM bcand c JOIN edges e USING (admin_id)
      GROUP BY c.point_id, c.lon, c.lat, c.admin_id, c.zone_rank, c.zone_type,
               c.anc_ids, c.anc_types
    ),
    ncand AS (SELECT point_id, CAST(max(rn) AS INT) AS n FROM cand GROUP BY 1),
    replay AS (
      SELECT point_id, 0 AS step, []::VARCHAR[] AS res,
             []::VARCHAR[] AS tested, []::VARCHAR[] AS types
      FROM ncand
      UNION ALL
      SELECT r.point_id, r.step + 1,
        CASE WHEN list_contains(r.tested, c.admin_id) THEN list_append(r.res, c.admin_id)
             WHEN c.zone_type IS NOT NULL AND list_contains(r.types, c.zone_type) THEN r.res
             WHEN c.inside THEN list_append(r.res, c.admin_id)
             ELSE r.res END,
        CASE WHEN NOT list_contains(r.tested, c.admin_id)
              AND NOT (c.zone_type IS NOT NULL AND list_contains(r.types, c.zone_type))
              AND c.inside
             THEN r.tested || c.anc_ids ELSE r.tested END,
        CASE WHEN NOT list_contains(r.tested, c.admin_id)
              AND NOT (c.zone_type IS NOT NULL AND list_contains(r.types, c.zone_type))
              AND c.inside
             THEN r.types
                  || (CASE WHEN c.zone_type IS NULL THEN []::VARCHAR[]
                           ELSE [c.zone_type] END)
                  || c.anc_types
             ELSE r.types END
      FROM replay r JOIN cand c ON c.point_id = r.point_id AND c.rn = r.step + 1
    ),
    final AS (
      SELECT r.point_id, r.res FROM replay r JOIN ncand n USING (point_id)
      WHERE r.step = n.n AND length(r.res) > 0
    )
    SELECT point_id, unnest(res) AS admin_id,
           CAST(unnest(range(1, length(res) + 1)) AS INT) AS pos
    FROM final
    """


def octagon_queries() -> dict:
    """Registry factory (called from gate.py AFTER its point-cloud SQL
    constants exist — a module-level dict here would recurse the
    gate ↔ gate_octagon import when this module loads first)."""
    sql = octagon_oracle_sql()
    return {
        "pip_admins_octagon": (q_pip_octagon, sql),
        "pip_admins_octagon_partitioned": (q_pip_octagon_partitioned, sql),
    }
