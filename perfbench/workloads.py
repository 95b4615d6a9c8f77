"""The workloads. Each one calls only the package's public functions.

A workload has these steps, run in this order by ``run.py``:

- ``inputs()``: generate the seeded inputs (kept out of ``setup_s``);
- ``setup()``: program-side state the operations need (the serving lake)
  and untimed warm-up operations, so the timed operations do not pay the
  fresh JVM's class loading, code generation and early slow ops;
- ``op()``: one timed operation; returns the number of operations it
  attempted (requests, for serve_mixed); ``after_op()`` checks its output
  outside the timing;
- ``check()``: compares the program's outputs with an independent
  oracle and returns the number of failed checks.

``traced_op()`` runs the same operation with a span around each call into
a layer; batch workloads also materialise each cumulative prefix of the
pipeline into Spark's ``noop`` sink under its own job group, so a layer's
cost is its prefix minus the previous prefix.
"""

from __future__ import annotations

import math
import time
from pathlib import Path

import numpy as np
import pyarrow.parquet as pq

from . import inputs

EARTH_R = 6371000.0
# whole untimed ops a batch workload's set-up runs: after one, the times
# of a fresh JVM's timed ops still fell by 15-45% from the first to the
# third, and the median of 3 sat on that slope
WARMUP_OPS = 2


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _parquet_rows(path: str) -> int:
    return sum(pq.ParquetFile(f).metadata.num_rows for f in Path(path).glob("*.parquet"))


class Workload:
    name = ""
    items_per_op = 1  # input items one op consumes (docs_per_s numerator)
    # at least this many timed ops per run, whatever --seconds says
    min_ops = 3
    # the timed loop ends only after a multiple of this many ops, so a run
    # always holds whole periods of the workload's request mix
    op_period = 1

    def __init__(self, spark, tracer, work: Path, cache: Path, seed: int):
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.cache = cache
        self.seed = seed
        self.layer: dict[str, list[float]] = {}  # per-layer samples (traced run)
        self.notes: dict = {}

    def record(self, metric: str, value: float) -> None:
        self.layer.setdefault(metric, []).append(float(value))

    def inputs(self) -> None: ...

    def setup(self) -> None: ...

    def op(self) -> int:
        raise NotImplementedError

    def after_op(self) -> None:
        """Cheap per-op output check, run outside the op's timing; raises
        on a wrong output so the op counts as failed."""

    def traced_op(self) -> int:
        return self.op()

    def traced_extras(self) -> None:
        """Once per traced run, before the loop: layer numbers that need
        no repetition (exact counts, driver-side kernels)."""

    def check(self) -> int:
        raise NotImplementedError


# ---------------------------------------------------------------------------
# index_partitioned
# ---------------------------------------------------------------------------


class IndexPartitioned(Workload):
    name = "index_partitioned"
    strategy = "partitioned"
    other_strategy = "broadcast"  # the fingerprint check's reference

    def inputs(self) -> None:
        self.paths = inputs.index_corpus(self.cache, self.seed)
        self.items_per_op = self.paths["n_docs"]
        self.n_points = self.paths["n_points"]
        self.out = str(self.work / f"{self.name}_published")

    def _points(self):
        from pyspark.sql import functions as F

        from mimirsbrunn_spark.operators.spans import extract_geo_points
        from mimirsbrunn_spark.tiles import with_grid_cells

        docs = self.spark.read.parquet(self.paths["docs"])
        with self.tracer.span("operators.spans"):
            pts = extract_geo_points(docs)
        with self.tracer.span("tiles"):
            tiled = with_grid_cells(pts, "lon", "lat")
        return pts, tiled.withColumn("point_uid", F.concat_ws("#", "doc_id", "span_offset"))

    def _attach(self, pts, strategy: str):
        from mimirsbrunn_spark.operators.pip import attach_admins

        admins = self.spark.read.parquet(self.paths["admins"])
        return attach_admins(pts, admins, strategy=strategy)

    def _publish(self, att, path: str) -> None:
        from mimirsbrunn_spark.plans.layout import write_spatially_clustered

        write_spatially_clustered(att, path)

    def setup(self) -> None:
        """Warm-up: WARMUP_OPS whole index jobs."""
        for _ in range(WARMUP_OPS):
            _, pts = self._points()
            self._publish(self._attach(pts, self.strategy), str(self.work / "warmup"))

    def op(self) -> int:
        _, pts = self._points()
        self._publish(self._attach(pts, self.strategy), self.out)
        return 1

    def after_op(self) -> None:
        if _parquet_rows(self.out) != self.n_points:
            raise AssertionError(f"{self.name}: published row count differs from the input's geo spans")

    def traced_op(self) -> int:
        tr = self.tracer
        t = {}
        raw, pts = self._points()
        for name, df in (("spans", raw), ("tiles", pts)):
            with tr.span(f"{name}.run") as s:
                _noop(df)
            t[name] = s["end"] - s["start"]
        with tr.span("operators.pip") as s:
            att = self._attach(pts, self.strategy)
        self.record("pip.plan_s", s["end"] - s["start"])
        self.record("pip.plan_jobs", tr.jobs_in(s))
        with tr.span("pip.run") as s:
            _noop(att)
        t["pip"] = s["end"] - s["start"]
        with tr.span("plans.layout") as s:
            self._publish(att, self.out)
        t["publish"] = s["end"] - s["start"]
        self.record("spans.extract_s", t["spans"])
        self.record("tiles.encode_s", t["tiles"] - t["spans"])
        self.record("pip.join_s", t["pip"] - t["tiles"])
        self.record("layout.publish_s", t["publish"] - t["pip"])
        return 1

    def traced_extras(self) -> None:
        """Driver-side kernel cost on a seeded 50k-point batch."""
        from mimirsbrunn_spark.geometry import points_in_multipolygon
        from mimirsbrunn_spark.operators.pip import refine_batch

        finder = self._finder()
        rng = np.random.default_rng(self.seed)
        lon = rng.uniform(-10.0, 120.0, 50_000)
        lat = rng.uniform(-20.0, 20.0, 50_000)
        mps = [r.mp for r in finder.by_id.values() if r.mp]
        for _ in range(3):
            with self.tracer.span("kernel.refine_batch") as s:
                refine_batch(finder, lon, lat)
            self.record("pip.refine_us_per_point", (s["end"] - s["start"]) * 1e6 / len(lon))
            with self.tracer.span("kernel.points_in_multipolygon") as s:
                for mp in mps:
                    points_in_multipolygon(lon, lat, mp)
            self.record(
                "geometry.pip_us_per_point", (s["end"] - s["start"]) * 1e6 / (len(lon) * len(mps))
            )

    def _finder(self):
        from mimirsbrunn_spark.geofinder import build_finder_from_rows

        rows = self.spark.read.parquet(self.paths["admins"]).collect()
        return build_finder_from_rows([r.asDict() for r in rows])

    @staticmethod
    def _fingerprint(df) -> tuple:
        from pyspark.sql import functions as F

        r = df.select(
            F.count("*").alias("n"),
            F.sum(F.size("admin_ids")).alias("ids"),
            F.sum(
                F.pmod(F.xxhash64("point_uid", F.concat_ws(",", "admin_ids")), F.lit(2**31 - 1))
            ).alias("h"),
        ).collect()[0]
        return (r["n"], r["ids"], r["h"])

    def check(self) -> int:
        from pyspark.sql import functions as F

        failed = 0
        # 1. a seeded 2k-point sample equals the scalar AdminGeoFinder
        pub = self.spark.read.parquet(self.out)
        sample = (
            pub.select("point_uid", "lon", "lat", "admin_ids")
            .orderBy(F.xxhash64("point_uid", F.lit(self.seed)), "point_uid")
            .limit(2000)
            .collect()
        )
        finder = self._finder()
        bad = [r.point_uid for r in sample if list(r.admin_ids) != finder.get_ids(r.lon, r.lat)]
        self.notes["sample_points"] = len(sample)
        self.notes["sample_mismatches"] = len(bad)
        failed += bool(bad) or len(sample) != 2000
        # 2. the other strategy gives the same order-independent fingerprint
        _, pts = self._points()
        fp = self._fingerprint(pub)
        fp_other = self._fingerprint(self._attach(pts, self.other_strategy))
        self.notes["fingerprint"] = list(fp)
        self.notes["fingerprint_matches_" + self.other_strategy] = fp == fp_other
        failed += fp != fp_other
        self.notes["admin_ids_out"] = fp[1]
        return int(failed)


# ---------------------------------------------------------------------------
# serve_mixed
# ---------------------------------------------------------------------------

QUERY_POINTS = 16
NEAR_POINTS = 10  # 60% of a request's coordinates are near a Zipf-drawn city
TYPO_EVERY = 4  # every 4th /autocomplete query is typo'd


def _haversine(lon1, lat1, lon2, lat2):
    p1, p2 = np.radians(lat1), np.radians(lat2)
    h = np.sin((p2 - p1) / 2) ** 2 + np.cos(p1) * np.cos(p2) * np.sin(np.radians(lon2 - lon1) / 2) ** 2
    return 2.0 * EARTH_R * np.arcsin(np.sqrt(np.clip(h, 0.0, 1.0)))


class ServeMixed(Workload):
    name = "serve_mixed"
    items_per_op = 2  # one /reverse + one /autocomplete per cycle
    # whole typo periods only, so the fuzzy share is 1/4 at any speed and
    # the median cycle is one without the fuzzy retry
    min_ops = TYPO_EVERY
    op_period = TYPO_EVERY
    K_REVERSE = 1
    RADIUS_M = 1000.0
    K_AUTOCOMPLETE = 10

    def inputs(self) -> None:
        from mimirsbrunn_spark.datagen import gen_admins
        from mimirsbrunn_spark.functions.geocode import SYNONYMS
        from mimirsbrunn_spark.gate_geocode import VOCAB

        self.paths = inputs.serve_inputs(self.cache, self.seed)
        self.lake = str(self.work / "serve_lake")
        self.rng = np.random.default_rng(self.seed + 7)
        cities = gen_admins().query("zone_type == 'city'")
        self.city_xy = np.array([(c["lon"], c["lat"]) for c in cities.coord])
        w = 1.0 / np.arange(1, len(self.city_xy) + 1)
        self.city_w = w / w.sum()
        self.vocab = list(VOCAB)
        words = set(self.vocab) | {w for v in SYNONYMS.values() for w in v.split()} | set(SYNONYMS)
        self.known = sorted(words | {"ville"})
        self.n_cycles = 0
        self.requests: list[tuple] = []  # (kind, query, result rows, mode)
        self.latency: dict[str, list[float]] = {"reverse": [], "autocomplete": []}

    def setup(self) -> None:
        from pyspark.sql import functions as F

        from mimirsbrunn_spark.gate_geocode import geocode_places_df
        from mimirsbrunn_spark.plans.layout import file_key_ranges, write_spatially_clustered

        with self.tracer.span("layout.lake_write") as s:
            t0 = time.perf_counter()
            write_spatially_clustered(self.spark.read.parquet(self.paths["addresses"]), self.lake)
            self.lake_write_s = time.perf_counter() - t0
        self.ranges = file_key_ranges(self.lake, "z_12")
        base = geocode_places_df(self.spark, self.paths["sf_dir"])
        self.places = base.crossJoin(self.spark.range(10).withColumnRenamed("id", "rep")).withColumn(
            "id", F.col("id") * 10 + F.col("rep")
        ).drop("rep")
        # warm-up, not recorded: one request per endpoint and one fuzzy retry
        self._reverse("warm-r")
        self._autocomplete("warm-a", typo=False)
        self._autocomplete("warm-f", typo=True)
        self.requests.clear()
        self.latency = {"reverse": [], "autocomplete": []}
        self.layer.clear()

    # -- request generation (seeded, fixed composition) ---------------------

    def _coords(self) -> list[tuple[float, float]]:
        rng = self.rng
        idx = rng.choice(len(self.city_xy), NEAR_POINTS, p=self.city_w)
        near = self.city_xy[idx] + rng.normal(0.0, 0.1, (NEAR_POINTS, 2))
        n_u = QUERY_POINTS - NEAR_POINTS
        uni = np.column_stack([rng.uniform(-170.0, 60.0, n_u), rng.uniform(-65.0, 45.0, n_u)])
        return [(float(x), float(y)) for x, y in np.vstack([near, uni])]

    def _typo(self, word: str) -> str:
        rng = self.rng
        while True:
            pos = int(rng.integers(1, len(word) - 1))
            t = word[:pos] + "qxz"[int(rng.integers(0, 3))] + word[pos + 1:]
            if not any(k.startswith(t) for k in self.known):
                return t

    def _text_query(self, typo: bool) -> str:
        rng = self.rng
        n_words = int(rng.integers(1, 3))
        ws = [self.vocab[int(i)] for i in rng.integers(0, len(self.vocab), n_words)]
        if typo:
            longer = [w for w in self.vocab if len(w) >= 5]
            ws[-1] = self._typo(longer[int(rng.integers(0, len(longer)))])
        else:
            last = ws[-1]
            ws[-1] = last[: int(rng.integers(min(3, len(last)), len(last) + 1))]
        return " ".join(ws)

    # -- requests ----------------------------------------------------------

    def _reverse(self, rid: str) -> None:
        from mimirsbrunn_spark.plans.layout import ranges_pruned_fraction, reverse_geocode_lake

        tr = self.tracer
        coords = self._coords()
        t0 = time.perf_counter()
        with tr.span("plans.layout", rid) as plan:
            q = self.spark.createDataFrame(
                [(j, x, y) for j, (x, y) in enumerate(coords)], "query_id long, lon double, lat double"
            )
            out, info = reverse_geocode_lake(
                self.spark, self.lake, q, k=self.K_REVERSE, radius_m=self.RADIUS_M,
                return_scan_info=True,
            )
        with tr.span("operators.knn", rid) as run:
            rows = out.collect()
        self.latency["reverse"].append(time.perf_counter() - t0)
        self.requests.append(("reverse", coords, [(r.query_id, r.target_id, r.distance_m) for r in rows], None))
        self.record("layout.windows_per_request", len(info["windows"]))
        self.record("layout.files_opened_share",
                    1.0 - ranges_pruned_fraction(self.ranges, info["windows"]))
        self.record("knn.hit_share", len({r.query_id for r in rows}) / len(coords))
        if tr.enabled:
            self.record("layout.plan_ms", (plan["end"] - plan["start"]) * 1e3)
            self.record("knn.run_ms", (run["end"] - run["start"]) * 1e3)
            self.record("layout.jobs_per_request", tr.jobs_in(plan) + tr.jobs_in(run))

    def _autocomplete(self, rid: str, typo: bool) -> None:
        from mimirsbrunn_spark.functions.geocode import autocomplete

        tr = self.tracer
        q = self._text_query(typo)
        x, y = self.city_xy[int(self.rng.integers(0, len(self.city_xy)))]
        coord = (round(float(x), 4), round(float(y), 4))
        t0 = time.perf_counter()
        with tr.span("functions.geocode", rid) as plan:
            df, mode = autocomplete(self.places, q, k=self.K_AUTOCOMPLETE, coord=coord)
        with tr.span("geocode.run", rid) as run:
            rows = df.collect()
        self.latency["autocomplete"].append(time.perf_counter() - t0)
        self.requests.append(
            ("autocomplete", (q, coord), [(r.id, r.match_score, r.score) for r in rows], mode)
        )
        self.record("geocode.fuzzy", 1.0 if mode == "fuzzy" else 0.0)
        if tr.enabled:
            self.record("geocode.plan_ms", (plan["end"] - plan["start"]) * 1e3)
            self.record("geocode.run_ms", (run["end"] - run["start"]) * 1e3)
            self.record("geocode.jobs_per_request", tr.jobs_in(plan) + tr.jobs_in(run))

    def op(self) -> int:
        n = self.n_cycles
        self.n_cycles += 1
        self._reverse(f"r{n}")
        self._autocomplete(f"a{n}", typo=n % TYPO_EVERY == TYPO_EVERY - 1)
        return 2

    # -- checks ------------------------------------------------------------

    def check(self) -> int:
        import duckdb

        from mimirsbrunn_spark.gate_geocode import geocode_oracle_sql

        addr = pq.read_table(self.paths["addresses"])
        a_id = np.array(addr["target_id"].to_pylist(), dtype=object)
        a_lon = addr["lon"].to_numpy()
        a_lat = addr["lat"].to_numpy()
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW customer AS SELECT * FROM read_parquet('{self.paths['sf_dir']}/customer.parquet')"
        )
        failed = bad_rev = bad_ac = 0
        for kind, query, rows, mode in self.requests:
            if kind == "reverse":
                ok = self._check_reverse(query, rows, a_id, a_lon, a_lat)
                bad_rev += not ok
            else:
                ok = self._check_autocomplete(con, geocode_oracle_sql, query, rows, mode)
                bad_ac += not ok
            failed += not ok
        con.close()
        self.notes["reverse_mismatches"] = bad_rev
        self.notes["autocomplete_mismatches"] = bad_ac
        return failed

    def _check_reverse(self, coords, rows, a_id, a_lon, a_lat) -> bool:
        got = {q: (t, d) for q, t, d in rows}
        if len(got) != len(rows):
            return False
        for j, (x, y) in enumerate(coords):
            d = _haversine(x, y, a_lon, a_lat)
            hit = np.nonzero(d <= self.RADIUS_M)[0]
            if len(hit) == 0:
                if j in got:
                    return False
                continue
            best = min(hit, key=lambda i: (round(float(d[i]), 3), a_id[i]))
            if j not in got or got[j][0] != a_id[best] or abs(got[j][1] - d[best]) > 1e-3:
                return False
        return True

    def _check_autocomplete(self, con, oracle_sql, query, rows, mode) -> bool:
        q, coord = query
        k = self.K_AUTOCOMPLETE
        if mode == "fuzzy":
            # the retry may only run when the prefix pass finds nothing
            if con.execute(oracle_sql(q, "prefix", coord=coord, k=1)).fetchall():
                return False
        base = con.execute(oracle_sql(q, mode, coord=coord, k=k)).fetchall()
        # the table is the base places replicated x10 with id*10+rep: ranked
        # by (score desc, id asc), each base row expands to its 10 replicas
        want = [(bid * 10 + rep, m, s) for _, bid, _, m, s in base for rep in range(10)][:k]
        got = [(i, round(m, 6), round(s, 6)) for i, m, s in rows]
        return got == want


# ---------------------------------------------------------------------------
# curate_dedup
# ---------------------------------------------------------------------------


# share of planted near-dup pairs that must end in one component: a copy
# keeps 90% of the tokens, a word 3-shingle Jaccard J of about 0.88, so 4
# bands of 4 rows match a pair with probability 1 - (1 - J**4)**4 = 0.98
TEXT_RECALL_FLOOR = 0.9


class CurateDedup(Workload):
    name = "curate_dedup"

    def inputs(self) -> None:
        from mimirsbrunn_spark.operators.similarity import committed_codebook_path

        self.codebook_path = str(committed_codebook_path(16, 3))
        cb = pq.read_table(self.codebook_path)
        self.paths = inputs.curate_inputs(
            self.cache, self.seed, np.array(cb["centroid"].to_pylist(), dtype=np.float64)
        )
        self.items_per_op = (
            pq.ParquetFile(self.paths["documents"]).metadata.num_rows
            + pq.ParquetFile(self.paths["embeddings"]).metadata.num_rows
        )
        self.out = str(self.work / "curate")
        self.out_comps = self.out + "/components"
        self.out_keep = self.out + "/semdedup"

    def _texts(self):
        return self.spark.read.parquet(self.paths["documents"]).select("doc_id", "text")

    def _vectors(self):
        from pyspark.sql import functions as F

        return self.spark.read.parquet(self.paths["embeddings"]).select(
            "vec_id", F.expr("transform(embedding, x -> cast(x as double))").alias("embedding")
        )

    def setup(self) -> None:
        """Warm-up: WARMUP_OPS whole curation jobs."""
        for _ in range(WARMUP_OPS):
            self._job(self._texts(), self._vectors(), str(self.work / "warmup"))

    def _job(self, texts, vectors, out: str) -> None:
        from mimirsbrunn_spark.operators.dedup import lsh_candidate_pairs, neardup_components
        from mimirsbrunn_spark.operators.similarity import semdedup

        pairs = lsh_candidate_pairs(texts, id_col="doc_id")
        neardup_components(pairs).write.mode("overwrite").parquet(out + "/components")
        cb = self.spark.read.parquet(self.codebook_path)
        semdedup(vectors, cb, eps=0.05).write.mode("overwrite").parquet(out + "/semdedup")

    def op(self) -> int:
        self._job(self._texts(), self._vectors(), self.out)
        return 1

    def traced_extras(self) -> None:
        from mimirsbrunn_spark.operators.dedup import lsh_candidate_pairs

        self.notes["candidate_pairs"] = lsh_candidate_pairs(self._texts(), id_col="doc_id").count()

    def traced_op(self) -> int:
        from mimirsbrunn_spark.operators.dedup import lsh_candidate_pairs, neardup_components
        from mimirsbrunn_spark.operators.similarity import semdedup

        tr = self.tracer
        with tr.span("operators.dedup"):
            pairs = lsh_candidate_pairs(self._texts(), id_col="doc_id")
        with tr.span("dedup.lsh") as s:
            _noop(pairs)
        self.record("dedup.lsh_s", s["end"] - s["start"])
        with tr.span("dedup.components") as s:
            comps = neardup_components(pairs)
        self.record("dedup.components_plan_s", s["end"] - s["start"])
        with tr.span("dedup.write"):
            comps.write.mode("overwrite").parquet(self.out_comps)
        cb = self.spark.read.parquet(self.codebook_path)
        with tr.span("operators.similarity") as s:
            keep = semdedup(self._vectors(), cb, eps=0.05)
        self.record("similarity.plan_s", s["end"] - s["start"])
        with tr.span("similarity.run") as s:
            keep.write.mode("overwrite").parquet(self.out_keep)
        self.record("similarity.run_s", s["end"] - s["start"])
        return 1

    def check(self) -> int:
        from pyspark.sql import functions as F

        from mimirsbrunn_spark.operators.dedup import band_hash_expr, with_minhash_signature

        failed = 0
        # near-dup text pairs: every planted pair whose MinHash signatures
        # (the Catalyst expression path) agree on a whole band must end in
        # one component
        text_pairs = inputs.read_pairs(self.paths["text_pairs"])
        ids = [i for p in text_pairs for i in p]
        sig = with_minhash_signature(self._texts().filter(F.col("doc_id").isin(ids)), "text", k=16)
        bands = {
            r.doc_id: tuple(r[f"b{b}"] for b in range(4))
            for r in sig.select(
                "doc_id", *[F.expr(band_hash_expr(b, 4)).alias(f"b{b}") for b in range(4)]
            ).collect()
        }
        comp = dict(
            self.spark.read.parquet(self.out_comps).filter(F.col("doc_id").isin(ids)).select(
                "doc_id", "component"
            ).collect()
        )
        expected = [
            (a, b) for a, b in text_pairs
            if a in bands and b in bands and any(x == y for x, y in zip(bands[a], bands[b]))
        ]
        missed = [(a, b) for a, b in expected if comp.get(a) is None or comp.get(a) != comp.get(b)]
        # and, whatever the band hash does, LSH must join most planted pairs
        found = sum(comp.get(a) is not None and comp.get(a) == comp.get(b) for a, b in text_pairs)
        self.notes["text_pairs_planted"] = len(text_pairs)
        self.notes["text_pairs_band_matched"] = len(expected)
        self.notes["text_pairs_missed"] = len(missed)
        self.notes["text_pairs_found"] = found
        failed += bool(missed) or found < TEXT_RECALL_FLOOR * len(text_pairs)
        # semantic dups: each planted pair shares a component that keeps
        # exactly one member
        vec_pairs = inputs.read_pairs(self.paths["vec_pairs"])
        res = self.spark.read.parquet(self.out_keep).select("vec_id", "component", "keep").collect()
        comp_of = {r.vec_id: r.component for r in res}
        keeps: dict[int, int] = {}
        for r in res:
            keeps[r.component] = keeps.get(r.component, 0) + bool(r.keep)
        bad = [
            (a, b) for a, b in vec_pairs
            if comp_of.get(a) is None or comp_of.get(a) != comp_of.get(b) or keeps[comp_of[a]] != 1
        ]
        self.notes["vec_pairs_planted"] = len(vec_pairs)
        self.notes["vec_pairs_bad"] = len(bad)
        n_vectors = pq.ParquetFile(self.paths["embeddings"]).metadata.num_rows
        failed += bool(bad) or len(res) != len(comp_of) or len(res) != n_vectors
        return int(failed)


WORKLOADS = {w.name: w for w in (IndexPartitioned, ServeMixed, CurateDedup)}


def percentile(xs: list[float], p: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(xs)
    return s[max(0, math.ceil(p / 100.0 * len(s)) - 1)]
