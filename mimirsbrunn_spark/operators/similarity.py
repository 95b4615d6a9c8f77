"""Similarity search over embedding columns: brute-force + LSH-bucketed ANN.

- ``cosine_topk``: exact brute force — the correctness baseline. Dot
  products as sequential folds over zip_with (JVM, engine-exact for the
  DuckDB oracle); quadratic, fine for ≤10^4 queries × corpus shards.
- ``ann_lsh_topk``: the scale path — random-hyperplane LSH: each vector
  gets a b-bit signature (sign of dot with b fixed pseudo-random
  hyperplanes); candidates are vectors sharing a signature in any of
  ``tables`` independent tables; exact cosine re-rank inside buckets.
  Hyperplanes are generated from a seeded integer recurrence, so the
  oracle can reproduce them exactly in SQL. Bucket join = shuffle on
  (table, signature) — Catalyst/AQE territory, no Python.
- ``lsh_neardup_pairs``: the threshold (dedup-decision) counterpart of
  the top-k path — same bucket self-join, exact cosine >= t inside.
- ``ivf_topk`` / ``train_ivf_centroids``: the trained alternative —
  distributed Lloyd k-means coarse quantizer + probed exact re-rank.
  LSH needs no training state (oracle-exact in SQL); IVF trades a few
  training passes for tighter candidate lists on clustered corpora, so
  its gate is rows-only and its recall is pinned in pytest instead.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# deterministic pseudo-random hyperplane component for (table t, bit b, dim i):
# lcg(t, b, i) = ((a*(t*1009 + b*101 + i) + c) mod m) / m - 0.5, exact in SQL
_LCG_A, _LCG_C, _LCG_M = 1103515245, 12345, 2_147_483_647


def _hyperplane_component_sql(t: int, b: int, i_expr: str) -> str:
    x = f"({t} * 1009 + {b} * 101 + {i_expr})"
    return (
        f"(((CAST({_LCG_A} AS BIGINT) * {x} + {_LCG_C}) % {_LCG_M})"
        f" / {float(_LCG_M)} - 0.5)"
    )


def _dot_fold(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> cast(x as double) * cast(y as double)),"
        " 0D, (acc, v) -> acc + v)"
    )


def _norm_fold(a: str) -> str:
    return (
        f"sqrt(aggregate(transform({a}, x -> cast(x as double) * cast(x as double)),"
        " 0D, (acc, v) -> acc + v))"
    )


def _cosine_fold(a: str, b: str) -> str:
    """cosine(a, b) with a zero-norm guard: a zero vector has no
    direction, so its cosine with anything is 0.0. Unguarded, 0/0 = NaN —
    and both Spark and DuckDB order NaN ABOVE every real number, so a
    single zero embedding would pass every >= threshold filter and top
    every ranking."""
    na, nb = _norm_fold(a), _norm_fold(b)
    return f"(CASE WHEN {na} * {nb} = 0D THEN 0D ELSE {_dot_fold(a, b)} / ({na} * {nb}) END)"


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k: (query_vec, neighbor_vec, cosine, rank)."""
    a = queries.alias("a")
    b = corpus.alias("b")
    cos = F.round(F.expr(_cosine_fold(f"a.{vec_col}", f"b.{vec_col}")), 6)
    pairs = a.join(b, F.col(f"a.{id_col}") != F.col(f"b.{id_col}")).select(
        F.col(f"a.{id_col}").alias("query_vec"),
        F.col(f"b.{id_col}").alias("neighbor_vec"),
        cos.alias("cosine"),
    )
    w = Window.partitionBy("query_vec").orderBy(F.col("cosine").desc(), F.col("neighbor_vec").asc())
    return pairs.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def signature_expr(vec_col: str, table: int, bits: int, dim: int) -> str:
    """b-bit hyperplane signature of a vector as an integer (SQL string
    usable verbatim in Spark and DuckDB-with-adaptation)."""
    terms = []
    for b in range(bits):
        dot = (
            f"aggregate(zip_with({vec_col}, transform(sequence(0, {dim - 1}),"
            f" i -> {_hyperplane_component_sql(table, b, 'i')}),"
            " (x, h) -> cast(x as double) * h), 0D, (acc, v) -> acc + v)"
        )
        terms.append(f"(CASE WHEN {dot} >= 0 THEN {1 << b} ELSE 0 END)")
    return "(" + " + ".join(terms) + ")"


def bucketize(
    df: DataFrame, tables: int, bits: int, dim: int,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """One row per (vector, lsh_table) with its b-bit signature — the
    shared bucketing stage of the ANN top-k and near-dup operators."""
    parts = [
        df.select(
            F.col(id_col), F.col(vec_col),
            F.lit(t).alias("lsh_table"),
            F.expr(signature_expr(vec_col, t, bits, dim)).alias("sig"),
        )
        for t in range(tables)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def ann_lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 3,
    bits: int = 8,
    tables: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: union of per-table signature buckets, exact
    re-rank inside the candidate set. Recall grows with ``tables``."""
    qb = bucketize(queries, tables, bits, dim, id_col, vec_col).alias("a")
    cb = bucketize(corpus, tables, bits, dim, id_col, vec_col).alias("b")
    cand = (
        qb.join(cb, ["lsh_table", "sig"])
        .filter(F.col(f"a.{id_col}") != F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("query_vec"),
            F.col(f"b.{id_col}").alias("neighbor_vec"),
            F.col(f"a.{vec_col}").alias("qv"),
            F.col(f"b.{vec_col}").alias("cv"),
        )
        .dropDuplicates(["query_vec", "neighbor_vec"])
    )
    cos = F.round(F.expr(_cosine_fold("qv", "cv")), 6)
    w = Window.partitionBy("query_vec").orderBy(F.col("cosine").desc(), F.col("neighbor_vec").asc())
    return (
        cand.withColumn("cosine", cos)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_vec", "neighbor_vec", "cosine", "rank")
    )


def lsh_neardup_pairs(
    corpus: DataFrame,
    threshold: float = 0.95,
    bits: int = 6,
    tables: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding near-dup detection at scale: the *threshold* counterpart
    of ann_lsh_topk (VERDICT r01: the production dedup decision was only
    available as an all-pairs O(n²) join).

    Signature-bucket self-join → exact cosine >= threshold inside the
    candidate set. Cost is Σ bucket² instead of n²; identical vectors
    always share every bucket (recall 1.0 for exact dups), and recall for
    near-dups at cosine c is 1-(1-(1-acos(c)/pi)^bits)^tables — at the
    near-dup thresholds this operator is for (>= ~0.9) it is ~1.
    Output: (vec_a, vec_b, cosine), vec_a < vec_b, distinct."""
    b_all = bucketize(corpus, tables, bits, dim, id_col, vec_col)
    a, b = b_all.alias("a"), b_all.alias("b")
    cand = (
        a.join(b, ["lsh_table", "sig"])
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("vec_a"),
            F.col(f"b.{id_col}").alias("vec_b"),
            F.col(f"a.{vec_col}").alias("qv"),
            F.col(f"b.{vec_col}").alias("cv"),
        )
        .dropDuplicates(["vec_a", "vec_b"])
    )
    cos = F.round(F.expr(_cosine_fold("qv", "cv")), 6)
    return (
        cand.withColumn("cosine", cos)
        .filter(F.col("cosine") >= threshold)
        .select("vec_a", "vec_b", "cosine")
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — k-means coarse quantizer + probed re-rank
# ---------------------------------------------------------------------------


def _assign_udf(centroids):
    """pandas UDF: vector → nearest centroid id (cosine). ``centroids``
    is a (C, dim) numpy array captured by value (small — the coarse
    codebook lives on the driver, like any IVF index)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F2

    norm = centroids / np.maximum(np.linalg.norm(centroids, axis=1, keepdims=True), 1e-12)

    @F2.pandas_udf("int")
    def _assign(vecs: pd.Series) -> pd.Series:
        m = np.stack(vecs.to_numpy())
        m = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
        return pd.Series(np.argmax(m @ norm.T, axis=1).astype("int32"))

    return _assign


def train_ivf_centroids(
    corpus: DataFrame,
    n_centroids: int = 16,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Lloyd's k-means over the corpus, Spark-distributed: assignment is
    an Arrow-batched argmax over the broadcast codebook; the centroid
    update is a posexplode + groupBy(cluster, dim) mean — both scale
    linearly with the corpus, only the (C x dim) codebook ever reaches
    the driver. Deterministic init: the n_centroids lowest-id vectors
    (no RNG — resumable and oracle-stable)."""
    from pyspark.sql import functions as F2

    init_rows = (
        corpus.select(id_col, vec_col).orderBy(F2.col(id_col).asc()).limit(n_centroids).collect()
    )
    centroids = np.array([list(r[vec_col]) for r in init_rows], dtype=np.float64)
    for _ in range(iters):
        assigned = corpus.select(
            _assign_udf(centroids)(F2.col(vec_col)).alias("cluster"), vec_col
        )
        means = (
            assigned.select("cluster", F2.posexplode(vec_col).alias("dim", "x"))
            .groupBy("cluster", "dim")
            .agg(F2.avg("x").alias("m"))
            .collect()
        )
        new = centroids.copy()
        for r in means:
            new[r["cluster"]][r["dim"]] = r["m"]
        centroids = new
    return centroids


def embeddings_token(sf_dir: str, vec_col: str = "embedding") -> str:
    """Stat fingerprint of the embeddings table — the codebook cache key.

    Keyed by WHAT was trained on, not by the directory's basename: two
    corpora that happen to share a dir name ('sf0.01' under different
    roots) get distinct codebooks, and re-generated data invalidates the
    cache automatically (ADVICE r03 #1). Hashes (name, size, mtime_ns)
    per part file instead of full content — reading every byte of the
    table per cache LOOKUP would not survive a 100-TB corpus; any rewrite
    bumps mtime, which is the invalidation signal that matters. The
    hashing scheme itself is shared with the stage-checkpoint
    fingerprint (one definition in ``fingerprint.stat_fingerprint``)."""
    from pathlib import Path

    from ..fingerprint import stat_fingerprint

    src = Path(sf_dir) / "embeddings.parquet"
    parts = [src] if src.is_file() else sorted(src.glob("*.parquet"))
    return stat_fingerprint((p.name, p.stat()) for p in parts)[:12]


def committed_codebook_path(n_centroids: int = 16, iters: int = 3):
    """The versioned model artifact the driver gate serves from: ONE
    committed codebook under resources/ (read-only; trained once on the
    sf0.01 corpus). Serving a fixed quantizer over any corpus is normal
    IVF practice — you do not retrain the coarse quantizer per query
    corpus — and it makes the gate/oracle pair structurally consistent at
    every scale factor: both engines read literals from this same file."""
    from pathlib import Path

    root = Path(__file__).resolve().parent.parent.parent / "resources"
    return root / f"ivf_codebook_default_c{n_centroids}_i{iters}.parquet"


def ivf_codebook_path(sf_dir: str, n_centroids: int = 16, iters: int = 3):
    """Writable cache location for a codebook trained on ``sf_dir``'s
    embeddings, keyed by their content hash. Root is env-overridable
    (MIMIRSBRUNN_SPARK_CACHE); defaults to ~/.cache/mimirsbrunn_spark so
    a read-only install never tries to write into the source tree
    (ADVICE r03 #5)."""
    import os
    from pathlib import Path

    root = Path(
        os.environ.get(
            "MIMIRSBRUNN_SPARK_CACHE",
            str(Path.home() / ".cache" / "mimirsbrunn_spark"),
        )
    )
    tok = embeddings_token(sf_dir)
    return root / f"ivf_codebook_{tok}_c{n_centroids}_i{iters}.parquet"


def load_or_train_codebook(
    spark,
    sf_dir: str,
    n_centroids: int = 16,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF training/serving split (VERDICT r02 #1a): train the coarse
    quantizer ONCE (iterative Lloyd — the part that is not
    SQL-expressible), persist the (cluster, centroid) codebook as parquet,
    and serve every later query from the file. Centroid components are
    rounded to 6 decimals so the serving-side argmax operates on
    exactly-representable doubles that an oracle can inline as literals
    (repr-roundtrip) — serving then becomes a deterministic join + window,
    bit-identical across engines. At production scale the codebook lives
    beside the corpus on shared storage; executors read it like any dim
    table instead of receiving driver pickle."""
    p = ivf_codebook_path(sf_dir, n_centroids, iters)
    if not p.exists():
        import pyarrow as pa
        import pyarrow.parquet as pq

        corpus = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(id_col, vec_col)
        cents = np.round(
            train_ivf_centroids(corpus, n_centroids, iters, id_col, vec_col), 6
        )
        p.parent.mkdir(parents=True, exist_ok=True)
        tbl = pa.table(
            {
                "cluster": pa.array(range(len(cents)), pa.int32()),
                "centroid": pa.array([c.tolist() for c in cents], pa.list_(pa.float64())),
            }
        )
        pq.write_table(tbl, p)
    return spark.read.parquet(str(p))


def _nearest_clusters(
    df: DataFrame, codebook: DataFrame, n: int, id_col: str, vec_col: str,
    keep_score: bool = False,
) -> DataFrame:
    """Top-n centroids per vector by cosine — pure Catalyst (broadcast
    cross join with the C-row codebook + sequential-fold dot products, the
    engine-portable pattern every other cosine gate uses). Ties broken by
    cluster asc on raw (un-rounded) doubles: both engines compute the
    identical fold, so the comparison is bit-identical.

    r6: the vector/centroid norms are each computed ONCE as columns
    before the cross join instead of twice per (vector, centroid) pair
    inside ``_cosine_fold`` — the identical IEEE fold evaluated 1x per
    row instead of 4x per pair (guide §1.2 per-task work; values are
    bit-identical because the same fold over the same array yields the
    same double). ``keep_score=True`` returns the raw ``ccos`` and the
    vector norm ``__vnorm`` so callers (semdedup) never re-derive them."""
    a = df.withColumn("__vnorm", F.expr(_norm_fold(vec_col))).alias("a")
    c = F.broadcast(
        codebook.withColumn("__cnorm", F.expr(_norm_fold("centroid")))
    ).alias("c")
    cos = F.expr(
        "CASE WHEN a.__vnorm * c.__cnorm = 0D THEN 0D ELSE "
        f"{_dot_fold(f'a.{vec_col}', 'c.centroid')} / (a.__vnorm * c.__cnorm) END"
    )
    w = Window.partitionBy(id_col).orderBy(F.col("ccos").desc(), F.col("cluster").asc())
    out = (
        a.crossJoin(c)
        .select(
            F.col(f"a.{id_col}"),
            F.col(f"a.{vec_col}"),
            F.col("c.cluster").alias("cluster"),
            cos.alias("ccos"),
            F.col("a.__vnorm"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= n)
    )
    if keep_score:
        return out.drop("rn")
    return out.drop("rn", "ccos", "__vnorm")


def ivf_topk_codebook(
    queries: DataFrame,
    corpus: DataFrame,
    codebook: DataFrame,
    k: int = 3,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF serving from a persisted codebook — fully declarative: corpus
    assignment = argmax-cosine join vs the broadcast codebook (each vector
    lands in exactly ONE inverted list, so probe×list join pairs are
    already distinct); probing = the same window at rank ≤ n_probe; exact
    cosine re-rank inside probed lists. Zero Python in the plan, hence an
    exact DuckDB oracle (gate ``ivf_ann_topk``)."""
    assigned = _nearest_clusters(corpus, codebook, 1, id_col, vec_col).alias("b")
    probes = _nearest_clusters(queries, codebook, n_probe, id_col, vec_col).alias("a")
    cand = (
        probes.join(assigned, "cluster")
        .filter(F.col(f"a.{id_col}") != F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("query_vec"),
            F.col(f"b.{id_col}").alias("neighbor_vec"),
            F.col(f"a.{vec_col}").alias("qv"),
            F.col(f"b.{vec_col}").alias("cv"),
        )
    )
    cos = F.round(F.expr(_cosine_fold("qv", "cv")), 6)
    w = Window.partitionBy("query_vec").orderBy(F.col("cosine").desc(), F.col("neighbor_vec").asc())
    return (
        cand.withColumn("cosine", cos)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_vec", "neighbor_vec", "cosine", "rank")
    )


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 3,
    n_centroids: int = 16,
    n_probe: int = 4,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids=None,
) -> DataFrame:
    """IVF approximate top-k: corpus partitioned by nearest centroid
    (inverted lists = a cluster-keyed equi-join, exactly the LSH bucket
    plan shape); each query probes its ``n_probe`` nearest centroids and
    exact-cosine re-ranks inside them. Recall grows with n_probe (n_probe
    = n_centroids degenerates to exact brute force). Pass ``centroids``
    as a (cluster, centroid) DataFrame (see ``load_or_train_codebook``)
    to serve through the pure-Catalyst oracle-exact path; a numpy array
    (or None → train in-session) uses the Arrow-batched UDF path, whose
    recall is pinned against cosine_topk in pytest."""
    if isinstance(centroids, DataFrame):
        return ivf_topk_codebook(queries, corpus, centroids, k, n_probe, id_col, vec_col)
    if centroids is None:
        centroids = train_ivf_centroids(corpus, n_centroids, iters, id_col, vec_col)
    norm = centroids / np.maximum(np.linalg.norm(centroids, axis=1, keepdims=True), 1e-12)

    @F.pandas_udf("array<int>")
    def _probes(vecs: pd.Series) -> pd.Series:
        m = np.stack(vecs.to_numpy())
        m = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
        order = np.argsort(-(m @ norm.T), axis=1)[:, :n_probe]
        return pd.Series([row.astype("int32").tolist() for row in order])

    cb = corpus.select(
        F.col(id_col), F.col(vec_col), _assign_udf(centroids)(F.col(vec_col)).alias("cluster")
    ).alias("b")
    qb = queries.select(
        F.col(id_col), F.col(vec_col),
        F.explode(_probes(F.col(vec_col))).alias("cluster"),
    ).alias("a")
    cand = (
        qb.join(cb, "cluster")
        .filter(F.col(f"a.{id_col}") != F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("query_vec"),
            F.col(f"b.{id_col}").alias("neighbor_vec"),
            F.col(f"a.{vec_col}").alias("qv"),
            F.col(f"b.{vec_col}").alias("cv"),
        )
    )
    cos = F.round(F.expr(_cosine_fold("qv", "cv")), 6)
    w = Window.partitionBy("query_vec").orderBy(F.col("cosine").desc(), F.col("neighbor_vec").asc())
    return (
        cand.withColumn("cosine", cos)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_vec", "neighbor_vec", "cosine", "rank")
    )


# ---------------------------------------------------------------------------
# SemDeDup — cluster-bucketed semantic deduplication (Abbas et al. 2023)
# ---------------------------------------------------------------------------


def semdedup(
    corpus: DataFrame,
    codebook: DataFrame,
    eps: float = 0.05,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    pair_tasks: int = 4,
) -> DataFrame:
    """SemDeDup (Abbas et al., "SemDeDup: Data-efficient learning at
    web-scale through semantic deduplication", 2023): semantic near-dup
    REMOVAL over an embedding column, bucketed by a k-means coarse
    quantizer so the pairwise stage is Σ|cluster|² instead of n².

    Stages (all pure Catalyst — hence an exact DuckDB oracle):
    1. assign every vector to its nearest codebook centroid (the same
       broadcast argmax-cosine join ``ivf_topk_codebook`` serves from —
       one inverted list per vector, raw-double ties broken cluster-asc);
    2. within each cluster, pairs with round(cosine, 6) >= 1 - eps are
       semantic duplicates (the paper's epsilon ball). Pair scoring is
       cluster-keyed only — no cross-cluster pairs exist, which is the
       paper's explicit scalability argument, and at 100 TB the knob is
       n_centroids: more clusters → smaller Σ|cluster|² (the quantizer
       trains once, distributed Lloyd). r6: the per-pair cosine runs as
       a blocked numpy kernel reproducing the Catalyst fold's summation
       order bit-for-bit (see ``_cluster_pair_cosines``) instead of an
       interpreted fold inside a self-join — identical values, ~10×
       less per-pair cost, n_clusters × pair_tasks-way parallel;
    3. duplicate-pair graph → connected components (the shared
       ``neardup_components`` min-label propagation, shallow graphs);
    4. keep exactly one member per component: the paper keeps the vector
       with the LOWEST cosine to its cluster centroid (farthest from the
       centroid — "keep the outliers"), ties broken by id asc on the
       6-decimal-rounded centroid cosine so the rule is engine-portable.

    Returns one row per input vector: (id, cluster, component, keep) —
    ``component`` = min reachable id (own id if unpaired), ``keep`` =
    true for unpaired vectors and component representatives. Filtering
    ``keep`` implements the paper's dedup; returning the full assignment
    keeps the decision auditable (mirrors ``dedup_keep_canonical``).

    Reference analogue: mimirsbrunn dedups places by (name, admin) key
    (dedup in streets — see operators/enrich.py W1); this is the
    embedding-space generalization a training-data pipeline needs.
    """
    from .dedup import eager_checkpoint, neardup_components
    from .skew import ensure_parallelism

    threshold = round(1.0 - eps, 6)
    # single-file embedding tables plan 1-2 scan tasks; the assignment
    # folds and the pair stage below must run machine-wide (guide §2.5)
    corpus = ensure_parallelism(corpus)
    # one row per vector with its cluster, centroid-cosine and norm —
    # all three come straight out of the assignment pass (keep_score)
    # instead of a second codebook join recomputing the winning fold.
    # Cached: reused by the pair stage, the keep rank and the final
    # assignment; unpersisted below once the narrow projection is
    # checkpointed (ADVICE r05 #3 — the old cache was never released).
    assigned, dim = _assign_clusters_kernel(corpus, codebook, id_col, vec_col)
    withc = (
        assigned.select(
            F.col(id_col),
            F.col(vec_col),
            F.col("cluster"),
            F.round(F.col("ccos"), 6).alias("ccos"),
            F.col("__vnorm").alias("vnorm"),
        )
        .cache()
    )
    pairs = _cluster_pair_cosines(
        withc, dim, threshold, id_col, vec_col, pair_tasks=pair_tasks
    )
    comps = neardup_components(pairs, "vec_a", "vec_b").withColumnRenamed("doc_id", id_col)
    # components have converged (neardup_components returns materialized
    # labels): checkpoint the narrow (id, cluster, ccos) projection the
    # remaining plan needs and release the wide embedding cache — a
    # long-lived session no longer accumulates cached blocks per call.
    narrow = eager_checkpoint(withc.select(id_col, "cluster", "ccos"))
    withc.unpersist()
    w = Window.partitionBy("component").orderBy(F.col("ccos").asc(), F.col(id_col).asc())
    ranked = (
        comps.join(narrow.select(id_col, "ccos"), id_col)
        .withColumn("rn", F.row_number().over(w))
    )
    return (
        narrow.select(id_col, "cluster")
        .join(ranked.select(id_col, "component", "rn"), id_col, "left")
        .select(
            F.col(id_col),
            F.col("cluster"),
            F.coalesce("component", F.col(id_col)).alias("component"),
            (F.col("rn").isNull() | (F.col("rn") == 1)).alias("keep"),
        )
    )


def _require_width(widths: np.ndarray, dim: int) -> None:
    """Every embedding must hold exactly ``dim`` values. A flat reshape
    or stack over ragged rows would silently shift values between
    vectors, so a ragged or null vector (width != dim) is an error."""
    bad = int(np.count_nonzero(widths != dim))
    if bad:
        raise ValueError(
            f"embeddings must have width {dim} (the codebook's): {bad} row(s) are ragged or null"
        )


def _assign_clusters_kernel(
    corpus: DataFrame, codebook: DataFrame, id_col: str, vec_col: str
) -> tuple[DataFrame, int]:
    """semdedup's nearest-centroid assignment as an Arrow kernel —
    (id, vec, cluster, ccos raw, __vnorm), the exact rows
    ``_nearest_clusters(..., 1, keep_score=True)`` produces, without
    the C-way crossJoin + per-vector window (480k interpreted folds +
    a shuffle at bench sf1). Bit-identical by the same argument as
    ``_cluster_pair_cosines``: dots and norms accumulate one dimension
    at a time (the fold's left-to-right order), the zero-norm CASE is
    mirrored, and np.argmax's first-maximum rule IS the window's
    (ccos desc, cluster asc) tie-break — including the all-NaN corner,
    where both pick the lowest cluster index. The codebook is collected
    once (it is driver-sized by definition — the same literals the
    DuckDB oracle inlines); its width is returned with the frame."""
    cb_rows = sorted(
        ((int(r["cluster"]), list(r["centroid"])) for r in codebook.collect()),
        key=lambda t: t[0],
    )
    clusters = np.array([c for c, _ in cb_rows], dtype=np.int32)
    cent = np.array([v for _, v in cb_rows], dtype=np.float64)  # (C, D)
    dim = cent.shape[1]
    cn_acc = np.zeros(len(cb_rows))
    for d in range(dim):  # sequential-dim norm fold, as _norm_fold
        cn_acc += cent[:, d] * cent[:, d]
    cnorm = np.sqrt(cn_acc)
    id_dt = corpus.schema[id_col].dataType.simpleString()
    vec_dt = corpus.schema[vec_col].dataType.simpleString()

    def kernel(batches):
        import pyarrow as pa

        for b in batches:
            n = b.num_rows
            if n == 0:
                continue
            names = b.schema.names
            vcol = b.column(names.index(vec_col))
            off = vcol.offsets.to_numpy(zero_copy_only=False)
            _require_width(np.diff(off), dim)  # null vectors have width 0
            flat = vcol.values.to_numpy(zero_copy_only=False)
            V = flat[off[0]:off[-1]].reshape(n, dim)
            vn_acc = np.zeros(n)
            dot = np.zeros((n, len(clusters)))
            for d in range(dim):  # the fold's summation order
                vn_acc += V[:, d] * V[:, d]
                dot += V[:, d : d + 1] * cent[:, d]
            vnorm = np.sqrt(vn_acc)
            P = vnorm[:, None] * cnorm[None, :]
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = np.where(P == 0.0, 0.0, dot / P)
            sel = np.argmax(cos, axis=1)
            rows = np.arange(n)
            yield pa.RecordBatch.from_arrays(
                [
                    b.column(names.index(id_col)),
                    vcol,
                    pa.array(clusters[sel]),
                    pa.array(cos[rows, sel]),
                    pa.array(vnorm),
                ],
                names=[id_col, vec_col, "cluster", "ccos", "__vnorm"],
            )

    return corpus.select(id_col, vec_col).mapInArrow(
        kernel,
        schema=f"{id_col} {id_dt}, {vec_col} {vec_dt}, cluster int, ccos double, __vnorm double",
    ), dim


def _cluster_pair_cosines(
    withc: DataFrame,
    dim: int,
    threshold: float,
    id_col: str,
    vec_col: str,
    pair_tasks: int = 4,
) -> DataFrame:
    """The Σ|cluster|² eps-ball pair stage as a blocked numpy kernel.

    The r5 plan scored every in-cluster pair with an interpreted
    64-element Catalyst fold inside a cluster-keyed self-join — at 28M
    pairs that is ~2×10^9 interpreted lambda steps on at most
    n_clusters tasks (23 s of the 30 s operator at bench sf1). This
    kernel computes the identical values vectorized (guide §4.2):

    - the dot product accumulates ONE DIMENSION AT A TIME across the
      whole pair block (``C += V[:, d] ⊗ V[:, d]``), i.e. the exact
      left-to-right summation order of ``aggregate(zip_with(a, b, *),
      0D, +)`` — every intermediate is the same IEEE-754 double the
      Catalyst fold produces, so cosines are BIT-IDENTICAL (same
      argument as the geometry ray-cast kernels);
    - the zero-norm guard mirrors ``CASE WHEN vnorm_a*vnorm_b = 0``;
    - the kernel pre-filters at ``threshold - 1e-6`` (conservative:
      round-half-up at 6 decimals can lift a value by at most 5e-7) and
      Spark applies the exact ``round(cosine, 6) >= threshold`` on the
      returned raw doubles, so the decision is made by the same rounding
      rule as before.

    Parallelism: each cluster's rows are replicated ``pair_tasks`` times
    and each (cluster, task) group computes a deterministic round-robin
    slice of the block pairs — n_clusters × pair_tasks tasks instead of
    one task per cluster, with only the (tiny) per-cluster vectors
    duplicated. Vectors must all have width ``dim`` (ValueError if not).
    Output: (vec_a, vec_b, cosine) with vec_a < vec_b, cosine rounded."""
    id_dt = withc.schema[id_col].dataType.simpleString()
    rep = withc.select("cluster", id_col, vec_col, "vnorm").withColumn(
        "__task", F.explode(F.array(*[F.lit(i) for i in range(pair_tasks)]))
    )
    lo = threshold - 1e-6
    block = 1024

    def kernel(key, pdf: pd.DataFrame) -> pd.DataFrame:
        task = int(key[1])
        empty = pd.DataFrame(
            {
                "vec_a": pd.Series(dtype=pdf[id_col].dtype),
                "vec_b": pd.Series(dtype=pdf[id_col].dtype),
                "cosine": pd.Series(dtype="float64"),
            }
        )
        m = len(pdf)
        if m < 2:
            return empty
        ids_raw = pdf[id_col].to_numpy()
        order = np.argsort(ids_raw, kind="stable")
        ids = ids_raw[order]
        vecs = pdf[vec_col].to_numpy()[order]
        _require_width(np.array([-1 if v is None else len(v) for v in vecs]), dim)
        V = np.stack(vecs).astype(np.float64, copy=False)
        nv = pdf["vnorm"].to_numpy()[order].astype(np.float64, copy=False)
        n_blocks = (m + block - 1) // block
        out_a, out_b, out_c = [], [], []
        pair_idx = 0
        for bi in range(n_blocks):
            for bj in range(bi, n_blocks):
                if pair_idx % pair_tasks != task:
                    pair_idx += 1
                    continue
                pair_idx += 1
                I = slice(bi * block, min((bi + 1) * block, m))
                J = slice(bj * block, min((bj + 1) * block, m))
                VI, VJ = V[I], V[J]
                C = np.zeros((VI.shape[0], VJ.shape[0]))
                for d in range(dim):  # sequential-dim = the fold's order
                    C += VI[:, d : d + 1] * VJ[:, d]
                P = nv[I][:, None] * nv[J][None, :]
                with np.errstate(divide="ignore", invalid="ignore"):
                    cos = np.where(P == 0.0, 0.0, C / P)
                if bi == bj:
                    iu = np.triu_indices(VI.shape[0], k=1)
                    keep = cos[iu] >= lo
                    ii, jj = iu[0][keep], iu[1][keep]
                    cc = cos[iu][keep]
                else:
                    ii, jj = np.nonzero(cos >= lo)
                    cc = cos[ii, jj]
                if len(ii):
                    out_a.append(ids[I][ii])
                    out_b.append(ids[J][jj])
                    out_c.append(cc)
        if not out_a:
            return empty
        return pd.DataFrame(
            {
                "vec_a": np.concatenate(out_a),
                "vec_b": np.concatenate(out_b),
                "cosine": np.concatenate(out_c),
            }
        )

    raw = rep.groupBy("cluster", "__task").applyInPandas(
        kernel, schema=f"vec_a {id_dt}, vec_b {id_dt}, cosine double"
    )
    return raw.select(
        "vec_a", "vec_b", F.round("cosine", 6).alias("cosine")
    ).filter(F.col("cosine") >= threshold)


# ---------------------------------------------------------------------------
# int8 scalar quantization — the embedding bandwidth-reduction path
# ---------------------------------------------------------------------------


def quantize_int8(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Per-vector symmetric int8 scalar quantization: codes[i] =
    floor(x[i]/scale + 0.5) with scale = max|x|/127 — 4× less scan/
    shuffle bandwidth than float32, which at 100 TB is the difference
    between an embedding table that fits the IO budget and one that
    doesn't (FAISS SQ8 / every production vector store's starter
    compression). Zero vectors quantize to all-zero codes at scale 0.

    The rounding is written as an explicit floor(x + 0.5) — not the
    engines' round() — because SQL round() half-case conventions differ
    across engines while floor is a single bit-identical libm call;
    codes are therefore engine-exact and the gate hashes them directly.

    Pure Catalyst (transform/aggregate over the array column — no
    Python, no shuffle: a map-side rewrite of the column). Returns
    id, scale (double) and the int codes array; ``dequantize_expr``
    rebuilds an approximate vector for rescoring with the existing
    cosine machinery.
    """
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    amax = F.array_max(F.transform(v, lambda x: F.abs(x)))
    scale = (amax / F.lit(127.0)).alias("scale")
    codes = F.when(amax == 0, F.transform(v, lambda x: F.lit(0))).otherwise(
        F.transform(v, lambda x: F.floor(x / (amax / F.lit(127.0)) + F.lit(0.5)).cast("int"))
    )
    return df.select(F.col(id_col), scale, codes.alias("codes"))


def dequantize_expr(codes_col: str = "codes", scale_col: str = "scale") -> str:
    """SQL text rebuilding the approximate double vector from int8
    codes — shared verbatim with the DuckDB oracle."""
    return f"transform({codes_col}, c -> c * {scale_col})"


def int8_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k cosine over int8-quantized vectors: quantize both sides,
    score on the dequantized approximation (the memory-resident form a
    100-TB serving tier would hold), rank per query. The quantized
    score is deterministic, so this has an exact oracle — approximation
    QUALITY vs float32 is pinned separately in pytest (recall@k).
    Candidate generation stays the existing LSH/IVF buckets at scale;
    this is the scoring kernel swap."""
    dq = F.expr(dequantize_expr())
    qq = quantize_int8(queries, id_col, vec_col).select(F.col(id_col), dq.alias(vec_col))
    cc = quantize_int8(corpus, id_col, vec_col).select(F.col(id_col), dq.alias(vec_col))
    return cosine_topk(qq, cc, k, id_col, vec_col).select(
        "query_vec", "neighbor_vec", "cosine", "rank"
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) — codes + asymmetric-distance (ADC) top-k
# ---------------------------------------------------------------------------
#
# The canonical billion-scale ANN memory recipe (Jégou et al. 2011,
# "Product quantization for nearest neighbor search"): split the vector
# into M subspaces, k-means each subspace to K codes, store M small ints
# per vector (here 8 bytes vs 256 for float32-64d), and answer queries
# by summing per-subspace lookup distances (ADC). Complements
# quantize_int8 (4x) with the 32x-compression tier; candidate
# generation composes with the LSH/IVF bucketing exactly like int8.

PQ_M, PQ_K, PQ_DIM = 8, 16, 64
PQ_SUB = PQ_DIM // PQ_M


def train_pq_codebooks(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iters: int = 3,
) -> "np.ndarray":
    """Per-subspace Lloyd k-means: returns (M, K, PQ_SUB) centroids,
    rounded to 6 decimals (repr-roundtrip doubles, the committed-artifact
    protocol every codebook gate uses). M sequential distributed
    trainings — training happens once; serving reads the artifact."""
    subs = []
    for m in range(PQ_M):
        sliced = corpus.select(
            F.col(id_col),
            F.slice(
                F.expr(f"transform({vec_col}, x -> cast(x as double))"),
                m * PQ_SUB + 1,
                PQ_SUB,
            ).alias(vec_col),
        )
        subs.append(
            np.round(train_ivf_centroids(sliced, PQ_K, iters, id_col, vec_col), 6)
        )
    return np.stack(subs)


def committed_pq_codebook_path():
    """The versioned PQ model artifact (resources/, read-only; trained
    once on the sf0.01 corpus — serving a fixed quantizer over any
    corpus is standard PQ practice, and it keeps the gate/oracle pair
    structurally consistent at every scale factor)."""
    from pathlib import Path

    root = Path(__file__).resolve().parent.parent.parent / "resources"
    return root / f"pq_codebook_default_m{PQ_M}_k{PQ_K}.parquet"


def load_or_train_pq_codebook(spark, sf_dir: str) -> DataFrame:
    """(subspace, code, centroid[PQ_SUB]) rows — the serving-side dim."""
    p = committed_pq_codebook_path()
    if not p.exists():
        import pyarrow as pa
        import pyarrow.parquet as pq

        corpus = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
            "vec_id", "embedding"
        )
        cents = train_pq_codebooks(corpus)
        p.parent.mkdir(parents=True, exist_ok=True)
        tbl = pa.table(
            {
                "subspace": pa.array(
                    [m for m in range(PQ_M) for _ in range(PQ_K)], pa.int32()
                ),
                "code": pa.array(list(range(PQ_K)) * PQ_M, pa.int32()),
                "centroid": pa.array(
                    [cents[m][k].tolist() for m in range(PQ_M) for k in range(PQ_K)],
                    pa.list_(pa.float64()),
                ),
            }
        )
        pq.write_table(tbl, p)
    return spark.read.parquet(str(p))


def _sub_l2(sub_expr: str, cent_expr: str) -> str:
    """Squared L2 between two PQ_SUB-dim arrays — pure mul/add fold,
    bit-identical across engines (no libm)."""
    return (
        f"aggregate(zip_with({sub_expr}, {cent_expr},"
        " (x, y) -> (cast(x as double) - cast(y as double)) *"
        " (cast(x as double) - cast(y as double))), 0D, (acc, v) -> acc + v)"
    )


def _exploded_subvectors(
    df: DataFrame, id_col: str, vec_col: str, out_id: str
) -> DataFrame:
    """(id, subspace, sub[PQ_SUB]) — one row per vector per subspace."""
    subs = F.array(
        *[
            F.slice(
                F.expr(f"transform({vec_col}, x -> cast(x as double))"),
                m * PQ_SUB + 1,
                PQ_SUB,
            )
            for m in range(PQ_M)
        ]
    )
    return df.select(
        F.col(id_col).alias(out_id), F.posexplode(subs).alias("subspace", "sub")
    )


def pq_encode(
    corpus: DataFrame,
    codebook: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode every vector as M argmin-subspace codes: (id, codes
    array<int>). Plan: posexplode to (vec, subspace) rows → broadcast
    join with the M*K-row codebook → squared-L2 fold → per-(vec,
    subspace) argmin window (ties → code asc on bit-identical raw
    doubles) → ordered collect back to the codes array. Two shuffles
    (window + rebuild), both keyed by the id — linear, no all-pairs."""
    ex = _exploded_subvectors(corpus, id_col, vec_col, id_col)
    j = ex.join(F.broadcast(codebook), "subspace").withColumn(
        "d2", F.expr(_sub_l2("sub", "centroid"))
    )
    w = Window.partitionBy(id_col, "subspace").orderBy(
        F.col("d2").asc(), F.col("code").asc()
    )
    best = j.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return best.groupBy(id_col).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("subspace", "code"))),
            lambda s: s["code"],
        ).alias("codes")
    )


def pq_adc_topk(
    queries: DataFrame,
    corpus_codes: DataFrame,
    codebook: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Asymmetric-distance top-k: the query stays float, the corpus is
    its PQ codes; distance(q, v) = Σ_m ||sub_m(q) − centroid[m,
    codes_m(v)]||² — each query's 128-entry lookup table is computed
    once (query subvectors × broadcast codebook) and the corpus-side
    work is a join on (subspace, code) + a per-pair sum: no float
    vector ever leaves the codebook, which is the entire point at
    10^12 corpus rows. Output (query_vec, neighbor_vec, adc_dist,
    rank), rank by (dist asc, neighbor asc), self-pairs excluded."""
    table = (
        _exploded_subvectors(queries, id_col, vec_col, "query_vec")
        .join(F.broadcast(codebook), "subspace")
        .withColumn("qd2", F.expr(_sub_l2("sub", "centroid")))
        .select("query_vec", "subspace", "code", "qd2")
    )
    ex_codes = corpus_codes.select(
        F.col(id_col).alias("neighbor_vec"),
        F.posexplode("codes").alias("subspace", "code"),
    )
    dist = (
        ex_codes.join(F.broadcast(table), ["subspace", "code"])
        .filter(F.col("query_vec") != F.col("neighbor_vec"))
        .groupBy("query_vec", "neighbor_vec")
        .agg(F.round(F.sum("qd2"), 6).alias("adc_dist"))
    )
    w = Window.partitionBy("query_vec").orderBy(
        F.col("adc_dist").asc(), F.col("neighbor_vec").asc()
    )
    return (
        dist.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_vec", "neighbor_vec", "adc_dist", "rank")
    )
