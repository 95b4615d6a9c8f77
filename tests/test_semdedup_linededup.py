"""Unit coverage for the two r5 training-data additions:

- ``operators/similarity.semdedup`` — SemDeDup (Abbas et al. 2023):
  cluster-bucketed semantic dedup, keep-the-farthest-from-centroid.
- ``operators/textprep.dedup_lines`` — CCNet/C4-style cross-document
  line dedup with in-place reassembly.

Both also have hash-exact driver gates (``semdedup_keep``,
``line_dedup``); these tests pin the branchy unit semantics the gate
corpus can't isolate: keep-rule tie-breaks, cross-cluster blindness,
sub-threshold line immunity, full-document removal.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _codebook(spark, centroids):
    return spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(centroids)],
        "cluster int, centroid array<double>",
    )


def _vecs(spark, rows):
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<double>",
    )


class TestSemDeDup:
    def test_keeps_farthest_from_centroid(self, spark):
        from mimirsbrunn_spark.operators.similarity import semdedup

        # one cluster along +x, one along +y; vectors 1/2/3 are a dup
        # group in cluster 0 with increasing angular distance from the
        # centroid -> SemDeDup must keep vec 3 (lowest centroid cosine)
        cb = _codebook(spark, [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0]])
        rows = [
            (1, [1.0, 0.0, 0.0]),
            (2, [1.0, 0.02, 0.0]),
            (3, [1.0, 0.05, 0.0]),
            (9, [0.0, 1.0, 0.0]),  # other cluster, unpaired
        ]
        out = {
            r["vec_id"]: r
            for r in semdedup(_vecs(spark, rows), cb, eps=0.01).collect()
        }
        assert {k: v["cluster"] for k, v in out.items()} == {1: 0, 2: 0, 3: 0, 9: 1}
        # 1-2-3 form one component labeled by the min id
        assert [out[i]["component"] for i in (1, 2, 3)] == [1, 1, 1]
        assert [out[i]["keep"] for i in (1, 2, 3)] == [False, False, True]
        # unpaired vector: own component, kept
        assert out[9]["component"] == 9 and out[9]["keep"] is True

    def test_cross_cluster_pairs_are_invisible(self, spark):
        from mimirsbrunn_spark.operators.similarity import semdedup

        # two identical vectors assigned to DIFFERENT nearest centroids
        # can never pair — the paper's explicit scalability trade-off
        # (dup detection only within a cluster). Centroids at +/-3deg
        # around x so each vector has a distinct nearest centroid.
        cb = _codebook(spark, [[1.0, 0.05, 0.0], [1.0, -0.05, 0.0]])
        rows = [(1, [1.0, 0.04, 0.0]), (2, [1.0, -0.04, 0.0])]
        out = {r["vec_id"]: r for r in semdedup(_vecs(spark, rows), cb, eps=0.5).collect()}
        assert out[1]["cluster"] != out[2]["cluster"]
        assert out[1]["keep"] and out[2]["keep"]
        assert out[1]["component"] == 1 and out[2]["component"] == 2

    def test_keep_tie_breaks_by_min_id(self, spark):
        from mimirsbrunn_spark.operators.similarity import semdedup

        # exact duplicates: identical centroid cosine -> tie broken by
        # vec_id asc (deterministic, engine-portable)
        cb = _codebook(spark, [[1.0, 0.0, 0.0]])
        rows = [(7, [1.0, 0.01, 0.0]), (4, [1.0, 0.01, 0.0])]
        out = {r["vec_id"]: r for r in semdedup(_vecs(spark, rows), cb, eps=0.01).collect()}
        assert out[4]["keep"] is True and out[7]["keep"] is False
        assert out[4]["component"] == out[7]["component"] == 4

    def test_reliable_checkpoint_when_dir_set(self, spark, tmp_path):
        """With a checkpoint dir configured, SemDeDup's mid-plan
        checkpoint must go to reliable storage (survives executor loss),
        the same rule neardup_components follows — and give the same
        answer as the localCheckpoint run."""
        from mimirsbrunn_spark.operators.similarity import semdedup

        cb = _codebook(spark, [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0]])
        rows = [(1, [1.0, 0.0, 0.0]), (2, [1.0, 0.02, 0.0]), (9, [0.0, 1.0, 0.0])]
        want = sorted(semdedup(_vecs(spark, rows), cb, eps=0.01).collect())
        ckpt = tmp_path / "ckpt"
        sc = spark.sparkContext
        assert sc.getCheckpointDir() is None
        sc.setCheckpointDir(str(ckpt))
        try:
            got = sorted(semdedup(_vecs(spark, rows), cb, eps=0.01).collect())
            written = [p for p in ckpt.rglob("*") if p.is_file()]
            assert written, "checkpoint dir stayed empty — semdedup used localCheckpoint"
            assert got == want
        finally:
            # the session is shared across the suite — don't leak the dir
            # (the scala setter has a $-mangled name, hence getattr)
            getattr(sc._jsc.sc(), "checkpointDir_$eq")(sc._jvm.scala.Option.empty())
            assert sc.getCheckpointDir() is None

    def test_ragged_embeddings_raise(self, spark):
        """Widths dim+1 and dim-1 sum to 2*dim, so a flat reshape to
        (2, dim) would succeed and silently shift a value from one vector
        into the other. Both kernels must refuse the batch instead."""
        from mimirsbrunn_spark.operators.similarity import _cluster_pair_cosines, semdedup

        cb = _codebook(spark, [[1.0, 0.0, 0.0]])
        rows = [(1, [1.0, 0.0, 0.0, 0.0]), (2, [1.0, 0.0])]
        # one partition behind an exchange: ensure_parallelism leaves it
        # alone, so both vectors reach the assignment kernel in one batch
        one_batch = _vecs(spark, rows).repartition(1)
        with pytest.raises(Exception, match=r"ValueError.*width 3.*2 row"):
            semdedup(one_batch, cb, eps=0.01).collect()
        withc = _vecs(spark, rows).select(
            F.lit(0).alias("cluster"), "vec_id", "embedding", F.lit(1.0).alias("vnorm")
        )
        with pytest.raises(Exception, match=r"ValueError.*width 3.*2 row"):
            _cluster_pair_cosines(withc, 3, 0.99, "vec_id", "embedding").collect()


class TestDedupLines:
    def _docs(self, spark, rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_boilerplate_removed_order_preserved(self, spark):
        from mimirsbrunn_spark.operators.textprep import dedup_lines

        footer = "shared cookie banner line"
        docs = self._docs(
            spark,
            [
                (1, f"alpha unique first line\n{footer}\nalpha unique last line"),
                (2, f"{footer}\nbeta unique middle stays"),
                (3, "gamma has no shared lines at all"),
            ],
        )
        out = {r["doc_id"]: r for r in dedup_lines(docs).collect()}
        assert out[1]["text"] == "alpha unique first line\nalpha unique last line"
        assert out[1]["n_lines"] == 3 and out[1]["n_removed"] == 1
        assert out[2]["text"] == "beta unique middle stays"
        assert out[3]["text"] == "gamma has no shared lines at all"
        assert out[3]["n_removed"] == 0

    def test_short_duplicate_lines_survive(self, spark):
        from mimirsbrunn_spark.operators.textprep import dedup_lines

        # "ok" duplicates across docs but is under min_chars -> immune
        docs = self._docs(spark, [(1, "ok\nlong unique line number one"),
                                  (2, "ok\nlong unique line number two")])
        out = {r["doc_id"]: r for r in dedup_lines(docs, min_chars=10).collect()}
        assert out[1]["text"].startswith("ok\n") and out[2]["text"].startswith("ok\n")
        assert out[1]["n_removed"] == 0

    def test_trim_keyed_but_text_verbatim(self, spark):
        from mimirsbrunn_spark.operators.textprep import dedup_lines

        # keys are trimmed (same boilerplate with different indentation
        # dedups together) but surviving lines keep their original bytes
        docs = self._docs(spark, [(1, "  padded boilerplate line  \nunique one stays here"),
                                  (2, "padded boilerplate line\nunique two stays here")])
        out = {r["doc_id"]: r for r in dedup_lines(docs).collect()}
        assert out[1]["text"] == "unique one stays here"
        assert out[2]["text"] == "unique two stays here"

    def test_fully_boilerplate_doc_empties(self, spark):
        from mimirsbrunn_spark.operators.textprep import dedup_lines

        docs = self._docs(spark, [(1, "the only shared line"),
                                  (2, "the only shared line"),
                                  (3, "a document that survives intact")])
        out = {r["doc_id"]: r for r in dedup_lines(docs).collect()}
        assert out[1]["text"] == "" and out[1]["n_removed"] == 1 and out[1]["n_lines"] == 1
        assert out[2]["text"] == ""
        assert out[3]["text"] == "a document that survives intact"

    def test_min_docs_threshold(self, spark):
        from mimirsbrunn_spark.operators.textprep import dedup_lines

        # repeated WITHIN one doc but in only one distinct doc: survives
        # at min_docs=2 (cross-document boilerplate, not within-doc
        # repetition — that is repetition_ngram_stats' job)
        docs = self._docs(spark, [(1, "repeated internal line\nrepeated internal line"),
                                  (2, "something else entirely here")])
        out = {r["doc_id"]: r for r in dedup_lines(docs).collect()}
        assert out[1]["n_removed"] == 0
        assert out[1]["text"] == "repeated internal line\nrepeated internal line"


class TestInt8Quantization:
    def test_zero_vector(self, spark):
        from mimirsbrunn_spark.operators.similarity import quantize_int8

        d = _vecs(spark, [(1, [0.0, 0.0, 0.0]), (2, [1.0, -2.0, 0.5])])
        out = {r["vec_id"]: r for r in quantize_int8(d).collect()}
        assert out[1]["scale"] == 0.0 and out[1]["codes"] == [0, 0, 0]
        # max|x| maps to +/-127 exactly; codes stay within int8 range
        assert out[2]["codes"][1] == -127
        assert all(-127 <= c <= 127 for c in out[2]["codes"])

    def test_codes_bounded_and_sign_preserved(self, spark):
        from mimirsbrunn_spark.operators.similarity import quantize_int8

        d = _vecs(spark, [(1, [0.3, -0.7, 0.01, -0.01])])
        (row,) = quantize_int8(d).collect()
        assert row["codes"][1] == -127
        assert row["codes"][0] > 0 and row["codes"][2] >= 0 and row["codes"][3] <= 0

    def test_topk_recall_vs_exact(self, spark):
        from mimirsbrunn_spark.operators.similarity import cosine_topk, int8_topk

        import numpy as np

        rng = np.random.default_rng(7)
        vecs = [(i, [float(x) for x in rng.normal(size=16)]) for i in range(80)]
        d = _vecs(spark, vecs)
        q = d.filter(F.col("vec_id") < 10)
        exact = {(r["query_vec"], r["neighbor_vec"]) for r in cosine_topk(q, d, k=5).collect()}
        quant = {(r["query_vec"], r["neighbor_vec"]) for r in int8_topk(q, d, k=5).collect()}
        recall = len(exact & quant) / len(exact)
        assert recall >= 0.9, f"int8 recall@5 degraded to {recall}"
