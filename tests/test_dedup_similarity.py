"""Dedup + similarity operator tests (constructed duplicates; brute-force
oracles)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from spandex_spark.operators.dedup import (
    exact_dedup, minhash_lsh_pairs, ngram_jaccard_verify, simhash_dedup,
    embedding_neardup_pairs,
)
from spandex_spark.operators.similarity import ann_bruteforce, ann_lsh


def _docs(spark):
    base = ("the quick brown fox jumps over the lazy dog and then runs far "
            "away into the deep green forest to find food for the winter")
    variant = base.replace("winter", "summer")  # near-dup of base
    other = ("completely different content about spark query engines and "
             "distributed columnar storage with vectorized execution paths "
             "plus adaptive shuffle partitioning for skewed workloads today")
    rows = [
        (0, base), (1, base),            # exact dups
        (2, variant),                    # near-dup of 0/1
        (3, other), (4, other + " x"),   # near-dups of each other
        (5, "tiny text"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


class TestExactDedup:
    def test_groups(self, spark):
        out = {r.canonical_id: r.n_dups for r in exact_dedup(_docs(spark)).collect()}
        assert out[0] == 2  # docs 0 and 1 identical
        assert out[2] == 1 and out[5] == 1


class TestMinhash:
    def test_near_dups_found_and_jaccard_sane(self, spark):
        docs = _docs(spark)
        pairs = minhash_lsh_pairs(docs, num_hashes=64, bands=32)
        got = {(r.id_a, r.id_b): r.est_jaccard for r in pairs.collect()}
        assert got.get((0, 1)) == 1.0          # identical → all signatures agree
        assert (0, 2) in got or (1, 2) in got  # near-dup caught by some band
        assert (3, 4) in got
        assert (0, 3) not in got               # unrelated docs don't collide

    def test_verify_stage_exact_jaccard(self, spark):
        docs = _docs(spark)
        pairs = minhash_lsh_pairs(docs, num_hashes=64, bands=32)
        verified = {(r.id_a, r.id_b): r.jaccard
                    for r in ngram_jaccard_verify(docs, pairs).collect()}
        assert verified[(0, 1)] == 1.0
        if (0, 2) in verified:
            assert 0.5 < verified[(0, 2)] < 1.0

    def test_max_bucket_keeps_smallest_ids_and_caps_before_aggregating(
            self, spark):
        # 60 identical documents land in one bucket per band; max_bucket=5
        # keeps the 5 smallest ids, so exactly their 10 pairs come out
        base = _docs(spark).filter("doc_id = 0").first().text
        ids = [100 + (i * 37) % 60 for i in range(60)]
        docs = spark.createDataFrame([(i, base) for i in ids],
                                     ["doc_id", "text"])
        pairs = minhash_lsh_pairs(docs, num_hashes=64, bands=32, max_bucket=5)
        got = sorted((r.id_a, r.id_b) for r in pairs.collect())
        assert got == [(a, b) for a in range(100, 105)
                       for b in range(a + 1, 105)]
        # the cap runs below (before) every collect_list aggregate, so no
        # task buffers a whole bucket
        plan = pairs._jdf.queryExecution().executedPlan().toString()
        final = plan.split("== Initial Plan ==")[0].splitlines()
        cap = [i for i, ln in enumerate(final) if "WindowGroupLimit" in ln]
        agg = [i for i, ln in enumerate(final) if "collect_list" in ln]
        assert cap and agg and max(agg) < min(cap)


class TestSimhash:
    def test_exact_and_near(self, spark):
        out = {(r.id_a, r.id_b): r.hamming
               for r in simhash_dedup(_docs(spark), hamming_threshold=10).collect()}
        assert out[(0, 1)] == 0
        assert out[(3, 4)] <= 10
        assert (0, 5) not in out


class TestEmbeddingNearDup:
    def test_threshold(self, spark):
        rng = np.random.default_rng(42)
        v = rng.standard_normal(16)
        rows = [(0, v.tolist()), (1, (v + 0.01 * rng.standard_normal(16)).tolist()),
                (2, rng.standard_normal(16).tolist())]
        emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
        out = {(r.id_a, r.id_b): r.cosine
               for r in embedding_neardup_pairs(emb, threshold=0.95).collect()}
        assert (0, 1) in out and out[(0, 1)] > 0.99
        assert (0, 2) not in out


class TestANN:
    def _emb(self, spark, n=300, dim=32):
        rng = np.random.default_rng(7)
        mat = rng.standard_normal((n, dim))
        return (spark.createDataFrame(
            [(i, mat[i].tolist()) for i in range(n)], ["vec_id", "embedding"]),
            mat)

    def test_bruteforce_matches_numpy(self, spark):
        emb, mat = self._emb(spark)
        q = emb.filter(F.col("vec_id") < 5)
        got = {}
        for r in ann_bruteforce(q, emb, k=3).collect():
            got[(r.query_id, r.rank)] = r.neighbor_id
        norms = np.linalg.norm(mat, axis=1)
        sims = (mat @ mat.T) / np.outer(norms, norms)
        for qi in range(5):
            s = sims[qi].copy()
            s[qi] = -np.inf
            order = np.lexsort((np.arange(len(s)), -s))[:3]
            for rank, nid in enumerate(order, 1):
                assert got[(qi, rank)] == nid

    def _clustered_emb(self, spark, n=300, dim=32, n_clusters=10):
        """IVF's applicability condition is clustered data — uniform
        gaussians have near-orthogonal neighbors and no bucket locality."""
        rng = np.random.default_rng(11)
        centers = rng.standard_normal((n_clusters, dim)) * 4
        mat = centers[rng.integers(0, n_clusters, n)] + rng.standard_normal((n, dim))
        return (spark.createDataFrame(
            [(i, mat[i].tolist()) for i in range(n)], ["vec_id", "embedding"]),
            mat)

    def test_ivf_recall(self, spark):
        from spandex_spark.operators.similarity import ann_ivf
        emb, mat = self._clustered_emb(spark)
        q = emb.filter(F.col("vec_id") < 20)
        exact = {(r.query_id, r.neighbor_id)
                 for r in ann_bruteforce(q, emb, k=1).collect()}
        approx = {(r.query_id, r.neighbor_id)
                  for r in ann_ivf(q, emb, k=1, n_centroids=10,
                                   nprobe=2).collect()}
        recall = len(exact & approx) / len(exact)
        assert recall >= 0.9  # deterministic given the fixed seeds

    def test_ivf_deterministic(self, spark):
        from spandex_spark.operators.similarity import ann_ivf
        emb, _ = self._emb(spark)
        q = emb.filter(F.col("vec_id") < 10)
        a = sorted((r.query_id, r.rank, r.neighbor_id)
                   for r in ann_ivf(q, emb, k=3, n_centroids=16, nprobe=3).collect())
        b = sorted((r.query_id, r.rank, r.neighbor_id)
                   for r in ann_ivf(q, emb, k=3, n_centroids=16, nprobe=3).collect())
        assert a == b

    def test_lsh_recall(self, spark):
        emb, mat = self._emb(spark)
        q = emb.filter(F.col("vec_id") < 20)
        exact = {(r.query_id, r.neighbor_id)
                 for r in ann_bruteforce(q, emb, k=1).collect()}
        approx = {(r.query_id, r.neighbor_id)
                  for r in ann_lsh(q, emb, k=1, dim=32,
                                   n_tables=12, n_bits=6).collect()}
        recall = len(exact & approx) / len(exact)
        assert recall >= 0.5  # deterministic given the fixed seed


class TestDuplicateClusters:
    def test_components_chain_triangle_pair(self, spark):
        from spandex_spark.operators.dedup import duplicate_clusters
        # chain 1-2-3-4, triangle 10-11-12 (+ redundant edge), pair 20-21
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
            "id_a long, id_b long")
        got = {r.doc_id: r.cluster_id
               for r in duplicate_clusters(pairs).collect()}
        assert got == {1: 1, 2: 1, 3: 1, 4: 1,
                       10: 10, 11: 10, 12: 10, 20: 20, 21: 20}

    def test_long_chain_converges(self, spark):
        from spandex_spark.operators.dedup import duplicate_clusters
        n = 16
        pairs = spark.createDataFrame([(i, i + 1) for i in range(n)],
                                      "id_a long, id_b long")
        got = duplicate_clusters(pairs).collect()
        assert len(got) == n + 1
        assert all(r.cluster_id == 0 for r in got)


class TestSemanticDedup:
    def test_planted_duplicates_random(self, spark):
        """Random planted duplicate groups: G well-separated random base
        directions, each duplicated with tiny noise; semantic_dedup must
        keep exactly the smallest id of every group and mark the rest."""
        import numpy as np
        from spandex_spark.operators.similarity import semantic_dedup
        rng = np.random.default_rng(5)
        G, dim = 30, 24
        base = rng.normal(size=(G, dim))
        base /= np.linalg.norm(base, axis=1, keepdims=True)
        # reject pathological draws (random in R^24: max cosine ~0.7)
        cs = base @ base.T
        np.fill_diagonal(cs, -1)
        assert cs.max() < 0.9
        rows = []
        vid = 0
        sizes = rng.integers(1, 5, G)
        for g in range(G):
            for _ in range(sizes[g]):
                v = base[g] + 1e-4 * rng.normal(size=dim)
                rows.append((vid, v.tolist()))
                vid += 1
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        out = {r.vec_id: r.kept
               for r in semantic_dedup(emb, n_centroids=8, threshold=0.99,
                                       seed=3).collect()}
        assert len(out) == vid
        expect_kept = set()
        vid = 0
        for g in range(G):
            expect_kept.add(vid)          # smallest id in each group
            vid += int(sizes[g])
        assert {v for v, kept in out.items() if kept} == expect_kept

    def test_no_duplicates_keeps_everything(self, spark):
        import numpy as np
        from spandex_spark.operators.similarity import semantic_dedup
        rng = np.random.default_rng(8)
        base = rng.normal(size=(40, 24))
        emb = spark.createDataFrame(
            [(i, base[i].tolist()) for i in range(40)],
            "vec_id long, embedding array<double>")
        out = semantic_dedup(emb, n_centroids=4, threshold=0.99).collect()
        assert all(r.kept for r in out) and len(out) == 40

    def test_approx_rows_skips_count_job(self, spark):
        """With an approx_rows hint (e.g. IcebergishTable.row_count()
        manifest sums) training runs ZERO count() jobs — at 10^12 rows
        that's a full corpus scan saved per IVF/SemDeDup call — and the
        result is identical when the hint equals the true count."""
        import numpy as np
        from spandex_spark.operators.similarity import (semantic_dedup,
                                                        train_ivf_centroids)
        rng = np.random.default_rng(9)
        base = rng.normal(size=(60, 16))
        emb = spark.createDataFrame(
            [(i, base[i].tolist()) for i in range(60)],
            "vec_id long, embedding array<double>")
        want = train_ivf_centroids(emb, n_centroids=4, seed=3)
        emb.count = lambda: (_ for _ in ()).throw(
            AssertionError("count() job ran despite approx_rows hint"))
        got = train_ivf_centroids(emb, n_centroids=4, seed=3, approx_rows=60)
        np.testing.assert_array_equal(got, want)
        out = semantic_dedup(emb, n_centroids=4, threshold=0.99,
                             approx_rows=60).collect()
        assert len(out) == 60

    def test_manifest_row_count_feeds_hint(self, spark, tmp_path):
        """IcebergishTable.row_count() returns the exact live row total
        from manifests alone and plugs into the approx_rows path."""
        from pyspark.sql import functions as F
        from spandex_spark.tables import IcebergishTable
        from spandex_spark.operators.similarity import train_ivf_centroids
        t = IcebergishTable(str(tmp_path / "emb"))
        for lo in (0, 30):
            t.append(spark.range(lo, lo + 30).select(
                F.col("id").alias("vec_id"),
                F.array(*[F.rand(seed=7 + i) for i in range(8)])
                .alias("embedding")))
        assert t.row_count() == 60
        corpus = t.read(spark)
        cents = train_ivf_centroids(corpus, n_centroids=4, seed=1,
                                    approx_rows=t.row_count())
        assert cents.shape == (4, 8)
