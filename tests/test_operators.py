"""Behavioral tests for the LLM-pipeline operators on small synthetic
data with KNOWN duplicates/neighbors — these verify semantics the
DuckDB oracle can't express (LSH candidate generation, Hamming
banding, ANN recall)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from exosql_spark.operators import dedup, similarity, text

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
    (3, "the quick brown fox jumps over the lazy cat"),  # near dup of 1
    (4, "completely different content about spark sql engines"),
    (5, "The Quick Brown Fox jumps over the lazy dog!"),  # normalized dup of 1
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


class TestExactDedup:
    def test_groups(self, docs):
        rows = {r.keep_id: r.n_copies for r in dedup.exact_groups(docs).collect()}
        assert rows[1] == 3  # 1, 2, 5 normalize identically
        assert rows[3] == 1
        assert rows[4] == 1

    def test_dedup_keeps_min_id(self, docs):
        kept = {r.doc_id for r in dedup.exact_dedup(docs).collect()}
        assert kept == {1, 3, 4}


class TestMinHash:
    def test_near_dup_found(self, docs):
        pairs = {
            (r.id_a, r.id_b): r.jaccard_sim
            for r in dedup.minhash_dedup_pairs(docs, threshold=0.3).collect()
        }
        assert (1, 2) in pairs and pairs[(1, 2)] == 1.0
        assert (1, 3) in pairs  # one-word change on 9 words
        assert not any(4 in p for p in pairs)

    def test_dedup_drops_losers(self, docs):
        kept = {r.doc_id for r in dedup.minhash_dedup(docs, threshold=0.3).collect()}
        assert 1 in kept and 4 in kept
        assert 2 not in kept and 5 not in kept

    def test_shingles(self, spark):
        df = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
        sh = df.select(dedup.shingles("text", 3).alias("s")).collect()[0].s
        assert sorted(sh) == ["a b c", "b c d"]

    def test_short_doc_whole_shingle(self, spark):
        df = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
        sh = df.select(dedup.shingles("text", 3).alias("s")).collect()[0].s
        assert sh == ["a b"]


class TestSimHash:
    def test_identical_docs_zero_hamming(self, docs):
        pairs = {
            (r.id_a, r.id_b): r.hamming
            for r in dedup.simhash_pairs(docs, max_hamming=10).collect()
        }
        assert pairs[(1, 2)] == 0
        assert pairs[(1, 5)] == 0  # normalization
        if (1, 3) in pairs:
            assert pairs[(1, 3)] <= 10

    def test_simhash_deterministic(self, docs):
        a = docs.select(dedup.simhash("text").alias("h")).collect()
        b = docs.select(dedup.simhash("text").alias("h")).collect()
        assert a == b


class TestArrowHashParity:
    """The Arrow-batched LSH hasher and IVF assigner/prober are pure
    speed paths: bucket ids, cell ids, and probe lists must be
    IDENTICAL to the expression formulations (same sign rule, same
    tie rules) on the natural corpus."""

    def test_lsh_buckets_identical(self, spark, sf_dir):
        from exosql_spark.io import load_table
        from exosql_spark.operators.similarity import (
            _bucket_ids_pandas_udf,
            _hyperplanes,
            signature_bits,
        )

        emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
        tables = [_hyperplanes(64, 8, 42 + t) for t in range(4)]
        expr = {
            (r.vec_id, t): r[f"b{t}"]
            for r in emb.select(
                "vec_id",
                *[
                    signature_bits(F.col("embedding"), tables[t]).alias(f"b{t}")
                    for t in range(4)
                ],
            ).collect()
            for t in range(4)
        }
        arrow = {
            (r.vec_id, t): r.bks[t]
            for r in emb.select(
                "vec_id", _bucket_ids_pandas_udf(tables)(F.col("embedding")).alias("bks")
            ).collect()
            for t in range(4)
        }
        assert expr == arrow

    def test_ivf_cells_and_probes_identical(self, spark, sf_dir):
        from exosql_spark.io import load_table
        from exosql_spark.operators.similarity import (
            _cell_ids_pandas_udf,
            _dot,
            _hyperplanes,
        )

        emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
        cents = _hyperplanes(64, 16, 7)

        def cell_scores(vecc):
            v = F.transform(vecc, lambda x: x.cast("double"))
            return F.array(
                *[
                    F.struct(
                        _dot(v, F.array(*[F.lit(float(x)) for x in c])).alias("score"),
                        F.lit(i).alias("cell"),
                    )
                    for i, c in enumerate(cents)
                ]
            )

        expr = {
            r.vec_id: (r.cell, list(r.probes))
            for r in emb.select(
                "vec_id",
                F.array_max(cell_scores(F.col("embedding")))["cell"].alias("cell"),
                F.transform(
                    F.slice(
                        F.reverse(F.array_sort(cell_scores(F.col("embedding")))), 1, 4
                    ),
                    lambda s: s["cell"],
                ).alias("probes"),
            ).collect()
        }
        arrow = {
            r.vec_id: (r.cell, list(r.probes))
            for r in emb.select(
                "vec_id",
                _cell_ids_pandas_udf(cents)(F.col("embedding")).alias("cell"),
                _cell_ids_pandas_udf(cents, 4)(F.col("embedding")).alias("probes"),
            ).collect()
        }
        assert expr == arrow


class TestSimilarity:
    @pytest.fixture(scope="class")
    def vectors(self, spark):
        import numpy as np

        rng = np.random.default_rng(0)
        base = rng.standard_normal((20, 8))
        base[1] = base[0] + 0.01 * rng.standard_normal(8)  # near-dup of 0
        rows = [(i, [float(x) for x in v]) for i, v in enumerate(base)]
        return spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    def test_brute_force_self_top1(self, vectors):
        q = vectors.filter(F.col("vec_id") == 0).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        top = similarity.cosine_topk(vectors, q, k=3).orderBy("rank").collect()
        assert top[0].vec_id == 0 and top[0].cosine_sim == 1.0
        assert top[1].vec_id == 1  # the planted near-dup

    def test_lsh_finds_planted_neighbor(self, vectors):
        q = vectors.filter(F.col("vec_id") == 0).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        got = similarity.lsh_topk(vectors, q, k=5, dim=8, n_tables=6).collect()
        ids = [r.vec_id for r in sorted(got, key=lambda r: r.rank)]
        assert 0 in ids and 1 in ids

    def test_near_dupes(self, vectors):
        pairs = similarity.embedding_near_dupes(
            vectors, threshold=0.99, dim=8, n_tables=8
        ).collect()
        assert any((r.id_a, r.id_b) == (0, 1) for r in pairs)

    def test_multiprobe_twin_parity(self, spark, sf_dir):
        """probe_buckets_expr and the Arrow twin must emit IDENTICAL
        probe lists (base bucket first, then margin-ranked flips) on
        the natural corpus, including tie rules."""
        from exosql_spark.io import load_table
        from exosql_spark.operators.similarity import (
            _hyperplanes,
            _probe_bits_pandas_udf,
            probe_buckets_expr,
        )

        emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
        tables = [_hyperplanes(64, 8, 42 + t) for t in range(3)]
        expr = {
            (r.vec_id, t): list(r[f"p{t}"])
            for r in emb.select(
                "vec_id",
                *[
                    probe_buckets_expr(F.col("embedding"), tables[t], 2).alias(f"p{t}")
                    for t in range(3)
                ],
            ).collect()
            for t in range(3)
        }
        arrow = {
            (r.vec_id, t): list(r.pb[t])
            for r in emb.select(
                "vec_id",
                _probe_bits_pandas_udf(tables, 2)(F.col("embedding")).alias("pb"),
            ).collect()
            for t in range(3)
        }
        assert expr == arrow

    def test_multiprobe_structure_and_recall(self, spark, sf_dir):
        """Each probe list = base bucket + n_flip buckets at Hamming
        distance exactly 1; multi-probe recall@k vs brute force is ≥
        the unprobed recall at the same table budget."""
        from exosql_spark.io import load_table
        from exosql_spark.operators.similarity import (
            _hyperplanes,
            _probe_bits_pandas_udf,
            cosine_topk,
            lsh_topk,
        )

        emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
        tables = [_hyperplanes(64, 8, 42)]
        for r in emb.limit(50).select(
            _probe_bits_pandas_udf(tables, 3)(F.col("embedding")).alias("pb")
        ).collect():
            probes = list(r.pb[0])
            assert len(probes) == 4
            base = probes[0]
            for flip in probes[1:]:
                assert bin(base ^ flip).count("1") == 1

        queries = emb.filter(F.col("vec_id") < 20).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        truth = {
            (r.query_id, r.vec_id) for r in cosine_topk(emb, queries, k=10).collect()
        }

        def recall(flips):
            got = {
                (r.query_id, r.vec_id)
                for r in lsh_topk(
                    emb, queries, k=10, n_tables=2, n_flip=flips, hasher="pandas"
                ).collect()
            }
            return len(got & truth) / len(truth)

        assert recall(4) >= recall(0)

    def test_ivf_with_trained_centroids(self, vectors):
        """Real-IVF shape: k-means coarse centroids instead of random
        directions — the planted neighbor must still be recalled, and
        the code path accepts any centroid count."""
        from exosql_spark.operators.clustering import kmeans

        cents, _ = kmeans(vectors, k=4, iters=2, vec_col="embedding",
                          id_col="vec_id")
        q = vectors.filter(F.col("vec_id") == 0).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        got = similarity.ivf_topk(
            vectors, q, k=5, dim=8, n_probe=2, centroids=cents
        ).collect()
        ids = [r.vec_id for r in sorted(got, key=lambda r: r.rank)]
        assert 0 in ids and 1 in ids


class TestProductQuantization:
    @pytest.fixture(scope="class")
    def corpus(self, spark):
        import numpy as np

        rng = np.random.default_rng(7)
        base = rng.standard_normal((60, 16))
        # plant near-copies of vectors 0 and 1 at ids 100/101
        planted = {100: 0, 101: 1}
        rows = [(i, [float(x) for x in v]) for i, v in enumerate(base)]
        for pid, src in planted.items():
            rows.append(
                (pid, [float(x) for x in base[src] + 0.01 * rng.standard_normal(16)])
            )
        return spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    def test_encode_shape_and_determinism(self, corpus):
        from exosql_spark.operators import pq

        books = pq.train_codebooks(corpus, m=4, k=8, iters=2, dim=16)
        assert len(books) == 4 and all(len(b) == 8 for b in books)
        codes1 = {r.vec_id: list(r.pq_code) for r in pq.pq_encode(corpus, books).collect()}
        codes2 = {r.vec_id: list(r.pq_code) for r in pq.pq_encode(corpus, books).collect()}
        assert codes1 == codes2  # deterministic
        assert all(len(c) == 4 and all(0 <= x < 8 for x in c) for c in codes1.values())
        # Arrow encoder: same argmin + first-occurrence tie rule, so
        # codes must be identical to the expression path
        codes3 = {
            r.vec_id: list(r.pq_code)
            for r in pq.pq_encode(corpus, books, encoder="pandas").collect()
        }
        assert codes3 == codes1

    def test_adc_recall_on_planted(self, corpus):
        """An ε-copy of the query must rank in the ADC top-k: its code
        equals the query's nearest codewords, so its approximate
        distance is ~the query's own quantization error — far below
        any random vector's true distance."""
        from exosql_spark.operators import pq

        books = pq.train_codebooks(corpus, m=4, k=8, iters=2, dim=16)
        codes = pq.pq_encode(corpus, books)
        q = corpus.filter(F.col("vec_id").isin(0, 1)).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        got = pq.pq_topk(codes, q, books, k=5)
        top = {}
        for r in got.collect():
            top.setdefault(r.query_id, []).append((r.rank, r.vec_id))
        for qid, planted_id in ((0, 100), (1, 101)):
            ids = [v for _, v in sorted(top[qid])]
            assert qid in ids, f"query {qid} not its own ADC neighbor: {ids}"
            assert planted_id in ids, f"planted copy {planted_id} missed: {ids}"

    def test_empty_training_sample_raises_cleanly(self, corpus):
        """An empty training sample is a caller error — both local
        trainers must say so instead of dying inside numpy."""
        from exosql_spark.operators import pq
        from exosql_spark.operators.clustering import train_kmeans_sample

        empty = corpus.filter(F.col("vec_id") < 0)
        for fn in (
            lambda: pq.train_codebooks(empty, m=4, k=8, iters=1, dim=16),
            lambda: train_kmeans_sample(empty, k=4, iters=1),
        ):
            with pytest.raises(ValueError, match="empty training sample"):
                fn()

    def test_empty_query_frames(self, corpus, spark):
        """queries is caller-supplied: an empty frame must yield an
        empty, schema-faithful result, not an IndexError (pq_topk) or
        AttributeError (ivfpq_topk) — round-5 advice."""
        from exosql_spark.operators import pq

        books = pq.train_codebooks(corpus, m=4, k=8, iters=2, dim=16)
        codes = pq.pq_encode(corpus, books)
        empty_q = corpus.filter(F.col("vec_id") < 0).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        for got in (
            pq.pq_topk(codes, empty_q, books, k=5),
            pq.ivfpq_topk(corpus, empty_q, books, k=5, n_cells=8, n_probe=3, dim=16),
        ):
            assert got.columns == ["query_id", "vec_id", "approx_sq_dist", "rank"]
            assert got.count() == 0

    def test_ivfpq_encoded_layout_and_trained_centroids(self, corpus, tmp_path, spark):
        """The IVFADC stored layout: ivfpq_encode (ONE fused map — no
        join in the plan) with TRAINED coarse centroids, written
        partitioned by cell, read back and queried via encoded= — must
        equal the in-memory path row for row, and the planted copies
        must still be recalled."""
        from exosql_spark import sinks
        from exosql_spark.operators import pq
        from exosql_spark.operators.clustering import train_kmeans_sample

        books = pq.train_codebooks(corpus, m=4, k=8, iters=2, dim=16)
        cents = train_kmeans_sample(corpus, k=6, iters=2)
        enc = pq.ivfpq_encode(corpus, books, cents)
        assert "Join" not in enc._jdf.queryExecution().executedPlan().toString()

        p = str(tmp_path / "ivfpq_encoded")
        sinks.write_table(enc, p, partition_by=["cell"])
        stored = spark.read.parquet(p)
        q = corpus.filter(F.col("vec_id").isin(0, 1)).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        mem = pq.ivfpq_topk(
            corpus, q, books, k=5, n_probe=3, dim=16, centroids=cents
        ).collect()
        disk = pq.ivfpq_topk(
            corpus, q, books, k=5, n_probe=3, dim=16, centroids=cents,
            encoded=stored,
        ).collect()
        assert sorted(map(tuple, mem)) == sorted(map(tuple, disk))
        top = {}
        for r in mem:
            top.setdefault(r.query_id, []).append((r.rank, r.vec_id))
        for qid, planted_id in ((0, 100), (1, 101)):
            ids = [v for _, v in sorted(top[qid])]
            assert qid in ids and planted_id in ids, f"q{qid}: {ids}"

    def test_encoded_layout_mismatch_raises(self, corpus, spark):
        """encoded= pairings are validated against the codebooks /
        centroids actually passed (round-7 ADVICE): a stored layout
        with the wrong pq_code width, an out-of-range code, or a cell
        id beyond n_cells must raise — not return wrong distances."""
        import pytest

        from exosql_spark.operators import pq
        from exosql_spark.operators.similarity import (
            _hyperplanes,
            ivf_topk,
            validate_encoded_ivf,
        )

        books = pq.train_codebooks(corpus, m=4, k=8, iters=2, dim=16)
        cents = _hyperplanes(16, 8, 7)
        enc = pq.ivfpq_encode(corpus, books, cents)
        q = corpus.limit(1).select(F.col("vec_id").alias("query_id"), "embedding")

        # wrong m: codebooks for 2 subspaces vs pq_code of width 4
        books_m2 = pq.train_codebooks(corpus, m=2, k=8, iters=2, dim=16)
        with pytest.raises(ValueError, match="subspace codes"):
            pq.ivfpq_topk(
                corpus, q, books_m2, dim=16, centroids=cents, encoded=enc
            )
        # missing column
        with pytest.raises(ValueError, match="missing column"):
            pq.ivfpq_topk(
                corpus, q, books, dim=16, centroids=cents,
                encoded=enc.drop("pq_code"),
            )
        # cell id beyond the quantizer passed at probe time
        with pytest.raises(ValueError, match="cell id"):
            pq.ivfpq_topk(
                corpus, q, books, dim=16, centroids=cents[:2],
                encoded=enc.withColumn("cell", F.lit(7)),
            )
        # IVF side: same guards on the raw-vector layout
        bad = corpus.select(
            "vec_id", "embedding", F.lit(99).alias("cell")
        )
        with pytest.raises(ValueError, match="cell id"):
            ivf_topk(corpus, q, centroids=cents, encoded=bad)
        with pytest.raises(ValueError, match="missing column"):
            validate_encoded_ivf(corpus.select("vec_id"), 8)

    def test_ivfpq_recall_and_pruning(self, corpus):
        """IVFADC: an ε-copy lands in the query's own best cell, which
        is always probed — so recall of planted copies survives the
        cell pruning; and the scored row count must be well below
        |corpus| × |queries| (the pruning actually prunes)."""
        from exosql_spark.operators import pq

        books = pq.train_codebooks(corpus, m=4, k=8, iters=2, dim=16)
        q = corpus.filter(F.col("vec_id").isin(0, 1)).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        got = pq.ivfpq_topk(
            corpus, q, books, k=5, n_cells=8, n_probe=3, dim=16
        )
        top = {}
        for r in got.collect():
            top.setdefault(r.query_id, []).append((r.rank, r.vec_id))
        for qid, planted_id in ((0, 100), (1, 101)):
            ids = [v for _, v in sorted(top[qid])]
            assert qid in ids and planted_id in ids, f"q{qid}: {ids}"


class TestRrfFuse:
    def test_fusion_math_and_ranks(self, spark):
        from exosql_spark.operators import ranking

        a = spark.createDataFrame(
            [(1, 1), (2, 2), (3, 3)], "doc_id long, rank int"
        )
        b = spark.createDataFrame(
            [(2, 1), (4, 2), (1, 3)], "doc_id long, rank int"
        )
        got = {
            r.doc_id: (r.rrf, r.n_lists, r.rank)
            for r in ranking.rrf_fuse([a, b], k0=60, k=10).collect()
        }
        exp = {
            1: 1 / 61 + 1 / 63,
            2: 1 / 62 + 1 / 61,
            3: 1 / 63,
            4: 1 / 62,
        }
        order = sorted(exp, key=lambda d: (-exp[d], d))
        for d, score in exp.items():
            rrf, n_lists, rank = got[d]
            assert abs(rrf - score) < 1e-6  # rrf is rounded to 6 decimals
            assert n_lists == (2 if d in (1, 2) else 1)
            assert rank == order.index(d) + 1

    def test_k_truncates(self, spark):
        from exosql_spark.operators import ranking

        a = spark.createDataFrame(
            [(i, i) for i in range(1, 9)], "doc_id long, rank int"
        )
        assert ranking.rrf_fuse([a], k=3).count() == 3

    def test_empty_lists_raise(self, spark):
        from exosql_spark.operators import ranking

        with pytest.raises(ValueError, match="at least one"):
            ranking.rrf_fuse([])


class TestCrossEncoderRerank:
    def test_default_overlap_scorer_and_ranking(self, spark):
        from exosql_spark.operators import ranking

        docs = spark.createDataFrame(
            [
                (1, "spark shuffles a hash table"),
                (2, "nothing relevant here"),
                (3, "hash hash hash"),
                (4, "spark table"),
            ],
            "doc_id long, text string",
        )
        cands = spark.createDataFrame(
            [(1, 0.5), (2, 0.4), (3, 0.3), (4, 0.2)], "doc_id long, rrf double"
        )
        out = ranking.cross_encoder_rerank(
            cands, docs, "spark table hash", k=3
        ).orderBy("rank").collect()
        # doc 1 contains all 3 terms; doc 4 two; doc 3 one (distinct)
        assert [(r.doc_id, r.ce_score, r.rank) for r in out] == [
            (1, 3.0, 1), (4, 2.0, 2), (3, 1.0, 3)
        ]

    def test_injected_scorer_is_the_model_seam(self, spark):
        """A custom scorer (the real-cross-encoder seam) swaps in
        without touching the plan: same signature, same columns."""
        from exosql_spark.operators import ranking

        def length_scorer(query_text, doc_text):
            import pandas as pd

            return pd.Series([float(len(d)) for d in doc_text], dtype="float64")

        docs = spark.createDataFrame(
            [(1, "aaaa"), (2, "aa")], "doc_id long, text string"
        )
        cands = spark.createDataFrame(
            [(1, 0.1), (2, 0.9)], "doc_id long, rrf double"
        )
        out = ranking.cross_encoder_rerank(
            cands, docs, "q", scorer=length_scorer
        ).orderBy("rank").collect()
        assert [(r.doc_id, r.ce_score) for r in out] == [(1, 4.0), (2, 2.0)]

    def test_candidates_broadcast_into_corpus_join(self, spark):
        """The k-bounded candidate list must broadcast (one corpus
        touch, no shuffle join) and the scorer must run as an Arrow
        pandas_udf stage — the 10^9-doc plan shape."""
        from exosql_spark.operators import ranking

        docs = spark.createDataFrame(
            [(i, f"text {i}") for i in range(100)], "doc_id long, text string"
        )
        cands = spark.createDataFrame(
            [(i, float(i)) for i in range(5)], "doc_id long, rrf double"
        )
        df = ranking.cross_encoder_rerank(cands, docs, "text")
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan
        assert "ArrowEvalPython" in plan


class TestSelection:
    @pytest.fixture(scope="class")
    def docs(self, spark):
        import random

        rng = random.Random(5)
        rows = [
            (i, rng.randint(0, 9), rng.randint(1, 50), f"k{i % 7}")
            for i in range(400)
        ]
        return spark.createDataFrame(
            rows, "id long, q int, w int, key string"
        ).repartition(8)

    def test_budget_matches_naive_prefix_sum(self, docs):
        from exosql_spark.operators import selection

        rows = sorted(
            ((r.q, r.id, r.w) for r in docs.collect()),
            key=lambda t: (-t[0], t[1]),
        )
        total = sum(w for _, _, w in rows)
        budget = 0.3 * total
        want, acc = {}, 0
        for q, i, w in rows:
            acc += w
            if acc > budget:
                break
            want[i] = acc
        got = {
            r.id: r.cum
            for r in selection.take_while_budget(
                docs,
                "w",
                [F.col("q").desc(), F.col("id")],
                fraction=0.3,
                n_parts=8,
                cum_col="cum",
            ).collect()
        }
        assert got == want

    def test_budget_edges(self, docs):
        from exosql_spark.operators import selection

        order = [F.col("q").desc(), F.col("id")]
        assert (
            selection.take_while_budget(docs, "w", order, budget=0.5).count() == 0
        )
        total = sum(r.w for r in docs.collect())
        full = selection.take_while_budget(docs, "w", order, budget=total)
        assert full.count() == docs.count()
        assert max(r.cum_weight for r in full.collect()) == total

    def test_budget_arg_validation(self, docs):
        from exosql_spark.operators import selection

        with pytest.raises(ValueError, match="exactly one"):
            selection.take_while_budget(docs, "w", [F.col("id")])
        with pytest.raises(ValueError, match="exactly one"):
            selection.take_while_budget(
                docs, "w", [F.col("id")], budget=1, fraction=0.5
            )

    def test_capped_per_key_matches_naive_window(self, docs):
        from exosql_spark.operators import selection

        got = {
            (r.key, r.id, r.rank)
            for r in selection.capped_per_key(
                docs,
                ["key"],
                F.struct((-F.col("q")).alias("nq"), F.col("id").alias("i")),
                n=5,
            ).collect()
        }
        w = Window.partitionBy("key").orderBy(F.col("q").desc(), F.col("id"))
        want = {
            (r.key, r.id, r.rank)
            for r in docs.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= 5)
            .collect()
        }
        assert got == want

    def test_budget_double_weights_not_truncated(self, spark):
        """Fractional weights must sum as doubles — a cast to long
        would truncate 0.9-per-row weights to 0 and select the whole
        corpus regardless of budget."""
        from exosql_spark.operators import selection

        df = spark.createDataFrame(
            [(i, 0.25) for i in range(100)], "id long, w double"
        ).repartition(4)
        # 0.25 is exact in binary, so every association order of the
        # distributed prefix sum yields identical doubles — no FP slack
        got = selection.take_while_budget(
            df, "w", [F.col("id")], budget=9.0, n_parts=4
        ).collect()
        assert len(got) == 36  # 36 * 0.25 = 9.0 <= budget; the 37th breaks it
        assert max(r.cum_weight for r in got) == 9.0

    def test_budget_randomized_matches_naive(self, spark):
        """Five random corpora (skewed weights, duplicate qualities,
        zero weights, n_parts >/< rows) must all equal the naive
        single-threaded prefix-sum reference."""
        import random

        from exosql_spark.operators import selection

        for seed, n, n_parts, frac in (
            (1, 30, 64, 0.5),    # more partitions than rows
            (2, 200, 4, 0.1),
            (3, 150, 16, 0.9),
            (4, 100, 8, 0.33),
            (5, 120, 32, 0.25),
        ):
            rng = random.Random(seed)
            rows = [
                (i, rng.randint(0, 3), rng.choice([0, 1, 1, 2, 7, 40]))
                for i in range(n)
            ]
            df = spark.createDataFrame(rows, "id long, q int, w int").repartition(6)
            ordered = sorted(rows, key=lambda t: (-t[1], t[0]))
            total = sum(w for _, _, w in ordered)
            budget = frac * total
            want, acc = {}, 0
            for i, _, w in ordered:
                if acc + w > budget:
                    break
                acc += w
                want[i] = acc
            got = {
                r.id: r.cum_weight
                for r in selection.take_while_budget(
                    df, "w", [F.col("q").desc(), F.col("id")],
                    fraction=frac, n_parts=n_parts,
                ).collect()
            }
            assert got == want, f"seed={seed}"

    def test_budget_zero_weight_rows_at_boundary_kept(self, spark):
        """Zero-weight rows whose cum equals the budget exactly must
        be selected — the partition prune uses <=, not <, for this."""
        from exosql_spark.operators import selection

        df = spark.createDataFrame(
            [(1, 5), (2, 0), (3, 0), (4, 1)], "id long, w int"
        ).repartition(2)
        got = {r.id for r in selection.take_while_budget(
            df, "w", [F.col("id")], budget=5.0, n_parts=4
        ).collect()}
        assert got == {1, 2, 3}  # ids 2,3 ride at cum == budget

    def test_capped_per_key_small_groups_survive(self, spark):
        from exosql_spark.operators import selection

        df = spark.createDataFrame(
            [(1, "a", 10), (2, "a", 20), (3, "b", 5)], "id long, key string, q int"
        ).repartition(4)
        got = selection.capped_per_key(
            df, ["key"], F.struct(F.col("q").alias("q"), F.col("id").alias("i")), n=5
        ).collect()
        assert {(r.key, r.id) for r in got} == {("a", 1), ("a", 2), ("b", 3)}
        assert all(r.rank <= 2 for r in got)


class TestExactRerank:
    @pytest.fixture(scope="class")
    def tiny(self, spark):
        import numpy as np

        rng = np.random.default_rng(11)
        rows = [
            (i, [float(x) for x in v])
            for i, v in enumerate(rng.standard_normal((40, 8)))
        ]
        return spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    def _queries(self, tiny):
        return tiny.filter(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )

    def test_full_shortlist_equals_brute_force(self, tiny):
        """Rerank over an all-pairs shortlist IS brute force: with no
        pruning, exact_rerank(metric=cosine) must reproduce
        cosine_topk's (query_id, vec_id, rank) exactly."""
        from exosql_spark.operators import similarity

        q = self._queries(tiny)
        full = q.select("query_id").crossJoin(tiny.select("vec_id"))
        got = {
            (r.query_id, r.vec_id, r.rank)
            for r in similarity.exact_rerank(full, tiny, q, k=5, metric="cosine").collect()
        }
        want = {
            (r.query_id, r.vec_id, r.rank)
            for r in similarity.cosine_topk(tiny, q, k=5).collect()
        }
        assert got == want

    def test_sq_l2_orders_by_exact_distance(self, tiny):
        """A shortlist handed over in the WRONG order (descending true
        distance) must come back re-ordered by exact squared L2."""
        from exosql_spark.operators import similarity

        q = self._queries(tiny)
        full = q.select("query_id").crossJoin(tiny.select("vec_id"))
        res = similarity.exact_rerank(full, tiny, q, k=40).collect()
        by_q = {}
        for r in res:
            by_q.setdefault(r.query_id, []).append((r.rank, r.exact_sq_dist, r.vec_id))
        for qid, rows in by_q.items():
            rows.sort()
            dists = [d for _, d, _ in rows]
            assert dists == sorted(dists), f"query {qid} not distance-ordered"
            # the query's own corpus row is its exact-distance rank 1
            assert rows[0][2] == qid and rows[0][1] == 0.0

    def test_shortlist_extra_columns_ignored_and_deduped(self, tiny):
        from exosql_spark.operators import similarity

        q = self._queries(tiny)
        sl = q.select("query_id").crossJoin(tiny.select("vec_id").limit(7))
        sl_dup = sl.unionByName(sl).withColumn("approx_sq_dist", F.lit(9.9))
        got = similarity.exact_rerank(sl_dup, tiny, q, k=7).collect()
        per_q = {}
        for r in got:
            per_q.setdefault(r.query_id, set()).add(r.vec_id)
        assert all(len(v) == 7 for v in per_q.values())

    def test_empty_shortlist(self, tiny):
        from exosql_spark.operators import similarity

        q = self._queries(tiny)
        empty = q.select("query_id").crossJoin(tiny.select("vec_id")).limit(0)
        assert similarity.exact_rerank(empty, tiny, q, k=5).count() == 0

    def test_null_vector_ranks_last_not_first(self, spark, tiny):
        """A shortlisted corpus row with a NULL embedding scores NULL —
        it must sink to the bottom of the rerank, never claim rank 1."""
        from exosql_spark.operators import similarity

        corpus = tiny.unionByName(
            spark.createDataFrame(
                [(999, None)], "vec_id long, embedding array<float>"
            )
        )
        q = self._queries(tiny)
        full = q.select("query_id").crossJoin(corpus.select("vec_id"))
        res = similarity.exact_rerank(full, corpus, q, k=41).collect()
        by_q = {}
        for r in res:
            by_q.setdefault(r.query_id, []).append(r)
        for qid, rows in by_q.items():
            rows.sort(key=lambda r: r.rank)
            assert rows[0].vec_id == qid  # exact self-match still #1
            assert rows[-1].vec_id == 999 and rows[-1].exact_sq_dist is None

    def test_bad_metric_raises(self, tiny):
        from exosql_spark.operators import similarity

        q = self._queries(tiny)
        with pytest.raises(ValueError, match="metric"):
            similarity.exact_rerank(q.crossJoin(tiny.select("vec_id")), tiny, q, metric="dot")


class TestSemanticDedup:
    @pytest.fixture(scope="class")
    def planted(self, spark):
        """The embedding_kmeans_planted construction: 100 vectors at 5
        orthogonal corners with deterministic jitter."""
        vec = F.array(
            *[
                (
                    F.when(F.lit(j) == (F.col("id") % 5), F.lit(10.0)).otherwise(
                        F.lit(0.0)
                    )
                    + (((F.col("id") * 31 + j * 7) % 11) - 5) * F.lit(0.01)
                ).cast("float")
                for j in range(8)
            ]
        )
        return spark.range(100).select(F.col("id").alias("vec_id"), vec.alias("embedding"))

    def test_planted_pairs_and_survivors(self, planted):
        """Lloyd recovers the planted partition, so the pair set is all
        same-residue pairs (950) and the survivor set is the 5 cluster
        minima."""
        from exosql_spark.operators import semdedup

        pairs = semdedup.semantic_dedup_pairs(planted, k=5, iters=3, threshold=0.9)
        got = {(r.id_a, r.id_b) for r in pairs.collect()}
        want = {
            (a, b)
            for a in range(100)
            for b in range(100)
            if a < b and a % 5 == b % 5
        }
        assert got == want
        kept = sorted(
            r.vec_id
            for r in semdedup.semantic_dedup(
                planted, k=5, iters=3, threshold=0.9
            ).collect()
        )
        assert kept == [0, 1, 2, 3, 4]

    def test_scaled_copies_found_on_natural_corpus(self, spark, sf_dir):
        """Normalization makes detection magnitude-invariant: a
        2x-scaled copy becomes the identical unit vector, lands in the
        same cluster deterministically, and scores cosine 1.0."""
        from exosql_spark.io import load_table
        from exosql_spark.operators import semdedup

        base = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
        copies = base.filter(F.col("vec_id") < 5).select(
            (F.col("vec_id") + 100000).alias("vec_id"),
            F.transform("embedding", lambda x: (x * 2).cast("float")).alias("embedding"),
        )
        pairs = semdedup.semantic_dedup_pairs(
            base.unionByName(copies), k=8, iters=2, threshold=0.95
        )
        planted_pairs = {
            (r.id_a, r.id_b): r.cosine_sim
        for r in pairs.filter(F.col("id_b") >= 100000).collect()
        }
        for i in range(5):
            assert planted_pairs.get((i, i + 100000)) == 1.0, planted_pairs

    def test_scorers_agree_on_pair_set(self, planted, spark, sf_dir):
        """The Arrow-batched numpy scorer is a pure speed path: with a
        threshold margin the pair SET must equal the HOF scorer's, on
        planted clusters and on the natural corpus with planted
        copies."""
        from exosql_spark.io import load_table
        from exosql_spark.operators import semdedup

        hof = semdedup.semantic_dedup_pairs(planted, k=5, iters=3, threshold=0.9)
        pdu = semdedup.semantic_dedup_pairs(
            planted, k=5, iters=3, threshold=0.9, scorer="pandas"
        )
        key = lambda df: {(r.id_a, r.id_b) for r in df.collect()}
        assert key(hof) == key(pdu) and len(key(hof)) == 950
        base = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
        copies = base.filter(F.col("vec_id") < 5).select(
            (F.col("vec_id") + 100000).alias("vec_id"),
            F.transform("embedding", lambda x: (x * 2).cast("float")).alias("embedding"),
        )
        corpus = base.unionByName(copies)
        nh = semdedup.semantic_dedup_pairs(corpus, k=8, iters=2, threshold=0.95)
        np_ = semdedup.semantic_dedup_pairs(
            corpus, k=8, iters=2, threshold=0.95, scorer="pandas"
        )
        assert key(nh) == key(np_) and len(key(nh)) >= 5

    def test_auto_k_default_is_scale_safe(self, spark, sf_dir):
        """k=None (the default) derives k ∝ n per the measured rule —
        max(16, n // 125): at the round-8 100× corpus size the derived
        k is 1600 (the configuration measured linear at 42 s), never
        the fixed k=16 that OOM'd (round-8 verdict What's-wrong #1).
        The end-to-end default path (count → derive k → bounded sample
        train → Arrow assign) must still catch exact duplicates: a
        scaled copy is the identical unit vector after normalization,
        so it lands in its source's cluster for ANY k and scores
        cosine 1.0."""
        from exosql_spark.io import load_table
        from exosql_spark.operators import semdedup

        assert semdedup.derive_k(2_000) == 16       # sf0.01 corpus
        assert semdedup.derive_k(20_000) == 160     # sf0.1 corpus
        assert semdedup.derive_k(200_000) == 1_600  # the 100× point
        assert semdedup.derive_k(50) == 16          # floor
        base = load_table(spark, sf_dir, "embeddings").select(
            "vec_id", "embedding"
        )
        copies = base.filter(F.col("vec_id") < 5).select(
            (F.col("vec_id") + 100000).alias("vec_id"),
            F.transform("embedding", lambda x: (x * 2).cast("float")).alias(
                "embedding"
            ),
        )
        corpus = base.unionByName(copies)
        kept = {
            r.vec_id
            for r in semdedup.semantic_dedup(corpus, threshold=0.95).collect()
        }
        assert not kept & {100000 + i for i in range(5)}
        assert set(range(5)) <= kept  # lowest id of each group survives

    def test_pretrained_centroids_match_inline_training(self, planted):
        """The production shape (train once on a sample, assign
        everywhere) must produce the identical pair set — for both the
        distributed trainer and the driver-side numpy trainer."""
        from exosql_spark.operators import semdedup
        from exosql_spark.operators.clustering import kmeans, train_kmeans_sample
        from exosql_spark.operators.semdedup import normalize_embeddings

        inline = semdedup.semantic_dedup_pairs(planted, k=5, iters=3, threshold=0.9)
        want = {tuple(r) for r in inline.collect()}
        cents, _ = kmeans(normalize_embeddings(planted), k=5, iters=3)
        pre = semdedup.semantic_dedup_pairs(planted, threshold=0.9, centroids=cents)
        assert {tuple(r) for r in pre.collect()} == want
        local = train_kmeans_sample(normalize_embeddings(planted), k=5, iters=3)
        loc = semdedup.semantic_dedup_pairs(planted, threshold=0.9, centroids=local)
        assert {tuple(r) for r in loc.collect()} == want
        arrow = semdedup.semantic_dedup_pairs(
            planted, threshold=0.9, centroids=local,
            scorer="pandas", assigner="pandas",
        )
        assert {tuple(r) for r in arrow.collect()} == want


class TestText:
    def test_token_counts(self, spark):
        df = spark.createDataFrame([("hello,  world! 42",)], "text string")
        row = df.select(
            text.token_count_ws("text").alias("ws"),
            text.token_count_bpeish("text").alias("bpe"),
        ).collect()[0]
        assert row.ws == 3
        # hello , world ! 42 → 5
        assert row.bpe == 5

    def test_lang_id(self, spark):
        df = spark.createDataFrame(
            [
                ("en", "the cat and the dog are in the house"),
                ("es", "el perro y el gato en la casa de su amigo"),
                ("fr", "le chat et le chien dans la maison de la ville"),
                ("de", "der Hund und die Katze sind in dem Haus"),
            ],
            "lang string, text string",
        )
        rows = df.select("lang", text.lang_id(F.col("text")).alias("pred")).collect()
        assert all(r.lang == r.pred for r in rows)

    def test_quality_repetition_penalty(self, spark):
        df = spark.createDataFrame(
            [
                (1, "the quick brown fox jumps over the lazy dog and runs far away to the hills today again"),
                (2, "spam spam spam spam spam spam spam spam spam spam spam spam spam spam spam spam spam spam"),
            ],
            "doc_id long, text string",
        )
        rows = {r.doc_id: r.quality for r in text.quality_score(df).collect()}
        assert rows[1] > rows[2]

    def test_fingerprint_normalization(self, spark):
        df = spark.createDataFrame(
            [(1, "Hello,  World!"), (2, "hello world")], "doc_id long, text string"
        )
        fps = [r.fp for r in df.select(text.fingerprint_md5("text").alias("fp")).collect()]
        assert fps[0] == fps[1]

    def test_repetition_signals(self, spark):
        df = spark.createDataFrame(
            [
                (1, "a b a b a b"),   # 2 distinct / 6; top word 3/6; top bigram 3/5
                (2, "only"),          # single word: no bigrams
                (3, "w x y z"),       # all distinct
            ],
            "doc_id long, text string",
        )
        rows = {r.doc_id: r for r in text.repetition_signals(df).collect()}
        assert abs(rows[1].distinct_word_ratio - 2 / 6) < 1e-6
        assert abs(rows[1].top_word_frac - 3 / 6) < 1e-6
        assert abs(rows[1].top_bigram_frac - 3 / 5) < 1e-6
        assert rows[2].distinct_word_ratio == 1.0
        assert rows[2].top_bigram_frac == 0.0
        assert abs(rows[3].top_word_frac - 0.25) < 1e-6

    def test_rolling_fingerprint_order_sensitive(self, spark):
        df = spark.createDataFrame(
            [(1, "a b c"), (2, "c b a")], "doc_id long, text string"
        )
        fps = [
            r.fp for r in df.select(text.fingerprint_rolling("text").alias("fp")).collect()
        ]
        assert fps[0] != fps[1]


class TestMultimodal:
    def test_feature_extraction_plumbing(self, spark, sf_dir):
        from exosql_spark.io import load_table
        from exosql_spark.operators import multimodal

        docs = load_table(spark, sf_dir, "documents").limit(20)
        media = multimodal.synthetic_media(docs)
        feats = multimodal.extract_features(media, dim=8)
        rows = feats.collect()
        assert len(rows) == 20
        assert all(len(r.feature) == 8 for r in rows)
        assert all(len(r.content_sha1) == 40 for r in rows)

    def test_strict_mode_raises(self, spark, sf_dir):
        from py4j.protocol import Py4JJavaError
        from exosql_spark.io import load_table
        from exosql_spark.operators import multimodal

        docs = load_table(spark, sf_dir, "documents").limit(1)
        media = multimodal.synthetic_media(docs)
        with pytest.raises(Exception):  # NotImplementedError crosses the JVM
            multimodal.extract_features(media, strict=True).collect()

    def test_frame_sampling_fanout(self, spark, sf_dir):
        from exosql_spark.io import load_table
        from exosql_spark.operators import multimodal

        docs = load_table(spark, sf_dir, "documents").limit(5)
        media = multimodal.synthetic_media(docs)
        frames = multimodal.sample_frames(media, every_n_bytes=100)
        assert frames.count() >= 5

    def test_custom_decoder_via_argument(self, spark, sf_dir):
        from exosql_spark.io import load_table
        from exosql_spark.operators import multimodal

        docs = load_table(spark, sf_dir, "documents").limit(5)
        media = multimodal.synthetic_media(docs)  # kind="image"

        def len_decoder(payload: bytes) -> list[float]:
            return [float(len(payload)), 1.0]

        feats = multimodal.extract_features(
            media, strict=True, decoders={"image": len_decoder}
        )
        rows = feats.collect()  # strict + decoder present: must NOT raise
        assert all(r.feature == [float(r.n_bytes), 1.0] for r in rows)

    def test_custom_decoder_via_registry(self, spark, sf_dir):
        from exosql_spark.io import load_table
        from exosql_spark.operators import multimodal

        docs = load_table(spark, sf_dir, "documents").limit(3)
        media = multimodal.synthetic_media(docs, kind="audio")

        def len_decoder(payload: bytes) -> list[float]:
            return [float(len(payload)), 1.0]

        multimodal.register_decoder("audio", len_decoder)
        try:
            feats = multimodal.extract_features(media, strict=True)
            assert all(r.feature[1] == 1.0 for r in feats.collect())
        finally:
            multimodal.unregister_decoder("audio")
        # after unregistering, a NEW strict plan falls back to raising
        with pytest.raises(Exception):
            multimodal.extract_features(media, strict=True).collect()


class TestSpanDedup:
    def test_shared_span_removed_everywhere(self, spark):
        """A boilerplate span shared by ≥2 docs is cut from ALL of them
        (ExactSubstr remove-all convention); unique content and
        repeat-free docs pass through untouched."""
        from exosql_spark.operators import text as t_ops

        boiler = "this content is provided under the creative commons license terms"
        df = spark.createDataFrame(
            [
                (1, f"unique alpha text one two three four five six seven {boiler}"),
                (2, f"different beta body with its own words here entirely {boiler}"),
                (3, "totally standalone document nothing repeated anywhere at all today friend"),
            ],
            "doc_id long, text string",
        )
        got = {r.doc_id: r for r in t_ops.span_dedup(df, span=8).collect()}
        assert got[1].n_tokens_removed == 10 and "creative" not in got[1].text
        assert got[2].n_tokens_removed == 10 and got[2].text.startswith("different beta")
        assert got[3].n_tokens_removed == 0
        assert got[3].text == df.collect()[2].text  # already-normal text unchanged

    def test_within_doc_repeat_removed(self, spark):
        from exosql_spark.operators import text as t_ops

        chant = "badger badger badger badger mushroom mushroom snake ohh"
        df = spark.createDataFrame(
            [(1, f"{chant} {chant}"), (2, "plain body of eight distinct tokens")],
            "doc_id long, text string",
        )
        got = {r.doc_id: r for r in t_ops.span_dedup(df, span=8).collect()}
        assert got[1].n_tokens_removed == 16  # both occurrences cut
        assert got[2].n_tokens_removed == 0


class TestTimeseriesResample:
    def test_gapfill_semantics(self, spark):
        """Hand-built series: bucket grid spans first→last event,
        empty buckets forward-fill the last reading, leading buckets
        before any observation stay NULL, counts are exact."""
        from datetime import datetime

        from exosql_spark.operators import timeseries

        rows = [
            (1, datetime(2024, 1, 1, 0, 10), 5.0),
            (1, datetime(2024, 1, 1, 0, 50), 7.0),   # same bucket, later ts
            (1, datetime(2024, 1, 1, 3, 5), 9.0),    # 2-hour gap before
            (2, datetime(2024, 1, 1, 1, 0), 1.0),
        ]
        df = spark.createDataFrame(rows, "user_id long, ts timestamp_ntz, value double")
        got = {
            (r.user_id, r.bucket.hour): (r.n_events, r.is_gap, r.filled_value)
            for r in timeseries.resample_ffill(df).collect()
        }
        assert got[(1, 0)] == (2, False, 7.0)   # last reading in bucket
        assert got[(1, 1)] == (0, True, 7.0)    # gap, forward-filled
        assert got[(1, 2)] == (0, True, 7.0)
        assert got[(1, 3)] == (1, False, 9.0)
        assert got[(2, 1)] == (1, False, 1.0)
        assert len(got) == 5  # grids bounded per key, no cross-key bleed


class TestNormalizeParity:
    """The normalize→tokenize→hash pipeline is the foundation every
    oracle-checked text operator stands on — Spark (Java regex) and
    DuckDB (RE2) must agree byte-for-byte on adversarial inputs."""

    NASTY = [
        "Hello,   World!!",
        "TABS\tand\nnewlines\r\nmixed",
        "unicode café naïve żółć 中文 🙂 end",
        "quotes 'single' \"double\" `back`",
        "under_score stays; hyphen-splits?",
        "  leading and trailing   ",
        "ALLCAPS MiXeD lower",
        "digits 123 mix3d 0x1f",
        "",
        "....",
        "a",
    ]

    def test_md5_and_tokens_match_duckdb(self, spark):
        import duckdb

        from exosql_spark.operators.text import normalize_text, tokens

        df = spark.createDataFrame(
            [(i, s) for i, s in enumerate(self.NASTY)], "i long, text string"
        )
        got = {
            r.i: (r.h, list(r.t))
            for r in df.select(
                "i",
                F.md5(normalize_text(F.col("text"))).alias("h"),
                tokens(normalize_text(F.col("text"))).alias("t"),
            ).collect()
        }
        con = duckdb.connect()
        con.execute("CREATE TABLE d (i BIGINT, text VARCHAR)")
        con.executemany(
            "INSERT INTO d VALUES (?, ?)", [(i, s) for i, s in enumerate(self.NASTY)]
        )
        want = {
            r[0]: (r[1], r[2])
            for r in con.execute(
                r"""
SELECT i,
       md5(trim(regexp_replace(regexp_replace(lower(text), '[^\w\s]', '', 'g'),
                               '\s+', ' ', 'g'))),
       list_filter(string_split_regex(trim(regexp_replace(regexp_replace(
           lower(text), '[^\w\s]', '', 'g'), '\s+', ' ', 'g')), '\s+'),
           x -> x <> '')
FROM d"""
            ).fetchall()
        }
        for i, s in enumerate(self.NASTY):
            assert got[i] == want[i], f"input {s!r}: spark={got[i]} duck={want[i]}"


class TestLmScore:
    def test_repetitive_scores_above_unique(self, spark):
        """A doc whose bigrams dominate the corpus must out-score docs
        made of one-off bigrams — the ranking signal LM filtering
        relies on — and every score must be a valid negative log2."""
        from exosql_spark.operators import text as t_ops

        rows = [(i, "the cat sat on the mat again and again") for i in range(5)]
        rows.append((100, "zq wv xj kp qn vb mz ld fw yg"))
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r.doc_id: r.lm_score for r in t_ops.lm_score(df).collect()}
        assert set(got) == {0, 1, 2, 3, 4, 100}
        assert all(s < 0 for s in got.values())
        assert got[0] > got[100]  # frequent bigrams → higher mean log-prob
        assert got[0] == got[4]  # identical docs, identical score

    def test_short_docs_excluded(self, spark):
        from exosql_spark.operators import text as t_ops

        df = spark.createDataFrame(
            [(1, "one"), (2, ""), (3, "two tokens here")], "doc_id long, text string"
        )
        got = {r.doc_id for r in t_ops.lm_score(df).collect()}
        assert got == {3}


class TestDecontaminate:
    def test_flags_overlapping_docs(self, spark):
        from exosql_spark.operators import decontam

        docs = spark.createDataFrame(
            [
                (1, "alpha beta gamma delta epsilon zeta"),
                (2, "unrelated content entirely different words here"),
                (3, "prefix alpha beta gamma delta suffix tail"),  # shares 4-gram with 1
            ],
            "doc_id long, text string",
        )
        bench = docs.filter(F.col("doc_id") == 1)
        hits = decontam.decontaminate_hits(docs, bench, n=4)
        got = {r.doc_id for r in hits.collect()}
        assert got == {1, 3}
        clean = decontam.decontaminate(docs, bench, n=4)
        assert {r.doc_id for r in clean.collect()} == {2}

    def test_short_docs_whole_text_gram(self, spark):
        from exosql_spark.operators import decontam

        docs = spark.createDataFrame(
            [(1, "tiny doc"), (2, "tiny doc"), (3, "other")], "doc_id long, text string"
        )
        hits = decontam.decontaminate_hits(docs, docs.filter(F.col("doc_id") == 1), n=8)
        assert {r.doc_id for r in hits.collect()} == {1, 2}

    def test_bloom_matches_exact_join(self, spark, sf_dir):
        """The Bloom probe path must agree with the broadcast-join path
        on real data: no false negatives ever (Bloom guarantee), and at
        fpp≈1e-6 with this corpus's gram count, zero false positives in
        practice — so (id, n_hits) match exactly."""
        from exosql_spark.io import load_table
        from exosql_spark.operators import decontam

        docs = load_table(spark, sf_dir, "documents")
        bench = docs.filter(F.col("doc_id") <= 20)
        exact = {
            (r.doc_id, r.n_hits)
            for r in decontam.decontaminate_hits(docs, bench, n=4).collect()
        }
        bloom = {
            (r.doc_id, r.n_hits)
            for r in decontam.decontaminate_hits_bloom(docs, bench, n=4).collect()
        }
        assert bloom == exact

    def test_bloom_superset_under_tiny_filter(self, spark):
        """Force false positives with an undersized filter: bloom hits
        must still be a superset of exact hits per doc (no false
        negatives), never a subset."""
        from exosql_spark.operators import decontam

        docs = spark.createDataFrame(
            [(i, f"w{i}a w{i}b w{i}c w{i}d shared tail tokens here") for i in range(40)],
            "doc_id long, text string",
        )
        bench = docs.filter(F.col("doc_id") == 0)
        exact = {
            r.doc_id: r.n_hits
            for r in decontam.decontaminate_hits(docs, bench, n=4).collect()
        }
        bloom = {
            r.doc_id: r.n_hits
            for r in decontam.decontaminate_hits_bloom(
                docs, bench, n=4, bits_per_item=2, k=1
            ).collect()
        }
        for d, n in exact.items():
            assert bloom.get(d, 0) >= n


class TestLabelCentroids:
    def test_centroid_values(self, spark):
        rows = [
            (1, [1.0, 2.0], 0),
            (2, [3.0, 4.0], 0),
            (3, [10.0, 20.0], 1),
        ]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
        got = {r.label: (r.n_vecs, r.centroid) for r in similarity.label_centroids(df).collect()}
        assert got[0] == (2, [2.0, 3.0])
        assert got[1] == (1, [10.0, 20.0])


class TestConnectedComponents:
    def test_transitive_closure(self, spark):
        """A~B, B~C but no A~C edge: all three must land in one
        component (this is exactly what min-representative misses)."""
        from exosql_spark.operators.components import connected_components

        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23)],
            "id_a long, id_b long",
        )
        comp = {r.id: r.component for r in connected_components(edges).collect()}
        assert comp[1] == comp[2] == comp[3] == 1
        assert comp[10] == comp[11] == 10
        assert comp[20] == comp[21] == comp[22] == comp[23] == 20

    def test_star_algorithm_matches_label_propagation(self, spark):
        """connected_components_star (large-star/small-star — the
        diameter-independent 100 TB path) must return EXACTLY the same
        (id, component) map as min-label propagation on chains (the
        worst case for propagation), cliques, rings, and a seeded
        random graph."""
        import numpy as np

        from exosql_spark.operators.components import (
            connected_components,
            connected_components_star,
        )

        rng = np.random.default_rng(11)
        random_edges = [
            (int(rng.integers(0, 60)), int(rng.integers(0, 60))) for _ in range(80)
        ]
        cases = {
            "long chain": [(i, i + 1) for i in range(40)],
            "cliques": [(a, b) for base in (0, 100) for a in range(base, base + 6)
                        for b in range(a + 1, base + 6)],
            "ring": [(i, (i + 1) % 12) for i in range(12)],
            "random": [(a, b) for a, b in random_edges if a != b],
        }
        for name, pairs in cases.items():
            edges = spark.createDataFrame(pairs, "id_a long, id_b long")
            prop = {r.id: r.component for r in connected_components(edges).collect()}
            star = {
                r.id: r.component
                for r in connected_components_star(edges).collect()
            }
            assert star == prop, f"{name}: star != propagation"

    @pytest.mark.parametrize("ansi", ["true", "false"])
    def test_string_ids_reach_fixpoint(self, spark, ansi):
        """String ids must converge: a Σ-of-labels check raised
        CAST_INVALID_INPUT under ANSI, and without ANSI every Σ was
        NULL, so the loop stopped after one round with the label only
        one hop along the path."""
        from exosql_spark.operators.components import connected_components

        ids = [f"n{i:02d}" for i in range(8)]
        edges = spark.createDataFrame(
            list(zip(ids, ids[1:])), "id_a string, id_b string"
        )
        saved = spark.conf.get("spark.sql.ansi.enabled")
        spark.conf.set("spark.sql.ansi.enabled", ansi)
        try:
            comp = {r.id: r.component for r in connected_components(edges).collect()}
        finally:
            spark.conf.set("spark.sql.ansi.enabled", saved)
        assert comp == {i: "n00" for i in ids}

    @pytest.mark.parametrize("dtype", ["long", "string"])
    @pytest.mark.parametrize("graph", ["path", "star"])
    def test_convergence_check_matches_join_check(self, spark, monkeypatch, dtype, graph):
        """The observe-borne changed-label count must stop on the same
        round as a join-based convergence check, with the same labels."""
        import pyspark.sql

        from exosql_spark.operators.components import connected_components

        if graph == "path":  # min at one end: one hop per round
            pairs = [(i, i + 1) for i in range(7)]
        else:  # max id at the centre: leaves reach the min via it
            pairs = [(9, i) for i in range(6)]
        key = (lambda i: f"n{i:02d}") if dtype == "string" else (lambda i: i)
        edges = spark.createDataFrame(
            [(key(a), key(b)) for a, b in pairs], f"id_a {dtype}, id_b {dtype}"
        )

        # reference: the old per-round join + limit(1).count() check
        e = (
            edges.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
            .union(edges.select(F.col("id_b").alias("u"), F.col("id_a").alias("v")))
            .distinct()
        )
        labels = e.select(F.col("u").alias("id")).distinct().withColumn(
            "component", F.col("id")
        )
        ref_rounds = 0
        while True:
            ref_rounds += 1
            incoming = e.join(
                labels.withColumnRenamed("id", "v2"), e.v == F.col("v2")
            ).select(F.col("u").alias("id"), "component")
            new = (
                labels.union(incoming)
                .groupBy("id")
                .agg(F.min("component").alias("component"))
                .localCheckpoint()
            )
            changed = (
                new.alias("n")
                .join(labels.alias("o"), "id")
                .where(F.col("n.component") != F.col("o.component"))
                .limit(1)
                .count()
            )
            labels = new
            if changed == 0:
                break
        ref = {r.id: r.component for r in labels.collect()}

        names = []

        class CountingObservation(pyspark.sql.Observation):
            def __init__(self, name):
                names.append(name)
                super().__init__(name)

        monkeypatch.setattr(pyspark.sql, "Observation", CountingObservation)
        got = {r.id: r.component for r in connected_components(edges).collect()}
        rounds = sum(n not in ("cc_edges", "cc_init") for n in names)
        assert got == ref == {key(i): key(0) for i in {x for p in pairs for x in p}}
        assert rounds == ref_rounds

    def test_dedup_components_keeps_representatives(self, spark):
        from exosql_spark.operators.components import dedup_components

        df = spark.createDataFrame(
            [(i, f"doc {i}") for i in range(1, 6)], "doc_id long, text string"
        )
        pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
        kept = sorted(r.doc_id for r in dedup_components(df, pairs).collect())
        assert kept == [1, 4, 5]


class TestSkewOperators:
    def test_salted_agg_matches_plain(self, spark, sf_dir):
        from exosql_spark.io import load_table
        from exosql_spark.operators.skew import salted_agg

        li = load_table(spark, sf_dir, "lineitem")
        plain = {
            r.l_returnflag: (r.c, round(r.s, 2))
            for r in li.groupBy("l_returnflag")
            .agg(F.count("*").alias("c"), F.sum("l_quantity").alias("s"))
            .collect()
        }
        salted = {
            r.l_returnflag: (r.c, round(r.s, 2))
            for r in salted_agg(
                li,
                ["l_returnflag"],
                [F.count("*").alias("c"), F.sum("l_quantity").alias("s")],
                [F.sum("c").alias("c"), F.sum("s").alias("s")],
            ).collect()
        }
        assert plain == salted

    def test_salted_join_matches_plain(self, spark, sf_dir):
        from exosql_spark.io import load_table
        from exosql_spark.operators.skew import salted_join

        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey"
        )
        cust = load_table(spark, sf_dir, "customer").select(
            F.col("c_custkey").alias("o_custkey"), "c_name"
        )
        plain = orders.join(cust, "o_custkey").count()
        salted = salted_join(orders, cust, "o_custkey").count()
        assert plain == salted


class TestCuratePipeline:
    def test_end_to_end(self, spark, sf_dir):
        from exosql_spark.io import load_table
        from exosql_spark.operators.pipeline import CurateConfig, curate_corpus

        docs = load_table(spark, sf_dir, "documents")
        curated = curate_corpus(docs, config=CurateConfig(min_tokens=5))
        rows = curated.collect()
        assert 0 < len(rows) <= docs.count()
        cols = set(curated.columns)
        assert {"doc_id", "text", "lang_pred", "quality", "n_tokens",
                "content_hash"} <= cols
        # quality gate respected
        assert all(r.n_tokens >= 5 for r in rows)

    def test_components_mode(self, spark):
        from exosql_spark.operators.pipeline import CurateConfig, curate_corpus

        docs = spark.createDataFrame(
            [
                (1, "the quick brown fox jumps over the lazy dog again and again today"),
                (2, "the quick brown fox jumps over the lazy dog again and again today"),
                (3, "the quick brown fox jumps over the lazy cat again and again today"),
                (4, "completely different text about query engines and spark sql plans here"),
            ],
            "doc_id long, text string",
        )
        curated = curate_corpus(
            docs,
            config=CurateConfig(
                min_tokens=2, min_quality=0.0, near_dup_threshold=0.3,
                use_components=True,
            ),
        )
        kept = sorted(r.doc_id for r in curated.collect())
        assert kept == [1, 4]

    def test_span_and_lm_stages(self, spark, sf_dir):
        """span_dedup + min_lm_score stages compose: the pipeline still
        returns a curated frame, docs emptied by span removal fall to
        the token gate, and the LM floor strictly shrinks the output."""
        from exosql_spark.io import load_table
        from exosql_spark.operators.pipeline import CurateConfig, curate_corpus

        docs = load_table(spark, sf_dir, "documents")
        base = curate_corpus(docs, config=CurateConfig(min_tokens=5))
        staged = curate_corpus(
            docs,
            config=CurateConfig(min_tokens=5, span_dedup=True, min_lm_score=-13.0),
        )
        nb, ns = base.count(), staged.count()
        assert 0 < ns <= nb
        assert set(staged.columns) == set(base.columns)

    def test_observe_metrics_ride_the_action(self, spark, sf_dir):
        """curate_with_metrics: input rows are captured once at the
        staging materialization; output rows + mean quality accumulate
        during the caller's action — and agree with directly-computed
        values."""
        from exosql_spark.io import load_table
        from exosql_spark.operators.pipeline import (
            CurateConfig,
            curate_with_metrics,
        )

        docs = load_table(spark, sf_dir, "documents")
        curated, obs_in, obs_out = curate_with_metrics(
            docs, config=CurateConfig(min_tokens=5)
        )
        n = curated.count()
        assert obs_in.get["rows"] == docs.count()
        assert obs_out.get["rows"] == n
        assert 0.0 < obs_out.get["avg_quality"] <= 1.0

    def test_observe_metrics_multi_consumer_config(self, spark, sf_dir):
        """With span_dedup + min_lm_score configured the docs subtree
        has several physical consumers in one action; obs_in must STILL
        count each input row exactly once (it over-counted 2–3× before
        the observed frame was persisted; round-5 advice)."""
        from exosql_spark.io import load_table
        from exosql_spark.operators.pipeline import (
            CurateConfig,
            curate_with_metrics,
        )

        docs = load_table(spark, sf_dir, "documents")
        curated, obs_in, obs_out = curate_with_metrics(
            docs,
            config=CurateConfig(min_tokens=5, span_dedup=True, min_lm_score=-30.0),
        )
        n = curated.count()
        assert obs_in.get["rows"] == docs.count()
        assert obs_out.get["rows"] == n

    def test_lm_floor_keeps_scoreless_docs(self, spark):
        """Sub-2-token docs carry no bigram evidence, so the LM floor
        must pass them through (NULL score) rather than silently drop
        them — the min_tokens gate is the only stage that governs them
        (round-5 advice: the old semi-join dropped them regardless of
        how low the floor was)."""
        from exosql_spark.operators.pipeline import CurateConfig, curate_corpus

        docs = spark.createDataFrame(
            [
                (1, "solo"),  # 1 token: no bigrams → no lm_score row
                (2, "the quick brown fox jumps over the lazy dog again today"),
            ],
            "doc_id long, text string",
        )
        kept = sorted(
            r.doc_id
            for r in curate_corpus(
                docs,
                config=CurateConfig(
                    min_tokens=1, min_quality=0.0, min_lm_score=-1000.0
                ),
            ).collect()
        )
        assert kept == [1, 2]

    def test_sig_after_dedup_orderings_equal(self, spark, sf_dir):
        """sig_after_dedup only changes WHEN signatures are computed
        (pre- vs post-exact-dedup) — the curated corpus must be
        identical, since signatures are a pure function of text."""
        from exosql_spark.io import load_table
        from exosql_spark.operators.pipeline import CurateConfig, curate_corpus

        docs = load_table(spark, sf_dir, "documents")
        before = sorted(
            r.doc_id
            for r in curate_corpus(
                docs, config=CurateConfig(min_tokens=5, sig_after_dedup=False)
            ).select("doc_id").collect()
        )
        after = sorted(
            r.doc_id
            for r in curate_corpus(
                docs, config=CurateConfig(min_tokens=5, sig_after_dedup=True)
            ).select("doc_id").collect()
        )
        assert before == after and len(before) > 0

    def test_auto_sig_placement_rule(self, spark):
        """sig_after_dedup=None self-tunes from the measured exact-dup
        rate: a heavily-duplicated corpus picks the dedup-first
        ordering, a unique corpus keeps the one-persist ordering."""
        from exosql_spark.operators.pipeline import _auto_sig_after_dedup

        uniq = spark.range(20).selectExpr(
            "id AS doc_id", "concat('unique doc number ', id) AS text"
        )
        assert _auto_sig_after_dedup(uniq, "text") is False
        dup = spark.range(20).selectExpr(
            "id AS doc_id", "concat('copy ', CAST(id % 4 AS STRING)) AS text"
        )
        assert _auto_sig_after_dedup(dup, "text") is True

    def test_auto_sig_matches_forced_paths(self, spark, sf_dir):
        """The auto default must stay result-identical to BOTH forced
        orderings (the rule only picks a plan shape)."""
        from exosql_spark.io import load_table
        from exosql_spark.operators.pipeline import CurateConfig, curate_corpus

        docs = load_table(spark, sf_dir, "documents")
        kept = {}
        for mode in (None, False, True):
            kept[mode] = sorted(
                r.doc_id
                for r in curate_corpus(
                    docs, config=CurateConfig(min_tokens=5, sig_after_dedup=mode)
                ).select("doc_id").collect()
            )
        assert kept[None] == kept[False] == kept[True] and len(kept[None]) > 0


class TestIncrementalDedup:
    def test_precomputed_index_path(self, spark, sf_dir):
        """The production shape: ref digests + band keys come from a
        maintained index, not recomputed from ref text — results must
        match the derive-from-ref path exactly."""
        from pyspark.sql import functions as F

        from exosql_spark.io import load_table
        from exosql_spark.operators import dedup
        from exosql_spark.operators.incremental import incremental_dedup

        ref = load_table(spark, sf_dir, "documents")
        batch = (
            ref.filter(F.col("doc_id") < 5)
            .select((F.col("doc_id") + 500000).alias("doc_id"), "text")
            .unionByName(
                ref.filter(F.col("doc_id").between(5, 9)).select(
                    (F.col("doc_id") + 600000).alias("doc_id"),
                    F.concat("text", F.lit(" zzq")).alias("text"),
                )
            )
        )
        # maintained index frames
        digests = ref.select(
            F.col("doc_id").alias("_rid"), dedup.fingerprint("text").alias("_h")
        )
        sig = ref.select(
            F.col("doc_id").alias("_id"),
            dedup.minhash_signature("text", 64).alias("_sig"),
        )
        bands_idx = dedup.signature_bands(sig, 64, 16)

        via_index = incremental_dedup(
            batch, ref, ref_digests=digests, ref_bands=bands_idx
        )
        derived = incremental_dedup(batch, ref)
        got_i = {(r.doc_id, r.status, r.matched_ref_id) for r in via_index.collect()}
        got_d = {(r.doc_id, r.status, r.matched_ref_id) for r in derived.collect()}
        assert got_i == got_d
        assert {(500000 + i, "exact_dup", i) for i in range(5)} <= got_i
        assert all(s == "near_dup" and m == d - 600000
                   for d, s, m in got_i if d >= 600000)

    def test_index_parquet_round_trip(self, spark, sf_dir, tmp_path):
        """The maintained-index workflow end to end: digests + band
        keys persisted to parquet (the appendable index a production
        pipeline keeps between ingest cycles), read back cold, and
        fed to incremental_dedup — classification identical to the
        derive-from-ref path."""
        from pyspark.sql import functions as F

        from exosql_spark.io import load_table
        from exosql_spark.operators import dedup
        from exosql_spark.operators.incremental import incremental_dedup

        ref = load_table(spark, sf_dir, "documents")
        ref.select(
            F.col("doc_id").alias("_rid"), dedup.fingerprint("text").alias("_h")
        ).write.mode("overwrite").parquet(f"{tmp_path}/digests")
        sig = ref.select(
            F.col("doc_id").alias("_id"),
            dedup.minhash_signature("text", 64).alias("_sig"),
        )
        dedup.signature_bands(sig, 64, 16).write.mode("overwrite").partitionBy(
            "band"
        ).parquet(f"{tmp_path}/bands")

        batch = ref.filter(F.col("doc_id") < 5).select(
            (F.col("doc_id") + 700000).alias("doc_id"), "text"
        )
        out = incremental_dedup(
            batch,
            ref,
            ref_digests=spark.read.parquet(f"{tmp_path}/digests"),
            ref_bands=spark.read.parquet(f"{tmp_path}/bands"),
        )
        got = {(r.doc_id, r.status, r.matched_ref_id) for r in out.collect()}
        assert got == {(700000 + i, "exact_dup", i) for i in range(5)}


class TestAsofJoin:
    def test_inclusive_vs_strict_bounds(self, spark):
        from exosql_spark.operators.asof import asof_join

        left = spark.createDataFrame([(1, 10, "L")], "k long, ts long, lv string")
        right = spark.createDataFrame(
            [(1, 10, "R@10"), (1, 5, "R@5"), (1, 20, "R@20")],
            "k long, ts long, rv string",
        )
        incl = asof_join(left, right, on="k").collect()[0]
        assert incl.rv_right == "R@10"  # <= matches same instant
        excl = asof_join(left, right, on="k", strict=True).collect()[0]
        assert excl.rv_right == "R@5"  # < excludes same instant

    def test_no_prior_match_keeps_nulls(self, spark):
        from exosql_spark.operators.asof import asof_join

        left = spark.createDataFrame([(1, 3, "L")], "k long, ts long, lv string")
        right = spark.createDataFrame([(1, 5, "R@5")], "k long, ts long, rv string")
        row = asof_join(left, right, on="k").collect()[0]
        assert row.rv_right is None and row.ts_right is None

    def test_forward_direction(self, spark):
        from exosql_spark.operators.asof import asof_join

        left = spark.createDataFrame([(1, 10, "L")], "k long, ts long, lv string")
        right = spark.createDataFrame(
            [(1, 10, "R@10"), (1, 5, "R@5"), (1, 20, "R@20"), (1, 30, "R@30")],
            "k long, ts long, rv string",
        )
        incl = asof_join(left, right, on="k", direction="forward").collect()[0]
        assert incl.rv_right == "R@10"  # >= matches same instant
        excl = asof_join(
            left, right, on="k", direction="forward", strict=True
        ).collect()[0]
        assert excl.rv_right == "R@20"  # > takes the next-later row
        # no following right row -> nulls
        late = spark.createDataFrame([(1, 99, "L")], "k long, ts long, lv string")
        row = asof_join(late, right, on="k", direction="forward").collect()[0]
        assert row.rv_right is None

    def test_direction_validated(self, spark):
        import pytest as _pt

        from exosql_spark.operators.asof import asof_join

        df = spark.createDataFrame([(1, 1, "x")], "k long, ts long, v string")
        with _pt.raises(ValueError):
            asof_join(df, df, on="k", direction="sideways")
        # nearest is inclusive by definition — strict contradicts it
        with _pt.raises(ValueError):
            asof_join(df, df, on="k", direction="nearest", strict=True)

    def test_nearest_direction(self, spark):
        from exosql_spark.operators.asof import asof_join

        left = spark.createDataFrame(
            [(1, 10, "mid"), (1, 2, "early"), (1, 95, "late"), (2, 7, "lonely")],
            "k long, ts long, lv string",
        )
        right = spark.createDataFrame(
            [(1, 5, "R@5"), (1, 14, "R@14"), (1, 40, "R@40")],
            "k long, ts long, rv string",
        )
        got = {
            r.lv: (r.rv_right, r.ts_right)
            for r in asof_join(left, right, on="k", direction="nearest").collect()
        }
        assert got["mid"] == ("R@14", 14)     # |10-14| < |10-5|
        assert got["early"] == ("R@5", 5)     # only forward side near
        assert got["late"] == ("R@40", 40)    # nothing after -> backward
        assert got["lonely"] == (None, None)  # key with no right rows

    def test_nearest_equidistant_tie_takes_earlier(self, spark):
        from exosql_spark.operators.asof import asof_join

        left = spark.createDataFrame([(1, 10, "L")], "k long, ts long, lv string")
        right = spark.createDataFrame(
            [(1, 7, "before"), (1, 13, "after")], "k long, ts long, rv string"
        )
        row = asof_join(left, right, on="k", direction="nearest").collect()[0]
        assert row.rv_right == "before"  # pandas merge_asof tie rule

    def test_range_join_bounds(self, spark):
        from exosql_spark.operators.asof import range_join

        a = spark.createDataFrame([(1, 100, "a")], "k long, ts long, v string")
        b = spark.createDataFrame(
            [(1, 100, "same"), (1, 50, "in50"), (1, 99, "in1"),
             (1, 101, "future"), (1, 0, "tooold")],
            "k long, ts long, v string",
        )
        # ts here are epoch seconds already; cast path expects timestamps,
        # so build timestamp columns
        from pyspark.sql import functions as FF
        a2 = a.withColumn("ts", FF.timestamp_seconds("ts"))
        b2 = b.withColumn("ts", FF.timestamp_seconds("ts"))
        got = {r["v"] for r in range_join(a2, b2, on="k", lower=0, upper=60)
               .select(FF.col("r.v").alias("v")).collect()}
        assert got == {"same", "in50", "in1"}


class TestPiiRedact:
    def test_redacts_all_three_kinds(self, spark):
        df = spark.createDataFrame(
            [(1, "mail a.b+c@x-mail.co.uk node 192.168.1.254 call +1(555)123-4567 ok")],
            "id long, t string",
        )
        out = df.select(text.pii_redact("t").alias("r")).first().r
        assert "@" not in out and "192.168" not in out and "555" not in out
        assert out.count("[PII]") == 3
        assert out.endswith(" ok")

    def test_plain_text_untouched(self, spark):
        df = spark.createDataFrame(
            [(1, "version 3.2 costs 12 dollars on march 4")], "id long, t string"
        )
        assert (
            df.select(text.pii_redact("t").alias("r")).first().r
            == "version 3.2 costs 12 dollars on march 4"
        )

    def test_dates_versions_ids_untouched(self, spark):
        # The old any-digit-run phone pattern redacted all of these.
        untouched = [
            "released 2026-08-13 at noon",
            "build 1.2.3.4567.89 shipped",
            "order 1234567890123 confirmed",
        ]
        df = spark.createDataFrame([(i, t) for i, t in enumerate(untouched)], "id long, t string")
        got = [r.r for r in df.select("id", text.pii_redact("t").alias("r")).orderBy("id").collect()]
        assert got == untouched

    def test_phone_shapes_redacted(self, spark):
        phones = ["call 555-123-4567 now", "or (555) 123 4567", "intl +44 20.7946.0958 ok"]
        df = spark.createDataFrame([(i, t) for i, t in enumerate(phones)], "id long, t string")
        for r in df.select(text.pii_redact("t").alias("r")).collect():
            assert "[PII]" in r.r

    def test_replacement_escaped_for_java(self, spark):
        # "$1\" would be a group reference if spliced unescaped.
        df = spark.createDataFrame([(1, "mail a@b.co end")], "id long, t string")
        out = df.select(text.pii_redact("t", replacement=r"[$1\PII]").alias("r")).first().r
        assert out == r"mail [$1\PII] end"

    def test_sql_twin_matches_spark(self, spark, duck):
        texts = [
            "released 2026-08-13 build 1.2.3.4567.89",
            "call +1(555)123-4567 or 555 123 4567",
            "mail a.b+c@x-mail.co.uk node 192.168.1.254",
            "order 1234567890123 on 10.0.0.1",
        ]
        df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "id long, t string")
        spark_out = [
            r.r for r in df.select("id", text.pii_redact("t").alias("r")).orderBy("id").collect()
        ]
        sql = text.pii_redact_sql("t")
        duck_out = [
            r[0]
            for r in duck.execute(
                f"SELECT {sql} FROM (SELECT * FROM (VALUES "
                + ", ".join(f"({i}, '{t}')" for i, t in enumerate(texts))
                + ") v(id, t)) ORDER BY id"
            ).fetchall()
        ]
        assert spark_out == duck_out


class TestPacking:
    def test_pack_respects_budget(self, spark):
        from exosql_spark.operators import packing

        rows = [(i, " ".join(["w"] * n)) for i, n in
                [(1, 5), (2, 5), (3, 5), (4, 20), (5, 3), (6, 12)]]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        packed = packing.pack_sequences(df, budget=10, n_shards=1).collect()
        by_seq = {}
        for r in packed:
            by_seq.setdefault(r.seq_id, []).append(r)
        for seq, members in by_seq.items():
            total = sum(m.n_tokens for m in members)
            # a sequence only exceeds budget when a single doc does
            assert total <= 10 or len(members) == 1
        # greedy in id order: 5+5=10 | 5 | 20 | 3 | 12  → doc 3 starts seq 1
        seq_of = {r.doc_id: r.seq_id for r in packed}
        assert seq_of[1] == seq_of[2]
        assert seq_of[3] != seq_of[2]
        assert len({seq_of[4]} | {seq_of[5]}) == 2  # 20 won't share with 3

    def test_pack_deterministic_across_runs(self, spark, sf_dir):
        from exosql_spark.io import Tables
        from exosql_spark.operators import packing

        docs = Tables(spark, sf_dir).documents
        a = sorted(map(tuple, packing.pack_sequences(docs).collect()))
        b = sorted(map(tuple, packing.pack_sequences(docs).collect()))
        assert a == b

    def test_mixture_exact_fractions(self, spark, sf_dir):
        from exosql_spark.io import Tables
        from exosql_spark.operators import packing

        docs = Tables(spark, sf_dir).documents
        totals = {r.lang: r.n for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
        frac = {"en": 0.25, "de": 1.0}
        out = packing.mixture_sample(docs, frac).groupBy("lang").agg(
            F.count("*").alias("n")
        ).collect()
        got = {r.lang: r.n for r in out}
        assert set(got) == {"en", "de"}  # absent strata dropped
        assert got["en"] == math.ceil(0.25 * totals["en"])
        assert got["de"] == totals["de"]

    def test_shard_assign_covers_all_shards(self, spark, sf_dir):
        from exosql_spark.io import Tables
        from exosql_spark.operators import packing

        docs = Tables(spark, sf_dir).documents
        shards = {r.shard for r in packing.shard_stats(docs, n_shards=4).collect()}
        assert shards == {0, 1, 2, 3}


class TestJaccardIndexPairs:
    def test_exact_pairs_found(self, spark):
        df = spark.createDataFrame(DOCS, "doc_id long, text string")
        pairs = {
            (r.id_a, r.id_b): r.jaccard_sim
            for r in dedup.jaccard_index_pairs(df, threshold=0.2).collect()
        }
        assert pairs[(1, 2)] == 1.0 and pairs[(1, 5)] == 1.0  # normalized dups
        assert (1, 3) in pairs and pairs[(1, 3)] < 1.0
        assert not any(4 in p for p in pairs)

    def test_stop_shingle_pruning(self, spark):
        # a shingle shared by every doc is pruned at max_df=2 → no pairs
        rows = [(i, f"common shingle here unique{i} tail{i} word{i}") for i in range(1, 5)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = dedup.jaccard_index_pairs(df, threshold=0.1, max_df=2).collect()
        assert out == []

    def test_prefix_filter_lossless_on_random_overlapping_corpus(self, spark):
        """Adversarial-ish corpus: 30 docs drawn from a 12-word shared
        vocabulary (heavy natural overlap, many borderline Jaccard
        pairs) — prefix-filtered and flat index joins must agree at
        every threshold. Fixed seed ⇒ deterministic."""
        import numpy as np

        rng = np.random.default_rng(11)
        vocab = [f"tok{i}" for i in range(12)]
        rows = [
            (i, " ".join(rng.choice(vocab, size=rng.integers(5, 15))))
            for i in range(30)
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        for t in (0.2, 0.4, 0.6):
            flat = {
                tuple(r)
                for r in dedup.jaccard_index_pairs(
                    df, threshold=t, max_df=25, prefix_filter=False
                ).collect()
            }
            pref = {
                tuple(r)
                for r in dedup.jaccard_index_pairs(
                    df, threshold=t, max_df=25, prefix_filter=True
                ).collect()
            }
            assert flat == pref, f"t={t}: {flat ^ pref}"

    def test_prefix_filter_is_lossless(self, spark, sf_dir):
        """The AllPairs prefix prune must return EXACTLY the flat
        inverted-index join's pairs — it is an optimization, not an
        approximation — across thresholds including ones where the
        rounding boundary matters."""
        from exosql_spark.io import load_table

        docs = load_table(spark, sf_dir, "documents")
        for t in (0.2, 0.3, 0.5):
            flat = {
                tuple(r)
                for r in dedup.jaccard_index_pairs(
                    docs, threshold=t, prefix_filter=False
                ).collect()
            }
            pref = {
                tuple(r)
                for r in dedup.jaccard_index_pairs(
                    docs, threshold=t, prefix_filter=True
                ).collect()
            }
            assert flat == pref, f"threshold {t}: prefix lost/added pairs"


class TestKmeans:
    def _blobs(self, spark):
        # three tight, well-separated 4-d blobs of 4 points each
        rows = []
        vid = 0
        for base in ([0.0, 0.0, 0.0, 0.0], [10.0, 10.0, 10.0, 10.0], [-10.0, 5.0, -5.0, 10.0]):
            for jitter in (0.0, 0.1, -0.1, 0.2):
                rows.append((vid, [v + jitter for v in base]))
                vid += 1
        return spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def test_separable_blobs_recovered(self, spark):
        from exosql_spark.operators import clustering

        df = self._blobs(spark)
        cents, assigned = clustering.kmeans(df, k=3, iters=4)
        got = assigned.select("vec_id", "cluster").collect()
        by_cluster = {}
        for r in got:
            by_cluster.setdefault(r.cluster, set()).add(r.vec_id)
        # each blob of 4 consecutive ids lands in exactly one cluster
        assert sorted(map(tuple, (sorted(s) for s in by_cluster.values()))) == [
            (0, 1, 2, 3), (4, 5, 6, 7), (8, 9, 10, 11)]

    def test_deterministic(self, spark):
        from exosql_spark.operators import clustering

        df = self._blobs(spark)
        a = sorted(map(tuple, clustering.kmeans(df, k=3, iters=2)[1].select("vec_id", "cluster").collect()))
        b = sorted(map(tuple, clustering.kmeans(df, k=3, iters=2)[1].select("vec_id", "cluster").collect()))
        assert a == b

    def test_summary_on_real_embeddings(self, spark, sf_dir):
        from exosql_spark.operators import clustering
        from exosql_spark.io import Tables

        emb = Tables(spark, sf_dir).embeddings
        out = clustering.kmeans_summary(emb, k=5, iters=2).collect()
        assert sum(r.n_members for r in out) == emb.count()
        assert all(r.inertia >= 0 for r in out)


class TestBucketCap:
    def test_max_bucket_drops_mass_dup_groups(self, spark):
        # 12 identical docs + one near-dup pair: with max_bucket=6 the
        # identical-group buckets (size 12) drop; the pair survives
        rows = [(i, "mass duplicated boilerplate text body here") for i in range(12)]
        rows += [(100, "a genuinely unique document about spark plans"),
                 (101, "a genuinely unique document about flink plans")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        capped = dedup.minhash_dedup_pairs(df, threshold=0.3, max_bucket=6).collect()
        ids = {i for r in capped for i in (r.id_a, r.id_b)}
        assert ids and ids <= {100, 101}  # the dup flood is gone, pair kept
        uncapped = dedup.minhash_dedup_pairs(df, threshold=0.3).collect()
        assert len(uncapped) >= 66  # 12-choose-2 pairs without the cap


class TestLineDedup:
    def test_boilerplate_lines_removed(self, spark):
        docs = [
            (1, "COOKIE BANNER\nunique first body\nCopyright Foo"),
            (2, "COOKIE BANNER\nanother real paragraph\nCopyright Foo"),
            (3, "COOKIE BANNER\nthird document text here\nCopyright Foo"),
            (4, "a fully unique document\nwith its own two lines"),
        ]
        df = spark.createDataFrame(docs, "doc_id long, text string")
        out = {r.doc_id: r.text for r in text.line_dedup(df, min_df=2).collect()}
        assert out[1] == "unique first body"
        assert out[2] == "another real paragraph"
        assert out[4] == "a fully unique document\nwith its own two lines"

    def test_line_order_preserved(self, spark):
        docs = [(1, "z last\na first\nm mid"), (2, "boiler"), (3, "boiler")]
        df = spark.createDataFrame(docs, "doc_id long, text string")
        out = {r.doc_id: r.text for r in text.line_dedup(df, min_df=2).collect()}
        assert out[1] == "z last\na first\nm mid"
        assert out[2] == "" and out[3] == ""  # all-boilerplate docs survive empty

    def test_normalized_matching(self, spark):
        # case/punctuation variants of the same line count as one
        docs = [(1, "Buy Now!!\nreal a"), (2, "buy now\nreal b")]
        df = spark.createDataFrame(docs, "doc_id long, text string")
        out = {r.doc_id: r.text for r in text.line_dedup(df, min_df=2).collect()}
        assert out[1] == "real a" and out[2] == "real b"


class TestChunking:
    def test_chunks_cover_with_overlap(self, spark):
        from exosql_spark.operators import packing

        toks = " ".join(f"t{i}" for i in range(100))
        df = spark.createDataFrame([(1, toks)], "doc_id long, text string")
        out = sorted(packing.chunk_documents(df, budget=32, overlap=8).collect(),
                     key=lambda r: r.chunk_id)
        # starts at 1, 25, 49, 73 (1-based) → 4 chunks; last is 100-72=28 toks
        assert [r.n_tokens for r in out] == [32, 32, 32, 28]
        c0, c1 = out[0].chunk.split(), out[1].chunk.split()
        assert c0[-8:] == c1[:8]  # 8-token overlap carried over
        assert c0[0] == "t0" and out[-1].chunk.split()[-1] == "t99"

    def test_short_doc_single_chunk(self, spark):
        from exosql_spark.operators import packing

        df = spark.createDataFrame([(1, "a b c"), (2, "")], "doc_id long, text string")
        rows = {r.doc_id: r for r in packing.chunk_documents(df, budget=32, overlap=8).collect()}
        assert rows[1].n_tokens == 3 and rows[1].chunk == "a b c"
        assert rows[2].n_tokens == 0 and rows[2].chunk == ""

    def test_no_shuffle(self, spark, sf_dir):
        from exosql_spark.io import Tables
        from exosql_spark.operators import packing

        df = packing.chunk_documents(Tables(spark, sf_dir).documents)
        assert "Exchange" not in df._jdf.queryExecution().executedPlan().toString()


class TestKeepBest:
    def test_best_quality_copy_survives(self, spark):
        # docs 1 and 2 normalize identically; doc 2 has richer casing?
        # quality is computed on raw text: give doc 2 more stopwords via
        # a DIFFERENT normalized group to keep the test crisp instead:
        docs = [
            (1, "alpha beta gamma"),              # group A, low stopwords
            (2, "Alpha beta GAMMA!!"),            # group A (same normalized)
            (3, "the quick brown fox and the dog"),  # group B alone
        ]
        df = spark.createDataFrame(docs, "doc_id long, text string")
        kept = {r.doc_id for r in dedup.keep_best_representative(df).collect()}
        assert 3 in kept and len(kept) == 2
        assert (1 in kept) or (2 in kept)

    def test_tie_breaks_to_lowest_id(self, spark):
        docs = [(7, "same text body"), (4, "same text body")]
        df = spark.createDataFrame(docs, "doc_id long, text string")
        kept = [r.doc_id for r in dedup.keep_best_representative(df).collect()]
        assert kept == [4]


class TestOrdering:
    """ordering.py — epoch shuffle / split assignment / upsert merge."""

    def test_epoch_shuffle_is_permutation(self, spark):
        from exosql_spark.operators import ordering

        df = spark.range(200).withColumnRenamed("id", "k")
        out = ordering.epoch_shuffle(df, "k", seed=1, n_shards=4).collect()
        # every row exactly once, shard in range, pos dense 1..|shard|
        assert sorted(r.k for r in out) == list(range(200))
        by_shard: dict[int, list[int]] = {}
        for r in out:
            assert 0 <= r.shard < 4
            by_shard.setdefault(r.shard, []).append(r.pos)
        for shard, poss in by_shard.items():
            assert sorted(poss) == list(range(1, len(poss) + 1)), shard

    def test_epoch_shuffle_deterministic_and_seeded(self, spark):
        from exosql_spark.operators import ordering

        df = spark.range(100).withColumnRenamed("id", "k")

        def order(seed):
            out = ordering.epoch_shuffle(df, "k", seed=seed, n_shards=2)
            return [r.k for r in out.orderBy("shard", "pos").collect()]

        assert order(5) == order(5)  # same seed → same permutation
        assert order(5) != order(6)  # new seed → new epoch order
        # and it actually shuffles: not the identity order
        assert order(5) != list(range(100))

    def test_split_assign_fractions_and_leakage(self, spark):
        from exosql_spark.operators import ordering

        # 300 distinct texts + 3 exact duplicates of the first ten
        rows = [(i, f"document number {i} body") for i in range(300)]
        rows += [(1000 + i, f"document number {i} body") for i in range(10)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = ordering.split_assign(df, F.col("text"), seed=3).collect()
        frac = {s: 0 for s in ("train", "val", "test")}
        by_text: dict[str, set] = {}
        for r in out:
            assert r.split == (
                "train" if r.bucket < 80 else "val" if r.bucket < 90 else "test"
            )
            frac[r.split] += 1
            by_text.setdefault(r.text, set()).add(r.split)
        # duplicates can never straddle a split (the leakage guard)
        assert all(len(s) == 1 for s in by_text.values())
        # roughly 80/10/10 over 310 docs (loose: binomial noise)
        assert frac["train"] > 200 and frac["val"] > 5 and frac["test"] > 5

    def test_split_assign_custom_weights(self, spark):
        from exosql_spark.operators import ordering

        df = spark.createDataFrame(
            [(i, str(i)) for i in range(50)], "doc_id long, text string"
        )
        out = ordering.split_assign(
            df, F.col("text"), splits=(("a", 1), ("b", 1)), seed=0
        ).collect()
        assert {r.split for r in out} == {"a", "b"}
        assert all(r.bucket in (0, 1) for r in out)

    def test_merge_keep_latest(self, spark):
        from exosql_spark.operators import ordering

        base = spark.createDataFrame(
            [(1, 1, "one"), (2, 1, "two"), (3, 1, "three")],
            "k long, version int, text string",
        )
        delta = spark.createDataFrame(
            [(2, 2, "two-revised"), (4, 1, "four")],
            "k long, version int, text string",
        )
        out = {
            r.k: (r.version, r.text)
            for r in ordering.merge_keep_latest(
                [base, delta], ["k"], ["version"]
            ).collect()
        }
        assert out == {
            1: (1, "one"),          # untouched survives
            2: (2, "two-revised"),  # revision replaces
            3: (1, "three"),
            4: (1, "four"),         # insert lands
        }

    def test_merge_requires_snapshots(self):
        from exosql_spark.operators import ordering

        with pytest.raises(ValueError):
            ordering.merge_keep_latest([], ["k"], ["version"])


class TestAutoSizing:
    """Round-10 hardening: the partition/shard knobs on the corpus
    operators derive from a cheap count when not passed (the semdedup
    auto-k lesson — a constant right at sf0.1 is wrong at 100 TB),
    and the budget boundary compares in the cum column's own type."""

    def test_derive_n_parts_rule(self):
        from exosql_spark.operators.selection import (
            _TARGET_ROWS_PER_PART,
            derive_n_parts,
        )

        assert derive_n_parts(0) == 32
        assert derive_n_parts(_TARGET_ROWS_PER_PART * 32) == 32
        # ceil division above the floor
        assert derive_n_parts(_TARGET_ROWS_PER_PART * 100 + 1) == 101
        assert derive_n_parts(10**12) == 10**12 // _TARGET_ROWS_PER_PART

    def test_budget_auto_n_parts_matches_explicit(self, spark):
        from exosql_spark.operators import selection

        df = spark.createDataFrame(
            [(i, 1 + (i % 3)) for i in range(200)], "id long, w int"
        )
        order = [F.col("id")]
        auto = {
            (r.id, r.cum_weight)
            for r in selection.take_while_budget(
                df, "w", order, budget=117
            ).collect()
        }
        explicit = {
            (r.id, r.cum_weight)
            for r in selection.take_while_budget(
                df, "w", order, budget=117, n_parts=8
            ).collect()
        }
        assert auto == explicit and auto

    def test_budget_boundary_is_long_floor(self, spark):
        from exosql_spark.operators import selection

        # integral weights: a fractional budget keeps rows up to
        # floor(budget) via a pure long-long comparison
        df = spark.createDataFrame([(i, 1) for i in range(10)], "id long, w int")
        got = selection.take_while_budget(
            df, "w", [F.col("id")], budget=5.7, n_parts=2
        )
        assert got.count() == 5
        assert dict(got.dtypes)["cum_weight"] == "bigint"

    def test_epoch_shuffle_auto_shards(self, spark):
        from exosql_spark.operators import ordering

        df = spark.range(150).withColumnRenamed("id", "k")
        out = ordering.epoch_shuffle(df, "k", seed=2).collect()
        assert sorted(r.k for r in out) == list(range(150))
        # small frame → the derived count is the floor (32)
        assert all(0 <= r.shard < 32 for r in out)

    def test_hash60_null_propagates(self, spark):
        from exosql_spark.operators import ordering

        df = spark.createDataFrame(
            [(1, "alpha"), (2, None)], "doc_id long, text string"
        )
        rows = {
            r.doc_id: r
            for r in df.select(
                "doc_id", ordering.hash60(F.col("text"), salt="7").alias("h")
            ).collect()
        }
        # NULL content → NULL hash (the SQL twin's `x || ':7'` yields
        # NULL); concat_ws would have parked it in a real bucket
        assert rows[2].h is None and rows[1].h is not None
        # and split_assign sends it to the catch-all last split in
        # both engines (CASE WHEN NULL<80 ... ELSE 'test')
        out = {
            r.doc_id: (r.bucket, r.split)
            for r in ordering.split_assign(df, F.col("text")).collect()
        }
        assert out[2] == (None, "test")


class TestGlobalRank:
    """selection.global_rank — exact distributed row_number."""

    def test_matches_naive_global_window(self, spark):
        from exosql_spark.operators import selection

        df = spark.createDataFrame(
            [(i, (i * 37) % 50) for i in range(400)], "id long, score int"
        )
        order = [F.col("score").desc(), F.col("id")]
        got = {
            r.id: (r.global_rank, r.total)
            for r in selection.global_rank(
                df, order, n_parts=7, total_col="total"
            ).collect()
        }
        want_order = sorted(
            ((r.id, r.score) for r in df.collect()), key=lambda t: (-t[1], t[0])
        )
        assert got == {
            i: (rnk, 400) for rnk, (i, _) in enumerate(want_order, start=1)
        }

    def test_boundary_ties_need_total_order(self, spark):
        """Duplicate order values straddling range boundaries still
        rank deterministically because the unique id ends the order."""
        from exosql_spark.operators import selection

        df = spark.createDataFrame([(i, 1) for i in range(100)], "id long, v int")
        out = selection.global_rank(
            df, [F.col("v"), F.col("id")], n_parts=9, rank_col="r"
        )
        assert [r.id for r in out.orderBy("r").collect()] == list(range(100))

    def test_auto_n_parts(self, spark):
        from exosql_spark.operators import selection

        df = spark.range(50).withColumnRenamed("id", "k")
        ranks = sorted(
            r.global_rank
            for r in selection.global_rank(df, [F.col("k")]).collect()
        )
        assert ranks == list(range(1, 51))


class TestMixtureResample:
    def test_multiplicities_floor_plus_bernoulli(self, spark):
        from exosql_spark.operators import selection
        from exosql_spark.operators.ordering import hash60

        df = spark.createDataFrame(
            [(i, 2.5 if i < 50 else (0.25 if i < 100 else 1.0))
             for i in range(150)],
            "doc_id long, w double",
        )
        out = selection.mixture_resample(df, F.col("w"), seed=4)
        counts = {
            r.doc_id: r.n
            for r in out.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        h = {
            r.doc_id: r.h % 1_000_000
            for r in df.select(
                "doc_id", hash60(F.col("doc_id"), salt="4").alias("h")
            ).collect()
        }
        for i in range(150):
            if i < 50:
                want = 2 + (1 if h[i] < 500_000 else 0)
            elif i < 100:
                want = 1 if h[i] < 250_000 else 0
            else:
                want = 1
            assert counts.get(i, 0) == want, i
        # copy index is dense 1..n
        copies = [r.copy for r in out.filter(F.col("doc_id") == 0).collect()]
        assert sorted(copies) == list(range(1, counts.get(0, 0) + 1))

    def test_membership_stable_under_growth(self, spark):
        """Hash sampling's defining property: adding rows never changes
        an existing row's multiplicity (RNG sampling cannot promise
        this)."""
        from exosql_spark.operators import selection

        def counts(n_rows):
            df = spark.createDataFrame(
                [(i, 0.5) for i in range(n_rows)], "doc_id long, w double"
            )
            out = selection.mixture_resample(df, F.col("w"), seed=9)
            return {
                r.doc_id: r.n
                for r in out.groupBy("doc_id")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            }

        small, big = counts(80), counts(160)
        assert all(big.get(i, 0) == small.get(i, 0) for i in range(80))

    def test_null_id_keeps_integer_copies(self, spark):
        """A NULL id hashes NULL, so the fractional bernoulli is
        undecidable — but the floor(w) integer copies are not.  The
        SQL twin's CASE WHEN … ELSE 0 keeps them; so must Spark
        (pre-fix the whole row vanished: NULL base+bern → explode of
        NULL emits nothing)."""
        from exosql_spark.operators import selection

        df = spark.createDataFrame(
            [(None, 2.5), ("d1", 2.0)], "doc_id string, w double"
        )
        out = selection.mixture_resample(df, F.col("w"), id_col="doc_id", seed=1)
        counts = {
            r.doc_id: r.n
            for r in out.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        assert counts[None] == 2  # floor(2.5), bernoulli coalesced to 0
        assert counts["d1"] == 2
        # and a NULL id with w < 1 emits nothing (floor = 0)
        sub = spark.createDataFrame([(None, 0.7)], "doc_id string, w double")
        assert selection.mixture_resample(sub, F.col("w"), seed=1).count() == 0


class TestAsofNearestTimestamps:
    """direction='nearest' on real TIMESTAMP columns — the delta must
    run in exact epoch-micros arithmetic (raw timestamp subtraction
    only works via DayTimeInterval on Spark 3.3+, and doubles lose
    micro-resolution ties)."""

    def test_nearest_on_timestamp_columns(self, spark):
        from exosql_spark.operators.asof import asof_join

        left = spark.sql(
            "SELECT 1 AS k, TIMESTAMP '2024-01-01 00:00:10' AS ts, 'L' AS lv"
        )
        right = spark.sql("""
            SELECT 1 AS k, ts, rv FROM VALUES
              (TIMESTAMP '2024-01-01 00:00:05', 'R@5'),
              (TIMESTAMP '2024-01-01 00:00:14', 'R@14')
            AS t(ts, rv)
        """)
        row = asof_join(left, right, on="k", direction="nearest").collect()[0]
        assert row.rv_right == "R@14"  # |10-14| < |10-5|

    def test_nearest_timestamp_microsecond_tie(self, spark):
        """Equidistant at ±1µs must take the EARLIER row — a double
        epoch (22 fractional bits at 2024 magnitudes ≈ 0.2µs steps,
        rounded) could mis-order; exact long micros cannot."""
        from exosql_spark.operators.asof import asof_join

        left = spark.sql(
            "SELECT 1 AS k, TIMESTAMP '2024-01-01 00:00:10.000001' AS ts, 'L' AS lv"
        )
        right = spark.sql("""
            SELECT 1 AS k, ts, rv FROM VALUES
              (TIMESTAMP '2024-01-01 00:00:10.000000', 'before'),
              (TIMESTAMP '2024-01-01 00:00:10.000002', 'after')
            AS t(ts, rv)
        """)
        row = asof_join(left, right, on="k", direction="nearest").collect()[0]
        assert row.rv_right == "before"


class TestSizingPins:
    """Round-10 verdict Next #6: pin the two documented sizing
    behaviors — epoch_shuffle's explicit-``n_shards`` reproducibility
    contract and capped_per_key's layout-independent pre-trim."""

    def test_epoch_shuffle_explicit_shards_stable_under_growth(self, spark):
        """The docstring's caveat, proven: with ``n_shards`` passed
        EXPLICITLY, an existing row's shard id and its relative order
        within the shard never change as the corpus grows (auto-derived
        n_shards re-derives the modulus, so ids may move — which is why
        reproducible epochs must pin it)."""
        from exosql_spark.operators import ordering

        def layout(n_rows):
            df = spark.range(n_rows).withColumnRenamed("id", "k")
            out = ordering.epoch_shuffle(df, "k", seed=7, n_shards=8)
            rows = out.orderBy("shard", "pos").collect()
            shard = {r.k: r.shard for r in rows}
            order = {}
            for r in rows:
                order.setdefault(r.shard, []).append(r.k)
            return shard, order

        shard_small, order_small = layout(100)
        shard_big, order_big = layout(160)
        # shard membership of the original rows is unchanged
        assert all(shard_big[k] == shard_small[k] for k in range(100))
        # and within each shard the original rows keep their relative
        # order — new rows interleave, they never reshuffle the old
        for s, ks in order_small.items():
            survivors = [k for k in order_big.get(s, []) if k < 100]
            assert survivors == ks, s

    def test_capped_per_key_layout_independent(self, spark):
        """The pre-trim runs per (input partition × key); any layout
        must trim to a superset of the true top-n, so the final ranks
        are identical whatever the partitioning."""
        from exosql_spark.operators import selection

        rows = [(i % 7, i, float((i * 37) % 101)) for i in range(400)]
        df = spark.createDataFrame(rows, "key int, id long, score double")
        order = F.struct(F.col("score"), F.col("id"))

        def got(frame):
            return sorted(
                (r.key, r.id, r.rank)
                for r in selection.capped_per_key(
                    frame, ["key"], order, n=5
                ).collect()
            )

        base = got(df.coalesce(1))
        assert got(df.repartition(13)) == base
        assert got(df.repartition(3, "key")) == base
        assert len(base) == 7 * 5


class TestQuantizeInt8:
    def test_codes_bounded_and_roundtrip(self, spark):
        from exosql_spark.operators.quantize import int8_quantize

        df = spark.createDataFrame(
            [(1, [1.0, -0.5, 0.25]), (2, [0.0, 0.0]), (3, [-2.0, 2.0])],
            "vec_id long, embedding array<float>",
        )
        rows = {r.vec_id: r for r in int8_quantize(df).collect()}
        # floor(x+0.5) rounds halves toward +inf: -63.5 -> -63
        assert rows[1].q == [127, -63, 32]
        assert rows[1].scale == 1.0
        assert rows[2].q == [0, 0]  # zero vector: eps guard, codes 0
        assert rows[3].q == [-127, 127]
        # error bound: ≤ scale/254 + float noise
        for r in rows.values():
            assert r.max_err <= r.scale / 254 + 1e-9

    def test_int8_dot_approximates_exact(self, spark):
        from exosql_spark.operators.quantize import int8_dot, int8_quantize

        df = spark.createDataFrame(
            [(1, [0.6, -0.3, 0.1]), (2, [0.2, 0.9, -0.4])],
            "vec_id long, embedding array<float>",
        )
        q = int8_quantize(df)
        a = q.filter(F.col("vec_id") == 1).select(
            F.col("q").alias("qa"), F.col("scale").alias("sa")
        )
        b = q.filter(F.col("vec_id") == 2).select(
            F.col("q").alias("qb"), F.col("scale").alias("sb")
        )
        got = (
            a.crossJoin(b)
            .select(
                int8_dot(
                    F.col("qa"), F.col("qb"), F.col("sa"), F.col("sb")
                ).alias("d")
            )
            .collect()[0]
            .d
        )
        exact = 0.6 * 0.2 + (-0.3) * 0.9 + 0.1 * (-0.4)
        assert abs(got - exact) < 0.01  # within int8 quantization error


class TestCrossSourceOverlap:
    def test_pairwise_distinct_fingerprints(self, spark):
        from exosql_spark.operators.dedup import cross_source_overlap

        rows = [
            (1, "shared text one", "A"),
            (2, "Shared TEXT one!", "B"),   # same normalized content
            (3, "shared text one", "C"),
            (4, "only in a", "A"),
            (5, "shared text two", "B"),
            (6, "shared text two", "C"),
            (7, "shared text two", "B"),    # within-source dup collapses
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string, source string")
        got = {
            (r.source_a, r.source_b): r.n_shared
            for r in cross_source_overlap(df).collect()
        }
        assert got == {("A", "B"): 1, ("A", "C"): 1, ("B", "C"): 2}


class TestOovRate:
    def test_rate_and_zero_token_docs_drop(self, spark):
        from exosql_spark.operators import text as tx

        rows = [(1, "the the the rare1"), (2, "the"), (3, "   ")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            r.doc_id: (r.n_tokens, r.n_oov, r.oov_ratio)
            for r in tx.oov_rate(df, vocab_size=1).collect()
        }
        # vocab = {'the'} (most frequent); 'rare1' is OOV
        assert got[1] == (4, 1, 0.25)
        assert got[2] == (1, 0, 0.0)
        assert 3 not in got  # whitespace-only doc has no token rows


class TestInt8Topk:
    def test_int8_topk_self_match_and_recall(self, spark, sf_dir):
        """Every query's own vector ranks first, and the int8 top-10
        closely tracks the exact float dot-product top-10 (quantization
        error must not reorder clearly-separated neighbors)."""
        from exosql_spark.io import Tables
        from exosql_spark.operators.quantize import int8_topk

        emb = Tables(spark, sf_dir).embeddings
        queries = emb.filter(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        got = int8_topk(emb, queries, k=10)
        top1 = {r.query_id: r.vec_id for r in got.filter(F.col("rank") == 1).collect()}
        assert top1 == {0: 0, 1: 1, 2: 2}
        # exact float dot top-10 for comparison
        exact = (
            emb.crossJoin(F.broadcast(queries.select(
                "query_id", F.col("embedding").alias("_qv"))))
            .select(
                "query_id", "vec_id",
                F.aggregate(
                    F.zip_with("embedding", "_qv",
                               lambda a, b: a.cast("double") * b.cast("double")),
                    F.lit(0.0), lambda acc, x: acc + x,
                ).alias("dot"),
            )
        )
        from pyspark.sql import Window as _W
        w = _W.partitionBy("query_id").orderBy(F.col("dot").desc(), F.col("vec_id"))
        exact_top = exact.withColumn("r", F.row_number().over(w)).filter("r <= 10")
        overlap = got.join(exact_top, ["query_id", "vec_id"]).count()
        assert overlap >= 24  # recall@10 ≥ 0.8 over 3 queries


class TestWeightedSampleTopk:
    def test_deterministic_and_seed_sensitive(self, spark, sf_dir):
        from exosql_spark.io import Tables
        from exosql_spark.operators.selection import weighted_sample_topk

        docs = Tables(spark, sf_dir).documents.select("doc_id", "n_chars")

        def draw(seed):
            return [
                r.doc_id
                for r in weighted_sample_topk(
                    docs, F.col("n_chars"), n=30, seed=seed
                ).collect()
            ]

        assert draw(1) == draw(1)  # reproducible
        assert set(draw(1)) != set(draw(2))  # new seed, new sample

    def test_selection_is_weight_biased(self, spark, sf_dir):
        """The point of A-Res: the sample's mean weight must exceed the
        corpus mean (long docs are proportionally likelier)."""
        from exosql_spark.io import Tables
        from exosql_spark.operators.selection import weighted_sample_topk

        docs = Tables(spark, sf_dir).documents.select("doc_id", "n_chars")
        picked = weighted_sample_topk(docs, F.col("n_chars"), n=50, seed=3)
        mean_sel = picked.agg(F.avg("n_chars")).collect()[0][0]
        mean_all = docs.filter(F.col("n_chars") > 0).agg(
            F.avg("n_chars")
        ).collect()[0][0]
        assert mean_sel > mean_all

    def test_nonpositive_weights_excluded(self, spark):
        from exosql_spark.operators.selection import weighted_sample_topk

        df = spark.createDataFrame(
            [(1, 5.0), (2, 0.0), (3, -1.0), (4, None)],
            "doc_id long, w double",
        )
        got = [
            r.doc_id
            for r in weighted_sample_topk(df, F.col("w"), n=10).collect()
        ]
        assert got == [1]


class TestMediaHeaderProbes:
    """The header probes must parse REAL format bytes — fixtures built
    with stdlib struct/wave, not copies of the parser's own math."""

    def test_png_dims_from_real_header(self, spark):
        import struct

        from exosql_spark.operators.multimodal import probe_media_metadata

        def png(w, h):
            sig = bytes.fromhex("89504E470D0A1A0A")
            ihdr = struct.pack(">I", 13) + b"IHDR" + struct.pack(">II", w, h)
            return sig + ihdr + b"\x08\x02\x00\x00\x00"

        rows = [(1, png(640, 480)), (2, png(32, 1080)), (3, b"not a png")]
        df = spark.createDataFrame(rows, "media_id long, payload binary")
        got = {r.media_id: r for r in probe_media_metadata(df).collect()}
        assert (got[1].png_width, got[1].png_height) == (640, 480)
        assert (got[2].png_width, got[2].png_height) == (32, 1080)
        assert got[1].detected == "png" and got[3].detected == "unknown"
        assert got[3].png_width is None

    def test_wav_meta_from_stdlib_wave_writer(self, spark):
        """Fixture written by Python's own wave module — if the offsets
        or endianness were wrong this cannot pass."""
        import io
        import wave

        from exosql_spark.operators.multimodal import probe_media_metadata

        def wav(channels, rate):
            buf = io.BytesIO()
            with wave.open(buf, "wb") as f:
                f.setnchannels(channels)
                f.setsampwidth(2)
                f.setframerate(rate)
                f.writeframes(b"\x00\x00" * channels * 4)
            return buf.getvalue()

        rows = [(1, wav(2, 44100)), (2, wav(1, 16000))]
        df = spark.createDataFrame(rows, "media_id long, payload binary")
        got = {r.media_id: r for r in probe_media_metadata(df).collect()}
        assert (got[1].wav_channels, got[1].wav_sample_rate) == (2, 44100)
        assert (got[2].wav_channels, got[2].wav_sample_rate) == (1, 16000)
        assert all(r.detected == "wav" for r in got.values())
        assert got[1].png_width is None

    def test_jpeg_sof_walk_from_struct_written_bytes(self, spark):
        """Variable-offset SOF discovery: fixtures are assembled with
        stdlib struct (big-endian u16 length fields per ITU T.81), with
        segment payloads of DIFFERENT lengths so the SOF offset varies
        per row — and one COM payload deliberately contains the bytes
        FF C0, which a locate()-style scan would false-positive on but
        the marker walk must skip."""
        import struct

        import pyspark.sql.functions as F

        from exosql_spark.operators.multimodal import parse_jpeg_sof

        def seg(marker, payload):
            return marker + struct.pack(">H", len(payload) + 2) + payload

        def sof(w, h, kind=b"\xff\xc0"):
            body = struct.pack(">BHHB", 8, h, w, 3) + bytes.fromhex(
                "011100021101031101"
            )
            return seg(kind, body)

        trap = seg(b"\xff\xfe", b"\x00\xff\xc0\x00\x10\x08")  # FFC0 inside a COM
        rows = [
            (1, b"\xff\xd8" + sof(640, 480)),  # SOF is the 1st marker: offset 2
            (2, b"\xff\xd8" + seg(b"\xff\xe0", b"JFIF\x00" * 3) + sof(32, 1080)),
            (3, b"\xff\xd8" + trap + sof(100, 200, kind=b"\xff\xc2")),
            (4, b"\xff\xd8" + seg(b"\xff\xfe", b"x" * 9) * 9 + sof(5, 6)),  # too deep
            (5, b"not a jpeg"),
            (6, b"\xff\xd8" + seg(b"\xff\xfe", b"x" * 50)[:20]),  # truncated
        ]
        df = spark.createDataFrame(rows, "media_id long, payload binary")
        w, h, off, is_jpeg = parse_jpeg_sof(F.col("payload"))
        got = {
            r.media_id: r
            for r in df.select(
                "media_id",
                w.alias("w"),
                h.alias("h"),
                off.alias("off"),
                is_jpeg.alias("is_jpeg"),
            ).collect()
        }
        assert (got[1].w, got[1].h, got[1].off) == (640, 480, 2)
        # APP0 payload is 15 bytes -> seg is 2+2+15=19 -> SOF at 2+19=21
        assert (got[2].w, got[2].h, got[2].off) == (32, 1080, 21)
        # the trap COM is 2+2+6=10 bytes; SOF2 found at 12, not at the
        # embedded FFC0 (byte offset 4) a substring scan would report
        assert (got[3].w, got[3].h, got[3].off) == (100, 200, 12)
        assert got[4].w is None and got[4].is_jpeg == 1  # deeper than 8 markers
        assert got[5].w is None and got[5].is_jpeg == 0
        assert got[6].w is None and got[6].is_jpeg == 1  # truncated: NULL, no wrong parse

    def test_wav_chunk_walk_noncanonical_order(self, spark):
        """The chunk walk must find ``fmt `` wherever it sits: after a
        LIST and an ODD-sized JUNK chunk (RIFF pad-to-even — a walk
        without padding desyncs here), and still parse canonical files
        written by Python's own wave module."""
        import io
        import struct
        import wave

        import pyspark.sql.functions as F

        from exosql_spark.operators.multimodal import parse_wav_chunks

        def chunk(cid, payload):
            pad = b"\x00" if len(payload) % 2 else b""
            return cid + struct.pack("<I", len(payload)) + payload + pad

        def fmt(ch, rate):
            return chunk(
                b"fmt ", struct.pack("<HHIIHH", 1, ch, rate, rate * ch * 2, ch * 2, 16)
            )

        def wav(*chunks):
            body = b"WAVE" + b"".join(chunks)
            return b"RIFF" + struct.pack("<I", len(body)) + body

        buf = io.BytesIO()
        with wave.open(buf, "wb") as f:
            f.setnchannels(2)
            f.setsampwidth(2)
            f.setframerate(44100)
            f.writeframes(b"\x00\x00" * 8)
        rows = [
            (1, buf.getvalue()),  # canonical, stdlib-written: fmt at byte 12
            (2, wav(chunk(b"LIST", b"INFOabcd"), fmt(1, 16000), chunk(b"data", b""))),
            # odd-sized JUNK (7 bytes -> padded to 8) before fmt
            (3, wav(chunk(b"JUNK", b"x" * 7), fmt(8, 8000), chunk(b"data", b""))),
            (4, b"RIFF\x10\x00\x00\x00AVI LIST"),  # RIFF but not WAVE
            (5, wav(chunk(b"JUNK", b"x" * 100))[:30]),  # truncated, no fmt
        ]
        df = spark.createDataFrame(rows, "media_id long, payload binary")
        ch, rate, off, is_wav = parse_wav_chunks(F.col("payload"))
        got = {
            r.media_id: r
            for r in df.select(
                "media_id",
                ch.alias("ch"),
                rate.alias("rate"),
                off.alias("off"),
                is_wav.alias("is_wav"),
            ).collect()
        }
        assert (got[1].ch, got[1].rate, got[1].off) == (2, 44100, 12)
        # LIST payload 8 -> chunk 16 bytes -> fmt at 12+16=28
        assert (got[2].ch, got[2].rate, got[2].off) == (1, 16000, 28)
        # JUNK payload 7 padded to 8 -> chunk 16 bytes -> fmt at 28
        assert (got[3].ch, got[3].rate, got[3].off) == (8, 8000, 28)
        assert got[4].ch is None and got[4].is_wav == 0
        assert got[5].ch is None and got[5].is_wav == 1


class TestMediaHeaderProbesHexVariants:
    """The eval-once ``*_hex`` struct parsers must agree FIELD FOR FIELD
    with the tuple parsers on every adversarial payload the tuple tests
    use — traps, truncations, escapes, non-format bytes included.  The
    hex variants receive ``hex(payload)`` so both sides parse the same
    bytes."""

    @staticmethod
    def _agree(spark, rows, tuple_cols, hex_struct, fields):
        import pyspark.sql.functions as F

        df = spark.createDataFrame(
            [(i, bytearray(p)) for i, p in enumerate(rows)],
            "media_id long, payload binary",
        )
        t = df.select(
            "media_id",
            *[c.alias(f"t_{n}") for n, c in zip(fields, tuple_cols)],
        )
        h = df.select("media_id", hex_struct.alias("p")).select(
            "media_id", *[F.col(f"p.{n}").alias(f"h_{n}") for n in fields]
        )
        got_t = {r.media_id: r for r in t.collect()}
        got_h = {r.media_id: r for r in h.collect()}
        for mid in got_t:
            for n in fields:
                tv, hv = got_t[mid][f"t_{n}"], got_h[mid][f"h_{n}"]
                assert tv == hv, f"row {mid} field {n}: tuple={tv} hex={hv}"

    def test_png_hex_matches_tuple(self, spark):
        import struct

        import pyspark.sql.functions as F

        from exosql_spark.operators.multimodal import (
            parse_png_dims,
            parse_png_dims_hex,
        )

        def png(w, h):
            sig = bytes.fromhex("89504E470D0A1A0A")
            ihdr = struct.pack(">I", 13) + b"IHDR" + struct.pack(">II", w, h)
            return sig + ihdr + b"\x08\x02\x00\x00\x00"

        rows = [png(640, 480), png(32, 1080), b"not a png", b"", b"\x89PNG"]
        w, ht, is_png = parse_png_dims(F.col("payload"))
        self._agree(
            spark,
            rows,
            [w, ht, is_png],
            parse_png_dims_hex("hex(payload)"),
            ["w", "ht", "is_png"],
        )

    def test_wav_hex_matches_tuple(self, spark):
        import io
        import struct
        import wave

        import pyspark.sql.functions as F

        from exosql_spark.operators.multimodal import (
            parse_wav_chunks,
            parse_wav_chunks_hex,
        )

        def chunk(cid, payload):
            pad = b"\x00" if len(payload) % 2 else b""
            return cid + struct.pack("<I", len(payload)) + payload + pad

        def fmt(ch, rate):
            return chunk(
                b"fmt ",
                struct.pack("<HHIIHH", 1, ch, rate, rate * ch * 2, ch * 2, 16),
            )

        def wav(*chunks):
            body = b"WAVE" + b"".join(chunks)
            return b"RIFF" + struct.pack("<I", len(body)) + body

        buf = io.BytesIO()
        with wave.open(buf, "wb") as f:
            f.setnchannels(2)
            f.setsampwidth(2)
            f.setframerate(44100)
            f.writeframes(b"\x00\x00" * 8)
        rows = [
            buf.getvalue(),
            wav(chunk(b"LIST", b"INFOabcd"), fmt(1, 16000), chunk(b"data", b"")),
            wav(chunk(b"JUNK", b"x" * 7), fmt(8, 8000), chunk(b"data", b"")),
            b"RIFF\x10\x00\x00\x00AVI LIST",
            wav(chunk(b"JUNK", b"x" * 100))[:30],
            b"not riff at all",
            # valid magic, garbage u32 size near u32-max: the walk must
            # clamp, not overflow the ANSI INT cast
            b"RIFF\x64\x00\x00\x00WAVE" + b"LIST\xf0\xff\xff\xffpayload",
        ]
        ch, rate, off, is_wav = parse_wav_chunks(F.col("payload"))
        self._agree(
            spark,
            rows,
            [ch, rate, off, is_wav],
            parse_wav_chunks_hex("hex(payload)"),
            ["ch", "rate", "fmt_off", "is_wav"],
        )

    def test_jpeg_hex_matches_tuple(self, spark):
        import struct

        import pyspark.sql.functions as F

        from exosql_spark.operators.multimodal import (
            parse_jpeg_sof,
            parse_jpeg_sof_hex,
        )

        def seg(marker, payload):
            return marker + struct.pack(">H", len(payload) + 2) + payload

        def sof(w, h, kind=b"\xff\xc0"):
            body = struct.pack(">BHHB", 8, h, w, 3) + bytes.fromhex(
                "011100021101031101"
            )
            return seg(kind, body)

        trap = seg(b"\xff\xfe", b"\x00\xff\xc0\x00\x10\x08")
        rows = [
            b"\xff\xd8" + sof(640, 480),
            b"\xff\xd8" + seg(b"\xff\xe0", b"JFIF\x00" * 3) + sof(32, 1080),
            b"\xff\xd8" + trap + sof(100, 200, kind=b"\xff\xc2"),
            b"\xff\xd8" + seg(b"\xff\xfe", b"x" * 9) * 9 + sof(5, 6),
            b"not a jpeg",
            b"\xff\xd8" + seg(b"\xff\xfe", b"x" * 50)[:20],
        ]
        w, h, off, is_jpeg = parse_jpeg_sof(F.col("payload"))
        self._agree(
            spark,
            rows,
            [w, h, off, is_jpeg],
            parse_jpeg_sof_hex("hex(payload)"),
            ["w", "ht", "sof_off", "is_jpeg"],
        )

    def test_mp4_hex_matches_tuple(self, spark):
        import struct

        import pyspark.sql.functions as F

        from exosql_spark.operators.multimodal import (
            parse_mp4_mvhd,
            parse_mp4_mvhd_hex,
        )

        def box(typ, payload):
            return struct.pack(">I", 8 + len(payload)) + typ + payload

        def mp4(pre_pads=(5, 3), udta_pad=4, timescale=600, duration=1800,
                version=0):
            mvhd_payload = (
                bytes([version]) + b"\x00\x00\x00"
                + struct.pack(">I", 1111)
                + struct.pack(">I", 2222)
                + struct.pack(">I", timescale)
                + struct.pack(">I", duration)
            )
            moov_children = (
                box(b"udta", b"U" * udta_pad) + box(b"mvhd", mvhd_payload)
            )
            data = box(b"ftyp", b"isom\x00\x00\x00\x00")
            for i, pad in enumerate(pre_pads):
                data += box(b"free" if i % 2 == 0 else b"skip", b"A" * pad)
            data += box(b"moov", moov_children)
            return data

        escape = box(b"ftyp", b"isom\x00\x00\x00\x00") + struct.pack(
            ">I", 0
        ) + b"mdatXXXXXXXX"
        # valid ftyp, then a box whose u32 size is near u32-max: the walk
        # must clamp past-end, not overflow the ANSI INT cast
        huge = box(b"ftyp", b"isom\x00\x00\x00\x00") + struct.pack(
            ">I", 0xFFFFFFF0
        ) + b"mdatXXXXXXXX"
        rows = [
            mp4(),
            mp4(pre_pads=(), udta_pad=0, timescale=1000, duration=30000),
            mp4(version=1),  # v1 mvhd: NULL timescale/duration, offsets valid
            b"\x89PNG\r\n\x1a\n" + b"\x00" * 32,  # not mp4
            escape,  # size==0 to-EOF escape aborts the walk
            mp4(pre_pads=(1, 2, 3, 4, 5, 6, 7, 8)),  # moov deeper than max_boxes
            huge,
        ]
        ts, dur, mvhd_off, moov_off, ok = parse_mp4_mvhd(F.col("payload"))
        self._agree(
            spark,
            rows,
            [ts, dur, mvhd_off, moov_off, ok],
            parse_mp4_mvhd_hex("hex(payload)"),
            ["timescale", "duration", "mvhd_off", "moov_off", "is_mp4"],
        )


class TestLinalg:
    """Distributed covariance/PCA vs numpy ground truth."""

    def test_covariance_matches_numpy(self, spark):
        import numpy as np

        from exosql_spark.operators import linalg

        rng = np.random.default_rng(7)
        x = rng.normal(size=(257, 5))  # not a multiple of any batch size
        df = spark.createDataFrame(
            [(i, row.tolist()) for i, row in enumerate(x)], "id long, x array<double>"
        ).repartition(4)
        n, mean, cov = linalg.covariance_matrix(df, "x", d=5)
        assert n == 257
        assert np.allclose(mean, x.mean(axis=0), atol=1e-12)
        assert np.allclose(cov, np.cov(x, rowvar=False, bias=True), atol=1e-10)

    def test_pca_projection_recovers_planted_subspace(self, spark):
        import numpy as np

        from exosql_spark.operators import linalg

        rng = np.random.default_rng(11)
        u = np.array([1.0, -1.0, 1.0, -1.0]) / 2
        v = np.array([1.0, 1.0, 1.0, 1.0]) / 2
        ab = rng.integers(-5, 6, size=(100, 2)).astype(float)
        x = ab[:, :1] * u + ab[:, 1:] * v
        df = spark.createDataFrame(
            [(i, row.tolist()) for i, row in enumerate(x)], "id long, x array<double>"
        ).repartition(3)
        vals, comps, mean = linalg.pca_topk(df, "x", d=4, k=2)
        # top-2 eigenspace == span{u, v}: projector equality, which is
        # invariant to sign/rotation ambiguity inside the subspace
        p_hat = comps.T @ comps
        basis = np.stack([u, v]).T
        p_true = basis @ np.linalg.inv(basis.T @ basis) @ basis.T
        assert np.allclose(p_hat, p_true, atol=1e-9)
        assert vals[0] >= vals[1] > 1e-6
        got = linalg.project(df, "x", comps, mean).select("id", "proj", "resid_sq").collect()
        cent = x - x.mean(axis=0)
        for r in got:
            assert r.resid_sq < 1e-12
            assert abs(sum(p * p for p in r.proj) - float(cent[r.id] @ cent[r.id])) < 1e-9

    def test_empty_input_raises(self, spark):
        import pytest as _pt

        from exosql_spark.operators import linalg

        df = spark.createDataFrame([], "id long, x array<double>")
        with _pt.raises(ValueError, match="empty"):
            linalg.covariance_matrix(df, "x", d=4)


class TestCountMinSketch:
    def test_inner_product_upper_bounds_join_size(self, spark):
        """CM guarantee: estimate >= true join size, with equality when
        no two keys collide in some depth row."""
        from pyspark.sql import functions as F

        from exosql_spark.operators import sketch

        a = spark.range(300).select((F.col("id") % 30).alias("k"))   # 10 each
        b = spark.range(120).select((F.col("id") % 40).alias("k"))   # 3 each
        exact = 30 * 10 * 3  # keys 0..29 shared
        ca = sketch.cms_counts(a, F.col("k"), depth=4, width=512, salt="t")
        cb = sketch.cms_counts(b, F.col("k"), depth=4, width=512, salt="t")
        est = sketch.cms_join_size_estimate(ca, cb).collect()[0].est
        assert est >= exact
        assert est <= exact * 1.2  # 40 keys in 512 buckets: low collision load

    def test_sketch_bounded_and_mergeable(self, spark):
        """Output is bounded by depth*width regardless of input size,
        and sketches merge by entrywise sum (partition-, day-, or
        corpus-level pre-aggregation)."""
        from pyspark.sql import functions as F

        from exosql_spark.operators import sketch

        df = spark.range(5000).select((F.col("id") % 1000).alias("k"))
        c = sketch.cms_counts(df, F.col("k"), depth=4, width=64, salt="m")
        rows = c.collect()
        assert len(rows) <= 4 * 64
        assert sum(r.n for r in rows) == 4 * 5000  # every row lands in each depth
        # merge two halves == sketch of the whole
        h1 = sketch.cms_counts(df.filter("id < 2500"), F.col("k"), 4, 64, salt="m")
        h2 = sketch.cms_counts(df.filter("id >= 2500"), F.col("k"), 4, 64, salt="m")
        merged = (
            h1.union(h2).groupBy("d", "bucket").agg(F.sum("n").alias("n"))
        )
        got = {(r.d, r.bucket): r.n for r in merged.collect()}
        want = {(r.d, r.bucket): r.n for r in rows}
        assert got == want



    def test_disjoint_and_empty_sides_estimate_zero(self, spark):
        """A depth with no shared bucket has inner product 0, which
        must win the min (disjoint key sets -> estimate 0, not the
        minimum of whatever depths happened to collide); an entirely
        empty side estimates 0 too."""
        from pyspark.sql import functions as F

        from exosql_spark.operators import sketch

        a = spark.range(5).select(F.col("id").alias("k"))           # keys 0..4
        b = spark.range(5).select((F.col("id") + 1000000).alias("k"))
        ca = sketch.cms_counts(a, F.col("k"), depth=4, width=1 << 18, salt="z")
        cb = sketch.cms_counts(b, F.col("k"), depth=4, width=1 << 18, salt="z")
        # 10 keys in 2^18 buckets: collisions are absent by construction
        assert sketch.cms_join_size_estimate(ca, cb).collect()[0].est == 0
        empty = sketch.cms_counts(a.filter("k < 0"), F.col("k"), 4, 64, salt="z")
        assert sketch.cms_join_size_estimate(ca, empty).collect()[0].est == 0

    def test_mismatched_build_params_error_not_garbage(self, spark):
        """ADVICE r12: two sketches of different depth (or, via the
        opt-in width tripwire, different width) must ERROR, not join
        into a meaningless estimate."""
        import pytest as _pt
        from pyspark.sql import functions as F
        from pyspark.sql.utils import AnalysisException

        from exosql_spark.operators import sketch

        a = spark.range(100).select((F.col("id") % 10).alias("k"))
        c4 = sketch.cms_counts(a, F.col("k"), depth=4, width=64, salt="g")
        c8 = sketch.cms_counts(a, F.col("k"), depth=8, width=64, salt="g")
        with _pt.raises(Exception, match="depth sets differ"):
            sketch.cms_join_size_estimate(c4, c8).collect()
        wide = sketch.cms_counts(a, F.col("k"), depth=4, width=4096, salt="g")
        # 10 keys in 4096 buckets: some bucket >= 64 with near-certainty
        with _pt.raises(Exception, match="bucket >= width"):
            sketch.cms_join_size_estimate(c4, wide, width=64).collect()
        # matched builds still estimate under both guards
        c4b = sketch.cms_counts(a, F.col("k"), depth=4, width=64, salt="g")
        est = sketch.cms_join_size_estimate(c4, c4b, width=64).collect()[0].est
        assert est >= 100 * 10  # self-join lower bound

    def test_stream_and_batch_width_defaults_agree(self):
        """ADVICE r12: sketch_ingest_stream defaulted width=1024 while
        cms_counts defaulted 256 — default-built stream and batch
        sketches could never be compared.  Pin the signatures equal."""
        import inspect

        from exosql_spark.operators.sketch import cms_counts
        from exosql_spark.streaming.index_ingest import sketch_ingest_stream

        bat = inspect.signature(cms_counts).parameters
        stm = inspect.signature(sketch_ingest_stream).parameters
        assert bat["width"].default == stm["width"].default
        assert bat["depth"].default == stm["depth"].default


class TestBpe:
    def test_merge_pair_left_to_right_semantics(self, spark):
        from pyspark.sql import functions as F

        from exosql_spark.operators.bpe import merge_pair

        rows = [
            (1, ["a", "b", "a", "b"]),   # -> [ab, ab]
            (2, ["a", "a", "b"]),        # -> [a, ab]  (non-overlap, L->R)
            (3, ["b", "a"]),             # -> [b, a]   (order matters)
            (4, ["a"]),                  # -> [a]
            (5, []),                     # -> []
        ]
        df = spark.createDataFrame(rows, "id long, t array<string>")
        got = {
            r.id: r.m
            for r in df.select(
                "id", merge_pair(F.col("t"), "a", "b").alias("m")
            ).collect()
        }
        assert got == {
            1: ["ab", "ab"],
            2: ["a", "ab"],
            3: ["b", "a"],
            4: ["a"],
            5: [],
        }
        # self-pair: [a,a,a] merges the FIRST two only
        df2 = spark.createDataFrame([(1, ["a", "a", "a"])], "id long, t array<string>")
        assert df2.select(
            merge_pair(F.col("t"), "a", "a").alias("m")
        ).collect()[0].m == ["aa", "a"]

    def test_learn_bpe_matches_serial_reference(self, spark):
        """Cross-check against a straightforward serial BPE on the
        same word-frequency table (independent implementation — dict
        loops, no Spark)."""
        from exosql_spark.operators.bpe import learn_bpe

        words = {("l", "o", "w"): 5, ("l", "o", "w", "e", "r"): 2,
                 ("n", "e", "w", "e", "s", "t"): 6, ("w", "i", "d", "e", "s", "t"): 3}

        def serial(words, k):
            words = {tuple(w): f for w, f in words.items()}
            merges = []
            for _ in range(k):
                counts = {}
                for w, f in words.items():
                    for i in range(len(w) - 1):
                        counts[(w[i], w[i + 1])] = counts.get((w[i], w[i + 1]), 0) + f
                if not counts:
                    break
                (l, r), n = min(
                    counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
                )
                merges.append((l, r, n))
                new = {}
                for w, f in words.items():
                    out, i = [], 0
                    while i < len(w):
                        if i + 1 < len(w) and w[i] == l and w[i + 1] == r:
                            out.append(w[i] + w[i + 1]); i += 2
                        else:
                            out.append(w[i]); i += 1
                    new[tuple(out)] = new.get(tuple(out), 0) + f
                words = new
            return merges, words

        want_merges, want_words = serial(words, 6)
        df = spark.createDataFrame(
            [(list(w), f) for w, f in words.items()], "tokens array<string>, freq long"
        )
        got_merges, got_df = learn_bpe(df, n_merges=6)
        assert got_merges == want_merges
        got_words = {
            tuple(r.tokens): r.freq
            for r in got_df.groupBy("tokens").agg(
                __import__("pyspark.sql.functions", fromlist=["sum"]).sum("freq").alias("freq")
            ).collect()
        }
        assert got_words == want_words

    def test_probe_detects_jpeg_with_dims(self, spark):
        import struct

        from exosql_spark.operators.multimodal import probe_media_metadata

        def seg(marker, payload):
            return marker + struct.pack(">H", len(payload) + 2) + payload

        jpeg = (
            b"\xff\xd8"
            + seg(b"\xff\xe0", b"JFIF\x00" * 2)
            + seg(
                b"\xff\xc0",
                struct.pack(">BHHB", 8, 240, 320, 3)
                + bytes.fromhex("011100021101031101"),
            )
        )
        df = spark.createDataFrame(
            [(1, jpeg), (2, b"not media")], "media_id long, payload binary"
        )
        got = {r.media_id: r for r in probe_media_metadata(df).collect()}
        assert got[1].detected == "jpeg"
        assert (got[1].jpeg_width, got[1].jpeg_height) == (320, 240)
        assert got[1].png_width is None
        assert got[2].detected == "unknown" and got[2].jpeg_width is None


    def test_learn_bpe_tolerates_empty_token_arrays(self, spark):
        from exosql_spark.operators.bpe import learn_bpe

        df = spark.createDataFrame(
            [([], 5), (["a", "b"], 3), (["a"], 2)],
            "tokens array<string>, freq long",
        )
        merges, out = learn_bpe(df, n_merges=2)
        assert merges[0][:2] == ("a", "b")
        got = sorted((tuple(r.tokens), r.freq) for r in out.collect())
        assert ((), 5) in got and (("ab",), 3) in got

    def test_word_symbols_and_apply_bpe_encode(self, spark):
        """Encoding replays learned merges in order: 'qpef' must stay
        [q, p, ef] (no (q,p) merge learned), 'pqpab' must rewrite
        left-to-right non-overlapping; empty words yield no symbols;
        the optional </w> marker rides as its own symbol."""
        from pyspark.sql import functions as F

        from exosql_spark.operators.bpe import apply_bpe, word_symbols

        merges = [("a", "b"), ("c", "d"), ("p", "q"), ("e", "f")]
        df = spark.createDataFrame(
            [("abcdz",), ("pqpab",), ("qpef",), ("",)], "w string"
        )
        got = {
            r.w: r.e
            for r in df.select(
                "w", apply_bpe(word_symbols(F.col("w")), merges).alias("e")
            ).collect()
        }
        assert got == {
            "abcdz": ["ab", "cd", "z"],
            "pqpab": ["pq", "p", "ab"],
            "qpef": ["q", "p", "ef"],
            "": [],
        }
        out = spark.createDataFrame([("zz",)], "w string").select(
            apply_bpe(word_symbols(F.col("w"), eow="</w>"), [("z", "</w>")]).alias("e")
        ).collect()[0].e
        assert out == ["z", "z</w>"]

    def test_apply_bpe_accepts_learn_bpe_output(self, spark):
        """The (l, r, count) triples learn_bpe returns feed apply_bpe
        directly — train→encode round trip reproduces the trainer's
        own rewrite of the training words."""
        from pyspark.sql import functions as F

        from exosql_spark.operators.bpe import apply_bpe, learn_bpe, word_symbols

        words = spark.createDataFrame(
            [(["l", "o", "w"], 5), (["l", "o", "w", "e", "r"], 2)],
            "tokens array<string>, freq long",
        )
        merges, rewritten = learn_bpe(words, n_merges=2)
        enc = spark.createDataFrame([("low",), ("lower",)], "w string").select(
            "w", apply_bpe(word_symbols(F.col("w")), merges).alias("e")
        )
        got = {r.w: r.e for r in enc.collect()}
        want = {"".join(r.tokens): r.tokens for r in rewritten.collect()}
        assert got == {"low": want["low"], "lower": want["lower"]}


class TestPageRank:
    def test_ring_is_uniform_exactly(self, spark):
        """Out-degree-1 cycle: uniform 1/N is the exact fixed point of
        the implementation's own arithmetic from the uniform start —
        every iteration returns (1-d)/N + d*(1/N) with single-term
        contribution sums, so the result is bit-exact, not approx."""
        from exosql_spark.operators.graph import pagerank

        ring = spark.createDataFrame(
            [(i, (i + 1) % 5) for i in range(5)], "src long, dst long"
        )
        ranks = {r.id: r.rank for r in pagerank(ring, n_iter=3).collect()}
        assert ranks == {i: (1 - 0.85) / 5 + 0.85 * (1 / 5) for i in range(5)}
        assert all(v == 0.2 for v in ranks.values())

    def test_star_matches_scalar_recurrence_bitwise(self, spark):
        from exosql_spark.operators.graph import pagerank

        edges = [(i, 0) for i in (1, 2, 3)] + [(0, i) for i in (1, 2, 3)]
        star = spark.createDataFrame(edges, "src long, dst long")
        got = {r.id: r.rank for r in pagerank(star, n_iter=4).collect()}
        rc = rl = 1 / 4
        for _ in range(4):
            rc, rl = (
                (1 - 0.85) / 4 + 0.85 * (3 * rl),
                (1 - 0.85) / 4 + 0.85 * (rc / 3),
            )
        assert got[0] == rc and got[1] == got[2] == got[3] == rl

    def test_dangling_mass_conserved(self, spark):
        """A sink vertex redistributes its rank uniformly: total mass
        stays 1 (up to float sums) instead of leaking to 0."""
        from exosql_spark.operators.graph import pagerank

        dang = spark.createDataFrame([(0, 1)], "src long, dst long")
        ranks = {r.id: r.rank for r in pagerank(dang, n_iter=8).collect()}
        assert abs(sum(ranks.values()) - 1.0) < 1e-12
        assert ranks[1] > ranks[0] > 0  # the sink accumulates

    def test_isolated_vertices_via_vertices_param(self, spark):
        from exosql_spark.operators.graph import pagerank

        edges = spark.createDataFrame([(0, 1), (1, 0)], "src long, dst long")
        verts = spark.createDataFrame([(0,), (1,), (9,)], "id long")
        ranks = {
            r.id: r.rank
            for r in pagerank(edges, n_iter=2, vertices=verts).collect()
        }
        assert set(ranks) == {0, 1, 9}
        assert abs(sum(ranks.values()) - 1.0) < 1e-12
        assert ranks[9] < ranks[0]  # isolated node holds only teleport+share

    def test_zero_iterations_and_empty(self, spark):
        from exosql_spark.operators.graph import pagerank

        e = spark.createDataFrame([(0, 1)], "src long, dst long")
        got = {r.id: r.rank for r in pagerank(e, n_iter=0).collect()}
        assert got == {0: 0.5, 1: 0.5}
        empty = spark.createDataFrame([], "src long, dst long")
        assert pagerank(empty, n_iter=3).count() == 0


class TestSnapshotDiff:
    def test_four_statuses(self, spark):
        from exosql_spark.operators.incremental import snapshot_diff

        old = spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], "doc_id long, text string"
        )
        new = spark.createDataFrame(
            [(1, "a"), (2, "B2"), (4, "d")], "doc_id long, text string"
        )
        got = {r.doc_id: r.status for r in snapshot_diff(old, new).collect()}
        assert got == {1: "unchanged", 2: "changed", 3: "removed", 4: "added"}

    def test_custom_fingerprint_column(self, spark):
        """A caller-supplied fingerprint (e.g. a precomputed hash or a
        normalized-text digest) replaces the default md5(text)."""
        from pyspark.sql import functions as F

        from exosql_spark.operators.incremental import snapshot_diff

        old = spark.createDataFrame([(1, "A"), (2, "x")], "doc_id long, text string")
        new = spark.createDataFrame([(1, "a"), (2, "y")], "doc_id long, text string")
        got = {
            r.doc_id: r.status
            for r in snapshot_diff(
                old, new, fingerprint=F.md5(F.lower(F.col("text")))
            ).collect()
        }
        assert got == {1: "unchanged", 2: "changed"}  # case-folded digest

    def test_null_text_classifies_by_presence(self, spark):
        """ADVICE r13: presence is carried by marker columns, not
        fingerprint NULL-ness — md5(NULL) is NULL, so a NULL-text doc
        present on both sides must be 'unchanged' (null-safe digest
        compare), only-old must be 'removed', and a NULL↔non-NULL
        flip is 'changed'."""
        from exosql_spark.operators.incremental import snapshot_diff

        old = spark.createDataFrame(
            [(1, None), (2, None), (3, None), (4, "d")],
            "doc_id long, text string",
        )
        new = spark.createDataFrame(
            [(1, None), (3, "now set"), (4, None), (5, None)],
            "doc_id long, text string",
        )
        got = {r.doc_id: r.status for r in snapshot_diff(old, new).collect()}
        assert got == {
            1: "unchanged",
            2: "removed",
            3: "changed",
            4: "changed",
            5: "added",
        }

    def test_digest_only_shuffle(self, spark):
        """The join input projects (id, 16-byte digest) — document
        bodies must not survive into the join columns."""
        from exosql_spark.operators.incremental import snapshot_diff

        old = spark.createDataFrame([(1, "a" * 10000)], "doc_id long, text string")
        new = spark.createDataFrame([(1, "a" * 10000)], "doc_id long, text string")
        df = snapshot_diff(old, new)
        assert set(df.columns) == {"doc_id", "status"}
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "md5" in plan and "SortMergeJoin" in plan or "Join" in plan


class TestBottomkQuantiles:
    def test_mergeable_exactly(self, spark):
        """bottom-k of a union == bottom-k of the parts' bottom-ks —
        the mergeability that makes per-partition/per-day sketches
        combinable without revisiting data, asserted EXACTLY."""
        from pyspark.sql import functions as F

        from exosql_spark.operators import sketch

        df = spark.range(10000).select(
            F.col("id").cast("string").alias("rid"), (F.col("id") % 977).alias("x")
        )
        whole = sketch.bottomk_sample(df, F.col("rid"), k=64, salt="m")
        h1 = sketch.bottomk_sample(df.filter("id < 5000"), F.col("rid"), 64, "m")
        h2 = sketch.bottomk_sample(df.filter("id >= 5000"), F.col("rid"), 64, "m")
        merged = h1.unionByName(h2).orderBy(F.col("_hk").asc()).limit(64)
        a = [(r._hk, r.x) for r in whole.orderBy("_hk").collect()]
        b = [(r._hk, r.x) for r in merged.orderBy("_hk").collect()]
        assert a == b and len(a) == 64

    def test_quantile_estimates_converge(self, spark):
        """On uniform data the sampled median lands near the true one
        (k=512 → standard error ~ sqrt(0.25/512) ≈ 2.2 percentiles)."""
        from pyspark.sql import functions as F

        from exosql_spark.operators import sketch

        df = spark.range(100000).select(
            F.col("id").cast("string").alias("rid"), F.col("id").alias("x")
        )
        s = sketch.bottomk_sample(df, F.col("rid"), k=512, salt="c")
        est = {
            r.q: r.est
            for r in sketch.quantiles_from_sample(s, [0.5, 0.9]).collect()
        }
        assert abs(est[0.5] - 50000) < 10000
        assert abs(est[0.9] - 90000) < 6000

    def test_small_input_and_null_keys(self, spark):
        from pyspark.sql import functions as F

        from exosql_spark.operators import sketch

        df = spark.createDataFrame(
            [("a", 1.0), (None, 2.0), ("b", 3.0)], "rid string, x double"
        )
        s = sketch.bottomk_sample(df, F.col("rid"), k=10, salt="z")
        assert s.count() == 2  # NULL key excluded, k larger than input ok
        est = {r.q: r.est for r in sketch.quantiles_from_sample(s, [0.5, 1.0]).collect()}
        assert est[1.0] == 3.0  # max of sample
        assert est[0.5] in (1.0, 3.0)


class TestMp4BoxWalk:
    @staticmethod
    def _box(typ: bytes, payload: bytes) -> bytes:
        import struct

        return struct.pack(">I", 8 + len(payload)) + typ + payload

    def _mp4(self, pre_pads=(5, 3), udta_pad=4, timescale=600, duration=1800):
        import struct

        mvhd_payload = (
            b"\x00\x00\x00\x00"            # version+flags
            + struct.pack(">I", 1111)       # creation
            + struct.pack(">I", 2222)       # modification
            + struct.pack(">I", timescale)
            + struct.pack(">I", duration)
        )
        moov_children = (
            self._box(b"udta", b"U" * udta_pad) + self._box(b"mvhd", mvhd_payload)
        )
        data = self._box(b"ftyp", b"isom\x00\x00\x00\x00")
        for i, pad in enumerate(pre_pads):
            data += self._box(b"free" if i % 2 == 0 else b"skip", b"A" * pad)
        data += self._box(b"moov", moov_children)
        return data

    def test_two_level_walk_finds_mvhd(self, spark):
        from pyspark.sql import functions as F

        from exosql_spark.operators.multimodal import parse_mp4_mvhd

        raw = self._mp4(pre_pads=(5, 3), udta_pad=4, timescale=600, duration=1800)
        df = spark.createDataFrame([(bytearray(raw),)], "payload binary")
        ts, dur, mvhd_off, moov_off, ok = parse_mp4_mvhd(F.col("payload"))
        r = df.select(
            ts.alias("ts"), dur.alias("dur"), mvhd_off.alias("mo"),
            moov_off.alias("vo"), ok.alias("ok"),
        ).collect()[0]
        # offsets computed from construction: ftyp 16 + free 13 + skip 11
        assert (r.ts, r.dur, r.ok) == (600, 1800, 1)
        assert r.vo == 16 + 13 + 11
        assert r.mo == r.vo + 8 + 12  # past moov header + udta box

    def test_box_order_is_discovered_not_assumed(self, spark):
        """moov first (no free/skip) and mvhd first (no udta) must
        parse identically — the walk discovers positions."""
        from pyspark.sql import functions as F

        from exosql_spark.operators.multimodal import parse_mp4_mvhd

        raw = self._mp4(pre_pads=(), udta_pad=0, timescale=1000, duration=30000)
        df = spark.createDataFrame([(bytearray(raw),)], "payload binary")
        ts, dur, mvhd_off, moov_off, ok = parse_mp4_mvhd(F.col("payload"))
        r = df.select(ts.alias("ts"), dur.alias("dur"), moov_off.alias("vo")).collect()[0]
        assert (r.ts, r.dur, r.vo) == (1000, 30000, 16)

    def test_non_mp4_and_escape_sizes_yield_null(self, spark):
        import struct

        from pyspark.sql import functions as F

        from exosql_spark.operators.multimodal import parse_mp4_mvhd

        not_mp4 = b"\x89PNG\r\n\x1a\n" + b"\x00" * 32
        # valid ftyp but second box uses the size==0 to-EOF escape
        escape = self._box(b"ftyp", b"isom\x00\x00\x00\x00") + struct.pack(
            ">I", 0
        ) + b"mdatXXXXXXXX"
        df = spark.createDataFrame(
            [(bytearray(not_mp4),), (bytearray(escape),)], "payload binary"
        )
        ts, dur, mvhd_off, moov_off, ok = parse_mp4_mvhd(F.col("payload"))
        rows = df.select(ts.alias("ts"), ok.alias("ok")).collect()
        assert [r.ts for r in rows] == [None, None]
        assert [r.ok for r in rows] == [0, 1]  # escape IS mp4, just unparsable


def test_three_cc_implementations_agree(spark, sf_dir):
    """Min-label propagation, large-star/small-star, and the
    WITH RECURSIVE reachability entry must produce IDENTICAL
    (id, component) sets over the same chain construction — three
    algorithms, two of them this repo's loops, one the engine's
    recursion operator, cross-validating each other."""
    from exosql_spark.catalog import all_queries

    qs = all_queries()
    rows = {}
    # the min-label and star variants live in the consolidated
    # dedup_components_algos_planted entry (r15), tagged by `algo`
    both = qs["dedup_components_algos_planted"].fn(spark, sf_dir).collect()
    for algo in ("min_label", "star"):
        rows[algo] = sorted(
            (int(r.id), int(r.component)) for r in both if r.algo == algo
        )
    rows["recursive"] = sorted(
        (int(r.id), int(r.component))
        for r in qs["dedup_components_recursive_cte"].fn(spark, sf_dir).collect()
    )
    assert rows["min_label"] == rows["star"]
    assert rows["min_label"] == rows["recursive"]
    assert len(rows["min_label"]) > 0


def test_mp4_version1_mvhd_yields_null_not_wrong_parse(spark):
    """ADVICE r13: a version-1 mvhd has 64-bit creation/modification
    times, so the version-0 field offsets land inside the timestamps —
    reading them would return creation-time bytes as the timescale.
    The version byte must gate: NULL timescale/duration, while the
    mvhd/moov offsets and is_mp4 stay valid."""
    import struct

    from pyspark.sql import functions as F

    from exosql_spark.operators.multimodal import parse_mp4_mvhd

    box = TestMp4BoxWalk._box
    mvhd_v1 = (
        b"\x01\x00\x00\x00"          # version=1 + flags
        + struct.pack(">Q", 1111)     # creation (64-bit)
        + struct.pack(">Q", 2222)     # modification (64-bit)
        + struct.pack(">I", 600)      # timescale (@20 in v1)
        + struct.pack(">Q", 1800)     # duration (64-bit in v1)
    )
    raw = box(b"ftyp", b"isom\x00\x00\x00\x00") + box(b"moov", box(b"mvhd", mvhd_v1))
    df = spark.createDataFrame([(bytearray(raw),)], "payload binary")
    ts, dur, mvhd_off, moov_off, ok = parse_mp4_mvhd(F.col("payload"))
    r = df.select(
        ts.alias("ts"), dur.alias("dur"), mvhd_off.alias("mo"),
        moov_off.alias("vo"), ok.alias("ok"),
    ).collect()[0]
    assert (r.ts, r.dur) == (None, None)  # never 1111/2222-derived garbage
    assert r.ok == 1 and r.vo == 16 and r.mo == 24


def test_apply_bpe_differential_vs_python_reference(spark):
    """300 random words × a 4-merge cascade (including a merge
    consuming an earlier merge's output token) must match a plain
    Python left-to-right non-overlapping reference exactly —
    one Spark job, row-wise comparison."""
    import random

    from pyspark.sql import functions as F

    from exosql_spark.operators.bpe import apply_bpe, word_symbols

    merges = [("a", "b"), ("b", "c"), ("ab", "c"), ("c", "a")]

    def ref(word):
        toks = list(word)
        for left, right in merges:
            out, i = [], 0
            while i < len(toks):
                if i + 1 < len(toks) and toks[i] == left and toks[i + 1] == right:
                    out.append(left + right)
                    i += 2
                else:
                    out.append(toks[i])
                    i += 1
            toks = out
        return toks

    rng = random.Random(13)
    words = [
        "".join(rng.choice("abc") for _ in range(rng.randint(0, 12)))
        for _ in range(300)
    ]
    df = spark.createDataFrame([(i, w) for i, w in enumerate(words)], "i int, w string")
    got = {
        r.i: r.e
        for r in df.select(
            "i", apply_bpe(word_symbols(F.col("w")), merges).alias("e")
        ).collect()
    }
    for i, w in enumerate(words):
        assert got[i] == ref(w), (w, got[i], ref(w))

def test_pagerank_differential_vs_python_reference(spark):
    """Random 12-node multigraph with dangling nodes vs a plain
    Python implementation of the same synchronous iteration —
    agreement to 1e-9 (float sum order differs, values don't)."""
    import random
    from collections import defaultdict

    from exosql_spark.operators.graph import pagerank

    rng = random.Random(7)
    edges = [
        (rng.randint(0, 11), rng.randint(0, 11)) for _ in range(30)
    ]
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    n, d = len(nodes), 0.85
    deg = defaultdict(int)
    for s, _ in edges:
        deg[s] += 1
    ranks = {v: 1.0 / n for v in nodes}
    for _ in range(6):
        dm = sum(r for v, r in ranks.items() if deg[v] == 0)
        contrib = defaultdict(float)
        for s, t in edges:
            contrib[t] += ranks[s] / deg[s]
        ranks = {
            v: (1 - d) / n + d * (contrib[v] + dm / n) for v in nodes
        }
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.id: r.rank for r in pagerank(df, n_iter=6).collect()}
    assert set(got) == set(ranks)
    for v in nodes:
        assert abs(got[v] - ranks[v]) < 1e-9, (v, got[v], ranks[v])


def test_graph_loop_conf_scope_and_sizing(spark):
    """r19 loop scope: the derived partition count follows the
    measured row bound (floor of a few tasks, ceiling at the session
    conf), the iteration runs under AQE-off + the derived count, and
    BOTH confs are restored afterwards — including when the loop body
    raises."""
    import pytest

    from exosql_spark.operators import graph

    default = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # tiny graph → floor; huge row bound → clamped at the ceiling
    assert graph._loop_partitions(spark, 201)[0] == max(1, min(4, default))
    big = default * graph._LOOP_ROWS_PER_TASK + 1
    assert graph._loop_partitions(spark, big) == (default, default)
    mid = 3 * graph._LOOP_ROWS_PER_TASK
    assert graph._loop_partitions(spark, mid)[0] == max(
        1, min(default, max(3, min(4, default)))
    )

    aqe_before = spark.conf.get("spark.sql.adaptive.enabled")
    with graph._loop_conf(spark, 2):
        assert spark.conf.get("spark.sql.adaptive.enabled") == "false"
        assert spark.conf.get("spark.sql.shuffle.partitions") == "2"
    assert spark.conf.get("spark.sql.adaptive.enabled") == aqe_before
    assert int(spark.conf.get("spark.sql.shuffle.partitions")) == default

    with pytest.raises(RuntimeError):
        with graph._loop_conf(spark, 2):
            raise RuntimeError("boom")
    assert spark.conf.get("spark.sql.adaptive.enabled") == aqe_before
    assert int(spark.conf.get("spark.sql.shuffle.partitions")) == default

    # an operator run leaves the session confs untouched end-to-end
    ring = spark.createDataFrame(
        [(i, (i + 1) % 4) for i in range(4)], "src long, dst long"
    )
    graph.pagerank(ring, n_iter=2).collect()
    graph.kcore(ring, max_iter=2).collect()
    assert spark.conf.get("spark.sql.adaptive.enabled") == aqe_before
    assert int(spark.conf.get("spark.sql.shuffle.partitions")) == default


def test_pagerank_tol_early_stop(spark):
    """A ring is at its fixed point from iteration 1 (uniform stays
    uniform exactly), so tol must stop the loop early and return the
    same ranks as the full run; tol=None preserves fixed-n semantics."""
    from exosql_spark.operators.graph import pagerank

    ring = spark.createDataFrame(
        [(i, (i + 1) % 4) for i in range(4)], "src long, dst long"
    )
    fixed = {r.id: r.rank for r in pagerank(ring, n_iter=9).collect()}
    early = {r.id: r.rank for r in pagerank(ring, n_iter=9, tol=1e-12).collect()}
    assert early == fixed == {i: 0.25 for i in range(4)}


def test_pagerank_weighted_out_strength_split(spark):
    """weight= splits a source's rank proportionally to edge weight
    (out-strength normalization): exact match to a Python reference,
    and the 3:1-weighted target outranks the 1:3 one; weight<=0 edges
    drop; unweighted == weight-of-ones."""
    from collections import defaultdict

    from exosql_spark.operators.graph import pagerank

    edges = [(0, 1, 3.0), (0, 2, 1.0), (1, 0, 1.0), (2, 0, 1.0), (2, 1, 0.0)]
    df = spark.createDataFrame(edges, "src long, dst long, w double")
    got = {r.id: r.rank for r in pagerank(df, n_iter=5, weight="w").collect()}

    live = [(s, t, w) for s, t, w in edges if w > 0]
    strength = defaultdict(float)
    for s, _, w in live:
        strength[s] += w
    nodes, n, d = [0, 1, 2], 3, 0.85
    ranks = {v: 1.0 / n for v in nodes}
    for _ in range(5):
        contrib = defaultdict(float)
        for s, t, w in live:
            contrib[t] += ranks[s] / strength[s] * w
        ranks = {v: (1 - d) / n + d * contrib[v] for v in nodes}
    for v in nodes:
        assert abs(got[v] - ranks[v]) < 1e-12, (v, got[v], ranks[v])
    assert got[1] > got[2]
    # ADVICE r13: a vertex whose EVERY incident edge is dropped by the
    # weight filter must still participate (as dangling), not vanish
    # and renormalize mass over the survivors
    iso = spark.createDataFrame(
        [(0, 1, 1.0), (2, 3, 0.0), (3, 2, None)],
        "src long, dst long, w double",
    )
    got_iso = {r.id: r.rank for r in pagerank(iso, n_iter=4, weight="w").collect()}
    assert set(got_iso) == {0, 1, 2, 3}
    assert abs(sum(got_iso.values()) - 1.0) < 1e-12
    # 2 and 3 are pure dangling — symmetric, equal rank
    assert abs(got_iso[2] - got_iso[3]) < 1e-15
    # unweighted call == all-ones weights
    ones = spark.createDataFrame(
        [(s, t, 1.0) for s, t, w in live], "src long, dst long, w double"
    )
    a = {r.id: r.rank for r in pagerank(ones, n_iter=3, weight="w").collect()}
    b = {
        r.id: r.rank
        for r in pagerank(ones.select("src", "dst"), n_iter=3).collect()
    }
    assert a == b


def test_triangles_matches_bruteforce(spark):
    """Degree-ordered orientation finds exactly the brute-force
    triangle set (each once), on a skewed graph where the hub vertex
    would dominate a naive wedge join; self-loops, duplicate and
    reversed edges are erased by canonicalization."""
    import itertools
    from collections import defaultdict

    from exosql_spark.operators.graph import triangles

    # ring(8) + +2 chords + hub 0 connected to everyone + noise
    edges = (
        [(i, (i + 1) % 8) for i in range(8)]
        + [(i, (i + 2) % 8) for i in range(8)]
        + [(0, i) for i in range(2, 8)]
        + [(3, 3), (1, 0), (0, 1)]  # self-loop + reversed dup + dup
    )
    df = spark.createDataFrame(edges, "src long, dst long")
    got = sorted(
        tuple(sorted((r.x, r.y, r.z))) for r in triangles(df).collect()
    )
    assert len(got) == len(set(got)), "triangle emitted twice"

    adj = defaultdict(set)
    for u, v in edges:
        if u != v:
            adj[u].add(v)
            adj[v].add(u)
    want = sorted(
        (a, b, c)
        for a, b, c in itertools.combinations(sorted(adj), 3)
        if b in adj[a] and c in adj[a] and c in adj[b]
    )
    assert got == want


def test_triangle_stats_identities(spark):
    """K4: 4 triangles, 12 wedges, transitivity exactly 1;
    sum_vertex_tri = 3*n_triangles; triangle-free star: zero
    triangles but nonzero wedges -> transitivity 0."""
    import itertools

    from exosql_spark.operators.graph import triangle_stats

    k4 = spark.createDataFrame(
        [(a, b) for a, b in itertools.combinations(range(4), 2)],
        "src long, dst long",
    )
    r = triangle_stats(k4).collect()[0]
    assert (r.n_triangles, r.n_wedges, r.transitivity) == (4, 12, 1.0)
    assert r.sum_vertex_tri == 3 * r.n_triangles and r.max_vertex_tri == 3

    star = spark.createDataFrame(
        [(0, i) for i in range(1, 6)], "src long, dst long"
    )
    s = triangle_stats(star).collect()[0]
    assert (s.n_triangles, s.n_wedges, s.transitivity) == (0, 10, 0.0)
    assert (s.sum_vertex_tri, s.max_vertex_tri) == (0, 0)


def test_hits_matches_power_iteration(spark):
    """hits() equals an L1-normalized NumPy-free power-iteration
    replay on an asymmetric directed graph, to 1e-12; scores are
    L1-normalized (each sums to 1)."""
    from collections import defaultdict

    from exosql_spark.operators.graph import hits

    E = [(0, 1), (0, 2), (1, 2), (2, 0), (3, 2), (3, 1), (1, 3)]
    g = spark.createDataFrame(E, "src long, dst long")
    got = {r.id: (r.hub, r.auth) for r in hits(g, n_iter=6).collect()}

    n = 4
    h = {v: 1.0 / n for v in range(n)}
    a = {v: 1.0 / n for v in range(n)}
    for _ in range(6):
        a_raw = defaultdict(float)
        for u, v in E:
            a_raw[v] += h[u]
        s = sum(a_raw.values())
        a = {v: (a_raw[v] / s if s > 0 else 0.0) for v in range(n)}
        h_raw = defaultdict(float)
        for u, v in E:
            h_raw[u] += a[v]
        s = sum(h_raw.values())
        h = {v: (h_raw[v] / s if s > 0 else 0.0) for v in range(n)}
    for v in range(n):
        assert abs(got[v][0] - h[v]) < 1e-12, (v, got[v], h[v])
        assert abs(got[v][1] - a[v]) < 1e-12, (v, got[v], a[v])
    assert abs(sum(x for x, _ in got.values()) - 1.0) < 1e-12
    assert abs(sum(y for _, y in got.values()) - 1.0) < 1e-12


def test_dsir_importance_python_replay(spark):
    """dsir_importance equals an exact Python replay (same md5-60bit
    bucketing, add-1 smoothing, decimal-6 per-token rounding), and a
    doc made of target-only vocabulary outweighs a raw-only one."""
    import hashlib
    from decimal import Decimal, ROUND_HALF_UP

    from exosql_spark.operators.selection import dsir_importance
    from pyspark.sql import functions as F

    rows = [
        (0, "alpha beta alpha", True),
        (1, "alpha gamma", True),
        (2, "delta delta epsilon", False),
        (3, "alpha delta", False),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, is_t boolean")
    got = {
        r.doc_id: (r.n_tokens, r.log_weight)
        for r in dsir_importance(docs, F.col("is_t"), n_buckets=64).collect()
    }

    B = 64
    def bucket(tok):
        return int(hashlib.md5(tok.encode()).hexdigest()[:15], 16) % B

    import math
    from collections import Counter
    cr, ct = Counter(), Counter()
    for _, text, is_t in rows:
        for tok in text.split():
            b = bucket(tok)
            cr[b] += 1
            if is_t:
                ct[b] += 1
    tr, tt = sum(cr.values()), sum(ct.values())
    lr = {
        b: math.log((ct[b] + 1.0) / (tt + float(B)))
        - math.log((cr[b] + 1.0) / (tr + float(B)))
        for b in cr
    }
    for doc_id, text, _ in rows:
        toks = text.split()
        s = sum(
            Decimal(repr(lr[bucket(t)])).quantize(
                Decimal("0.000001"), rounding=ROUND_HALF_UP
            )
            for t in toks
        )
        want = math.floor(float(s) * 1e6 + 0.5) / 1e6
        n, w = got[doc_id]
        assert n == len(toks)
        assert abs(w - want) < 1e-9, (doc_id, w, want)
    # target-vocabulary doc beats raw-vocabulary doc
    assert got[0][1] > got[2][1]


def test_mine_hard_negatives_excludes_same_label(spark):
    """Same-label vectors never occupy a negative slot even when they
    are the nearest neighbors; ranks follow cosine desc with id
    tie-break; k bounds the result."""
    from exosql_spark.operators.similarity import mine_hard_negatives

    rows = [
        (0, [1.0, 0.0], 0),   # anchor
        (1, [1.0, 0.01], 0),  # same-label near-dup: must be excluded
        (2, [1.0, 0.2], 1),   # best negative
        (3, [0.9, 0.5], 1),   # second negative
        (4, [0.0, 1.0], 2),   # orthogonal negative
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    q = df.filter("vec_id = 0")
    got = (
        mine_hard_negatives(df, q, k=2, query_id_col="vec_id")
        .orderBy("rank")
        .collect()
    )
    assert [r.vec_id for r in got] == [2, 3]
    assert all(r.neg_label != r.query_label for r in got)
    assert [r.rank for r in got] == [1, 2]
    assert got[0].cosine_sim > got[1].cosine_sim


def test_kcore_matches_peeling(spark):
    """kcore()'s H-index fixpoint equals the definitional sequential
    peeling algorithm (repeatedly delete the min-degree vertex; its
    coreness is the running max of min-degrees) on a random graph
    with hubs, plus exact closed forms: K5 has coreness 4 everywhere,
    a path coreness 1, a cycle 2."""
    import random
    from collections import defaultdict

    from exosql_spark.operators.graph import kcore

    rng = random.Random(15)
    edges = {(min(a, b), max(a, b)) for a, b in
             ((rng.randrange(40), rng.randrange(40)) for _ in range(160))
             if a != b}
    # a planted dense pocket so coreness isn't degenerate
    edges |= {(i, j) for i in range(30, 35) for j in range(i + 1, 35)}
    df = spark.createDataFrame(sorted(edges), "src long, dst long")
    got = {r.id: r.coreness for r in kcore(df).collect()}

    # sequential peeling oracle
    adj = defaultdict(set)
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    deg = {v: len(ns) for v, ns in adj.items()}
    want, k = {}, 0
    live = set(deg)
    while live:
        v = min(live, key=lambda u: deg[u])
        k = max(k, deg[v])
        want[v] = k
        live.remove(v)
        for u in adj[v]:
            if u in live:
                deg[u] -= 1
    assert got == want

    k5 = spark.createDataFrame(
        [(a, b) for a in range(5) for b in range(a + 1, 5)],
        "src long, dst long",
    )
    assert {r.coreness for r in kcore(k5).collect()} == {4}
    path = spark.createDataFrame([(i, i + 1) for i in range(6)], "src long, dst long")
    assert {r.coreness for r in kcore(path).collect()} == {1}
    cyc = spark.createDataFrame(
        [(i, (i + 1) % 7) for i in range(7)], "src long, dst long"
    )
    assert {r.coreness for r in kcore(cyc).collect()} == {2}


def test_trustrank_matches_reference_iteration(spark):
    """trustrank() equals a plain-Python seeded power iteration on a
    random digraph with a dangling vertex (its mass must return to
    the SEEDS), and assigns exactly 0.0 to vertices unreachable from
    the seed set."""
    import random

    from exosql_spark.operators.graph import trustrank

    rng = random.Random(7)
    edges = sorted({(rng.randrange(12), rng.randrange(12)) for _ in range(30)
                    if True})
    edges = [(a, b) for a, b in edges if a != b and a != 11]  # 11 dangling
    edges.append((3, 11))
    # unreachable island
    edges += [(100, 101), (101, 100)]
    seeds = [0, 5]
    df = spark.createDataFrame(edges, "src long, dst long")
    sdf = spark.createDataFrame([(s,) for s in seeds], "id long")
    got = {r.id: r.rank for r in trustrank(df, sdf, n_iter=8, damping=0.85).collect()}

    out = {}
    nodes = set(seeds)
    for a, b in edges:
        out.setdefault(a, []).append(b)
        nodes |= {a, b}
    t = {v: (1.0 / len(seeds) if v in seeds else 0.0) for v in nodes}
    r = dict(t)
    for _ in range(8):
        nxt = {v: 0.0 for v in nodes}
        dm = sum(rv for v, rv in r.items() if not out.get(v))
        for a in out:
            share = r[a] / len(out[a])
            for b in out[a]:
                nxt[b] += share
        r = {
            v: 0.15 * t[v] + 0.85 * (nxt[v] + dm * t[v])
            for v in nodes
        }
    assert set(got) == set(r)
    for v in r:
        assert abs(got[v] - r[v]) < 1e-9, (v, got[v], r[v])
    assert got[100] == 0.0 and got[101] == 0.0


class TestLinkQualitySelect:
    def test_thresholds_nulls_and_broadcast(self, spark):
        """selection.link_quality_select (r16): keep ⇔ rank > min_rank
        AND coreness ≤ max_coreness; docs on sites ABSENT from the
        prior table (unlinked — no graph evidence) get NULL priors and
        are dropped (unreachable-from-trust by definition); both
        threshold boundaries are strict/inclusive exactly as
        documented (rank must EXCEED min_rank; coreness may EQUAL
        max_coreness); the prior join broadcasts."""
        from pyspark.sql import functions as F

        from exosql_spark.operators.selection import link_quality_select

        priors = spark.createDataFrame(
            [
                (1, 0.5, 3),    # kept
                (2, 0.0, 1),    # rank == min_rank -> dropped (strict >)
                (3, 0.4, 8),    # coreness == cap -> kept (inclusive <=)
                (4, 0.4, 9),    # coreness over cap -> dropped
            ],
            "id long, rank double, coreness int",
        )
        docs = spark.createDataFrame(
            [(10, 1), (20, 2), (30, 3), (40, 4), (50, 99)],  # 99: unlinked
            "doc_id long, site long",
        )
        out = link_quality_select(docs, priors, max_coreness=8)
        kept = {r.doc_id for r in out.where("keep").collect()}
        assert kept == {10, 30}
        # unlinked site carries NULL priors, not a dropped row
        row = out.where("doc_id = 50").collect()[0]
        assert row.rank is None and row.coreness is None and not row.keep
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan

    def test_output_column_collision_raises(self, spark):
        """ADVICE r16: docs already carrying rank/coreness/keep would
        make the left-join emit DUPLICATE column names (the keep
        expression could bind to the corpus column or raise
        AMBIGUOUS_REFERENCE far from the cause) — the operator must
        refuse at its own boundary with the offending names."""
        import pytest

        from exosql_spark.operators.selection import link_quality_select

        priors = spark.createDataFrame(
            [(1, 0.5, 3)], "id long, rank double, coreness int"
        )
        docs = spark.createDataFrame(
            [(10, 1, 0.9)], "doc_id long, site long, rank double"
        )
        with pytest.raises(ValueError, match=r"\['rank'\]"):
            link_quality_select(docs, priors)
        # renamed -> works, and the corpus value survives untouched
        out = link_quality_select(
            docs.withColumnRenamed("rank", "bm25_rank"), priors
        ).collect()[0]
        assert out.bm25_rank == 0.9 and out.rank == 0.5 and out.keep


class TestSqlTextBuilderEquivalence:
    """The r18 SQL-text expression builders (dedup.shingles,
    dedup.signature_bands, bpe.merge_pair's str path, bpe._pair_counts)
    must agree FIELD FOR FIELD with their Column-API reference forms —
    the rewrites exist only to collapse py4j round-trip volume at query
    build time, never to change an expression."""

    def test_shingles_matches_column_reference(self, spark):
        from exosql_spark.operators.text import normalize_text, tokens

        def column_shingles(text_col, k=3):  # the pre-r18 builder, verbatim
            def _make(toks):
                n = F.size(toks)
                full = F.array(F.array_join(toks, " "))
                sh = F.transform(
                    F.sequence(F.lit(1), n - (k - 1)),
                    lambda i: F.array_join(F.slice(toks, i, k), " "),
                )
                return F.when(
                    n > 0, F.array_distinct(F.when(n >= k, sh).otherwise(full))
                ).otherwise(F.array().cast("array<string>"))

            return F.transform(F.array(tokens(normalize_text(text_col))), _make)[0]

        rows = [
            (1, "The  quick, brown fox! jumps\tover the lazy dog"),
            (2, None),
            (3, ""),
            (4, "a b"),
            (5, "x"),
            (6, "Hello   WORLD's \n end."),
            (7, "a b c a b c a b c"),
            (8, "  \t  "),
        ]
        df = spark.createDataFrame(rows, "i long, t string")
        for k in (2, 3, 5):
            got = df.select("i", dedup.shingles("t", k).alias("s")).orderBy("i")
            ref = df.select("i", column_shingles("t", k).alias("s")).orderBy("i")
            assert got.schema == ref.schema
            assert got.collect() == ref.collect()

    def test_signature_bands_matches_column_reference(self, spark):
        def column_bands(sig, num_hashes, bands):  # the pre-r18 builder
            rpb = num_hashes // bands
            return sig.select(
                "_id",
                F.explode(
                    F.array(
                        *[
                            F.struct(
                                F.lit(b).alias("band"),
                                F.xxhash64(
                                    F.slice("_sig", b * rpb + 1, rpb)
                                ).alias("key"),
                            )
                            for b in range(bands)
                        ]
                    )
                ).alias("bk"),
            ).select("_id", "bk.band", "bk.key")

        df = spark.createDataFrame(
            [(1, list(range(64))), (2, [7] * 64), (3, list(range(100, 164)))],
            "_id long, _sig array<long>",
        )
        for nh, nb in ((64, 16), (64, 32), (8, 4)):
            got = dedup.signature_bands(df, nh, nb).orderBy("_id", "band")
            ref = column_bands(df, nh, nb).orderBy("_id", "band")
            assert got.schema == ref.schema
            assert got.collect() == ref.collect()

    def test_merge_pair_str_path_matches_column_path(self, spark):
        from exosql_spark.operators.bpe import merge_pair

        rows = [
            (1, ["a", "b", "a", "b", "a"]),
            (2, ["a", "a", "b"]),
            (3, []),
            (4, ["b", "a"]),
            (5, [None, "a", "b"]),
            (6, ["a", None, "b"]),
            (7, ["it's", "o'k", "it'so'k"]),
            (8, ["x\\y", "z", "x\\yz"]),
        ]
        df = spark.createDataFrame(rows, "i long, t array<string>")
        for l, r in (("a", "b"), ("it's", "o'k"), ("x\\y", "z")):
            got = df.select("i", merge_pair("t", l, r).alias("m")).orderBy("i")
            ref = df.select(
                "i", merge_pair(F.col("t"), l, r).alias("m")
            ).orderBy("i")
            assert got.schema == ref.schema
            assert got.collect() == ref.collect()

    def test_quality_features_match_column_reference(self, spark):
        from exosql_spark.operators import text as T

        def column_features(df, text_col):  # the pre-r18 builder, verbatim
            c = F.col(text_col)
            toks = T.tokens(c)
            n_tok = F.size(toks)
            distinct_ratio = F.size(F.array_distinct(toks)) / F.greatest(
                n_tok, F.lit(1)
            )
            stop_hits = F.size(
                F.filter(toks, lambda t: F.lower(t).isin(*T._STOPWORDS_EN))
            )
            n_chars = F.length(c)
            punct = F.size(F.regexp_extract_all(c, F.lit(r"[^\w\s]"), 0))
            return df.select(
                "*",
                n_chars.alias("q_n_chars"),
                n_tok.alias("q_n_tokens"),
                F.round(n_chars / F.greatest(n_tok, F.lit(1)), 4).alias(
                    "q_avg_token_len"
                ),
                F.round(punct / F.greatest(n_chars, F.lit(1)), 4).alias(
                    "q_punct_ratio"
                ),
                F.round(stop_hits / F.greatest(n_tok, F.lit(1)), 4).alias(
                    "q_stopword_ratio"
                ),
                F.round(distinct_ratio, 4).alias("q_distinct_ratio"),
            )

        rows = [
            (1, "The quick, brown fox! jumps over the lazy dog."),
            (2, None),
            (3, ""),
            (4, "word word word word word"),
            (5, "a"),
            (6, "  \t \n "),
            (7, "the the THE tHe and of to!!! ??? ..."),
        ]
        df = spark.createDataFrame(rows, "i long, t string")
        got = T.quality_features(df, "t").orderBy("i")
        ref = column_features(df, "t").orderBy("i")
        assert got.schema == ref.schema
        assert got.collect() == ref.collect()

    def test_lang_id_str_path_matches_column_path(self, spark):
        from exosql_spark.operators.text import lang_id

        rows = [
            (1, "the cat and the dog are in the house"),
            (2, "el perro y el gato en la casa no se que"),
            (3, "le chat et le chien dans la maison qui est"),
            (4, "der Hund und die Katze in den Haus mit sich"),
            (5, "这 是 一 个 人 我 在 有 他"),
            (6, "zzz qqq www"),
            (7, None),
            (8, ""),
            (9, "the el le der"),  # 4-way tie -> array_max tie-break
        ]
        df = spark.createDataFrame(rows, "i long, t string")
        got = df.select("i", lang_id("t").alias("p")).orderBy("i")
        ref = df.select("i", lang_id(F.col("t")).alias("p")).orderBy("i")
        assert got.schema == ref.schema
        assert got.collect() == ref.collect()

    def test_bm25_tfidf_rrf_match_column_reference(self, spark):
        from exosql_spark.cache import managed_persist_disk, release_caches
        from exosql_spark.operators import ranking as R
        from exosql_spark.queries._util import fround

        def column_bm25(df, query_terms, k=20, k1=1.2, b=0.75, nd=4):
            # the pre-r18 builder, verbatim
            qt = [str(t) for t in query_terms]
            terms = R._terms(df, "text", "doc_id")
            per_doc = terms.groupBy("doc_id").agg(
                F.count(F.lit(1)).alias("dl"),
                *[
                    F.sum(
                        F.when(F.col("term") == t, 1).otherwise(0)
                    ).alias(f"tf_{i}")
                    for i, t in enumerate(qt)
                ],
            )
            per_doc = per_doc.transform(managed_persist_disk)
            stats = per_doc.agg(
                F.count(F.lit(1)).alias("n_docs"),
                (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
                *[
                    F.sum((F.col(f"tf_{i}") > 0).cast("long")).alias(f"df_{i}")
                    for i in range(len(qt))
                ],
            )

            def contrib(i):
                tf = F.col(f"tf_{i}")
                idf = F.log(
                    F.lit(1.0)
                    + (F.col("n_docs") - F.col(f"df_{i}") + F.lit(0.5))
                    / (F.col(f"df_{i}") + F.lit(0.5))
                )
                denom = tf + F.lit(k1) * (
                    F.lit(1.0) - F.lit(b) + F.lit(b) * F.col("dl") / F.col("avgdl")
                )
                return idf * tf * F.lit(k1 + 1.0) / denom

            score = contrib(0)
            for i in range(1, len(qt)):
                score = score + contrib(i)
            any_term = None
            for i in range(len(qt)):
                cond = F.col(f"tf_{i}") > 0
                any_term = cond if any_term is None else (any_term | cond)
            return (
                per_doc.crossJoin(F.broadcast(stats))
                .where(any_term)
                .select(F.col("doc_id"), fround(score, nd).alias("bm25"))
                .orderBy(F.col("bm25").desc(), "doc_id")
                .limit(k)
            )

        rows = [
            (1, "data systems and data pipelines process data"),
            (2, "the cat sat on the mat"),
            (3, "data quality matters for model training runs"),
            (4, "irrelevant text entirely about gardening tulips"),
            (5, "pipelines pipelines pipelines"),
            (6, "model training data systems"),
            (7, ""),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        terms = ["data", "pipelines", "training's"]  # quote-escape path
        got = R.bm25_topk(df, terms, k=10).collect()
        release_caches(spark)
        ref = column_bm25(df, terms, k=10).collect()
        release_caches(spark)
        assert got == ref

        got_t = R.tfidf_top_terms(df, k=8).collect()

        def column_tfidf(df, k=8, nd=4):  # pre-r18, verbatim
            terms = R._terms(df, "text", "doc_id")
            n_docs = df.agg(F.count(F.lit(1)).alias("n_docs"))
            per_term = terms.groupBy("term").agg(
                F.count(F.lit(1)).alias("total_tf"),
                F.count_distinct(F.col("doc_id")).alias("doc_freq"),
            )
            idf = (
                F.log(
                    (F.lit(1.0) + F.col("n_docs"))
                    / (F.lit(1.0) + F.col("doc_freq"))
                )
                + F.lit(1.0)
            )
            return (
                per_term.crossJoin(F.broadcast(n_docs))
                .select(
                    "term",
                    "total_tf",
                    "doc_freq",
                    fround(F.col("total_tf") * idf, nd).alias("tfidf"),
                )
                .orderBy(F.col("tfidf").desc(), "term")
                .limit(k)
            )

        assert got_t == column_tfidf(df).collect()

        from pyspark.sql import Window

        def column_rrf(lists, k0=60, k=15, nd=6):  # pre-r18, verbatim
            u = None
            for d in lists:
                part = d.select(
                    F.col("doc_id").alias("_id"), F.col("rank").alias("_r")
                )
                u = part if u is None else u.unionByName(part)
            fused = u.groupBy("_id").agg(
                fround(
                    F.sum(F.lit(1.0) / (F.lit(float(k0)) + F.col("_r"))), nd
                ).alias("_rrf"),
                F.count(F.lit(1)).alias("n_lists"),
            )
            w = Window.orderBy(F.col("_rrf").desc(), F.col("_id"))
            return (
                fused.withColumn("rank", F.row_number().over(w))
                .filter(F.col("rank") <= k)
                .select(
                    F.col("_id").alias("doc_id"),
                    F.col("_rrf").alias("rrf"),
                    "n_lists",
                    "rank",
                )
            )

        l1 = spark.createDataFrame(
            [(1, 1), (2, 2), (3, 3), (9, 4)], "doc_id long, rank int"
        )
        l2 = spark.createDataFrame(
            [(3, 1), (1, 2), (7, 3)], "doc_id long, rank int"
        )
        got_r = R.rrf_fuse([l1, l2], k0=60, k=3)
        ref_r = column_rrf([l1, l2], k0=60, k=3)
        assert got_r.schema == ref_r.schema
        assert got_r.collect() == ref_r.collect()

    def test_cosine_topk_and_rerank_match_column_reference(self, spark):
        from pyspark.sql import Window

        from exosql_spark.operators import similarity as S

        def column_cosine_topk(corpus, queries, k=10):  # pre-r18, verbatim
            q = F.broadcast(
                queries.select(
                    F.col("query_id").alias("query_id"),
                    F.col("embedding").alias("q_vec"),
                )
            )
            scored = (
                corpus.select(
                    F.col("vec_id").alias("vec_id"),
                    F.col("embedding").alias("c_vec"),
                )
                .crossJoin(q)
                .select(
                    "query_id",
                    "vec_id",
                    S.cosine(F.col("c_vec"), F.col("q_vec")).alias("_sim"),
                )
            )
            partial = (
                scored.withColumn("_pid", F.spark_partition_id())
                .groupBy("_pid", "query_id")
                .agg(
                    F.slice(
                        F.array_sort(
                            F.collect_list(
                                F.struct(
                                    (-F.col("_sim")).alias("ns"),
                                    F.col("vec_id").alias("v"),
                                    F.col("_sim").alias("s"),
                                )
                            )
                        ),
                        1,
                        k,
                    ).alias("_top")
                )
                .select("query_id", F.explode("_top").alias("_t"))
                .select(
                    "query_id",
                    F.col("_t.v").alias("vec_id"),
                    F.col("_t.s").alias("_sim"),
                )
            )
            w = Window.partitionBy("query_id").orderBy(
                F.col("_sim").desc(), F.col("vec_id")
            )
            return (
                partial.withColumn("rank", F.row_number().over(w))
                .filter(F.col("rank") <= k)
                .select(
                    "query_id",
                    "vec_id",
                    F.round("_sim", 4).alias("cosine_sim"),
                    "rank",
                )
            )

        import random

        rng = random.Random(7)
        corpus = spark.createDataFrame(
            [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(40)],
            "vec_id long, embedding array<float>",
        )
        queries = spark.createDataFrame(
            [(100, [rng.uniform(-1, 1) for _ in range(8)]),
             (101, [rng.uniform(-1, 1) for _ in range(8)])],
            "query_id long, embedding array<float>",
        )
        got = S.cosine_topk(corpus, queries, k=5)
        ref = column_cosine_topk(corpus, queries, k=5)
        assert got.schema == ref.schema
        assert sorted(map(tuple, got.collect())) == sorted(
            map(tuple, ref.collect())
        )

        def column_exact_rerank(shortlist, corpus, queries, k, metric):
            # pre-r18, verbatim
            cand = F.broadcast(
                shortlist.select(
                    F.col("query_id").alias("query_id"),
                    F.col("vec_id").alias("vec_id"),
                ).distinct()
            )
            qv = F.broadcast(
                queries.select(
                    F.col("query_id").alias("query_id"),
                    F.col("embedding").alias("q_vec"),
                )
            )
            matched = (
                corpus.select(
                    F.col("vec_id").alias("vec_id"),
                    F.col("embedding").alias("c_vec"),
                )
                .join(cand, "vec_id")
                .join(qv, "query_id")
            )
            if metric == "cosine":
                score = S.cosine(F.col("c_vec"), F.col("q_vec"))
                order = [F.col("_s").desc_nulls_last(), F.col("vec_id")]
                out_name = "cosine_sim"
            else:
                score = F.aggregate(
                    F.zip_with(
                        F.col("c_vec"),
                        F.col("q_vec"),
                        lambda x, y: (x.cast("double") - y.cast("double"))
                        * (x.cast("double") - y.cast("double")),
                    ),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                )
                order = [F.col("_s").asc_nulls_last(), F.col("vec_id")]
                out_name = "exact_sq_dist"
            w = Window.partitionBy("query_id").orderBy(*order)
            return (
                matched.select("query_id", "vec_id", score.alias("_s"))
                .withColumn("rank", F.row_number().over(w))
                .filter(F.col("rank") <= k)
                .select(
                    "query_id",
                    "vec_id",
                    F.round("_s", 4).alias(out_name),
                    "rank",
                )
            )

        shortlist = got.select("query_id", "vec_id")
        for metric in ("sq_l2", "cosine"):
            got_r = S.exact_rerank(shortlist, corpus, queries, k=3, metric=metric)
            ref_r = column_exact_rerank(shortlist, corpus, queries, 3, metric)
            assert got_r.schema == ref_r.schema
            assert got_r.collect() == ref_r.collect()

    def test_asof_join_matches_column_reference(self, spark):
        from pyspark.sql import Window

        from exosql_spark.operators.asof import asof_join

        def column_asof(left, right, on, left_ts="ts", right_ts="ts",
                        value_cols=None, suffix="_right", strict=False,
                        direction="backward"):
            # the pre-r18 builder, verbatim
            value_cols = value_cols or [
                c for c in right.columns if c not in (on, right_ts)
            ]

            def struct_ddl(df, cols):
                fields = df.select(*cols).schema.fields
                return (
                    "struct<"
                    + ",".join(
                        f"{f.name}:{f.dataType.simpleString()}" for f in fields
                    )
                    + ">"
                )

            r_ddl = struct_ddl(right, [right_ts, *value_cols])
            l_ddl = struct_ddl(left, list(left.columns))
            l_tagged = left.select(
                F.col(on).alias("_k"),
                F.col(left_ts).alias("_ts"),
                F.lit(1).alias("_side"),
                F.struct(*[F.col(c) for c in left.columns]).alias("_l"),
                F.lit(None).cast(r_ddl).alias("_r"),
            )
            r_tagged = right.select(
                F.col(on).alias("_k"),
                F.col(right_ts).alias("_ts"),
                F.lit(0).alias("_side"),
                F.lit(None).cast(l_ddl).alias("_l"),
                F.struct(
                    F.col(right_ts), *[F.col(c) for c in value_cols]
                ).alias("_r"),
            )
            order_side = (
                F.col("_side").asc() if not strict else F.col("_side").desc()
            )
            if direction == "nearest":
                w_b = (
                    Window.partitionBy("_k")
                    .orderBy(F.col("_ts").asc(), order_side)
                    .rowsBetween(Window.unboundedPreceding, 0)
                )
                w_f = (
                    Window.partitionBy("_k")
                    .orderBy(F.col("_ts").desc(), order_side)
                    .rowsBetween(Window.unboundedPreceding, 0)
                )
                u = (
                    l_tagged.unionByName(r_tagged)
                    .withColumn("_mb", F.last("_r", ignorenulls=True).over(w_b))
                    .withColumn("_mf", F.last("_r", ignorenulls=True).over(w_f))
                )
                l_is_ts = (
                    left.schema[left_ts].dataType.typeName().startswith(
                        "timestamp"
                    )
                )
                if l_is_ts:
                    _num = lambda c: F.unix_micros(c.cast("timestamp"))  # noqa: E731
                else:
                    _num = lambda c: c  # noqa: E731
                d_b = F.abs(_num(F.col("_ts")) - _num(F.col("_mb")[right_ts]))
                d_f = F.abs(_num(F.col("_mf")[right_ts]) - _num(F.col("_ts")))
                merged = u.withColumn(
                    "_match",
                    F.when(F.col("_mb").isNull(), F.col("_mf"))
                    .when(F.col("_mf").isNull(), F.col("_mb"))
                    .when(d_b <= d_f, F.col("_mb"))
                    .otherwise(F.col("_mf")),
                )
            else:
                order_ts = (
                    F.col("_ts").asc()
                    if direction == "backward"
                    else F.col("_ts").desc()
                )
                w = (
                    Window.partitionBy("_k")
                    .orderBy(order_ts, order_side)
                    .rowsBetween(Window.unboundedPreceding, 0)
                )
                merged = l_tagged.unionByName(r_tagged).withColumn(
                    "_match", F.last("_r", ignorenulls=True).over(w)
                )
            return merged.filter(F.col("_side") == 1).select(
                *[F.col("_l")[c].alias(c) for c in left.columns],
                *[
                    F.col("_match")[c].alias(f"{c}{suffix}")
                    for c in [right_ts, *value_cols]
                ],
            )

        left = spark.createDataFrame(
            [("a", 10, 1), ("a", 20, 2), ("a", 5, 3), ("b", 7, 4), ("c", 1, 5)],
            "k string, ts long, lid long",
        )
        right = spark.createDataFrame(
            [("a", 10, 1.5), ("a", 15, 2.5), ("b", 9, 3.5), ("d", 1, 9.9)],
            "k string, ts long, px double",
        )
        for direction in ("backward", "forward", "nearest"):
            for strict in ((False, True) if direction != "nearest" else (False,)):
                got = asof_join(
                    left, right, "k", strict=strict, direction=direction
                )
                ref = column_asof(
                    left, right, "k", strict=strict, direction=direction
                )
                assert got.schema == ref.schema, (direction, strict)
                assert sorted(map(tuple, got.collect())) == sorted(
                    map(tuple, ref.collect())
                ), (direction, strict)
        # timestamp path for nearest (unix_micros branch)
        lts = left.selectExpr("k", "timestamp_micros(ts * 1000000) AS ts", "lid")
        rts = right.selectExpr("k", "timestamp_micros(ts * 1000000) AS ts", "px")
        got = asof_join(lts, rts, "k", direction="nearest")
        ref = column_asof(lts, rts, "k", direction="nearest")
        assert got.schema == ref.schema
        assert sorted(map(tuple, got.collect())) == sorted(
            map(tuple, ref.collect())
        )

    def test_jaccard_index_pairs_matches_prior_results(self, spark):
        from exosql_spark.cache import release_caches
        from exosql_spark.operators.dedup import jaccard_index_pairs

        rows = [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),
            (3, "the quick brown fox leaps over the lazy dog"),
            (4, "entirely different text about gardening tulips here"),
            (5, "the quick brown fox jumps over the lazy dog"),
            (6, "short text"),
            (7, ""),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        # Expected pairs computed independently: exact 3-gram Jaccard
        # over normalized shingle sets (see the operator docstring).
        import itertools
        import re as _re

        def sh(t, k=3):
            toks = _re.sub(r"\s+", " ", _re.sub(r"[^\w\s]", "", t.lower())).strip().split()
            if not toks:
                return set()
            if len(toks) < k:
                return {" ".join(toks)}
            return {" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)}

        sets = {i: sh(t) for i, t in rows}
        expect = {}
        for a, b in itertools.combinations(sorted(sets), 2):
            sa, sb = sets[a], sets[b]
            if not sa or not sb:
                continue
            j = len(sa & sb) / len(sa | sb)
            j = int(j * 10000 + 0.5) / 10000  # round half-up like fround/round
            if j >= 0.3:
                expect[(a, b)] = j
        for prefix_filter in (True, False):
            got = {
                (r.id_a, r.id_b): r.jaccard_sim
                for r in jaccard_index_pairs(
                    df, prefix_filter=prefix_filter
                ).collect()
            }
            release_caches(spark)
            assert got == expect, prefix_filter

    def test_semdedup_sqltext_matches_column_reference(self, spark):
        from exosql_spark.operators import semdedup as SD
        from exosql_spark.operators.similarity import _norm, cosine

        def column_normalize(df, vec_col="embedding"):  # pre-r18, verbatim
            v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
            n = _norm(v)
            unit = F.when(n > 0, F.transform(v, lambda x: x / n)).otherwise(v)
            return df.withColumn(vec_col, unit)

        rows = [
            (1, [1.0, 0.0, 0.0, 0.0]),
            (2, [0.9, 0.1, 0.0, 0.0]),
            (3, [0.0, 1.0, 0.0, 0.0]),
            (4, [0.0, 0.0, 0.0, 0.0]),  # zero vector passes through
            (5, None),
            (6, [2.0, 0.0, 0.0, 0.0]),
        ]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        got = SD.normalize_embeddings(df).orderBy("vec_id")
        ref = column_normalize(df).orderBy("vec_id")
        assert got.schema == ref.schema
        assert got.collect() == ref.collect()

        corners = [
            [1.0 if j == i else 0.0 for j in range(4)] for i in range(2)
        ]
        # zero-norm and NULL vectors stay out of the pair scoring: the
        # pair cosine's 0/0 raises under ANSI in the Column form too
        # (pre-existing contract — normalize guards ITS division, the
        # scorer assumes callers feed real vectors)
        got_p = SD.semantic_dedup_pairs(
            df.filter("vec_id NOT IN (4, 5)"),
            threshold=0.9,
            centroids=corners,
        ).orderBy("id_a", "id_b")
        # hof scorer path must agree with the round-tripped cosine of
        # the normalized vectors (ids 1, 2, 6 share cluster 0; 1-2 and
        # 2-6 and 1-6 are the candidates)
        vals = {(r.id_a, r.id_b): r.cosine_sim for r in got_p.collect()}
        assert (1, 6) in vals and vals[(1, 6)] == 1.0
        assert (1, 2) in vals and abs(vals[(1, 2)] - 0.9939) < 1e-9
