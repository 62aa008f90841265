"""textstats + ann operators (the training-data extras not covered by the
oracle battery's SQL twins)."""

import pytest
from pyspark.sql import functions as F

from off_topic_memento_toolkit_spark.operators.ann import (
    cosine_topk,
    embedding_near_duplicates,
    lsh_cosine_topk,
)
from off_topic_memento_toolkit_spark.operators.textstats import (
    exact_duplicates,
    fingerprint,
    language_id,
    quality_features,
    token_counts,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the cat and the dog sat in the house for a while with it"),
        (1, "der hund und die katze ist nicht mit der maus in das haus"),
        (2, "le chat et le chien dans la maison est pour les amis"),
        (3, "xqz zzv qqw pth"),  # no markers
        (4, "the cat and the dog sat in the house for a while with it"),  # dup of 0
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_language_id(spark, docs):
    got = {r.doc_id: r.lang_pred for r in language_id(docs).collect()}
    assert got[0] == "en"
    assert got[1] == "de"
    assert got[2] == "fr"
    assert got[3] == "und"


def test_quality_features(spark, docs):
    rows = {r.doc_id: r for r in quality_features(docs).collect()}
    assert rows[0].quality_ok
    assert rows[0].stopword_ratio > 0.3
    assert not rows[3].quality_ok  # < 5 tokens


def test_token_counts_and_fingerprint(spark, docs):
    rows = {r.doc_id: r for r in token_counts(docs).collect()}
    assert rows[0].tokens_whitespace == 14
    assert rows[0].tokens_bpe_ish >= 14
    fp = {r.doc_id: r.fingerprint for r in fingerprint(docs).collect()}
    assert fp[0] == fp[4] and fp[0] != fp[1]
    dups = exact_duplicates(fingerprint(docs), order_col="doc_id").collect()
    sizes = {r.doc_id: r.dup_group_size for r in dups}
    assert sizes[0] == 2 and sizes[4] == 2 and sizes[1] == 1
    canonical = {r.doc_id: r.is_canonical for r in dups}
    assert canonical[0] and not canonical[4]  # first doc_id keeps the group
    assert canonical[1] and canonical[2] and canonical[3]


@pytest.fixture(scope="module")
def embeddings(spark):
    import math
    rows = []
    for i in range(40):
        angle = (i % 8) / 8 * math.pi
        vec = [math.cos(angle), math.sin(angle)] + [0.001 * i] * 6
        rows.append((i, vec))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_cosine_topk_exact(spark, embeddings):
    queries = embeddings.filter(F.col("vec_id") < 2)
    got = cosine_topk(embeddings, queries, k=3).collect()
    by_query = {}
    for r in got:
        by_query.setdefault(r.query_id, []).append(r)
    for q, rows in by_query.items():
        assert len(rows) == 3
        # rank 1 is (nearly) the query itself
        top = min(rows, key=lambda r: r.rank)
        assert top.cosine == pytest.approx(1.0, abs=1e-6)


def test_lsh_topk_contains_self(spark, embeddings):
    queries = embeddings.filter(F.col("vec_id") < 2)
    got = lsh_cosine_topk(embeddings, queries, k=3, dim=8, n_planes=4).collect()
    assert {r.query_id for r in got} == {0, 1}
    for r in got:
        if r.rank == 1:
            assert r.cosine == pytest.approx(1.0, abs=1e-6)


def test_embedding_near_duplicates(spark, embeddings):
    df = embedding_near_duplicates(embeddings, threshold=0.999, dim=8, n_planes=4)
    # scale shape: one shuffle, no self-join (the SRP UDF evaluates once)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    pairs = df.collect()
    # vectors with the same angle (i % 8) are near-identical
    assert len(pairs) > 0
    for r in pairs:
        assert r.cosine >= 0.999


def test_embedding_near_duplicates_hot_bucket_capped(spark):
    # 200 identical vectors = one degenerate bucket; the cap must prevent the
    # B²/2 blowup (uncapped would be 19900 pairs)
    rows = [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(200)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pairs = embedding_near_duplicates(
        df, threshold=0.9, dim=4, n_planes=4, max_bucket_size=32)
    assert pairs.count() == 0  # bucket of 200 > cap 32 → dropped, observable
    relaxed = embedding_near_duplicates(
        df.limit(10), threshold=0.9, dim=4, n_planes=4, max_bucket_size=32)
    assert relaxed.count() == 45  # 10 choose 2 — under the cap, all pairs kept

    # the cap is observable, not a silent recall loss
    from off_topic_memento_toolkit_spark.operators.ann import (
        embedding_bucket_table,
        embedding_dropped_bucket_stats,
    )
    bucketed = embedding_bucket_table(df, dim=4, n_planes=4)
    stats = embedding_dropped_bucket_stats(bucketed, max_bucket_size=32).collect()[0]
    assert stats.dropped_buckets == 1 and stats.dropped_rows == 200


def test_ivf_training_sample_spans_partitions(spark):
    """The k-means training draw must be a cross-partition hash sample, not a
    first-partition limit(): lay the corpus out so partition 0 holds only
    degenerate duplicate vectors and assert the trained centroids still see
    the rest of the space — and that the draw is identical under a different
    partition layout."""
    import math

    import numpy as np

    from off_topic_memento_toolkit_spark.operators.ann import (
        train_ivf_centroids,
    )

    rows = []
    for i in range(400):
        if i < 200:  # ids 0..199: one degenerate direction
            vec = [1.0, 0.0, 0.0, 0.0]
        else:  # ids 200..399: spread over the circle
            angle = (i % 16) / 16 * math.pi
            vec = [math.cos(angle), math.sin(angle), 0.0, 0.0]
        rows.append((i, vec))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    # range-partition so low ids (the degenerate block) fill partition 0
    clustered = df.repartitionByRange(4, "vec_id")
    cents = train_ivf_centroids(clustered, n_centroids=8, dim=4,
                                max_train=64, seed=7)
    # limit(64) on this layout would train on 64 copies of [1,0,0,0] → all
    # centroids collapse onto one direction; the hash sample must not
    distinct_dirs = {tuple(np.round(c, 3)) for c in cents}
    assert len(distinct_dirs) >= 4

    # layout-independence: same draw under a shuffled layout
    reshuffled = df.repartition(7, "embedding")
    cents2 = train_ivf_centroids(reshuffled, n_centroids=8, dim=4,
                                 max_train=64, seed=7)
    assert np.allclose(cents, cents2)


def test_ivf_topk_recall(spark, embeddings):
    from off_topic_memento_toolkit_spark.operators.ann import (
        ivf_cosine_topk,
        train_ivf_centroids,
    )
    centroids = train_ivf_centroids(embeddings, n_centroids=8, dim=8, seed=7)
    assert centroids.shape[1] == 8
    queries = embeddings.filter(F.col("vec_id") < 4)
    exact = {(r.query_id, r.rank): r.neighbor_id
             for r in cosine_topk(embeddings, queries, k=3).collect()}
    got = ivf_cosine_topk(embeddings, queries, centroids, k=3, nprobe=4)
    rows = got.collect()
    assert {r.query_id for r in rows} == {0, 1, 2, 3}
    # rank-1 self-recall always holds (a vector shares its own bucket)
    for r in rows:
        if r.rank == 1:
            assert r.cosine == pytest.approx(1.0, abs=1e-6)
    # with nprobe=half the centroids, recall@3 vs brute force is high
    hits = sum((r.query_id, r.rank) in exact
               and exact[(r.query_id, r.rank)] == r.neighbor_id
               for r in rows)
    assert hits >= len(rows) - 2

    # determinism: same seed → identical result set
    again = ivf_cosine_topk(embeddings, queries,
                            train_ivf_centroids(embeddings, n_centroids=8,
                                                dim=8, seed=7),
                            k=3, nprobe=4).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def _arrow_evals_per_join_side(df):
    """ArrowEvalPython count under each child of the plan's first join."""
    def children(node):
        seq = node.children()
        return [seq.apply(i) for i in range(seq.size())]

    def count(node):
        return ("ArrowEvalPython" in node.nodeName()) + sum(
            count(c) for c in children(node))

    def find_join(node):
        if "Join" in node.nodeName():
            return node
        return next((j for j in map(find_join, children(node)) if j), None)

    join = find_join(df._jdf.queryExecution().sparkPlan())
    assert join is not None
    return [count(side) for side in children(join)]


def test_ann_bucket_joins_evaluate_each_udf_once_per_side(spark, embeddings):
    """The bucket UDFs are declared nondeterministic as a planner hint: a
    deterministic one lets the join's inferred isnotnull(bucket) filter
    push below the projection and evaluate the UDF a second time on a side.
    Pin one ArrowEvalPython per join side so a Spark upgrade that plans the
    hint differently is caught."""
    from off_topic_memento_toolkit_spark.operators.ann import (
        ivf_cosine_topk,
        train_ivf_centroids,
    )

    queries = embeddings.filter(F.col("vec_id") < 4)
    lsh = lsh_cosine_topk(embeddings, queries, k=3, dim=8, n_planes=4)
    assert _arrow_evals_per_join_side(lsh) == [1, 1]
    centroids = train_ivf_centroids(embeddings, n_centroids=8, dim=8, seed=7)
    ivf = ivf_cosine_topk(embeddings, queries, centroids, k=3, nprobe=4)
    assert _arrow_evals_per_join_side(ivf) == [1, 1]


def test_exact_duplicates_keeps_null_keys(spark):
    # review finding: the groupBy+join rewrite must not drop NULL-key rows
    rows = [(0, "a"), (1, None), (2, None), (3, "a")]
    df = spark.createDataFrame(rows, "doc_id long, fingerprint string")
    got = exact_duplicates(df, order_col="doc_id").collect()
    assert len(got) == 4  # every input row survives
    nulls = [r for r in got if r.fingerprint is None]
    assert len(nulls) == 2 and all(r.dup_group_size == 2 for r in nulls)
    assert sum(r.is_canonical for r in nulls) == 1


def test_ivf_recall_improves_with_nprobe(spark):
    """The IVF quality knob, measured: recall@3 vs brute force must be
    monotone non-decreasing in nprobe and exact when probing every
    bucket (nprobe = n_centroids ⇒ IVF == brute force)."""
    import math

    from off_topic_memento_toolkit_spark.operators.ann import (
        ivf_cosine_topk,
        train_ivf_centroids,
    )

    rows = []
    for i in range(160):
        angle = (i % 16) / 16 * math.pi
        rows.append((i, [math.cos(angle), math.sin(angle),
                         0.01 * (i % 7), 0.01 * (i % 5)]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = emb.filter(F.col("vec_id") < 8)
    exact = {(r.query_id, r.neighbor_id)
             for r in cosine_topk(emb, queries, k=3).collect()}
    cents = train_ivf_centroids(emb, n_centroids=8, dim=4, seed=7)

    recalls = []
    for nprobe in (1, 2, 4, 8):
        got = {(r.query_id, r.neighbor_id)
               for r in ivf_cosine_topk(emb, queries, cents, k=3,
                                        nprobe=nprobe).collect()}
        recalls.append(len(got & exact) / len(exact))
    assert all(b >= a - 1e-9 for a, b in zip(recalls, recalls[1:])), recalls
    assert recalls[-1] == 1.0, recalls  # probing every bucket = brute force


def test_quality_unicode_punct_and_empty_counts(spark):
    """Non-Latin letters are NOT punctuation (ASCII \\w would reject every
    CJK/Cyrillic document), and empty/whitespace/null text counts 0
    whitespace tokens (split('') yields [''])."""
    df = spark.createDataFrame(
        [(1, "你好 世界 这是 一个 测试 文档 质量 检查 通过 完成"),
         (2, "héllo wörld ça va très bien aujourd'hui mes amis oui"),
         (3, ""), (4, "   "), (5, None)],
        "id long, text string")
    q = {r.id: r for r in quality_features(df).collect()}
    assert q[1].punct_ratio < 0.3 and q[1].quality_ok
    assert q[2].punct_ratio < 0.3
    assert q[3].n_tokens_ws == 0 and q[4].n_tokens_ws == 0

    t = {r.id: r for r in token_counts(df).collect()}
    assert t[3].tokens_whitespace == 0
    assert t[4].tokens_whitespace == 0
    assert t[5].tokens_whitespace == 0
    assert t[1].tokens_whitespace == 10
