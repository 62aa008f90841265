"""LSH candidate generation, connected components, and verification kernels."""

import random

import pytest
from pyspark.sql import functions as F

from off_topic_memento_toolkit_spark.functions.textprep import full_tokenize
from off_topic_memento_toolkit_spark.operators.components import (
    attach_components,
    connected_components,
)
from off_topic_memento_toolkit_spark.operators.lsh import (
    minhash_candidate_pairs,
    simhash_candidate_pairs,
)
from off_topic_memento_toolkit_spark.operators.verify import (
    longest_common_substring_length,
    verified_pairs_jaccard,
)

SF_DIR = "/root/testdata/sf0.001"


def _union_find_components(n, edges):
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical min-label per component
    labels = {}
    for node in range(n):
        root = find(node)
        labels.setdefault(root, min(root, node))
    return {node: find(node) for node in range(n)}


def _min_label(n, edges):
    comp = _union_find_components(n, edges)
    # map roots to min member
    members = {}
    for node, root in comp.items():
        members.setdefault(root, []).append(node)
    return {node: min(members[root]) for node, root in comp.items()}


@pytest.mark.parametrize("seed", [0, 1, 2])
@pytest.mark.parametrize("threshold", [0, 1 << 20],
                         ids=["distributed", "single-task"])
def test_connected_components_random_graphs(spark, seed, threshold):
    rng = random.Random(seed)
    n = 60
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(45)]
    edges = [(a, b) for a, b in edges if a != b]
    expected = _min_label(n, edges)

    edges_df = spark.createDataFrame(edges, "src long, dst long")
    labels = {r.id: r.component
              for r in connected_components(
                  edges_df, small_graph_threshold=threshold).collect()}
    for node, component in labels.items():
        assert component == expected[node], (node, component, expected[node])
    # nodes appearing in edges must all be labeled
    touched = {a for a, _ in edges} | {b for _, b in edges}
    assert touched == set(labels)


def test_connected_components_leaves_session_conf_alone(spark):
    """The CC loop must not mutate spark.sql.shuffle.partitions: a concurrent
    query planned mid-loop would silently inherit the loop's tiny width.
    Hook the per-iteration writer to observe the conf and plan a concurrent
    aggregation DURING the loop."""
    conf_before = spark.conf.get("spark.sql.shuffle.partitions")
    seen_confs = []
    concurrent_widths = []

    def spying_writer(df, iteration):
        seen_confs.append(spark.conf.get("spark.sql.shuffle.partitions"))
        other = spark.range(1000).groupBy((F.col("id") % 7).alias("k")).count()
        plan = other._jdf.queryExecution().executedPlan().toString()
        concurrent_widths.append(plan)
        assert other.count() == 7
        return df.localCheckpoint()

    edges = [(i, i + 1) for i in range(0, 31)]
    edges_df = spark.createDataFrame(edges, "src long, dst long")
    labels = {r.id: r.component
              for r in connected_components(
                  edges_df, checkpoint_dir_writer=spying_writer,
                  small_graph_threshold=0).collect()}
    assert set(labels.values()) == {0}
    assert seen_confs and all(c == conf_before for c in seen_confs)
    assert spark.conf.get("spark.sql.shuffle.partitions") == conf_before


@pytest.mark.parametrize("threshold", [0, 1 << 20],
                         ids=["distributed", "single-task"])
def test_connected_components_chain(spark, threshold):
    # worst-case diameter: a long path — large/small-star converges in O(log n)
    edges = [(i, i + 1) for i in range(0, 63)]
    edges_df = spark.createDataFrame(edges, "src long, dst long")
    labels = {r.id: r.component for r in connected_components(
        edges_df, small_graph_threshold=threshold).collect()}
    assert set(labels.values()) == {0}


def _doc(words):
    return " ".join(words)


@pytest.fixture(scope="module")
def dup_corpus(spark):
    rng = random.Random(7)
    vocab = [f"tok{i}" for i in range(300)]
    rows = []
    # 10 clusters of 4 near-identical docs + 20 unrelated singletons
    for c in range(10):
        base = [rng.choice(vocab) for _ in range(60)]
        for v in range(4):
            words = list(base)
            for _ in range(v):  # v small edits
                words[rng.randrange(len(words))] = rng.choice(vocab)
            rows.append((f"doc{c:02d}-{v}", c, _doc(words)))
    for s in range(20):
        rows.append((f"sng{s:02d}-0", 100 + s,
                     _doc([rng.choice(vocab) for _ in range(60)])))
    df = spark.createDataFrame(rows, "urim string, true_cluster int, text string")
    tokenize = spark.udf  # tokens via python for test simplicity
    return df.withColumn(
        "tokens", F.split(F.col("text"), " ")
    )


def test_minhash_lsh_cluster_pair_recall(spark, dup_corpus):
    """Dup-pair recall ≥0.99 measured, as BASELINE.json defines it, on the
    pair set implied by the final cluster assignments (candidates → CC)."""
    pairs = minhash_candidate_pairs(
        dup_corpus, id_col="urim", tokens_col="tokens",
        num_perm=128, shingle_words=5, bands=32,
    )
    edges = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    labeled = attach_components(dup_corpus, edges, id_col="urim")
    by_component = {}
    for r in labeled.select("urim", "component").collect():
        by_component.setdefault(r.component, []).append(r.urim)
    got = set()
    for members in by_component.values():
        members.sort()
        for i in range(len(members)):
            for j in range(i + 1, len(members)):
                got.add((members[i], members[j]))

    truth = set()
    by_cluster = {}
    for r in dup_corpus.select("urim", "true_cluster").collect():
        by_cluster.setdefault(r.true_cluster, []).append(r.urim)
    for members in by_cluster.values():
        members.sort()
        for i in range(len(members)):
            for j in range(i + 1, len(members)):
                truth.add((members[i], members[j]))
    recall = len(got & truth) / len(truth)
    assert recall >= 0.99, f"recall {recall}: missing {truth - got}"


def test_verified_clusters_match_truth(spark, dup_corpus):
    pairs = minhash_candidate_pairs(dup_corpus, id_col="urim",
                                    tokens_col="tokens")
    verified = verified_pairs_jaccard(
        pairs, dup_corpus, id_col="urim", tokens_col="tokens",
        min_jaccard=0.5,
    )
    edges = verified.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    labeled = attach_components(dup_corpus, edges, id_col="urim")
    got = {}
    for r in labeled.select("urim", "true_cluster", "component").collect():
        got.setdefault(r.component, set()).add(r.true_cluster)
    # every found component is pure (one true cluster)
    for component, clusters in got.items():
        assert len(clusters) == 1, (component, clusters)
    # and every true dup cluster collapsed into one component
    by_true = {}
    for r in labeled.collect():
        by_true.setdefault(r.true_cluster, set()).add(r.component)
    for true_cluster, components in by_true.items():
        assert len(components) == 1


def test_simhash_hamming_pairs(spark):
    rows = [
        ("a", 0b1111000011110000),
        ("b", 0b1111000011110001),          # hamming 1 from a
        ("c", 0b1111000011111111),          # hamming 4 from a
        ("d", -(1 << 62) + 5),
    ]
    df = spark.createDataFrame(rows, "urim string, simhash long")
    pairs = {(r.id_a, r.id_b)
             for r in simhash_candidate_pairs(df, max_hamming=3).collect()}
    assert ("a", "b") in pairs
    assert ("a", "c") not in pairs


def test_lcs_kernel():
    assert longest_common_substring_length("abcdef", "zabcq") == 3
    assert longest_common_substring_length("same text here", "same text here") == 14
    assert longest_common_substring_length("abc", "xyz") == 0
    assert longest_common_substring_length("", "xyz") == 0


def test_dedup_pipeline_lcs_verify_channel(spark):
    """north_rule: suffix-array-equivalent LCS verification as the pipeline's
    verify stage — near-identical docs cluster, disjoint docs don't."""
    from off_topic_memento_toolkit_spark.plans.pipeline import dedup_pipeline
    from off_topic_memento_toolkit_spark.sources.datagen import generate_pages

    pages = generate_pages(spark, n_urls=12, mementos_per_url=4, skew=False,
                           error_rows=False, dup_rate=0.6)
    lcs_clusters = dedup_pipeline(pages, verify_method="lcs",
                                  min_lcs_ratio=0.6)
    rows = lcs_clusters.collect()
    assert len(rows) > 0
    by_comp = {}
    for r in rows:
        by_comp.setdefault(r.component, []).append(r.urim)
    # exact duplicates (dup_rate=0.6 → same base text) must share a component
    assert any(len(v) >= 2 for v in by_comp.values())
    import pytest as _pytest
    with _pytest.raises(ValueError):
        dedup_pipeline(pages, verify_method="nope").collect()


def test_dedup_recall_vs_reference_chain_assignments(spark):
    """North acceptance: dup-pair recall >= 0.99 against the REFERENCE
    CHAIN'S assignments (D3 cluster_by_simhash groups) at identical configs —
    every pair the faithful curation chain calls a duplicate cluster member
    must be recovered by the scaled LSH+CC path."""
    from off_topic_memento_toolkit_spark.operators.curation import (
        cluster_by_simhash,
        slice_by_datetime,
    )
    from off_topic_memento_toolkit_spark.operators.measures import (
        memento_metadata,
    )
    from off_topic_memento_toolkit_spark.plans.pipeline import dedup_pipeline
    from off_topic_memento_toolkit_spark.sources.datagen import generate_pages

    pages = generate_pages(spark, n_urls=30, mementos_per_url=5, skew=False,
                           error_rows=False, dup_rate=0.5)

    # reference-chain assignments: D2 slice -> D3 equal-simhash clusters
    meta = memento_metadata(pages)
    clustered = cluster_by_simhash(slice_by_datetime(meta))
    groups = {}
    for r in clustered.filter(F.col("cluster_id") >= 0).collect():
        groups.setdefault((r.slice_id, r.cluster_id), []).append(r.urim)
    truth_pairs = {
        (a, b)
        for members in groups.values()
        for i, a in enumerate(sorted(members))
        for b in sorted(members)[i + 1:]
    }
    assert truth_pairs, "fixture produced no reference clusters"

    # scaled path at the same signature configs
    clusters = dedup_pipeline(pages).collect()
    comp = {r.urim: r.component for r in clusters}
    found = sum(comp.get(a) is not None and comp.get(a) == comp.get(b)
                for a, b in truth_pairs)
    recall = found / len(truth_pairs)
    assert recall >= 0.99, (recall, len(truth_pairs))


def test_simhash_pairs_exhaustive_random(spark):
    """Pigeonhole exhaustiveness, property-tested: on random 64-bit values
    the chunk-join channel must find EXACTLY the brute-force pairs with
    hamming ≤ 3 (chunks=4 guarantees any such pair collides on ≥1 slice)."""
    rng = random.Random(99)
    base = [rng.getrandbits(64) for _ in range(40)]
    values = list(base)
    for v in base[:20]:  # plant near-misses at controlled distances
        for bits in (1, 2, 3, 4, 5):
            flipped = v
            for b in rng.sample(range(64), bits):
                flipped ^= 1 << b
            values.append(flipped)
    rows = [(f"d{i:03d}", v - (1 << 64) if v >= 1 << 63 else v)
            for i, v in enumerate(values)]

    def ham(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    # the channel emits ham=0 pairs too (distinct docs, equal values)
    expected = {
        (rows[i][0], rows[j][0])
        for i in range(len(rows)) for j in range(i + 1, len(rows))
        if ham(rows[i][1], rows[j][1]) <= 3
    }
    df = spark.createDataFrame(rows, "urim string, simhash long")
    got = {(r.id_a, r.id_b)
           for r in simhash_candidate_pairs(
               df, max_hamming=3, max_bucket_size=4096).collect()}
    assert got == expected


def test_minhash_lsh_s_curve_calibration(spark):
    """The banding S-curve, measured: candidate probability for pairs of
    known shingle-Jaccard must be ~1 above the (1/b)^(1/r) threshold and
    ~0 well below it — the guarantee the 100 TB recall story rests on.
    Pairs are built by sharing a controlled fraction of 5-word shingle
    blocks (disjoint vocab per pair, so only intended collisions exist)."""
    rows = []
    pair_jaccard = {}
    n_pairs_per_level = 12
    levels = [0.1, 0.3, 0.5, 0.7, 0.9]
    pid = 0
    total = 200  # tokens per doc → total-4 sliding 5-gram shingles
    for target_j in levels:
        for _ in range(n_pairs_per_level):
            # a shared CONTIGUOUS run of L tokens contributes exactly L-4
            # shared shingles (sliding 5-grams are position-independent);
            # everything else is pair-unique vocab → exact jaccard control:
            # J = (L-4) / (2*(total-4) - (L-4))
            shared_shingles = round(2 * (total - 4) * target_j
                                    / (1 + target_j))
            run = shared_shingles + 4
            vocab_base = pid * 10000
            shared_run = [f"s{vocab_base + i}" for i in range(run)]
            pad = total - run
            a_tokens = ([f"a{vocab_base + i}" for i in range(pad // 2)]
                        + shared_run
                        + [f"x{vocab_base + i}" for i in range(pad - pad // 2)])
            b_tokens = ([f"b{vocab_base + i}" for i in range(pad // 2)]
                        + shared_run
                        + [f"y{vocab_base + i}" for i in range(pad - pad // 2)])
            rows.append((f"a{pid:04d}", a_tokens))
            rows.append((f"b{pid:04d}", b_tokens))
            pair_jaccard[pid] = shared_shingles / (
                2 * (total - 4) - shared_shingles)
            pid += 1
    df = spark.createDataFrame(rows, "urim string, tokens array<string>")
    got = {(r.id_a, r.id_b) for r in minhash_candidate_pairs(
        df, max_bucket_size=4096).collect()}
    hit_rate = {}
    for level in levels:
        pids = [p for p in pair_jaccard
                if abs(pair_jaccard[p] - level) < 0.12]
        hits = sum((f"a{p:04d}", f"b{p:04d}") in got
                   or (f"b{p:04d}", f"a{p:04d}") in got for p in pids)
        hit_rate[level] = hits / len(pids)
    # bands=32, rows=4 → 50% threshold at (1/32)^(1/4) ≈ 0.42
    assert hit_rate[0.9] == 1.0, hit_rate
    assert hit_rate[0.7] == 1.0, hit_rate
    assert hit_rate[0.5] >= 0.9, hit_rate
    assert hit_rate[0.1] <= 0.25, hit_rate


def test_lcs_sample_predicate_cross_dialect(spark):
    """OTMT_ORACLE_LCS_SAMPLE keeps the SAME pairs in both dialects: the
    Spark filter (md5 over the utf8 bytes of 'id_a|id_b') and the DuckDB
    twin (md5(id_a || '|' || id_b) LIKE 'pfx%') must agree row-for-row —
    pinned here against hashlib, the common ground truth."""
    import hashlib

    import duckdb
    from pyspark.sql import functions as F

    pairs = [(f"urim-{i}", f"urim-{j}") for i in range(8) for j in range(8)]
    df = spark.createDataFrame(pairs, "id_a string, id_b string")
    got = {
        (r.id_a, r.id_b)
        for r in df.filter(
            F.md5(F.concat_ws("|", "id_a", "id_b").cast("binary"))
            .startswith("0")).collect()
    }
    expected = {
        (a, b) for a, b in pairs
        if hashlib.md5(f"{a}|{b}".encode()).hexdigest().startswith("0")
    }
    assert got == expected and expected  # non-degenerate sample
    con = duckdb.connect()
    con.execute("CREATE TABLE p (id_a VARCHAR, id_b VARCHAR)")
    con.executemany("INSERT INTO p VALUES (?, ?)", pairs)
    duck = set(con.execute(
        "SELECT id_a, id_b FROM p WHERE md5(id_a || '|' || id_b) "
        "LIKE '0%'").fetchall())
    assert duck == expected


def test_lcs_sample_prefix_validated(monkeypatch):
    import importlib

    import off_topic_memento_toolkit_spark.queries_mat as qm

    monkeypatch.setenv("OTMT_ORACLE_LCS_SAMPLE", "0'; DROP TABLE x--")
    try:
        with __import__("pytest").raises(ValueError):
            importlib.reload(qm)
    finally:
        monkeypatch.delenv("OTMT_ORACLE_LCS_SAMPLE")
        importlib.reload(qm)


def test_lcs_kernel_repetitive_text_not_quadratic():
    """Periodic near-dup pairs (spam/boilerplate) must verify in rolling-hash
    time, not O(n*L): every same-parity window of "ab"*k shares one hash, and
    an eager window-set materialization did O(n*L) hashing per binary-search
    probe (250e9 chars at 1 MB inputs).  The lazy collision verify returns on
    the first compare; 200k-char periodic inputs must finish in seconds."""
    import time

    a = "ab" * 100_000
    b = "ab" * 99_000 + "x"
    start = time.time()
    lcs = longest_common_substring_length(a, b)
    assert lcs == 198_000
    assert time.time() - start < 20  # was minutes-to-OOM before the fix


def test_jaccard_verify_rejects_empty_token_pairs(spark):
    """empty ∪ empty scores 0.0 (not verifiable), never 1.0 — a pair of
    token-less pages from the raw-byte simhash channel must not be
    auto-confirmed into a dedup cluster without content evidence."""
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [(1, []), (2, []), (3, ["x", "y"]), (4, ["x", "y"])],
        "id long, tokens array<string>")
    pairs = spark.createDataFrame([(1, 2), (3, 4)], "id_a long, id_b long")
    got = verified_pairs_jaccard(pairs, docs, id_col="id",
                                 tokens_col="tokens", min_jaccard=0.5)
    assert [(r.id_a, r.id_b, r.jaccard_sim) for r in got.collect()] \
        == [(3, 4, 1.0)]


def test_simhash_pairs_max_hamming_beyond_default_chunks(spark):
    """max_hamming > chunks-1 must widen the slice join (pigeonhole needs
    >= h+1 slices), not silently lose pairs: at max_hamming=5 with the
    default 4 chunks, a pair whose 5 differing bits span 5 different
    16-bit slices collides on no chunk and was missed before the guard."""
    import itertools

    from off_topic_memento_toolkit_spark.operators.lsh import (
        chunks_for_hamming,
        simhash_candidate_pairs,
    )

    assert chunks_for_hamming(3) == 4 and chunks_for_hamming(3, 8) == 8
    assert chunks_for_hamming(5) == 8 and chunks_for_hamming(9) == 16

    base = 0x0123456789ABCDEF
    # 5 flipped bits, one in each of 5 different 8-bit slices — within
    # hamming 5 of base but sharing NO 16-bit (4-chunk) slice with it
    probe = base ^ ((1 << 0) | (1 << 17) | (1 << 34) | (1 << 51) | (1 << 8))
    rows = [(1, base), (2, probe), (3, base ^ 0x3F)]  # 3: hamming 6, out
    df = spark.createDataFrame(rows, "id long, simhash long")
    got = {(r.id_a, r.id_b) for r in simhash_candidate_pairs(
        df, id_col="id", simhash_col="simhash", max_hamming=5).collect()}
    want = {
        (a, b)
        for (a, ha), (b, hb) in itertools.combinations(rows, 2)
        if bin(ha ^ hb).count("1") <= 5
    }
    assert (1, 2) in want  # the probe pair really is within 5
    assert got == want


def test_connected_components_exhaustion_raises(spark):
    """Exhausting max_iterations without convergence must raise, never
    return silently fragmented labels (the final groupBy would assign each
    node the min of a PARTIAL neighborhood)."""
    import pytest

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(200)], "src long, dst long")
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iterations=1,
                             small_graph_threshold=0)
    # enough rounds: one component labeled by its min
    ok = connected_components(chain, small_graph_threshold=0)
    assert {r.component for r in ok.collect()} == {0}


def _fully_cached(spark, df):
    """True when every partition of ``df``'s cache is stored, read from the
    persistent-RDD storage info of the SparkContext."""
    cached = spark._jsparkSession.sharedState().cacheManager() \
        .lookupCachedData(df._jdf)
    assert cached.isDefined(), "frame is not persisted"
    rdd_id = cached.get().cachedRepresentation().cacheBuilder() \
        .cachedColumnBuffers().id()
    sc = spark.sparkContext._jsc.sc()
    assert sc.getPersistentRDDs().contains(rdd_id)
    info = [i for i in sc.getRDDStorageInfo() if i.id() == rdd_id]
    return bool(info) and \
        info[0].numCachedPartitions() == info[0].numPartitions()


def test_storeless_dedup_fills_docs_pin(spark, monkeypatch):
    """The storeless pipeline fills its docs pin before any consumer runs
    (the store path writes its docs stage first, too): the pin is fully
    cached by the time the CC stage starts — the first job a consumer
    submits — and still is once dedup_pipeline returns."""
    from off_topic_memento_toolkit_spark import session
    from off_topic_memento_toolkit_spark.plans import pipeline
    from off_topic_memento_toolkit_spark.queries import pages_from_documents

    def docs_pin():
        pins = [df for df in session._SESSION_PINS
                if "raw_simhash" in df.columns]
        assert len(pins) == 1
        return pins[0]

    filled_at_cc = []
    real_attach = pipeline.attach_components

    def spying_attach(*args, **kwargs):
        filled_at_cc.append(_fully_cached(spark, docs_pin()))
        return real_attach(*args, **kwargs)

    monkeypatch.setattr(pipeline, "attach_components", spying_attach)
    session.release_session_pins()
    try:
        pipeline.dedup_pipeline(
            pages_from_documents(spark, SF_DIR))
        assert filled_at_cc == [True]
        assert _fully_cached(spark, docs_pin())
    finally:
        session.release_session_pins()


def test_storeless_dedup_clusters_equal_store_path(spark, tmp_path):
    """Same input, same urim grouping with and without a checkpoint store."""
    from off_topic_memento_toolkit_spark.plans.checkpoints import (
        CheckpointStore,
    )
    from off_topic_memento_toolkit_spark.plans.pipeline import dedup_pipeline
    from off_topic_memento_toolkit_spark.queries import pages_from_documents
    from off_topic_memento_toolkit_spark.session import release_session_pins

    def grouping(clusters):
        groups = {}
        for r in clusters.collect():
            groups.setdefault(r.component, set()).add(r.urim)
        return {frozenset(g) for g in groups.values()}

    pages = pages_from_documents(spark, SF_DIR)
    try:
        storeless = grouping(dedup_pipeline(pages))
    finally:
        release_session_pins()
    stored = grouping(dedup_pipeline(
        pages, store=CheckpointStore(spark, str(tmp_path / "ck"))))
    assert storeless == stored
    assert sum(len(g) for g in stored) == pages.count()
