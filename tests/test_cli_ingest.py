"""CLI `ingest` — incremental dedup over a prior `dedup --checkpoint-dir`
run: merged clusters equal a full-batch recompute, and `--promote` versions
the base state so a second increment chains."""

from pyspark.sql import functions as F

from off_topic_memento_toolkit_spark.cli import main
from off_topic_memento_toolkit_spark.plans.checkpoints import CheckpointStore
from off_topic_memento_toolkit_spark.plans.pipeline import dedup_pipeline
from off_topic_memento_toolkit_spark.queries import pages_from_documents

SF_DIR = "/root/testdata/sf0.001"


def _clusters(df):
    return {r.urim: r.component for r in df.collect()}


def test_cli_ingest_end_to_end(spark, tmp_path):
    pages = pages_from_documents(spark, SF_DIR)
    hour = F.unix_timestamp("warc_ts") / 3600
    base_pages = pages.filter(hour % 5 >= 2)        # ~3/5
    inc1_pages = pages.filter(hour % 5 == 0)        # ~1/5
    inc2_pages = pages.filter(hour % 5 == 1)        # ~1/5

    base_src = str(tmp_path / "base_pages")
    inc1_src = str(tmp_path / "inc1_pages")
    inc2_src = str(tmp_path / "inc2_pages")
    base_pages.write.parquet(base_src)
    inc1_pages.write.parquet(inc1_src)
    inc2_pages.write.parquet(inc2_src)

    ck = str(tmp_path / "ck")
    base_out = str(tmp_path / "base_clusters")
    # CLI dedup/ingest run with BOTH candidate channels (defaults), so the
    # expected clusters below are computed like-for-like with the simhash
    # channel enabled too
    main(["dedup", "-i", f"pages:{base_src}", "-o", base_out,
          "--checkpoint-dir", ck], spark=spark)
    store = CheckpointStore(spark, ck)
    assert store.is_committed("bands")  # the new checkpointed band stage

    inc_out = str(tmp_path / "merged1")
    main(["ingest", "-i", f"pages:{inc1_src}", "--base-checkpoint-dir", ck,
          "-o", inc_out, "--checkpoint-dir", str(tmp_path / "ick1"),
          "--promote"], spark=spark)

    got = _clusters(spark.read.parquet(inc_out))
    want = _clusters(dedup_pipeline(base_pages.unionByName(inc1_pages)))
    assert got == want and len(got) > 0

    # --promote versioned the base state: docs/bands/clusters now at v2
    assert store.versions("clusters") == [1, 2]
    assert store.versions("bands") == [1, 2]

    # second increment chains against the promoted corpus
    inc2_out = str(tmp_path / "merged2")
    main(["ingest", "-i", f"pages:{inc2_src}", "--base-checkpoint-dir", ck,
          "-o", inc2_out, "--checkpoint-dir", str(tmp_path / "ick2")],
         spark=spark)
    got2 = _clusters(spark.read.parquet(inc2_out))
    want2 = _clusters(dedup_pipeline(pages))
    assert got2 == want2


def _distinct_pages(spark, prefix, n):
    """Pages whose texts share no word: no candidate survives verify."""
    from datetime import datetime

    rows = [
        (f"http://nodup.example/{prefix}{i}", datetime(2024, 1, 1, i),
         ("<html><body><p>" + " ".join(
             f"{prefix}{i}w{j}" for j in range(60)) + "</p></body></html>"
          ).encode(), None, "en")
        for i in range(n)
    ]
    return spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, "
              "lang string")


def test_cli_dedup_and_promote_without_near_dup_pairs(spark, tmp_path):
    """A checkpointed dedup batch with no near-dup pair commits every stage
    (verified_edges with 0 rows), and an ingest --promote on top works."""
    base_src = str(tmp_path / "base_pages")
    inc_src = str(tmp_path / "inc_pages")
    _distinct_pages(spark, "a", 8).write.parquet(base_src)
    _distinct_pages(spark, "b", 4).write.parquet(inc_src)
    ck = str(tmp_path / "ck")
    main(["dedup", "-i", f"pages:{base_src}", "-o", str(tmp_path / "c"),
          "--checkpoint-dir", ck], spark=spark)
    store = CheckpointStore(spark, ck)
    for stage in ("docs", "bands", "candidate_edges", "verified_edges",
                  "clusters"):
        assert store.is_committed(stage), stage
    assert store.marker("verified_edges")["rows"] == 0
    assert store.marker("clusters")["rows"] == 8

    out = str(tmp_path / "merged")
    main(["ingest", "-i", f"pages:{inc_src}", "--base-checkpoint-dir", ck,
          "-o", out, "--promote"], spark=spark)
    merged = _clusters(spark.read.parquet(out))
    assert len(merged) == 12 and len(set(merged.values())) == 12
    assert store.versions("clusters") == [1, 2]
    assert store.marker("clusters")["rows"] == 12
    assert store.read("verified_edges").count() == 0


def test_cli_takedown_end_to_end(spark, tmp_path):
    """Two chained takedowns with --promote: each equals a from-scratch
    dedup over the surviving pages (cap never crossed at this SF), and the
    promoted state (docs/bands/edges purged) chains correctly."""
    pages = pages_from_documents(spark, SF_DIR)
    src = str(tmp_path / "pages")
    pages.write.parquet(src)
    ck = str(tmp_path / "ck")
    main(["dedup", "-i", f"pages:{src}", "-o", str(tmp_path / "c0"),
          "--checkpoint-dir", ck], spark=spark)
    store = CheckpointStore(spark, ck)

    clusters0 = spark.read.parquet(str(tmp_path / "c0"))
    all_urims = sorted(r.urim for r in clusters0.select("urim").collect())
    batch1, batch2 = all_urims[::7], all_urims[3::11]
    batch2 = [u for u in batch2 if u not in batch1]

    rm1 = tmp_path / "rm1.txt"
    rm1.write_text("\n".join(batch1) + "\n")
    out1 = str(tmp_path / "t1")
    main(["takedown", "--base-checkpoint-dir", ck, "--remove", str(rm1),
          "-o", out1, "--promote"], spark=spark)

    got1 = _clusters(spark.read.parquet(out1))
    from off_topic_memento_toolkit_spark.operators.timeline import (
        with_memento_identity,
    )
    pages_idd = with_memento_identity(pages)
    keep1 = pages_idd.filter(~pages_idd.urim.isin(batch1)) \
        .drop("urim", "urit")
    want1 = _clusters(dedup_pipeline(keep1))
    assert got1 == want1
    assert set(got1).isdisjoint(batch1) and len(got1) > 0

    # promoted state is purged: v2 everywhere, no removed urim/nid remains
    assert store.versions("clusters") == [1, 2]
    assert store.versions("verified_edges") == [1, 2]
    removed_nids = {r.nid for r in pages_idd.filter(
        pages_idd.urim.isin(batch1)).select(
        F.xxhash64("urim").alias("nid")).collect()}
    edges2 = store.read("verified_edges")
    assert edges2.filter(edges2.id_a.isin(list(removed_nids)) |
                         edges2.id_b.isin(list(removed_nids))).count() == 0

    # second takedown chains against the promoted state
    rm2 = tmp_path / "rm2.txt"
    rm2.write_text("\n".join(batch2) + "\n")
    out2 = str(tmp_path / "t2")
    main(["takedown", "--base-checkpoint-dir", ck, "--remove", str(rm2),
          "-o", out2], spark=spark)
    got2 = _clusters(spark.read.parquet(out2))
    keep2 = pages_idd.filter(~pages_idd.urim.isin(batch1 + batch2)) \
        .drop("urim", "urit")
    want2 = _clusters(dedup_pipeline(keep2))
    assert got2 == want2


def test_cli_ingest_reingest_overlap(spark, tmp_path):
    """A batch that overlaps the base (re-crawled pages) must not duplicate
    rows: merged output lists each urim once, and --promote keeps
    docs/bands free of duplicate nids."""
    pages = pages_from_documents(spark, SF_DIR)
    hour = F.unix_timestamp("warc_ts") / 3600
    base_pages = pages.filter(hour % 5 != 0)
    # the "new" batch: the delta plus a slice RE-INGESTED from the base
    overlap = base_pages.filter(hour % 7 == 0)
    inc_pages = pages.filter(hour % 5 == 0).unionByName(overlap)

    base_src, inc_src = str(tmp_path / "b"), str(tmp_path / "i")
    base_pages.write.parquet(base_src)
    inc_pages.write.parquet(inc_src)
    ck = str(tmp_path / "ck")
    main(["dedup", "-i", f"pages:{base_src}", "-o", str(tmp_path / "c0"),
          "--checkpoint-dir", ck], spark=spark)
    out = str(tmp_path / "m")
    main(["ingest", "-i", f"pages:{inc_src}", "--base-checkpoint-dir", ck,
          "-o", out, "--promote"], spark=spark)

    merged = spark.read.parquet(out)
    assert merged.count() == merged.select("urim").distinct().count()
    assert merged.count() == pages.count()  # every doc listed exactly once

    store = CheckpointStore(spark, ck)
    docs2 = store.read("docs")
    assert docs2.count() == docs2.select("nid").distinct().count()
    bands2 = store.read("bands")
    per_doc_bands = bands2.groupBy("id").count().select("count").distinct()
    assert [r["count"] for r in per_doc_bands.collect()] == [32]


def test_cli_ingest_then_takedown_compose(spark, tmp_path):
    """dedup → ingest --promote → takedown: the takedown must see the
    increment's verified edges (promoted into the evidence table) or the
    merged clusters would repair with missing connectivity."""
    pages = pages_from_documents(spark, SF_DIR)
    hour = F.unix_timestamp("warc_ts") / 3600
    base_pages = pages.filter(hour % 5 != 0)
    inc_pages = pages.filter(hour % 5 == 0)
    base_src, inc_src = str(tmp_path / "b"), str(tmp_path / "i")
    base_pages.write.parquet(base_src)
    inc_pages.write.parquet(inc_src)

    ck = str(tmp_path / "ck")
    main(["dedup", "-i", f"pages:{base_src}", "-o", str(tmp_path / "c0"),
          "--checkpoint-dir", ck], spark=spark)
    main(["ingest", "-i", f"pages:{inc_src}", "--base-checkpoint-dir", ck,
          "-o", str(tmp_path / "m"), "--promote"], spark=spark)

    store = CheckpointStore(spark, ck)
    assert store.versions("verified_edges") == [1, 2]

    merged = _clusters(spark.read.parquet(str(tmp_path / "m")))
    removed = sorted(merged)[::6]
    rm = tmp_path / "rm.txt"
    rm.write_text("\n".join(removed) + "\n")
    out = str(tmp_path / "t")
    main(["takedown", "--base-checkpoint-dir", ck, "--remove", str(rm),
          "-o", out], spark=spark)
    got = _clusters(spark.read.parquet(out))

    from off_topic_memento_toolkit_spark.operators.timeline import (
        with_memento_identity,
    )
    pages_idd = with_memento_identity(pages)
    keep = pages_idd.filter(~pages_idd.urim.isin(removed)) \
        .drop("urim", "urit")
    want = _clusters(dedup_pipeline(keep))
    assert got == want and len(got) > 0


def test_cli_ingest_guards(spark, tmp_path):
    """Round-4 review hardening: signature-parameter mismatch is a hard
    error (silent zero-recall otherwise); a mid-promote-inconsistent base
    is detected O(1) from the commit markers; takedown refuses a removal
    list that matches nothing and tolerates CRLF."""
    import pytest

    pages = pages_from_documents(spark, SF_DIR)
    src = str(tmp_path / "p")
    pages.write.parquet(src)
    ck = str(tmp_path / "ck")
    main(["dedup", "-i", f"pages:{src}", "-o", str(tmp_path / "c"),
          "--checkpoint-dir", ck, "--bands", "16", "--num-perm", "64"],
         spark=spark)
    store = CheckpointStore(spark, ck)
    assert store.is_committed("params")

    # mismatched signature space → hard error naming the offending flags
    with pytest.raises(SystemExit, match="signature parameters"):
        main(["ingest", "-i", f"pages:{src}", "--base-checkpoint-dir", ck,
              "-o", str(tmp_path / "o")], spark=spark)

    # matching params pass the gate (and CRLF-terminated removal lists
    # still match after trimming)
    rm = tmp_path / "rm.txt"
    some = [r.urim for r in
            spark.read.parquet(str(tmp_path / "c")).limit(3).collect()]
    rm.write_bytes(("\r\n".join(some) + "\r\n").encode())
    main(["takedown", "--base-checkpoint-dir", ck, "--remove", str(rm),
          "-o", str(tmp_path / "t")], spark=spark)
    survivors = spark.read.parquet(str(tmp_path / "t"))
    assert survivors.filter(survivors.urim.isin(some)).count() == 0

    # a list matching NOTHING is a hard error, not a silent no-op
    rm2 = tmp_path / "rm2.txt"
    rm2.write_text("http://nowhere.example/ghost\n")
    with pytest.raises(SystemExit, match="0 of 1 removal entries"):
        main(["takedown", "--base-checkpoint-dir", ck, "--remove",
              str(rm2), "-o", str(tmp_path / "t2")], spark=spark)

    # a RESUMED dedup with different flags must refuse (it would reuse
    # committed stages from the other signature space)
    with pytest.raises(SystemExit, match="signature parameters"):
        main(["dedup", "-i", f"pages:{src}", "-o", str(tmp_path / "c2"),
              "--checkpoint-dir", ck], spark=spark)

    # simulate a crashed promote: docs stage re-committed with extra rows,
    # clusters left behind → the next ingest AND a label-only takedown
    # refuse to run; --repair bypasses the guard for the prescribed retry
    docs = store.read("docs")
    store.write(docs.unionByName(docs.limit(1)), "docs")
    with pytest.raises(SystemExit, match="mid-promote inconsistent"):
        main(["ingest", "-i", f"pages:{src}", "--base-checkpoint-dir", ck,
              "-o", str(tmp_path / "o2"), "--bands", "16",
              "--num-perm", "64"], spark=spark)
    with pytest.raises(SystemExit, match="mid-promote inconsistent"):
        main(["takedown", "--base-checkpoint-dir", ck, "--remove", str(rm),
              "-o", str(tmp_path / "t3")], spark=spark)
    main(["ingest", "-i", f"pages:{src}", "--base-checkpoint-dir", ck,
          "-o", str(tmp_path / "o3"), "--bands", "16", "--num-perm", "64",
          "--repair"], spark=spark)
    repaired = spark.read.parquet(str(tmp_path / "o3"))
    assert repaired.count() == repaired.select("urim").distinct().count()


def test_cli_stream_candidates_mode(spark, tmp_path):
    """`stream --mode candidates`: drains the delta against the dedup
    checkpoint's bands stage and lands new-vs-base candidate pairs."""
    pages = pages_from_documents(spark, SF_DIR)
    hour = F.unix_timestamp("warc_ts") / 3600
    base_pages = pages.filter(hour % 5 != 0)
    new_pages = pages.filter(hour % 5 == 0)
    base_src = str(tmp_path / "b")
    new_src = str(tmp_path / "n")
    base_pages.write.parquet(base_src)
    new_pages.write.parquet(new_src)
    ck = str(tmp_path / "ck")
    main(["dedup", "-i", f"pages:{base_src}", "-o", str(tmp_path / "c"),
          "--checkpoint-dir", ck], spark=spark)
    out = str(tmp_path / "cands")
    main(["stream", "-i", new_src, "-o", out,
          "--checkpoint", str(tmp_path / "sck"),
          "--mode", "candidates", "--base-checkpoint-dir", ck, "--once"],
         spark=spark)
    result = spark.read.parquet(out)
    assert result.count() > 0
    assert {"id_new", "id_base"} <= set(result.columns)
    # every emitted base endpoint exists in the checkpointed corpus
    store = CheckpointStore(spark, ck)
    base_ids = {r.nid for r in
                store.read("docs").select("nid").collect()}
    assert {r.id_base for r in result.collect()} <= base_ids


def test_cli_stream_candidates_uses_stored_params(spark, tmp_path):
    """A base built with NON-default signature params: the stream channel
    must read them from the checkpoint's params stage — hardcoded defaults
    would hash the delta into a different band space and emit nothing."""
    pages = pages_from_documents(spark, SF_DIR)
    hour = F.unix_timestamp("warc_ts") / 3600
    base_src = str(tmp_path / "b")
    new_src = str(tmp_path / "n")
    pages.filter(hour % 5 != 0).write.parquet(base_src)
    pages.filter(hour % 5 == 0).write.parquet(new_src)
    ck = str(tmp_path / "ck")
    main(["dedup", "-i", f"pages:{base_src}", "-o", str(tmp_path / "c"),
          "--checkpoint-dir", ck, "--bands", "16", "--num-perm", "64"],
         spark=spark)
    out = str(tmp_path / "cands")
    main(["stream", "-i", new_src, "-o", out,
          "--checkpoint", str(tmp_path / "sck"),
          "--mode", "candidates", "--base-checkpoint-dir", ck, "--once"],
         spark=spark)
    assert spark.read.parquet(out).count() > 0


def test_cli_store_backend_selection(spark, tmp_path):
    """ingest/takedown demand a backend; --catalog without the Iceberg jar
    errors (sandbox has none); dir+catalog together is rejected."""
    import pytest

    src = str(tmp_path / "p")
    pages_from_documents(spark, SF_DIR).limit(3).write.parquet(src)

    with pytest.raises(SystemExit, match="checkpoint backend"):
        main(["ingest", "-i", f"pages:{src}",
              "-o", str(tmp_path / "o1")], spark=spark)
    with pytest.raises(SystemExit, match="checkpoint backend"):
        main(["takedown", "--remove", src,
              "-o", str(tmp_path / "o2")], spark=spark)
    with pytest.raises(SystemExit, match="Iceberg Spark runtime"):
        main(["ingest", "-i", f"pages:{src}", "--base-catalog", "cat.ns",
              "-o", str(tmp_path / "o3")], spark=spark)
    with pytest.raises(SystemExit, match="not both"):
        main(["dedup", "-i", f"pages:{src}", "-o", str(tmp_path / "o4"),
              "--checkpoint-dir", str(tmp_path / "ck"),
              "--catalog", "cat"], spark=spark)


def test_cli_ingest_requires_base_stages(spark, tmp_path):
    import pytest

    src = str(tmp_path / "pages")
    pages_from_documents(spark, SF_DIR).limit(5).write.parquet(src)
    with pytest.raises(SystemExit, match="docs"):
        main(["ingest", "-i", f"pages:{src}",
              "--base-checkpoint-dir", str(tmp_path / "empty"),
              "-o", str(tmp_path / "out")], spark=spark)


def test_stream_candidates_with_periodic_batch_merge_compose(spark,
                                                             tmp_path):
    """The composed lifecycle (streaming/ingest.py stream-static channel +
    operators/incremental.py batch merge): a stream drains candidates for
    each delta while a periodic batch `ingest --promote` folds the delta in
    and promotes the corpus state.  The second stream round must join
    against the PROMOTED bands (its base endpoints include round-1 docs),
    and the final clusters equal a batch-only rerun over everything."""
    pages = pages_from_documents(spark, SF_DIR)
    hour = F.unix_timestamp("warc_ts") / 3600
    base_pages = pages.filter(hour % 5 >= 2)
    delta1 = pages.filter(hour % 5 == 0)
    delta2 = pages.filter(hour % 5 == 1)
    srcs = {}
    for name, df in [("b", base_pages), ("d1", delta1), ("d2", delta2)]:
        srcs[name] = str(tmp_path / name)
        df.write.parquet(srcs[name])

    ck = str(tmp_path / "ck")
    main(["dedup", "-i", f"pages:{srcs['b']}", "-o", str(tmp_path / "c0"),
          "--checkpoint-dir", ck], spark=spark)
    store = CheckpointStore(spark, ck)

    def drain_and_ingest(round_id, src):
        cands = str(tmp_path / f"cands{round_id}")
        main(["stream", "-i", src, "-o", cands,
              "--checkpoint", str(tmp_path / f"sck{round_id}"),
              "--mode", "candidates", "--base-checkpoint-dir", ck,
              "--once"], spark=spark)
        main(["ingest", "-i", f"pages:{src}", "--base-checkpoint-dir", ck,
              "-o", str(tmp_path / f"m{round_id}"),
              "--checkpoint-dir", str(tmp_path / f"ick{round_id}"),
              "--promote"], spark=spark)
        return spark.read.parquet(cands)

    cands1 = drain_and_ingest(1, srcs["d1"])
    assert cands1.count() > 0
    assert store.marker("clusters")["version"] == 2  # promote landed

    cands2 = drain_and_ingest(2, srcs["d2"])
    assert store.marker("clusters")["version"] == 3

    # the second stream joined the PROMOTED corpus: every base endpoint it
    # emitted exists in the promoted docs table (which grew by delta 1)
    base2_endpoints = {r.id_base for r in cands2.collect()}
    all_base_nids = {r.nid for r in store.read("docs")
                     .select("nid").collect()}
    assert base2_endpoints <= all_base_nids
    assert store.marker("docs")["rows"] == pages.count()

    # convergence: composed lifecycle == batch-only rerun over everything
    got = _clusters(spark.read.parquet(str(tmp_path / "m2")))
    want = _clusters(dedup_pipeline(pages))
    assert got == want


def test_cli_ingest_repair_after_docs_bands_crash_window(spark, tmp_path):
    """A promote crash BETWEEN the docs and bands commits (docs carries the
    batch, bands does not) must repair convergently: the --repair rerun has
    to re-insert the batch's band rows.  A re-ingest guard derived from the
    docs table alone would anti-join them away forever — every later ingest
    would silently miss near-dups against this batch."""
    pages = pages_from_documents(spark, SF_DIR)
    hour = F.unix_timestamp("warc_ts") / 3600
    base_pages = pages.filter(hour % 5 != 0)
    inc_pages = pages.filter(hour % 5 == 0)
    base_src, inc_src = str(tmp_path / "b"), str(tmp_path / "i")
    base_pages.write.parquet(base_src)
    inc_pages.write.parquet(inc_src)

    ck = str(tmp_path / "ck")
    main(["dedup", "-i", f"pages:{base_src}", "-o", str(tmp_path / "c0"),
          "--checkpoint-dir", ck], spark=spark)
    store = CheckpointStore(spark, ck)

    # snapshot the v1 commit markers, run the full promote, then restore
    # them for every stage AFTER docs in the promote order — byte-exact
    # simulation of a crash after the docs commit (the marker swing IS the
    # commit point; later version dirs become orphans, as in a real crash)
    import shutil
    saved = {}
    for stage in ("bands", "verified_edges", "clusters"):
        saved[stage] = tmp_path / f"{stage}.marker.v1"
        shutil.copy(store._marker(stage), saved[stage])
    main(["ingest", "-i", f"pages:{inc_src}", "--base-checkpoint-dir", ck,
          "-o", str(tmp_path / "m_crashed"), "--checkpoint-dir",
          str(tmp_path / "ick1"), "--promote"], spark=spark)
    for stage, marker in saved.items():
        shutil.copy(marker, store._marker(stage))
    assert store.marker("docs")["version"] == 2       # batch promoted
    assert store.marker("bands")["version"] == 1      # batch lost

    # the detector trips without --repair
    import pytest
    with pytest.raises(SystemExit, match="mid-promote inconsistent"):
        main(["ingest", "-i", f"pages:{inc_src}", "--base-checkpoint-dir",
              ck, "-o", str(tmp_path / "m2"), "--checkpoint-dir",
              str(tmp_path / "ick2"), "--promote"], spark=spark)

    # the prescribed retry: SAME batch + --repair
    main(["ingest", "-i", f"pages:{inc_src}", "--base-checkpoint-dir", ck,
          "-o", str(tmp_path / "m3"), "--checkpoint-dir",
          str(tmp_path / "ick3"), "--promote", "--repair"], spark=spark)

    # converged: every batch doc has its full band rows back, no stage has
    # duplicates, and the promoted clusters equal a batch-only recompute
    docs = store.read("docs")
    bands = store.read("bands")
    assert docs.count() == docs.select("nid").distinct().count()
    from off_topic_memento_toolkit_spark.operators.timeline import (
        with_memento_identity,
    )
    inc_nids = [r.nid for r in
                with_memento_identity(spark.read.parquet(inc_src))
                .select(F.xxhash64("urim").alias("nid")).distinct()
                .collect()]
    per_doc = bands.filter(bands.id.isin(inc_nids)) \
        .groupBy("id").count()
    assert per_doc.count() == len(inc_nids)
    assert {r["count"] for r in per_doc.collect()} == {32}
    got = _clusters(store.read("clusters"))
    want = _clusters(dedup_pipeline(pages))
    assert got == want
