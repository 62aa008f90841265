"""Bucketed checkpoint layouts + row-level merge (the O(changed) promote).

The parquet CheckpointStore's merge is a partition-scoped rewrite: a new
snapshot version where untouched buckets are HARDLINKED from the previous
version and only the buckets the changed/deleted keys hash into are
re-written.  These tests pin the semantics (upsert/insert-if-absent/delete
equivalence against a full recompute), the physical claim (hardlinks — no
data movement for untouched buckets), the snapshot contract (time travel,
atomic marker, carried per-bucket counters), and the CLI promote wiring.
"""

import json
import os

import pytest
from pyspark.sql import functions as F

from off_topic_memento_toolkit_spark.plans.checkpoints import (
    BUCKET_COL,
    CheckpointStore,
    _bucket_expr,
)


def _rows(df):
    return {tuple(r) for r in df.collect()}


def _base_df(spark, n=40):
    return spark.range(n).select(
        F.col("id").alias("k"),
        F.concat(F.lit("v"), F.col("id")).alias("val"),
    )


def test_bucketed_write_roundtrip_and_marker(spark, tmp_path):
    store = CheckpointStore(spark, str(tmp_path / "ck"))
    df = _base_df(spark)
    out = store.write(df, "t", bucket_by=["k"], num_buckets=8)
    assert _rows(out) == _rows(df)
    assert _rows(store.read("t")) == _rows(df)
    assert BUCKET_COL not in store.read("t").columns

    marker = store.marker("t")
    assert marker["bucket_by"] == ["k"] and marker["num_buckets"] == 8
    assert marker["rows"] == 40
    # per-partition lineage counters are keyed by BUCKET for bucketed stages
    assert sum(p["rows"] for p in marker["per_partition_rows"]) == 40
    bucket_ids = {p["partition_id"] for p in marker["per_partition_rows"]}
    assert bucket_ids <= set(range(8))


def test_merge_upsert_and_delete_equal_full_recompute(spark, tmp_path):
    store = CheckpointStore(spark, str(tmp_path / "ck"))
    df = _base_df(spark)
    store.write(df, "t", bucket_by=["k"], num_buckets=8)

    changes = spark.createDataFrame(
        [(3, "UPDATED"), (100, "NEW")], "k long, val string")
    deletes = spark.createDataFrame([(7,), (8,)], "k long")
    merged = store.merge("t", changes=changes, delete_keys=deletes)

    expected = {(i, f"v{i}") for i in range(40) if i not in (3, 7, 8)}
    expected |= {(3, "UPDATED"), (100, "NEW")}
    assert _rows(merged) == expected
    assert _rows(store.read("t")) == expected

    marker = store.marker("t")
    assert marker["rows"] == len(expected)
    assert sum(p["rows"] for p in marker["per_partition_rows"]) \
        == len(expected)
    # snapshot contract: v1 is intact (time travel) and v2 is current
    assert store.versions("t") == [1, 2]
    assert _rows(store.read("t", version=1)) == _rows(df)


def test_merge_untouched_buckets_are_hardlinked(spark, tmp_path):
    """The physical O(changed) claim: buckets no key hashes into are
    hardlinks of the previous version's files (same inode, no rewrite);
    touched buckets get fresh files."""
    store = CheckpointStore(spark, str(tmp_path / "ck"))
    store.write(_base_df(spark), "t", bucket_by=["k"], num_buckets=8)

    changes = spark.createDataFrame([(3, "UPDATED")], "k long, val string")
    touched = changes.select(
        _bucket_expr(["k"], 8).alias("b")).first().b
    store.merge("t", changes=changes)

    v1 = store._version_dir("t", 1)
    v2 = store._version_dir("t", 2)
    checked_untouched = 0
    for entry in os.listdir(v2):
        if not entry.startswith(f"{BUCKET_COL}="):
            continue
        bucket_id = int(entry.split("=", 1)[1])
        v2_files = {
            name: os.stat(os.path.join(v2, entry, name)).st_ino
            for name in os.listdir(os.path.join(v2, entry))
        }
        if bucket_id == touched:
            v1_inodes = {
                os.stat(os.path.join(v1, entry, name)).st_ino
                for name in os.listdir(os.path.join(v1, entry))
            }
            assert not (set(v2_files.values()) & v1_inodes)
        else:
            for name, ino in v2_files.items():
                assert os.stat(os.path.join(v1, entry, name)).st_ino == ino
            checked_untouched += 1
    assert checked_untouched >= 1  # non-vacuous


def test_merge_insert_only_is_insert_if_absent(spark, tmp_path):
    store = CheckpointStore(spark, str(tmp_path / "ck"))
    store.write(_base_df(spark, 10), "t", bucket_by=["k"], num_buckets=4)
    changes = spark.createDataFrame(
        [(5, "DUPE-ATTEMPT"), (50, "NEW")], "k long, val string")
    merged = store.merge("t", changes=changes, insert_only=True)
    expected = {(i, f"v{i}") for i in range(10)} | {(50, "NEW")}
    assert _rows(merged) == expected
    # idempotent: replaying the same changes adds nothing
    again = store.merge("t", changes=changes, insert_only=True)
    assert _rows(again) == expected
    assert store.marker("t")["rows"] == len(expected)


def test_merge_multi_row_key_insert_only(spark, tmp_path):
    """bands-shaped table: several rows per bucket key; insert_only on the
    key admits every row of an absent key and none of a present one."""
    store = CheckpointStore(spark, str(tmp_path / "ck"))
    base = spark.createDataFrame(
        [(1, 0, 10), (1, 1, 11), (2, 0, 20)], "id long, band int, h long")
    store.write(base, "t", bucket_by=["id"], num_buckets=4)
    changes = spark.createDataFrame(
        [(2, 1, 21), (3, 0, 30), (3, 1, 31)], "id long, band int, h long")
    merged = store.merge("t", changes=changes, insert_only=True, on=["id"])
    # id 2 already present → its new row is skipped; id 3 fully inserted
    assert _rows(merged) == _rows(base) | {(3, 0, 30), (3, 1, 31)}


def test_merge_guards(spark, tmp_path):
    store = CheckpointStore(spark, str(tmp_path / "ck"))
    store.write(_base_df(spark, 5), "plain")  # unbucketed
    with pytest.raises(ValueError, match="not bucketed"):
        store.merge("plain",
                    changes=spark.createDataFrame([(1, "x")],
                                                  "k long, val string"))
    store.write(_base_df(spark, 5), "b", bucket_by=["k"], num_buckets=4)
    with pytest.raises(ValueError, match="bucket key"):
        store.merge("b", changes=_base_df(spark, 1), on=["val"])


def test_merge_empty_changes_is_metadata_only_version(spark, tmp_path):
    store = CheckpointStore(spark, str(tmp_path / "ck"))
    df = _base_df(spark, 12)
    store.write(df, "t", bucket_by=["k"], num_buckets=4)
    empty = spark.createDataFrame([], "k long, val string")
    merged = store.merge("t", changes=empty, delete_keys=empty.select("k"))
    assert _rows(merged) == _rows(df)
    assert store.versions("t") == [1, 2]
    assert store.marker("t")["rows"] == 12


def test_empty_bucketed_stage_write_read_merge(spark, tmp_path):
    """An empty bucketed stage has no data file to infer a schema from (a
    dedup batch with no near-dup pair commits an empty verified_edges):
    it is written, read back, time-travelled and merged into with the
    schema its marker records."""
    store = CheckpointStore(spark, str(tmp_path / "ck"))
    empty = spark.createDataFrame([], "id_a long, id_b long")
    out = store.write(empty, "verified_edges", bucket_by=["id_a"],
                      num_buckets=4)
    assert out.dtypes == empty.dtypes and out.count() == 0
    marker = store.marker("verified_edges")
    assert marker["rows"] == 0 and marker["partitions"] == 0
    assert store.read("verified_edges").dtypes == empty.dtypes

    # an empty merge into the empty stage commits a version with no files
    store.merge("verified_edges", changes=empty)
    assert store.read("verified_edges").dtypes == empty.dtypes
    assert store.read("verified_edges").count() == 0

    changes = spark.createDataFrame([(1, 2), (3, 4)], "id_a long, id_b long")
    merged = store.merge("verified_edges", changes=changes)
    assert _rows(merged) == {(1, 2), (3, 4)}
    assert _rows(store.read("verified_edges")) == {(1, 2), (3, 4)}
    assert store.marker("verified_edges")["rows"] == 2
    assert store.versions("verified_edges") == [1, 2, 3]
    first = store.read("verified_edges", version=1)
    assert first.dtypes == empty.dtypes and first.count() == 0


def test_merge_then_expire_keeps_current_readable(spark, tmp_path):
    """expire_snapshots after a merge removes v1; v2's hardlinked files
    survive the rmtree (link count drops, inode lives)."""
    store = CheckpointStore(spark, str(tmp_path / "ck"))
    df = _base_df(spark, 16)
    store.write(df, "t", bucket_by=["k"], num_buckets=4)
    changes = spark.createDataFrame([(0, "U")], "k long, val string")
    store.merge("t", changes=changes)
    removed = store.expire_snapshots("t", keep=1)
    assert removed and store.versions("t") == [2]
    expected = {(i, f"v{i}") for i in range(1, 16)} | {(0, "U")}
    assert _rows(store.read("t")) == expected


def test_cli_promote_is_row_level(spark, tmp_path):
    """dedup → ingest --promote: the promoted v2 state reuses v1's files
    for untouched buckets (hardlinks — the corpus was NOT rewritten), and
    marker row counts stay consistent (docs == clusters)."""
    from off_topic_memento_toolkit_spark.cli import main
    from off_topic_memento_toolkit_spark.queries import pages_from_documents

    pages = pages_from_documents(spark, "/root/testdata/sf0.001")
    hour = F.unix_timestamp("warc_ts") / 3600
    base_pages = pages.filter(hour % 5 != 0)
    inc_pages = pages.filter(hour % 5 == 0)
    base_src, inc_src = str(tmp_path / "b"), str(tmp_path / "i")
    base_pages.write.parquet(base_src)
    inc_pages.write.parquet(inc_src)
    ck = str(tmp_path / "ck")
    # enough buckets that a 100-doc batch leaves most untouched (the
    # hardlink assertion below is about O(touched) writes, which needs
    # keys ≪ buckets — exactly the corpus-scale shape)
    main(["dedup", "-i", f"pages:{base_src}", "-o", str(tmp_path / "c"),
          "--checkpoint-dir", ck, "--state-buckets", "256"], spark=spark)
    main(["ingest", "-i", f"pages:{inc_src}", "--base-checkpoint-dir", ck,
          "-o", str(tmp_path / "m"), "--promote"], spark=spark)

    store = CheckpointStore(spark, ck)
    for stage in ("docs", "bands", "verified_edges", "clusters"):
        marker = store.marker(stage)
        assert marker["version"] == 2 and marker["bucket_by"]
        v1 = store._version_dir(stage, 1)
        v2 = store._version_dir(stage, 2)
        shared = 0
        for entry in os.listdir(v2):
            if not entry.startswith(f"{BUCKET_COL}="):
                continue
            for name in os.listdir(os.path.join(v2, entry)):
                src = os.path.join(v1, entry, name)
                if os.path.exists(src) and os.stat(src).st_ino == \
                        os.stat(os.path.join(v2, entry, name)).st_ino:
                    shared += 1
        assert shared >= 1, f"{stage}: promote rewrote every bucket"
    assert store.marker("docs")["rows"] == store.marker("clusters")["rows"]

    # the marker JSON on disk is well-formed and carries the bucket spec
    with open(store._marker("clusters")) as fh:
        assert json.load(fh)["bucket_by"] == ["urim"]
