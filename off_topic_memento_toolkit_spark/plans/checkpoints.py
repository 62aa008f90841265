"""Stage checkpointing with per-partition lineage, ATOMIC snapshot commits,
and commit markers (resume + reader isolation).

The reference's resumability is a directory store reloaded via metadata.csv
manifests (otmt/collectionmodel.py:143-234).  Here every pipeline stage write
is a SNAPSHOT commit with Iceberg-style semantics (implemented directly,
since the sandbox has no Iceberg runtime jar):

- each commit writes parquet into a fresh ``<stage>/v{N}`` directory carrying
  lineage columns ``(run_id, stage, _partition_id)``;
- the stage's ``_COMMIT.json`` marker (row/partition counters + the committed
  data path) is swung with ``os.replace`` — POSIX-atomic, so a reader NEVER
  observes a half-written table: a kill mid-write leaves an orphan version
  directory and the previous snapshot fully intact;
- re-writing a stage is snapshot isolation for concurrent readers: the old
  version's files are never touched, only the marker moves;
- old versions remain addressable (``read(stage, version=n)`` /
  ``versions(stage)``) — time travel for debugging a resumed run.

A killed job relaunched with the same ``checkpoint_root`` skips every
committed stage (north_rule: "checkpoints signatures, candidate edges and
cluster ids ... with per-partition lineage and counters so a killed job
resumes mid-pipeline").

Format note: on a cluster with the Iceberg runtime jar, the SAME contract is
emitted as catalog tables by :class:`IcebergCheckpointStore`
(``writeTo(...).createOrReplace()`` = Iceberg's own atomic snapshot commit,
snapshot-id time travel, ``expire_snapshots`` maintenance), exercised by the
jar-guarded contract test; the versioned-directory implementation is the
sandbox-tested path with identical atomicity / isolation / time-travel
semantics.
"""

import base64
import json
import os
import re
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

# 6+ digits: the formatter zero-pads to 6 but emits wider past v999999 —
# the parser must accept any width the formatter can produce
_VDIR = re.compile(r"^v(\d{6,})$")

# hash-bucket column for key-clustered stage layouts (enables the
# partition-scoped merge path: an upsert/delete rewrites only the buckets
# its keys hash into, never the corpus)
BUCKET_COL = "_bucket"
_LINEAGE_COLS = ("_partition_id", "_run_id", "_stage", BUCKET_COL)


def _bucket_expr(bucket_by: list, num_buckets: int):
    """Deterministic bucket id for a key — MUST be identical across
    versions/runs or a merge would look for keys in the wrong buckets."""
    return F.pmod(F.xxhash64(*[F.col(c) for c in bucket_by]),
                  F.lit(num_buckets)).cast("int")


def _with_lineage(df: DataFrame, run_id: str, stage: str) -> DataFrame:
    """The per-partition lineage columns every backend commits with."""
    return (
        df.withColumn("_partition_id", F.spark_partition_id())
        .withColumn("_run_id", F.lit(run_id))
        .withColumn("_stage", F.lit(stage))
    )


def _per_partition_counts(persisted: DataFrame, key: str = "_partition_id") -> list:
    """Per-partition lineage counters.  For bucketed stages the unit of
    lineage is the BUCKET (``key=BUCKET_COL``): bucket ids are stable across
    versions, which is what lets a merged commit carry forward the counters
    of buckets it never touched."""
    return [
        {"partition_id": r[key], "rows": r["count"]}
        for r in persisted.groupBy(key).count().collect()
    ]


def _build_marker(stage: str, run_id: str, version, data_path: str,
                  per_partition: list, schema: StructType,
                  bucket_by: list | None = None,
                  num_buckets: int | None = None) -> dict:
    """One marker schema for every backend — evolve it here, not per-store.

    ``schema`` is the committed table's schema (lineage columns included):
    readers take it from the marker instead of inferring it from the files,
    because an EMPTY bucketed stage has no data file to infer from."""
    marker = {
        "stage": stage,
        "run_id": run_id,
        "version": version,
        "data_path": data_path,
        "schema": schema.jsonValue(),
        "rows": sum(p["rows"] for p in per_partition),
        "partitions": len(per_partition),
        "per_partition_rows": sorted(per_partition,
                                     key=lambda p: p["partition_id"]),
        "committed_at_monotonic": time.monotonic_ns(),
        "committed_at_unix": time.time(),
    }
    if bucket_by:
        marker["bucket_by"] = list(bucket_by)
        marker["num_buckets"] = num_buckets
    return marker


class CheckpointStore:
    def __init__(self, spark: SparkSession, root: str, run_id: str = "run-0"):
        self.spark = spark
        self.root = root
        self.run_id = run_id
        os.makedirs(root, exist_ok=True)

    def _stage_dir(self, stage: str) -> str:
        return os.path.join(self.root, stage)

    def _version_dir(self, stage: str, version: int) -> str:
        return os.path.join(self._stage_dir(stage), f"v{version:06d}")

    def _marker(self, stage: str) -> str:
        return os.path.join(self.root, f"{stage}._COMMIT.json")

    def is_committed(self, stage: str) -> bool:
        return os.path.exists(self._marker(stage))

    def versions(self, stage: str) -> list:
        """All fully-written snapshot versions of a stage (ascending)."""
        stage_dir = self._stage_dir(stage)
        if not os.path.isdir(stage_dir):
            return []
        out = []
        for name in os.listdir(stage_dir):
            match = _VDIR.match(name)
            if match and os.path.exists(
                    os.path.join(stage_dir, name, "_info.json")):
                out.append(int(match.group(1)))
        return sorted(out)

    def _read_version(self, path: str, schema: dict | None) -> DataFrame:
        """A version directory read with its recorded schema (a marker
        from before schemas were recorded: inferred from the files)."""
        reader = self.spark.read
        if schema is not None:
            reader = reader.schema(StructType.fromJson(schema))
        return reader.parquet(path)

    def _next_version(self, stage: str) -> int:
        stage_dir = self._stage_dir(stage)
        existing = [0]
        if os.path.isdir(stage_dir):
            existing += [int(m.group(1)) for m in
                         (_VDIR.match(n) for n in os.listdir(stage_dir)) if m]
        return max(existing) + 1

    def write(self, df: DataFrame, stage: str, bucket_by: list | None = None,
              num_buckets: int = 32) -> DataFrame:
        """Snapshot-commit a stage: fresh version directory, per-partition
        counters, then one atomic marker swing.

        ``bucket_by``: key columns for a hash-clustered layout
        (``<stage>/vN/_bucket=K/``).  Bucketed stages support :meth:`merge`
        — row-level upserts/deletes that rewrite only the touched buckets.
        The clustering write shuffles once on the bucket id (that IS the
        clustering); at corpus scale size ``num_buckets`` so a bucket is a
        few GB (e.g. 2^12-2^16 buckets at 10^12 docs) and raise the file
        count per bucket via spark.sql.shuffle.partitions."""
        version = self._next_version(stage)
        path = self._version_dir(stage, version)
        lineaged = _with_lineage(df, self.run_id, stage)
        if bucket_by:
            lineaged = lineaged.withColumn(
                BUCKET_COL, _bucket_expr(bucket_by, num_buckets))
            lineaged.repartition(num_buckets, BUCKET_COL) \
                .write.mode("errorifexists").partitionBy(BUCKET_COL) \
                .parquet(path)
        else:
            lineaged.write.mode("errorifexists").parquet(path)

        persisted = self._read_version(path, lineaged.schema.jsonValue())
        per_partition = _per_partition_counts(
            persisted, key=BUCKET_COL if bucket_by else "_partition_id")
        marker = _build_marker(stage, self.run_id, version, path,
                               per_partition, persisted.schema,
                               bucket_by=bucket_by,
                               num_buckets=num_buckets if bucket_by else None)
        self._commit(stage, path, marker)
        return persisted.drop(*_LINEAGE_COLS)

    def _commit(self, stage: str, path: str, marker: dict) -> None:
        # version info first (declares the directory fully written), then the
        # atomic marker swing — the commit point
        with open(os.path.join(path, "_info.json"), "w") as fh:
            json.dump(marker, fh, indent=2)
        tmp = self._marker(stage) + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(marker, fh, indent=2)
        os.replace(tmp, self._marker(stage))

    def merge(self, stage: str, changes: DataFrame | None = None,
              delete_keys: DataFrame | None = None,
              on: list | None = None,
              insert_only: bool = False) -> DataFrame:
        """Row-level merge into a BUCKETED stage as a partition-scoped
        rewrite: a new snapshot version where every bucket untouched by the
        keys is HARDLINKED from the previous version (O(files) metadata, no
        data movement) and only the buckets the changed/deleted keys hash
        into are re-written.  The corrected promote cost at 10^12 docs:
        O(touched buckets), not O(corpus).

        - ``changes``: full-schema rows; rows whose ``on`` key exists are
          REPLACED (upsert), unless ``insert_only`` — then only rows whose
          key is absent are inserted (idempotent append; callers supply
          duplicate-free changes).
        - ``delete_keys``: rows with the ``on`` columns; matching rows are
          deleted.
        - ``on``: match key, default = the stage's ``bucket_by``.  Must
          contain every ``bucket_by`` column (the rewrite locates keys by
          their bucket).  Keys must be non-null.

        Same atomicity as :meth:`write`: the marker swing is the commit
        point; a crash mid-merge leaves an orphan version directory and the
        previous snapshot intact.  Per-bucket lineage counters are carried
        forward for untouched buckets and recomputed for rewritten ones."""
        marker = self.marker(stage)
        bucket_by = marker.get("bucket_by")
        num_buckets = marker.get("num_buckets")
        if not bucket_by:
            raise ValueError(
                f"stage {stage!r} is not bucketed — merge needs a layout "
                f"written with write(..., bucket_by=...); use write() for "
                f"a full rewrite")
        on = list(on or bucket_by)
        missing = [c for c in bucket_by if c not in on]
        if missing:
            raise ValueError(f"merge on={on} must include the bucket key "
                             f"columns {bucket_by}")
        prev_path = self._version_dir(stage, marker["version"])
        version = self._next_version(stage)
        path = self._version_dir(stage, version)

        key_rows = None
        for frame in (changes, delete_keys):
            if frame is not None:
                keys = frame.select(*bucket_by)
                key_rows = keys if key_rows is None else key_rows.unionByName(keys)
        touched = set()
        if key_rows is not None:
            touched = {
                r.b for r in key_rows.select(
                    _bucket_expr(bucket_by, num_buckets).alias("b"))
                .distinct().collect()
            }

        # 1) hardlink every untouched bucket into the new version (same
        # filesystem by construction — versions are siblings)
        os.makedirs(path, exist_ok=True)
        for entry in os.listdir(prev_path):
            if not entry.startswith(f"{BUCKET_COL}="):
                continue
            bucket_id = int(entry.split("=", 1)[1])
            if bucket_id in touched:
                continue
            src_dir = os.path.join(prev_path, entry)
            dst_dir = os.path.join(path, entry)
            os.makedirs(dst_dir, exist_ok=True)
            for name in os.listdir(src_dir):
                os.link(os.path.join(src_dir, name),
                        os.path.join(dst_dir, name))

        # 2) rewrite only the touched buckets (partition-pruned scan)
        prev = self._read_version(prev_path, marker.get("schema"))
        data_cols = [c for c in prev.columns if c not in _LINEAGE_COLS]
        if touched:
            prev_touched = (
                prev
                .filter(F.col(BUCKET_COL).isin(*touched))
                .select(*data_cols)
            )
            rewritten = prev_touched
            if changes is not None and not insert_only:
                rewritten = rewritten.join(
                    F.broadcast(changes.select(*on).distinct()), on,
                    "left_anti")
            if delete_keys is not None:
                rewritten = rewritten.join(
                    F.broadcast(delete_keys.select(*on).distinct()), on,
                    "left_anti")
            if changes is not None:
                incoming = changes.select(*data_cols)
                if insert_only:
                    incoming = incoming.join(
                        prev_touched.select(*on).distinct(), on, "left_anti")
                rewritten = rewritten.unionByName(incoming)
            lineaged = _with_lineage(rewritten, self.run_id, stage) \
                .withColumn(BUCKET_COL, _bucket_expr(bucket_by, num_buckets))
            lineaged.repartition(max(len(touched), 1), BUCKET_COL) \
                .write.mode("append").partitionBy(BUCKET_COL).parquet(path)

        # 3) counters: fresh for rewritten buckets, carried for the rest
        persisted = self._read_version(path, marker.get("schema"))
        carried = [p for p in marker["per_partition_rows"]
                   if p["partition_id"] not in touched]
        fresh = []
        if touched:
            fresh = _per_partition_counts(
                persisted.filter(F.col(BUCKET_COL).isin(*touched)),
                key=BUCKET_COL)
        new_marker = _build_marker(stage, self.run_id, version, path,
                                   carried + fresh, prev.schema,
                                   bucket_by=bucket_by,
                                   num_buckets=num_buckets)
        self._commit(stage, path, new_marker)
        return persisted.drop(*_LINEAGE_COLS)

    def read(self, stage: str, version: int | None = None) -> DataFrame:
        """The committed snapshot (or an explicit older version: time
        travel). Only data the marker/_info declares complete is readable.

        The data path derives from THIS store's root + the marker's version
        — never from the write-time path string — so a relocated checkpoint
        tree (copied root, different cwd for a relative root) resumes in
        place.  Markers from the pre-versioned format (no ``version`` key)
        fall back to the legacy flat ``<root>/<stage>`` layout."""
        if version is None:
            version = self.marker(stage).get("version")
            if version is None:  # legacy flat layout
                return (
                    self.spark.read.parquet(self._stage_dir(stage))
                    .drop(*_LINEAGE_COLS)
                )
        path = self._version_dir(stage, version)
        info = os.path.join(path, "_info.json")
        if not os.path.exists(info):
            raise FileNotFoundError(
                f"stage {stage!r} has no committed version {version}")
        with open(info) as fh:
            schema = json.load(fh).get("schema")
        return self._read_version(path, schema).drop(*_LINEAGE_COLS)

    def marker(self, stage: str) -> dict:
        with open(self._marker(stage)) as fh:
            return json.load(fh)

    def expire_snapshots(self, stage: str, keep: int = 1) -> list:
        """Iceberg-style maintenance: delete all but the newest ``keep``
        committed versions (never the marker's current one) plus any orphan
        version directories from torn writes.  Returns the removed paths."""
        import shutil

        keep = max(1, keep)
        committed = self.versions(stage)
        current = self.marker(stage).get("version") \
            if self.is_committed(stage) else None
        keep_set = set(committed[-keep:])
        if current is not None:
            keep_set.add(current)
        removed = []
        stage_dir = self._stage_dir(stage)
        if os.path.isdir(stage_dir):
            for name in os.listdir(stage_dir):
                match = _VDIR.match(name)
                if match and int(match.group(1)) not in keep_set:
                    path = os.path.join(stage_dir, name)
                    shutil.rmtree(path)
                    removed.append(path)
        return removed

    def run_stage(self, stage: str, build, bucket_by: list | None = None,
                  num_buckets: int = 32) -> DataFrame:
        """Return the committed stage table, computing it only if missing —
        the resume contract: relaunch skips completed stages."""
        if self.is_committed(stage):
            return self.read(stage)
        return self.write(build(), stage, bucket_by=bucket_by,
                          num_buckets=num_buckets)


# --------------------------------------------------------------------------
# Iceberg catalog backend: the same snapshot contract (atomic commit, reader
# isolation, time travel, expiry, mid-pipeline resume) emitted as catalog
# tables when a Spark v2 catalog backed by the Iceberg runtime is
# configured.  SURVEY §0 mandates "Iceberg tables"; the sandbox has no
# runtime jar, so this adapter is exercised by a jar-guarded contract test
# (tests/test_surface.py::test_iceberg_checkpoint_contract) that runs
# wherever `org.apache.iceberg.spark.SparkCatalog` is on the classpath.

def iceberg_runtime_available(spark: SparkSession) -> bool:
    """True when the Iceberg Spark runtime is on the JVM classpath."""
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:  # noqa: BLE001 — any JVM error means "not available"
        return False


class IcebergCheckpointStore:
    """CheckpointStore surface over an Iceberg catalog.

    Mapping of the contract onto Iceberg primitives:
    - ``write``  → ``df.writeTo(tbl).using("iceberg").createOrReplace()``
      (Iceberg's own atomic snapshot commit), then the commit marker (rows,
      partitions, per-partition lineage counters, the committed SNAPSHOT
      ID) lands as ONE atomic table-property commit — the marker swing is
      the commit point, and committed reads pin to the marker's snapshot,
      so a crash in between leaves the stage committed at its previous
      snapshot (first write: uncommitted, relaunch recomputes), exactly
      like the parquet backend's versioned directories;
    - ``read()`` → snapshot-id time travel to the marker's snapshot
      (``version=…`` for an explicit older one);
    - ``versions`` → the ``<table>.snapshots`` metadata table;
    - ``expire_snapshots`` → ``catalog.system.expire_snapshots``.
    """

    MARKER_PROP = "otmt.commit"

    def __init__(self, spark: SparkSession, catalog: str,
                 namespace: str = "otmt", run_id: str = "run-0"):
        self.spark = spark
        self.catalog = catalog
        self.namespace = namespace
        self.run_id = run_id
        spark.sql(
            f"CREATE NAMESPACE IF NOT EXISTS `{catalog}`.`{namespace}`")

    def _table(self, stage: str) -> str:
        return f"`{self.catalog}`.`{self.namespace}`.`{stage}`"

    def marker(self, stage: str) -> dict:
        props = {
            r["key"]: r["value"]
            for r in self.spark.sql(
                f"SHOW TBLPROPERTIES {self._table(stage)}").collect()
        }
        if self.MARKER_PROP not in props:
            raise FileNotFoundError(f"stage {stage!r} has no commit marker")
        raw = props[self.MARKER_PROP]
        try:
            # markers written before the base64 encoding: plain JSON
            return json.loads(raw)
        except json.JSONDecodeError:
            return json.loads(base64.b64decode(raw, validate=True))

    def is_committed(self, stage: str) -> bool:
        try:
            self.marker(stage)
            return True
        except Exception:  # noqa: BLE001 — missing table or marker
            return False

    def _current_snapshot(self, stage: str):
        """The table's CURRENT snapshot id — from the main branch ref, not
        from snapshot ordering (committed_at has millisecond granularity, so
        two rapid commits can tie and an ORDER BY pick the wrong one)."""
        rows = self.spark.sql(
            f"SELECT snapshot_id FROM {self._table(stage)}.refs "
            f"WHERE name = 'main'").collect()
        if rows:
            return rows[0].snapshot_id
        return self.versions(stage)[-1]  # refs table empty: deterministic tail

    def write(self, df: DataFrame, stage: str, bucket_by: list | None = None,
              num_buckets: int = 32) -> DataFrame:
        table = self._table(stage)
        # The marker swing is the commit point, exactly like the parquet
        # backend: committed reads pin to the SNAPSHOT ID the marker names
        # (see read()), so the old marker stays valid while REPLACE TABLE
        # lands — it keeps naming the pre-replace snapshot, which Iceberg
        # retains in the table history.  A crash before the marker swing
        # leaves the stage committed at its PREVIOUS snapshot (retryable),
        # never torn and never pointing a marker at half-written data.
        writer = _with_lineage(df, self.run_id, stage) \
            .writeTo(table).using("iceberg")
        if bucket_by:
            # Iceberg's own hash-bucket partition transform: MERGE INTO on
            # the key then rewrites only the touched buckets' data files
            # (plus a metadata commit) — the O(changed) promote path
            writer = writer.partitionedBy(F.bucket(num_buckets,
                                                   F.col(bucket_by[0])))
        writer.createOrReplace()
        persisted = self.spark.read.table(table)
        per_partition = _per_partition_counts(persisted)
        marker = _build_marker(stage, self.run_id,
                               self._current_snapshot(stage), table,
                               per_partition, persisted.schema,
                               bucket_by=bucket_by,
                               num_buckets=num_buckets if bucket_by else None)
        self._commit_marker(stage, marker)
        return persisted.drop("_partition_id", "_run_id", "_stage")

    def _commit_marker(self, stage: str, marker: dict) -> None:
        # base64: property values travel through a SQL string literal whose
        # escape processing is config-dependent — keep the payload in
        # [A-Za-z0-9+/=] so no dialect can corrupt it
        payload = base64.b64encode(
            json.dumps(marker).encode("utf-8")).decode("ascii")
        # the commit point: one atomic metadata commit carrying the marker
        self.spark.sql(
            f"ALTER TABLE {self._table(stage)} SET TBLPROPERTIES "
            f"('{self.MARKER_PROP}' = '{payload}')")

    def merge(self, stage: str, changes: DataFrame | None = None,
              delete_keys: DataFrame | None = None,
              on: list | None = None,
              insert_only: bool = False) -> DataFrame:
        """Row-level merge as Iceberg ``MERGE INTO`` — same contract as the
        parquet store's partition-scoped rewrite: upsert/insert-if-absent
        ``changes`` and delete ``delete_keys``, touching O(changed) data
        files (Iceberg rewrites only the files holding matched rows; with a
        bucket(key) partition spec those are the touched buckets).

        Crash semantics match the parquet backend's marker-swing commit:
        the OLD marker stays in place while the (up to two) MERGE INTO
        statements land, and committed reads pin to the snapshot the marker
        names — a crash between the data commits and the marker swing
        leaves the stage committed at its previous snapshot, with the
        half-applied live snapshots invisible to readers.  The prescribed
        retry (same batch + --repair) re-runs the same MERGEs, which are
        idempotent against a half-applied live table (upsert re-updates,
        insert-if-absent skips, delete re-deletes), so the repair
        converges instead of forcing a full-corpus rebuild."""
        marker = self.marker(stage)
        on = list(on or marker.get("bucket_by") or [])
        if not on:
            raise ValueError(
                f"stage {stage!r} has no bucket_by and no explicit on= — "
                f"merge needs a match key")
        table = self._table(stage)
        cond = " AND ".join(f"t.`{c}` = s.`{c}`" for c in on)
        if changes is not None:
            view = f"_otmt_merge_src_{stage}"
            _with_lineage(changes, self.run_id, stage) \
                .createOrReplaceTempView(view)
            clauses = "WHEN NOT MATCHED THEN INSERT *" if insert_only else \
                ("WHEN MATCHED THEN UPDATE SET * "
                 "WHEN NOT MATCHED THEN INSERT *")
            self.spark.sql(f"MERGE INTO {table} t USING {view} s "
                           f"ON {cond} {clauses}")
            self.spark.catalog.dropTempView(view)
        if delete_keys is not None:
            view = f"_otmt_del_src_{stage}"
            delete_keys.select(*on).distinct().createOrReplaceTempView(view)
            self.spark.sql(f"MERGE INTO {table} t USING {view} s "
                           f"ON {cond} WHEN MATCHED THEN DELETE")
            self.spark.catalog.dropTempView(view)
        persisted = self.spark.read.table(table)
        # Counter note for corpus scale: this groupBy recounts the whole
        # table (fine at checkpoint-test scale; the parquet backend carries
        # untouched-bucket counters forward instead).  On a real deployment
        # derive the rows-per-partition from Iceberg's own metadata table —
        # ``SELECT partition, sum(record_count) FROM {table}.files GROUP BY
        # partition`` — an O(manifest) metadata scan, zero data reads; kept
        # as the data-path count here because the jar-less sandbox cannot
        # exercise the metadata-table dialect.
        per_partition = _per_partition_counts(persisted)
        new_marker = _build_marker(
            stage, self.run_id, self._current_snapshot(stage), table,
            per_partition, persisted.schema,
            bucket_by=marker.get("bucket_by"),
            num_buckets=marker.get("num_buckets"))
        self._commit_marker(stage, new_marker)
        return persisted.drop("_partition_id", "_run_id", "_stage")

    def versions(self, stage: str) -> list:
        rows = self.spark.sql(
            f"SELECT snapshot_id FROM {self._table(stage)}.snapshots "
            f"ORDER BY committed_at, snapshot_id").collect()
        return [r.snapshot_id for r in rows]

    def read(self, stage: str, version=None) -> DataFrame:
        """The COMMITTED snapshot: reads pin to the snapshot id the marker
        names (or an explicit older ``version``: time travel), never the
        live table head — mid-merge MERGE INTO commits that landed before
        the marker swing stay invisible, the same isolation the parquet
        backend gets from versioned directories."""
        table = self._table(stage)
        reader = self.spark.read
        if version is None:
            try:
                version = self.marker(stage).get("version")
            except Exception:  # noqa: BLE001 — uncommitted: live read
                version = None
        if version is not None:
            reader = reader.option("snapshot-id", str(version))
        return reader.table(table).drop(
            "_partition_id", "_run_id", "_stage")

    def expire_snapshots(self, stage: str, keep: int = 1) -> list:
        before = set(self.versions(stage))
        self.spark.sql(
            f"CALL `{self.catalog}`.system.expire_snapshots("
            f"table => '{self.namespace}.{stage}', "
            f"older_than => TIMESTAMP '9999-01-01 00:00:00', "
            f"retain_last => {max(1, keep)})")
        return sorted(before - set(self.versions(stage)))

    def run_stage(self, stage: str, build, bucket_by: list | None = None,
                  num_buckets: int = 32) -> DataFrame:
        if self.is_committed(stage):
            return self.read(stage)
        return self.write(build(), stage, bucket_by=bucket_by,
                          num_buckets=num_buckets)
