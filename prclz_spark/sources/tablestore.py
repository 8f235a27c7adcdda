"""Snapshot/manifest table layer on Parquet with per-partition lineage +
metrics — the engine's checkpoint store.

The reference resumes work three ways: skip-if-output-exists
(/root/reference/midway/midway_blocks.py:31), per-block ``.block.cache``
files (midway/single_file_complexity.py:28-46), and the ``CheckPointer``
keyed result store with a ``completed`` set saved every iteration
(reblock/i_reblock.py:103-165). The distributed analog (SURVEY.md §2.1 S9,
§2.8): every stage writes an atomically-committed snapshot of Parquet
files plus a ``_lineage`` record per partition; resume = the keys a stage
can produce minus the keys its lineage holds (``completed_partitions``),
picked on the driver, as the reference checks its ``completed`` set.

Iceberg itself isn't installable in this sandbox (SURVEY.md §7.1), so this
is a minimal stand-in with the same semantics the pipeline needs:

    warehouse/<table>/data/<uuid>.parquet          immutable data files
    warehouse/<table>/snapshots/<N>.json           manifest: file list,
                                                   lineage, parent snapshot
    warehouse/<table>/snapshots/LATEST             pointer (atomic rename)

- commits are atomic: data files land first, the manifest next, the
  LATEST pointer last via os.replace (POSIX-atomic);
- readers resolve LATEST → manifest → exact file list, so half-written
  data files are invisible;
- time travel: read any older snapshot id;
- lineage rows carry (stage, partition_id, rows_out, wall_ms, committed_at,
  snapshot_id) — the _lineage/_metrics contract of the north_rule;
- a commit costs the Spark jobs of its write and nothing per partition
  (row counts come from Parquet footers), a read costs no schema-inference
  job (the manifest stores the schema), and a resume check reads lineage
  on the driver, so no plan or job count grows with the number of
  committed partitions;
- one writer per table: each commit first removes what killed commits
  left behind (staging directories, unlisted data files, manifests past
  LATEST).
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession


class TableStore:
    def __init__(self, root: str):
        self.root = root

    # -- paths ------------------------------------------------------------
    def _tdir(self, table: str) -> str:
        return os.path.join(self.root, table)

    def _snapdir(self, table: str) -> str:
        return os.path.join(self._tdir(table), "snapshots")

    def _latest_path(self, table: str) -> str:
        return os.path.join(self._snapdir(table), "LATEST")

    # -- snapshot resolution ----------------------------------------------
    def latest_snapshot_id(self, table: str) -> int | None:
        p = self._latest_path(table)
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return int(f.read().strip())

    def manifest(self, table: str, snapshot_id: int | None = None) -> dict | None:
        sid = snapshot_id if snapshot_id is not None else self.latest_snapshot_id(table)
        if sid is None:
            return None
        with open(os.path.join(self._snapdir(table), f"{sid}.json")) as f:
            return json.load(f)

    # -- write ------------------------------------------------------------
    def _on_phase(self, table: str, phase: str) -> None:
        """Fault-injection point between the phases of ``commit``:
        ``'staged'`` (after the staging write), ``'moved'`` (after each
        partition's files move into ``data/``) and ``'manifest'`` (after the
        manifest, before ``LATEST``). A no-op; tests override it to kill a
        commit part-way."""

    def _collect_garbage(self, table: str, latest: dict | None) -> None:
        """Remove what killed commits left behind: ``_staging_*``
        directories, data files that no committed snapshot lists, and
        manifests written past ``LATEST``. Manifests are cumulative, so the
        latest one lists every committed data file.

        Assumes ONE WRITER PER TABLE: a concurrent commit's staging
        directory and freshly moved files would look stale here."""
        tdir = self._tdir(table)
        for entry in os.listdir(tdir):
            if entry.startswith("_staging_"):
                shutil.rmtree(os.path.join(tdir, entry))
        keep = (
            {f for e in latest["files"] for f in e["files"]} if latest else set()
        )
        datadir = os.path.join(tdir, "data")
        for pdir in os.listdir(datadir):
            full = os.path.join(datadir, pdir)
            for fname in os.listdir(full):
                if f"{pdir}/{fname}" not in keep:
                    os.remove(os.path.join(full, fname))
            if not os.listdir(full):
                os.rmdir(full)
        sid = latest["snapshot_id"] if latest else 0
        snapdir = self._snapdir(table)
        for fname in os.listdir(snapdir):
            stem, ext = os.path.splitext(fname)
            if ext == ".tmp" or (ext == ".json" and int(stem) > sid):
                os.remove(os.path.join(snapdir, fname))

    def _publish(self, table: str, manifest: dict) -> int:
        """Write the manifest, then flip ``LATEST`` to it (both atomic
        renames): the snapshot becomes visible at the second rename."""
        sid = manifest["snapshot_id"]
        mpath = os.path.join(self._snapdir(table), f"{sid}.json")
        tmp = mpath + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, mpath)
        self._on_phase(table, "manifest")
        ltmp = self._latest_path(table) + ".tmp"
        with open(ltmp, "w") as f:
            f.write(str(sid))
        os.replace(ltmp, self._latest_path(table))
        return sid

    def commit(
        self,
        df: DataFrame,
        table: str,
        partition_col: str,
        stage: str | None = None,
        extra: dict | None = None,
        keys: list[str] | None = None,
    ) -> int:
        """Append ``df`` as one atomic snapshot, one data file per value of
        ``partition_col`` (repartitioned by it so each task owns whole
        partitions), with a lineage record per partition. ``extra`` merges
        stage-level metrics (e.g. broadcast dimension size, plan choice)
        into every lineage row — visible via read_lineage; metrics_df keeps
        its fixed per-partition schema. ``keys`` names the partitions this
        commit covers: a key that wrote no rows still gets a lineage record
        (rows_out 0), so resume counts it as done; any other is dropped.

        The write is the only Spark work: per-partition ``rows_out`` comes
        from the Parquet footers of the moved files, read on the driver, so
        a commit runs the same jobs for 4 partitions as for 10^4. Lineage
        ``wall_ms`` is the wall time of that whole write, shared by every
        record of the commit (not a per-partition time); each record also
        carries its ``snapshot_id``.

        Returns the new snapshot id. A killed commit is invisible to
        readers (``LATEST`` moves last) and re-runnable; the next commit to
        the table removes its leftovers (``_collect_garbage``)."""
        (prev,), staging, wall_ms = self._stage(df, [table], [partition_col])
        return self._publish_staged(
            table, staging, partition_col, df.schema.fields, prev, wall_ms,
            stage, extra, keys,
        )

    def commit_split(
        self, df: DataFrame, split_col: str, tables: dict[str, tuple[str, list[str]]],
        partition_col: str, keys: dict[str, list[str]],
    ) -> dict[str, int]:
        """``commit(..., stage=table, keys=keys[table])`` of each
        ``split_col`` value's rows to ``tables[value] = (table, columns)``
        (``partition_col`` among the columns) from ONE Spark write, whose
        fixed cost dominates small tables. Files keep all of ``df``'s
        columns; reads see the manifest's. Each table takes its part of
        the write as its own staging directory before the first publishes,
        then they publish in order. Returns {table: snapshot id}."""
        prevs, staging, wall_ms = self._stage(
            df, [t for t, _ in tables.values()], [split_col, partition_col]
        )
        own = {}
        for value, (t, _) in tables.items():
            own[t] = os.path.join(self._tdir(t), f"_staging_{uuid.uuid4().hex}")
            src = os.path.join(staging, f"{split_col}={value}")
            os.replace(src, own[t]) if os.path.isdir(src) else os.mkdir(own[t])
        shutil.rmtree(staging)
        return {
            t: self._publish_staged(
                t, own[t], partition_col, [df.schema[c] for c in cols], prev,
                wall_ms, t, None, keys[t],
            )
            for prev, (t, cols) in zip(prevs, tables.values())
        }

    def _stage(
        self, df: DataFrame, tables: list[str], partition_cols: list[str]
    ) -> tuple[list[dict | None], str, int]:
        """Create each table's directories and ``_collect_garbage`` it,
        then write ``df`` hive-partitioned (one file per directory) into a
        staging directory of the first. Returns the tables' latest
        manifests, the staging directory and the write's wall ms."""
        prevs = []
        for table in tables:
            os.makedirs(os.path.join(self._tdir(table), "data"), exist_ok=True)
            os.makedirs(self._snapdir(table), exist_ok=True)
            prevs.append(self.manifest(table))
            self._collect_garbage(table, prevs[-1])
        staging = os.path.join(self._tdir(tables[0]), f"_staging_{uuid.uuid4().hex}")
        t0 = time.time()
        (
            df.repartition(partition_cols[-1])
            .write.mode("overwrite")
            .partitionBy(*partition_cols)
            .parquet(staging)
        )
        return prevs, staging, int((time.time() - t0) * 1000)

    def _publish_staged(
        self, table: str, staging: str, partition_col: str, schema_fields: list,
        prev_manifest: dict | None, wall_ms: int, stage: str | None,
        extra: dict | None, keys: list[str] | None,
    ) -> int:
        """``commit`` from phase 'staged' on: move the staged partitions
        into ``data/``, a lineage record each, then publish."""
        self._on_phase(table, "staged")
        datadir = os.path.join(self._tdir(table), "data")
        sid = (prev_manifest["snapshot_id"] if prev_manifest else 0) + 1

        def record(pkey: str, rows: int) -> dict:
            return {
                "stage": stage or table,
                "partition_id": pkey,
                "rows_out": rows,
                "wall_ms": wall_ms,
                "committed_at": time.time(),
                "snapshot_id": sid,
                **(extra or {}),
            }

        files: list[dict] = []
        lineage: list[dict] = []
        prefix = f"{partition_col}="
        for entry in sorted(os.listdir(staging)):
            pkey = entry[len(prefix):]
            if not entry.startswith(prefix) or (keys is not None and pkey not in keys):
                continue
            pdir = os.path.join(staging, entry)
            outdir = os.path.join(datadir, entry)  # keep hive layout so the
            os.makedirs(outdir, exist_ok=True)     # partition column survives
            moved, rows = [], 0
            for p in sorted(os.listdir(pdir)):
                if not p.endswith(".parquet"):
                    continue
                new_name = f"{uuid.uuid4().hex}.parquet"
                dst = os.path.join(outdir, new_name)
                os.replace(os.path.join(pdir, p), dst)
                rows += pq.read_metadata(dst).num_rows
                moved.append(f"{entry}/{new_name}")
            files.append({"partition": pkey, "files": moved})
            lineage.append(record(pkey, rows))
            self._on_phase(table, "moved")
        shutil.rmtree(staging)
        written = {rec["partition_id"] for rec in lineage}
        if keys is not None:
            lineage.extend(
                record(k, 0) for k in sorted(set(keys) - written)
            )

        fields = [f for f in schema_fields if f.name != partition_col]
        fields += [f for f in schema_fields if f.name == partition_col]
        return self._publish(table, {
            "snapshot_id": sid,
            "parent": prev_manifest["snapshot_id"] if prev_manifest else None,
            "partition_col": partition_col,
            # the schema a read of the files yields (data columns, then the
            # hive partition column), so read() infers nothing
            "schema_ddl": _schema_ddl(fields),
            "files": (prev_manifest["files"] if prev_manifest else []) + files,
            "lineage": (prev_manifest["lineage"] if prev_manifest else []) + lineage,
        })

    def commit_bucketed(
        self,
        df: DataFrame,
        table: str,
        bucket_cols: list[str],
        n_buckets: int,
        sort_cols: list[str] | None = None,
        stage: str | None = None,
    ) -> int:
        """Write ``df`` as a Spark-bucketed snapshot: files are hash-clustered
        on ``bucket_cols`` into ``n_buckets`` (optionally sorted within each
        bucket), so every later join or aggregation on the bucket key is
        EXCHANGE-FREE — the one-time shuffle at write amortizes across all
        downstream reads. This is the 100-TB co-location path: bucket the big
        fact tables once, and repeated joins/rollups on the key never shuffle
        again (reference analog: the per-region file partitioning that
        midway_blocks.py:31 keys all downstream stages on).

        Spark only honors bucketing through the catalog, so the snapshot is
        registered as an external catalog table whose files live under the
        store; ``read_bucketed`` re-issues the DDL in a fresh session.

        Unlike ``commit`` (which appends files to the manifest), every
        bucketed commit is a FULL REWRITE: the bucket layout is a property of
        the whole file set, so appending would break the per-bucket hash
        invariant. Latest snapshot wins; older full snapshots stay readable
        via ``snapshot_id`` (time travel) and lineage accumulates."""
        prev = self.latest_snapshot_id(table)
        sid = (prev or 0) + 1
        datadir = os.path.join(self._tdir(table), f"bucketed_{sid}")
        os.makedirs(self._snapdir(table), exist_ok=True)
        catalog_name = f"prclz_store_{table}_{sid}"

        t0 = time.time()
        writer = (
            df.write.format("parquet")
            .mode("overwrite")
            .option("path", datadir)
            .bucketBy(n_buckets, *bucket_cols)
        )
        if sort_cols:
            writer = writer.sortBy(*sort_cols)
        writer.saveAsTable(catalog_name)
        wall_ms = int((time.time() - t0) * 1000)

        rows = sum(
            pq.read_metadata(os.path.join(d, f)).num_rows
            for d, _, fs in os.walk(datadir)
            for f in fs
            if f.endswith(".parquet")
        )
        prev_manifest = self.manifest(table, prev) if prev else None
        all_lineage = list(prev_manifest["lineage"]) if prev_manifest else []
        all_lineage.append(
            {
                "stage": stage or table,
                "partition_id": f"bucketed_{sid}",
                "rows_out": rows,
                "wall_ms": wall_ms,
                "committed_at": time.time(),
                "snapshot_id": sid,
            }
        )
        return self._publish(table, {
            "snapshot_id": sid,
            "parent": prev,
            "partition_col": None,
            "files": [],
            "lineage": all_lineage,
            "bucket": {
                "catalog_name": catalog_name,
                "path": datadir,
                "cols": list(bucket_cols),
                "n": n_buckets,
                "sort": list(sort_cols) if sort_cols else [],
                "schema_ddl": _schema_ddl(df.schema.fields),
            },
        })

    def read_bucketed(
        self, spark: SparkSession, table: str, snapshot_id: int | None = None
    ) -> DataFrame | None:
        """Read a bucketed snapshot WITH its bucketing metadata intact (a raw
        ``spark.read.parquet`` of the same files would silently drop the
        cluster info and re-shuffle on every join). Re-registers the external
        catalog table from the manifest when the session doesn't have it."""
        m = self.manifest(table, snapshot_id)
        if m is None or "bucket" not in m:
            return None
        b = m["bucket"]
        if not spark.catalog.tableExists(b["catalog_name"]):
            sort_clause = (
                f" SORTED BY ({', '.join(b['sort'])})" if b["sort"] else ""
            )
            spark.sql(
                f"CREATE TABLE {b['catalog_name']} ({b['schema_ddl']}) "
                f"USING parquet "
                f"CLUSTERED BY ({', '.join(b['cols'])}){sort_clause} "
                f"INTO {b['n']} BUCKETS "
                f"LOCATION '{b['path']}'"
            )
        return spark.table(b["catalog_name"])

    # -- read -------------------------------------------------------------
    def read(
        self, spark: SparkSession, table: str, snapshot_id: int | None = None
    ) -> DataFrame | None:
        m = self.manifest(table, snapshot_id)
        if m is None:
            return None
        datadir = os.path.join(self._tdir(table), "data")
        paths = [
            os.path.join(datadir, f) for entry in m["files"] for f in entry["files"]
        ]
        if not paths:
            return None
        # basePath lets Spark recover the partition column from the
        # hive-style subdirectories the manifest's files live in; the
        # stored schema spares the schema-inference job (manifests written
        # before it was stored still infer)
        reader = spark.read.option("basePath", datadir)
        if "schema_ddl" in m:
            reader = reader.schema(m["schema_ddl"])
        return reader.parquet(*paths)

    def read_lineage(self, table: str, snapshot_id: int | None = None) -> list[dict]:
        m = self.manifest(table, snapshot_id)
        return m["lineage"] if m else []

    def committed_rows(self, table: str, snapshot_id: int) -> int:
        """Rows the commit that created ``snapshot_id`` wrote, from its
        lineage records — no Spark job."""
        return sum(
            rec["rows_out"]
            for rec in self.read_lineage(table, snapshot_id)
            if rec.get("snapshot_id") == snapshot_id
        )

    def metrics_df(
        self, spark: SparkSession, table: str, snapshot_id: int | None = None
    ) -> DataFrame | None:
        """The north_rule's per-partition METRICS TABLE: the snapshot's
        lineage as a queryable DataFrame — one row per committed partition
        with (stage, partition_id, rows_out, wall_ms, committed_at). The
        Iceberg analog is the `<table>.files`/`<table>.snapshots` metadata
        tables; here the manifest IS the metadata, so this is a driver-side
        materialization (manifests are dimension-sized: one row per
        committed partition, not per data row)."""
        lineage = self.read_lineage(table, snapshot_id)
        if not lineage:
            return None
        keys = ("stage", "partition_id", "rows_out", "wall_ms", "committed_at")
        return spark.createDataFrame(
            [{k: rec.get(k) for k in keys} for rec in lineage],
            "stage string, partition_id string, rows_out long, "
            "wall_ms long, committed_at double",
        )

    # -- resume -----------------------------------------------------------
    def completed_partitions(self, table: str) -> set[str]:
        """Partition keys the table's lineage records. A stage's todo keys
        are the keys it can produce minus these, picked on the driver."""
        return {rec["partition_id"] for rec in self.read_lineage(table)}


def _schema_ddl(fields) -> str:
    """DDL for ``spark.read.schema``; parsing it makes every field and
    element nullable, as a Parquet read does."""
    return ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in fields)
