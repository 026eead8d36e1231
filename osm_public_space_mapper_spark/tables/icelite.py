"""Icelite — minimal Iceberg-layout table format over parquet (SURVEY.md §4.2.4).

No Iceberg runtime jar is reachable in this environment, so the engine
implements the subset of Iceberg semantics the north rule needs, from scratch:

  table/
    metadata/metadata.json        current snapshot pointer + schema + history
    metadata/snap-<n>.json        snapshot: list of manifest entries
    data/<partition>/<file>.parquet

Guarantees:
- atomic snapshot commit: data files land first, then snap-N.json, then
  metadata.json is atomically replaced (os.replace) — readers never see a
  partial commit
- per-partition lineage: each manifest entry records partition key, row
  count, and a content hash (north rule "every partition emits lineage +
  row-count metrics to a checkpoint table")
- exact resume: `completed_partitions(stage)` lets a writer anti-join
  already-committed partition keys and skip them (batch incremental
  processing; reference is one-shot batch so no streaming state is needed)

Read path is plain `spark.read.parquet(*files)` over manifest-listed files —
partition pruning by passing only matching partitions' files.
"""

from __future__ import annotations

import json
import os
import time
import uuid


class IceliteTable:
    def __init__(self, path: str):
        self.path = path
        self.meta_dir = os.path.join(path, "metadata")
        self.data_dir = os.path.join(path, "data")
        os.makedirs(self.meta_dir, exist_ok=True)
        os.makedirs(self.data_dir, exist_ok=True)

    # -- metadata ----------------------------------------------------------
    def _meta_path(self) -> str:
        return os.path.join(self.meta_dir, "metadata.json")

    def current_metadata(self) -> dict:
        p = self._meta_path()
        if not os.path.exists(p):
            return {"snapshot": None, "history": [], "schema": None}
        with open(p) as f:
            return json.load(f)

    def current_snapshot(self) -> dict:
        meta = self.current_metadata()
        if meta["snapshot"] is None:
            return {"manifests": [], "snapshot_id": None}
        with open(os.path.join(self.meta_dir, meta["snapshot"])) as f:
            return json.load(f)

    # -- write -------------------------------------------------------------
    def commit(
        self,
        df,
        partition_col: str,
        stage: str = "default",
        mode: str = "append",
        base_manifests: list | None = None,
    ) -> dict:
        """Write df partitioned by `partition_col` and atomically commit a
        new snapshot whose manifest carries per-partition lineage (see
        `_write_files`). An empty df still commits a snapshot."""
        return self._commit_snapshot(
            self._write_files(df, partition_col, stage),
            df.schema.json(), partition_col, stage, mode, base_manifests,
        )

    def _write_files(self, df, partition_col: str, stage: str) -> list[dict]:
        """Write df's data files and return their manifest entries.

        Single-pass write: each executor task writes its own parquet file(s)
        (the Iceberg writer model — tasks produce data files, the driver
        commits manifest entries) and RETURNS one lineage row per written
        file (partition, path, row_count, content_hash), so the input is
        scanned exactly once. Directories are made by the tasks that write
        into them, so a write of no rows leaves nothing under data/.

        content_hash is an order-insensitive wrap-around SUM of per-row
        hashes (+ the row count in the manifest): unlike bit_xor, duplicate
        row pairs don't cancel out. Failed/retried tasks may leave orphan
        files in the write dir; only rows from successful attempts reach the
        manifest (standard Iceberg orphan semantics)."""
        from pyspark.sql import functions as F

        out_dir = os.path.join(self.data_dir, uuid.uuid4().hex[:12])
        pcol = partition_col

        def _write_batches(batches):
            import uuid as _uuid
            from hashlib import md5

            import numpy as np
            import pandas as pd
            import pyarrow as pa
            import pyarrow.parquet as pq

            def _cell64(v):
                """Stable 64-bit digest for non-hashable payload cells
                (nested arrays, binary geometry/mask blobs)."""
                if v is None:
                    b = b"\x00"
                elif isinstance(v, (bytes, bytearray)):
                    b = bytes(v)
                elif isinstance(v, np.ndarray):
                    b = v.tobytes() + str(v.dtype).encode() + str(v.shape).encode()
                else:
                    b = repr(v).encode()
                return int.from_bytes(md5(b).digest()[:8], "big")

            def _row_hashes(pdf: "pd.DataFrame") -> "np.ndarray":
                total = np.zeros(len(pdf), dtype=np.uint64)
                for c in sorted(pdf.columns):
                    col = pdf[c]
                    if col.dtype == object:
                        col = pd.Series([_cell64(v) for v in col], dtype="uint64")
                    h = pd.util.hash_pandas_object(col, index=False).to_numpy().astype(np.uint64)
                    total = total * np.uint64(1099511628211) + h  # FNV-ish column mix
                return total

            # flush per Arrow batch — a task never buffers more than one
            # batch, so memory stays bounded regardless of partition size;
            # a partition spanning batches just yields several data files,
            # which the manifest (one row per FILE) already models.
            rows = {"partition": [], "path": [], "row_count": [], "content_hash": []}
            for pdf in batches:
                # dropna=False: rows with a NULL partition value must land in
                # the table (under the Hive default-partition sentinel, like
                # the partitionBy writer this replaced), not be silently lost
                for val, grp in pdf.groupby(pcol, sort=False, dropna=False):
                    if pd.isna(val):
                        val = "__HIVE_DEFAULT_PARTITION__"
                    pdir = os.path.join(out_dir, f"{pcol}={val}")
                    os.makedirs(pdir, exist_ok=True)
                    fpath = os.path.join(pdir, f"part-{_uuid.uuid4().hex[:16]}.parquet")
                    grp = grp.reset_index(drop=True)
                    pq.write_table(pa.Table.from_pandas(grp, preserve_index=False), fpath)
                    h = _row_hashes(grp)
                    rows["partition"].append(str(val))
                    rows["path"].append(fpath)
                    rows["row_count"].append(len(grp))
                    rows["content_hash"].append(int(h.sum(dtype=np.uint64)))
            yield pd.DataFrame(rows)

        # the sort keeps each partition value contiguous within a task (fewer
        # files per partition), and lets adaptive execution collapse an empty
        # input to an empty relation, so the Python write stage then launches
        # no tasks (e.g. a resume whose partitions are all committed)
        lineage_rows = (
            df.repartition(F.col(partition_col))
            .sortWithinPartitions(F.col(partition_col))
            .mapInPandas(
                _write_batches,
                "partition string, path string, row_count long, content_hash decimal(20,0)",
            )
            .collect()
        )
        return [
            {
                "partition": r["partition"],
                "row_count": int(r["row_count"]),
                "content_hash": int(r["content_hash"]),
                "stage": stage,
                "path": r["path"],
            }
            for r in lineage_rows
        ]

    def _commit_snapshot(
        self,
        manifests: list[dict],
        schema_json: str,
        partition_col: str,
        stage: str,
        mode: str = "append",
        base_manifests: list | None = None,
    ) -> dict:
        """Atomically publish a snapshot listing `manifests` on top of the
        carried-over ones."""
        prev = self.current_metadata()
        snap = self.current_snapshot()
        if base_manifests is not None:
            # caller supplies the carried-over manifest set (merge/COW path:
            # untouched files survive, rewritten files are dropped)
            old_manifests = base_manifests
        else:
            old_manifests = snap["manifests"] if mode == "append" else []
        n = len(prev["history"]) + 1
        snap_name = f"snap-{n:06d}.json"
        new_snap = {
            "snapshot_id": n,
            "timestamp_ms": int(time.time() * 1000),
            "stage": stage,
            "manifests": old_manifests + manifests,
        }
        with open(os.path.join(self.meta_dir, snap_name), "w") as f:
            json.dump(new_snap, f)
        new_meta = {
            "snapshot": snap_name,
            "history": prev["history"] + [snap_name],
            "schema": schema_json,
            "partition_col": partition_col,
        }
        if prev.get("added_columns"):
            new_meta["added_columns"] = prev["added_columns"]
        tmp = self._meta_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(new_meta, f)
        os.replace(tmp, self._meta_path())  # atomic commit point
        return new_snap

    # -- read --------------------------------------------------------------
    def snapshot(self, snapshot_id: int) -> dict:
        """Load a historical snapshot by id (time travel — snapshots are
        immutable; `history` in metadata.json lists them all)."""
        with open(os.path.join(self.meta_dir, f"snap-{snapshot_id:06d}.json")) as f:
            return json.load(f)

    def read(self, spark, partitions: list[str] | None = None,
             snapshot_id: int | None = None):
        """Read the current snapshot, or a historical one via `snapshot_id`
        (Iceberg-style time travel: VERSION AS OF). Columns added after a
        file was written (`add_column`) are projected onto old files at
        scan time with their declared default — no data rewrite."""
        snap = self.current_snapshot() if snapshot_id is None else self.snapshot(snapshot_id)
        paths = [
            m["path"]
            for m in snap["manifests"]
            if partitions is None or m["partition"] in set(partitions)
        ]
        if not paths:
            raise ValueError("empty table or no matching partitions")
        # manifest-driven pruning: only the listed data files are touched;
        # the partition column is stored inside each file (Iceberg-style,
        # no hive-dir recovery needed)
        df = spark.read.option("mergeSchema", "true").parquet(*sorted(paths))
        return self._project_evolved(df)

    def _project_evolved(self, df):
        """Apply the metadata-declared added columns to a raw file scan
        (Iceberg initial-defaults) — shared by read() and merge_into()'s
        affected-file rewrite scan so evolved tables merge correctly."""
        meta = self.current_metadata()
        for col in meta.get("added_columns", []):
            from pyspark.sql import functions as F

            name, dtype, default = col["name"], col["type"], col["default"]
            if name in df.columns:
                # old files surface NULL for the missing column; the
                # declared default fills them (Iceberg initial-default)
                df = df.withColumn(
                    name, F.coalesce(F.col(name), F.lit(default).cast(dtype))
                )
            else:
                df = df.withColumn(name, F.lit(default).cast(dtype))
        return df

    def add_column(self, name: str, dtype: str, default=None) -> dict:
        """Metadata-only schema evolution (Iceberg ADD COLUMN with an
        initial default): no data file is touched. Old files yield the
        default at read time; new commits may carry the column for real.
        Returns the updated metadata dict."""
        meta = self.current_metadata()
        existing = {c["name"] for c in meta.get("added_columns", [])}
        if name in existing:
            raise ValueError(f"column {name!r} already added")
        meta.setdefault("added_columns", []).append(
            {"name": name, "type": dtype, "default": default}
        )
        tmp = self._meta_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(meta, f)
        os.replace(tmp, self._meta_path())
        return meta

    def lineage(self) -> list[dict]:
        return self.current_snapshot()["manifests"]

    def completed_partitions(self, stage: str | None = None) -> set[str]:
        return {
            m["partition"]
            for m in self.lineage()
            if stage is None or m["stage"] == stage
        }

    def merge_into(
        self,
        spark,
        source,
        on: str,
        when_matched: str = "update",
        when_not_matched: str = "insert",
        matched_condition=None,
        stage: str = "merge",
    ) -> dict:
        """MERGE INTO with Iceberg copy-on-write semantics, from scratch
        (no Iceberg runtime reachable — SURVEY.md §4.2.4): upsert/delete a
        key-unique ``source`` frame into this table and atomically commit a
        new snapshot.  Old snapshots stay readable (time travel).

        Clauses (the Iceberg/Delta MERGE surface this engine needs):
        - ``when_matched='update'``: the source row replaces the target row
          (full-row UPDATE SET * — the partition value may change, moving
          the row across partitions);
          ``'delete'``: matched target rows are removed.
          ``matched_condition`` (a Column over target columns) restricts the
          clause to matching rows that satisfy it; non-satisfying matched
          rows are carried over unchanged (WHEN MATCHED AND <cond>).
        - ``when_not_matched='insert'``: source rows with no target match
          are appended; ``'ignore'`` drops them.

        HOW, Spark-first, and why it scales: copy-on-write at FILE
        granularity.  A broadcast semi-join of the manifest-listed scan
        against the source keys finds the files that contain at least one
        match; ONLY those files are rewritten — every other data file's
        manifest entry carries over into the new snapshot byte-untouched
        (at 100 TB a merge touching 0.1% of keys rewrites ~0.1% of files,
        not the table).  The affected-file list is collected on the driver
        — metadata-scale by contract, like the manifest reader itself.  The
        rewrite plan is one union: (rows of affected files that didn't
        match) + (matched rows per clause) + (inserts via broadcast
        anti-join of source vs GLOBAL target keys — key containment, not
        file containment).

        Contract: ``source`` has the target's schema and is unique on
        ``on`` (several source rows for one key make the merge ambiguous —
        standard MERGE cardinality rule, enforced by the caller)."""
        from pyspark.sql import functions as F

        if when_matched not in ("update", "delete"):
            raise ValueError(f"when_matched must be 'update' or 'delete', got {when_matched!r}")
        if when_not_matched not in ("insert", "ignore"):
            raise ValueError(
                f"when_not_matched must be 'insert' or 'ignore', got {when_not_matched!r}"
            )
        snap = self.current_snapshot()
        if not snap["manifests"]:
            raise ValueError("merge_into target is empty — commit an initial snapshot first")
        partition_col = self.current_metadata()["partition_col"]

        tgt = self.read(spark).withColumn("_file", F.expr("input_file_name()"))
        src_keys = source.select(on).distinct()
        # file pruning: basenames are uuid-unique, so the URI-vs-local-path
        # scheme difference never matters
        affected = {
            os.path.basename(r[0])
            for r in tgt.join(F.broadcast(src_keys), on, "left_semi")
            .select(F.element_at(F.split("_file", "/"), -1))
            .distinct()
            .collect()
        }
        carried = [
            m for m in snap["manifests"] if os.path.basename(m["path"]) not in affected
        ]
        tcols = [c for c in tgt.columns if c != "_file"]
        if not affected and when_not_matched == "ignore":
            return snap  # no-op merge: nothing matched, nothing to insert

        # rewrite scan touches ONLY the affected files
        aff_paths = sorted(
            m["path"] for m in snap["manifests"] if os.path.basename(m["path"]) in affected
        )
        hit = (
            # same projection as read(): mergeSchema + evolved-column
            # defaults, so a merge after add_column() sees every target
            # column (ADVICE r05: the bare parquet scan lacked added
            # columns and .select(*tcols) raised)
            self._project_evolved(spark.read.option("mergeSchema", "true").parquet(*aff_paths))
            if aff_paths
            else spark.createDataFrame([], tgt.drop("_file").schema)
        )
        is_matched = F.col("_mk").isNotNull()
        take_clause = is_matched if matched_condition is None else (is_matched & matched_condition)
        joined = hit.join(
            F.broadcast(src_keys.select(F.col(on).alias("_mk"))),
            F.col(on) == F.col("_mk"),
            "left",
        )
        carry_rows = joined.where(~F.coalesce(take_clause, F.lit(False))).select(*tcols)
        if when_matched == "update":
            updated = source.join(
                F.broadcast(
                    joined.where(take_clause).select(F.col(on).alias("_uk")).distinct()
                ),
                F.col(on) == F.col("_uk"),
                "inner",
            ).select(*tcols)
        else:
            updated = None

        if when_not_matched == "insert":
            # global key containment decides inserts; the key column scan is
            # column-pruned and the join strategy is left to Catalyst/AQE
            # (never broadcast the table-side key set)
            inserts = source.join(tgt.select(on).distinct(), on, "left_anti").select(*tcols)
        else:
            inserts = None

        rewrite = carry_rows
        for extra in (updated, inserts):
            if extra is not None:
                rewrite = rewrite.unionByName(extra)
        return self.commit(
            rewrite, partition_col, stage=stage, base_manifests=carried
        )

    def compact(
        self,
        spark,
        min_files: int = 2,
        partitions: list[str] | None = None,
        stage: str = "compact",
    ) -> dict:
        """Small-file compaction (Iceberg ``rewrite_data_files`` shape):
        every partition with ≥ ``min_files`` data files is rewritten into
        as few files as its size needs; single-file partitions carry over
        untouched. Append-heavy tables (commit_resumable per micro-batch,
        streaming foreachBatch sinks) accumulate small files whose open/
        footer cost dominates scans at scale — compaction restores
        one-file-per-partition locality WITHOUT changing table content:
        row counts and the order-insensitive content hashes are preserved
        per partition (asserted in tests), and prior snapshots still list
        the old files (time travel intact; physical file GC is a separate
        concern, as in Iceberg's expire_snapshots).

        Only the affected partitions' files are read — manifest-pruned
        scan, so compacting 1% of partitions touches 1% of bytes."""
        from collections import Counter

        snap = self.current_snapshot()
        if not snap["manifests"]:
            return snap
        pcol = self.current_metadata()["partition_col"]
        per_part = Counter(m["partition"] for m in snap["manifests"])
        todo = {
            p
            for p, n in per_part.items()
            if n >= min_files and (partitions is None or p in partitions)
        }
        if not todo:
            return snap
        paths = sorted(m["path"] for m in snap["manifests"] if m["partition"] in todo)
        carried = [m for m in snap["manifests"] if m["partition"] not in todo]
        rewrite = spark.read.parquet(*paths)
        return self.commit(rewrite, pcol, stage=stage, base_manifests=carried)

    def commit_resumable(self, df, partition_col: str, stage: str = "default") -> dict:
        """Resume-aware commit: skips partitions already committed for this
        stage (anti-join on the checkpoint manifest) and appends the rest.

        One pass: the write runs once, and when it wrote no rows (every
        partition already committed) the current snapshot is returned — no
        new snapshot, no empty data directory."""
        from pyspark.sql import functions as F

        done = self.completed_partitions(stage)
        if done:
            # NULL-safe anti-filter: coalesce to the same sentinel the writer
            # files NULL partitions under, so (a) a committed NULL partition
            # is skipped and (b) an uncommitted one isn't dropped by
            # NULL-propagating isin()
            key = F.coalesce(
                F.col(partition_col).cast("string"), F.lit("__HIVE_DEFAULT_PARTITION__")
            )
            df = df.filter(~key.isin(list(done)))
        manifests = self._write_files(df, partition_col, stage)
        if not manifests:
            return self.current_snapshot()
        return self._commit_snapshot(manifests, df.schema.json(), partition_col, stage)
