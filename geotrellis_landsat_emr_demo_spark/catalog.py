"""Thin Iceberg-style table catalog over Parquet.

No Iceberg runtime jar ships in this image, so this module provides the
subset of semantics the engine needs — snapshot isolation, **atomic
multi-table append** (one manifest swap commits data + lineage together,
the exactly-once requirement of SURVEY §7 'resume idempotency'), and
explicit file listings that Spark/pyarrow read with full predicate
pushdown.  All engine code talks to this API, so a real Iceberg catalog is
a config swap (same verbs: append / read / snapshot / history).

It replaces the reference's six storage backends + AttributeStore
(server/src/main/scala/demo/Main.scala:41-77, MetadataReader.scala:11-31)
with one implementation.

On-disk layout:
    root/_catalog.json            current manifest (atomic os.replace swap)
    root/_history/<n>.json        previous manifests (snapshots)
    root/<table>/<uuid>.parquet   immutable data files
"""

from __future__ import annotations

import contextlib
import copy
import fcntl
import json
import os
import shutil
import time
import uuid


class CommitConflict(RuntimeError):
    """Optimistic-concurrency failure: the manifest advanced past the
    snapshot a rewrite was based on (Iceberg's CommitFailedException
    analog) — the caller must re-scan and retry."""


def coerce_us_timestamps(tbl):
    """Arrow ns timestamps -> us so Spark's parquet reader accepts them."""
    import pyarrow as pa

    fields = []
    changed = False
    for f in tbl.schema:
        if pa.types.is_timestamp(f.type) and f.type.unit == "ns":
            fields.append(pa.field(f.name, pa.timestamp("us", f.type.tz)))
            changed = True
        else:
            fields.append(f)
    return tbl.cast(pa.schema(fields)) if changed else tbl


class Catalog:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)
        os.makedirs(os.path.join(root, "_history"), exist_ok=True)
        self._manifest_path = os.path.join(root, "_catalog.json")
        self._lock_path = os.path.join(root, "_catalog.lock")
        if not os.path.exists(self._manifest_path):
            self._write_manifest({"snapshot": 0, "tables": {}, "committed": {}})

    # ------------------------------------------------------------ manifest

    @contextlib.contextmanager
    def _commit_lock(self):
        """Exclusive fcntl lock making read-validate-write atomic across
        processes/threads — the CAS half of Iceberg's commit protocol.
        Without it two writers could both pass the snapshot check and the
        last os.replace would silently drop the other's commit."""
        fd = os.open(self._lock_path, os.O_CREAT | os.O_RDWR, 0o644)
        try:
            fcntl.flock(fd, fcntl.LOCK_EX)
            yield
        finally:
            fcntl.flock(fd, fcntl.LOCK_UN)
            os.close(fd)

    def _read_manifest(self) -> dict:
        """Parsed manifest, cached on the file's (ino, mtime_ns, size) so
        hot read paths (point reads call :meth:`snapshot_id` per tile) don't
        re-parse _catalog.json; an external writer's os.replace allocates a
        new inode, so the key is collision-proof even when two commits land
        in one coarse-clock mtime tick with unchanged size.  The returned
        dict is SHARED — treat as read-only; mutators must deep-copy (see
        :meth:`_swap`)."""
        st = os.stat(self._manifest_path)
        key = (st.st_ino, st.st_mtime_ns, st.st_size)
        cached = getattr(self, "_manifest_cache", None)
        if cached is not None and cached[0] == key:
            return cached[1]
        with open(self._manifest_path) as f:
            m = json.load(f)
        self._manifest_cache = (key, m)
        return m

    def _write_manifest(self, m: dict) -> None:
        tmp = self._manifest_path + f".tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(m, f, indent=1)
        os.replace(tmp, self._manifest_path)  # atomic on POSIX
        st = os.stat(self._manifest_path)
        self._manifest_cache = ((st.st_ino, st.st_mtime_ns, st.st_size), m)

    def snapshot_id(self) -> int:
        return self._read_manifest()["snapshot"]

    # -------------------------------------------------------------- commit

    def _swap(self, edit, markers: dict | None = None) -> int:
        """The one manifest swap, under :meth:`_commit_lock`: re-read the
        live manifest INSIDE the lock (so a racing commit's files survive),
        apply ``edit`` to a deep copy (the cached manifest is shared) —
        ``edit`` returns the new manifest and may raise to abort before
        anything is written — archive the old manifest as a snapshot,
        stamp ``markers`` (stage -> metadata), bump the snapshot id and
        write.  Returns the new snapshot id."""
        with self._commit_lock():
            cur = self._read_manifest()
            m = edit(copy.deepcopy(cur))
            hist = os.path.join(self.root, "_history", f"{cur['snapshot']}.json")
            with open(hist, "w") as f:
                json.dump(cur, f)
            now = time.time()
            for k, v in (markers or {}).items():
                m["committed"][k] = {"at": now, **(v or {})}
            m["snapshot"] = cur["snapshot"] + 1  # snapshots are monotonic
            self._write_manifest(m)
            return m["snapshot"]

    def _entries(self, files) -> list:
        """Paths or (path, file-level metadata) tuples -> manifest file
        entries: the relpath under root, or {path, meta} with metadata."""
        out = []
        for p in files:
            p, meta = p if isinstance(p, tuple) else (p, None)
            rel = os.path.relpath(p, self.root)
            assert not rel.startswith(".."), f"file outside catalog root: {p}"
            out.append({"path": rel, "meta": meta} if meta else rel)
        return out

    def commit(self, adds: dict[str, list[str]], markers: dict | None = None) -> int:
        """Atomically append files to one or more tables, optionally
        recording completion ``markers`` (stage -> metadata) in the same
        snapshot.  Returns the new snapshot id.

        adds: {table_name: [absolute parquet paths already under root/<table>/]}
        """

        def edit(m):
            for table, files in adds.items():
                entry = m["tables"].setdefault(table, {"files": []})
                entry["files"].extend(self._entries(files))
            return m

        return self._swap(edit, markers)

    def replace(
        self,
        table: str,
        files: list,
        markers: dict | None = None,
        expected_snapshot: int | None = None,
    ) -> int:
        """Atomically REPLACE a table's file list (the compaction /
        rewrite_data_files commit).  Old data files stay on disk and remain
        readable through historical snapshots (read_at / rollback), exactly
        like Iceberg's rewrite: logical replace, physical retain.

        ``expected_snapshot`` is the optimistic-concurrency guard: pass the
        snapshot id the rewrite scanned from; if any commit landed since
        (e.g. a streaming append racing a compaction), raises
        :class:`CommitConflict` instead of silently dropping those files
        from the new manifest — the caller re-scans and retries, exactly
        Iceberg's validate-base-snapshot-then-commit protocol.  The snapshot
        check runs under :meth:`_commit_lock`, so validate+write is a true
        CAS: two racing writers serialize and the loser sees the conflict."""

        def edit(m):
            if expected_snapshot is not None and m["snapshot"] != expected_snapshot:
                raise CommitConflict(
                    f"table {table!r} rewrite based on snapshot {expected_snapshot} "
                    f"but manifest is at {m['snapshot']} — re-scan and retry"
                )
            m["tables"][table] = {"files": self._entries(files)}
            return m

        return self._swap(edit, markers)

    def is_committed(self, marker: str) -> bool:
        return marker in self._read_manifest()["committed"]

    def marker(self, marker: str):
        return self._read_manifest()["committed"].get(marker)

    # ---------------------------------------------------------------- I/O

    def table_dir(self, table: str) -> str:
        d = os.path.join(self.root, table)
        os.makedirs(d, exist_ok=True)
        return d

    @staticmethod
    def _entry_path(e):
        return e["path"] if isinstance(e, dict) else e

    def _file_entries(self, m: dict, table: str) -> list[tuple[str, dict | None]]:
        """(absolute path, file-level metadata) pairs of a table in the
        manifest ``m``: entries are plain relpaths or {path, meta} dicts."""
        return [
            (
                os.path.join(self.root, self._entry_path(e)),
                e.get("meta") if isinstance(e, dict) else None,
            )
            for e in m["tables"].get(table, {"files": []})["files"]
        ]

    def file_entries(self, table: str) -> list[tuple[str, dict | None]]:
        """(absolute path, file-level metadata) pairs for a table."""
        return self._file_entries(self._read_manifest(), table)

    def files(self, table: str, **meta_filter) -> list[str]:
        """Paths of a table's data files; ``meta_filter`` prunes on
        file-level metadata recorded at commit time (e.g. zoom=13) — the
        manifest-level partition pruning Iceberg does with partition specs."""
        return [
            p
            for p, meta in self.file_entries(table)
            if meta is None
            or not any(k in meta and meta[k] != v for k, v in meta_filter.items())
        ]

    def stage_spark_write(
        self, df, table: str, write_options: dict | None = None, partition_by: str | None = None
    ) -> list:
        """Write a Spark DataFrame as staged parquet files under the table
        dir (NOT yet visible). Call :meth:`commit` to publish them.
        Returns one entry per file: its path, or with ``partition_by`` a
        (path, value) pair.

        ``write_options`` pass through to the parquet writer — e.g.
        ``operators.ingest.TILE_WRITE_OPTIONS``, the tiles table's
        one-tile row groups (a row group is the payload-IO unit: a point
        read decompresses one whole column chunk of it).

        ``partition_by`` names an integer column to partition the write
        on: each task writes one file per value it holds, the column
        itself is not stored, and its value comes back with the file.
        Spark's writer sorts each task's rows by that column unless they
        already are, so sort within partitions by the column first and
        any other order after it."""
        stage = os.path.join(self.root, f"_stage-{uuid.uuid4().hex}")
        w = df.write.mode("overwrite")
        for k, v in (write_options or {}).items():
            w = w.option(k, v)
        if partition_by is not None:
            w = w.partitionBy(partition_by)
        w.parquet(stage)
        out = []
        tdir = self.table_dir(table)
        for dirpath, _, names in sorted(os.walk(stage)):
            for name in sorted(names):
                if not name.endswith(".parquet"):
                    continue
                dst = os.path.join(tdir, f"{uuid.uuid4().hex}.parquet")
                shutil.move(os.path.join(dirpath, name), dst)
                if partition_by is None:
                    out.append(dst)
                else:  # dirpath ends in "<partition_by>=<value>"
                    out.append((dst, int(os.path.basename(dirpath).split("=", 1)[1])))
        shutil.rmtree(stage, ignore_errors=True)
        return out

    def append_spark(self, df, table: str, markers: dict | None = None) -> int:
        """writeTo(table).append() equivalent: stage + atomic commit."""
        return self.commit({table: self.stage_spark_write(df, table)}, markers)

    def append_pandas(
        self, pdf, table: str, markers: dict | None = None, row_group_bytes: int = 32 << 20
    ) -> int:
        import pyarrow as pa
        import pyarrow.parquet as pq

        tbl = pa.Table.from_pandas(pdf, preserve_index=False)
        tbl = coerce_us_timestamps(tbl)
        # bound row groups to ~row_group_bytes so Spark scans split/parallelize
        # (one giant row group = one scan task, which serializes wide rows
        # like image payloads)
        avg_row = max(1, tbl.nbytes // max(1, tbl.num_rows))
        rows_per_group = max(1, row_group_bytes // avg_row)
        dst = os.path.join(self.table_dir(table), f"{uuid.uuid4().hex}.parquet")
        pq.write_table(tbl, dst, row_group_size=rows_per_group)
        return self.commit({table: [dst]}, markers)

    def read_spark(self, spark, table: str, **meta_filter):
        files = self.files(table, **meta_filter)
        if not files:
            raise FileNotFoundError(f"table {table!r} is empty/missing")
        return spark.read.parquet(*files)

    def read_arrow(self, table: str, filters=None, columns=None, **meta_filter):
        """Driver-side pruned read, uncached (the 'collection reader / no
        Spark job' path, server/.../Router.scala:234-248).  File set pruned
        by manifest metadata (``meta_filter``); row groups pruned by parquet
        footer min/max stats via ``filters``."""
        import pyarrow.dataset as ds

        files = self.files(table, **meta_filter)
        if not files:
            raise FileNotFoundError(f"table {table!r} is empty/missing")
        return ds.dataset(files, format="parquet").to_table(
            filter=filters, columns=columns
        )

    def read_pandas(self, table: str, filters=None, columns=None):
        return self.read_arrow(table, filters, columns).to_pandas()

    def history(self) -> list[int]:
        d = os.path.join(self.root, "_history")
        return sorted(int(f.split(".")[0]) for f in os.listdir(d) if f.endswith(".json"))

    def expire_snapshots(
        self, keep_last: int = 3, older_than_s: float = 3600.0
    ) -> dict:
        """Iceberg's ``expire_snapshots`` + ``remove_orphan_files``:
        drop all but the newest ``keep_last`` archived snapshots, then
        physically delete data files referenced by NO retained manifest
        (live or archived) — compaction/replace retain old files forever
        otherwise, and at 100 TB the storage bill is dominated by exactly
        those.  Time travel older than the horizon becomes unavailable
        (as in Iceberg).

        ``older_than_s`` protects in-flight writers: an unreferenced file
        is only deleted if its mtime is at least this old — a staged
        write that has not committed yet is never newer work than the
        cutoff (Iceberg's orphan-removal age guard).  Runs under the
        commit lock; returns {snapshots_removed, files_removed,
        bytes_removed}."""
        hist_dir = os.path.join(self.root, "_history")
        with self._commit_lock():
            snaps = self.history()
            drop = snaps[:-keep_last] if keep_last > 0 else snaps
            for s in drop:
                os.remove(os.path.join(hist_dir, f"{s}.json"))
            # referenced = union of file relpaths across the live manifest
            # and every RETAINED archived manifest
            manifests = [self._read_manifest()]
            for s in self.history():
                with open(os.path.join(hist_dir, f"{s}.json")) as f:
                    manifests.append(json.load(f))
            referenced = {
                self._entry_path(e)
                for m in manifests
                for entry in m.get("tables", {}).values()
                for e in entry["files"]
            }
            cutoff = time.time() - older_than_s
            files_removed = bytes_removed = 0
            for dirpath, dirnames, filenames in os.walk(self.root):
                if os.path.basename(dirpath) == "_history":
                    dirnames.clear()
                    continue
                for fn in filenames:
                    if not fn.endswith(".parquet"):
                        continue  # manifests, locks, markers stay
                    p = os.path.join(dirpath, fn)
                    rel = os.path.relpath(p, self.root)
                    # A file vanishing between the walk listing and the
                    # stat/remove means a concurrent staged write just
                    # finalized (temp part-file renamed) — by definition
                    # not an orphan to delete; skip, don't crash.
                    try:
                        st = os.stat(p)
                        if rel not in referenced and st.st_mtime <= cutoff:
                            bytes_removed += st.st_size
                            os.remove(p)
                            files_removed += 1
                    except FileNotFoundError:
                        continue
            return dict(
                snapshots_removed=len(drop),
                files_removed=files_removed,
                bytes_removed=bytes_removed,
            )

    def rollback(self, snapshot: int) -> int:
        """Time-travel: atomically restore the manifest of ``snapshot``.

        Data files are immutable and never deleted by rollback (like
        Iceberg's rollback-to-snapshot), so rolling forward again is
        possible via a later snapshot's manifest in _history."""
        path = os.path.join(self.root, "_history", f"{snapshot}.json")
        if not os.path.exists(path):
            raise KeyError(f"no snapshot {snapshot}; have {self.history()}")

        def edit(_):
            with open(path) as f:
                return json.load(f)

        return self._swap(edit)

    def read_at(self, table: str, snapshot: int):
        """Pruned arrow read of a table AS OF a historical snapshot."""
        cur = self._read_manifest()
        if snapshot == cur["snapshot"]:
            m = cur  # as-of current == live manifest (not yet archived)
        else:
            path = os.path.join(self.root, "_history", f"{snapshot}.json")
            with open(path) as f:
                m = json.load(f)
        import pyarrow.dataset as ds

        files = [p for p, _ in self._file_entries(m, table)]
        if not files:
            raise FileNotFoundError(f"{table!r} empty at snapshot {snapshot}")
        return ds.dataset(files, format="parquet").to_table()
