"""``format("snapshot")`` — a Structured Streaming SOURCE over the
manifest-log snapshot tables of :mod:`operators.maintenance` (the
Delta/Iceberg "table streaming / change feed" pattern on plain
parquet).

Offsets ARE committed version numbers: micro-batch N+1 contains the
rows of every file ADDED between the last consumed version and the
current head, stepped version by version against each commit's parent
manifest — so an append-only producer (``snapshot_commit(mode=
"append")``) streams EXACTLY-ONCE into
any downstream pipeline (the broadcast-model streaming twins, Kafka
sinks, windowed aggs), with replay driven by the immutable manifests
(``readBetweenOffsets`` re-reads the same version range and gets the
same rows, byte for byte).

Copy-on-write commits (merge / delete / overwrite / compact /
cluster) REWRITE surviving rows into new files, so their file diff
is not a row delta. ``on_rewrite`` picks the policy, mirroring Delta's
streaming-source options:

- ``fail`` (default) — stop the stream with a clear error (the
  consumer must decide; silently replaying merged files would
  double-count surviving rows);
- ``skip`` — emit nothing for that commit and move past it (Delta's
  ``skipChangeCommits``: correct when downstream only needs NEW
  entities, e.g. dedup gates keyed on content).

Options: ``path`` (the table dir, required), ``starting_version``
(``"earliest"`` = everything since v1, the default; ``"latest"`` =
only commits after stream start; or an integer N = "already consumed
through N"), ``on_rewrite`` (above), ``max_versions_per_batch``
(flow control; default all available).

Scale notes: the full ``DataSourceStreamReader`` contract — the
driver plans a micro-batch from MANIFESTS ONLY (one InputPartition
per added file) and each Spark task reads its parquet file
executor-side, so batch parallelism is the file count, the driver
never touches row data, and a large backfill is just a wide batch.
(Bootstrapping a 100 TB base is still better done with
``snapshot_read`` — prunable, no per-batch planning — then stream
with ``starting_version`` set to that base version.) The schema is
pinned at stream start from the table's first data file; files later
appended with EXTRA columns have them dropped, files missing pinned
columns null-fill (the merge-schema caveat of ``snapshot_read``
applies to streams too).

A missing parent manifest (a retention process retiring versions the
stream has not consumed yet) raises — the missing history cannot be
reconstructed, matching Delta's "version no longer available".

The format is also a WRITE surface (r10-late #2): ``df.write.format
("snapshot").mode("append"|"overwrite")`` commits a version through
the real two-phase protocol (executors write attempt-unique parquet,
the driver's ``commit`` publishes the manifest, ``abort`` cleans up),
and ``df.writeStream.format("snapshot")`` is an EXACTLY-ONCE
streaming sink — epochs stamp ``(stream_writer_id, stream_batch_id)``
into the manifest extra and a replayed epoch is detected and folded
to a no-op, so snapshot→snapshot pipes resume checkpoints cleanly
(unlike the memory sink).

No SQL oracle: DuckDB has no streaming; pinned by stream==batch
equality in tests/test_snapshot_source.py (the documented convention
for streaming twins).
"""

from __future__ import annotations

import os

from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    InputPartition,
    WriterCommitMessage,
)

try:  # pickle-by-value: executors don't need the repo on PYTHONPATH
    import sys as _sys

    from pyspark import cloudpickle as _cloudpickle

    _cloudpickle.register_pickle_by_value(_sys.modules[__name__])
except Exception:  # noqa: BLE001
    pass


def _mt():
    from teste_carga_avro_vs_json_spark.operators import maintenance

    return maintenance


def _table_schema_arrow(table_dir: str):
    """Arrow schema from the FIRST data file of the oldest version
    that has one (footer read only)."""
    import pyarrow.parquet as pq

    mt = _mt()
    for v in mt.snapshot_versions(table_dir):
        files = mt._read_manifest(table_dir, v)["files"]
        if files:
            path = os.path.join(table_dir, files[0]["path"])
            return pq.ParquetFile(path).schema_arrow
    raise ValueError(
        f"no version of {table_dir!r} has any data file to define a schema"
    )


class _FilePartition(InputPartition):
    """One added data file of the micro-batch's version range — read
    executor-side."""

    def __init__(self, table_dir: str, rel_path: str, fields: list[str]):
        self.table_dir = table_dir
        self.rel_path = rel_path
        self.fields = fields


class _ChangePartition(InputPartition):
    """One change source of a CDF micro-batch (``read_changes``) —
    read executor-side. ``kind``:

    - ``insert_file``: a data file an append added (rows → insert);
    - ``cdf_file``: a commit-time change file (rows carry their own
      ``_change_type``);
    - ``mor_delete``: a data file some of whose positions a
      merge-on-read delete removed — ``positions`` is that commit's
      DV slice for this file (bounded by the deleted rows; mor is the
      small-delete mode)."""

    def __init__(
        self,
        table_dir: str,
        kind: str,
        rel_path: str,
        fields: list[str],
        version: int,
        positions: tuple = (),
    ):
        self.table_dir = table_dir
        self.kind = kind
        self.rel_path = rel_path
        self.fields = fields
        self.version = version
        self.positions = positions


class SnapshotStreamReader(DataSourceStreamReader):
    """Version-stepped micro-batches; the offset is ``{"version": N}``
    = "consumed through commit N". The driver plans from manifests
    only; rows are read in the tasks."""

    def __init__(self, options):
        self.table_dir = options.get("path") or options.get("table_dir")
        if not self.table_dir:
            raise ValueError("format('snapshot') requires a path")
        self.on_rewrite = str(options.get("on_rewrite", "fail"))
        if self.on_rewrite not in ("fail", "skip"):
            raise ValueError("on_rewrite must be fail|skip")
        self.max_versions = int(options.get("max_versions_per_batch", 0))
        self.starting = str(options.get("starting_version", "earliest"))
        self.read_changes = str(
            options.get("read_changes", "false")
        ).lower() in ("true", "1")
        self._fields = [f.name for f in _table_schema_arrow(self.table_dir)]
        #: pacing cursor: the last offset this reader handed to Spark
        #: (latestOffset must not leap past max_versions_per_batch)
        self._cur: int | None = None

    # -- offsets
    def initialOffset(self) -> dict:
        mt = _mt()
        if self.starting == "earliest":
            off = 0
        elif self.starting == "latest":
            versions = mt.snapshot_versions(self.table_dir)
            off = versions[-1] if versions else 0
        else:
            off = int(self.starting)
        self._cur = off
        return {"version": off}

    def latestOffset(self) -> dict:
        mt = _mt()
        versions = mt.snapshot_versions(self.table_dir)
        head = versions[-1] if versions else 0
        if self._cur is None:
            self._cur = int(self.initialOffset()["version"])
        end = head
        if self.max_versions > 0:
            end = min(head, self._cur + self.max_versions)
        end = max(end, self._cur)
        self._cur = end
        return {"version": end}

    def commit(self, end: dict) -> None:
        # offsets live in Spark's checkpoint; nothing to finalize here
        pass

    def _added_paths(self, version: int) -> list[str]:
        """Relative paths added by commit ``version`` vs its direct
        parent, applying the rewrite policy. Manifest-only."""
        mt = _mt()
        versions = mt.snapshot_versions(self.table_dir)
        manifest = mt._read_manifest(self.table_dir, version)
        if manifest["op"] != "append":
            if (manifest.get("extra") or {}).get("reorg"):
                # compact/cluster_by preserve content exactly
                # (Delta's dataChange=false): no rows changed, nothing
                # to emit, regardless of on_rewrite
                return []
            if self.on_rewrite == "fail":
                raise ValueError(
                    f"commit v{version} is op={manifest['op']!r} (copy-on-"
                    "write rewrite): its file diff is not a row delta. "
                    "Set on_rewrite='skip' to move past rewrite commits, "
                    "or restart from a newer starting_version."
                )
            return []
        # only the append file-diff reads the parent manifest — reorg /
        # skipped rewrites above never touch it (r11, matches _change_plan)
        if version - 1 > 0 and version - 1 not in versions:
            raise ValueError(
                f"cannot stream commit v{version}: its parent manifest "
                f"v{version - 1} was vacuumed — restart the stream from "
                "an existing version (starting_version)"
            )
        parent_paths = (
            {
                f["path"]
                for f in mt._read_manifest(
                    self.table_dir, version - 1
                )["files"]
            }
            if version - 1 > 0
            else set()
        )
        return [
            f["path"]
            for f in manifest["files"]
            if f["path"] not in parent_paths
        ]

    def _change_plan(self, version: int) -> list:
        """CDF partitions for one commit — the streaming twin of
        ``maintenance.snapshot_changes``' per-commit classification.
        Planning is manifest-only except the mor case, which reads the
        commit's (small) delete-vector files to slice positions per
        data file."""
        mt = _mt()
        versions = mt.snapshot_versions(self.table_dir)
        manifest = mt._read_manifest(self.table_dir, version)
        op = manifest["op"]
        extra = manifest.get("extra") or {}

        def need_parent():
            # only append (file diff) and delete-mor (DV diff) read the
            # parent manifest; merge/cow-delete carry their own change
            # files and reorg emits nothing — matching the batch
            # classifier in maintenance.snapshot_changes (r11 fix)
            if version - 1 > 0 and version - 1 not in versions:
                raise ValueError(
                    f"cannot stream changes for commit v{version}: its "
                    f"parent manifest v{version - 1} was vacuumed — "
                    "restart the stream from an existing version"
                )

        def part(kind, rel_path, positions=()):
            return _ChangePartition(
                self.table_dir, kind, rel_path, self._fields, version,
                positions,
            )

        if op == "append":
            need_parent()
            parent_paths = (
                {
                    f["path"]
                    for f in mt._read_manifest(
                        self.table_dir, version - 1
                    )["files"]
                }
                if version - 1 > 0
                else set()
            )
            return [
                part("insert_file", f["path"])
                for f in manifest["files"]
                if f["path"] not in parent_paths
            ]
        if op in ("merge", "delete"):
            cdfm = manifest.get("cdf") or {}
            if cdfm.get("files"):
                return [
                    part("cdf_file", f["path"]) for f in cdfm["files"]
                ]
            if self.on_rewrite == "skip":
                return []
            raise ValueError(
                f"commit v{version} is op={op!r} but recorded no "
                "change files (written with cdf=False). Set "
                "on_rewrite='skip' to move past it."
            )
        if op == "delete-mor":
            import pyarrow.parquet as pq

            need_parent()
            prior = {
                f["path"]
                for f in (
                    mt._read_manifest(self.table_dir, version - 1).get(
                        "dv"
                    )
                    or {}
                ).get("files", [])
            }
            by_path: dict[str, list[int]] = {}
            for f in (manifest.get("dv") or {}).get("files", []):
                if f["path"] in prior:
                    continue
                tbl = pq.read_table(
                    os.path.join(self.table_dir, f["path"]),
                    columns=["path", "pos"],
                )
                for p, pos in zip(
                    tbl.column("path").to_pylist(),
                    tbl.column("pos").to_pylist(),
                ):
                    by_path.setdefault(p, []).append(int(pos))
            return [
                part("mor_delete", p, tuple(sorted(poss)))
                for p, poss in sorted(by_path.items())
            ]
        if op == "overwrite" and extra.get("reorg"):
            return []  # content-preserving reorganization
        if self.on_rewrite == "skip":
            return []
        raise ValueError(
            f"commit v{version} is op={op!r}: its row delta is not "
            "recorded. Set on_rewrite='skip' to move past it, or "
            "restart from a newer starting_version."
        )

    def partitions(self, start: dict, end: dict):
        lo, hi = int(start["version"]) + 1, int(end["version"]) + 1
        # deterministic plan: replay of a committed range (restart
        # recovery) re-derives the identical partition list from the
        # immutable manifests
        if self.read_changes:
            parts = []
            for v in range(lo, hi):
                parts.extend(self._change_plan(v))
            return parts
        paths = []
        for v in range(lo, hi):
            paths.extend(self._added_paths(v))
        return [
            _FilePartition(self.table_dir, p, self._fields)
            for p in paths
        ]

    @staticmethod
    def _project(tbl, fields: list[str]) -> dict:
        """Columns of a pyarrow table projected onto the pinned schema
        (extra columns dropped, missing columns null-filled)."""
        cols = {}
        for name in fields:
            if name in tbl.column_names:
                cols[name] = tbl.column(name).to_pylist()
            else:
                cols[name] = [None] * len(tbl)
        return cols

    def read(self, partition):
        """Executor-side: one parquet file (plain mode), or one change
        source (CDF mode — appends emit insert rows, change files
        carry their own ``_change_type``, mor partitions take their DV
        positions from the file; ``_metadata.row_index`` == pyarrow
        row order within a file, which is what the DVs recorded)."""
        import pyarrow.parquet as pq

        tbl = pq.read_table(
            os.path.join(partition.table_dir, partition.rel_path)
        )
        if isinstance(partition, _ChangePartition):
            if partition.kind == "mor_delete":
                tbl = tbl.take(list(partition.positions))
            cols = self._project(tbl, partition.fields)
            if partition.kind == "cdf_file":
                ctypes = tbl.column("_change_type").to_pylist()
            else:
                ctype = (
                    "insert"
                    if partition.kind == "insert_file"
                    else "delete"
                )
                ctypes = [ctype] * len(tbl)
            ver = int(partition.version)
            return iter(
                tuple(cols[n][i] for n in partition.fields)
                + (ctypes[i], ver)
                for i in range(len(tbl))
            )
        cols = self._project(tbl, partition.fields)
        return iter(
            tuple(cols[n][i] for n in partition.fields)
            for i in range(len(tbl))
        )


@dataclass
class _WroteFile(WriterCommitMessage):
    """Per-task commit message: the parquet file this task wrote (None
    for empty tasks) and its row count."""

    path: str | None
    rows: int


class _SnapshotWriterBase:
    """Shared executor/driver halves of the batch and streaming
    ``format("snapshot")`` SINKS — the real two-phase commit protocol
    on the manifest log: executors write attempt-unique parquet files
    and return their paths as commit messages; ONLY the driver's
    ``commit`` turns them into a table version (create-exclusive
    manifest publish via ``maintenance._publish_files``, racing other
    writers safely), and ``abort`` removes the files so a failed job
    leaves nothing a reader can see. Task retries/zombies at worst
    strand unreferenced files in the attempt dir, which no manifest
    references and no reader sees.

    Same single-node caveat as ``write_avro_ocf`` (SCALE.md): tasks
    write to a path that must be shared storage on a real cluster."""

    def __init__(self, options, overwrite: bool) -> None:
        import tempfile

        self.table_dir = options.get("path") or options.get("table_dir")
        if not self.table_dir:
            raise ValueError("format('snapshot') writer requires a path")
        self.overwrite = bool(overwrite)
        self.ts = int(options.get("ts", _mt().SNAP_EPOCH))
        os.makedirs(os.path.join(self.table_dir, "data"), exist_ok=True)
        # one attempt-unique dir per WRITE JOB, decided driver-side
        self.data_dir = tempfile.mkdtemp(
            prefix="c-", dir=os.path.join(self.table_dir, "data")
        )

    # executor side -----------------------------------------------------
    def write(self, iterator):
        import pyarrow.parquet as pq
        from pyspark import TaskContext

        ctx = TaskContext.get()  # None when driven outside a task
        attempt = (
            f"{ctx.partitionId():05d}-{ctx.taskAttemptId()}"
            if ctx is not None
            else os.urandom(8).hex()
        )
        path = os.path.join(self.data_dir, f"part-{attempt}.parquet")
        writer = None
        rows = 0
        for batch in iterator:
            if writer is None:
                writer = pq.ParquetWriter(path, batch.schema)
            writer.write_batch(batch)
            rows += batch.num_rows
        if writer is None:
            return _WroteFile(path=None, rows=0)  # empty task
        writer.close()
        return _WroteFile(path=path, rows=rows)

    # driver side -------------------------------------------------------
    def _entries(self, messages) -> list[dict]:
        mt = _mt()
        bloom_cols: tuple = ()
        versions = mt.snapshot_versions(self.table_dir)
        if versions:
            bloom_cols = mt._manifest_bloom_cols(
                mt._read_manifest(self.table_dir, versions[-1])
            )
        entries = [
            mt._file_entry(self.table_dir, m.path, bloom_cols)
            for m in messages
            if m is not None and m.path
        ]
        entries.sort(key=lambda f: f["path"])
        return entries

    def _check_append_schema(self, entries: list[dict]) -> None:
        """Appending files whose COLUMN SET differs from the table's
        corrupts plain reads (first-file schema) — refuse loudly; an
        intentional evolution goes through snapshot_commit +
        merge_schema reads."""
        import pyarrow.parquet as pq

        if self.overwrite or not entries:
            return
        mt = _mt()
        try:
            table_cols = set(_table_schema_arrow(self.table_dir).names)
        except ValueError:
            return  # empty table: first write defines the schema
        new_cols = set(
            pq.ParquetFile(
                os.path.join(self.table_dir, entries[0]["path"])
            ).schema_arrow.names
        )
        if new_cols != table_cols:
            self._cleanup(entries=entries)
            raise ValueError(
                f"appended schema {sorted(new_cols)} != table schema "
                f"{sorted(table_cols)} — overwrite, or use "
                "snapshot_commit and read with merge_schema=True"
            )

    def _cleanup(self, messages=None, entries=None) -> None:
        import shutil

        paths = []
        if messages is not None:
            paths = [m.path for m in messages if m is not None and m.path]
        if entries is not None:
            paths = [
                os.path.join(self.table_dir, f["path"]) for f in entries
            ]
        for p in paths:
            try:
                os.remove(p)
            except OSError:
                pass
        try:  # remove the attempt dir when nothing survived in it
            if not os.listdir(self.data_dir):
                shutil.rmtree(self.data_dir, ignore_errors=True)
        except OSError:
            pass


class SnapshotBatchWriter(_SnapshotWriterBase, DataSourceArrowWriter):
    """``df.write.format("snapshot").mode("append"|"overwrite")`` —
    a batch sink that commits a snapshot version."""

    def commit(self, messages):
        entries = self._entries(messages)
        self._check_append_schema(entries)
        _mt()._publish_files(
            self.table_dir,
            entries,
            "overwrite" if self.overwrite else "append",
            self.ts,
            None,
        )

    def abort(self, messages):
        self._cleanup(messages=messages)


class SnapshotStreamWriter(_SnapshotWriterBase, DataSourceStreamArrowWriter):
    """``df.writeStream.format("snapshot")`` — an EXACTLY-ONCE
    streaming sink: each micro-batch publishes one ``append`` version
    stamped with ``(stream_writer_id, stream_batch_id)`` in the
    manifest extra, and a replayed epoch (failure after the commit
    point but before the checkpoint acknowledges) is detected from the
    manifest log and becomes a no-op that removes its re-written files
    — the idempotent-sink half of Structured Streaming's contract,
    carried by the same immutable manifests the source reads. One
    streaming writer per ``writer_id`` (option, default "stream");
    concurrent DISTINCT writers interleave safely through the
    create-exclusive publish."""

    def __init__(self, options, overwrite: bool) -> None:
        super().__init__(options, overwrite)
        self.writer_id = str(options.get("writer_id", "stream"))

    def _already_committed(self, batch_id: int) -> bool:
        mt = _mt()
        for v in reversed(mt.snapshot_versions(self.table_dir)):
            extra = mt._read_manifest(self.table_dir, v).get("extra") or {}
            if extra.get("stream_writer_id") == self.writer_id:
                return int(extra.get("stream_batch_id", -1)) >= batch_id
        return False

    def commit(self, messages, batchId: int) -> None:
        entries = self._entries(messages)
        if self._already_committed(batchId):
            self._cleanup(entries=entries)  # replayed epoch: no-op
            return
        self._check_append_schema(entries)
        _mt()._publish_files(
            self.table_dir,
            entries,
            "append",
            self.ts,
            {
                "stream_writer_id": self.writer_id,
                "stream_batch_id": int(batchId),
            },
        )

    def abort(self, messages, batchId: int) -> None:
        self._cleanup(messages=messages)


class SnapshotDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "snapshot"

    def schema(self):
        try:
            from pyspark.sql.pandas.types import from_arrow_schema
        except ImportError:  # pragma: no cover - very old pyspark
            from pyspark.sql.pandas.types import (  # type: ignore
                from_arrow_schema,
            )
        table_dir = self.options.get("path") or self.options.get(
            "table_dir"
        )
        if not table_dir:
            raise ValueError("format('snapshot') requires a path")
        schema = _table_schema_arrow(table_dir)
        if str(self.options.get("read_changes", "false")).lower() in (
            "true",
            "1",
        ):
            import pyarrow as pa

            schema = schema.append(
                pa.field("_change_type", pa.string())
            ).append(pa.field("_commit_version", pa.int64()))
        return from_arrow_schema(schema)

    def reader(self, schema):
        raise NotImplementedError(
            "batch reads of snapshot tables go through "
            "maintenance.snapshot_read (manifest-pinned native parquet "
            "scan with data skipping) — format('snapshot') is the "
            "streaming read + batch/streaming WRITE surface"
        )

    def streamReader(self, schema):
        return SnapshotStreamReader(self.options)

    def writer(self, schema, overwrite):
        return SnapshotBatchWriter(self.options, overwrite)

    def streamWriter(self, schema, overwrite):
        return SnapshotStreamWriter(self.options, overwrite)


def register(spark) -> None:
    """``spark.dataSource.register`` wrapper (idempotent)."""
    spark.dataSource.register(SnapshotDataSource)
