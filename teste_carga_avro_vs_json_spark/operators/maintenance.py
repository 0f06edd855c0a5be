"""Dataset maintenance — versioned snapshot tables over plain parquet
directories and the housekeeping a 100 TB corpus needs between
pipeline runs. The reference engine writes flat files with no layout
management (SURVEY.md §2.2 — no table maintenance); these are the
standard lakehouse operations (Delta/Iceberg commit, MERGE, DELETE,
change feed, OPTIMIZE) re-expressed as plain Spark primitives.

Layout maintenance is a snapshot commit like any other:

- **Compaction** (:func:`snapshot_compact`): target-sized output files
  restore O(bytes / target) task counts after many small appends.
- **Clustering** (:func:`snapshot_cluster_by`): a range repartition +
  sort gives every output file a tight, pairwise-disjoint min/max
  range on the cluster key, recorded in the manifest stats, so point
  and range predicates prune whole files at planning time.

Both preserve content EXACTLY (multiset equality pinned in
``tests/test_maintenance.py``).
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.functions as F


def plan_output_files(total_bytes: int, target_mb: float) -> int:
    """ceil(bytes / target), floored at 1 — pure so it is testable.
    ``target_mb`` may be fractional (small fixtures / tests)."""
    return max(1, math.ceil(total_bytes / (target_mb * 1024 * 1024)))


# ----------------------------------------------------------- snapshots
#
# Versioned table snapshots — a minimal TRANSACTION LOG over plain
# parquet, the mechanism behind Delta/Iceberg time travel re-expressed
# as first principles: data files are immutable, each commit writes
# its files into a fresh subdirectory and then publishes ONE manifest
# json listing the full file set of that version. The manifest write
# is the commit point — data directories without a manifest are
# invisible to readers (a crashed writer leaves garbage, never a
# half-visible table). Readers pin a version by reading its manifest's
# explicit file list, so concurrent compaction/vacuum never moves data
# under a running query — the core correctness property a mutable
# 100 TB corpus needs between pipeline runs.
#
# Concurrency (r9, VERDICT order #8): concurrent APPENDS are safe.
# Each commit writes its data files into a dir unique to the ATTEMPT
# (``data/c-<unique>/``, mkdtemp — never keyed by the version number,
# so two racing writers cannot clobber each other's parquet), then
# publishes manifest vN+1 with create-exclusive semantics (os.link of
# a private tmp onto the final name — fails atomically with EEXIST if
# another writer already committed that version). The loser re-reads
# the new latest manifest, recomputes its file list, and retries the
# next version number — exactly the optimistic-concurrency loop
# Delta/Iceberg run against a conditional-put object store. Bounded
# retries; exhaustion raises SnapshotConflictError. ``overwrite``
# retries the same way (last overwrite wins — a linear history is
# still produced; cross-writer semantic conflicts, e.g. overwrite vs
# append of the same logical rows, are the caller's domain, as in any
# log store).

class SnapshotConflictError(RuntimeError):
    """Commit lost the version race ``max_retries`` times in a row."""


_SNAP_DIR = "_snapshots"
#: fixed default commit timestamp (determinism rule: never wall-clock)
SNAP_EPOCH = 1704067200

#: change-data-feed metadata columns (:func:`snapshot_changes` output —
#: the Delta CDF column names, so downstream recipes port verbatim)
CHANGE_TYPE_COL = "_change_type"
COMMIT_VERSION_COL = "_commit_version"


def _manifest_path(table_dir: str, version: int) -> str:
    return os.path.join(table_dir, _SNAP_DIR, f"v{version:08d}.json")


def snapshot_versions(table_dir: str) -> list[int]:
    """Committed versions, ascending (manifest listing IS the log)."""
    snap = os.path.join(table_dir, _SNAP_DIR)
    if not os.path.isdir(snap):
        return []
    out = []
    for name in os.listdir(snap):
        if name.startswith("v") and name.endswith(".json"):
            out.append(int(name[1:-5]))
    return sorted(out)


def _read_manifest(table_dir: str, version: int) -> dict:
    import json

    with open(_manifest_path(table_dir, version)) as f:
        return json.load(f)


def snapshot_commit(
    df: DataFrame,
    table_dir: str,
    mode: str = "append",
    ts: int = SNAP_EPOCH,
    max_retries: int = 8,
    extra: dict | None = None,
    bloom_cols=None,
    parent_version: int | None = None,
) -> int:
    """Commit ``df`` as the next version. ``append`` unions the new
    files with the parent version's file list; ``overwrite`` replaces
    it. Data lands in an attempt-unique ``data/c-*/`` dir FIRST;
    publishing the manifest via create-exclusive link is the atomic
    commit point, and losing the version race re-reads the new parent
    and retries (optimistic concurrency — see the module comment).
    Returns the committed version number.

    ``bloom_cols`` names columns to Bloom-index per file in the
    manifest (equality data skipping on scattered high-cardinality
    keys, where min/max spans everything — see
    :func:`snapshot_read`). The default ``None`` INHERITS the parent
    version's bloom columns, so one bloom-indexed commit keeps the
    table indexed through appends, compactions and merges; pass
    ``()`` to stop indexing new files.

    ``parent_version`` (reorg overwrites only — compact/cluster pass
    it) names the version the rewrite was computed FROM:
    commits that landed after it are folded in when they are pure
    appends (their files ride along unreorganized) and raise
    :class:`SnapshotConflictError` otherwise — without it, a reorg
    losing a race to an append would silently drop the appended rows
    (r11, VERDICT order #3)."""
    import json
    import tempfile

    if mode not in ("append", "overwrite"):
        raise ValueError("mode must be append|overwrite")
    if bloom_cols is None:
        prior = snapshot_versions(table_dir)
        if prior:
            bloom_cols = _manifest_bloom_cols(
                _read_manifest(table_dir, prior[-1])
            )
    # data dir is unique per ATTEMPT, never keyed by version: two
    # racing writers must not write into the same parquet directory.
    # Entries carry per-file footer min/max stats (data skipping).
    new_files = _write_new_files(
        df.sparkSession, table_dir, df, bloom_cols=bloom_cols
    )
    return _publish_files(
        table_dir, new_files, mode, ts, extra, max_retries,
        parent_version=parent_version,
    )


def _publish_files(
    table_dir: str,
    new_files: list[dict],
    mode: str,
    ts: int,
    extra: dict | None,
    max_retries: int = 8,
    parent_version: int | None = None,
) -> int:
    """The manifest-publish retry loop shared by :func:`snapshot_commit`
    and the ``format("snapshot")`` writer: compute the next version
    against the current head, publish via create-exclusive link, and
    on a lost race re-read the winner and retry (append recomputes the
    union; the new data files are attempt-unique so a retry never
    collides on disk)."""
    import json
    import tempfile

    os.makedirs(os.path.join(table_dir, _SNAP_DIR), exist_ok=True)
    for _attempt in range(max_retries):
        versions = snapshot_versions(table_dir)
        version = (versions[-1] + 1) if versions else 1
        files = new_files
        dv = None
        if mode == "append" and versions:
            parent_manifest = _read_manifest(table_dir, versions[-1])
            files = parent_manifest["files"] + new_files
            # appends carry the parent's delete vectors: the carried
            # files still have deleted positions. Overwrites drop them
            # (the new file set starts clean — how snapshot_compact
            # folds DVs away).
            dv = parent_manifest.get("dv")
        elif (
            mode == "overwrite"
            and parent_version is not None
            and versions
            and versions[-1] != parent_version
        ):
            # a reorg overwrite computed from parent_version, but the
            # head moved: fold compatible appends in (their files ride
            # along unreorganized, with no dv — the rewrite folded the
            # parent's DVs and appends carry none of their own) or
            # raise. Checked on EVERY attempt — even the first may see
            # a head that moved between the caller's read and here,
            # and the blind overwrite used to drop those rows.
            # affected_paths=None: only pure appends fold in (a reorg
            # rewrote every parent file, so any cow/mor winner overlaps
            # by construction and conflicts in the op check; appends
            # carry the parent's dv unchanged, so no dv carry either)
            _head, added, _dv_carry = _rebase_onto_appends(
                table_dir,
                parent_version,
                "reorg",
                _read_manifest(table_dir, parent_version).get("dv"),
                None,
            )
            files = new_files + added
        manifest = {
            "version": version,
            "op": mode,
            "ts": ts,
            "n_files": len(files),
            "n_bytes": sum(f["bytes"] for f in files),
            "files": files,
        }
        if dv and dv.get("files"):
            manifest["dv"] = dv
        if extra:
            # application metadata rides the commit (e.g. a
            # replicate sync's high-water source version); readers
            # that don't know the keys ignore them
            manifest["extra"] = dict(extra)
        fd, tmp = tempfile.mkstemp(
            suffix=".tmp", dir=os.path.join(table_dir, _SNAP_DIR)
        )
        with os.fdopen(fd, "w") as f:
            json.dump(manifest, f, indent=1)
        try:
            # commit point: link() is create-EXCLUSIVE — exactly one
            # writer can publish v{N}; EEXIST means we lost the race
            os.link(tmp, _manifest_path(table_dir, version))
            return version
        except FileExistsError:
            continue  # re-read the winner's manifest and retry N+1
        finally:
            os.unlink(tmp)
    raise SnapshotConflictError(
        f"lost the commit race {max_retries} times on {table_dir!r}"
    )


def _prune_keep(entry: dict, prune: dict, use_bloom: bool = True) -> bool:
    """True when the file COULD contain a matching row. Never wrong in
    the skip direction: missing stats, unknown columns or incomparable
    types all keep the file; a skip requires recorded bounds that
    provably miss the predicate range — or, for an EQUALITY predicate
    on a bloom-indexed column, a per-file Bloom filter that provably
    does not contain the value (Bloom filters have zero false
    negatives, so a bloom miss is as safe as a min/max miss)."""
    stats = entry.get("stats") or {}
    blooms = (entry.get("bloom") or {}) if use_bloom else {}
    for col, cond in prune.items():
        lo, hi = (
            cond if isinstance(cond, (tuple, list)) else (cond, cond)
        )
        if col in stats:
            mn, mx = stats[col]
            try:
                if lo is not None and mx < lo:
                    return False
                if hi is not None and mn > hi:
                    return False
            except TypeError:
                pass  # predicate/stats type mismatch — min/max unusable
        if col in blooms and lo is not None and lo == hi:
            key = _bloom_key(lo)
            if key is not None and not _bloom_contains(blooms[col], key):
                return False
    return True


def _prune_condition(prune: dict):
    """The row-level twin of ``prune`` — ALWAYS applied on top of the
    file skip, so results are exact whatever the stats quality."""
    cond = F.lit(True)
    for col, c in prune.items():
        lo, hi = c if isinstance(c, (tuple, list)) else (c, c)
        if lo is not None and hi is not None:
            cond = cond & F.col(col).between(F.lit(lo), F.lit(hi))
        elif lo is not None:
            cond = cond & (F.col(col) >= F.lit(lo))
        elif hi is not None:
            cond = cond & (F.col(col) <= F.lit(hi))
    return cond


def snapshot_prune_report(
    table_dir: str, prune: dict, version: int | None = None
) -> dict:
    """Audit companion for ``snapshot_read(prune=...)`` (no-silent-
    caps rule): how many files/bytes/rows the manifest stats skip for
    this predicate, without touching any data file."""
    versions = snapshot_versions(table_dir)
    if version is None:
        version = versions[-1]
    files = _read_manifest(table_dir, version)["files"]
    kept = [f for f in files if _prune_keep(f, prune)]
    # breakdown: files min/max alone would keep but the bloom skipped
    n_minmax_kept = sum(
        1 for f in files if _prune_keep(f, prune, use_bloom=False)
    )
    return {
        "version": version,
        "n_files": len(files),
        "n_kept": len(kept),
        "n_skipped": len(files) - len(kept),
        "n_skipped_minmax": len(files) - n_minmax_kept,
        "n_skipped_bloom": n_minmax_kept - len(kept),
        "bytes_total": sum(f["bytes"] for f in files),
        "bytes_kept": sum(f["bytes"] for f in kept),
        "rows_total": sum(f.get("rows", 0) for f in files),
        "rows_kept": sum(f.get("rows", 0) for f in kept),
    }


def _version_schema_info(
    table_dir: str, manifest: dict
) -> tuple[bool, list[str]]:
    """``(heterogeneous, union_cols)`` across one version's files —
    the schema-evolution detector the copy-on-write ops consult so a
    merge/delete/compact can never silently operate on the first
    file's schema when the version's files diverge (r11, VERDICT
    order #2). Manifest-only for r11+ commits (``cols`` is recorded
    per file entry at commit time from the footer already being read
    for stats); a legacy entry without it pays one driver-side footer
    read. ``union_cols`` keeps first-file column order, then first
    appearance — the same order parquet ``mergeSchema`` produces."""
    union: list[str] = []
    seen: set[str] = set()
    shapes: set[tuple] = set()
    for f in manifest["files"]:
        cols = f.get("cols")
        if cols is None:
            try:
                import pyarrow.parquet as pq

                cols = [
                    fld.name
                    for fld in pq.ParquetFile(
                        os.path.join(table_dir, f["path"])
                    ).schema_arrow
                ]
            except Exception:
                continue  # unreadable footer: no evidence either way
        shapes.add(tuple(cols))
        for c in cols:
            if c not in seen:
                seen.add(c)
                union.append(c)
    return len(shapes) > 1, union


def snapshot_read(
    spark: SparkSession,
    table_dir: str,
    version: int | None = None,
    merge_schema: bool = False,
    prune: dict | None = None,
    as_of_ts: int | None = None,
) -> DataFrame:
    """Read a pinned version (latest when None) — time travel. The
    reader takes the manifest's EXPLICIT file list, never a directory
    listing, so later commits/compactions/vacuums of other versions
    cannot change what this query sees.

    ``merge_schema=True`` reads with the UNION schema across the
    version's files (parquet ``mergeSchema``) — the lakehouse
    schema-evolution read: appends that ADDED columns surface them,
    older rows null-fill. Off by default (single-schema tables skip
    the per-file footer sampling, and column order stays exactly the
    first file's — what the oracle pins rely on). The copy-on-write
    ops (:func:`snapshot_merge`, :func:`snapshot_delete`,
    :func:`snapshot_compact`) detect schema-evolved versions from the
    manifest and switch to the union read themselves (r11), so a
    merge can no longer silently drop an evolved column.

    ``prune`` is manifest-level DATA SKIPPING — ``{col: value}`` for
    equality or ``{col: (lo, hi)}`` for an inclusive range (None =
    open end), conjoined across columns. Files whose recorded footer
    min/max provably miss the range are dropped from the scan BEFORE
    Spark ever lists them — on a 100 TB key-clustered table (see
    :func:`snapshot_cluster_by`) a point lookup plans ~1 file instead
    of all of them, and the pruning cost is manifest-only (no footer
    I/O, no file listing). The same predicate is ALSO applied as a
    row filter, so the result is exactly the filtered frame no matter
    how partial the stats are; files without usable stats are always
    kept. :func:`snapshot_prune_report` shows the skip counts.

    On a table committed with ``bloom_cols`` (see
    :func:`snapshot_commit`), EQUALITY predicates additionally probe
    each file's manifest Bloom filter — the skip path for scattered
    high-cardinality keys, where every file's min/max spans the whole
    key range and range stats prune nothing (the Iceberg
    bloom/puffin case). Bloom misses have zero false negatives, so
    the skip is as exact as a min/max miss; range predicates never
    consult blooms.

    ``as_of_ts`` (r13) is Delta's ``timestampAsOf``: the newest
    committed version whose manifest ``ts`` is <= the given epoch
    value (commit clocks here are caller-supplied epochs, never
    wall-clock — the repo determinism rule). Mutually exclusive with
    ``version``; a timestamp before the first commit raises (nothing
    existed to read), and a vacuumed-away version raises through the
    normal version check."""
    versions = snapshot_versions(table_dir)
    if not versions:
        raise ValueError(f"no committed snapshots under {table_dir}")
    if as_of_ts is not None:
        if version is not None:
            raise ValueError("pass version OR as_of_ts, not both")
        at = [
            v for v in versions
            if _read_manifest(table_dir, v).get("ts", 0) <= as_of_ts
        ]
        if not at:
            raise ValueError(
                f"no version of {table_dir!r} committed at or before "
                f"ts {as_of_ts}"
            )
        version = at[-1]
    if version is None:
        version = versions[-1]
    if version not in versions:
        raise ValueError(f"version {version} not in {versions}")
    manifest = _read_manifest(table_dir, version)
    files = manifest["files"]
    if prune:
        pruned = [f for f in files if _prune_keep(f, prune)]
        if not pruned and files:
            # every file skipped: schema-correct empty frame from the
            # version's own first file (limit(0) reads footer only)
            return (
                spark.read.parquet(
                    os.path.join(table_dir, files[0]["path"])
                )
                .limit(0)
                .where(_prune_condition(prune))
            )
        files = pruned
    paths = [os.path.join(table_dir, f["path"]) for f in files]
    if not paths:
        # An empty-manifest version (e.g. a zero-survivor incremental
        # append after an overwrite-to-empty) must return ZERO rows.
        # Never fall back to scanning data/ — with attempt-unique
        # c-* dirs it can hold parquet from failed or concurrent
        # commit attempts that are not part of this version. Borrow
        # the schema from any other version's files; a table that has
        # never had a file has no knowable schema.
        for v in reversed(snapshot_versions(table_dir)):
            other = _read_manifest(table_dir, v)["files"]
            if other:
                return spark.read.parquet(
                    os.path.join(table_dir, other[0]["path"])
                ).limit(0)
        raise ValueError(
            f"version {version} of {table_dir!r} has no files and no "
            "other version defines a schema"
        )
    reader = spark.read
    if merge_schema:
        reader = reader.option("mergeSchema", "true")
    df = _apply_dv(spark, table_dir, manifest, reader.parquet(*paths))
    if prune:
        df = df.where(_prune_condition(prune))
    return df


def snapshot_compact(
    spark: SparkSession,
    table_dir: str,
    target_mb: float = 128.0,
    ts: int = SNAP_EPOCH,
) -> dict:
    """Rewrite the LATEST version's files at target size as a new
    ``overwrite`` commit (content preserved exactly — the OPTIMIZE
    operation). Readers pinned to older versions keep their files.

    On a schema-evolved version (files with diverging columns) the
    rewrite reads the UNION schema (r11) — compaction CONSOLIDATES an
    evolution instead of silently collapsing it to the first file's
    columns, which is what makes compact the documented evolution
    fix-up step."""
    head = snapshot_versions(table_dir)[-1]
    manifest = _read_manifest(table_dir, head)
    hetero, _ = _version_schema_info(table_dir, manifest)
    latest = snapshot_read(spark, table_dir, version=head,
                           merge_schema=hetero)
    n_files = plan_output_files(manifest["n_bytes"], target_mb)
    compacted = latest.coalesce(n_files)
    # reorg commits preserve content exactly — the marker is Delta's
    # dataChange=false: change readers and streams emit NOTHING for them
    version = snapshot_commit(
        compacted, table_dir, mode="overwrite", ts=ts,
        extra={"reorg": True}, parent_version=head,
    )
    return {
        "version": version,
        "planned_files": n_files,
        "input_files": manifest["n_files"],
    }


def snapshot_cluster_by(
    spark: SparkSession,
    table_dir: str,
    col: str,
    n_files: int | None = None,
    target_mb: float = 256.0,
    ts: int = SNAP_EPOCH,
) -> dict:
    """Range-cluster the LATEST snapshot version on ``col`` as a new
    ``overwrite`` commit (content preserved exactly — OPTIMIZE with a
    sort order). This is what keeps :func:`snapshot_merge` cheap over
    time: merges rewrite whole files containing matched keys, so a
    key-clustered layout bounds a K-key upsert to ~K files, while an
    unclustered one degrades toward rewriting everything. Run it the
    way Delta runs OPTIMIZE ZORDER — periodically, after merge churn.
    Readers pinned to older versions keep their files. Schema-evolved
    versions rewrite with the UNION schema, like
    :func:`snapshot_compact`."""
    head = snapshot_versions(table_dir)[-1]
    manifest = _read_manifest(table_dir, head)
    hetero, _ = _version_schema_info(table_dir, manifest)
    latest = snapshot_read(spark, table_dir, version=head,
                           merge_schema=hetero)
    if n_files is None:
        n_files = plan_output_files(manifest["n_bytes"], target_mb)
    clustered = latest.repartitionByRange(
        n_files, F.col(col)
    ).sortWithinPartitions(col)
    version = snapshot_commit(
        clustered, table_dir, mode="overwrite", ts=ts,
        extra={"reorg": True},  # content-preserving (dataChange=false)
        parent_version=head,
    )
    return {
        "version": version,
        "planned_files": n_files,
        "output_files": _read_manifest(table_dir, version)["n_files"],
        "input_files": manifest["n_files"],
    }


def snapshot_merge(
    delta: DataFrame,
    table_dir: str,
    keys: list[str],
    ts: int = SNAP_EPOCH,
    extra: dict | None = None,
    cdf: bool = True,
    delete_keys: DataFrame | None = None,
    not_matched_by_source: str = "keep",
) -> dict:
    """Keyed UPSERT as a copy-on-write commit (r10, VERDICT order #4)
    — the Delta/Iceberg MERGE pattern on plain parquet: rows in
    ``delta`` REPLACE existing rows with the same key, new keys
    append. Only files that actually CONTAIN a matched key are
    rewritten; every untouched file is carried into the new manifest
    by reference — the re-crawl-replaces-stale-doc economics a 100 TB
    corpus needs (rewriting the whole table per merge would be an
    O(corpus) job; this is O(affected files + delta)).

    Concurrency (r11, the Delta conflict check): computed against the
    LATEST version at entry and published with the same
    create-exclusive manifest link as :func:`snapshot_commit`. A lost
    race now REBASES internally when every winning commit is a pure
    append whose added files carry NO key this merge touches (checked
    by reading just those files) — the winner's rows ride along and
    the merge commits against the new head with no caller retry.
    Anything else — a winner that rewrote/removed files, changed
    delete vectors, or appended an overlapping key — still raises
    :class:`SnapshotConflictError`, because the affected-file set is
    stale (blind retry could resurrect rows the winner replaced); the
    caller re-invokes, the standard optimistic MERGE loop.

    ``cdf=True`` (default) additionally records the commit's ROW-LEVEL
    changes — update preimages/postimages and inserts — as change
    files under ``changes/`` referenced from the manifest (the Delta
    ``_change_data`` mechanism), which is what makes
    :func:`snapshot_changes` exact over merge commits: a rewrite
    commit's file diff alone cannot be reconstructed into a row delta
    after the fact. Costs one extra O(changed rows) write; pass
    ``cdf=False`` to skip it (downstream change readers then need
    ``on_rewrite="skip"``).

    ``delete_keys`` (a frame of just the key columns) is Delta's WHEN
    MATCHED THEN DELETE clause: live rows with those keys are removed
    in the SAME commit, through the same affected-file machinery —
    what a change-feed apply needs to land one source commit range as
    one destination commit (see :func:`snapshot_replicate`). Keys in
    both ``delta`` and ``delete_keys`` are ambiguous and raise.

    ``not_matched_by_source="delete"`` (r12, VERDICT r11 order #6) is
    Delta's third clause — WHEN NOT MATCHED BY SOURCE THEN DELETE:
    live table rows whose key is absent from the SOURCE die in the
    same commit. The source reference set is the keys this merge
    carries (``delta`` ∪ ``delete_keys``). The absent-key set is
    computed with one keys-only anti-join over the live scan and rides
    the same broadcast probe as explicit delete keys.

    Returns ``{version, files_rewritten, files_kept, files_new,
    rows_replaced, rows_inserted, rows_deleted}`` so callers can
    verify the copy-on-write bound (manifest-diff evidence)."""
    from urllib.parse import unquote, urlparse

    if not keys:
        raise ValueError("merge requires at least one key column")
    spark = delta.sparkSession
    versions = snapshot_versions(table_dir)
    if not versions:
        raise ValueError(f"no committed snapshots under {table_dir}")
    parent = versions[-1]
    manifest = _read_manifest(table_dir, parent)
    if not manifest["files"]:
        raise ValueError("cannot merge into an empty version")
    by_abspath = {
        os.path.normpath(os.path.join(table_dir, f["path"])): f
        for f in manifest["files"]
    }

    delta_keys = delta.select(*keys).distinct()
    if delta_keys.count() != delta.count():
        raise ValueError("delta contains duplicate merge keys")
    dkeys = (
        delete_keys.select(*keys).distinct()
        if delete_keys is not None
        else None
    )
    if dkeys is not None:
        if dkeys.join(delta_keys, on=keys, how="left_semi").count():
            raise ValueError(
                "delete_keys overlap the delta's merge keys — a key "
                "cannot be upserted and deleted in one merge"
            )
        all_keys = delta_keys.unionByName(dkeys)
    else:
        all_keys = delta_keys
    if not_matched_by_source not in ("keep", "delete"):
        raise ValueError(
            f"not_matched_by_source={not_matched_by_source!r}: "
            "'keep' (default) or 'delete'"
        )

    # schema-evolution guard (r11): when the parent's files diverge
    # (an evolving append added columns), reading first-file schema
    # would silently DROP the evolved columns from every rewritten
    # row. Detect from the manifest and read the UNION schema instead
    # (parquet mergeSchema, old rows null-filled) — the same table
    # compact-then-merge would produce. Homogeneous tables keep the
    # single-schema read (no footer sampling, oracle-pinned order).
    hetero, _union_cols = _version_schema_info(table_dir, manifest)
    reader = (
        spark.read.option("mergeSchema", "true") if hetero else spark.read
    )
    base = reader.parquet(*by_abspath)
    cols = base.columns
    unknown_delta = [c for c in delta.columns if c not in cols]
    if unknown_delta:
        # select(*cols) below would drop them SILENTLY — refuse loudly
        # (schema evolution through merge is not supported; append the
        # new column first)
        raise ValueError(
            f"delta carries columns {unknown_delta} absent from the "
            "table schema — commit them via an append first"
        )
    if hetero:
        for c in cols:
            if c not in delta.columns:
                # Delta MERGE semantics for unspecified columns:
                # null-fill with the table's type
                delta = delta.withColumn(
                    c, F.lit(None).cast(base.schema[c].dataType)
                )
    current = _apply_dv(
        spark,
        table_dir,
        manifest,
        base.withColumn("_merge_file", F.input_file_name()),
    )
    if not_matched_by_source == "delete":
        # WHEN NOT MATCHED BY SOURCE THEN DELETE (r12): live keys
        # absent from the source reference set become delete keys and
        # ride the same machinery. One keys-only anti-join over the
        # scan (no broadcast hint: the source key set may be
        # table-scale — AQE picks)
        absent = (
            current.select(*keys)
            .distinct()
            .join(all_keys, on=keys, how="left_anti")
            .persist()
        )
        if absent.count():
            dkeys = (
                absent if dkeys is None else dkeys.unionByName(absent)
                .distinct()
            )
            all_keys = all_keys.unionByName(absent).distinct()
    # broadcast the (small) key set: the affected-file probe and the
    # anti join below must not shuffle the full table
    affected_uris = [
        r["_merge_file"]
        for r in current.join(
            F.broadcast(all_keys), on=keys, how="left_semi"
        ).select("_merge_file").distinct().collect()
    ]
    affected = sorted(
        os.path.normpath(unquote(urlparse(u).path)) for u in affected_uris
    )
    unknown = [p for p in affected if p not in by_abspath]
    if unknown:  # pragma: no cover - defensive
        raise ValueError(f"scan returned files outside the manifest: {unknown}")

    pre_update = pre_delete = None
    rows_replaced = rows_deleted = 0
    if affected:
        affected_frame = reader.parquet(*affected)
        # the affected subset may not span the full union (e.g. every
        # matched file predates the evolution) — null-fill up to cols
        for c in cols:
            if c not in affected_frame.columns:
                affected_frame = affected_frame.withColumn(
                    c, F.lit(None).cast(base.schema[c].dataType)
                )
        affected_live = _apply_dv(
            spark, table_dir, manifest, affected_frame
        )
        survivors = affected_live.join(
            F.broadcast(all_keys), on=keys, how="left_anti"
        ).select(*cols)
        # preimages: the live rows the delta replaces / deletes —
        # bounded by the affected rows, never the table
        pre_update = affected_live.join(
            F.broadcast(delta_keys), on=keys, how="left_semi"
        ).select(*cols)
        rows_replaced = pre_update.count()
        if dkeys is not None:
            pre_delete = affected_live.join(
                F.broadcast(dkeys), on=keys, how="left_semi"
            ).select(*cols)
            rows_deleted = pre_delete.count()
        rewritten = survivors.unionByName(delta.select(*cols))
    else:
        rewritten = delta.select(*cols)
    rows_inserted = delta.count() - rows_replaced

    cdf_entry = None
    if cdf:
        if pre_update is not None:
            # the preimage keys split the delta into postimages vs
            # pure inserts
            matched_keys = pre_update.select(*keys).distinct()
            post = delta.join(
                F.broadcast(matched_keys), on=keys, how="left_semi"
            ).select(*cols)
            inserts = delta.join(
                F.broadcast(matched_keys), on=keys, how="left_anti"
            ).select(*cols)
            change = (
                pre_update.withColumn(
                    CHANGE_TYPE_COL, F.lit("update_preimage")
                )
                .unionByName(
                    post.withColumn(
                        CHANGE_TYPE_COL, F.lit("update_postimage")
                    )
                )
                .unionByName(
                    inserts.withColumn(CHANGE_TYPE_COL, F.lit("insert"))
                )
            )
            if pre_delete is not None:
                change = change.unionByName(
                    pre_delete.withColumn(
                        CHANGE_TYPE_COL, F.lit("delete")
                    )
                )
        else:
            change = delta.select(*cols).withColumn(
                CHANGE_TYPE_COL, F.lit("insert")
            )
        cdf_entry = {
            "files": _write_change_files(spark, table_dir, change),
            "n_rows": 2 * rows_replaced + rows_inserted + rows_deleted,
        }

    new_files = _write_new_files(
        spark, table_dir, rewritten,
        bloom_cols=_manifest_bloom_cols(manifest),
    )
    kept = [
        f for p, f in sorted(by_abspath.items()) if p not in set(affected)
    ]

    def _winner_guard(added_entries):
        # a concurrent append is rebase-compatible ONLY if none of its
        # rows carry a key this merge upserts/deletes — otherwise the
        # merge's outcome would have differed (Delta's concurrent-
        # append check, evaluated over just the added files)
        paths = [
            os.path.join(table_dir, f["path"]) for f in added_entries
        ]
        try:
            n = (
                spark.read.parquet(*paths)
                .join(F.broadcast(all_keys), on=keys, how="left_semi")
                .limit(1)
                .count()
            )
        except Exception as exc:
            raise SnapshotConflictError(
                f"cannot validate concurrently appended files against "
                f"this merge's keys ({exc}) — re-run the merge against "
                "the new head"
            ) from exc
        if n:
            raise SnapshotConflictError(
                "concurrent append added rows whose keys overlap this "
                "merge — re-run the merge against the new head"
            )

    version = _publish_cow_manifest(
        table_dir, parent, kept + new_files, "merge", ts,
        {
            **(extra or {}),
            "merge_keys": list(keys),
            "files_rewritten": len(affected),
            "rows_replaced": rows_replaced,
            "rows_deleted": rows_deleted,
        },
        dv=manifest.get("dv"),  # kept files may still carry deletions
        cdf=cdf_entry,
        rebase={
            "affected_paths": {by_abspath[p]["path"] for p in affected},
            "new_entries": new_files,
            "parent_dv": manifest.get("dv"),
            "winner_guard": _winner_guard,
        },
    )
    if not_matched_by_source == "delete":
        absent.unpersist()
    return {
        "version": version,
        "files_rewritten": len(affected),
        "files_kept": len(kept),
        "files_new": len(new_files),
        "rows_replaced": rows_replaced,
        "rows_inserted": rows_inserted,
        "rows_deleted": rows_deleted,
    }


#: string min/max beyond this length are omitted from manifest stats —
#: a TRUNCATED max compares wrongly (could skip a matching file), and
#: unbounded strings would bloat the manifest; omission is always safe
#: (stats-less columns are never pruned on)
_STATS_MAX_STR = 64

#: per-file manifest Bloom filters (equality data skipping): target
#: false-positive rate, and a hard cap on the bitmap so manifests stay
#: small — a file whose distinct-key count would need a bigger bitmap
#: gets NO bloom (omission is always safe: bloom-less columns fall back
#: to min/max-only pruning). 2^18 bits = 32 KiB ≈ 27k distinct keys at
#: 1% fpp — far above a well-sized clustered file's key count.
_BLOOM_FPP = 0.01
_BLOOM_MAX_BITS = 1 << 18


def _bloom_key(v) -> str | None:
    """Canonical string a value hashes as in a manifest bloom — shared
    by the commit-time build and the read-time probe so membership is
    exact. Only bool/int/str are indexed; anything else (floats, whose
    equality is fragile; binary; dates) returns None and is neither
    inserted nor pruned on."""
    if v is None:
        return None
    if isinstance(v, bool):  # before int: bool IS an int in Python
        return "b:1" if v else "b:0"
    if isinstance(v, int):
        return f"i:{v}"
    if isinstance(v, str):
        return "s:" + v
    return None


def _bloom_contains(spec: dict, key: str) -> bool:
    import base64

    from .dedup import BloomFilter

    return BloomFilter(
        spec["m"], spec["k"], base64.b64decode(spec["b64"])
    ).contains(key)


def _file_blooms(path: str, cols) -> dict:
    """Per-file Bloom filters over the DISTINCT values of each named
    column, for manifest-level equality skipping. Built once per file
    at commit time from one column read (the Iceberg puffin-file /
    parquet-bloom shape — at 1000-executor scale this rides inside the
    writer task; here it is a per-file column scan, still O(file) and
    paid exactly once). Columns missing from the file, with no
    indexable values, or needing a bitmap over ``_BLOOM_MAX_BITS``
    are omitted — omission can never cause a wrong skip."""
    import base64

    from .dedup import BloomFilter, _bloom_h

    try:
        import pyarrow.parquet as pq

        pf = pq.ParquetFile(path)
        present = [c for c in cols if c in pf.schema_arrow.names]
        if not present:
            return {}
        table = pf.read(columns=present)
    except Exception:
        return {}
    out: dict[str, dict] = {}
    for col in present:
        keys = set()
        for v in table.column(col).to_pylist():
            k = _bloom_key(v)
            if k is not None:
                keys.add(k)
        if not keys:
            continue
        m_bits, k_hashes = BloomFilter.params(len(keys), _BLOOM_FPP)
        if m_bits > _BLOOM_MAX_BITS:
            continue  # file too high-cardinality — bloom omitted
        bits = bytearray(m_bits // 8)
        for key in keys:
            h1, h2 = _bloom_h(key)
            for i in range(k_hashes):
                pos = (h1 + i * h2) % m_bits
                bits[pos >> 3] |= 1 << (pos & 7)
        out[col] = {
            "m": m_bits,
            "k": k_hashes,
            "b64": base64.b64encode(bytes(bits)).decode("ascii"),
        }
    return out


def _rel_file_expr(table_dir: str):
    """``_metadata.file_path`` → manifest-relative path (the delete-
    vector join key). Spark reports local files as ``file:`` +
    abspath; manifests store paths relative to ``table_dir``, so DVs
    survive a table-directory move as long as reads go through
    ``snapshot_read`` (which rebuilds the prefix from the table_dir
    the caller passes)."""
    prefix = "file:" + os.path.abspath(table_dir) + os.sep
    return F.col("_metadata.file_path").substr(
        F.lit(len(prefix) + 1), F.lit(1 << 30)
    )


def _apply_dv(
    spark: SparkSession, table_dir: str, manifest: dict, df: DataFrame
) -> DataFrame:
    """Apply a version's positional delete vectors to a scan of its
    data files: anti-join on (relative file path, row position within
    the file) — the Iceberg v2 merge-on-read shape. ``df`` must still
    be a file-scan-level frame (``_metadata`` is resolvable only at
    the source). The DV frame is broadcast: its size is bounded by
    rows deleted since the last compaction, and
    :func:`snapshot_compact` folds DVs away — the maintenance loop
    that keeps the read-side join small at 100 TB."""
    dv = manifest.get("dv")
    if not dv or not dv.get("files"):
        return df
    cols = df.columns
    dvf = spark.read.parquet(
        *[os.path.join(table_dir, f["path"]) for f in dv["files"]]
    ).select(
        F.col("path").alias("_dv_path"), F.col("pos").alias("_dv_pos")
    )
    keyed = df.withColumn("_row_path", _rel_file_expr(table_dir)).withColumn(
        "_row_pos", F.col("_metadata.row_index")
    )
    out = keyed.join(
        F.broadcast(dvf),
        (keyed["_row_path"] == dvf["_dv_path"])
        & (keyed["_row_pos"] == dvf["_dv_pos"]),
        "left_anti",
    )
    return out.select(*cols)


def _write_aux_files(
    spark: SparkSession,
    table_dir: str,
    frame: DataFrame,
    subdir: str,
    prefix: str,
) -> list[dict]:
    """Write an auxiliary (non-data) frame under an attempt-unique
    ``{subdir}/{prefix}*/`` dir (the multi-writer rule) and return its
    manifest entries. One output file: aux commits hold only what ONE
    operation produced — delete vectors sized by the positions one
    delete matched, change files sized by one commit's changed rows —
    so a single writer is the right shape (a change set big enough for
    this to matter means the op itself was table-scale)."""
    import tempfile

    os.makedirs(os.path.join(table_dir, subdir), exist_ok=True)
    aux_dir = tempfile.mkdtemp(
        prefix=prefix, dir=os.path.join(table_dir, subdir)
    )
    frame.coalesce(1).write.mode("overwrite").parquet(aux_dir)
    out = []
    for uri in spark.read.parquet(aux_dir).inputFiles():
        path = uri[len("file:"):] if uri.startswith("file:") else uri
        out.append(
            {
                "path": os.path.relpath(path, table_dir),
                "bytes": os.path.getsize(path),
            }
        )
    out.sort(key=lambda f: f["path"])
    return out


def _write_delete_vectors(
    spark: SparkSession, table_dir: str, dv_frame: DataFrame
) -> list[dict]:
    """Positional-delete frame ``(path string, pos long)`` under
    ``deletes/d-*/`` — see :func:`_write_aux_files`."""
    return _write_aux_files(spark, table_dir, dv_frame, "deletes", "d-")


def _write_change_files(
    spark: SparkSession, table_dir: str, cdf_frame: DataFrame
) -> list[dict]:
    """Row-level change frame (table columns + ``_change_type``) under
    ``changes/x-*/`` — the commit-time CDF files :func:`snapshot_changes`
    reads for copy-on-write commits (Delta's ``_change_data`` shape)."""
    return _write_aux_files(spark, table_dir, cdf_frame, "changes", "x-")


def _manifest_bloom_cols(manifest: dict) -> tuple[str, ...]:
    """The table's bloom-indexed columns = union across file entries
    (how appends/compactions/merges INHERIT the bloom config without a
    separate table-properties file)."""
    cols: set[str] = set()
    for f in manifest.get("files", []):
        cols.update((f.get("bloom") or {}).keys())
    return tuple(sorted(cols))


def _file_stats(
    path: str,
) -> tuple[dict | None, int | None, list[str] | None]:
    """Per-file column min/max from the parquet FOOTER only (no data
    scan — the Iceberg/Delta stats-collection shape, paid once per
    file at commit time). Returns ``(stats, n_rows)`` where stats maps
    column path -> [min, max] for columns whose bounds are usable in
    EVERY row group: bool/int/float/str, no NaN, strings capped at
    ``_STATS_MAX_STR``. Anything else (binary, timestamps, missing
    row-group stats) drops the column — readers treat a missing column
    as unboundable and keep the file, so omission can never cause a
    wrong skip."""
    try:
        import pyarrow.parquet as pq

        md = pq.ParquetFile(path).metadata
    except Exception:
        return None, None, None
    ok: dict[str, list] = {}
    bad: set[str] = set()
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            col = g.column(ci)
            name = col.path_in_schema
            if name in bad:
                continue
            st = col.statistics
            has = st is not None and st.has_min_max
            mn = st.min if has else None
            mx = st.max if has else None
            usable = (
                isinstance(mn, (bool, int, float, str))
                and isinstance(mx, (bool, int, float, str))
                and not (isinstance(mn, float) and mn != mn)
                and not (isinstance(mx, float) and mx != mx)
                and not (
                    isinstance(mn, str)
                    and (
                        len(mn) > _STATS_MAX_STR
                        or len(mx) > _STATS_MAX_STR
                    )
                )
            )
            if not usable:
                bad.add(name)
                ok.pop(name, None)
                continue
            if name in ok:
                ok[name] = [min(ok[name][0], mn), max(ok[name][1], mx)]
            else:
                ok[name] = [mn, mx]
    # TOP-LEVEL column names (arrow schema order) — recorded per file
    # so schema-evolution checks stay manifest-only (r11); nested
    # leaves in path_in_schema would mis-compare against frame columns
    try:
        cols = [f.name for f in pq.ParquetFile(path).schema_arrow]
    except Exception:
        cols = None
    return (ok or None), md.num_rows, cols


def _file_entry(table_dir: str, path: str, bloom_cols=None) -> dict:
    entry = {
        "path": os.path.relpath(path, table_dir),
        "bytes": os.path.getsize(path),
    }
    stats, n_rows, cols = _file_stats(path)
    if n_rows is not None:
        entry["rows"] = n_rows
    if stats:
        entry["stats"] = stats
    if cols:
        entry["cols"] = cols
    if bloom_cols:
        blooms = _file_blooms(path, bloom_cols)
        if blooms:
            entry["bloom"] = blooms
    return entry


def _write_new_files(
    spark, table_dir: str, df: DataFrame, bloom_cols=None
) -> list[dict]:
    """Write ``df`` into an attempt-unique ``data/c-*`` dir (the
    multi-writer rule) and return its manifest file entries —
    including per-file footer min/max stats and (for ``bloom_cols``)
    per-file Bloom filters for data skipping."""
    import tempfile

    os.makedirs(os.path.join(table_dir, "data"), exist_ok=True)
    data_dir = tempfile.mkdtemp(
        prefix="c-", dir=os.path.join(table_dir, "data")
    )
    df.write.mode("overwrite").parquet(data_dir)
    new_files = []
    for uri in spark.read.parquet(data_dir).inputFiles():
        path = uri[len("file:"):] if uri.startswith("file:") else uri
        new_files.append(_file_entry(table_dir, path, bloom_cols))
    new_files.sort(key=lambda f: f["path"])
    return new_files


def _dv_delta_entries(
    cur_dv: dict | None, new_dv: dict | None
) -> list[dict]:
    """Manifest-level DV diff: the delete-vector file entries ``new_dv``
    ADDED over ``cur_dv``. Raises SnapshotConflictError if any current
    entry disappeared — DV removal means a fold/rewrite (overwrite,
    compact, restore), which never rebases."""
    cur_paths = {f["path"] for f in (cur_dv or {}).get("files", [])}
    new_files = (new_dv or {}).get("files", [])
    new_paths = {f["path"] for f in new_files}
    if cur_paths - new_paths:
        raise SnapshotConflictError(
            "concurrent commit removed/folded delete vectors — re-run "
            "against the new head"
        )
    return [f for f in new_files if f["path"] not in cur_paths]


def _dv_touched_data_paths(
    table_dir: str, dv_entries: list[dict]
) -> set:
    """The DATA files (rel paths) a set of delete-vector files touch —
    read driver-side via pyarrow (DV files are bounded aux artifacts:
    rows deleted since the last compaction, the same bound that keeps
    the read-side `_apply_dv` join broadcastable)."""
    import pyarrow.parquet as pq

    touched: set = set()
    for f in dv_entries:
        t = pq.read_table(
            os.path.join(table_dir, f["path"]), columns=["path"]
        )
        touched.update(t.column("path").to_pylist())
    return touched


def _rebase_onto_appends(
    table_dir: str,
    parent: int,
    op: str,
    parent_dv: dict | None,
    winner_guard,
    affected_paths: set | None = None,
    dv_touched_paths: set | None = None,
) -> tuple[int, list[dict], tuple[list[dict], int, dict | None]]:
    """Delta-style conflict resolution after a lost CAS (r11, VERDICT
    order #3): fold every commit that landed after ``parent`` into
    this copy-on-write commit — PROVIDED each one is a pure append
    that removed nothing, left the delete vectors untouched, and
    passes the caller's row-level ``winner_guard`` over its added
    files (a merge checks key overlap, a delete checks condition
    matches — a guard failure means the concurrent rows would have
    changed THIS commit's outcome, so it must be recomputed).

    r12 extension (VERDICT order #2): a winning copy-on-write
    ``merge``/``delete`` whose rewritten+removed file set is DISJOINT
    from this commit's ``affected_paths`` also rebases — the files
    this commit recomputed are byte-identical at the new head, and
    the winner's output files go through the same row-level
    ``winner_guard`` (an updated/inserted row that matches this
    commit's keys/condition would have changed its outcome →
    conflict; survivor rows riding in those files cannot match, or
    their source files would have been in BOTH affected sets).
    r13 extension (VERDICT order #3): a winner whose DELETE-VECTOR
    delta only ADDS vectors touching data files disjoint from this
    commit's ``affected_paths`` (and from ``dv_touched_paths`` — the
    data files this commit's OWN new DVs touch, so two mor deletes on
    the same file conflict instead of double-counting) also rebases:
    its DV entries are carried forward into the rebased commit, so the
    winner's deletions on kept files survive. A deleted row that could
    have changed this commit's outcome lives in a file BOTH commits
    touched, which the disjointness check rejects. DV changes on
    overlapping files, DV folds/removals, reorg overwrites, and
    restores still raise. Returns ``(new_parent, added_entries,
    (carried_dv_entries, carried_dv_rows, head_dv))``; raises
    SnapshotConflictError otherwise."""
    head = snapshot_versions(table_dir)[-1]
    parent_paths = {
        f["path"] for f in _read_manifest(table_dir, parent)["files"]
    }
    added: list[dict] = []
    cur_dv = parent_dv
    carried_dv: list[dict] = []
    carried_rows = 0
    blocked = set(affected_paths or ()) | set(dv_touched_paths or ())
    for v in range(parent + 1, head + 1):
        w = _read_manifest(table_dir, v)
        w_paths = {f["path"] for f in w["files"]}
        removed = parent_paths - w_paths
        compatible = (w["op"] == "append" and not removed) or (
            w["op"] in ("merge", "delete", "delete-mor")
            and affected_paths is not None
            and not (removed & affected_paths)
        )
        if not compatible:
            raise SnapshotConflictError(
                f"{op} computed against v{parent} but v{v} "
                f"(op={w['op']!r}) rewrote or removed files this "
                f"{op} read — re-run the {op} against the new head"
            )
        w_dv = w.get("dv") or None
        if w_dv != (cur_dv or None):
            new_dv = _dv_delta_entries(cur_dv, w_dv)
            touched = _dv_touched_data_paths(table_dir, new_dv)
            overlap = touched & blocked
            if overlap:
                raise SnapshotConflictError(
                    f"{op} computed against v{parent} but v{v} added "
                    f"delete vectors on files this {op} touched "
                    f"({sorted(overlap)[:3]}…) — re-run the {op} "
                    "against the new head"
                )
            carried_dv.extend(new_dv)
            carried_rows += int((w_dv or {}).get("n_rows") or 0) - int(
                (cur_dv or {}).get("n_rows") or 0
            )
            cur_dv = w_dv
        added.extend(
            f for f in w["files"] if f["path"] not in parent_paths
        )
        parent_paths = w_paths
    if added and winner_guard is not None:
        winner_guard(added)  # raises SnapshotConflictError on overlap
    return head, added, (carried_dv, carried_rows, cur_dv)


def _publish_cow_manifest(
    table_dir: str, parent: int, files: list[dict], op: str, ts: int,
    extra: dict, dv: dict | None = None, cdf: dict | None = None,
    rebase: dict | None = None, max_retries: int = 8,
) -> int:
    """Create-exclusive publish of a copy-on-write commit computed
    against ``parent``.

    Without ``rebase``, a lost race raises SnapshotConflictError
    IMMEDIATELY (no silent retry — the caller's affected-file set is
    stale against the new head and must be recomputed).

    With ``rebase`` (r11) the Delta conflict check runs instead:
    ``rebase`` carries ``affected_paths`` (rel paths this commit
    rewrote/removed from its parent), ``new_entries`` (the file
    entries it wrote), and an optional ``winner_guard(added_entries)``
    for row-level validation of concurrently appended files. When
    every winning commit is a compatible append, the commit REBASES —
    the winner's files ride along untouched, kept files are recomputed
    against the new head — and retries internally; anything else
    raises as before."""
    import json
    import tempfile

    parent_dv = (rebase or {}).get("parent_dv")
    for _attempt in range(max_retries):
        version = parent + 1
        out_manifest = {
            "version": version,
            "op": op,
            "ts": ts,
            "n_files": len(files),
            "n_bytes": sum(f["bytes"] for f in files),
            "files": files,
            "extra": extra,
        }
        if dv and dv.get("files"):
            out_manifest["dv"] = dv
        if cdf and cdf.get("files"):
            out_manifest["cdf"] = cdf
        os.makedirs(os.path.join(table_dir, _SNAP_DIR), exist_ok=True)
        fd, tmp = tempfile.mkstemp(
            suffix=".tmp", dir=os.path.join(table_dir, _SNAP_DIR)
        )
        with os.fdopen(fd, "w") as f:
            json.dump(out_manifest, f, indent=1)
        try:
            os.link(tmp, _manifest_path(table_dir, version))
            return version
        except FileExistsError:
            if rebase is None:
                raise SnapshotConflictError(
                    f"{op} computed against v{parent} but v{version} "
                    f"was committed concurrently — re-run the {op} "
                    "against the new head"
                ) from None
            affected = set(rebase["affected_paths"])
            new_parent, added, dv_carry = _rebase_onto_appends(
                table_dir,
                parent,
                op,
                parent_dv,
                rebase.get("winner_guard"),
                affected_paths=affected,
                dv_touched_paths=rebase.get("dv_touched_paths"),
            )
            carried_dv, carried_rows, head_dv = dv_carry
            if carried_dv:
                # the winner's delete vectors ride forward (r13): its
                # deletions on kept files must survive this commit
                base_dv = dv or {"files": [], "n_rows": 0}
                dv = {
                    "files": list(base_dv.get("files") or [])
                    + carried_dv,
                    "n_rows": int(base_dv.get("n_rows") or 0)
                    + carried_rows,
                }
            # later retry iterations must diff DVs against the head we
            # just rebased onto, not the original parent
            parent_dv = head_dv
            head_files = _read_manifest(table_dir, new_parent)["files"]
            files = [
                f for f in head_files if f["path"] not in affected
            ] + list(rebase["new_entries"])
            parent = new_parent
        finally:
            os.unlink(tmp)
    raise SnapshotConflictError(
        f"lost the {op} publish race {max_retries} times on "
        f"{table_dir!r}"
    )


def _delete_winner_guard(spark, table_dir: str, cond, condition: str):
    """Row-level rebase check for DELETE racing an append: the
    concurrently appended files must contain NO row matching the
    delete condition (those rows were never scanned, so rebasing past
    them would silently leave them alive). An unresolvable condition
    over the added files (e.g. it names a column they lack, which
    null-evaluation could MATCH for IS NULL shapes) conflicts
    conservatively."""

    def guard(added_entries):
        paths = [
            os.path.join(table_dir, f["path"]) for f in added_entries
        ]
        try:
            n = (
                spark.read.option("mergeSchema", "true")
                .parquet(*paths)
                .where(cond)
                .limit(1)
                .count()
            )
        except Exception as exc:
            raise SnapshotConflictError(
                f"cannot evaluate {condition!r} over concurrently "
                f"appended files ({exc}) — re-run the delete against "
                "the new head"
            ) from exc
        if n:
            raise SnapshotConflictError(
                "concurrent append added rows matching the delete "
                "condition — re-run the delete against the new head"
            )

    return guard


def snapshot_delete(
    spark: SparkSession,
    table_dir: str,
    condition: str,
    ts: int = SNAP_EPOCH,
    extra: dict | None = None,
    mode: str = "cow",
    cdf: bool = True,
) -> dict:
    """DELETE WHERE over the manifest log — the right-to-erasure
    operation a production corpus must support. Two physical modes:

    - ``cow`` (default, copy-on-write): rows matching ``condition``
      (a SQL boolean expression over the table's columns) are removed
      by rewriting ONLY the files that contain a match; untouched
      files carry by reference. Right for large deletes (the rewrite
      amortizes) and for keeping the read path join-free.
    - ``mor`` (merge-on-read, the Iceberg v2 positional-delete shape):
      NO data file is rewritten — the commit records (file, row
      position) delete vectors, and ``snapshot_read`` anti-joins them
      at scan time. Right for small/frequent deletes on a 100 TB
      table, where rewriting a whole file per matched row would be
      O(file) write I/O for O(1) rows. The read-side cost grows with
      accumulated DVs; :func:`snapshot_compact` (or any overwrite
      commit) folds them away — run it when DV row counts approach a
      few percent of the table.

    Same optimistic concurrency as :func:`snapshot_merge` (lost race
    raises, caller re-runs). NOTE: older versions still CONTAIN the
    rows (time travel is the point of snapshots); for ``mor`` the
    matched row DATA also remains in the current version's files until
    a compaction rewrites them.

    ``cdf=True`` (default) records the deleted rows as change files
    for ``cow`` commits so :func:`snapshot_changes` stays exact over
    them (``mor`` commits need no change files — their delete vectors
    ARE the row-level change record, derived at read time for free).

    Returns ``{version, files_rewritten, files_kept, files_new,
    rows_deleted}``; a condition matching nothing publishes NO new
    version (returns the parent with zeros)."""
    from urllib.parse import unquote, urlparse

    if mode not in ("cow", "mor"):
        raise ValueError("mode must be cow|mor")
    versions = snapshot_versions(table_dir)
    if not versions:
        raise ValueError(f"no committed snapshots under {table_dir}")
    parent = versions[-1]
    manifest = _read_manifest(table_dir, parent)
    if not manifest["files"]:
        return {
            "version": parent, "files_rewritten": 0, "files_kept": 0,
            "files_new": 0, "rows_deleted": 0,
        }
    by_abspath = {
        os.path.normpath(os.path.join(table_dir, f["path"])): f
        for f in manifest["files"]
    }
    cond = F.expr(condition)
    # schema-evolution guard (r11, same rule as snapshot_merge): on a
    # version whose files diverge, evaluate the condition against the
    # UNION schema (old rows null-filled) — first-file schema would
    # either drop evolved columns or make the match depend on which
    # file Spark sampled
    hetero, _union_cols = _version_schema_info(table_dir, manifest)
    reader = (
        spark.read.option("mergeSchema", "true") if hetero else spark.read
    )

    if mode == "mor":
        # positions matching the condition, minus positions an earlier
        # DV already deleted (stacked mor deletes must not double-count)
        matched = (
            reader.parquet(*by_abspath)
            .withColumn("_dv_path", _rel_file_expr(table_dir))
            .withColumn("_dv_pos", F.col("_metadata.row_index"))
            .where(cond)
            .select(
                F.col("_dv_path").alias("path"),
                F.col("_dv_pos").alias("pos"),
            )
        )
        prior = manifest.get("dv") or {}
        if prior.get("files"):
            prior_dv = spark.read.parquet(
                *[os.path.join(table_dir, f["path"]) for f in prior["files"]]
            ).select("path", "pos")
            matched = matched.join(
                F.broadcast(prior_dv), on=["path", "pos"], how="left_anti"
            )
        rows_deleted = matched.count()
        if not rows_deleted:
            return {
                "version": parent, "files_rewritten": 0,
                "files_kept": len(by_abspath), "files_new": 0,
                "rows_deleted": 0,
            }
        dv_files = _write_delete_vectors(spark, table_dir, matched)
        # data files OUR new vectors touch — a concurrent DV winner on
        # any of them conflicts instead of double-counting (r13)
        own_touched = {
            r.path for r in matched.select("path").distinct().collect()
        }
        version = _publish_cow_manifest(
            table_dir, parent, manifest["files"], "delete-mor", ts,
            {
                **(extra or {}),
                "delete_condition": condition,
                "rows_deleted": rows_deleted,
            },
            dv={
                "files": list(prior.get("files") or []) + dv_files,
                "n_rows": int(prior.get("n_rows") or 0) + rows_deleted,
            },
            # mor rewrites nothing: a concurrent append rides along as
            # long as its rows can't match the delete condition
            rebase={
                "affected_paths": set(),
                "new_entries": [],
                "parent_dv": manifest.get("dv"),
                "dv_touched_paths": own_touched,
                "winner_guard": _delete_winner_guard(
                    spark, table_dir, cond, condition
                ),
            },
        )
        return {
            "version": version,
            "files_rewritten": 0,
            "files_kept": len(by_abspath),
            "files_new": 0,
            "rows_deleted": rows_deleted,
        }

    base = reader.parquet(*by_abspath)
    current = _apply_dv(
        spark,
        table_dir,
        manifest,
        base.withColumn("_del_file", F.input_file_name()),
    )
    affected_uris = [
        r["_del_file"]
        for r in current.where(cond)
        .select("_del_file").distinct().collect()
    ]
    affected = sorted(
        os.path.normpath(unquote(urlparse(u).path)) for u in affected_uris
    )
    if not affected:
        return {
            "version": parent, "files_rewritten": 0,
            "files_kept": len(by_abspath), "files_new": 0,
            "rows_deleted": 0,
        }
    cols = base.columns
    affected_frame = reader.parquet(*affected)
    for c in cols:  # the affected subset may predate the evolution
        if c not in affected_frame.columns:
            affected_frame = affected_frame.withColumn(
                c, F.lit(None).cast(base.schema[c].dataType)
            )
    affected_live = _apply_dv(
        spark, table_dir, manifest, affected_frame
    )
    survivors = affected_live.where(~cond).select(*cols)
    n_affected_rows = affected_live.count()
    n_survivors = survivors.count()
    rows_deleted = n_affected_rows - n_survivors
    cdf_entry = None
    if cdf and rows_deleted:
        change = (
            affected_live.where(cond)
            .select(*cols)
            .withColumn(CHANGE_TYPE_COL, F.lit("delete"))
        )
        cdf_entry = {
            "files": _write_change_files(spark, table_dir, change),
            "n_rows": rows_deleted,
        }
    new_files = (
        _write_new_files(
            spark, table_dir, survivors,
            bloom_cols=_manifest_bloom_cols(manifest),
        )
        if n_survivors
        else []
    )
    kept = [
        f for p, f in sorted(by_abspath.items()) if p not in set(affected)
    ]
    version = _publish_cow_manifest(
        table_dir, parent, kept + new_files, "delete", ts,
        {
            **(extra or {}),
            "delete_condition": condition,
            "files_rewritten": len(affected),
            "rows_deleted": rows_deleted,
        },
        # kept files may still carry deleted positions; rewritten
        # files got their DVs folded in, and stale DV rows pointing at
        # replaced paths match nothing (compaction retires them)
        dv=manifest.get("dv"),
        cdf=cdf_entry,
        rebase={
            "affected_paths": {by_abspath[p]["path"] for p in affected},
            "new_entries": new_files,
            "parent_dv": manifest.get("dv"),
            "winner_guard": _delete_winner_guard(
                spark, table_dir, cond, condition
            ),
        },
    )
    return {
        "version": version,
        "files_rewritten": len(affected),
        "files_kept": len(kept),
        "files_new": len(new_files),
        "rows_deleted": rows_deleted,
    }


def snapshot_changes(
    spark: SparkSession,
    table_dir: str,
    from_version: int,
    to_version: int | None = None,
    on_rewrite: str = "fail",
) -> DataFrame:
    """ROW-level change feed between two committed versions — the
    Delta CDF / Iceberg changelog read (``table_changes()``): every
    row inserted, deleted or updated by the commits in
    ``(from_version, to_version]``, as the table's columns plus
    ``_change_type`` (``insert`` / ``delete`` / ``update_preimage`` /
    ``update_postimage`` — the Delta names) and ``_commit_version``.
    Replaying the feed against a copy of version ``from_version``
    reproduces version ``to_version`` exactly (pinned in tests) — the
    downstream-sync primitive: incremental index updates, cache
    invalidation, audit trails, sibling-table replication.

    Where each commit's changes come from (never a table diff — every
    source is bounded by the CHANGED rows, so a feed over a 100 TB
    table costs O(changes), with per-commit planning manifest-only):

    - ``append``: the files added vs the parent manifest ARE the
      inserted rows;
    - ``merge`` / cow ``delete``: the commit-time change files the
      writer recorded under ``changes/`` (``cdf=True``, the default —
      a rewrite's file diff alone is NOT a row delta, so commits
      written with ``cdf=False`` fall under ``on_rewrite``);
    - ``delete-mor``: the delete vectors added by the commit, joined
      back to their data files — the DV IS the change record, free at
      write time;
    - reorg commits (compact / cluster_by): content-
      preserving by construction (``extra.reorg``, Delta's
      ``dataChange=false``) — emit NOTHING;
    - semantic ``overwrite`` / ``restore`` (and any commit whose row
      delta is unrecoverable): ``on_rewrite="fail"`` (default) raises;
      ``"skip"`` emits nothing for that commit and moves on.

    Schema is pinned to the table's oldest data file (the stream-
    source convention): change rows missing a pinned column null-fill,
    extra columns drop."""
    from functools import reduce

    if on_rewrite not in ("fail", "skip"):
        raise ValueError("on_rewrite must be fail|skip")
    versions = snapshot_versions(table_dir)
    if not versions:
        raise ValueError(f"no committed snapshots under {table_dir}")
    if to_version is None:
        to_version = versions[-1]
    if from_version != 0 and from_version not in versions:
        raise ValueError(f"version {from_version} not in {versions}")
    if to_version not in versions:
        raise ValueError(f"version {to_version} not in {versions}")

    base = None
    for v in versions:
        files = _read_manifest(table_dir, v)["files"]
        if files:
            base = spark.read.parquet(
                os.path.join(table_dir, files[0]["path"])
            ).limit(0)
            break
    if base is None:
        raise ValueError(
            f"no version of {table_dir!r} has any data file to define "
            "a schema"
        )
    fields = base.columns
    dtypes = dict(base.dtypes)

    def _shape(df: DataFrame, version: int) -> DataFrame:
        cols = []
        have = set(df.columns)
        for name in fields:
            if name in have:
                cols.append(F.col(name))
            else:  # evolution: pinned column absent from this commit
                cols.append(F.lit(None).cast(dtypes[name]).alias(name))
        cols.append(F.col(CHANGE_TYPE_COL))
        cols.append(
            F.lit(int(version)).cast("long").alias(COMMIT_VERSION_COL)
        )
        return df.select(*cols)

    def _vacuumed(v: int) -> ValueError:
        return ValueError(
            f"cannot derive changes for commit v{v}: its parent "
            f"manifest v{v - 1} was vacuumed — start the feed from an "
            "existing version"
        )

    pieces: list[DataFrame] = []
    for v in range(from_version + 1, to_version + 1):
        if v not in versions:
            raise ValueError(
                f"cannot derive changes for commit v{v}: its manifest "
                "was vacuumed — start the feed from an existing version"
            )
        m = _read_manifest(table_dir, v)
        op = m["op"]
        extra = m.get("extra") or {}
        if op == "append":
            if v - 1 > 0 and v - 1 not in versions:
                raise _vacuumed(v)
            parent_paths = (
                {
                    f["path"]
                    for f in _read_manifest(table_dir, v - 1)["files"]
                }
                if v - 1 > 0
                else set()
            )
            added = [
                os.path.join(table_dir, f["path"])
                for f in m["files"]
                if f["path"] not in parent_paths
            ]
            if not added:
                continue
            pieces.append(
                _shape(
                    spark.read.parquet(*added).withColumn(
                        CHANGE_TYPE_COL, F.lit("insert")
                    ),
                    v,
                )
            )
        elif op in ("merge", "delete"):
            cdfm = m.get("cdf") or {}
            if cdfm.get("files"):
                pieces.append(
                    _shape(
                        spark.read.parquet(
                            *[
                                os.path.join(table_dir, f["path"])
                                for f in cdfm["files"]
                            ]
                        ),
                        v,
                    )
                )
            elif on_rewrite == "fail":
                raise ValueError(
                    f"commit v{v} is op={op!r} but recorded no change "
                    "files (written with cdf=False): its row delta "
                    "cannot be reconstructed. Set on_rewrite='skip' to "
                    "move past it."
                )
        elif op == "delete-mor":
            if v - 1 not in versions:
                raise _vacuumed(v)
            prior = {
                f["path"]
                for f in (
                    _read_manifest(table_dir, v - 1).get("dv") or {}
                ).get("files", [])
            }
            new_dv = [
                os.path.join(table_dir, f["path"])
                for f in (m.get("dv") or {}).get("files", [])
                if f["path"] not in prior
            ]
            if not new_dv:
                continue
            dvf = spark.read.parquet(*new_dv).select(
                F.col("path").alias("_dv_path"),
                F.col("pos").alias("_dv_pos"),
            )
            # only the files the DVs actually touch are scanned —
            # the DV frame is small (mor is the small-delete mode)
            touched = sorted(
                {
                    r["_dv_path"]
                    for r in dvf.select("_dv_path").distinct().collect()
                }
            )
            scan = (
                spark.read.parquet(
                    *[os.path.join(table_dir, p) for p in touched]
                )
                .withColumn("_row_path", _rel_file_expr(table_dir))
                .withColumn("_row_pos", F.col("_metadata.row_index"))
            )
            deleted = (
                scan.join(
                    F.broadcast(dvf),
                    (scan["_row_path"] == dvf["_dv_path"])
                    & (scan["_row_pos"] == dvf["_dv_pos"]),
                    "inner",
                )
                .drop("_row_path", "_row_pos", "_dv_path", "_dv_pos")
                .withColumn(CHANGE_TYPE_COL, F.lit("delete"))
            )
            pieces.append(_shape(deleted, v))
        elif op == "overwrite" and extra.get("reorg"):
            continue  # content-preserving reorganization: no changes
        elif on_rewrite == "fail":
            raise ValueError(
                f"commit v{v} is op={op!r}: its row delta is not "
                "recorded (a full replace has no bounded change set). "
                "Set on_rewrite='skip' to move past it, or start the "
                "feed after it."
            )
    if not pieces:
        return _shape(
            base.withColumn(CHANGE_TYPE_COL, F.lit("insert")), 0
        ).limit(0)
    return reduce(lambda a, b: a.unionByName(b), pieces)


def _maintain_after_sync(
    spark: SparkSession,
    dst_dir: str,
    cluster_col: str,
    target_mb: float,
    ts: int,
    merge_res: dict | None,
) -> dict:
    """Replicate's post-sync hook: feed the sync's rewrite
    fraction into the maintain policy. A bootstrap append (no merge
    stats) counts as fraction 1.0 — the fresh replica is one
    unclustered blob, exactly the state where the next merge degrades
    to a full rewrite (the measured 1.0 fraction, CLAUDE.md r10)."""
    if merge_res is None:
        frac = 1.0
    else:
        rw = merge_res.get("files_rewritten", 0)
        kept = merge_res.get("files_kept", 0)
        frac = rw / max(1, rw + kept)
    return snapshot_maintain(
        spark,
        dst_dir,
        target_mb=target_mb,
        cluster_col=cluster_col,
        ts=ts,
        last_rewrite_frac=frac,
    )


def snapshot_replicate(
    spark: SparkSession,
    src_dir: str,
    dst_dir: str,
    keys: list[str],
    ts: int = SNAP_EPOCH,
    on_rewrite: str = "fail",
    maintain_cluster_col: str | None = None,
    target_mb: float = 128.0,
) -> dict:
    """Keyed CDC apply: land everything that happened to ``src_dir``
    since the last sync as ONE commit on ``dst_dir`` — the
    change-feed-consumer loop every sibling table (a search index, a
    regional replica, a downstream feature store) runs against a
    production corpus. Incremental and exactly-once: the destination commit
    carries the consumed source version in its manifest ``extra``
    (``replicate_src_version``), so the high-water mark advances
    ATOMICALLY with the data — a crash between syncs just re-derives
    the same net changes and re-applies them to the same effect.

    Per sync: read :func:`snapshot_changes` over ``(high_water,
    src_head]``, reduce to the NET outcome per key (latest
    non-preimage change wins — a key updated five times lands once),
    and apply upserts + deletes through ONE :func:`snapshot_merge`
    commit (``delete_keys``). Cost is O(changed rows) on the source
    side and O(affected files + changes) on the destination — never a
    table diff, which is the point at 100 TB.

    First sync onto an empty destination bootstraps with a plain
    commit. A range with no net changes (e.g. only reorg commits)
    applies nothing and leaves the high-water mark where it was (the
    skipped commits are manifest-cheap to re-classify next sync). A
    destination racing another writer raises
    :class:`SnapshotConflictError` through the merge — re-run.
    Returns ``{from_version, to_version, version, rows_upserted,
    rows_deleted, applied}``.

    Retention caveat: the high-water mark lives in the newest
    destination manifest that carries one; if retention drops it, the
    next sync re-derives from 0. With keys that re-apply is IDEMPOTENT
    (upserts replace, deletes re-delete) but needs source history
    back to 0 — a missing source range raises instead (never silent
    double-apply).

    ``maintain_cluster_col`` (r13, VERDICT order #6): run the
    :func:`snapshot_maintain` policy after each applied sync with the
    merge's rewrite fraction fed in — a bootstrap append or a
    scatter-degraded merge (the measured 1.0 rewrite fraction on
    unclustered replicas) reclusters immediately, keeping subsequent
    syncs at bounded rewrite economics; healthy syncs add no version.
    Audit dict under ``result['maintain']``."""
    src_id = os.path.abspath(src_dir)
    src_versions = snapshot_versions(src_dir)
    if not src_versions:
        raise ValueError(f"no committed snapshots under {src_dir}")
    to_version = src_versions[-1]

    high_water = 0
    for v in reversed(snapshot_versions(dst_dir)):
        extra = _read_manifest(dst_dir, v).get("extra") or {}
        if "replicate_src_version" in extra:
            if extra.get("replicate_src") not in (None, src_id):
                raise ValueError(
                    f"{dst_dir!r} replicates {extra.get('replicate_src')!r},"
                    f" not {src_id!r} — one source feed per destination"
                )
            high_water = int(extra["replicate_src_version"])
            break
    out = {
        "from_version": high_water,
        "to_version": to_version,
        "version": None,
        "rows_upserted": 0,
        "rows_deleted": 0,
        "applied": False,
    }
    if to_version <= high_water:
        return out  # nothing new

    changes = snapshot_changes(
        spark, src_dir, high_water, to_version, on_rewrite=on_rewrite
    )
    upserts, deletes = _net_outcome(changes, keys)
    n_up, n_del = upserts.count(), deletes.count()
    if not n_up and not n_del:
        return out  # reorg/skip-only range: high water stays put

    hw_extra = {
        "replicate_src": src_id,
        "replicate_src_version": to_version,
    }
    version, merge_res = _apply_net(
        upserts, deletes if n_del else None, dst_dir, keys, ts, hw_extra
    )
    out.update(
        version=version,
        rows_upserted=n_up,
        rows_deleted=n_del,
        applied=True,
    )
    if maintain_cluster_col is not None:
        out["maintain"] = _maintain_after_sync(
            spark, dst_dir, maintain_cluster_col, target_mb, ts, merge_res
        )
    return out


def _net_outcome(changes: DataFrame, keys: list[str]):
    """Reduce a CDF slice to its NET outcome per key: preimages are
    never an outcome (always paired with their postimage), then the
    latest commit wins. The secondary keys make row_number
    deterministic when ONE source commit carries duplicate rows for a
    key (r11: xxhash64 over the full row is a sort key only, never an
    output value). Returns ``(upserts, delete_keys)``."""
    from pyspark.sql.window import Window

    cols = [
        c
        for c in changes.columns
        if c not in (CHANGE_TYPE_COL, COMMIT_VERSION_COL)
    ]
    net = changes.where(
        F.col(CHANGE_TYPE_COL) != "update_preimage"
    ).withColumn(
        "_rk",
        F.row_number().over(
            Window.partitionBy(*keys).orderBy(
                F.col(COMMIT_VERSION_COL).desc(),
                F.col(CHANGE_TYPE_COL).desc(),
                F.xxhash64(*cols).desc(),
            )
        ),
    ).where(F.col("_rk") == 1)
    upserts = net.where(
        F.col(CHANGE_TYPE_COL).isin("insert", "update_postimage")
    ).select(*cols)
    deletes = net.where(F.col(CHANGE_TYPE_COL) == "delete").select(*keys)
    return upserts, deletes


def _apply_net(
    upserts: DataFrame,
    deletes: DataFrame | None,
    dst_dir: str,
    keys: list[str],
    ts: int,
    extra: dict,
) -> tuple[int, dict | None]:
    """Land one net change set as ONE destination commit: bootstrap
    append on an empty destination (deletes of never-present keys are
    no-ops), keyed merge with WHEN-MATCHED-DELETE otherwise. Returns
    ``(version, merge_stats)`` — stats None for the bootstrap append
    (the maintain hook treats that as fully-scattered, r13)."""
    if not snapshot_versions(dst_dir):
        return snapshot_commit(
            upserts, dst_dir, mode="append", ts=ts, extra=extra
        ), None
    res = snapshot_merge(
        upserts, dst_dir, keys, ts=ts, extra=extra, delete_keys=deletes
    )
    return res["version"], res


def snapshot_maintain(
    spark: SparkSession,
    table_dir: str,
    target_mb: float = 128.0,
    max_dv_frac: float = 0.02,
    file_slack: float = 2.0,
    cluster_col: str | None = None,
    ts: int = SNAP_EPOCH,
    last_rewrite_frac: float | None = None,
    max_rewrite_frac: float = 0.5,
) -> dict:
    """The auto-OPTIMIZE policy loop a production table runs after
    churn (what Delta's auto-compaction + DV-threshold maintenance
    automate): inspect the HEAD manifest only and rewrite exactly when
    a documented threshold trips —

    - accumulated merge-on-read deletions exceed ``max_dv_frac`` of
      live rows (the read-side anti-join has grown past its budget:
      fold the DVs away), or
    - the file count exceeds ``file_slack ×`` the byte-planned count
      at ``target_mb`` (small-file churn from frequent appends/syncs:
      compact).

    The rewrite is :func:`snapshot_cluster_by` when ``cluster_col`` is
    given (restoring the merge/skipping economics in the same pass —
    the right default for keyed tables) else :func:`snapshot_compact`.
    r13 (VERDICT order #6): ``last_rewrite_frac`` — the fraction of
    files the CALLER's just-committed keyed merge rewrote — trips a
    ``rewrite_fraction`` recluster (requires ``cluster_col``) when it
    exceeds ``max_rewrite_frac``. Key scatter is invisible in the
    manifest (file counts and DV rows look healthy while every merge
    rewrites the whole table — the measured 1.0 fraction on
    unclustered replicas, CLAUDE.md r10); the merge outcome itself is
    the evidence, so :func:`snapshot_replicate` with
    ``maintain_cluster_col`` feeds it back here.

    No threshold tripped = NO new version (decide from the manifest,
    never scan data to decide). Returns the audit dict
    ``{acted, reason, n_files, planned_files, dv_rows, live_rows,
    version}`` — the no-silent-caps rule applied to maintenance."""
    versions = snapshot_versions(table_dir)
    if not versions:
        raise ValueError(f"no committed snapshots under {table_dir}")
    head = versions[-1]
    m = _read_manifest(table_dir, head)
    n_files = m["n_files"]
    planned = plan_output_files(m["n_bytes"], target_mb)
    dv_rows = (m.get("dv") or {}).get("n_rows", 0)
    total_rows = sum(f.get("rows", 0) for f in m["files"])
    live_rows = max(total_rows - dv_rows, 1)
    out = {
        "acted": False,
        "reason": None,
        "n_files": n_files,
        "planned_files": planned,
        "dv_rows": dv_rows,
        "live_rows": live_rows,
        "version": head,
    }
    if dv_rows and dv_rows > max_dv_frac * live_rows:
        out["reason"] = "dv_fraction"
    elif (
        cluster_col is not None
        and last_rewrite_frac is not None
        and last_rewrite_frac > max_rewrite_frac
    ):
        out["reason"] = "rewrite_fraction"
    elif n_files > file_slack * planned:
        out["reason"] = "file_count"
    else:
        return out
    if cluster_col is not None:
        res = snapshot_cluster_by(
            spark, table_dir, cluster_col, target_mb=target_mb, ts=ts
        )
    else:
        res = snapshot_compact(spark, table_dir, target_mb=target_mb, ts=ts)
    out["acted"] = True
    out["version"] = res["version"]
    return out
