"""Iceberg-style table format emulation over Parquet (SURVEY.md §7).

The sandbox has no Iceberg jars, so the north rule's snapshot/lineage/resume
semantics are provided by a thin, from-scratch table layout:

    <root>/data/snap-<id>/part-*.parquet      immutable data files per commit
    <root>/_snapshots/<id>.json               manifest: data dirs + op + summary
    <root>/_snapshots/CURRENT                 pointer file (atomic rename commit)

Commits are atomic: data is written to a staging dir, the manifest json is
written to a temp name and ``os.replace``d into place, then CURRENT is
replaced. Readers resolve CURRENT → manifest → data dirs. ``overwrite``
replaces the logical table; ``append`` unions with the parent snapshot —
the same append/overwrite granularity the reference achieves with
soft-delete + re-insert (main.py:1751-1776). On a real cluster the same
call-sites bind to Iceberg (``writeTo(...).append()`` /
``overwritePartitions()``) — see pipeline.py docstring.
"""
from __future__ import annotations

import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_UNSET = object()


def zorder_key(df: DataFrame, cols: list[str]):
    """Morton (Z-order) key over numeric/timestamp columns as ONE pure-JVM
    expression: each column is min/max-normalized into a 2^bits integer
    grid (bits = min(16, 63 // n_cols)) and the grid coordinates'
    bits interleave — points close in EVERY dimension get close keys, so
    range-partitioning on the key gives every output file a tight
    hyper-rectangle and footer min/max stats prune reads on any clustered
    column (the Iceberg zorder rewrite strategy; Morton 1966).

    One narrow aggregate computes the per-column min/max; the interleave
    itself is shiftright/and/shiftleft terms — whole-stage codegen, zero
    Python, zero extra shuffles beyond the caller's repartition. NULLs
    bin to the column minimum; constant/all-NULL columns contribute
    nothing (they cannot discriminate)."""
    bits = min(16, 63 // len(cols))
    scale = (1 << bits) - 1
    aggs = []
    for c in cols:
        aggs += [F.min(F.col(c).cast("double")).alias(f"__mn_{c}"),
                 F.max(F.col(c).cast("double")).alias(f"__mx_{c}")]
    row = df.agg(*aggs).first()
    key = F.lit(0).cast("long")
    for j, c in enumerate(cols):
        mn, mx = row[f"__mn_{c}"], row[f"__mx_{c}"]
        if mn is None or mx is None or mx <= mn:
            continue
        v = F.coalesce(F.col(c).cast("double"), F.lit(float(mn)))
        bin_ = F.least(
            F.greatest(
                ((v - F.lit(float(mn))) / F.lit(float(mx) - float(mn))
                 * F.lit(float(scale))).cast("long"),
                F.lit(0).cast("long")),
            F.lit(scale).cast("long"))
        for b in range(bits):
            key = key.bitwiseOR(
                F.shiftleft(F.shiftright(bin_, b).bitwiseAND(F.lit(1)),
                            b * len(cols) + j))
    return key


# Iceberg's safe type promotions in Spark dtype terms (int->long,
# float->double); consulted by the _read_dirs widen adaptation
_WIDEN_SAFE = {("int", "bigint"), ("float", "double")}


class ConcurrentCommitError(RuntimeError):
    """Another commit moved CURRENT between this writer's read and its
    publish — the optimistic-concurrency conflict Iceberg resolves with a
    metadata CAS + retry. The emulation FAILS LOUDLY instead of silently
    last-writer-wins (which would drop the other commit's rows from the
    logical table)."""


class SnapshotTable:
    def __init__(self, root: str) -> None:
        self.root = root
        self.snap_dir = os.path.join(root, "_snapshots")
        self.data_dir = os.path.join(root, "data")
        os.makedirs(self.snap_dir, exist_ok=True)
        os.makedirs(self.data_dir, exist_ok=True)

    # -- metadata ----------------------------------------------------------
    def _current_id(self) -> str | None:
        cur = os.path.join(self.snap_dir, "CURRENT")
        if not os.path.exists(cur):
            return None
        with open(cur) as f:
            return f.read().strip() or None

    def current_manifest(self) -> dict | None:
        sid = self._current_id()
        if sid is None:
            return None
        with open(os.path.join(self.snap_dir, f"{sid}.json")) as f:
            return json.load(f)

    def snapshots(self) -> list[dict]:
        out = []
        for name in sorted(os.listdir(self.snap_dir)):
            if name.endswith(".json"):
                with open(os.path.join(self.snap_dir, name)) as f:
                    out.append(json.load(f))
        return out

    # -- commit protocol ----------------------------------------------------
    def _publish(self, manifest: dict, expected_parent=_UNSET) -> str:
        """The single atomic manifest-publish sequence (tmp json →
        os.replace → CURRENT swap), shared by data commits and evolution
        commits so the optimistic-concurrency re-check cannot drift
        between the two. `expected_parent` re-validates CURRENT
        immediately before the swap. Every manifest gets ``committed_at``
        (epoch ms, Iceberg's snapshot ``timestamp-ms``)."""
        if expected_parent is not _UNSET:
            cur = self._current_id()
            if cur != expected_parent:
                raise ConcurrentCommitError(
                    f"CURRENT moved from {expected_parent} to {cur} during "
                    f"this {manifest['op']} commit")
        manifest = {**manifest, "committed_at": int(time.time() * 1000)}
        sid = manifest["snapshot_id"]
        tmp = os.path.join(self.snap_dir, f".{sid}.json.tmp")
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, os.path.join(self.snap_dir, f"{sid}.json"))
        cur_tmp = os.path.join(self.snap_dir, ".CURRENT.tmp")
        with open(cur_tmp, "w") as f:
            f.write(sid)
        os.replace(cur_tmp, os.path.join(self.snap_dir, "CURRENT"))
        return sid

    def _commit(self, df: DataFrame, op: str, summary: dict | None,
                expected_parent=_UNSET) -> str:
        """Atomic commit. `expected_parent` (a snapshot id or None for an
        empty table) enables the optimistic-concurrency check for
        read-modify-write callers (soft_delete/undelete/backfill): if
        another commit moved CURRENT after the caller read its input, the
        rewrite was computed on stale data and MUST fail, not silently
        drop the interleaved commit. Plain appends/overwrites don't pass
        it (an append is order-independent; an overwrite replaces the
        table by intent). The check runs before the data write and again
        at publish; the residual window between the final check and the
        CURRENT rename is the emulation's single-writer caveat — the real
        binding (sources/iceberg_format) delegates to Iceberg's CAS."""
        if expected_parent is not _UNSET:
            cur = self._current_id()
            if cur != expected_parent:
                raise ConcurrentCommitError(
                    f"CURRENT moved from {expected_parent} to {cur} since "
                    f"this {op} read its input")
        sid = uuid.uuid4().hex[:16]
        snap_data = os.path.join(self.data_dir, f"snap-{sid}")
        staging = snap_data + ".staging"
        df.write.mode("overwrite").parquet(staging)
        os.replace(staging, snap_data)  # atomic publish of the data dir

        parent = self.current_manifest()
        if op == "append" and parent is not None:
            dirs = parent["data_dirs"] + [snap_data]
        else:
            dirs = [snap_data]
        manifest = {
            "snapshot_id": sid,
            "parent_id": parent["snapshot_id"] if parent else None,
            "op": op,
            "data_dirs": dirs,
            "summary": summary or {},
        }
        # track the logical column list (powers the evolution guards): an
        # append widens the parent's list with any new columns EXCEPT ones
        # a live drop op removed (a stale writer still carrying a dropped
        # column must not resurrect it in the tracked schema — reads drop
        # it too); a data-replacing commit resets to the written frame
        if op == "append" and parent is not None:
            if parent.get("columns"):
                pcols = parent["columns"]
                pops = parent.get("schema_ops") or []
                dead = {
                    o["name"] for i, o in enumerate(pops) if o["op"] == "drop"
                    and not any(o2["op"] == "add" and o2["name"] == o["name"]
                                for o2 in pops[i + 1:])
                }
                manifest["columns"] = pcols + [
                    c for c in df.columns if c not in pcols and c not in dead]
            # parent predates schema tracking: its full column set is
            # unknown without a Spark read, so stay untracked (None) —
            # recording just this append's columns would make the
            # evolution guards authoritative over an incomplete schema
        else:
            manifest["columns"] = list(df.columns)
        # schema evolution ops ride the manifest chain: an append keeps old
        # (pre-evolution) dirs alive, so the ops must survive; an overwrite
        # or compact replaces every data dir with freshly-written (already
        # evolved) files, so the ops are cleared — the evolution is
        # materialized in the data from that snapshot on.
        if op == "append" and parent is not None:
            ops = parent.get("schema_ops") or []
            if ops:
                manifest["schema_ops"] = ops
        return self._publish(manifest, expected_parent)

    def append(self, df: DataFrame, summary: dict | None = None,
               expected_parent=_UNSET) -> str:
        return self._commit(df, "append", summary, expected_parent)

    def overwrite(self, df: DataFrame, summary: dict | None = None,
                  expected_parent=_UNSET) -> str:
        return self._commit(df, "overwrite", summary, expected_parent)

    # -- read ---------------------------------------------------------------
    def _read_dirs(self, spark: SparkSession, dirs: list[str],
                   schema_ops: list[dict] | None) -> DataFrame:
        """Scan data dirs with the manifest's schema-evolution ops applied
        (reference migration.py:1-533 — add-column/backfill migrations —
        re-expressed as Iceberg-style METADATA-ONLY evolution: no data
        rewrite at evolution time; old files are adapted at read).

        Each op records `before_dirs` — the data dirs that existed when it
        committed — so pre-evolution files get the add-column default
        (Iceberg initial-default semantics) or the rename mapping, while
        post-evolution files read as written. Without ops this is the
        single merged scan (one multi-dir parquet read, mergeSchema)."""
        if not schema_ops:
            return spark.read.option("mergeSchema", "true").parquet(*dirs)
        from pyspark.sql import functions as F

        frames = []
        for d in dirs:
            df = spark.read.option("mergeSchema", "true").parquet(d)
            for i, op in enumerate(schema_ops):
                pre = d in op.get("before_dirs", [])
                if op["op"] == "add" and op["name"] not in df.columns and pre:
                    df = df.withColumn(
                        op["name"], F.lit(op.get("default")).cast(op["type"]))
                elif (op["op"] == "rename" and op["old"] in df.columns
                      and op["new"] not in df.columns):
                    df = df.withColumnRenamed(op["old"], op["new"])
                elif op["op"] == "widen" and op["name"] in df.columns:
                    # skip dirs written after a drop->re-add of the name:
                    # the re-added column is a DIFFERENT column and must
                    # not inherit the stale widen (same epoch check as
                    # the drop arm)
                    readded_later = any(
                        o2["op"] == "add" and o2["name"] == op["name"]
                        and d not in o2.get("before_dirs", [])
                        for o2 in schema_ops[i + 1:]
                    )
                    if readded_later:
                        continue
                    # upward cast on EVERY remaining dir (no-op when
                    # already wide; normalizes stale narrow post-widen
                    # writers) — but ONLY along a safe promotion: the
                    # commit-time guard can't see parquet types (no
                    # session), so the lossless check lives here and a
                    # narrowing 'widen' (double->long would silently
                    # drop fractions under ANSI cast) fails LOUDLY
                    # instead of corrupting reads
                    src = dict(df.dtypes).get(op["name"])
                    to = {"long": "bigint"}.get(op["to"], op["to"])
                    if src == to:
                        continue
                    if (src, to) not in _WIDEN_SAFE:
                        raise ValueError(
                            f"widen_column: unsafe promotion {src!r} -> "
                            f"{op['to']!r} on column {op['name']!r} "
                            f"(safe: int->long/bigint, float->double)")
                    df = df.withColumn(
                        op["name"], F.col(op["name"]).cast(op["to"]))
                elif op["op"] == "drop" and op["name"] in df.columns:
                    # drop applies to every dir (a stale post-drop writer's
                    # column must not resurrect) — UNLESS a LATER add op
                    # re-introduced the name and this dir was written after
                    # that re-add: then the on-disk column IS the new
                    # column and must survive (Iceberg gets this for free
                    # via fresh field-ids on re-add)
                    readded_later = any(
                        o2["op"] == "add" and o2["name"] == op["name"]
                        and d not in o2.get("before_dirs", [])
                        for o2 in schema_ops[i + 1:]
                    )
                    if not readded_later:
                        df = df.drop(op["name"])
            frames.append(df)
        out = frames[0]
        for f in frames[1:]:
            # post-evolution appends that legitimately omit a nullable
            # added column come back as NULL, exactly like mergeSchema
            out = out.unionByName(f, allowMissingColumns=True)
        return out

    def read(self, spark: SparkSession, include_deleted: bool = False) -> DataFrame | None:
        """Current-snapshot scan. Tombstone discipline (reference
        main.py:609,626-631: every read filters `deleted_at IS NULL`): when
        the table carries a `deleted_at` column, soft-deleted rows are
        excluded unless include_deleted=True. The filter is a plain column
        predicate, so it reaches the parquet scan as a pushed filter."""
        m = self.current_manifest()
        if m is None or not m["data_dirs"]:
            return None
        # mergeSchema: commits may add columns over time (e.g. deleted_at
        # appears with the first soft delete); without it the union schema
        # comes from one arbitrary dir and a tombstone column can vanish,
        # silently resurrecting deleted rows
        df = self._read_dirs(spark, m["data_dirs"], m.get("schema_ops"))
        if not include_deleted and "deleted_at" in df.columns:
            df = df.where(df["deleted_at"].isNull())
        return df

    # -- schema evolution (reference migration.py:1-533) ---------------------
    def logical_columns(self) -> list[str] | None:
        """The CURRENT logical column list, tracked in manifests: data
        commits record their DataFrame's columns; evolution commits adjust
        the parent's list. None for tables whose manifests predate schema
        tracking (no guard possible — parquet footers would need a Spark
        session these metadata-only methods don't take)."""
        m = self.current_manifest()
        return None if m is None else m.get("columns")

    def _evolve_commit(self, entry: dict, op_name: str) -> str | None:
        """Metadata-only evolution commit: reuses the parent's data dirs
        (nothing is rewritten — at 100 TB an add-column must not touch the
        data), appends the op to the manifest's cumulative schema_ops,
        guards against schema conflicts via the tracked column list, and
        publishes atomically like any other commit."""
        parent = self.current_manifest()
        if parent is None:
            return None
        cols = parent.get("columns")
        live_ops = parent.get("schema_ops") or []
        if cols is not None:
            if entry["op"] == "add" and entry["name"] in cols:
                raise ValueError(f"add_column: {entry['name']!r} already exists")
            if entry["op"] == "rename":
                if entry["old"] not in cols:
                    raise ValueError(f"rename_column: {entry['old']!r} missing")
                if entry["new"] in cols:
                    raise ValueError(f"rename_column: {entry['new']!r} exists")
            if entry["op"] == "drop" and entry["name"] not in cols:
                raise ValueError(f"drop_column: {entry['name']!r} missing")
            # NAME-REUSE guards: this emulation adapts old files BY NAME
            # (Iceberg disambiguates reuse with field-ids; a name-keyed
            # read cannot). Reusing a name that a LIVE op renamed away —
            # or renaming onto a live-dropped name — would make the prior
            # op fire on post-reuse files and silently relabel/delete the
            # new column's data. Reject loudly; compact() materializes the
            # evolution, clears the ops, and frees the name. Plain
            # drop → add_column re-use IS supported (the drop op skips
            # dirs written after the re-add).
            renamed_from = {o["old"] for o in live_ops if o["op"] == "rename"}
            dropped = {o["name"] for o in live_ops if o["op"] == "drop"}
            introduced = (entry["name"] if entry["op"] == "add"
                          else entry["new"] if entry["op"] == "rename"
                          else None)
            if introduced is not None and introduced in renamed_from:
                raise ValueError(
                    f"{op_name}: {introduced!r} was renamed away by a live "
                    f"evolution op — run compact() to materialize the "
                    f"evolution before reusing the name")
            if entry["op"] == "rename" and entry["new"] in dropped:
                raise ValueError(
                    f"rename_column: {entry['new']!r} was dropped by a live "
                    f"evolution op — run compact() before renaming onto it "
                    f"(or use add_column, which supports drop→re-add)")
            if entry["op"] == "widen" and entry["name"] not in cols:
                raise ValueError(f"widen_column: {entry['name']!r} missing")
            if entry["op"] == "add":
                cols = cols + [entry["name"]]
            elif entry["op"] == "rename":
                cols = [entry["new"] if c == entry["old"] else c for c in cols]
            elif entry["op"] == "drop":
                cols = [c for c in cols if c != entry["name"]]
        sid = uuid.uuid4().hex[:16]
        entry = {**entry, "before_dirs": parent["data_dirs"]}
        manifest = {
            "snapshot_id": sid,
            "parent_id": parent["snapshot_id"],
            "op": op_name,
            "data_dirs": parent["data_dirs"],
            "summary": self._carry_state({op_name: entry["name"]}),
            "schema_ops": live_ops + [entry],
        }
        if cols is not None:
            manifest["columns"] = cols
        # evolution is read-modify-write on the manifest (it republishes
        # the parent's data_dirs): an append landing in between would be
        # silently dropped from the logical table without this guard
        return self._publish(manifest, expected_parent=parent["snapshot_id"])

    def add_column(self, name: str, dtype: str, default=None) -> str | None:
        """Add a column with an initial default for pre-existing rows —
        metadata-only (Iceberg ADD COLUMN + initial-default): existing
        files are untouched; reads adapt them. New writers may include or
        omit the column (omitted → NULL, like any nullable column)."""
        return self._evolve_commit(
            {"op": "add", "name": name, "type": dtype, "default": default},
            "add_column",
        )

    def rename_column(self, old: str, new: str) -> str | None:
        """Rename a column — metadata-only: old files keep the old name on
        disk and reads map it (Iceberg renames by field-id; this emulation
        records the mapping in the manifest chain)."""
        return self._evolve_commit(
            {"op": "rename", "old": old, "new": new, "name": new},
            "rename_column",
        )

    # Iceberg's safe type promotions (spec §Schema Evolution): int→long,
    # float→double. The manifest tracks column NAMES only, so the SOURCE
    # type is validated at READ against _WIDEN_SAFE — any other (src, to)
    # pair (double→long would silently drop fractions; string→long would
    # ANSI-crash row-by-row) raises a named ValueError before a single
    # cast runs.
    _WIDEN_TARGETS = ("long", "bigint", "double")

    def widen_column(self, name: str, to_type: str) -> str | None:
        """Widen a column's type — metadata-only (Iceberg type promotion:
        int→long, float→double): files are untouched; every dir's column
        is cast UP to the target at read (a no-op on dirs already written
        wide), so old narrow files and new wide files union losslessly.
        Applies in op order, so widen composes with rename on either side
        (the adaptation pipeline sees the column under its name at that
        point in the chain). Time travel to a pre-widen snapshot shows
        the narrow type; compact() materializes the wide type and clears
        the op."""
        if to_type not in self._WIDEN_TARGETS:
            raise ValueError(
                f"widen_column: {to_type!r} is not a safe promotion target "
                f"{self._WIDEN_TARGETS} (Iceberg: int->long, float->double)")
        return self._evolve_commit(
            {"op": "widen", "name": name, "to": to_type}, "widen_column")

    def drop_column(self, name: str) -> str | None:
        """Drop a column — metadata-only (Iceberg DROP COLUMN): files are
        untouched; reads exclude the column from the drop commit on. Time
        travel to a pre-drop snapshot still shows it."""
        return self._evolve_commit(
            {"op": "drop", "name": name}, "drop_column")

    def backfill(self, spark: SparkSession, name: str, value_sql: str) -> str | None:
        """Materialize a column's value for EXISTING rows (reference
        migration.py's backfill migrations): an explicit full-rewrite
        commit — the one evolution op that must touch data — computing
        `value_sql` where the column is NULL. Runs as a normal overwrite,
        so the schema_ops chain is cleared (evolution now lives in the
        files) and checkpoint state carries forward."""
        from pyspark.sql import functions as F

        read_parent = self._current_id()
        df = self.read(spark, include_deleted=True)
        if df is None:
            return None
        filled = df.withColumn(
            name, F.coalesce(F.col(name), F.expr(value_sql)))
        return self.overwrite(
            filled, summary=self._carry_state({"backfill": name}),
            expected_parent=read_parent)

    # -- soft delete (reference main.py:1751-1776 retry endpoint) -----------
    def soft_delete(self, spark: SparkSession, condition: str) -> str | None:
        """Mark rows matching the SQL condition with deleted_at=now (rows
        already tombstoned keep their original tombstone time). Readers see
        them vanish atomically at the commit; include_deleted=True restores
        visibility for audit/undelete."""
        from pyspark.sql import functions as F

        read_parent = self._current_id()
        df = self.read(spark, include_deleted=True)
        if df is None:
            return None
        if "deleted_at" not in df.columns:
            df = df.withColumn("deleted_at", F.lit(None).cast("timestamp"))
        upd = df.withColumn(
            "deleted_at",
            F.when(
                F.expr(condition) & F.col("deleted_at").isNull(),
                F.current_timestamp(),
            ).otherwise(F.col("deleted_at")),
        )
        return self.overwrite(upd, summary=self._carry_state(
            {"soft_delete": condition}), expected_parent=read_parent)

    def undelete(self, spark: SparkSession, condition: str) -> str | None:
        """Clear tombstones on matching rows (the reference retry endpoint's
        soft-delete-then-requeue counterpart)."""
        from pyspark.sql import functions as F

        read_parent = self._current_id()
        df = self.read(spark, include_deleted=True)
        if df is None or "deleted_at" not in df.columns:
            return None
        upd = df.withColumn(
            "deleted_at",
            F.when(F.expr(condition), F.lit(None).cast("timestamp")).otherwise(
                F.col("deleted_at")
            ),
        )
        return self.overwrite(upd, summary=self._carry_state(
            {"undelete": condition}), expected_parent=read_parent)

    def chain_max_summary(self, key: str):
        """MAX of a numeric summary key over the CURRENT parent chain,
        loading only on-chain manifest files (not every retained snapshot).
        The streaming sink's replay watermark and _carry_state both need
        the chain max: an interleaved commit by another writer does not
        carry the key, so the immediate parent alone can read as None."""
        sid = self._current_id()
        best = None
        while sid is not None:
            path = os.path.join(self.snap_dir, f"{sid}.json")
            if not os.path.exists(path):
                break
            with open(path) as f:
                m = json.load(f)
            v = (m.get("summary") or {}).get(key)
            if v is not None:
                best = v if best is None else max(best, v)
            sid = m.get("parent_id")
        return best

    def _carry_state(self, summary: dict) -> dict:
        """Propagate cumulative checkpoint keys through a row-preserving
        maintenance commit: the pipeline's ``waves`` record from the
        immediate parent (the pipeline's wave walk also follows the chain,
        so parent carry is a fast path), with the wave the parent appended
        closed at the parent's ``committed_at``; stream_batch_id as the
        CHAIN max — carrying only the parent's value would lose the replay
        watermark whenever an interleaved foreign commit sits between the
        stream's last append and this maintenance commit, and
        expire_snapshots could then make the loss permanent."""
        parent = self.current_manifest()
        ps = (parent.get("summary") or {}) if parent else {}
        if "waves" in ps and "waves" not in summary:
            summary = {**summary, "waves": [
                {"finished_at": parent.get("committed_at"), **w}
                for w in ps["waves"]]}
        if "stream_batch_id" not in summary:
            v = self.chain_max_summary("stream_batch_id")
            if v is not None:
                summary = {**summary, "stream_batch_id": v}
        return summary

    def read_snapshot(self, spark: SparkSession, snapshot_id: str) -> DataFrame:
        """Time travel: read the table as of a given snapshot — with THAT
        snapshot's schema ops only, so a pre-evolution snapshot reads with
        its original schema (mergeSchema for the same reason as read():
        columns added by later commits in this snapshot's chain must not
        vanish behind one arbitrary file's footer)."""
        with open(os.path.join(self.snap_dir, f"{snapshot_id}.json")) as f:
            m = json.load(f)
        return self._read_dirs(spark, m["data_dirs"], m.get("schema_ops"))

    def expire_orphans(self) -> int:
        """Drop data dirs unreachable from ANY retained manifest (keeps
        time travel working for every snapshot that still has a manifest;
        run expire_snapshots first to shrink that set)."""
        live: set[str] = set()
        for m in self.snapshots():
            live.update(m["data_dirs"])
        removed = 0
        for name in os.listdir(self.data_dir):
            p = os.path.join(self.data_dir, name)
            if p not in live:
                shutil.rmtree(p, ignore_errors=True)
                removed += 1
        return removed

    def read_incremental(self, spark: SparkSession,
                         since_snapshot: str) -> DataFrame | None:
        """Rows appended strictly AFTER `since_snapshot` (Iceberg
        incremental-scan analogue): the data dirs on the parent chain from
        CURRENT down to — excluding — the given snapshot. Drives downstream
        incremental consumers (e.g. re-running dedup only over new docs)
        without a full rescan.
        Raises if the chain was broken by an overwrite/compact commit in
        between (incremental semantics are append-only, same restriction
        as Iceberg)."""
        cur = self.current_manifest()
        if cur is None:
            return None
        if cur["snapshot_id"] == since_snapshot:
            # empty frame with the EVOLVED schema (the raw first dir's
            # footer would miss added/renamed columns and break a
            # unionByName with later incremental batches)
            return spark.createDataFrame([], self._read_dirs(
                spark, cur["data_dirs"], cur.get("schema_ops")).schema)
        by_id = {m["snapshot_id"]: m for m in self.snapshots()}
        # metadata-only schema evolution adds no rows, so it is transparent
        # to an incremental scan (Iceberg likewise allows schema changes
        # mid-chain); only data-replacing commits break append semantics
        transparent = ("append", "add_column", "rename_column", "drop_column")
        new_dirs: list[str] = []
        m = cur
        while m is not None and m["snapshot_id"] != since_snapshot:
            if m["op"] not in transparent and m["snapshot_id"] != cur["snapshot_id"]:
                raise ValueError(
                    f"non-append commit {m['snapshot_id']} ({m['op']}) between "
                    f"{since_snapshot} and CURRENT — incremental read undefined"
                )
            if m["op"] == "append":
                new_dirs.append(m["data_dirs"][-1])
            elif m["snapshot_id"] == cur["snapshot_id"] and m["op"] not in transparent:
                raise ValueError(
                    f"CURRENT is a {m['op']} commit — incremental read undefined"
                )
            parent = m.get("parent_id")
            m = by_id.get(parent) if parent else None
        if m is None:
            raise ValueError(f"snapshot {since_snapshot} not on the CURRENT chain")
        if not new_dirs:
            return spark.createDataFrame(
                [], self._read_dirs(
                    spark, cur["data_dirs"], cur.get("schema_ops")).schema)
        return self._read_dirs(spark, new_dirs, cur.get("schema_ops"))

    # -- maintenance ---------------------------------------------------------
    def compact(self, spark: SparkSession,
                target_partitions: int | None = None,
                cluster_by: list[str] | None = None) -> str | None:
        """Rewrite the current snapshot's data dirs into one (Iceberg
        rewrite_data_files analogue): a long-running append-heavy table
        accumulates one dir per commit; readers then open every dir's
        footers. Compaction is itself a normal atomic commit, so concurrent
        readers keep a consistent view and time travel to pre-compaction
        snapshots still works until they are expired.

        ``cluster_by`` rewrites CLUSTERED (Iceberg's sort/z-order
        rewrite strategy): one column range-partitions + sorts on it; two
        or more interleave into a Morton (Z-order) key so every rewritten
        file covers a tight hyper-rectangle of the key space and a reader
        with range predicates on ANY clustered column skips most files/
        row groups on footer min/max statistics alone — the data-skipping
        lever that turns a 100 TB full scan into a targeted read
        (measured from parquet footer stats in tests). The key is a pure JVM
        bit-interleave expression (no Python in the write path); one
        narrow min/max aggregate drives the normalization."""
        m = self.current_manifest()
        if m is None:
            return None
        # single-dir tables still compact when schema ops are live or a
        # clustered rewrite was requested: materializing the evolution
        # (freeing renamed/dropped names) and re-clustering are both
        # reasons to rewrite even one dir
        if (len(m["data_dirs"]) <= 1 and not m.get("schema_ops")
                and not cluster_by):
            return None
        # mergeSchema: compaction REWRITES data — without it a tombstone
        # column added mid-chain could be dropped from the compacted files,
        # permanently resurrecting soft-deleted rows once old snapshots
        # expire (read() only risked it per-read). Schema-evolution ops are
        # applied here too, so compaction MATERIALIZES the evolution (the
        # compacted files carry the evolved schema + defaults) and the
        # compact commit clears schema_ops via the normal non-append path.
        df = self._read_dirs(spark, m["data_dirs"], m.get("schema_ops"))
        if cluster_by:
            n = int(target_partitions
                    or spark.conf.get("spark.sql.shuffle.partitions"))
            if len(cluster_by) == 1:
                key = F.col(cluster_by[0])
            else:
                df = df.withColumn("__zkey", zorder_key(df, cluster_by))
                key = F.col("__zkey")
            df = (df.repartitionByRange(n, key)
                    .sortWithinPartitions(key))
            if "__zkey" in df.columns:
                df = df.drop("__zkey")
        elif target_partitions:
            df = df.coalesce(target_partitions)
        # carry forward cumulative checkpoint state (the extraction
        # pipeline's waves, the streaming sink's stream_batch_id —
        # the latter as the chain max, see _carry_state) so maintenance
        # commits stay resume-safe
        summary = self._carry_state({"compacted_dirs": len(m["data_dirs"])})
        if cluster_by:
            summary["cluster_by"] = list(cluster_by)
        return self._commit(df, "compact", summary)

    def expire_snapshots(self, keep_last: int = 1) -> int:
        """Drop the oldest manifests beyond `keep_last` (the CURRENT one is
        always retained), then remove newly-orphaned data dirs. Bounds
        metadata + storage growth — the Iceberg expire_snapshots analogue."""
        cur = self._current_id()
        names = sorted(
            n for n in os.listdir(self.snap_dir)
            if n.endswith(".json") and n[:-5] != cur
        )
        # manifest filenames are uuid-random; age-order via parent chaining
        chain: list[str] = []
        by_id = {m["snapshot_id"]: m for m in self.snapshots()}
        sid = cur
        while sid is not None and sid in by_id:
            chain.append(sid)
            sid = by_id[sid].get("parent_id")
        keep = set(chain[:max(keep_last, 1)])
        removed = 0
        for name in names:
            sid = name[:-5]
            if sid not in keep:
                os.remove(os.path.join(self.snap_dir, name))
                removed += 1
        self.expire_orphans()
        return removed
