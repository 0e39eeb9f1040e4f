"""Transactional table-on-parquet via an append-only version log.

The container ships no Delta/Iceberg jar (re-checked every round), so
`gwas/dml.py`'s DELETE/UPDATE/MERGE were read-transform-rewrite with
rename-swap "atomicity" — no snapshot isolation, no concurrent-writer
safety, no time travel. This module supplies those properties with the
same mechanism the public lakehouse formats use (Delta's protocol, the
part of it this engine needs), built only on POSIX primitives:

Layout:
    <table>/data/<uuid>/part-*.parquet   -- immutable data file groups
    <table>/_log/00000000.json           -- version 0 commit
    <table>/_log/00000001.json           -- version 1 commit ...

Each commit file is a FULL snapshot manifest: {"version", "op",
"file_groups": [relative dirs], "stats": {group: {col: [min, max,
null_count, row_count]}}} — simpler than Delta's add/remove actions
and right at this metadata scale; swapping the manifest body for
add/remove deltas (and checkpoint compaction) changes nothing below,
and is the 100 TB metadata path.

File skipping (round 10): every written group records per-column
min/max/null stats in the manifest (the Delta data-skipping design).
They are read from the footers parquet wrote into the group's own
files (acid/footer.py), on the driver, after the write job: recording
them costs no aggregate over the rows and no extra Spark job. DML
with a sargable `acid.predicates.Pred` reads ONLY the groups whose
stats admit a match — untouched groups are carried into the new
manifest verbatim, their files never opened, never rewritten
(mtime-stable, gated in scripts/stress_scale.py). At 100 TB
this is the difference between a 1-row UPDATE costing one file group
and costing a full table rewrite. Every DML op runs this one group
rewrite: a plain Column predicate is not statically analyzable, so it
touches every group (soundness over speed) and commits the bare op
string; a Pred commits `<op>(pruned k/n)`.

ACID properties and how they hold:
- Atomic commit: the manifest is fully written to a temp file, fsynced,
  then `os.link`ed to its final `_log/{v:08d}.json` name. Link is
  atomic AND exclusive — it FAILS if the version already exists, so a
  torn write can never surface as a live commit and two writers can
  never both own a version.
- Isolation (snapshot): readers resolve the latest committed manifest
  once and read only the immutable file groups it names; an in-flight
  writer adds NEW data dirs and cannot disturb any named group.
  Optimistic concurrency: the loser of a version race gets
  CommitConflict and retries against the new snapshot (classic OCC;
  semantic conflict detection — did the winner touch my rows — is the
  caller's policy, as in Delta's WriteSerializable default for
  blind appends vs rewrites).
- Durability: data files and the manifest are fsynced before the link;
  the log advances only past complete manifests.
- Consistency: every snapshot is a complete table version; DML ops are
  copy-on-write at file-group granularity: the touched groups are read
  and transformed, and the result is written as new groups (one for a
  DML statement, one per bucket for a relayout: `cluster_by`,
  `cluster_by_zorder`); every other group rides into the next manifest
  verbatim. All single-table writers share one file-group writer
  (`_write_groups`), one OCC loop (`_occ`) and one snapshot resolver
  (`_snapshot`).

Point-lookup skipping (round 10): tables created with `bloom_cols`
write a parquet bloom filter for each bloom column into every file
footer, inside the group's own write job (acid/bloom.py), so a DML
commit on a bloom table is one Spark job. After min/max passes, Eq/IsIn
conjuncts on a bloom column probe those footers on the driver and prune
groups the filters prove value-free — the case min/max cannot see: a
point DELETE on a key whose values interleave across every group.

CHECK constraints (round 10): `create(checks=...)` / `add_check` /
`drop_check` store {name: SQL boolean expr} in every manifest;
`_write_groups` validates each new group on its write job and aborts
the statement (CheckViolation, no version committed, group removed)
on any FALSE row — NULL passes, per SQL/Delta CHECK semantics.
`add_check` validates the whole current snapshot before committing
its metadata-only version.

Time travel: `read(version=k)` pins any retained snapshot; `history()`
lists commits; `vacuum(keep_last)` removes data groups unreferenced by
the retained log tail (and the old manifests), refusing to touch
anything a retained version still names.

Cites: reference applies row-level SQL DML against Postgres
(R/wrangle_data.Rmd:360-390, R/postgres_process.Rmd:119); this gives
those statements transactional lakehouse semantics.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from gwasdb_spark.acid import bloom as _bloom
from gwasdb_spark.acid import footer as _footer
from gwasdb_spark.acid.predicates import Pred, required_point_lookups


class CommitConflict(Exception):
    """Another writer committed this version first — re-read and retry."""


class CheckViolation(Exception):
    """A write produced rows failing a table CHECK constraint; the
    statement is aborted, the table unchanged (Delta's CHECK
    semantics: the violating version never commits)."""


class SchemaMismatch(Exception):
    """An append's schema conflicts with the table schema: a shared
    column changed type, or new columns arrived without
    merge_schema=True (Delta's mergeSchema opt-in)."""


# OCC retries after the first attempt, for every single-table writer
# and for MultiTableTxn.commit_appends
_RETRIES = 3

def _stats_aggs(schema) -> tuple[list[str], list]:
    """The re-read stats aggregate behind `AcidTable._group_stats`:
    (stat columns, aggregates) giving the row count and each orderable
    column's min, max and non-null count. Commits take the same triple
    from the footers their write job produced (acid/footer.py); this is
    the reference it must equal."""
    cols = [f.name for f in schema.fields if _footer.is_stat_type(f.dataType)]
    aggs = [F.count(F.lit(1)).alias("__rows")]
    for c in cols:
        aggs += [
            F.min(c).alias(f"__min_{c}"),
            F.max(c).alias(f"__max_{c}"),
            F.count(c).alias(f"__cnt_{c}"),
        ]
    return cols, aggs


def _stats_of(row, cols: list[str]) -> dict:
    """A `_stats_aggs` result row → the manifest's per-group
    {col: [min, max, null_count, row_count]}."""
    rows = int(row["__rows"] or 0)
    return {
        c: [
            _footer.json_safe(row[f"__min_{c}"]),
            _footer.json_safe(row[f"__max_{c}"]),
            rows - int(row[f"__cnt_{c}"] or 0),
            rows,
        ]
        for c in cols
    }


def _check_aggs(checks: dict) -> list:
    """One violating-row count per CHECK. SQL CHECK semantics: a row
    violates only when the expression is FALSE — NULL/unknown passes
    (coalesce to TRUE)."""
    return [
        F.sum(
            (~F.coalesce(F.expr(expr), F.lit(True))).cast("long")
        ).alias(f"__chk_{i}")
        for i, expr in enumerate(checks.values())
    ]


def _violations(row, checks: dict) -> dict:
    """A `_check_aggs` result row → {name: violating-row-count} for
    every failing CHECK."""
    return {
        name: int(row[f"__chk_{i}"] or 0)
        for i, name in enumerate(checks)
        if row[f"__chk_{i}"]
    }


def _quantile_bucket(value: Column, bounds) -> Column:
    """The bucket id of `value` between sorted quantile `bounds`: 0 up
    to the first bound, i+1 above bound i (duplicate bounds collapse,
    so a duplicate-heavy column yields fewer buckets)."""
    bucket = F.lit(0)
    for i, b in enumerate(sorted(set(bounds))):
        bucket = F.when(value > F.lit(b), i + 1).otherwise(bucket)
    return bucket


def _txn_marker_path(txn: dict) -> str:
    return os.path.join(txn["root"], txn["id"] + ".commit")


def _txn_visible(manifest: dict) -> bool:
    """A manifest committed by a MULTI-TABLE transaction (acid/
    multi_commit.py) carries {"txn": {"id", "root"}} and is visible
    IFF the transaction's commit marker exists — the single fsync-then-
    link of that marker is the atomic commit point for every
    participating table at once. A manifest without the field is an
    ordinary single-table commit, always visible."""
    txn = manifest.get("txn")
    return txn is None or os.path.exists(_txn_marker_path(txn))


def _fsync_dir(path: str) -> None:
    fd = os.open(path, os.O_RDONLY)
    try:
        os.fsync(fd)
    finally:
        os.close(fd)


def _link_durably(body: bytes, dest: str) -> None:
    """Publish `body` at `dest` atomically and exclusively: write a temp
    file beside it, fsync, `os.link` (raises FileExistsError iff `dest`
    is taken — a torn write can never surface under the final name),
    unlink the temp, fsync the directory."""
    parent = os.path.dirname(dest)
    tmp = os.path.join(parent, f".tmp-{uuid.uuid4().hex}")
    with open(tmp, "wb") as fh:
        fh.write(body)
        fh.flush()
        os.fsync(fh.fileno())
    try:
        os.link(tmp, dest)
    finally:
        os.unlink(tmp)
    _fsync_dir(parent)


class AcidTable:
    """A versioned parquet table with atomic commits (see module doc)."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        self._log = os.path.join(path, "_log")
        self._data = os.path.join(path, "data")

    # ----------------------------------------------------------- log --
    def _manifest_path(self, version: int) -> str:
        return os.path.join(self._log, f"{version:08d}.json")

    def latest_version(self) -> int:
        """Highest committed AND VISIBLE version, -1 when the table
        does not exist. A version published by an in-flight multi-table
        transaction (manifest carries a "txn" pointer whose commit
        marker is absent) is invisible — readers snapshot below it, and
        because the slot is physically taken (os.link exclusivity),
        every other writer's next-version commit conflicts until the
        transaction commits or is recovered: pending transactions BLOCK
        the log rather than leaving reorderable holes. The extra cost
        is one tiny json read per txn-tagged tip manifest; at real
        metadata scale a log checkpoint carries the visibility bit."""
        return self._latest()[0]

    def _latest(self) -> tuple[int, dict | None]:
        """(version, manifest) of the highest visible version, read and
        parsed once; (-1, None) when the table does not exist."""
        for v, m in self._manifests():
            if _txn_visible(m):
                return v, m
        return -1, None

    def _slots(self) -> list[int]:
        """Every version slot taken in `_log`, visible or pending."""
        if not os.path.isdir(self._log):
            return []
        versions = []
        for name in os.listdir(self._log):
            if name.endswith(".json"):
                try:
                    versions.append(int(name[:-5]))
                except ValueError:
                    continue
        return versions

    def _manifests(self):
        """(version, manifest) of every taken slot, newest first,
        visible or pending; a slot racing a recovery unlink is
        skipped."""
        for v in sorted(self._slots(), reverse=True):
            try:
                yield v, self._manifest(v)
            except (OSError, ValueError):
                continue

    def _tip_slot(self) -> int:
        """Highest PHYSICALLY TAKEN version slot (visible or pending) —
        where multi_commit allocates, so a transaction never stacks a
        version under a pending one."""
        return max(self._slots(), default=-1)

    def _manifest(self, version: int) -> dict:
        with open(self._manifest_path(version)) as fh:
            return json.load(fh)

    def history(self) -> list[dict]:
        """Commit log, oldest retained first (vacuum may trim the head)."""
        out = []
        for v in range(self.latest_version() + 1):
            if os.path.exists(self._manifest_path(v)):
                m = self._manifest(v)
                if not _txn_visible(m):
                    continue  # aborted-txn hole below the tip
                out.append({"version": m["version"], "op": m["op"]})
        return out

    def _visible_manifest(self, version: int) -> dict:
        """Manifest of an EXPLICITLY requested version, refusing a
        pending/aborted multi-table-txn slot (its data was never
        atomically published)."""
        m = self._manifest(version)
        if not _txn_visible(m):
            raise FileNotFoundError(
                f"version {version} of {self.path} belongs to an "
                "uncommitted multi-table transaction"
            )
        return m

    def _snapshot(self, version: int | None = None) -> tuple[int, dict]:
        """The one snapshot resolver every reader and writer goes
        through: (version, manifest) of `version`, or of the latest
        visible version when None. A path with no committed version
        raises FileNotFoundError naming it."""
        v, m = self._latest() if version is None else (version, None)
        if v < 0:
            raise FileNotFoundError(f"no committed version at {self.path}")
        return v, self._visible_manifest(v) if m is None else m

    # ---------------------------------------------------------- write --
    def _write_groups(
        self, df: DataFrame, m: dict, bucketed: bool = False
    ) -> list[tuple[str, dict]]:
        """The one file-group writer: write `df` as new immutable file
        groups under the table metadata of manifest `m` (its checks,
        bloom_cols and column_map) and return [(group, stats)].

        Unbucketed, `df` becomes ONE group, written straight to
        `data/<uuid>`. Bucketed, every row carries an int `__bucket`:
        ONE `partitionBy("__bucket")` staging write, then each bucket
        directory is renamed into place as its own group. Either way
        the write is the statement's only job: each group's stats (the
        min/max/null-count triple, keyed by LOGICAL names, which pruning
        predicates speak) come from the footers parquet wrote into the
        group's own files (acid/footer.py), so no aggregate runs over
        the rows and nothing is read back.

        When the table carries a `column_map` (RENAME COLUMN history —
        {logical: physical}), the batch arrives with logical names and
        is written under the PHYSICAL ones, so every file group in the
        table shares one physical naming forever (the Delta
        column-mapping invariant; mixed per-group names would make the
        single read schema null-fill the newer groups silently).

        A table with CHECK constraints observes one violation count per
        CHECK on the write job (no observation otherwise): any violation
        removes what was written and aborts the statement BEFORE a
        manifest could name it. Bloom columns get their parquet bloom
        filters in every file footer from the same job."""
        checks = m.get("checks") or {}
        cmap = m.get("column_map") or {}
        out = df
        if checks:
            from pyspark.sql import Observation

            obs = Observation()
            out = df.observe(obs, *_check_aggs(checks))
        if cmap:
            out = out.select(
                *[F.col(c).alias(cmap.get(c, c)) for c in df.columns]
            )
        writer = out.write.options(
            **_bloom.write_options(df.schema, m.get("bloom_cols"))
        ).mode("overwrite")
        group = uuid.uuid4().hex
        path = os.path.join(
            self._data, f".staging-{group}" if bucketed else group
        )
        try:
            (writer.partitionBy("__bucket") if bucketed else writer).parquet(
                path
            )
            bad = _violations(obs.get, checks) if checks else {}
            if bad:
                raise CheckViolation(
                    "CHECK constraint(s) violated, statement aborted: "
                    + ", ".join(
                        f"{n} ({c} rows): {checks[n]}"
                        for n, c in sorted(bad.items())
                    )
                )
            if not bucketed:
                return [(group, _footer.group_stats(path, df.schema, cmap))]
            written = []
            for name in sorted(os.listdir(path)):
                if name.startswith("__bucket="):
                    g = uuid.uuid4().hex
                    dest = os.path.join(self._data, g)
                    os.rename(os.path.join(path, name), dest)
                    # `__bucket` is not in the files and gets no entry
                    written.append(
                        (g, _footer.group_stats(dest, df.schema, cmap))
                    )
            return written
        except CheckViolation:
            shutil.rmtree(path, ignore_errors=True)
            raise
        finally:
            if bucketed:
                shutil.rmtree(path, ignore_errors=True)

    def _group_stats(self, path: str) -> dict:
        """Stats of the files under `path` by re-reading them with one
        Spark aggregate, keyed by the names in the files: the reference
        the footer stats of a commit are checked against."""
        back = self.spark.read.parquet(path)
        cols, aggs = _stats_aggs(back.schema)
        return _stats_of(back.agg(*aggs).collect()[0], cols)  # 1-row collect

    @staticmethod
    def _meta_of(manifest: dict) -> dict:
        """Table-level metadata carried forward commit-to-commit
        (Delta keeps these in protocol/metaData actions; a
        full-snapshot manifest carries them verbatim)."""
        return {
            "checks": manifest.get("checks"),
            "bloom_cols": manifest.get("bloom_cols"),
            "schema": manifest.get("schema"),
            "column_map": manifest.get("column_map"),
            "dropped_physical": manifest.get("dropped_physical"),
        }

    def _commit(
        self,
        version: int,
        op: str,
        groups: list[str],
        stats: dict | None = None,
        meta: dict | None = None,
        txn: dict | None = None,
    ) -> None:
        os.makedirs(self._log, exist_ok=True)
        meta = meta or {}
        body = {
            "version": version,
            "op": op,
            "file_groups": sorted(groups),
            "stats": stats or {},
            "checks": meta.get("checks") or {},
            "bloom_cols": sorted(meta.get("bloom_cols") or []),
        }
        if txn:
            # Published but INVISIBLE until the txn's commit marker
            # links (acid/multi_commit.py) — the slot is taken so other
            # writers conflict rather than reorder around it.
            body["txn"] = {"id": txn["id"], "root": txn["root"]}
        if meta.get("schema"):
            body["schema"] = meta["schema"]
        if meta.get("column_map"):
            body["column_map"] = meta["column_map"]
        if meta.get("dropped_physical"):
            body["dropped_physical"] = meta["dropped_physical"]
        try:
            _link_durably(
                json.dumps(body).encode(), self._manifest_path(version)
            )
        except FileExistsError as exc:
            raise CommitConflict(
                f"version {version} was committed by another writer"
            ) from exc

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        path: str,
        df: DataFrame,
        checks: dict | None = None,
        bloom_cols: list | None = None,
    ) -> "AcidTable":
        """`checks` = {name: SQL boolean expr} enforced on every write
        from version 0 on (see add_check for post-hoc addition);
        `bloom_cols` = columns to carry parquet footer blooms for
        point-lookup skipping (int/string columns only — others are
        ignored with min/max stats still applying)."""
        t = cls(spark, path)
        if t.latest_version() >= 0:
            raise FileExistsError(f"table already exists at {path}")
        meta = {
            "checks": checks,
            "bloom_cols": bloom_cols,
            "schema": df.schema.jsonValue(),
        }
        [(group, st)] = t._write_groups(df, meta)
        t._commit(0, "create", [group], {group: st}, meta)
        return t

    # ----------------------------------------------------------- read --
    def _read_groups(self, manifest: dict, groups: list[str]) -> DataFrame:
        """Read file groups UNDER THE MANIFEST SCHEMA: groups written
        before a schema evolution lack the newer columns, and Spark's
        parquet reader null-fills columns the requested schema has but
        a file does not — the scalable evolution read (no footer
        merging; the log is the source of truth, as in Delta).

        With a `column_map` (RENAME history), the requested parquet
        schema uses the PHYSICAL field names (what is in the files) and
        one zero-cost Project aliases them back to the manifest's
        logical names; a DROPPED column simply isn't requested — the
        reader never materializes it. Time travel works unchanged:
        read(v) uses manifest(v)'s own schema AND map, so pre-rename
        snapshots surface pre-rename names."""
        paths = [os.path.join(self._data, g) for g in groups]
        if not manifest.get("schema"):
            return self.spark.read.parquet(*paths)
        from pyspark.sql.types import StructField, StructType

        schema = StructType.fromJson(manifest["schema"])
        cmap = manifest.get("column_map") or {}
        if not cmap:
            return self.spark.read.schema(schema).parquet(*paths)
        fields = [(cmap.get(f.name, f.name), f) for f in schema.fields]
        physical = StructType(
            [StructField(p, f.dataType, f.nullable) for p, f in fields]
        )
        return self.spark.read.schema(physical).parquet(*paths).select(
            *[F.col(p).alias(f.name) for p, f in fields]
        )

    def read(self, version: int | None = None) -> DataFrame:
        """Snapshot read. `version=None` pins the LATEST version once —
        concurrent commits after this call do not move the snapshot."""
        _, m = self._snapshot(version)
        return self._read_groups(m, m["file_groups"])

    def read_where(
        self, predicate: Column | Pred, version: int | None = None
    ) -> DataFrame:
        """Snapshot read with MANIFEST-level skipping — the serving
        path's twin of pruned DML. With a sargable Pred, only groups
        whose min/max stats (and footer blooms, for Eq/IsIn on bloom
        columns) admit a match are even listed to Spark; the row-level
        filter is then applied on top (stats skipping is group-
        granular, not exact). At 100 TB a point lookup on a clustered
        or bloomed key touches O(1) file groups instead of planning a
        full-table scan; parquet footer pruning inside the surviving
        groups still applies. A plain Column predicate reads the full
        snapshot and filters (soundness fallback). An all-pruned
        lookup returns an empty frame of the table's schema without
        touching any data file."""
        _, m = self._snapshot(version)
        if not isinstance(predicate, Pred):
            return self._read_groups(m, m["file_groups"]).filter(predicate)
        touched = self._touched_by(predicate)(m)
        if not touched:
            return self._read_groups(m, m["file_groups"]).limit(0)
        return self._read_groups(m, touched).filter(predicate.to_column())

    def scan_groups(
        self, predicate: Pred, version: int | None = None
    ) -> tuple[int, int]:
        """(groups a read_where(predicate) would open, total groups) —
        the observable skipping contract, driver/oracle-pinnable."""
        _, m = self._snapshot(version)
        return len(self._touched_by(predicate)(m)), len(m["file_groups"])

    # ------------------------------------------------------------ dml --
    def _occ(self, edit) -> int:
        """The one optimistic-commit loop every single-table writer
        runs: resolve the latest snapshot, let `edit(manifest)` build
        the next one as `(op, groups, stats, meta, written)` — `written`
        names the file groups this attempt wrote — and commit it at
        base+1. On a lost version race the written groups are removed
        and `edit` re-runs against the winner's snapshot, so it must be
        a pure function of the snapshot. Returns the committed
        version."""
        for _ in range(_RETRIES + 1):
            base, m = self._snapshot()
            op, groups, stats, meta, written = edit(m)
            try:
                self._commit(base + 1, op, groups, stats, meta)
                return base + 1
            except CommitConflict:
                for g in written:
                    shutil.rmtree(
                        os.path.join(self._data, g), ignore_errors=True
                    )
        raise CommitConflict(f"gave up after {_RETRIES} retries: {op}")

    def _rewrite_pruned(
        self,
        op,
        touched_of,
        transform,
        transform_empty_when_unmatched: bool = False,
        bucket_of=None,
    ) -> int:
        """Touched-only copy-on-write (the x153 ANN-upsert discipline
        brought to DML), the one rewrite path of every DML op and of
        every relayout: `touched_of(manifest)` names the groups whose
        stats admit a match; ONLY those are read and transformed into
        one new group, every other group rides into the new manifest
        verbatim — files never opened, never rewritten. Sound because
        DELETE/UPDATE WHERE p is the identity on a group `may_match`
        proves p cannot touch (predicates.py's contract), and MERGE
        cannot match a target row outside the source's key box.
        `touched_of=None` touches every group (a predicate that is not
        statically analyzable) and commits the bare `op`; otherwise the
        op string is `<op>(pruned k/n)`.

        `bucket_of(rows)` (a relayout) tags the transformed rows with an
        int `__bucket`; each bucket is then written as its own group and
        `op` is a function of the number of groups written. Like every
        other edit, it runs inside `_occ`: a lost version race re-runs
        it against the winner's snapshot.

        A DML whose predicate prunes EVERY group still commits (a
        metadata-only version, zero data IO) — SQL UPDATE matching 0
        rows succeeds, and time travel sees one version per statement.
        """

        def edit(m: dict):
            stats = m.get("stats", {})
            touched = (
                list(m["file_groups"]) if touched_of is None else touched_of(m)
            )
            groups = [g for g in m["file_groups"] if g not in touched]
            new_stats = {g: stats[g] for g in groups if g in stats}
            written = []
            if touched or transform_empty_when_unmatched:
                if touched:
                    # manifest-schema read: pre-evolution groups
                    # null-fill newer columns
                    tdf = self._read_groups(m, touched)
                else:
                    # MERGE with no overlapping group still INSERTS the
                    # unmatched source rows: run the transform over an
                    # empty target of the table's schema.
                    tdf = self._read_groups(m, m["file_groups"]).limit(0)
                rows = transform(tdf)
                if bucket_of is not None:
                    rows = bucket_of(rows)
                for group, st in self._write_groups(
                    rows, m, bucketed=bucket_of is not None
                ):
                    if st and next(iter(st.values()))[3] == 0:
                        # transform emptied every touched row: drop the
                        # empty group rather than carry a 0-row file
                        shutil.rmtree(
                            os.path.join(self._data, group),
                            ignore_errors=True,
                        )
                    else:
                        groups.append(group)
                        new_stats[group] = st
                        written.append(group)
            if callable(op):
                op_str = op(len(written))
            elif touched_of is not None:
                n = len(m["file_groups"])
                op_str = f"{op}(pruned {len(touched)}/{n})"
            else:
                op_str = op
            return op_str, groups, new_stats, self._meta_of(m), written

        return self._occ(edit)

    @staticmethod
    def _evolve(df: DataFrame, table_schema, merge_schema: bool):
        """Reshape an append batch to the table schema, evolving it
        when allowed. Returns (reshaped df, new schema). Rules (the
        public Delta mergeSchema contract): shared columns must keep
        their exact type (no implicit casts — a silent widening
        corrupts stats comparability); missing table columns null-fill;
        NEW batch columns require merge_schema=True and are appended
        to the schema (older groups null-fill them at read)."""
        from pyspark.sql.types import StructType

        by_name = {f.name: f for f in df.schema.fields}
        sel, out_fields = [], []
        for f in table_schema.fields:
            g = by_name.pop(f.name, None)
            if g is None:
                sel.append(F.lit(None).cast(f.dataType).alias(f.name))
            elif g.dataType != f.dataType:
                raise SchemaMismatch(
                    f"column {f.name!r}: table has "
                    f"{f.dataType.simpleString()}, append batch has "
                    f"{g.dataType.simpleString()}"
                )
            else:
                sel.append(F.col(f.name))
            out_fields.append(f)
        if by_name:
            if not merge_schema:
                raise SchemaMismatch(
                    "append batch adds columns "
                    f"{sorted(by_name)} — pass merge_schema=True"
                )
            for f in df.schema.fields:  # preserve batch order for new
                if f.name in by_name:
                    sel.append(F.col(f.name))
                    out_fields.append(f)
        return df.select(*sel), StructType(out_fields)

    def append(
        self, df: DataFrame, merge_schema: bool = False, op: str | None = None
    ) -> int:
        """Blind append: a NEW file group + manifest extension — existing
        groups are never read or rewritten (the one DML op that stays
        O(batch) at any table size). `merge_schema=True` lets the batch
        add columns: the manifest schema widens, existing groups
        null-fill the new columns at read time, zero data IO
        (Delta's mergeSchema evolution). `op` overrides the committed op
        string — idempotent sinks stamp their delivery id into the log
        (e.g. 'append(batch 3)') and check history before re-appending,
        Delta's txn-version pattern."""

        def edit(m: dict):
            group, groups, stats, meta = self._stage_append(
                df, m, merge_schema
            )
            return op or "append", groups, stats, meta, [group]

        return self._occ(edit)

    def _stage_append(
        self, df: DataFrame, m: dict, merge_schema: bool = False
    ) -> tuple[str, list, dict, dict]:
        """The append stage `append` and `MultiTableTxn.commit_appends`
        share: reshape the batch to snapshot `m`'s schema (evolving it
        when `merge_schema`), write it as a new group (CHECKs validate
        here). Returns (new group, and the next manifest's groups,
        stats and table metadata)."""
        meta = self._meta_of(m)
        out = df
        if m.get("schema"):
            from pyspark.sql.types import StructType

            old_names = {f["name"] for f in m["schema"].get("fields", [])}
            out, new_schema = self._evolve(
                df, StructType.fromJson(m["schema"]), merge_schema
            )
            # An evolved-in column may not collide with a PHYSICAL
            # file name still in use by a renamed or dropped field —
            # the old groups' bytes under that name would silently
            # surface as the "new" column's values (Delta avoids
            # this with field ids; this engine refuses loudly).
            taken = set(
                (m.get("column_map") or {}).values()
            ) | set(m.get("dropped_physical") or [])
            clash = [
                f.name
                for f in new_schema.fields
                if f.name not in old_names and f.name in taken
            ]
            if clash:
                raise SchemaMismatch(
                    f"new column(s) {clash} collide with physical "
                    "file columns of renamed/dropped fields"
                )
            meta["schema"] = new_schema.jsonValue()
        # (a legacy manifest without a schema keeps legacy reads —
        # first-file schema — rather than guessing one here)
        [(group, st)] = self._write_groups(out, m)
        groups = list(m["file_groups"]) + [group]
        return group, groups, {**m.get("stats", {}), group: st}, meta

    def _touched_by(self, predicate: Pred):
        def touched_of(manifest: dict) -> list[str]:
            stats = manifest.get("stats", {})
            bloom_cols = set(manifest.get("bloom_cols", []))
            lookups = [
                (c, vs)
                for c, vs in required_point_lookups(predicate)
                if c in bloom_cols
            ]
            out = []
            for g in manifest["file_groups"]:
                # a group with no recorded stats is always touched
                if not predicate.may_match(stats.get(g, {})):
                    continue
                # second stage: the required point lookups (Eq/IsIn
                # conjuncts on bloom columns) against the footer blooms
                if lookups and not _bloom.group_admits(
                    os.path.join(self._data, g), lookups
                ):
                    continue
                out.append(g)
            return out

        return touched_of

    def _dml_target(self, predicate: Column | Pred):
        """(touched_of, row predicate) of a DELETE/UPDATE: a Pred prunes
        by stats and blooms; a plain Column touches every group."""
        if isinstance(predicate, Pred):
            return self._touched_by(predicate), predicate.to_column()
        return None, predicate

    def _key_box(self, source: DataFrame, keys: list[str]):
        """touched_of for a keyed source (MERGE, CDC apply): one
        batch-scale aggregate gives the min/max of every key over
        `source`; a group whose stats are disjoint from that box on ANY
        key cannot hold a matching row. An empty/all-null box touches
        nothing."""
        from gwasdb_spark.acid.predicates import And, Between

        aggs = []
        for k in keys:
            aggs += [F.min(k).alias(f"__lo_{k}"), F.max(k).alias(f"__hi_{k}")]
        box = source.agg(*aggs).collect()[0]  # 1-row bounded collect
        bounds = [
            Between(k, box[f"__lo_{k}"], box[f"__hi_{k}"])
            for k in keys
            if box[f"__lo_{k}"] is not None
        ]
        if not bounds:
            return lambda m: []
        return self._touched_by(And(*bounds))

    def delete_where(self, predicate: Column | Pred) -> int:
        from gwasdb_spark.gwas.dml import delete_where

        touched_of, col = self._dml_target(predicate)
        return self._rewrite_pruned(
            "delete", touched_of, lambda df: delete_where(df, col)
        )

    def update_set(
        self, predicate: Column | Pred, assignments: dict
    ) -> int:
        from gwasdb_spark.gwas.dml import update_set

        touched_of, col = self._dml_target(predicate)
        return self._rewrite_pruned(
            "update", touched_of, lambda df: update_set(df, col, assignments)
        )

    def merge(self, source: DataFrame, keys: list[str]) -> int:
        """MERGE (source wins on key collision). Pruned by the source's
        key bounding box: one batch-scale aggregate computes min/max of
        every key column over `source`; a target group whose stats are
        disjoint from that box on ANY key dimension cannot hold a
        matching row, so it is carried verbatim. Matched rewrites and
        inserted rows both land in the one new group."""
        from gwasdb_spark.gwas.dml import merge_upsert

        return self._rewrite_pruned(
            "merge",
            self._key_box(source, keys),
            lambda df: merge_upsert(df, source, keys),
            transform_empty_when_unmatched=True,
        )

    def apply_changes(
        self,
        changes: DataFrame,
        keys: list[str],
        op_col: str = "_op",
        sequence_by: str | None = None,
        op: str | None = None,
    ) -> int:
        """CDC apply — the consumer side of a change feed (Delta's
        APPLY CHANGES pattern): `changes` carries the target columns
        plus `op_col` in {'I','U','D'}; inserts/updates upsert by key
        (source wins), deletes remove their keys. ONE pruned rewrite:
        touched groups = those whose stats intersect the WHOLE change
        batch's key bounding box (upserts and deletes together), so a
        narrow feed touches O(1) groups and untouched files ride the
        manifest verbatim — the same skipping contract as merge/DML.
        Delete keys travel inside the distributed transform (an
        anti-join), never through the driver — the scale path a
        collect-the-keys IsIn predicate would not have.

        Sequencing (Delta's SEQUENCE BY): a batch may carry several ops
        for one key. With `sequence_by` set, only the LATEST op per key
        applies — row_number over the keys ordered by (sequence desc,
        op desc) picks one row deterministically (the op tiebreak makes
        exact-sequence ties reproducible: 'U' > 'I' > 'D'); the sequence
        column is CDC metadata and is dropped before applying. Without
        `sequence_by`, a key appearing more than once in the batch is
        AMBIGUOUS (delete-then-insert vs insert-then-delete differ) and
        raises ValueError rather than resolving nondeterministically."""
        from gwasdb_spark.gwas.dml import merge_upsert

        changes = changes.localCheckpoint(eager=False)
        if sequence_by is not None:
            w = Window.partitionBy(*keys).orderBy(
                F.desc(sequence_by), F.desc(op_col)
            )
            changes = (
                changes.withColumn("__seq_rn", F.row_number().over(w))
                .filter(F.col("__seq_rn") == 1)
                .drop("__seq_rn", sequence_by)
                .localCheckpoint(eager=False)
            )
        else:
            dup = (
                changes.groupBy(*keys)
                .count()
                .filter(F.col("count") > 1)
                .limit(1)
                .collect()  # bounded: at most 1 row
            )
            if dup:
                kv = {k: dup[0][k] for k in keys}
                raise ValueError(
                    f"apply_changes: key {kv} appears more than once in "
                    "the change batch; pass sequence_by= to order the ops"
                )
        ups = changes.filter(F.col(op_col) != "D").drop(op_col)
        dels = changes.filter(F.col(op_col) == "D").select(*keys).distinct()
        touched_of = self._key_box(changes, keys)

        def transform(df: DataFrame) -> DataFrame:
            return merge_upsert(df.join(dels, keys, "left_anti"), ups, keys)

        return self._rewrite_pruned(
            op or "apply_changes",
            touched_of,
            transform,
            transform_empty_when_unmatched=True,
        )

    # -------------------------------------------------- constraints --
    def checks(self) -> dict:
        """Active CHECK constraints {name: SQL boolean expr}."""
        v = self.latest_version()
        return dict(self._manifest(v).get("checks", {})) if v >= 0 else {}

    def _alter(self, op: str, m: dict, stats: dict | None = None, **meta):
        """A metadata-only next manifest for `_occ`: m's file groups,
        `stats` (m's own by default) and m's table metadata with the
        `meta` fields replaced. Zero data IO."""
        if stats is None:
            stats = m.get("stats", {})
        return op, m["file_groups"], stats, {**self._meta_of(m), **meta}, []

    def add_check(self, name: str, expr: str) -> int:
        """ALTER TABLE ADD CONSTRAINT ... CHECK (expr): validates the
        CURRENT snapshot first (one aggregate over the table — the same
        full-scan Delta pays), then commits a metadata-only version;
        every later write is validated against it in `_write_groups`.
        Raises CheckViolation (no version committed) if existing rows
        already fail. A lost version race re-validates against the
        winner's snapshot."""
        new = {name: expr}

        def edit(m: dict):
            checks = dict(m.get("checks", {}))
            if name in checks:
                raise ValueError(f"constraint {name!r} already exists")
            snap = self._read_groups(m, m["file_groups"])
            row = snap.agg(*_check_aggs(new)).collect()[0]  # 1-row collect
            bad = _violations(row, new)
            if bad:
                raise CheckViolation(
                    f"cannot add {name!r}: {bad[name]} existing rows "
                    f"violate {expr}"
                )
            checks.update(new)
            return self._alter(f"add_check({name})", m, checks=checks)

        return self._occ(edit)

    def drop_check(self, name: str) -> int:
        """Metadata-only constraint removal (no data IO)."""

        def edit(m: dict):
            checks = dict(m.get("checks", {}))
            if name not in checks:
                raise KeyError(f"no constraint named {name!r}")
            del checks[name]
            return self._alter(f"drop_check({name})", m, checks=checks)

        return self._occ(edit)

    # ---------------------------------------------- column mapping --
    def _schema_struct(self, m: dict):
        from pyspark.sql.types import StructType

        if not m.get("schema"):
            raise ValueError(
                "rename/drop need a schema-carrying table (legacy "
                "manifests predate schema tracking)"
            )
        return StructType.fromJson(m["schema"])

    @staticmethod
    def _refuse_referenced(m: dict, col: str, verb: str) -> None:
        """Conservative guard: a column referenced by a CHECK constraint
        or carrying a footer bloom cannot be renamed/dropped (the
        constraint text and the bloom's column path would go stale —
        Delta refuses the same way until constraints are dropped)."""
        import re

        for name, expr in (m.get("checks") or {}).items():
            # identifier-boundary match, not raw substring — a column
            # `v` must not be refused because some OTHER identifier in
            # the expression contains a `v` (ADVICE r11)
            if re.search(rf"\b{re.escape(col)}\b", expr):
                raise ValueError(
                    f"cannot {verb} {col!r}: referenced by CHECK "
                    f"{name!r} ({expr}) — drop the constraint first"
                )
        if col in (m.get("bloom_cols") or []):
            raise ValueError(
                f"cannot {verb} {col!r}: it carries footer blooms "
                "keyed by the physical name — rebuild without bloom "
                "first"
            )

    def rename_column(self, old: str, new: str) -> int:
        """ALTER TABLE RENAME COLUMN — metadata-only, zero data IO
        (Delta column mapping, public design): the manifest schema
        renames the field and records {logical: physical} in
        `column_map`; data files keep the physical name forever, reads
        alias physical→logical in one free Project, later appends write
        batches under the physical names so every group stays
        uniformly named, and per-group stats re-key so pruning keeps
        working. Time travel is untouched: each manifest carries its
        own schema+map, so read(v) of a pre-rename snapshot surfaces
        the pre-rename name."""

        def edit(m: dict):
            schema = self._schema_struct(m)
            names = [f.name for f in schema.fields]
            if old not in names:
                raise KeyError(f"no column named {old!r}")
            if new in names:
                raise ValueError(f"column {new!r} already exists")
            cmap = dict(m.get("column_map") or {})
            if new in cmap.values() and cmap.get(old) != new:
                # the renamed column's OWN physical is not a collision —
                # rename(a->b) then rename(b->a) lands back on the
                # physical name and the map entry below simply drops
                # (ADVICE r11: the guard used to fire before the
                # column's own entry was popped)
                raise ValueError(
                    f"{new!r} collides with a physical file column of a "
                    "previously renamed field"
                )
            self._refuse_referenced(m, old, "rename")
            physical = cmap.pop(old, old)
            if new != physical:
                cmap[new] = physical
            fields = []
            for f in schema.fields:
                fields.append(
                    {**f.jsonValue(), "name": new}
                    if f.name == old
                    else f.jsonValue()
                )
            stats = {
                g: {(new if c == old else c): v for c, v in st.items()}
                for g, st in (m.get("stats") or {}).items()
            }
            return self._alter(
                f"rename_column({old}->{new})",
                m,
                stats,
                schema={"type": "struct", "fields": fields},
                column_map=cmap,
            )

        return self._occ(edit)

    def drop_column(self, col: str) -> int:
        """ALTER TABLE DROP COLUMN — metadata-only, zero data IO: the
        field leaves the manifest schema (and the column map / stats),
        so reads never even request it from parquet; the bytes stay in
        the immutable files, which is what keeps every pre-drop
        snapshot time-travelable. A later `append(merge_schema=True)`
        adding a column with the same name is refused when it would
        collide with a still-on-disk physical name (Delta solves this
        with field ids; this engine refuses the ambiguous case
        loudly)."""

        def edit(m: dict):
            schema = self._schema_struct(m)
            names = [f.name for f in schema.fields]
            if col not in names:
                raise KeyError(f"no column named {col!r}")
            if len(names) == 1:
                raise ValueError("cannot drop the only column")
            self._refuse_referenced(m, col, "drop")
            cmap = dict(m.get("column_map") or {})
            physical = cmap.pop(col, col)
            dropped = sorted(
                set(m.get("dropped_physical") or []) | {physical}
            )
            fields = [
                f.jsonValue() for f in schema.fields if f.name != col
            ]
            stats = {
                g: {c: v for c, v in st.items() if c != col}
                for g, st in (m.get("stats") or {}).items()
            }
            return self._alter(
                f"drop_column({col})",
                m,
                stats,
                schema={"type": "struct", "fields": fields},
                column_map=cmap,
                dropped_physical=dropped,
            )

        return self._occ(edit)

    def restore(self, version: int) -> int:
        """RESTORE TABLE TO VERSION (Delta's RESTORE, public design):
        commit a NEW version whose manifest is the target version's —
        data, stats, schema, checks, bloom config all roll back while
        HISTORY is preserved (the bad versions stay time-travelable;
        nothing is deleted, so a restore is itself restorable). O(1)
        data IO: file groups are immutable and shared across manifests,
        the commit is metadata-only. Refuses if any target group has
        been vacuumed away (the retention window bounds how far back a
        restore can reach — same contract as Delta)."""
        _, target = self._snapshot(version)
        missing = [
            g
            for g in target["file_groups"]
            if not os.path.isdir(os.path.join(self._data, g))
        ]
        if missing:
            raise FileNotFoundError(
                f"restore({version}): {len(missing)} file group(s) "
                f"vacuumed away ({missing[:3]}...)"
            )
        return self._occ(lambda m: self._alter(f"restore({version})", target))

    # --------------------------------------------------- maintenance --
    def compact(self, small_rows: int = 100_000) -> int:
        """Small-file compaction (Delta OPTIMIZE's file-count half):
        merge every group holding fewer than `small_rows` rows into ONE
        new group; big groups ride the manifest verbatim (mtime-stable,
        like every pruned rewrite). Logically a no-op — the committed
        snapshot reads identically — but a table fed by streaming
        micro-batch appends (st14/st18 shape) accretes one tiny group
        per batch, and at 100 TB the scheduler cost of a million tiny
        files dwarfs the data. Returns the committed version (or the
        current one when <2 groups qualify — nothing to merge)."""
        base, m = self._snapshot()
        stats = m.get("stats", {})

        def rows_of(g: str) -> int | None:
            st = stats.get(g)
            if not st:
                return None  # unknown size: leave it alone
            return next(iter(st.values()))[3]

        small = [
            g
            for g in m["file_groups"]
            if rows_of(g) is not None and rows_of(g) < small_rows
        ]
        if len(small) < 2:
            return base
        # op surfaces as "compact(pruned k/n)": k merged, n-k untouched
        return self._rewrite_pruned(
            "compact",
            lambda manifest: [g for g in small if g in manifest["file_groups"]],
            lambda df: df,
        )

    def cluster_by(self, col: str, n_groups: int = 8) -> int:
        """Range-cluster the WHOLE table into `n_groups` file groups
        with non-overlapping `col` stats — the data-layout half of
        Delta OPTIMIZE ZORDER / liquid clustering, reduced to the one
        dimension that matters for this engine's skipping: after
        clustering, a range predicate on `col` prunes to O(1) groups
        no matter how interleaved the ingest order was. Logically a
        no-op (same rows); physically a full rewrite (that is the
        point — pay once, skip forever).

        Mechanics: exact quantile boundaries (approxQuantile with
        relativeError=0 — deterministic) bucket every row, and the DML
        rewrite path writes each bucket as its own file group (one data
        pass, no per-bucket rescans; see `_write_groups`). Empty buckets
        (duplicate-heavy boundaries) write no group; the op string
        records the real group count. The quantiles are computed inside
        the commit loop, so a lost version race re-clusters the
        winner's snapshot."""
        qs = [i / n_groups for i in range(1, n_groups)]

        def bucket_of(rows: DataFrame) -> DataFrame:
            bounds = rows.approxQuantile(col, qs, 0.0)
            return rows.withColumn(
                "__bucket", _quantile_bucket(F.col(col), bounds)
            )

        return self._rewrite_pruned(
            lambda n: f"cluster({col}, {n})",
            None,
            lambda df: df,
            bucket_of=bucket_of,
        )

    def cluster_by_zorder(
        self, cols: list[str], n_groups: int = 16, tiles: int = 16
    ) -> int:
        """Multi-dimensional Z-order clustering — the full form of what
        `cluster_by` does for one dimension. Each clustering column is
        quantized to `tiles` rank tiles (exact quantile boundaries, all
        columns in ONE approxQuantile pass), the per-column tile ids are
        BIT-INTERLEAVED into a Z-value (Morton code — nearby points in
        any dimension get nearby Z-values), and the table is rewritten
        into `n_groups` Z-range file groups. After the rewrite a box
        predicate on ANY subset of the clustering columns prunes by the
        per-group min/max stats: the Morton curve keeps each group's
        bounding box compact in every interleaved dimension, instead of
        compact in one and full-range in the rest (the 1-D clustering
        failure mode for multi-column probes). Same guarantees as
        cluster_by: logically a no-op, one data pass, and a lost version
        race re-clusters the winner's snapshot. This is Delta OPTIMIZE
        ZORDER's layout, native over the parquet log."""
        bits = max(1, (int(tiles) - 1).bit_length())
        qs = [i / tiles for i in range(1, tiles)]
        zq = [i / n_groups for i in range(1, n_groups)]

        def bucket_of(rows: DataFrame) -> DataFrame:
            tile_exprs = [
                _quantile_bucket(F.col(c), bounds).cast("long")
                for c, bounds in zip(
                    cols, rows.approxQuantile(list(cols), qs, 0.0)
                )
            ]
            z = F.lit(0).cast("long")
            for i in range(bits):
                for j, t in enumerate(tile_exprs):
                    z = z + F.shiftleft(
                        F.shiftright(t, i).bitwiseAND(F.lit(1)),
                        i * len(cols) + j,
                    )
            # __z is a column of its own so the quantile pass and the
            # bucket expression reference one value instead of each
            # re-evaluating the bit interleave
            zdf = rows.withColumn("__z", z)
            zbounds = zdf.approxQuantile("__z", zq, 0.0)
            return zdf.withColumn(
                "__bucket", _quantile_bucket(F.col("__z"), zbounds)
            ).drop("__z")

        return self._rewrite_pruned(
            lambda n: f"zorder({','.join(cols)}, {n})",
            None,
            lambda df: df,
            bucket_of=bucket_of,
        )

    # --------------------------------------------------------- vacuum --
    def vacuum(
        self, keep_last: int = 2, grace_seconds: float = 3600.0
    ) -> list[str]:
        """Drop data groups (and manifests) referenced ONLY by versions
        older than the retained tail. Refuses to break any retained
        snapshot by construction: the keep set is the union of retained
        manifests' groups.

        Concurrent-writer safety (ADVICE r9): a group named by NO
        manifest at all is ambiguous — it is either leaked garbage from
        a crashed writer or a LIVE in-flight write whose commit has not
        landed yet; deleting it in the second case corrupts the table
        the moment that commit links. Like Delta's vacuum retention
        window, unreferenced groups are only removed once older than
        `grace_seconds` (newest mtime under the group dir) — any sane
        grace exceeds a write-then-commit gap by orders of magnitude.
        Groups named by a pre-cutoff manifest are committed HISTORY and
        removable at any age (the retained log no longer reaches them).
        """
        import time

        latest = self.latest_version()
        if latest < 0:
            return []
        cutoff = max(0, latest - keep_last + 1)
        keep: set[str] = set()
        ever_named: set[str] = set()
        for v in range(latest + 1):
            if os.path.exists(self._manifest_path(v)):
                groups = self._manifest(v)["file_groups"]
                ever_named.update(groups)
                if v >= cutoff:
                    keep.update(groups)
        now = time.time()
        removed = []
        for g in os.listdir(self._data) if os.path.isdir(self._data) else []:
            if g in keep:
                continue
            if g not in ever_named:
                gdir = os.path.join(self._data, g)
                try:
                    newest = max(
                        os.stat(os.path.join(gdir, f)).st_mtime
                        for f in [*os.listdir(gdir), "."]
                    )
                except OSError:
                    continue  # racing its own writer's mkdir — skip
                if now - newest < grace_seconds:
                    continue  # possibly in-flight: not ours to reap yet
            shutil.rmtree(os.path.join(self._data, g), ignore_errors=True)
            removed.append(g)
        for v in range(cutoff):
            p = self._manifest_path(v)
            if os.path.exists(p):
                os.unlink(p)
        return removed
