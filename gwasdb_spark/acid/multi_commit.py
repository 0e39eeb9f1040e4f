"""Multi-table ATOMIC commit for AcidTable — one transaction, N logs.

Why this exists (r12 verdict #3): the reference's ingest makes ONE
logical decision per staging pass — QC survivors are inserted into
`gwas` AND the rejects into `no_gwas_result` from the same pass
(R/wrangle_data.Rmd:365, 376-381; the two INSERTs run inside one
Postgres session). AcidTable commits are per-table, so a crash between
the two appends would publish HALF the QC decision: a variant neither
kept nor tombstoned (or, with the opposite ordering, double-counted by
downstream audits that difference the tables). This module gives the
split the same all-or-nothing property Postgres gave the reference.

Protocol (the fsync-then-link discipline of AcidTable._commit, lifted
one level):

    <root>/<txn>.intent.json   -- participants: [(table, version, group)]
    <root>/<txn>.commit        -- THE atomic commit point (empty marker)

1. STAGE: each table's new file group is written and stat'ed by the
   append stage single-table `AcidTable.append` runs too
   (`AcidTable._stage_append`: schema check, then `_write_groups` —
   CHECK constraints validate here, so a violation in EITHER table
   aborts the whole transaction before anything is published).
2. INTENT: the participant list is fsynced and linked. From here,
   recovery knows exactly what to finish or undo.
3. PUBLISH: each table's manifest is committed at its next version via
   the normal exclusive `os.link`, carrying a `txn` pointer — the slot
   is physically TAKEN (other writers' commits conflict, so no writer
   can stack a version around an in-flight transaction) but the
   version is INVISIBLE: `AcidTable.latest_version()` skips manifests
   whose txn marker is absent.
4. COMMIT: one fsync-then-link of `<txn>.commit`. This single atomic
   operation flips every participating table's pending version visible
   at once — there is no window in which a reader can see one table's
   half of the decision.

Crash matrix (recover() handles every row; the `acidmulti` stress gate
kills a worker at each point and asserts the invariant):

    crash after          state                       recovery
    -----------          -----                       --------
    staging              orphan data dirs            vacuum grace reaps
    intent link          intent, no manifests        abort: reap intent
    some manifests       intent + invisible tips     abort: unlink them
    all manifests        both invisible              abort: unlink them
    marker link          COMMITTED, intent remains   finalize: reap intent
    intent cleanup       COMMITTED                   nothing to do

Aborting is always safe before the marker exists because pending
manifests are invisible AND block later slots — nothing can have built
on them. The marker file must outlive the transaction (manifests
reference it for visibility); it is tiny and append-only like the log,
and `vacuum_markers` reaps a marker once every manifest naming its txn
has itself been vacuumed out of the retained log tails.

Coordination contract: multi-table transactions sharing a txn root are
issued by ONE coordinator at a time (recover() runs at coordinator
start, exactly like `acid/swap.recover` before a whole-relation swap — it
must not run concurrently with a live commit, or it would abort an
in-flight transaction). Single-table writers need no coordination:
they serialize against pending transactions through the ordinary
version-slot conflict and retry/fail loudly, never seeing a torn
state. This is the same single-coordinator assumption a Delta
multi-statement transaction (commit coordinator) makes; lifting it
needs a lease/lock service, not a different on-disk protocol.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession

from gwasdb_spark.acid.table_log import (
    _RETRIES,
    AcidTable,
    CommitConflict,
    _link_durably,
)


class InjectedCrash(BaseException):
    """Raised by a named failpoint inside commit_appends — the crash-
    injection seam the `acidmulti` kill gate and m13's driver row share.
    Derives from BaseException ON PURPOSE: no cleanup handler in the
    commit path may catch it, so the on-disk state after the raise is
    exactly the state a kill -9 at that point leaves (the cross-process
    gate worker additionally os._exit(9)s on it). Failpoints, in commit
    order: "stage", "intent", "manifest1", "manifests", "marker"."""


def _fail(failpoint: str | None, here: str) -> None:
    if failpoint == here:
        raise InjectedCrash(here)


class MultiTableTxn:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    # ------------------------------------------------------------ paths --
    def _intent_path(self, txn_id: str) -> str:
        return os.path.join(self.root, f"{txn_id}.intent.json")

    def _marker_path(self, txn_id: str) -> str:
        return os.path.join(self.root, f"{txn_id}.commit")

    # ---------------------------------------------------------- recover --
    def recover(self) -> dict:
        """Finish or undo every transaction this root knows about.
        Committed (marker present): reap the leftover intent.
        Uncommitted (no marker): unlink each participant's pending
        manifest (invisible by construction — safe) and its staged
        group, then reap the intent. Returns counts for observability.
        Idempotent; run at coordinator start and after any crash."""
        finalized = aborted = 0
        for name in sorted(os.listdir(self.root)):
            if name.startswith(".tmp-"):
                os.unlink(os.path.join(self.root, name))
                continue
            if not name.endswith(".intent.json"):
                continue
            txn_id = name[: -len(".intent.json")]
            ipath = os.path.join(self.root, name)
            if os.path.exists(self._marker_path(txn_id)):
                os.unlink(ipath)  # committed; intent no longer needed
                finalized += 1
                continue
            with open(ipath) as fh:
                intent = json.load(fh)
            for part in intent["tables"]:
                t = AcidTable(self.spark, part["path"])
                mpath = t._manifest_path(part["version"])
                if os.path.exists(mpath):
                    try:
                        with open(mpath) as fh:
                            m = json.load(fh)
                    except ValueError:
                        m = {}
                    if (m.get("txn") or {}).get("id") == txn_id:
                        os.unlink(mpath)
                shutil.rmtree(
                    os.path.join(t._data, part["group"]), ignore_errors=True
                )
            os.unlink(ipath)
            aborted += 1
        return {"finalized": finalized, "aborted": aborted}

    # ----------------------------------------------------------- vacuum --
    def vacuum_markers(self, tables: list[AcidTable]) -> list[str]:
        """Reap commit markers no RETAINED manifest references — the
        txn-root twin of AcidTable.vacuum. A marker is load-bearing for
        exactly as long as some manifest's visibility check can read it
        (`_txn_visible`); once every participating table's retained log
        tail carries no manifest pointing at txn X (the referencing
        versions were themselves vacuumed away), X's marker is inert
        bytes. Callers pass the SAME table set the root coordinates —
        a marker referenced by a table outside `tables` would be
        reaped wrongly, the same single-coordinator scoping contract
        commit_appends documents. Never touches intents (recover()
        owns those) and never reaps a marker any retained manifest
        names. Returns the reaped txn ids."""
        referenced: set[str] = set()
        for t in tables:
            for _, m in t._manifests():
                txn = m.get("txn")
                if txn:
                    referenced.add(txn["id"])
        reaped = []
        for name in sorted(os.listdir(self.root)):
            if not name.endswith(".commit"):
                continue
            txn_id = name[: -len(".commit")]
            if txn_id in referenced:
                continue
            if os.path.exists(self._intent_path(txn_id)):
                continue  # mid-commit window; recover() decides later
            os.unlink(os.path.join(self.root, name))
            reaped.append(txn_id)
        return reaped

    # ------------------------------------------------------------- read --
    def committed_txns(self, tables: list[AcidTable]) -> list[dict]:
        """Enumerate the COMMITTED multi-table transactions these
        tables' retained logs reference, in commit order:
        ``[{"id": txn_id, "tables": {table_path: version}}, ...]``.

        Ordering contract: version slots serialize commits, so within
        any single table the feed order IS that table's version order —
        the real guarantee a downstream consumer (an st21-style CDC
        applier, an audit differencing the QC split) relies on. Two
        transactions that share NO table have no defined mutual order
        (there is no clock across logs); the sort key — each txn's
        minimum participating version, txn id as deterministic tiebreak
        — is consistent with every per-table order because a shared
        table's versions rank the sharers identically under min().
        Pending transactions (manifest linked, marker absent) are
        EXCLUDED: they are not committed, and recover() may still abort
        them. Metadata-only — one small json read per retained
        manifest, never touches data files."""
        txns: dict[str, dict[str, int]] = {}
        for t in tables:
            for _, m in t._manifests():
                txn = m.get("txn")
                if not txn or txn.get("root") != self.root:
                    continue
                if not os.path.exists(self._marker_path(txn["id"])):
                    continue  # pending or mid-abort: not committed
                txns.setdefault(txn["id"], {})[t.path] = m["version"]
        out = [{"id": i, "tables": tb} for i, tb in txns.items()]
        out.sort(key=lambda d: (min(d["tables"].values()), d["id"]))
        return out

    def txn_snapshot(
        self, tables: list[AcidTable], txn_id: str
    ) -> dict[str, int]:
        """The atomic cut transaction ``txn_id`` published: for each
        PARTICIPATING table, the version that txn committed — reading
        each table at its returned version yields a cross-table-
        consistent snapshot of that one logical decision (the QC
        split's survivors AND rejects from the same staging pass),
        even when the tables' version counters have since diverged
        under interleaved single-table writes.

        A table that did not participate RAISES rather than guessing:
        logs have no shared clock, so no version of a non-participant
        is ordered against txn_id — returning one would manufacture a
        consistency the protocol never promised. An unknown or
        uncommitted txn_id also raises (its data was never atomically
        published; reading it would resurrect a recoverable abort)."""
        if not os.path.exists(self._marker_path(txn_id)):
            raise FileNotFoundError(
                f"transaction {txn_id} is not committed in {self.root}"
            )
        cut: dict[str, int] = {}
        for t in tables:
            found = None
            for _, m in t._manifests():
                if (m.get("txn") or {}).get("id") == txn_id:
                    found = m["version"]
                    break
            if found is None:
                raise ValueError(
                    f"{t.path} did not participate in transaction "
                    f"{txn_id}; no consistent cut is defined for it"
                )
            cut[t.path] = found
        return cut

    # ----------------------------------------------------------- commit --
    def commit_appends(
        self,
        writes: list[tuple[AcidTable, DataFrame]],
        op: str = "txn_append",
        failpoint: str | None = None,
    ) -> dict:
        """Append one batch to EACH table, all-or-nothing. Returns
        {table_path: committed_version}. CHECK constraints of every
        table validate before anything is published; a violation in
        any one aborts the whole statement. A version race lost to a
        concurrent single-table writer rolls the (invisible) partial
        publication back and retries against the new snapshots."""
        self.recover()  # single-coordinator contract: safe here
        last_exc: Exception | None = None
        for _ in range(_RETRIES + 1):
            # -- stage every table's group first (check-validated) ----
            staged: list[tuple[AcidTable, int, str, list, dict, dict]] = []
            try:
                for t, df in writes:
                    base, m = t._snapshot()
                    if t._tip_slot() != base:
                        raise CommitConflict(
                            f"{t.path} blocked by an unresolved "
                            "transaction at a higher slot"
                        )
                    staged.append((t, base, *t._stage_append(df, m)))
                _fail(failpoint, "stage")
            except Exception:
                # InjectedCrash (BaseException) bypasses this on purpose:
                # a real crash leaves orphan groups for vacuum's grace
                # window, and the kill gate asserts exactly that state.
                for t, _, group, _, _, _ in staged:
                    shutil.rmtree(
                        os.path.join(t._data, group), ignore_errors=True
                    )
                raise
            txn_id = uuid.uuid4().hex
            intent = {
                "id": txn_id,
                "op": op,
                "tables": [
                    {"path": t.path, "version": base + 1, "group": group}
                    for t, base, group, _, _, _ in staged
                ],
            }
            _link_durably(
                json.dumps(intent).encode(), self._intent_path(txn_id)
            )
            _fail(failpoint, "intent")
            linked: list[tuple[AcidTable, int]] = []
            try:
                for t, base, _, groups, stats, meta in staged:
                    t._commit(
                        base + 1, op, groups, stats, meta,
                        txn={"id": txn_id, "root": self.root},
                    )
                    linked.append((t, base + 1))
                    if len(linked) == 1:
                        _fail(failpoint, "manifest1")
                _fail(failpoint, "manifests")
            except CommitConflict as exc:
                # lost a race mid-publication: everything linked so far
                # is invisible — unwind and retry on fresh snapshots
                for t, v in linked:
                    os.unlink(t._manifest_path(v))
                for t, _, group, _, _, _ in staged:
                    shutil.rmtree(
                        os.path.join(t._data, group), ignore_errors=True
                    )
                os.unlink(self._intent_path(txn_id))
                last_exc = exc
                continue
            # ---- THE commit point: one atomic link flips all tables --
            _link_durably(b"", self._marker_path(txn_id))
            _fail(failpoint, "marker")
            os.unlink(self._intent_path(txn_id))
            return {t.path: v for t, v in linked}
        raise CommitConflict(
            f"multi-table commit retries exhausted: {last_exc}"
        )
