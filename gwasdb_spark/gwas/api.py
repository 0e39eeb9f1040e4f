"""Query API — the Shiny app's surface (gwasDB/app.R) as DataFrames.

Every function mirrors one reactive query in the app and returns a
DataFrame; collect stays at the caller, exactly like `collect()` in app.R
(SURVEY.md §3 entry-point 1). All predicates bind `chr` (partition pruning)
and `pos` ranges (row-group skipping on the pos-sorted layout).

Keyed probes — `marker_exact`, an ^-anchored `markers_by_probe` with the
marker index built, and the `combined` window of `locus_window` — answer a
few dozen rows, so they run no Spark job: at call time they read the row
groups the warehouse's memoized footers admit (`Warehouse.key_range`) on
the driver and return a local relation (`Warehouse.local`). The rows are
resolved when the function is called, under the same snapshot-until-
`refresh` contract as the warehouse's relation memo; the regex and the
study filter stay Spark Columns, which the optimizer folds into the local
relation on the driver, so Java-regex and SQL-null semantics hold.

Region scans (`combined_region`, `markers_by_region`), an unanchored probe
and the probes without a marker index stay lazy Spark scans of one job
each (an unanchored probe keeps its global sort); results bounded by
their pushed predicates sort in a single partition instead of paying a
global sort's range-sampling job and exchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gwasdb_spark.gwas.warehouse import Warehouse


def markers_by_region(wh: Warehouse, chrom: int, start: int, end: int) -> DataFrame:
    """Position-mode marker search (gwasDB/app.R:82-94): b37 variants in
    [start, end] on one chromosome, sorted by pos."""
    return (
        wh.read("b37")
        .filter((F.col("chr") == chrom) & F.col("pos").between(start, end))
        .select("chr", "pos", "kgp_id")
        .coalesce(1)
        .sortWithinPartitions("pos")
    )


_REGEX_META = set(r".*+?[](){}|\^$")
_MARKER_COLS = ["chr", "pos", "kgp_id"]


def _literal_prefix(pattern: str) -> str:
    """Longest ASCII literal prefix every match of an ^-anchored regex
    starts with ('' if unanchored or alternated). 'rs123\\d+' probes get a
    sargable prefix; '.*foo' and '^ab|cd' get none, and '^ab*' gets 'a'."""
    if not pattern.startswith("^") or "|" in pattern:
        return ""
    out = []
    for ch in pattern[1:]:
        if ch in _REGEX_META or not ch.isascii():
            if ch in "*?{" and out:  # the quantifier makes its char optional
                out.pop()
            break
        out.append(ch)
    return "".join(out)


def _marker_source(wh: Warehouse) -> DataFrame:
    """Name-lookup source: the sorted marker_index when built (name-range
    row-group skipping), else b37 (full scan, flagged below)."""
    if wh.has_table("marker_index"):
        return wh.read("marker_index")
    return wh.read("b37")


def _index_range(wh: Warehouse, lo: str, hi: str):
    """Marker-index rows with kgp_id in [lo, hi], read on the driver."""
    return wh.key_range("marker_index", "kgp_id", lo, hi, cols=_MARKER_COLS)


def markers_by_probe(wh: Warehouse, probe_regex: str) -> DataFrame:
    """Probe-mode marker search (gwasDB/app.R:97-101): regex over kgp_id,
    sorted by (chr, pos).

    An ^-anchored probe with a literal prefix P, with the name-sorted
    `marker_index` built, is a keyed probe (module docstring): the index
    rows in [P, P'] (P' = P with its last char incremented, the least
    name above every name that starts with P) come off the driver, sorted
    in Arrow, and the regex filters them as a Spark Column — the
    b-tree-probe replacement (R/gwas_ddl.sql:5). Without the index the
    prefix is a `startswith` pushed to the b37 scan (StringStartsWith);
    the result is bounded by it and sorts in one partition. Unanchored
    regexes scan, but only the skinny 3-column index when built, and keep
    the global sort."""
    cond = F.col("kgp_id").rlike(probe_regex)
    prefix = _literal_prefix(probe_regex)
    if prefix and wh.has_table("marker_index"):
        upper = prefix[:-1] + chr(ord(prefix[-1]) + 1)
        rows = _index_range(wh, prefix, upper).sort_by(
            [("chr", "ascending"), ("pos", "ascending")]
        )
        return wh.local("marker_index", rows).filter(cond)
    src = _marker_source(wh)
    if prefix:
        cond = F.col("kgp_id").startswith(prefix) & cond
    out = src.filter(cond).select(*_MARKER_COLS)
    if prefix:
        return out.coalesce(1).sortWithinPartitions("chr", "pos")
    return out.orderBy("chr", "pos")


def marker_exact(wh: Warehouse, kgp_id: str) -> DataFrame:
    """Exact marker-name point lookup — the interactive single-id path.
    With the marker index built it is a keyed probe (module docstring):
    footer min/max pick the row group that can hold the name. Without it,
    equality on kgp_id pushes to the b37 scan."""
    if wh.has_table("marker_index"):
        return wh.local("marker_index", _index_range(wh, kgp_id, kgp_id))
    return wh.read("b37").filter(F.col("kgp_id") == kgp_id).select(*_MARKER_COLS)


def empty_markers(wh: Warehouse) -> DataFrame:
    """Default UI state: schema-only empty result (`head(0)`, gwasDB/app.R:92)."""
    return wh.read("b37").select("chr", "pos", "kgp_id").limit(0)


def locus_window(
    wh: Warehouse, kgp_id: str, flank: int = 10_000, studies: list[str] | None = None
) -> DataFrame:
    """FLAGSHIP (gwasDB/app.R:124-154): click a marker → look up its
    position → ±flank window on `combined` for the Manhattan plot.

    Two-step lifecycle preserved: the anchor lookup is a point probe; the
    window binds chr + pos BETWEEN. The app's post-collect
    `filter(name %in% studies)` (app.R:176) is folded into the result
    (SURVEY.md §3 note).

    The window is a keyed probe (module docstring): the `chr=` partition's
    footers admit the few row groups whose pos min/max meet the window,
    and the study filter folds into the local relation. With the marker
    index built, so is the anchor, and the call runs no Spark job.
    Without it, the anchor is one `collect` of the kgp_id equality pushed
    to b37 (kgp_id is the PK, so at most one row; `first()` would run a
    take that scans one partition and then grows, 1-3 jobs)."""
    if wh.has_table("marker_index"):
        t = _index_range(wh, kgp_id, kgp_id)
        anchor = list(zip(t["chr"].to_pylist(), t["pos"].to_pylist()))
    else:
        anchor = (
            wh.read("b37")
            .filter(F.col("kgp_id") == kgp_id)
            .select("chr", "pos")
            .collect()
        )
    if not anchor:
        return wh.read("combined").limit(0)
    chrom, pos = anchor[0]
    out = wh.local(
        "combined",
        wh.key_range("combined", "pos", pos - flank, pos + flank, chrom=chrom),
    )
    if studies:
        out = out.filter(F.col("name").isin(studies))
    return out


def combined_region(
    wh: Warehouse, chrom: int, start: int, end: int, studies: list[str] | None = None
) -> DataFrame:
    """Region query over the gold table (gwasDB/app.R:163-166): the columns
    the app plots — chr, pos, neg_log10_p, name."""
    out = wh.read("combined").filter(
        (F.col("chr") == chrom) & F.col("pos").between(start, end)
    )
    if studies:
        out = out.filter(F.col("name").isin(studies))
    return out.select("chr", "pos", "neg_log10_p", "name")


def study_list(wh: Warehouse) -> DataFrame:
    """Startup dimension load (gwasDB/app.R:33)."""
    return wh.read("study")
