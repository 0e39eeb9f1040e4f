"""Query API — the Shiny app's surface (gwasDB/app.R) as lazy DataFrames.

Every function mirrors one reactive query in the app; each returns a LAZY
DataFrame — collect stays at the caller, exactly like `collect()` in app.R
(SURVEY.md §3 entry-point 1). All predicates bind `chr` (partition pruning)
and `pos` ranges (row-group skipping on the pos-sorted layout).

The queries are driver-bound (a few small pruned scans each), so each is
shaped to one Spark job per step: tables come from the warehouse's
resolved-relation memo, the locus-window anchor is one `collect`, and
results bounded by their pushed predicates sort in a single partition
instead of paying a global sort's range-sampling job and exchange.
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


def _literal_prefix(pattern: str) -> str:
    """Longest literal prefix of an ^-anchored regex ('' if unanchored).
    'rs123\\d+' probes get a sargable prefix; '.*foo' gets none."""
    if not pattern.startswith("^"):
        return ""
    out = []
    for ch in pattern[1:]:
        if ch in _REGEX_META:
            break
        out.append(ch)
    return "".join(out)


def _marker_source(wh: Warehouse) -> DataFrame:
    """Name-lookup source: the sorted marker_index when built (name-range
    row-group skipping), else b37 (full scan, flagged below)."""
    if wh.has_table("marker_index"):
        return wh.read("marker_index")
    return wh.read("b37")


def markers_by_probe(wh: Warehouse, probe_regex: str) -> DataFrame:
    """Probe-mode marker search (gwasDB/app.R:97-101): regex over kgp_id,
    sorted by (chr, pos).

    Served from the name-sorted `marker_index` when built: an ^-anchored
    probe contributes a literal-prefix `startswith` predicate that pushes
    to the parquet scan (StringStartsWith), so min/max name stats skip
    every non-overlapping row group — the b-tree-probe replacement
    (R/gwas_ddl.sql:5). Unanchored regexes still scan, but only the
    skinny 3-column index, not wide b37.

    An anchored probe's result is bounded by its pushed prefix and sorts
    in one partition; an unanchored one scans the whole index in parallel
    and keeps the global sort."""
    src = _marker_source(wh)
    cond = F.col("kgp_id").rlike(probe_regex)
    prefix = _literal_prefix(probe_regex)
    if prefix:
        cond = F.col("kgp_id").startswith(prefix) & cond
    out = src.filter(cond).select("chr", "pos", "kgp_id")
    if prefix:
        return out.coalesce(1).sortWithinPartitions("chr", "pos")
    return out.orderBy("chr", "pos")


def marker_exact(wh: Warehouse, kgp_id: str) -> DataFrame:
    """Exact marker-name point lookup — the interactive single-id path.
    Equality on the sorted index's kgp_id pushes to the scan and skips
    all but the one matching name range."""
    return (
        _marker_source(wh)
        .filter(F.col("kgp_id") == kgp_id)
        .select("chr", "pos", "kgp_id")
    )


def empty_markers(wh: Warehouse) -> DataFrame:
    """Default UI state: schema-only empty result (`head(0)`, gwasDB/app.R:92)."""
    return wh.read("b37").select("chr", "pos", "kgp_id").limit(0)


def locus_window(
    wh: Warehouse, kgp_id: str, flank: int = 10_000, studies: list[str] | None = None
) -> DataFrame:
    """FLAGSHIP (gwasDB/app.R:124-154): click a marker → look up its
    position → ±flank window on `combined` for the Manhattan plot.

    Two-step lifecycle preserved: the anchor lookup is a tiny pruned scan;
    the window query binds chr + pos BETWEEN, so partition pruning + row-
    group skipping leave a few MB scanned regardless of warehouse size.
    The app's post-collect `filter(name %in% studies)` (app.R:176) is
    folded into the plan (SURVEY.md §3 note).

    The anchor is one `collect` of the pushed-down kgp_id equality: kgp_id
    is the PK, so at most one row comes back, and `first()` would instead
    run a take that scans one partition and then grows (1-3 jobs)."""
    anchor = (
        _marker_source(wh)
        .filter(F.col("kgp_id") == kgp_id)
        .select("chr", "pos")
        .collect()
    )
    if not anchor:
        return wh.read("combined").limit(0)
    chrom, pos = anchor[0]["chr"], anchor[0]["pos"]
    out = wh.read("combined").filter(
        (F.col("chr") == chrom) & F.col("pos").between(pos - flank, pos + flank)
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
