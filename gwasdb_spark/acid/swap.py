"""Whole-relation replacement with one commit marker — the swap every
store uses when it rebuilds relations wholesale (text-index compaction,
codebook retrain, small-file compaction, the warehouse's gold builds).

All swap state lives under `<base>/_swap.tmp/`:

    new/<rel>    the replacement relations, staged under their live names
    _COMMITTED   THE commit point, published by `_link_durably`
    old/<rel>    live relations set aside during the swap

Nothing under `base` is renamed before the marker exists, so recovery is
"marker present → finish the swap, else → discard the stage": every
relation ends wholly old (no marker) or wholly new (marker), whichever
step a crash hit. Recovery of a quiet base is one `os.path.isdir`.

Coordination contract: every WRITER of a store calls `recover(base)`
before it reads anything (an incremental write that lands beside a
half-finished swap would be lost when the swap completes or be built on
a relation the swap then replaces). Readers never recover — a reader's
recovery would race a live swap. Swaps on one base are issued by one
coordinator at a time, the contract `MultiTableTxn.recover` has.
"""

from __future__ import annotations

import os
import shutil
from contextlib import contextmanager

from gwasdb_spark.acid.table_log import _link_durably

SWAP_DIR = "_swap.tmp"
MARKER = "_COMMITTED"


def recover(base: str) -> None:
    """Finish a committed swap under `base`, or discard an uncommitted
    one. Idempotent: a crash inside recovery leaves a state recovery
    finishes."""
    tmp = os.path.join(base, SWAP_DIR)
    if not os.path.isdir(tmp):
        return
    if os.path.exists(os.path.join(tmp, MARKER)):
        new, old = os.path.join(tmp, "new"), os.path.join(tmp, "old")
        os.makedirs(old, exist_ok=True)
        # A relation still staged has not been renamed in; its live twin
        # (if any) is either in place or already set aside.
        for rel in sorted(os.listdir(new)):
            live = os.path.join(base, rel)
            if os.path.exists(live):
                os.rename(live, os.path.join(old, rel))
            os.rename(os.path.join(new, rel), live)
    shutil.rmtree(tmp)


@contextmanager
def replacing(base: str):
    """Recover `base`, then yield a staging dir: write each replacement
    relation there under its live name. On normal exit the marker is
    published and the staged relations replace their live twins (a
    staged relation with no live twin is simply added); on an exception
    the stage is reaped and the live relations are untouched."""
    recover(base)
    tmp = os.path.join(base, SWAP_DIR)
    new = os.path.join(tmp, "new")
    os.makedirs(new)
    try:
        yield new
    except BaseException:
        shutil.rmtree(tmp)
        raise
    _link_durably(b"", os.path.join(tmp, MARKER))
    recover(base)
