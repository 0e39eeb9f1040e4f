"""Helpers for the swap crash tests. Crash injection is a stand-in for
kill -9 at a chosen step of a relation swap (acid/swap.py): the raised
`InjectedCrash` is the BaseException the multi-table commit's
failpoints raise, so no cleanup handler on the path under test catches
it: the on-disk state after the raise is the state a kill there
leaves."""

from __future__ import annotations

import os

from gwasdb_spark.acid.multi_commit import InjectedCrash

__all__ = ["InjectedCrash", "kill", "kill_rename", "untrained_codebook_index"]


def kill(*_args, **_kwargs):
    raise InjectedCrash("kill")


def kill_rename(monkeypatch, src: str | None = None, dst: str | None = None):
    """Make the first `os.rename` from `src` and/or to `dst` (the first
    rename of all when both are None) raise InjectedCrash instead of
    renaming. Later renames run normally."""
    real = os.rename

    def rename(a, b, *args, **kwargs):
        if (src is None or os.fspath(a) == src) and (
            dst is None or os.fspath(b) == dst
        ):
            monkeypatch.setattr(os, "rename", real)
            raise InjectedCrash(f"rename {a} -> {b}")
        return real(a, b, *args, **kwargs)

    monkeypatch.setattr(os, "rename", rename)


def untrained_codebook_index(vectors, base: str, n_cells: int) -> None:
    """A codebook-index layout (index, manifest, codebook) without the
    k-means fit, which costs seconds per build: axis cells and an
    `n_cells`-row codebook. The swap tests need a layout, not a trained
    one."""
    import numpy as np

    from gwasdb_spark.operators.ann_index import build_cell_index, save_codebook

    build_cell_index(vectors, base)
    dim = len(vectors.first()["embedding"])
    save_codebook(vectors.sparkSession, base, np.eye(n_cells, dim))
