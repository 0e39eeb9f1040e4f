"""The kill-point matrix of the whole-relation swap (acid/swap.py), on
plain directories: a crash at any step of `replacing`, followed by a
recovery that may itself be killed, leaves every relation wholly old
(killed before the commit marker) or wholly new (killed after it)."""

from __future__ import annotations

import os

import pytest

from gwasdb_spark.acid import swap
from tests.crash import InjectedCrash, kill, kill_rename

LIVE = ("a", "b", "c")
STAGED = ("a", "b", "c", "d")  # `d` has no live twin: a first build
FILES = ["part-0", "part-1"]

# The swap's steps in order: before the marker, then each relation's
# set-aside (the first one is "just after the marker") and rename-in,
# then the reap of the staging dir.
POINTS = ["staging"] + [
    (step, rel)
    for rel in STAGED
    for step in (("aside", "in") if rel in LIVE else ("in",))
] + ["reap"]


def _write_rel(root: str, rel: str, tag: str) -> None:
    os.makedirs(os.path.join(root, rel))
    for f in FILES:
        with open(os.path.join(root, rel, f), "w") as fh:
            fh.write(tag)


def _state(base: str, rel: str) -> str | None:
    """The relation's tag, asserting it is whole: every file present and
    every file from the same side of the swap."""
    path = os.path.join(base, rel)
    if not os.path.isdir(path):
        return None
    assert sorted(os.listdir(path)) == FILES
    tags = set()
    for f in FILES:
        with open(os.path.join(path, f)) as fh:
            tags.add(fh.read())
    assert len(tags) == 1, f"{rel} mixes {tags}"
    return tags.pop()


def _point_id(point) -> str:
    return "-".join(point) if isinstance(point, tuple) else point


@pytest.mark.parametrize("point", POINTS, ids=_point_id)
def test_killed_swap_recovers_wholly_old_or_wholly_new(
    tmp_path, monkeypatch, point
):
    base = str(tmp_path)
    for rel in LIVE:
        _write_rel(base, rel, "old")
    if point == "staging":
        monkeypatch.setattr(swap, "_link_durably", kill)
    elif point == "reap":
        monkeypatch.setattr(swap.shutil, "rmtree", kill)
    else:
        step, rel = point
        where = os.path.join(base, rel)
        kill_rename(
            monkeypatch, **({"src": where} if step == "aside" else {"dst": where})
        )
    with pytest.raises(InjectedCrash):
        with swap.replacing(base) as stage:
            for rel in STAGED:
                _write_rel(stage, rel, "new")
    monkeypatch.undo()

    # A recovery killed at its own first rename is finished by the next.
    kill_rename(monkeypatch)
    try:
        swap.recover(base)
    except InjectedCrash:
        pass
    monkeypatch.undo()
    swap.recover(base)

    if point == "staging":
        assert {rel: _state(base, rel) for rel in STAGED} == {
            "a": "old", "b": "old", "c": "old", "d": None,
        }
    else:
        assert {rel: _state(base, rel) for rel in STAGED} == dict.fromkeys(
            STAGED, "new"
        )
    assert sorted(os.listdir(base)) == sorted(
        LIVE if point == "staging" else STAGED
    )


def test_exception_in_body_reaps_the_stage(tmp_path):
    base = str(tmp_path)
    for rel in LIVE:
        _write_rel(base, rel, "old")
    with pytest.raises(ValueError):
        with swap.replacing(base) as stage:
            _write_rel(stage, "a", "new")
            raise ValueError("build failed")
    assert sorted(os.listdir(base)) == sorted(LIVE)
    assert {rel: _state(base, rel) for rel in LIVE} == dict.fromkeys(LIVE, "old")
