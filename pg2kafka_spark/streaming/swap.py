"""The one crash-safe directory swap every maintained store uses.

A compaction, retrain or label fold writes its result to a staged
directory, then swaps it in for the live one. The two renames leave a
window where the live directory is missing, so a sentinel file
brackets them: a reader that finds the sentinel raises
(:func:`refuse_mid_swap`) instead of reading a missing store as an
empty one. A crash inside the bracket leaves the sentinel on disk;
either directory state behind it (the old copy or the staged one) is
value-complete, so the operator renames whichever is present into
place and removes the sentinel. A crash after the bracket leaves only
a stale ``<target>.__old__``, which the next swap clears first.

The swap is local-filesystem (``os.rename``) and assumes no other
writer appends to the target while it runs.
"""

from __future__ import annotations

import os
import shutil


def swap_in(staging: str, target: str, sentinel: str) -> None:
    """Replace ``target`` with ``staging`` under ``sentinel``. A
    missing ``target`` (a store's first write) is simply created."""
    old = target.rstrip("/") + ".__old__"
    # clear the leftover of a crash after a prior swap's bracket, so
    # the rename below cannot fail ENOTEMPTY with the sentinel stranded
    shutil.rmtree(old, ignore_errors=True)
    with open(sentinel, "w"):
        pass
    had_target = os.path.isdir(target)
    if had_target:
        os.rename(target, old)
    os.rename(staging, target)
    os.remove(sentinel)
    if had_target:
        shutil.rmtree(old)


def refuse_mid_swap(sentinel: str, store: str, state: str) -> None:
    """Raise when ``sentinel`` is on disk: the store named ``store``
    may be missing or half-swapped, and must be neither read as empty
    nor appended to. ``state`` words the error (``"mid-swap"``,
    ``"mid-compaction"``, ``"mid-retrain"``)."""
    if os.path.exists(sentinel):
        raise RuntimeError(
            f"{store} is {state} (sentinel present) — a swap into it is "
            "running or crashed inside its bracket; if the store is "
            "missing, rename its staged or __old__ copy into place, "
            f"then remove {sentinel!r} before resuming"
        )
