"""Crash-safe storage commits: write aside, rename in, recover on open.

Every whole-directory rewrite (``ServingTable`` compaction and mutations,
the streaming sidecar-index compaction, the inverted index's build and
compact) and every driver-side JSON sidecar commits here, the
single-filesystem form of MergeTree's immutable parts renamed into place.
No other package code renames or spells a swap suffix.

:func:`swap_dir` makes a complete staged dir ``L.compact.tmp``
(:func:`stage_dir`) the live dir ``L``: park ``L`` as ``L.compact.bak``,
rename the tmp to ``L``, remove the bak. :func:`recover_dir`, which every
reader runs before it lists ``L``, heals both states a crash can leave:

- ``L`` missing (between the two renames): the bak, which holds the
  complete old state, is renamed back. That is always safe, because a
  rewrite only replaces existing data and can simply run again.
- ``L`` resolves: any tmp or bak sibling is stale and is removed, a
  parked symlink (a versioned table's pointer) losing only the link.
  ``L.old`` and ``L.build.tmp``, the inverted index's suffixes before it
  shared this protocol, are healed and cleared the same way.

:func:`swap_link` repoints a versioned table's symlink with one atomic
rename of a staged ``L.lnk.tmp``. :func:`write_json` writes
``<path>.tmp`` and renames it over ``path``, so readers see the old or
the new document; a ``_``/``.`` prefix on a sidecar's name stays on its
tmp, which keeps it out of Spark's and ``zonemap.data_files``' listings.

Crash tests inject faults at :func:`_rename` and :func:`remove`.
"""

from __future__ import annotations

import json
import os
import shutil

TMP, BAK = ".compact.tmp", ".compact.bak"
_LINK_TMP = ".lnk.tmp"
#: the inverted index's swap suffixes before it shared this protocol
_OLD, _BUILD_TMP = ".old", ".build.tmp"
_DEBRIS = (TMP, BAK, _OLD, _BUILD_TMP)


def _rename(src: str, dst: str) -> None:
    os.replace(src, dst)


def remove(p: str) -> None:
    """Delete the tree at ``p``, or only the link when ``p`` is a symlink
    (``rmtree`` refuses links). A missing ``p`` is a no-op."""
    if os.path.islink(p):
        os.remove(p)
    else:
        shutil.rmtree(p, ignore_errors=True)


def stage_dir(live: str) -> str:
    """The staging dir a rewrite of ``live`` writes into, cleared of any
    leftover from an earlier interrupted rewrite."""
    staged = live.rstrip("/") + TMP
    remove(staged)
    return staged


def swap_dir(staged: str, live: str) -> None:
    """Make the complete dir ``staged`` the new ``live``: park ``live`` as
    its bak if it exists, rename ``staged`` in, then remove the bak."""
    live = live.rstrip("/")
    bak = live + BAK
    if os.path.lexists(live):
        remove(bak)
        _rename(live, bak)
    _rename(staged, live)
    remove(bak)


def recover_dir(live: str) -> bool:
    """Heal an interrupted :func:`swap_dir` of ``live``. When ``live`` is
    missing, restore its parked bak and return True. When ``live``
    resolves, remove any stale tmp/bak sibling. Runs only stat calls when
    there is nothing to heal."""
    live = live.rstrip("/")
    healed = False
    if not os.path.isdir(live):
        parked = next(
            (live + s for s in (BAK, _OLD) if os.path.isdir(live + s)), None
        )
        if parked is None:
            return False
        _rename(parked, live)
        healed = True
    for suffix in _DEBRIS:
        if os.path.lexists(live + suffix):
            remove(live + suffix)
    return healed


def swap_link(target: str, live: str) -> None:
    """Point the symlink ``live`` at ``target`` in one atomic rename."""
    link = live.rstrip("/") + _LINK_TMP
    remove(link)
    os.symlink(target, link)
    _rename(link, live)


def discard(live: str) -> None:
    """Remove ``live`` and every swap sibling it may have left."""
    live = live.rstrip("/")
    for suffix in ("", *_DEBRIS, _LINK_TMP):
        remove(live + suffix)


def write_json(path: str, obj) -> None:
    """Replace the JSON document at ``path`` with ``obj`` in one rename."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f)
    _rename(tmp, path)


def read_json(path: str):
    """The JSON document at ``path``, or None when it is missing or
    unreadable."""
    try:
        with open(path) as f:
            return json.load(f)
    except (OSError, ValueError):
        return None
