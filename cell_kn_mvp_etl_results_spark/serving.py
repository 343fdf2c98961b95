"""Serving-state store: the one place session-bound derived state lives.

Query builders keep state between calls -- persisted table scans,
prepared plans, the khop hop frames, the minhash signature views,
trained models, registered temp views. Every such memo is an entry
here, keyed by (session, sf_dir, name, params) and stamped with the
fingerprints of the input files it was derived from. ``serve`` is the
single lifecycle (the keyed-state-with-cleanup model of a streaming
state store):

  * a matching entry (same params, same input fingerprints) is
    returned as is;
  * otherwise the entry held for the same (session, sf_dir, name)
    scope is RELEASED (its ``release`` callback unpersists frames,
    drops temp views; errors are swallowed), the value is rebuilt and
    stored in its place. A scope therefore holds at most one entry, so
    a regenerated corpus or changed parameters replace serving state
    instead of accumulating it;
  * on a miss, entries whose session has stopped are dropped (their
    catalog and cache died with the session; only the references
    remained).

``SPARK_GRAFT_SERVING`` selects how much state is kept:

  ``off``      nothing is reused: ``serve`` builds on every call
               (still releasing the scope's previous entry first) and
               materialized tables are computed inline -- the true-cold
               regime;
  ``derived``  (default) derived state is served: materialized tables,
               views, hop frames, signature views, trained models;
  ``tables``   + source tables persisted in memory by ``read_table``;
  ``plans``    + one prepared DataFrame reused per query (registry).
"""

from __future__ import annotations

import hashlib
import os
from collections.abc import Callable
from dataclasses import dataclass

from .sources.readers import _fingerprint

LEVELS = ("off", "derived", "tables", "plans")


@dataclass(frozen=True)
class Entry:
    session: object
    sf_dir: str
    name: str
    params: tuple
    fingerprints: tuple
    value: object
    release: Callable | None


_STORE: dict[tuple, Entry] = {}  # (session, sf_dir, name) -> entry
_STATS = {"hits": 0, "misses": 0}


def level() -> str:
    value = os.environ.get("SPARK_GRAFT_SERVING", "derived")
    if value not in LEVELS:
        raise ValueError(
            f"SPARK_GRAFT_SERVING={value!r}; expected one of {LEVELS}"
        )
    return value


def at_least(name: str) -> bool:
    return LEVELS.index(level()) >= LEVELS.index(name)


def _auto_name(
    prefix: str, sf_dir: str, *params, files: tuple = ("documents",)
) -> str:
    """``{prefix}_{hash}`` where the hash covers ``sf_dir``, the
    fingerprints of ``{sf_dir}/{t}.parquet`` for ``t`` in ``files`` and
    ``params``: the one name derivation for temp views and on-disk
    tables, so a regenerated input or changed parameters get a new
    name instead of stale rows."""
    fp = hashlib.md5(
        repr(
            (
                sf_dir,
                tuple(_fingerprint(f"{sf_dir}/{t}.parquet") for t in files),
                params,
            )
        ).encode()
    ).hexdigest()[:8]
    return f"{prefix}_{fp}"


def _release(entry: Entry) -> None:
    if entry.release is not None:
        try:
            entry.release(entry.value)
        except Exception:
            pass  # best-effort: a view already dropped, a frame already gone


def _stopped(session) -> bool:
    sc = getattr(session, "_sc", None)
    return sc is None or getattr(sc, "_jsc", None) is None


def serve(
    spark,
    sf_dir: str,
    name: str,
    files: tuple,
    build: Callable[[], object],
    release: Callable[[object], None] | None = None,
    params: tuple = (),
):
    """Return the value stored for (spark, sf_dir, name, params) if the
    fingerprints of ``{sf_dir}/{t}.parquet`` for ``t`` in ``files`` still
    match; otherwise release the scope's entry, call ``build()``, store
    and return its result. ``build`` raising stores nothing (the
    displaced entry is already released)."""
    fps = tuple(_fingerprint(os.path.join(sf_dir, f"{t}.parquet")) for t in files)
    scope = (spark, sf_dir, name)
    hit = _STORE.get(scope)
    if (
        hit is not None
        and hit.params == params
        and hit.fingerprints == fps
        and level() != "off"
    ):
        _STATS["hits"] += 1
        return hit.value
    _STATS["misses"] += 1
    for key in [k for k in _STORE if _stopped(k[0])]:
        del _STORE[key]
    old = _STORE.pop(scope, None)
    if old is not None:
        _release(old)
    value = build()
    _STORE[scope] = Entry(spark, sf_dir, name, params, fps, value, release)
    return value


def entries() -> list[Entry]:
    """The current inventory, one entry per (session, sf_dir, name)."""
    return list(_STORE.values())


def stats() -> dict[str, int]:
    return dict(_STATS, entries=len(_STORE))


def clear(spark) -> int:
    """Release every entry ``spark`` holds; returns how many."""
    mine = [k for k in _STORE if k[0] is spark]
    for key in mine:
        _release(_STORE.pop(key))
    return len(mine)
