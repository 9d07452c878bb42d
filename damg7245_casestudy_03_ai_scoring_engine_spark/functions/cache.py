"""Tracked DataFrame persistence.

Query functions return LAZY DataFrames, so a `.persist()` inside one
cannot be paired with an in-function `.unpersist()` — the cache must
outlive the function for the caller's collect to benefit.  Before
this module, every such cache leaked for the life of the session; a
~170-query driver/pytest run accumulated cached blocks from each
persisting query and added executor memory pressure at larger scale
factors.

`tracked_persist(df, tag)` bounds that: at most ONE live cache per
tag — re-invoking the same query first unpersists the previous
invocation's frame — and `release_all()` (wired into test teardown
and bench.py's per-query loop) drops everything between queries.

Session metadata (inferred schemas, resolved file indexes, scratch
layout paths, persisted index frames) goes through `session_memo` /
`session_persist`: one dict held on the SparkSession object, so its
entries live and die with their session and a `newSession()` starts
empty.  `dataset_tag` is the one rule for naming a dataset in a key.
"""

from __future__ import annotations

import hashlib
import os
import re
from typing import Callable, Hashable, TypeVar

from pyspark.sql import DataFrame, SparkSession

_LIVE: dict[str, DataFrame] = {}

V = TypeVar("V")


def dataset_tag(sf_dir: str) -> str:
    """Memo/layout tag for a dataset directory: basename + abspath
    hash, so two datasets sharing a directory basename in one session
    never reuse each other's layout, index or cell filing."""
    base = re.sub(r"[^0-9a-zA-Z]+", "_", sf_dir.rstrip("/").rsplit("/", 1)[-1])
    h = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:8]
    return f"{base}_{h}"


def _memo(spark: SparkSession) -> dict:
    return vars(spark).setdefault("_session_memo", {})


def session_memo(
    spark: SparkSession,
    key: Hashable,
    build: Callable[[], V],
    valid: Callable[[V], bool] | None = None,
) -> V:
    """The value memoized under `key` for this session, running
    `build()` on a miss — or when `valid` rejects the stored value,
    which is then replaced."""
    memo = _memo(spark)
    if key not in memo or (valid is not None and not valid(memo[key])):
        memo[key] = build()
    return memo[key]


def session_persist(
    spark: SparkSession, key: str, build: Callable[[], DataFrame]
) -> DataFrame:
    """Session-memoized persisted frame: build once per (session, key)
    and persist it via tracked_persist under `key` as the tag.  A
    memoized frame that comes back unpersisted (release_all() clears
    the cache, not the memo) is RE-persisted, not rebuilt — otherwise
    every later consumer in the session would recompute it per action."""
    memo = _memo(spark)
    df = memo.get(key)
    if df is None:
        df = memo[key] = tracked_persist(build(), key)
    elif not (df.storageLevel.useMemory or df.storageLevel.useDisk):
        df = memo[key] = tracked_persist(df, key)
    return df


def tracked_persist(df: DataFrame, tag: str) -> DataFrame:
    """Persist `df` (MEMORY_AND_DISK) under `tag`, unpersisting any
    previous frame cached under the same tag.

    If the previous frame is semantically identical (same canonical
    plan — e.g. the same query re-invoked on the same data), it is
    RETURNED instead of replaced, so repeat invocations hit the warm
    cache rather than recompute — the behavior a reused silver table
    has in production.  A different plan (other sf_dir, changed
    params) evicts and replaces."""
    prev = _LIVE.get(tag)
    if prev is not None:
        try:
            if df.sameSemantics(prev):
                return prev
        except Exception:
            pass  # cross-session frame; fall through and replace
        _LIVE.pop(tag, None)
        try:
            prev.unpersist()
        except Exception:
            pass  # session may be gone; nothing to release
    out = df.persist()
    _LIVE[tag] = out
    return out


def release_all() -> int:
    """Unpersist every tracked cache; returns how many were dropped.
    Safe to call between queries — never while a returned-but-not-yet-
    collected DataFrame still needs its cache."""
    n = 0
    for tag in list(_LIVE):
        df = _LIVE.pop(tag)
        try:
            df.unpersist()
            n += 1
        except Exception:
            pass
    return n
