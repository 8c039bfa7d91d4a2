"""Caller-owned lifecycle for operator-internal persisted frames.

An operator may persist an intermediate frame that feeds two or more
consumers (``extract(single_scan=True)`` persists the classified frame
that both of its branches read).  The persist is a plan property — the
returned DataFrame is still lazy — so the operator cannot unpersist
before the caller has run its action.  Instead the operator
*registers* its persisted dependencies on the frame it returns; when
the caller is done it calls :func:`unpersist_deps` to release the
cached blocks.  In a long-lived session (a notebook, the
driver's oracle sweep) this keeps repeated operator calls from
accumulating cached blocks until eviction.

Frames derived from the returned one (``df.select(...)`` etc.) do not
inherit the registration — hold on to the operator's direct return
value if you intend to release its caches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_ATTR = "_mimeo_persisted"


def register_persisted(df: DataFrame, *persisted: DataFrame) -> DataFrame:
    """Record `persisted` frames as cache dependencies of `df`."""
    deps = list(getattr(df, _ATTR, []))
    deps.extend(persisted)
    setattr(df, _ATTR, deps)
    return df


def persisted_deps(df: DataFrame) -> list[DataFrame]:
    return list(getattr(df, _ATTR, []))


def unpersist_deps(df: DataFrame, blocking: bool = False) -> int:
    """Unpersist every registered dependency of `df`; returns how many
    frames were released."""
    deps = persisted_deps(df)
    for d in deps:
        d.unpersist(blocking=blocking)
    if deps:
        setattr(df, _ATTR, [])
    return len(deps)

