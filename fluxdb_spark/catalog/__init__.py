"""The query catalog: every operator the engine claims, as a named
(spark_builder, oracle_sql) pair — package facade.

The flat catalog.py outgrew review (11k+ lines), so entries now live in
per-category modules behind this unchanged facade: ``catalog()`` is
re-exported from ``_core``, entry functions and shared finishers are
hoisted into this namespace so every historical access path
(``from fluxdb_spark.catalog import flux_state_at``,
``cat._ivf_balance_finish``) keeps working.  See each submodule's
docstring for its slice of SURVEY §2.

``catalog()`` order is derived from the committed ``CORRECTNESS_r*.json``
stamps (``_core.window_order``): oracle entries first, never-stamped then
oldest stamp first, ties in registration order, rows-only entries last.
``_PRIORITY`` is that order as names, computed on access (after every
category module has registered); no hand-kept list or rotation commit is
involved.
"""

from __future__ import annotations

from fluxdb_spark.catalog._core import (  # noqa: F401
    QuerySpec,
    _SPECS,
    _q,
    _t,
    _td,
    catalog,
    correctness_stamps,
    window_order,
)

# Importing the category modules registers their @_q entries in _SPECS.
# Import order is registration order, which breaks ties in catalog()'s
# derived order, so keep it stable.
from fluxdb_spark.catalog import _shared  # noqa: E402,F401
from fluxdb_spark.catalog import temporal  # noqa: E402,F401
from fluxdb_spark.catalog import relational  # noqa: E402,F401
from fluxdb_spark.catalog import pipeline  # noqa: E402,F401
from fluxdb_spark.catalog import streaming  # noqa: E402,F401

# Compatibility hoist: the flat module exposed every top-level name
# (entry functions, SQL constants, finishers, caches).  setdefault keeps
# _core's names authoritative; submodules have no colliding defs.
for _m in (_shared, temporal, relational, pipeline, streaming):
    for _k, _v in vars(_m).items():
        if not _k.startswith("__"):
            globals().setdefault(_k, _v)
del _m, _k, _v


def __getattr__(name: str):
    # ``_PRIORITY`` is computed on access, once every category module has
    # registered, so importing the package reads no artifact file.
    if name == "_PRIORITY":
        return [s.name for s in catalog()]
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
