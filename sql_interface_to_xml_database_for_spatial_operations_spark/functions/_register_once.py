"""Per-session memo for UDF registration (guide §4.5 applied to the
registration path itself).

Every ``spark.udf.register`` is a driver py4j round trip, so registering
the whole function library costs a noticeable fraction of a second.
``functions.families.register_all`` runs on EVERY query invocation (the
registry's entry hook calls it, which is correct: a vanilla
caller-supplied session needs the functions), yet registration is
session-level state that never changes after the first call.

``once_per_session`` memoizes "this registration ran" ON THE SESSION
OBJECT (``spark.__dict__``), so:

- the first call on any session registers normally;
- repeat calls on the same session return immediately;
- a NEW session (vanilla test sessions, a fresh driver harness) gets a
  fresh memo and registers from scratch — nothing is cached across
  sessions or processes;
- the memo is recorded only after the wrapped call SUCCEEDS, so a
  failed registration retries on the next call.

This memoizes registration side effects, never data or results.
"""

from __future__ import annotations

import functools

_ATTR = "_graft_registered_udf_groups"


def once_per_session(fn):
    """Decorator for a ``register_*(spark)`` function: run the body once
    per SparkSession object, then no-op for that session."""
    key = f"{fn.__module__}.{fn.__qualname__}"

    @functools.wraps(fn)
    def wrapper(spark, *args, **kwargs):
        groups = spark.__dict__.setdefault(_ATTR, set())
        if key in groups:
            return None
        out = fn(spark, *args, **kwargs)
        groups.add(key)
        return out

    return wrapper
