"""Counting and timing wrappers around the engine's layer entry points.

Operators bind ``load_table`` and ``read_staged`` by name when they are
imported (``from ..tables import load_table``), so :func:`install` must
run before the query registry (``__spark_entry__``) is imported: it
replaces the module attributes, and every later import binds the wrapper.

Wrapped entry points, by module:

- ``tables.load_table``                  -> span ``tables``
- ``staging.read_staged``                -> span ``staging``
- ``staging.keyed_staging_dir``          -> builds / hits, staged paths
- ``operators.planmemo.memo``            -> span ``planmemo``, hits / misses
- ``operators.caching.persist_tracked``  -> calls
- ``operators.caching.release_tracked``  -> span ``caching``
"""

from __future__ import annotations

import functools
import os
from collections import Counter

from spans import Tracer


class Layers:
    """Counters for the wrapped calls; spans go to ``tracer``. Counting
    and span recording both follow ``tracer.enabled``."""

    def __init__(self, tracer: Tracer) -> None:
        self.tracer = tracer
        self.counts: Counter = Counter()
        self.built_dirs: list[str] = []

    def _timed(self, fn, name: str, kind: str):
        tracer, counts = self.tracer, self.counts

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            counts[name + ".calls"] += 1
            with tracer.span(name, kind):
                return fn(*args, **kwargs)

        return wrapper

    def install(self) -> None:
        from mapreduce_simulation_spark import staging, tables
        from mapreduce_simulation_spark.operators import caching, planmemo

        tables.load_table = self._timed(tables.load_table, "tables.load_table", "tables")
        staging.read_staged = self._timed(staging.read_staged, "staging.read_staged", "staging")
        caching.persist_tracked = self._timed(
            caching.persist_tracked, "caching.persist_tracked", "caching")
        caching.release_tracked = self._timed(
            caching.release_tracked, "caching.release_tracked", "caching")

        keyed = staging.keyed_staging_dir
        tracer, counts, built = self.tracer, self.counts, self.built_dirs

        @functools.wraps(keyed)
        def keyed_staging_dir(prefix, key):
            path, staged = keyed(prefix, key)
            if tracer.enabled:
                counts["staging.keyed_staging_dir.hits" if staged
                       else "staging.keyed_staging_dir.builds"] += 1
            if not staged:
                built.append(path)
            return path, staged

        staging.keyed_staging_dir = keyed_staging_dir

        memo = planmemo.memo

        @functools.wraps(memo)
        def memo_wrapper(spark, key, build):
            if not tracer.enabled:
                return memo(spark, key, build)
            ran = []

            def counted_build():
                ran.append(True)
                return build()

            with tracer.span("planmemo.memo", "planmemo"):
                df = memo(spark, key, counted_build)
            counts["planmemo.misses" if ran else "planmemo.hits"] += 1
            return df

        planmemo.memo = memo_wrapper

    def staged_bytes(self) -> int:
        """Bytes on disk under every staging directory built so far."""
        total = 0
        for top in self.built_dirs:
            for d, _, files in os.walk(top):
                for f in files:
                    try:
                        total += os.path.getsize(os.path.join(d, f))
                    except OSError:
                        pass
        return total
