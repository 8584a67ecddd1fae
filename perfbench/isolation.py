"""State checks run after every pass: a pass may leave nothing behind
that a later pass or workload could read.

Checked: Spark's CacheManager, the engine's ``cache`` registry and the
scratch directories it tracked, the session's conf, the job description
of the calling thread, active streaming queries, and the pass's own
output and checkpoint directories.

One engine leak is known: ``operators.default_curves.default_statistics``
caches its variant-curve frame with a bare ``.cache()`` that nothing
releases.  Its entry is recognised by plan, counted and released; any
other CacheManager entry is a violation.
"""

from __future__ import annotations

import os

from dystonse_gtfs_data_spark import cache as engine_cache


def _conf(spark) -> dict[str, str]:
    return dict(spark.conf.getAll)


class Isolation:
    def __init__(self, spark):
        self.spark = spark
        self.conf = _conf(spark)
        self.known_leaks = 0  # default_statistics' untracked cache, released

    def _cache_manager(self):
        return self.spark._jsparkSession.sharedState().cacheManager()  # noqa: SLF001

    def release_known_leak(self, frame) -> None:
        """Count and release the CacheManager entry of ``frame`` if one
        exists (the known untracked ``.cache()``, rebuilt by the caller
        from the same inputs so the plans match)."""
        if self._cache_manager().lookupCachedData(frame._jdf).isDefined():  # noqa: SLF001
            self.known_leaks += 1
            frame.unpersist()

    def check(self, fresh_dirs: list[str] = ()) -> list[str]:
        """Release the engine's tracked persists (the harness contract of
        ``cache.release_persisted``) and return every violation found."""
        tracked_dirs = list(engine_cache._TMPDIRS)  # noqa: SLF001
        engine_cache.release_persisted()
        problems = []
        if not self._cache_manager().isEmpty():
            problems.append("CacheManager holds entries no one released")
        if engine_cache._LIVE or engine_cache._TMPDIRS:  # noqa: SLF001
            problems.append("cache registry not empty after release_persisted")
        problems += [f"tracked scratch dir remains: {d}" for d in tracked_dirs if os.path.exists(d)]
        conf = _conf(self.spark)
        if conf != self.conf:
            changed = {k for k in set(self.conf) | set(conf) if self.conf.get(k) != conf.get(k)}
            problems.append(f"spark.conf changed: {sorted(changed)}")
        desc = self.spark.sparkContext.getLocalProperty("spark.job.description")
        if desc is not None:
            problems.append(f"job description left set: {desc}")
        if self.spark.streams.active:
            problems.append("streaming query still active")
        problems += [f"output dir remains: {d}" for d in fresh_dirs if os.path.exists(d)]
        return problems


def require_fresh(*dirs: str) -> None:
    """A pass writes only to directories that do not exist yet."""
    for d in dirs:
        if os.path.exists(d):
            raise RuntimeError(f"output dir is not fresh: {d}")
