"""Cheap source-data fingerprints for session-scoped caches.

Several operators stage expensive derived artifacts once per
(session, sf_dir) -- shingle sets, span fingerprints, embedding norms,
LSH bands, pHash signatures, cluster labels, learned models.  Keying
those caches on the backing parquet's (path, mtime_ns, size) tuple means
regenerating testdata at the same path within one session invalidates
the staged artifact instead of silently serving results computed from
the OLD file while the DuckDB oracle reads the new one (ADVICE r3; the
round-9 review found the shingle/span/norm/band/pairs/phash views had
no invalidation at all).  One shared helper so the sentinel behavior
cannot drift between call sites.
"""

from __future__ import annotations

import os


def table_fingerprint(sf_dir: str, table: str) -> tuple:
    """(path, mtime_ns, size) per file backing ``<sf_dir>/<table>.parquet``
    (single file or directory dataset).  Missing paths fingerprint as
    (path, None, None) -- stable, and distinct from any real stat."""
    path = os.path.join(sf_dir, f"{table}.parquet")
    paths = [path]
    if os.path.isdir(path):
        paths = [os.path.join(path, p) for p in sorted(os.listdir(path))]
    fp = []
    for p in paths:
        try:
            st = os.stat(p)
            fp.append((p, st.st_mtime_ns, st.st_size))
        except OSError:
            fp.append((p, None, None))
    return tuple(fp)


def fresh_cache_key(cache: dict, spark, sf_dir: str, table: str) -> tuple:
    """Cache key (applicationId, sf_dir, fingerprint) for the staged-view
    caches; any SUPERSEDED entry for the same (session, sf_dir) is
    evicted and its persisted DataFrame unpersisted so a regenerated
    source does not leak the stale cached artifact.  The applicationId,
    not id(spark): a stopped session's object id can be reused by a new
    SparkSession, which would then be served a DataFrame bound to the
    dead one (the same rule as ``queries.T``)."""
    key = (
        spark.sparkContext.applicationId, sf_dir, table_fingerprint(sf_dir, table)
    )
    stale = [k for k in cache if k[:2] == key[:2] and k != key]
    for k in stale:
        old = cache.pop(k)
        try:
            old.unpersist()
        except Exception:  # str-valued caches (staged parquet names)
            pass
    return key
