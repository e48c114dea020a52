"""Distributed connected components: alternating large-star / small-star.

The two-phase algorithm of Kiveris et al., "Connected Components in MapReduce
and Beyond" (SoCC 2014): each round rewires edges toward per-neighborhood
minima --

 - large-star: for every node u with neighborhood G(u) over the symmetrized
   edge set, emit (v, m) for each v in G(u) with v > u, where
   m = min(G(u) + {u});
 - small-star: edges now all point larger -> smaller; for every node u emit
   (v, m) for each smaller neighbor v plus (u, m), where m = min neighbor,
   dropping self-loops.

Both phases are one groupBy-min plus one equi-join on uniform keys -- the
same shuffle primitives as naive label propagation -- but the edge set
contracts toward stars in O(log n) rounds even on adversarial long-chain
graphs, where per-round propagation needs O(diameter) rounds.  At the
fixpoint every edge is (node, component-min), so labels fall out without a
further pass.

Lineage is truncated each round: ``localCheckpoint`` by default, or reliable
``checkpoint`` into ``checkpoint_dir`` (pass an HDFS/S3 path on a production
cluster to survive executor loss).

Driver finish for small graphs.  Each round is a checkpoint job over several
shuffle stages whatever the edge count, so a pair graph of a few dozen edges
paid for tens of near-empty jobs.  The distinct, self-loop-free edge set is
checkpointed first and its observed row count ``n`` is free; when
``n * 24 B`` (the UnsafeRow width of two longs) fits Spark's own
``spark.sql.autoBroadcastJoinThreshold`` -- the size Spark itself is willing
to ship to every executor -- the edges are collected through Arrow and
labelled on the driver by union-find (smaller root wins, so the label is the
component minimum, exactly as the rounds produce), and ``rounds == 0``.
Above the bound, or with the threshold at ``-1`` (Spark's "off"), the star
rounds run.  One INFO line per call records the edge count, the row bytes,
the bound, the path and the rounds.
"""

from __future__ import annotations

import logging

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

log = logging.getLogger("flatterer_spark")

#: UnsafeRow width of one (long, long) edge: 8 B null bitset + 2 x 8 B.
EDGE_ROW_BYTES = 24


def _large_star(e: DataFrame) -> DataFrame:
    s = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = (
        s.groupBy("u").agg(F.min("v").alias("mn"))
        .select("u", F.least("mn", F.col("u")).alias("m"))
    )
    return (
        s.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    # invariant from large-star: every edge has u > v
    mins = e.groupBy("u").agg(F.min("v").alias("m"))
    return (
        e.join(mins, "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .union(mins.select("u", F.col("m").alias("v")))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _broadcast_bound(spark) -> int:
    """The session's ``spark.sql.autoBroadcastJoinThreshold`` in bytes, as
    the JVM parses it (``-1`` = broadcast disabled)."""
    return int(spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold())


def _driver_labels(e: DataFrame) -> DataFrame:
    """(id, component) of the checkpointed edge set ``e`` by union-find on
    the driver; ids keep their Spark type."""
    import numpy as np
    import pyarrow as pa

    t = e.toArrow()
    n = t.num_rows
    ids, idx = np.unique(
        np.concatenate([t.column("u").to_numpy(), t.column("v").to_numpy()]),
        return_inverse=True,
    )
    # ids is sorted, so a smaller dense index is a smaller id: the root
    # that wins every union is the component minimum.
    parent = list(range(len(ids)))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in zip(idx[:n].tolist(), idx[n:].tolist()):
        ra, rb = find(a), find(b)
        if ra < rb:
            parent[rb] = ra
        elif rb < ra:
            parent[ra] = rb
    roots = np.fromiter((find(x) for x in range(len(ids))), np.int64, len(ids))
    id_type = t.schema.field("u").type
    return e.sparkSession.createDataFrame(
        pa.table({
            "id": pa.array(ids, id_type),
            "component": pa.array(ids[roots], id_type),
        })
    )


def connected_components_with_rounds(
    edges: DataFrame, max_rounds: int = 64, checkpoint_dir: str | None = None
) -> tuple[DataFrame, int]:
    """(labels, rounds): labels has (id, component) for every node appearing
    in ``edges`` (columns: two numeric ids per row, any names); component is
    the minimum id reachable.  ``rounds`` is the number of large+small star
    rounds run -- O(log n), exposed so tests can pin the convergence rate;
    0 when the edge set fits the broadcast bound and is labelled on the
    driver (see module docstring).

    ``checkpoint_dir``: when set, per-round lineage truncation uses RELIABLE
    ``checkpoint()`` into that directory (HDFS/S3 path on a cluster) so the
    iteration survives executor loss; default is ``localCheckpoint`` (fast,
    executor-local, the right trade on local mode / short jobs)."""
    spark = edges.sparkSession
    if checkpoint_dir is not None:
        spark.sparkContext.setCheckpointDir(checkpoint_dir)

        def _ckpt(df: DataFrame) -> DataFrame:
            return df.checkpoint()
    else:
        def _ckpt(df: DataFrame) -> DataFrame:
            return df.localCheckpoint()

    def _ckpt_sig(df: DataFrame) -> tuple[DataFrame, tuple]:
        # The convergence signature rides the checkpoint job as observed
        # metrics (same aggregates over the same rows), so each round runs
        # ONE job instead of checkpoint + separate agg -- the loop body was
        # two near-floor jobs per round and the signature half is free here.
        from pyspark.sql import Observation

        obs = Observation()
        out = _ckpt(
            df.observe(
                obs,
                F.count(F.lit(1)).alias("n"),
                F.sum("u").alias("su"),
                F.sum("v").alias("sv"),
            )
        )
        m = obs.get
        return out, (m["n"], m["su"], m["sv"])

    a, b = edges.columns[:2]
    e, sig = _ckpt_sig(
        edges.select(F.col(a).alias("u"), F.col(b).alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )
    n = sig[0]
    bound = _broadcast_bound(spark)
    if 0 <= bound and n * EDGE_ROW_BYTES <= bound:
        labels, rounds = _driver_labels(e), 0
        path = "driver"
    else:
        labels, rounds = _star_rounds(e, sig, max_rounds, _ckpt, _ckpt_sig)
        path = "rounds"
    log.info(
        "connected_components: edges=%d row_bytes=%d bound=%d path=%s rounds=%d",
        n, n * EDGE_ROW_BYTES, bound, path, rounds,
    )
    return labels, rounds


def _star_rounds(
    e: DataFrame, sig: tuple, max_rounds: int, ckpt, ckpt_sig
) -> tuple[DataFrame, int]:
    """Large-star/small-star rounds from the checkpointed edge set ``e``
    (convergence signature ``sig``) to the star fixpoint, then labels;
    ``ckpt``/``ckpt_sig`` truncate lineage as the caller chose."""
    nodes = ckpt(
        e.select("u").union(e.select("v"))
        .distinct()
        .select(F.col("u").alias("id"))
    )

    rounds = 0
    while rounds < max_rounds:
        prev = e
        e, cur = ckpt_sig(_small_star(_large_star(e)))
        rounds += 1
        # cheap signature first; on a signature match confirm true set
        # equality (both sides are distinct, so equal counts + empty
        # difference <=> identical sets) -- a signature collision between
        # two different edge sets must not end contraction early.
        if cur == sig and e.exceptAll(prev).isEmpty():
            break
        sig = cur
    else:
        log.warning(
            "connected_components: no fixpoint after %d rounds; labels may "
            "span unconverged components", max_rounds,
        )

    # fixpoint edge set is a star per component: (node, component-min)
    labels = (
        nodes.join(e, nodes.id == e.u, "left")
        .groupBy("id")
        .agg(F.min(F.coalesce(F.col("v"), F.col("id"))).alias("component"))
    )
    return labels, rounds


def connected_components(
    edges: DataFrame, max_rounds: int = 64, checkpoint_dir: str | None = None
) -> DataFrame:
    """Star-contraction connected components; see module docstring."""
    return connected_components_with_rounds(edges, max_rounds, checkpoint_dir)[0]
