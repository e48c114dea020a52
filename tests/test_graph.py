"""Connected-components operator: correctness vs a driver-side union-find
and the O(log n) convergence-rate contract on an adversarial path graph.

Every case runs on both paths: the driver finish (edges within
``spark.sql.autoBroadcastJoinThreshold``, ``rounds == 0``) and the star
rounds (threshold ``-1``)."""

from __future__ import annotations

import logging
import random

import pytest

from flatterer_spark.operators.graph import (
    EDGE_ROW_BYTES,
    connected_components_with_rounds,
)

_THRESHOLD = "spark.sql.autoBroadcastJoinThreshold"


@pytest.fixture
def threshold(spark):
    """Setter for the session's broadcast threshold, restored afterwards."""
    saved = spark.conf.get(_THRESHOLD)
    yield lambda value: spark.conf.set(_THRESHOLD, value)
    spark.conf.set(_THRESHOLD, saved)


@pytest.fixture
def cc_paths(spark, threshold):
    """Run ``connected_components_with_rounds`` on the driver path (the
    default threshold) and on the rounds path (``-1``), checking each
    path's round count and that both give the same labels."""
    default = spark.conf.get(_THRESHOLD)

    def run(df, **kw):
        out = {}
        for path, value in (("driver", default), ("rounds", "-1")):
            threshold(value)
            labels, rounds = connected_components_with_rounds(df, **kw)
            got = {r["id"]: r["component"] for r in labels.collect()}
            if path == "driver":
                assert rounds == 0, rounds
            else:
                assert 1 <= rounds <= 10, rounds
            out[path] = got
        assert out["driver"] == out["rounds"]
        return out["driver"]

    return run


def _union_find(n_ids, edges):
    parent = {i: i for i in n_ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical label = min id in component
    comp = {}
    for i in n_ids:
        comp.setdefault(find(i), []).append(i)
    return {i: min(members) for members in comp.values() for i in members}


def test_path_graph_converges_in_log_rounds(spark, cc_paths):
    """A 50-edge path (diameter 50) is the adversarial case for per-round
    label propagation (50 rounds); star contraction must finish in O(log n)
    (``cc_paths`` pins ``rounds <= 10`` on the rounds path)."""
    edges = [(i, i + 1) for i in range(50)]
    df = spark.createDataFrame(edges, "a long, b long")
    assert cc_paths(df) == {i: 0 for i in range(51)}


def test_random_graph_matches_union_find(spark, cc_paths):
    rng = random.Random(42)
    ids = list(range(200))
    edges = [(rng.choice(ids), rng.choice(ids)) for _ in range(120)]
    edges = [(a, b) for a, b in edges if a != b]
    touched = sorted({x for e in edges for x in e})
    expected = _union_find(touched, edges)

    df = spark.createDataFrame(edges, "a long, b long")
    assert cc_paths(df) == expected


def test_two_components_and_self_loops(spark, cc_paths):
    edges = [(1, 2), (2, 3), (10, 11), (11, 10), (5, 5)]
    df = spark.createDataFrame(edges, "a long, b long")
    # self-loop-only node 5 carries no merge decision and is dropped
    assert cc_paths(df) == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_empty_edges(spark, cc_paths):
    df = spark.createDataFrame([], "a long, b long")
    assert cc_paths(df) == {}


def test_reliable_checkpoint_dir(spark, cc_paths, tmp_path):
    """checkpoint_dir= switches per-round lineage truncation to reliable
    checkpoint() -- same labels, and RDD checkpoint files actually land in
    the directory (cluster fault-tolerance path, VERDICT r3 #6)."""
    import os

    ckpt = str(tmp_path / "ckpt")
    edges = [(i, i + 1) for i in range(20)] + [(100, 101)]
    df = spark.createDataFrame(edges, "a long, b long")
    expected = {i: 0 for i in range(21)}
    expected.update({100: 100, 101: 100})
    assert cc_paths(df, checkpoint_dir=ckpt) == expected
    # reliable checkpoints materialized on disk
    walked = [f for _, _, fs in os.walk(ckpt) for f in fs]
    assert walked, "no reliable checkpoint files written"


def test_driver_path_boundary(spark, threshold):
    """The driver finish takes edge sets up to threshold / 24 B: with the
    threshold at 30 x 24 B, 30 edges finish on the driver, 31 run rounds."""
    threshold(str(30 * EDGE_ROW_BYTES))
    for n_edges, want_driver in ((30, True), (31, False)):
        df = spark.createDataFrame(
            [(i, i + 1) for i in range(n_edges)], "a long, b long"
        )
        labels, rounds = connected_components_with_rounds(df)
        assert (rounds == 0) == want_driver, (n_edges, rounds)
        assert {r["component"] for r in labels.collect()} == {0}


def test_int_ids_keep_their_type(spark, threshold):
    df = spark.createDataFrame([(3, 4), (4, 5), (7, 8)], "a int, b int")
    for value in (spark.conf.get(_THRESHOLD), "-1"):
        threshold(value)
        labels, _ = connected_components_with_rounds(df)
        assert [f.dataType.simpleString() for f in labels.schema] == [
            "int", "int"
        ]
        got = {r["id"]: r["component"] for r in labels.collect()}
        assert got == {3: 3, 4: 3, 5: 3, 7: 7, 8: 7}


def test_logs_one_info_line_per_call(spark):
    # a handler on the package logger itself: logutil.setup_logging turns
    # propagation off, which would hide the record from caplog
    records: list[logging.LogRecord] = []
    handler = logging.Handler(logging.INFO)
    handler.emit = records.append
    log = logging.getLogger("flatterer_spark")
    saved_level = log.level
    log.addHandler(handler)
    log.setLevel(logging.INFO)
    df = spark.createDataFrame([(1, 2), (2, 3), (3, 3)], "a long, b long")
    try:
        connected_components_with_rounds(df)
    finally:
        log.removeHandler(handler)
        log.setLevel(saved_level)
    lines = [
        r.getMessage() for r in records
        if r.getMessage().startswith("connected_components:")
    ]
    bound = spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
    assert lines == [
        f"connected_components: edges=2 row_bytes=48 bound={bound} "
        "path=driver rounds=0"
    ]
