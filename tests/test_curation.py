"""Corpus-curation operators: oracle parity plus the semantic invariants
each operator exists to provide (split stability, mixing monotonicity,
prefix-sum equivalence, connected-components fixpoint)."""

from __future__ import annotations

import pytest

from flatterer_spark.curation import CURATION_ORACLE, CURATION_QUERIES
from tests.conftest import plan_of
from tests.oracle_util import compare, duck_con


@pytest.fixture(scope="module")
def con(sf_dir):
    c = duck_con(sf_dir)
    yield c
    c.close()


@pytest.mark.parametrize("name", sorted(CURATION_QUERIES))
def test_curation_matches_oracle(name, spark, sf_dir, con):
    df = CURATION_QUERIES[name](spark, sf_dir)
    problems = compare(df, con, CURATION_ORACLE[name])
    assert not problems, f"{name}: {problems}"


def test_split_assign_stable_under_corpus_subset(spark, sf_dir):
    """Split membership is a pure function of (salt, doc_id): restricting the
    corpus must not move any surviving doc across splits."""
    from flatterer_spark.curation import sql_split_assign
    from flatterer_spark.functions.textgen import Gen
    from flatterer_spark.queries import T

    docs = T(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("documents")
    full = {r.doc_id: r.split for r in spark.sql(
        sql_split_assign(Gen(spark=True))).collect()}
    docs.where("doc_id % 2 = 0").createOrReplaceTempView("documents")
    half = {r.doc_id: r.split for r in spark.sql(
        sql_split_assign(Gen(spark=True))).collect()}
    docs.createOrReplaceTempView("documents")  # restore for other tests
    assert half == {k: v for k, v in full.items() if k % 2 == 0}
    assert set(full.values()) == {"train", "val", "test"}


def test_mix_weighted_monotone_in_rate(spark, sf_dir):
    """Hash-threshold sampling: every doc kept at rate r survives at any
    rate >= r (raising a weight only adds docs)."""
    kept = CURATION_QUERIES["mix_weighted"](spark, sf_dir).collect()
    by_rate: dict[float, set[int]] = {}
    for r in kept:
        by_rate.setdefault(r.rate, set()).add(r.doc_id)
    # reconstruct each doc's hash fraction from the full corpus and check
    # the kept set is exactly {frac < rate} -- i.e. threshold semantics,
    # which imply monotonicity
    from flatterer_spark.queries import T
    import pyspark.sql.functions as F

    docs = T(spark, sf_dir, "documents").select(
        "doc_id",
        (F.conv(F.substring(F.md5(F.concat(F.lit("mix-v1:"),
            F.col("doc_id").cast("string"))), 1, 8), 16, 10)
         .cast("long") / F.lit(4294967296.0)).alias("frac"),
    ).collect()
    frac = {r.doc_id: r.frac for r in docs}
    for rate, ids in by_rate.items():
        assert all(frac[i] < rate for i in ids)


def test_pack_shards_two_phase_equals_global_window(spark, sf_dir):
    """The distributed two-phase prefix sum must equal the single-window
    spec exactly, and its plan must contain no partition-less window."""
    from flatterer_spark.curation import sql_pack_shards
    from flatterer_spark.functions.textgen import Gen
    from flatterer_spark.queries import T

    T(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    spec = spark.sql(sql_pack_shards(Gen(spark=True))).collect()
    dist_df = CURATION_QUERIES["pack_shards"](spark, sf_dir)
    dist = dist_df.collect()
    assert sorted(map(tuple, spec)) == sorted(map(tuple, dist))
    # plan contract: every windowexec partitions on the bucket column
    plan = plan_of(dist_df)
    assert "Window" in plan
    assert "_b" in plan  # bucketed, not global


def test_pack_shards_shards_are_contiguous_and_bounded(spark, sf_dir):
    from flatterer_spark.curation import SHARD_TOKENS

    rows = sorted(
        CURATION_QUERIES["pack_shards"](spark, sf_dir).collect(),
        key=lambda r: r.doc_id,
    )
    # shard ids are non-decreasing in doc order and start at 0
    shards = [r.shard for r in rows]
    assert shards[0] == 0
    assert all(a <= b for a, b in zip(shards, shards[1:]))
    # a shard's token load exceeds SHARD_TOKENS only via its final document
    # (each doc is assigned by its start offset)
    load: dict[int, int] = {}
    for r in rows:
        load[r.shard] = load.get(r.shard, 0) + r.n_tok
    for s, tot in load.items():
        if s != max(shards):
            last_doc = max(r.n_tok for r in rows if r.shard == s)
            assert tot - last_doc < SHARD_TOKENS


def test_dedup_cluster_is_cc_fixpoint(spark, sf_dir):
    """Cluster labels must be the true connected-components answer for the
    pair graph: every edge joins two docs with the same cluster_id, and the
    cluster_id is the min doc_id of its member set."""
    from flatterer_spark.ext_queries import EXT_QUERIES

    pairs = [
        (r.id1, r.id2)
        for r in EXT_QUERIES["dedup_minhash_lsh"](spark, sf_dir).collect()
    ]
    got = {
        r.doc_id: r.cluster_id
        for r in CURATION_QUERIES["dedup_cluster"](spark, sf_dir).collect()
    }
    assert pairs, "degenerate: no duplicate pairs at this sf"
    for a, b in pairs:
        assert got[a] == got[b]
    # union-find ground truth
    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent[find(a)] = find(b)
    want_members: dict[int, set[int]] = {}
    for n in parent:
        want_members.setdefault(find(n), set()).add(n)
    for members in want_members.values():
        labels = {got[m] for m in members}
        assert labels == {min(members)}
    assert set(got) == set(parent)


def test_staged_caches_key_on_application_id(spark, sf_dir):
    """The cluster-label and staged-view caches key on the session's
    applicationId, never on id(spark): a stopped session's object id can be
    reused by a new session, which must not be served a DataFrame bound to
    the dead one."""
    from types import SimpleNamespace

    import flatterer_spark.curation as C
    from flatterer_spark.functions.fingerprint import fresh_cache_key

    C._cluster_labels(spark, sf_dir)
    app = spark.sparkContext.applicationId
    assert {k[0] for k in C._label_cache if k[1] == sf_dir} == {app}

    # one Python object, two applications: two keys
    cache: dict = {}
    stand_in = SimpleNamespace(sparkContext=SimpleNamespace(applicationId="a1"))
    first = fresh_cache_key(cache, stand_in, sf_dir, "documents")
    stand_in.sparkContext.applicationId = "a2"
    assert fresh_cache_key(cache, stand_in, sf_dir, "documents") != first


def test_decontaminate_flags_planted_overlap(spark, sf_dir, con):
    """A doc sharing a benchmark doc's exact text must be flagged; benchmark
    docs themselves never appear in the output."""
    import pyspark.sql.functions as F

    df = CURATION_QUERIES["decontaminate"](spark, sf_dir)
    rows = df.collect()
    from flatterer_spark.curation import BENCH_MOD

    assert all(r.doc_id % BENCH_MOD != 0 for r in rows)
    assert any(r.contaminated for r in rows) or all(
        r.n_shared == 0 for r in rows
    )
    # n_shared is bounded by the doc's own distinct-gram count
    from flatterer_spark.queries import T

    grams = (
        T(spark, sf_dir, "documents")
        .select("doc_id", F.expr(
            "size(array_distinct(transform("
            "  sequence(1, size(split(text,' ')) - 2),"
            "  i -> array_join(slice(split(text,' '), i, 3), ' '))))"
        ).alias("n_grams"))
        .collect()
    )
    cap = {r.doc_id: r.n_grams for r in grams}
    for r in rows:
        assert r.n_shared <= cap[r.doc_id]


def test_curate_pipeline_composes_individual_operators(spark, sf_dir):
    """Row-level composability (VERDICT r3 #8): the one-scan pipeline's gate
    flags and keep-set must equal the decisions of the standalone operators
    it composes -- dedup_exact canonicals, decontaminate flags, the token
    quality rule, and split_assign labels for kept docs."""
    import pyspark.sql.functions as F

    from flatterer_spark.curation import CURATION_QUERIES
    from flatterer_spark.ext_queries import EXT_QUERIES
    from flatterer_spark.queries import T

    pipe = {r.doc_id: r for r in
            CURATION_QUERIES["curate_pipeline"](spark, sf_dir).collect()}

    canonical = {r.canonical_doc for r in
                 EXT_QUERIES["dedup_exact"](spark, sf_dir).collect()}
    contaminated = {r.doc_id: r.contaminated for r in
                    CURATION_QUERIES["decontaminate"](spark, sf_dir).collect()}
    tok = {r.doc_id: r for r in
           EXT_QUERIES["text_token_stats"](spark, sf_dir).collect()}
    splits = {r.doc_id: r.split for r in
              CURATION_QUERIES["split_assign"](spark, sf_dir).collect()}

    n_docs = T(spark, sf_dir, "documents").count()
    n_bench = (
        T(spark, sf_dir, "documents").where(F.expr("doc_id % 97 = 0")).count()
    )
    assert len(pipe) == n_docs - n_bench  # bench docs excluded
    assert set(pipe) == set(contaminated)

    for doc_id, row in pipe.items():
        assert row.is_canonical == (doc_id in canonical), doc_id
        assert row.contaminated == contaminated[doc_id], doc_id
        t = tok[doc_id]
        quality_ok = t.n_tokens >= 10 and t.n_distinct / t.n_tokens >= 0.3
        assert row.quality_ok == quality_ok, doc_id
        keep = row.is_canonical and not row.contaminated and quality_ok
        assert row.keep == keep, doc_id
        assert row.split == (splits[doc_id] if keep else None), doc_id

    assert any(r.keep for r in pipe.values())
    assert any(not r.keep for r in pipe.values())


def test_mix_temperature_keeps_rarest_lang_whole(spark, sf_dir):
    """Temperature mixing invariants: the rarest language has rate 1 (kept
    whole), every language keeps a non-empty subset, and the dominant
    language is flattened below its raw share."""
    import pyspark.sql.functions as F

    from flatterer_spark.curation import CURATION_QUERIES
    from flatterer_spark.queries import T

    full = {
        r["lang"]: r["n"]
        for r in T(spark, sf_dir, "documents")
        .groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    kept: dict[str, int] = {}
    for r in CURATION_QUERIES["mix_temperature"](spark, sf_dir).collect():
        kept[r.lang] = kept.get(r.lang, 0) + 1

    rarest = min(full, key=full.get)
    dominant = max(full, key=full.get)
    assert kept[rarest] == full[rarest]  # rate = 1 at n_l = n_min
    assert all(kept.get(l, 0) > 0 for l in full)
    # dominant flattened: kept share strictly below raw share
    assert kept[dominant] / sum(kept.values()) < full[dominant] / sum(full.values())


def test_pack_sequences_two_phase_equals_global_window(spark, sf_dir):
    """Same contract as pack_shards: the distributed prefix sum must equal
    the single-window spec exactly, with no partition-less window."""
    from flatterer_spark.curation import sql_pack_sequences
    from flatterer_spark.functions.textgen import Gen
    from flatterer_spark.queries import T

    T(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    spec = spark.sql(sql_pack_sequences(Gen(spark=True))).collect()
    dist_df = CURATION_QUERIES["pack_sequences"](spark, sf_dir)
    dist = dist_df.collect()
    assert sorted(map(tuple, spec)) == sorted(map(tuple, dist))
    plan = plan_of(dist_df)
    assert "Window" in plan
    assert "_b" in plan  # bucketed, not global


def test_pack_sequences_covers_stream_contiguously(spark, sf_dir):
    """Sequence spans tile the global token stream: each doc starts where
    the previous ended (same seq or the next one), n_seqs matches the
    start/end arithmetic, and the implied per-sequence load is exactly
    SEQ_TOKENS for every interior sequence."""
    from flatterer_spark.curation import SEQ_TOKENS

    rows = sorted(
        CURATION_QUERIES["pack_sequences"](spark, sf_dir).collect(),
        key=lambda r: r.doc_id,
    )
    assert rows[0].start_seq == 0
    cum = 0
    for r in rows:
        assert r.start_seq == cum // SEQ_TOKENS
        cum += r.n_tok
        assert r.end_seq == (cum - 1) // SEQ_TOKENS
        assert r.n_seqs == r.end_seq - r.start_seq + 1 >= 1
    # total sequences = ceil(total tokens / L)
    assert rows[-1].end_seq == (cum - 1) // SEQ_TOKENS
