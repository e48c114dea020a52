"""Corpus-curation operators: the decisions a training-data pipeline makes
AFTER per-document analysis -- duplicate-cluster resolution, benchmark
decontamination, deterministic splits, weighted source mixing, token-aware
sharding.

Same contract as ``ext_queries``: each operator is declared once as a SQL
builder over :class:`flatterer_spark.functions.textgen.Gen` and instantiated
for both engines, so the driver's value-hash gate compares the identical
expression tree.  Two operators additionally carry a hand-built Spark *scale
path* (registered in ``CURATION_QUERIES``) that produces byte-identical
results to the declarative oracle:

 - ``dedup_cluster``: the oracle is a DuckDB recursive CTE (transitive
   closure -- fine for an oracle, exponential state at scale); the Spark path
   is connected components (``operators/graph.py``): a driver union-find
   when the pair graph fits the broadcast bound, large-star/small-star
   rounds above it.
 - ``pack_shards``: the oracle is a global ``SUM() OVER (ORDER BY ...)``
   (single-partition window in Spark -- a scale anti-pattern); the Spark path
   is the classic two-phase distributed prefix sum.

Scale posture (100 TB):
 - dedup_cluster: alternating large-star/small-star contraction
   (``operators/graph.py``) -- per-round cost is groupBy-min + equi-join
   shuffles on uniform keys, and the edge set contracts to stars in O(log n)
   rounds even on adversarial long-chain graphs (plain label propagation
   needs O(diameter) rounds; tested on a 50-edge path graph).  A pair graph
   within ``spark.sql.autoBroadcastJoinThreshold`` (24 B per edge) skips the
   rounds and is labelled by union-find on the driver: at that size the
   rounds are ~30 near-empty Spark jobs of fixed cost.
 - decontaminate: inverted-index equi-join on the n-gram; the benchmark side
   is tiny (the eval suites you guard against) and broadcast, so the corpus
   never shuffles.
 - split_assign / mix_weighted: stateless per-row hash math, no shuffle at
   all; split membership is a pure function of (salt, doc_id) so it is stable
   under re-runs, backfills, and corpus growth -- the property that keeps
   eval sets eval.
 - pack_shards: two-phase prefix sum -- per-bucket partials (one narrow
   agg), tiny offset table broadcast back, within-bucket running windows.
   No single-partition window anywhere.

Reference scope note: the reference engine (kindly/flatterer) is a JSON ->
relational ETL tool and has no corpus-curation surface; these operators come
from the north-star brief (BASELINE.json "LLM-data-pipeline operators"), so
there is no reference file to cite for parity.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from flatterer_spark.functions.textgen import Gen

# Tokens per output shard for pack_shards: small enough that sf0.01 (500
# docs, ~30 tokens each) produces a multi-shard assignment worth checking.
SHARD_TOKENS = 2000
SEQ_TOKENS = 512

# Contamination flag threshold: >= this many distinct shared n-grams.
CONTAM_MIN_SHARED = 5

# Deterministic "benchmark membership" predicate for the synthetic corpus:
# every 97th doc stands in for the held-out eval suite.
BENCH_MOD = 97


# ---------------------------------------------------------------------------
# split_assign: deterministic hash split (train/val/test)
# ---------------------------------------------------------------------------

def sql_split_assign(g: Gen, salt: str = "split-v1") -> str:
    """Hash-based split assignment: md5('salt:' || doc_id) % 100 -> 90/5/5.

    Membership is a pure function of (salt, doc_id): adding or removing other
    documents never moves a doc across splits (unlike rand() or ntile), and
    re-keying the whole corpus is a one-line salt bump."""
    h = g.md5_32(f"'{salt}:' || {g.str_cast('doc_id')}")
    return f"""
    SELECT doc_id, bucket,
           CASE WHEN bucket < 90 THEN 'train'
                WHEN bucket < 95 THEN 'val'
                ELSE 'test' END AS split
    FROM (SELECT doc_id, {h} % 100 AS bucket FROM documents) t
    ORDER BY doc_id
    """


# ---------------------------------------------------------------------------
# mix_weighted: per-source sampling rates (data mixing)
# ---------------------------------------------------------------------------

def sql_mix_weighted(g: Gen, salt: str = "mix-v1") -> str:
    """Weighted source mixing: keep a deterministic hash-fraction of each
    source.  The demo weight table derives the rate from the source id
    (src % 4 -> 1.0 / 0.75 / 0.5 / 0.25); a real pipeline joins a weights
    dim instead -- the kept-iff-hash-below-rate mechanism is the operator.

    Hash-threshold sampling (vs rand()) keeps the sample stable across
    re-runs and monotone in the rate: raising a source's weight only ADDS
    documents, never swaps them -- the property that makes mixture ablations
    comparable."""
    h = g.md5_32(f"'{salt}:' || {g.str_cast('doc_id')}")
    srcnum = f"CAST(substring(source, 4) AS BIGINT)"
    return f"""
    SELECT doc_id, source, rate
    FROM (
        SELECT doc_id, source,
               CAST(CASE ({srcnum}) % 4
                    WHEN 0 THEN {g.d(1.0)}
                    WHEN 1 THEN {g.d(0.75)}
                    WHEN 2 THEN {g.d(0.5)}
                    ELSE {g.d(0.25)} END AS DOUBLE) AS rate,
               CAST({h} AS DOUBLE) / {g.d(4294967296.0)} AS frac
        FROM documents
    ) t
    WHERE frac < rate
    ORDER BY doc_id
    """


# ---------------------------------------------------------------------------
# split_stratified: per-source stratified split report
# ---------------------------------------------------------------------------

def sql_split_stratified(g: Gen, salt: str = "strat-v1") -> str:
    """Stratified 90/5/5 split keyed on (source, doc_id): hashing the source
    into the key stratifies independently per source, so each stratum gets
    its own 90/5/5 cut instead of inheriting the global one by luck.  Output
    is the stratification report (source x split counts) -- the audit a
    pipeline runs to confirm no stratum starved a split."""
    h = g.md5_32(f"'{salt}:' || source || ':' || {g.str_cast('doc_id')}")
    return f"""
    SELECT source, split, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM (
        SELECT source,
               CASE WHEN {h} % 100 < 90 THEN 'train'
                    WHEN {h} % 100 < 95 THEN 'val'
                    ELSE 'test' END AS split
        FROM documents
    ) t
    GROUP BY source, split
    ORDER BY source, split
    """


# ---------------------------------------------------------------------------
# mix_temperature: temperature-flattened source mixing
# ---------------------------------------------------------------------------

def sql_mix_temperature(g: Gen, salt: str = "temp-v1") -> str:
    """Temperature sampling over languages (the multilingual-LM mixing rule:
    p(l) proportional to (n_l/N)^alpha, alpha=0.5): per-language keep-rate
    sqrt(n_min/n_l), which makes kept counts proportional to sqrt(n_l) --
    the dominant language is flattened, the rarest kept whole (rate=1 at
    n_l=n_min).  Keyed on ``lang`` (skewed in the corpus), not ``source``
    (uniform -- every rate would be 1).

    Determinism across engines: integer counts, one integer MIN window, a
    correctly-rounded sqrt of an exact double ratio, and the stable
    hash-threshold -- no float SUM whose order could differ.  Scale: one
    tiny per-language agg broadcast back; fact rows never shuffle."""
    h = g.md5_32(f"'{salt}:' || {g.str_cast('doc_id')}")
    return f"""
    WITH c AS (
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_l
        FROM documents GROUP BY lang
    ),
    r AS (
        SELECT lang,
               sqrt(CAST(MIN(n_l) OVER () AS DOUBLE) / CAST(n_l AS DOUBLE))
                   AS rate
        FROM c
    )
    SELECT d.doc_id, d.lang, {g.round2('r.rate')} AS rate2
    FROM documents d JOIN r ON d.lang = r.lang
    WHERE CAST({h} AS DOUBLE) / {g.d(4294967296.0)} < r.rate
    ORDER BY d.doc_id
    """


# ---------------------------------------------------------------------------
# mix_upsample: epoch replication of under-represented sources
# ---------------------------------------------------------------------------

def sql_mix_upsample(g: Gen, max_epochs: int = 4) -> str:
    """Epoch-based upsampling: sources with fewer tokens than the largest
    source are replicated ceil(max_tok / src_tok) times (capped at
    ``max_epochs``), emitting one row per (doc, epoch).  This is the standard
    "repeat small high-quality sources for N epochs" mixing move (cf. the
    public Pile / LLaMA data recipes) expressed without any sampling noise:
    the epoch count is pure integer math over exact BIGINT token sums.

    Scale: two tiny per-source aggs (the epochs dim is |sources| rows,
    broadcast back), and replication happens map-side in the explode -- the
    corpus never shuffles.  Output size is bounded by max_epochs x corpus."""
    n_tok = f"CAST({g.size(g.tokens('text'))} AS BIGINT)"
    epochs = (
        f"LEAST(CAST({max_epochs} AS BIGINT), "
        f"{g.idiv('(mx.max_tok + s.src_tok - 1)', 's.src_tok')})"
    )
    return f"""
    WITH tok AS (
        SELECT doc_id, source, {n_tok} AS n_tok FROM documents
    ),
    s AS (
        SELECT source, CAST(SUM(n_tok) AS BIGINT) AS src_tok
        FROM tok GROUP BY source
    ),
    mx AS (SELECT MAX(src_tok) AS max_tok FROM s),
    ep AS (
        SELECT s.source, CAST({epochs} AS BIGINT) AS epochs
        FROM s, mx
    )
    SELECT doc_id, source, epochs, epoch FROM (
        SELECT t.doc_id, t.source, e.epochs,
               {g.explode_seq('CAST(1 AS BIGINT)', 'e.epochs', 'epoch')}
        FROM tok t JOIN ep e ON t.source = e.source
    ) u
    ORDER BY doc_id, epoch
    """


# ---------------------------------------------------------------------------
# decontaminate: n-gram overlap against a benchmark set
# ---------------------------------------------------------------------------

def sql_decontaminate(g: Gen, k: int = 3, sh_table: str | None = None) -> str:
    """Flag training documents sharing k-gram shingles with the benchmark
    subset (docs where doc_id % BENCH_MOD == 0 stand in for eval suites).

    Inverted-index join on the shingle: the benchmark gram set is tiny and
    broadcast; each corpus doc counts its DISTINCT shared grams, and
    ``contaminated`` flags >= CONTAM_MIN_SHARED.  Benchmark docs themselves
    are excluded from the output (they are the contamination source, not
    candidates for it)."""
    from flatterer_spark.ext_queries import sql_shingle_cte, _explode

    sh = sh_table or "sh"
    sh_cte = "" if sh_table else f"sh AS ({sql_shingle_cte(g, k)}),"
    return f"""
    WITH {sh_cte}
    e AS (SELECT doc_id, {_explode(g, "s", "gram")} FROM {sh}),
    bench AS (SELECT DISTINCT gram FROM e WHERE doc_id % {BENCH_MOD} = 0),
    hits AS (
        SELECT e.doc_id, CAST(COUNT(DISTINCT e.gram) AS BIGINT) AS n_shared
        FROM e JOIN bench ON e.gram = bench.gram
        WHERE e.doc_id % {BENCH_MOD} <> 0
        GROUP BY e.doc_id
    )
    SELECT d.doc_id,
           COALESCE(h.n_shared, CAST(0 AS BIGINT)) AS n_shared,
           COALESCE(h.n_shared, CAST(0 AS BIGINT)) >= {CONTAM_MIN_SHARED}
               AS contaminated
    FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
    WHERE d.doc_id % {BENCH_MOD} <> 0
    ORDER BY d.doc_id
    """


# ---------------------------------------------------------------------------
# pack_shards: token-aware shard assignment
# ---------------------------------------------------------------------------

def sql_pack_shards(g: Gen, shard_tokens: int = SHARD_TOKENS) -> str:
    """Oracle spec: global running token sum in doc_id order; a document goes
    to the shard its START offset falls in (start = cum - n_tok, always >= 0,
    so DIV/floor-div agree across engines).

    This window form is the SPEC only -- ``SUM() OVER (ORDER BY ...)`` with
    no PARTITION BY collapses Spark to a single-partition window.  The
    registered Spark path (:func:`pack_shards_query`) computes the identical
    prefix sum with the two-phase distributed pattern."""
    n_tok = f"CAST({g.size(g.tokens('text'))} AS BIGINT)"
    return f"""
    WITH tok AS (SELECT doc_id, {n_tok} AS n_tok FROM documents),
    c AS (
        SELECT doc_id, n_tok,
               CAST(SUM(n_tok) OVER (ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cum_tok
        FROM tok
    )
    SELECT doc_id, n_tok, cum_tok,
           {g.idiv('(cum_tok - n_tok)', shard_tokens)} AS shard
    FROM c
    ORDER BY doc_id
    """


def _global_cum_tok(spark: SparkSession, sf_dir: str, n_buckets: int) -> DataFrame:
    """(doc_id, n_tok, cum_tok): exact global running token sum in doc_id
    order, via the distributed two-phase prefix sum.

    Phase 1: range-bucket on doc_id (``doc_id DIV width``), aggregate one
    partial token sum per bucket -- a narrow shuffle of n_buckets rows.
    Phase 2: turn the partials into exclusive prefix offsets (driver-side
    over n_buckets values -- thousands at most, never data-sized), broadcast
    them back, and run the running window WITHIN each bucket.  offset +
    within-bucket cumsum == the global prefix sum, exactly, because buckets
    partition the order key's range.

    At 100 TB the only full-data operations are one narrow aggregate and one
    windowed pass over properly-partitioned buckets; no single-partition
    window, no data-sized driver state."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from flatterer_spark.queries import T

    tok = T(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("n_tok"),
    )
    # bucket width from the id range: one tiny min/max agg (a real pipeline
    # knows its id range a priori and skips this scan)
    lo, hi = tok.agg(F.min("doc_id"), F.max("doc_id")).first()
    if lo is None:  # empty corpus: any width works, everything stays empty
        lo = hi = 0
    width = max(1, (hi - lo + n_buckets) // n_buckets)
    # integer DIV (not double division): doc_id ranges past 2^43 would
    # round in binary before the truncation and misbucket boundary ids
    tok = tok.withColumn(
        "_b", F.expr(f"(doc_id - {int(lo)}L) DIV {int(width)}L")
    )

    partials = {
        r["_b"]: r["s"]
        for r in tok.groupBy("_b").agg(F.sum("n_tok").alias("s")).collect()
    }
    offsets, acc = [], 0
    for b in range(max(partials) + 1 if partials else 0):
        offsets.append((b, acc))
        acc += partials.get(b, 0)
    off = spark.createDataFrame(offsets, "_b long, _off long")

    w = Window.partitionBy("_b").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return tok.join(F.broadcast(off), "_b").withColumn(
        "cum_tok", (F.col("_off") + F.sum("n_tok").over(w)).cast("long")
    )


def pack_shards_query(
    spark: SparkSession, sf_dir: str, shard_tokens: int = SHARD_TOKENS,
    n_buckets: int = 32,
) -> DataFrame:
    """Token-aware shard assignment over the distributed prefix sum
    (:func:`_global_cum_tok`): a document goes to the shard its start
    offset falls in."""
    import pyspark.sql.functions as F

    return (
        _global_cum_tok(spark, sf_dir, n_buckets)
        .withColumn(
            # integer DIV, not double division + cast: the float path
            # rounds in binary before truncating and diverges from the
            # oracle's DIV once the quotient exceeds ~2^43 (verified:
            # 17592186044417999/2000 truncates differently)
            "shard",
            F.expr(f"(cum_tok - n_tok) DIV {int(shard_tokens)}"),
        )
        .select("doc_id", "n_tok", "cum_tok", "shard")
        .orderBy("doc_id")
    )


def sql_pack_sequences(g: Gen, seq_tokens: int = SEQ_TOKENS) -> str:
    """Oracle spec for training-sequence packing (concat-and-chop): the
    corpus token stream in doc_id order is chopped into fixed
    ``seq_tokens``-length training sequences; each document occupies global
    offsets [cum - n_tok, cum), so it starts in sequence
    (cum - n_tok) DIV L and ends in (cum - 1) DIV L (n_tok >= 1 always).
    ``n_seqs`` is the straddle width -- the number of training sequences a
    document's tokens land in.

    Like :func:`sql_pack_shards`, the ``SUM() OVER (ORDER BY)`` window here
    is the SPEC only; the registered Spark path
    (:func:`pack_sequences_query`) computes the identical prefix sum with
    the two-phase distributed pattern."""
    n_tok = f"CAST({g.size(g.tokens('text'))} AS BIGINT)"
    start = g.idiv("(cum_tok - n_tok)", seq_tokens)
    end = g.idiv("(cum_tok - 1)", seq_tokens)
    return f"""
    WITH tok AS (SELECT doc_id, {n_tok} AS n_tok FROM documents),
    c AS (
        SELECT doc_id, n_tok,
               CAST(SUM(n_tok) OVER (ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cum_tok
        FROM tok
    )
    SELECT doc_id, n_tok,
           CAST({start} AS BIGINT) AS start_seq,
           CAST({end} AS BIGINT) AS end_seq,
           CAST({end} - {start} + 1 AS BIGINT) AS n_seqs
    FROM c
    ORDER BY doc_id
    """


def pack_sequences_query(
    spark: SparkSession, sf_dir: str, seq_tokens: int = SEQ_TOKENS,
    n_buckets: int = 32,
) -> DataFrame:
    """Training-sequence packing over the distributed prefix sum: which
    fixed-length training sequences each document's tokens land in (see
    :func:`sql_pack_sequences` for the spec).  Same 100 TB posture as
    :func:`pack_shards_query` -- the two share :func:`_global_cum_tok`."""
    import pyspark.sql.functions as F

    # integer DIV to match the oracle exactly at any magnitude (see
    # pack_shards_query's shard column)
    start = F.expr(f"(cum_tok - n_tok) DIV {int(seq_tokens)}")
    end = F.expr(f"(cum_tok - 1) DIV {int(seq_tokens)}")
    return (
        _global_cum_tok(spark, sf_dir, n_buckets)
        .withColumn("start_seq", start)
        .withColumn("end_seq", end)
        .withColumn("n_seqs", (F.col("end_seq") - F.col("start_seq") + 1))
        .select("doc_id", "n_tok", "start_seq", "end_seq", "n_seqs")
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# dedup_cluster: connected components over near-duplicate pairs
# ---------------------------------------------------------------------------

def sql_dedup_cluster(g: Gen) -> str:
    """Oracle spec: connected components of the minhash-LSH duplicate-pair
    graph via transitive closure (DuckDB recursive CTE); cluster_id = min
    doc_id reachable.  Only documents that appear in at least one duplicate
    pair are emitted (singletons are their own trivial cluster and carry no
    dedup decision).

    The recursive closure enumerates every (node, reachable-node) pair --
    correct and compact as an oracle, quadratic state per component at
    scale.  The registered Spark path (:func:`dedup_cluster_query`) reaches
    the same labels with connected components (:func:`_cluster_labels`)."""
    from flatterer_spark.ext_queries import sql_dedup_minhash_lsh

    pairs = sql_dedup_minhash_lsh(g)
    return f"""
    WITH RECURSIVE pairs AS ({pairs}),
    edges AS (
        SELECT id1 AS a, id2 AS b FROM pairs
        UNION
        SELECT id2, id1 FROM pairs
    ),
    nodes AS (SELECT DISTINCT a AS id FROM edges),
    reach(id, r) AS (
        SELECT id, id FROM nodes
        UNION
        SELECT reach.id, e.b FROM reach JOIN edges e ON e.a = reach.r
    ),
    lab AS (SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id)
    SELECT doc_id, cluster_id, doc_id = cluster_id AS is_canonical
    FROM lab
    ORDER BY doc_id
    """


_label_cache: dict[tuple, DataFrame] = {}


def _cluster_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, cluster_id) for every doc in a minhash-LSH duplicate pair,
    via :mod:`flatterer_spark.operators.graph`.  A pair graph within
    ``spark.sql.autoBroadcastJoinThreshold`` (24 B per edge; a few dozen
    edges at sf0.01) is collected and labelled by union-find on the driver.
    Above it, alternating large-star/small-star contraction (Kiveris et al.
    SoCC 2014) runs O(log n) rounds of ordinary groupBy-min + equi-join
    shuffles even on adversarial long-chain graphs, where plain min-label
    propagation needs O(diameter) rounds.

    Staged once per (session, sf_dir) -- the same compute-signatures-once
    pattern as the shingle/embedding views: dedup_cluster and dedup_resolve
    both consume the labels, and the expensive part (the minhash candidate
    join feeding the contraction) should run once, not per consumer."""
    import pyspark.sql.functions as F

    from flatterer_spark.ext_queries import (
        Gen as _G,
        _shingle_view,
        sql_dedup_minhash_lsh,
    )
    from flatterer_spark.functions.fingerprint import fresh_cache_key
    from flatterer_spark.operators.graph import connected_components
    from flatterer_spark.queries import T

    # keyed on the documents fingerprint: regenerated testdata at the same
    # path rebuilds the labels (and, through the same key rule, the staged
    # views they are built from) instead of serving stale clusters
    key = fresh_cache_key(_label_cache, spark, sf_dir, "documents")
    if key not in _label_cache:
        T(spark, sf_dir, "documents").createOrReplaceTempView("documents")
        view = _shingle_view(spark, sf_dir)
        pairs = spark.sql(sql_dedup_minhash_lsh(_G(spark=True), sh_table=view))
        labels = connected_components(pairs.select("id1", "id2")).select(
            F.col("id").alias("doc_id"), F.col("component").alias("cluster_id")
        ).persist()
        _label_cache[key] = labels
    return _label_cache[key]


def clear_label_cache() -> None:
    """Evict staged cluster labels (bench uses this so dedup_cluster timings
    include the contraction, not a cached-result read)."""
    for df in _label_cache.values():
        df.unpersist()
    _label_cache.clear()


def dedup_cluster_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-contraction connected components (see :func:`_cluster_labels`).
    Identical output to the recursive-CTE oracle: (doc_id, cluster_id=min
    reachable id, is_canonical)."""
    import pyspark.sql.functions as F

    return (
        _cluster_labels(spark, sf_dir)
        .select(
            "doc_id",
            "cluster_id",
            (F.col("doc_id") == F.col("cluster_id")).alias("is_canonical"),
        )
        .orderBy("doc_id")
    )


def sql_dedup_resolve(g: Gen) -> str:
    """Oracle spec for canonical-document selection: the end-to-end dedup
    DECISION.  Cluster the duplicate-pair graph (recursive closure, as
    sql_dedup_cluster), score every clustered doc by token count, and keep
    exactly one doc per cluster -- the longest, ties broken by lowest doc_id.
    Emits (doc_id, cluster_id, n_tok, keep); downstream anti-joins
    ``keep = false`` rows out of the corpus."""
    from flatterer_spark.ext_queries import sql_dedup_minhash_lsh

    pairs = sql_dedup_minhash_lsh(g)
    n_tok = f"CAST({g.size(g.tokens('text'))} AS BIGINT)"
    return f"""
    WITH RECURSIVE pairs AS ({pairs}),
    edges AS (
        SELECT id1 AS a, id2 AS b FROM pairs
        UNION
        SELECT id2, id1 FROM pairs
    ),
    nodes AS (SELECT DISTINCT a AS id FROM edges),
    reach(id, r) AS (
        SELECT id, id FROM nodes
        UNION
        SELECT reach.id, e.b FROM reach JOIN edges e ON e.a = reach.r
    ),
    lab AS (SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id),
    q AS (SELECT doc_id, {n_tok} AS n_tok FROM documents)
    SELECT lab.doc_id, lab.cluster_id, q.n_tok,
           ROW_NUMBER() OVER (PARTITION BY lab.cluster_id
                              ORDER BY q.n_tok DESC, lab.doc_id) = 1 AS keep
    FROM lab JOIN q ON q.doc_id = lab.doc_id
    ORDER BY lab.doc_id
    """


def dedup_resolve_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark scale path for :func:`sql_dedup_resolve`: star-contraction
    cluster labels joined to a JVM-side token count, then one window over the
    cluster partition picks the canonical doc (longest, then lowest id).
    The window partitions on cluster_id -- clusters are tiny, so no skew --
    and the labels side is far smaller than the corpus (only docs in pairs),
    so at scale the join broadcasts."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from flatterer_spark.queries import T

    labels = _cluster_labels(spark, sf_dir)
    ntok = T(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split("text", " ")).cast("long").alias("n_tok")
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("n_tok"), F.asc("doc_id")
    )
    return (
        labels.join(ntok, "doc_id")
        .withColumn("keep", F.row_number().over(w) == 1)
        .select("doc_id", "cluster_id", "n_tok", "keep")
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# curate_pipeline: the end-to-end curation decision in ONE plan
# ---------------------------------------------------------------------------

def sql_curate_pipeline(g: Gen, sh_table: str | None = None) -> str:
    """The full corpus-curation funnel as a single composed query: exact-dup
    canonical selection (window-min over the content fingerprint) AND
    benchmark decontamination (broadcast inverted-index shingle join) AND
    quality rules (JVM-side token stats) AND the deterministic hash split --
    per document, every gate decision plus the final keep/split.

    This is the operator a user actually runs nightly; the per-signal
    operators (dedup_exact, decontaminate, split_assign, text_quality) are
    its debuggable projections.  Composing them in one plan means one
    documents scan feeds every signal, the shingle stage is shared, and
    Catalyst dedups the common subtrees -- against running four separate
    jobs and joining their outputs."""
    from flatterer_spark.ext_queries import _explode, sql_shingle_cte

    sh = sh_table or "sh"
    sh_cte = "" if sh_table else f"sh AS ({sql_shingle_cte(g)}),"
    toks = g.tokens("text")
    n = "CAST({} AS DOUBLE)".format(g.size("toks"))
    nd = "CAST({} AS DOUBLE)".format(g.size(g.distinct("toks")))
    h = g.md5_32(f"'split-v1:' || {g.str_cast('s.doc_id')}")
    return f"""
    WITH {sh_cte}
    e AS (SELECT doc_id, {_explode(g, "s", "gram")} FROM {sh}),
    bench AS (SELECT DISTINCT gram FROM e WHERE doc_id % {BENCH_MOD} = 0),
    hits AS (
        SELECT e.doc_id, CAST(COUNT(DISTINCT e.gram) AS BIGINT) AS n_shared
        FROM e JOIN bench ON e.gram = bench.gram
        WHERE e.doc_id % {BENCH_MOD} <> 0
        GROUP BY e.doc_id
    ),
    t AS (SELECT doc_id, md5(text) AS fp, {toks} AS toks FROM documents),
    sig AS (
        SELECT doc_id, {n} AS n_tok, {nd} AS n_distinct,
               doc_id = MIN(doc_id) OVER (PARTITION BY fp) AS is_canonical
        FROM t
    )
    SELECT s.doc_id,
           s.is_canonical,
           COALESCE(h.n_shared, CAST(0 AS BIGINT)) >= {CONTAM_MIN_SHARED}
               AS contaminated,
           (s.n_tok >= {g.d(10.0)} AND s.n_distinct / s.n_tok >= {g.d(0.3)})
               AS quality_ok,
           (s.is_canonical
            AND COALESCE(h.n_shared, CAST(0 AS BIGINT)) < {CONTAM_MIN_SHARED}
            AND s.n_tok >= {g.d(10.0)}
            AND s.n_distinct / s.n_tok >= {g.d(0.3)}) AS keep,
           CASE WHEN (s.is_canonical
                      AND COALESCE(h.n_shared, CAST(0 AS BIGINT))
                          < {CONTAM_MIN_SHARED}
                      AND s.n_tok >= {g.d(10.0)}
                      AND s.n_distinct / s.n_tok >= {g.d(0.3)})
                THEN CASE WHEN {h} % 100 < 90 THEN 'train'
                          WHEN {h} % 100 < 95 THEN 'val'
                          ELSE 'test' END
                ELSE NULL END AS split
    FROM sig s LEFT JOIN hits h ON s.doc_id = h.doc_id
    WHERE s.doc_id % {BENCH_MOD} <> 0
    ORDER BY s.doc_id
    """


def _curate_pipeline_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flatterer_spark.ext_queries import _shingle_view
    from flatterer_spark.queries import T

    view = _shingle_view(spark, sf_dir)
    T(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(sql_curate_pipeline(Gen(spark=True), sh_table=view))


# ---------------------------------------------------------------------------
# registration
# ---------------------------------------------------------------------------

_BUILDERS: dict[str, tuple[Callable[[Gen], str], tuple[str, ...]]] = {
    "split_assign": (sql_split_assign, ("documents",)),
    "split_stratified": (sql_split_stratified, ("documents",)),
    "mix_weighted": (sql_mix_weighted, ("documents",)),
    "mix_temperature": (sql_mix_temperature, ("documents",)),
    "mix_upsample": (sql_mix_upsample, ("documents",)),
    "decontaminate": (sql_decontaminate, ("documents",)),
    "pack_shards": (sql_pack_shards, ("documents",)),
    "pack_sequences": (sql_pack_sequences, ("documents",)),
    "dedup_cluster": (sql_dedup_cluster, ("documents",)),
    "dedup_resolve": (sql_dedup_resolve, ("documents",)),
    "curate_pipeline": (sql_curate_pipeline, ("documents",)),
}


def _make_query(builder, tables):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from flatterer_spark.queries import T

        for t in tables:
            T(spark, sf_dir, t).createOrReplaceTempView(t)
        return spark.sql(builder(Gen(spark=True)))

    return run


def _decontaminate_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flatterer_spark.ext_queries import _shingle_view
    from flatterer_spark.queries import T

    view = _shingle_view(spark, sf_dir)
    T(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(sql_decontaminate(Gen(spark=True), sh_table=view))


CURATION_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    name: _make_query(builder, tables)
    for name, (builder, tables) in _BUILDERS.items()
}
CURATION_QUERIES["decontaminate"] = _decontaminate_spark
# The pack builders run the prefix-sum's phase-1 at BUILD time (one tiny
# min/max agg + the n_buckets partial-sums collect -- driver state is
# n_buckets scalars, never data-sized, see _global_cum_tok).  Re-running
# those two corpus scans on every invocation is pure repeat work: the
# offsets are corpus-derived constants embedded in the plan, so the built
# DataFrame is memoized per (applicationId, sf_dir) exactly like the
# learned-model literals -- the dataset fingerprint invalidates it when
# the corpus changes, and every execution still scans parquet for the
# windowed pass (r12, guide §1.3 "don't compute it twice" / §5 driver).
from flatterer_spark.queries import plan_memo as _plan_memo  # noqa: E402

CURATION_QUERIES["pack_shards"] = _plan_memo("pack_shards", pack_shards_query)
CURATION_QUERIES["pack_sequences"] = _plan_memo(
    "pack_sequences", pack_sequences_query
)
CURATION_QUERIES["dedup_cluster"] = dedup_cluster_query
CURATION_QUERIES["dedup_resolve"] = dedup_resolve_query
CURATION_QUERIES["curate_pipeline"] = _curate_pipeline_spark

CURATION_ORACLE: dict[str, str] = {
    name: builder(Gen(spark=False)) for name, (builder, tables) in _BUILDERS.items()
}
