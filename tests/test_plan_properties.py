"""Physical-plan regression tests: pin the scale-critical plan
properties (broadcast vs shuffle choice, pushdown, no cartesian
products, no global single-partition windows) so a refactor that
silently degrades a 100 TB-relevant plan fails CI, not the cluster.

These assert on ``executedPlan`` strings — the same audit a human does
with ``.explain("formatted")``.
"""

import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


def _emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


def test_decontaminate_broadcasts_benchmark(spark):
    """The benchmark gram set must broadcast — corpus bytes never
    shuffle through the contamination join."""
    from space_spark.operators.dedup import decontaminate

    docs = _docs(spark)
    plan = plan_of(
        decontaminate(
            docs.where("doc_id % 11 != 0"), docs.where("doc_id % 11 = 0"),
            "doc_id", "text", n=8,
        )
    )
    assert "BroadcastHashJoin" in plan
    # the corpus side must not be exchanged before the join
    assert "CartesianProduct" not in plan


def test_semantic_dedup_no_cartesian_and_pinned_shuffle(spark):
    """The centroid assignment is a broadcast NL join (bounded centroid
    set), never a cartesian product. semantic_dedup checkpoints this
    subplan before the representative chase (its returned plan shows
    only the checkpoint scan), so the assignment shape is pinned on the
    factored-out lazy subplan, and the final plan is separately checked
    cartesian-free."""
    from space_spark.operators.similarity import (
        _semantic_assign,
        semantic_dedup,
    )

    assign_plan = plan_of(
        _semantic_assign(_emb(spark), "vec_id", "embedding", 4, False)
    )
    assert "CartesianProduct" not in assign_plan
    assert "BroadcastNestedLoopJoin" in assign_plan  # centroid assignment
    plan = plan_of(semantic_dedup(_emb(spark), "vec_id", "embedding",
                                  n_clusters=4, threshold=0.4))
    assert "CartesianProduct" not in plan


def test_exact_jaccard_pins_shuffle_hash(spark):
    """The inverted-index self-join must stay a shuffle join: AQE's
    broadcast choice at test scale would OOM at corpus scale."""
    from space_spark.operators.dedup import ngram_jaccard_pairs

    plan = plan_of(
        ngram_jaccard_pairs(_docs(spark), "doc_id", "text", n=3,
                            threshold=0.5)
    )
    assert "ShuffledHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_filter_pushdown_reaches_parquet_scan(spark):
    """A projected, filtered read must push both into the scan."""
    df = (
        _docs(spark)
        .where(F.col("doc_id") < 100)
        .select("doc_id", "lang")
    )
    plan = plan_of(df)
    assert "PushedFilters: [IsNotNull(doc_id), LessThan(doc_id,100)]" in plan
    assert "ReadSchema: struct<doc_id:bigint,lang:string>" in plan


def test_domain_mix_has_no_global_window(spark):
    """The quota table is literal (collected group counts, bounded), so
    the final plan is scan -> per-group rank window -> filter: no global
    window, no join at all."""
    from space_spark.operators.sampling import domain_mix_sample

    docs = _docs(spark).select("doc_id", "lang")
    plan = plan_of(domain_mix_sample(
        docs, "lang", "doc_id",
        {"en": 0.4, "de": 0.15, "es": 0.15, "fr": 0.15, "zh": 0.15},
    ))
    # Window specs must all partition by the group column; a global
    # window appears as 'Window [...]' with an empty partition spec.
    for line in plan.splitlines():
        if "Window [" in line:
            assert "windowspecdefinition(lang" in line, line
    assert "Join" not in plan


def test_weighted_and_hash_sample_are_scan_only(spark):
    """Deterministic sampling is a pure projection+filter: no exchange,
    no aggregate — whole-stage codegen over the scan."""
    from space_spark.operators.sampling import hash_sample, weighted_sample

    docs = _docs(spark).select("doc_id", "n_chars")
    p1 = plan_of(hash_sample(docs, "doc_id", 0.1))
    w = docs.withColumn("w", F.least(F.col("n_chars") / 3000.0, F.lit(1.0)))
    p2 = plan_of(weighted_sample(w, "w", "doc_id"))
    for p in (p1, p2):
        assert "Exchange" not in p
        # '*(n)' prefixes mark whole-stage-codegen'd operators in the
        # compact plan string
        assert "*(" in p or "WholeStageCodegen" in p


def test_dedup_lines_partial_agg_not_window(spark):
    """First-occurrence selection must be a partial-aggregable
    groupBy(line).min + join-back, never Window.partitionBy(line): the
    operator's whole job is lines repeated across billions of documents,
    and a window would sort every occurrence of a hot boilerplate line
    ("Home", cookie banners) in ONE task. The groupBy's map-side partial
    aggregate collapses each hot line to one row per task before the
    exchange, and the join-back keys on (line, id, pos) so the probe side
    hash-spreads hot lines."""
    from space_spark.operators.dedup import dedup_lines

    plan = plan_of(dedup_lines(_docs(spark), "doc_id", "text"))
    assert "Window" not in plan
    assert "HashAggregate" in plan  # partial+final min(struct(id, pos))


def test_exact_dedup_partial_agg_not_window(spark):
    """Same skew discipline for exact dedup: groupBy-min winners + left
    semi join on (cols, id) — no window over the duplicate-group key."""
    from space_spark.operators.dedup import exact_dedup

    plan = plan_of(exact_dedup(_docs(spark), ["text"], "doc_id"))
    assert "Window" not in plan
    assert "HashAggregate" in plan
    assert "LeftSemi" in plan


def test_upsert_probe_is_pruned(spark, tmp_path):
    """A small upsert into a clustered table must probe a file subset
    (manifest range pruning), not re-read the table."""
    from pyspark.sql import types as T

    from space_spark import Dataset
    from space_spark.core import write_path

    schema = T.StructType([
        T.StructField("k", T.LongType()), T.StructField("v", T.LongType()),
    ])
    ds = Dataset.create(spark, str(tmp_path / "t"), schema, ["k"])
    for start in (0, 1000, 2000, 3000):
        ds.append(spark.createDataFrame(
            [(i, i) for i in range(start, start + 1000)], schema
        ).coalesce(1))
    bounds_keys = spark.createDataFrame([(5, -5)], schema)
    affected = write_path.cow_split(
        ds, write_path.KeySet.from_frame(ds, bounds_keys)).affected
    # key 5 overlaps only the first file's [0, 999] range
    assert len(affected) <= 1
    assert len(ds.data_files()) == 4


def test_dedup_substrings_partial_agg_not_window(spark):
    """ExactSubstr first-occurrence selection follows the same skew
    discipline as dedup_lines: groupBy(hash).min + join-back on the
    (hash, id, start) triple — duplicated substrings ARE the hot keys."""
    from space_spark.operators.dedup import dedup_substrings

    plan = plan_of(dedup_substrings(_docs(spark), "doc_id", "text",
                                    window=12))
    assert "Window" not in plan
    assert "HashAggregate" in plan or "ObjectHashAggregate" in plan


def test_no_python_rdd_literals_in_plans(spark):
    """Round-6 regression guard: literal fixtures/dims must enter plans
    as JVM-side LocalTableScan/VALUES, never as a Python-RDD-backed
    `Scan ExistingRDD` — evaluating one needs the Python worker pool
    (~4.6 s for a ONE-ROW DataFrame on a cold pool, a steady tax warm).
    q_range_band's band dim and pack_offsets' prefix-sum offsets both
    carry their literal into the returned plan."""
    import __spark_entry__ as em
    from space_spark.operators.packing import pack_offsets

    band_plan = plan_of(em.q_range_band(spark, SF_DIR))
    assert "ExistingRDD" not in band_plan

    docs = _docs(spark).selectExpr(
        "doc_id", "size(split(text, ' ')) AS n_tok"
    )
    pack_plan = plan_of(pack_offsets(docs, "doc_id", "n_tok", 512))
    # The corpus-side localCheckpoint legitimately materializes as ONE
    # JVM-side `Scan ExistingRDD`; the offsets literal must be the
    # JVM-local LocalTableScan, not a second RDD scan.
    assert pack_plan.count("Scan ExistingRDD") == 1
    assert "LocalTableScan" in pack_plan

    # space_random_access returns its contractual point-read results as
    # a literal too — Arrow-native, not a Python-RDD plan (r6 verdict
    # finding #3).
    ra_plan = plan_of(em.space_random_access(spark, SF_DIR))
    assert "ExistingRDD" not in ra_plan
    assert "LocalTableScan" in ra_plan


def test_dedup_substrings_default_fingerprint_is_long(spark):
    """The corpus-sized winners exchange must carry 8-byte xxhash64
    longs by default — md5's 32-char hex strings (4x the shuffle bytes)
    are reserved for oracle_compat cross-engine verification.

    Audited on the fingerprint subplan (`_substr_window_fingerprints`):
    the r13-opt eager `dup_fps`/`covered` checkpoints materialize this
    subtree at construction time, so the public query's final plan no
    longer embeds the fingerprint expressions — the subplan is exactly
    what feeds the winners exchange."""
    from space_spark.operators.dedup import (
        _substr_tokenized,
        _substr_window_fingerprints,
    )

    base = _substr_tokenized(_docs(spark), "doc_id", "text")
    default_plan = plan_of(
        _substr_window_fingerprints(base, "doc_id", 12, oracle_compat=False)
    )
    assert "xxhash64" in default_plan
    assert "md5" not in default_plan
    compat_plan = plan_of(
        _substr_window_fingerprints(base, "doc_id", 12, oracle_compat=True)
    )
    assert "md5" in compat_plan


def test_dedup_substrings_fingerprint_modes_agree(spark):
    """Fingerprint width is an encoding choice, not a semantic one:
    both modes must rebuild identical corpora."""
    from space_spark.operators.dedup import dedup_substrings

    docs = _docs(spark)
    key = lambda r: (r["doc_id"], r["text"], r["n_kept"], r["n_dropped"])
    fast = sorted(
        key(r) for r in
        dedup_substrings(docs, "doc_id", "text", window=4).collect()
    )
    compat = sorted(
        key(r) for r in
        dedup_substrings(docs, "doc_id", "text", window=4,
                         oracle_compat=True).collect()
    )
    assert fast == compat


def test_bucketed_join_is_exchange_free(spark):
    """The space_bucketed_join candidate's JOIN must consume bucket
    layout: sort-merge over bucketed scans with NO exchange on either
    join side — the co-located-join discipline that survives 100x. The
    only exchange in the full candidate plan is the final aggregate's."""
    import uuid

    import __spark_entry__ as entry_mod

    base = entry_mod._space_tmp()
    o_t = "bkp_orders_" + uuid.uuid4().hex[:8]
    c_t = "bkp_cust_" + uuid.uuid4().hex[:8]
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    cust = spark.read.parquet(f"{SF_DIR}/customer.parquet")
    try:
        (orders.write.format("parquet").bucketBy(8, "o_custkey")
         .sortBy("o_custkey").option("path", base + "/o").saveAsTable(o_t))
        (cust.write.format("parquet").bucketBy(8, "c_custkey")
         .sortBy("c_custkey").option("path", base + "/c").saveAsTable(c_t))
        # merge hint mirrors the registered query: without it the tiny
        # test-scale customer side broadcasts and the bucket property
        # never shows in the plan.
        joined = spark.table(o_t).hint("merge").join(
            spark.table(c_t), F.col("o_custkey") == F.col("c_custkey")
        )
        plan = plan_of(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan  # bucket layout feeds the join
        assert "SelectedBucketsCount" in plan
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {o_t}")
        spark.sql(f"DROP TABLE IF EXISTS {c_t}")


def test_bpe_count_is_pure_jvm(spark):
    """The BPE encoder's whole point is staying inside whole-stage
    codegen — any Python evaluation node (a regression to a UDF
    implementation) is a 10-100x tax on the hot path."""
    from space_spark.operators.bpe import bpe_token_count

    plan = plan_of(_docs(spark).select(
        "doc_id", bpe_token_count(F.col("text")).alias("n")))
    for marker in ("PythonUDF", "ArrowEval", "MapInPandas", "FlatMapIn",
                   "BatchEvalPython"):
        assert marker not in plan, marker
    # '*(n)' prefixes mark whole-stage-codegen'd operators in the
    # compact plan string.
    assert "*(" in plan or "WholeStageCodegen" in plan


def test_export_never_global_sorts(spark):
    """Shard layout sorts WITHIN partitions only; a global sort
    (rangepartitioning exchange) would funnel the corpus through a
    range-boundary sample + skew on hot shards."""
    from space_spark.operators.export import with_shards

    sharded = (
        with_shards(_docs(spark).select("doc_id"), "doc_id", 8)
        .repartition(8, F.col("shard_id"))
        .sortWithinPartitions("shard_id", "__key")
    )
    plan = plan_of(sharded)
    assert "rangepartitioning" not in plan.lower()
    assert "Sort " in plan  # the local (non-global) sort is present


def test_pipeline_cascade_single_text_pass(spark):
    """The cascade's three flag stages must FUSE — no exchange between
    C4, Gopher and the survivors projection (the only exchanges in the
    full query belong to decontamination, tested separately)."""
    from space_spark.operators.text import c4_rules, gopher_quality_flags

    docs = _docs(spark).select(
        "doc_id", F.regexp_replace("text", " table ", ".\n").alias("text"))
    kept = (
        gopher_quality_flags(c4_rules(docs, "text").where("c4_keep"),
                             "text")
        .where("gopher_pass").select("doc_id")
    )
    plan = plan_of(kept)
    assert "Exchange" not in plan


def test_heavy_hitters_recount_is_broadcast_and_windowless(spark):
    """The exact recount must join the token stream against the
    CANDIDATE set via broadcast (the candidate side is O(partitions*k)
    by construction — shipping the corpus-sized token stream to a
    shuffle join would reintroduce the long-tail exchange the sketch
    exists to avoid), and winner counting is a partial-aggregable
    groupBy, never a window."""
    from space_spark.operators.text import heavy_hitters

    plan = plan_of(heavy_hitters(_docs(spark), "text", 10_000))
    assert "BroadcastHashJoin" in plan
    assert "Window" not in plan
    assert "HashAggregate" in plan


def test_keep_best_winner_election_partial_agg_not_window(spark):
    """Canonical selection must elect winners with groupBy-min over a
    (neg score, id) struct — map-side combine collapses a hot
    boilerplate cluster to one row per task — never a window over
    cluster_id (no partial aggregation: 10^8 copies of one page land
    on one reducer)."""
    from pyspark.sql import functions as F

    from space_spark.operators.dedup import keep_best_per_cluster

    docs = _docs(spark).withColumn(
        "score", F.length("text").cast("double")
    )
    labels = _docs(spark).select(
        F.col("doc_id").alias("doc"),
        (F.col("doc_id") % 7).alias("cluster_id"),
    )
    plan = plan_of(
        keep_best_per_cluster(docs, labels, "doc_id", "score")
    )
    assert "Window" not in plan
    # min over a struct falls back to SortAggregate — still PARTIAL
    # (map-side combine per task), which is the property that matters.
    assert "SortAggregate" in plan or "HashAggregate" in plan
    assert "partial" in plan
    assert "LeftSemi" in plan


def test_quality_mix_scores_once_via_checkpoint(spark):
    """The unigram-LM scoring pipeline (two corpus tokenizations + the
    corpus-wide token-count shuffle) must execute ONCE per
    quality_mix_sample call, not once per consumer: the per-document
    score table is eagerly checkpointed at construction, so the
    returned plan reads the materialized RDD for BOTH the broadcast
    stats subquery and the labeling scan — no embedded corpus scan,
    explode, or token-count aggregate survives in the public plan
    (r13-opt; the pre-checkpoint scoring values stay pinned by
    test_oracle's sample_quality_mix row and the quality-mix property
    suite)."""
    from space_spark.operators.sampling import quality_mix_sample

    docs = _docs(spark).select("doc_id", "text")
    out = quality_mix_sample(docs, "doc_id", "text")
    plan = plan_of(out)
    assert "explode" not in plan.lower(), plan
    assert "Scan parquet" not in plan, plan
    # Both consumers read the one checkpointed score table.
    assert plan.lower().count("scan existingrdd") >= 2, plan
    # Materialization does not perturb values: invocation-stable.
    rows1 = sorted(map(tuple, out.collect()))
    rows2 = sorted(map(tuple,
                       quality_mix_sample(docs, "doc_id", "text").collect()))
    assert rows1 == rows2 and rows1
