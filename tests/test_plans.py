"""Physical-plan quality gates: the properties that make these operators
survive a 100 TB scale-up.  Each assertion pins a plan shape — if a code
change silently introduces an extra shuffle, drops a broadcast, or breaks
scan-level pushdown, these fail before any benchmark does.

Backed by the engine's own plan-introspection surface
(kafkastreamsjavachallenge_spark.plans)."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from kafkastreamsjavachallenge_spark.catalog import load_table
from kafkastreamsjavachallenge_spark.plans import (
    executed_plan,
    formatted_plan,
    lint,
    plan_summary,
    pushed_filters,
)
from kafkastreamsjavachallenge_spark.queries import registry

from tests.conftest import SF_DIR

REG = registry()


def plan(df) -> str:
    return executed_plan(df)


def test_filter_pushed_to_scan(spark):
    """Predicate + column pruning reach the parquet reader."""
    df = REG["q_filter"][0](spark, SF_DIR)
    pf = pushed_filters(df)
    assert any(
        "IsNotNull(event_type)" in f and "EqualTo(event_type,error)" in f
        for f in pf
    ), pf
    # column pruning: scan must not read the unused props/value columns
    s = plan_summary(df)
    assert all("props" not in rs for rs in s.read_schemas)


def test_broadcast_join_is_broadcast(spark):
    s = plan_summary(REG["q_join_broadcast"][0](spark, SF_DIR))
    assert "BroadcastHashJoin" in s.joins


def test_topk_is_take_ordered_not_global_sort(spark):
    df = REG["q_topk"][0](spark, SF_DIR)
    assert "TakeOrderedAndProject" in plan(df)


def test_flagship_has_partial_aggregation(spark):
    """countDistinct plans as two-phase (partial_count + final) hash
    aggregation around a single window-key exchange."""
    p = plan(REG["q_unique_users"][0](spark, SF_DIR))
    assert "HashAggregate" in p
    assert "partial_count" in p


def test_flagship_keys_on_integer_window_start_without_sampling(spark):
    """The flagship groups on the integer window start, not on the
    ``window()`` struct, and orders its one row per window inside a single
    partition: no range shuffle, so no sampling job.  The final plan
    (after the collect) still has the partial count."""
    df = REG["q_unique_users"][0](spark, SF_DIR)
    starts = [r["window_start"] for r in df.collect()]
    assert len(starts) > 1 and starts == sorted(starts)
    p = formatted_plan(df)
    assert "rangepartitioning" not in p.lower()
    assert "partial_count" in p
    structs = re.findall(r"named_struct\(.*?\) AS (\w+#\d+)", p)
    keys = re.findall(r"Keys \[\d+\]: \[([^\]]*)\]", p)
    assert keys
    assert not [k for k in keys if "named_struct" in k or any(s in k for s in structs)]


def test_events_event_time_reads_as_timestamp_without_cast(spark):
    """The catalog reads events.ts (untagged parquet TIMESTAMP(MICROS)) as
    TIMESTAMP: no per-row cast in the plan, the values of the cast, and
    other tables keep Spark's inference."""
    ev = load_table(spark, SF_DIR, "events")
    assert dict(ev.dtypes)["ts"] == "timestamp"
    assert "cast(ts" not in plan(ev.select("ts"))
    cast = spark.read.parquet(f"{SF_DIR}/events.parquet").select(F.col("ts").cast("timestamp"))
    assert sorted(ev.select("ts").collect()) == sorted(cast.collect())
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    assert load_table(spark, SF_DIR, "orders").dtypes == orders.dtypes


def test_semi_anti_join_types(spark):
    assert "LeftSemi" in plan(REG["q_join_semi"][0](spark, SF_DIR))
    assert "LeftAnti" in plan(REG["q_join_anti"][0](spark, SF_DIR))


def test_lsh_self_join_reuses_exchange(spark):
    """The LSH candidate self-join must not recompute the signature
    pipeline twice: the two join inputs are identical subplans, so the
    physical plan (with AQE resolved) reuses one shuffle exchange."""
    df = REG["q_minhash_pairs"][0](spark, SF_DIR)
    df.write.format("noop").mode("overwrite").save()  # resolve AQE
    s = plan_summary(df)
    assert s.n_reused_exchanges >= 1 or s.n_file_scans <= 2


def test_scalar_pack_is_whole_stage_codegen(spark):
    """Projection-only queries stay in one WholeStageCodegen span — no
    exchanges, no interpreted expressions in the hot path."""
    df = REG["q_string_fns"][0](spark, SF_DIR)
    s = plan_summary(df)
    assert s.n_exchanges == 0
    assert s.codegen_spans == 1
    p = plan(df)
    assert p.lstrip().startswith("*(1)")  # '*' marks a WholeStageCodegen span


def test_minhash_single_shuffle(spark):
    """Universal-hash MinHash signature computation: exactly one shuffle
    (the id repartition before the fan-out) — the groupBy reuses it."""
    from kafkastreamsjavachallenge_spark.operators.dedup import minhash_signatures

    d = load_table(spark, SF_DIR, "documents")
    s = plan_summary(minhash_signatures(d, n_perm=8))
    assert s.n_exchanges == 1, s


def test_curation_pipeline_two_exchanges(spark):
    """The end-to-end curation composite (gate → dedup → split → audit)
    must stay at exactly two exchanges — the content-hash dedup shuffle
    and the final split aggregate — with the quality gate fused into the
    scan stage.  A third exchange would mean a stage regression in the
    composed north-star pipeline."""
    from kafkastreamsjavachallenge_spark.queries.llm import q_curation_pipeline

    s = plan_summary(q_curation_pipeline(spark, SF_DIR))
    assert s.n_exchanges == 2, s


def test_embed_quantize_is_pure_projection(spark):
    """Int8 quantization is per-row arithmetic: zero exchanges — at any
    scale it runs entirely inside the scan stage."""
    from kafkastreamsjavachallenge_spark.queries.llm import q_embed_quantize

    s = plan_summary(q_embed_quantize(spark, SF_DIR))
    assert s.n_exchanges == 0, s


def test_lint_flags_cartesian(spark):
    a = spark.range(10)
    b = spark.range(10).withColumnRenamed("id", "id2")
    bad = a.crossJoin(b)
    rules = {f.rule for f in lint(bad)}
    # small sides broadcast → BNLJ-cross; forced shuffled cross → CartesianProduct
    assert rules & {"cartesian-product", "broadcast-cross-join"}


def test_lint_flags_row_python_udf(spark):
    from pyspark.sql.functions import udf

    slow = udf(lambda x: x + 1, "bigint")
    df = spark.range(10).select(slow("id").alias("y"))
    rules = {f.rule for f in lint(df)}
    assert "python-row-eval" in rules


def test_lint_clean_on_good_plans(spark):
    """Headline queries lint clean (bounded block-join queries excepted)."""
    for name in ["q_unique_users", "q_tpch_q3", "q_join_broadcast", "q_agg_multi"]:
        findings = lint(REG[name][0](spark, SF_DIR))
        assert findings == [], (name, findings)


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Two tables bucketed on the join key with equal bucket counts join
    with zero shuffle exchanges — the pre-shuffled layout the reference
    approximated with key-partitioned topics (README.md:90-105)."""
    from kafkastreamsjavachallenge_spark.sources.bucketed import (
        bucketed_join,
        write_bucketed,
    )

    orders = load_table(spark, SF_DIR, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    lineitem = load_table(spark, SF_DIR, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"), "l_quantity"
    )
    write_bucketed(orders, "b_orders", ["o_orderkey"], 8, sort_cols=["o_orderkey"])
    write_bucketed(lineitem, "b_lineitem", ["o_orderkey"], 8, sort_cols=["o_orderkey"])
    try:
        joined = bucketed_join(spark, "b_orders", "b_lineitem", on=["o_orderkey"])
        s = plan_summary(joined)
        assert s.n_exchanges == 0, executed_plan(joined)
        want = orders.join(lineitem, "o_orderkey").count()
        assert joined.count() == want
    finally:
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_partitioned_write_prunes_at_directory_level(spark, tmp_path):
    """Day-partitioned layout: an exact-day filter must appear in the
    scan's PartitionFilters (directory pruning), not as a data filter."""
    from kafkastreamsjavachallenge_spark.sources.writers import (
        read_pruned,
        write_time_partitioned,
    )

    ev = load_table(spark, SF_DIR, "events")
    path = str(tmp_path / "events_by_day")
    write_time_partitioned(ev, path, "ts", "day")
    day = ev.select(
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("d")
    ).first()["d"]
    df = read_pruned(spark, path, "day", day)
    p = executed_plan(df)
    assert "PartitionFilters" in p and f"isnotnull(p_day" in p, p
    # correctness: pruned read equals the filtered original
    want = ev.filter(
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd") == day
    ).count()
    assert df.count() == want and want > 0


def test_relayout_parallelizes_single_row_group_input(spark, tmp_path):
    """A big single-row-group parquet file is a one-task scan (parquet
    splits by row group); load_table must transparently re-layout it so
    downstream scans use the full parallelism."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from kafkastreamsjavachallenge_spark import catalog

    n = catalog._RELAYOUT_MIN_ROWS
    pq.write_table(
        pa.table({"k": list(range(n)), "v": [float(i) for i in range(n)]}),
        str(tmp_path / "big.parquet"),
        row_group_size=n,
    )
    assert pq.ParquetFile(str(tmp_path / "big.parquet")).metadata.num_row_groups == 1
    df = catalog.load_table(spark, str(tmp_path), "big")
    assert df.rdd.getNumPartitions() > 1
    assert df.count() == n
    # cached second load hits the converted copy, not another rewrite
    again = catalog.load_table(spark, str(tmp_path), "big")
    assert again.rdd.getNumPartitions() == df.rdd.getNumPartitions()
    # small tables are left untouched
    pq.write_table(pa.table({"k": [1, 2, 3]}), str(tmp_path / "small.parquet"))
    assert catalog.load_table(spark, str(tmp_path), "small").count() == 3
    # a table rewritten in place is relaid out afresh, not served stale
    assert df.agg(F.sum("k")).first()[0] == n * (n - 1) // 2
    pq.write_table(
        pa.table({"k": [7] * n, "v": [0.0] * n}),
        str(tmp_path / "big.parquet"),
        row_group_size=n,
    )
    rewritten = catalog.load_table(spark, str(tmp_path), "big")
    assert rewritten.rdd.getNumPartitions() > 1
    assert rewritten.agg(F.sum("k")).first()[0] == 7 * n


def test_registry_plans_lint_clean(spark):
    """Every batch query in the registry plans lint-clean at sf0.01; the
    only allowed findings are the bounded broadcast-cross scores of the
    similarity / k-means family (query row or k centroids broadcast —
    linear in the big side by construction) and of queries that attach a
    1-row global aggregate (max date, total-order count) by broadcast."""
    from kafkastreamsjavachallenge_spark.queries import registry

    BOUNDED_CROSS = {
        "q_ann_ivf",
        "q_ann_lsh",
        "q_cosine_topk",
        "q_kmeans",
        "q_knn_join",
        "q_cooccurrence",
        "q_rfm",
        "q_triangle_count",
        "q_hist_quantile",
        "q_dq_audit",
        "q_bloom_fpr",
        # 1-row global-aggregate broadcasts (corpus totals)
        "q_mix_weights",
        "q_unigram_logprob",
        # BM25 / DSIR: 1-row corpus-stats and 64-row bucket-model
        # broadcasts — bounded by vocabulary/bucket count, not corpus
        # round-6 corpus pack: 5-row query block (hard negatives),
        # 8-centroid assign (cluster sample), 200-replicate grid
        # (bootstrap), |vocab|-row corpus-distribution broadcast (JS) —
        # all bounded by constants or vocabulary, never the corpus
        "q_hard_negatives",
        "q_cluster_sample",
        "q_bootstrap_ci",
        "q_js_divergence",
        # 1-row query block × two 10-row rank lists (RBO), 20% hash
        # sample² (cosine histogram — sample-rate bounded), 3-row epoch
        # table (epoch shuffle)
        "q_rank_biased_overlap",
        "q_cosine_histogram",
        "q_epoch_shuffle",
        # 3-row k-threshold table over the bounded class aggregate /
        # 1-row corpus-count broadcast
        "q_k_anonymity",
        "q_score_calibration",
        # 1-row max(n_chars) broadcast (rejection sampling)
        "q_rejection_sample",
        "q_bm25",
        "q_dsir_weights",
        # RRF fusion: both retriever lists carry their own bounded
        # broadcasts (query row / corpus stats)
        "q_hybrid_rrf",
        # PCA projection: broadcast 1-row (mu, pc) model
        "q_pca_project",
        # BPE training: 4 broadcast 1-row merge-rule winners
        "q_bpe_train",
        # bigram LM: 1-row vocabulary-size broadcast
        "q_bigram_logprob",
        # PQ scoring: m×k codebook / query distance-table broadcasts
        "q_ann_pq",
        # IVF-PQ composite: 16-centroid + nprobe-probe + ADC-table
        # broadcasts — all bounded by k/nprobe/m·k, never the corpus
        "q_ann_ivfpq",
        # Arrow twin: keeps the declarative probe-list crossJoin (16
        # broadcast centroids × 1 query row; the corpus-sized stages are
        # in-kernel)
        "q_ann_ivfpq_blas",
        # PQ refine: 1-row query block + m×k ADC-table broadcasts into
        # the ADC top-100, then a 100-row exact re-rank — same bounded
        # class as q_ann_pq / q_ann_ivfpq
        "q_ann_pq_refine",
        # IVF-PQ refine: inherits the ivfpq composite's bounded
        # centroid/probe/ADC broadcasts + the 100-row exact re-rank
        "q_ann_ivfpq_refine",
        # topic labeling: inherits kmeans' k-centroid broadcasts
        "q_topic_labels",
        # dedup recall audit: 1-row candidate-count broadcast (precision)
        "q_dedup_recall",
        # PMI: 1-row corpus-totals broadcast
        "q_pmi_collocations",
        # SemDeDup assignment: 16 centroids broadcast (ivf_assign shape)
        "q_semdedup",
        # t-closeness: 8-bucket grid + 1-row total broadcasts (the
        # q_ks_test grid shape per class)
        "q_t_closeness",
        # margin mining: 10-row query block × 100-row target block plus
        # the target block's self-join — all bounded by the block
        # definitions, never the corpus (ANN-probed at scale)
        "q_margin_knn",
        # explicit HLL: 1-row exact-count broadcast joined to the 1-row
        # sketch aggregate
        "q_hll_explicit",
        # priority sampling: 1-row tau (the (k+1)-th priority) broadcast
        # onto the k sampled rows
        "q_priority_sample",
        # skew advisor: 1-row total-count broadcast into the top-10 keys
        "q_skew_advisor",
        # prune simulator: 1-row predicate-bounds broadcast onto the
        # 200-row zone-map table
        "q_prune_simulator",
        # MaxSim: the multi-vector query block broadcasts (|Q| vectors)
        "q_maxsim",
        # recall audit: inherits the retrievers' bounded query broadcasts
        "q_ann_recall",
        # conversion latency: 1-row median broadcast onto the 1-row stats
        "q_time_to_convert",
        # temperature mixing: 1-row order-pinned denominator broadcast
        "q_temperature_mix",
        # vocab coverage: 1-row total-occurrences broadcast
        "q_vocab_coverage",
        # perplexity buckets: inherits the bigram LM's 1-row vocab-size
        # broadcast (q_bigram_logprob shape)
        "q_perplexity_bucket",
        # MMR re-rank: 3-row query-vector block broadcast (cosine_topk
        # shape, one row per query)
        "q_mmr_rerank",
        # token budgeting: 1-row weight-total and remainder broadcasts
        "q_token_budget",
        # norm audit: 1-row counts + 1-row exact-median broadcasts
        "q_embed_norm_audit",
        # NDCG audit: inherits the three retrievers' bounded broadcasts
        # (q_ann_recall shape) + the 10-row relevance table
        "q_ann_ndcg",
        # cost/recall frontier: 1-row count + hit aggregates per method,
        # over the retrievers' own bounded-broadcast candidate sets
        "q_ann_frontier",
        # Theil-Sen: 1-row pair-count and 1-row exact-median broadcasts
        "q_theil_sen",
        # CUSUM: 1-row integer-mean broadcast onto the 1-row folded series
        "q_changepoint",
        # MAD: 1-row count / median / deviation-median broadcasts
        "q_mad",
        # HHI: 1-row corpus-total broadcast onto |sources| rows
        "q_source_hhi",
        # Kneser-Ney: 1-row bigram-type-count broadcast
        "q_kn_bigram",
        # KS grid: |sources| x |distinct lengths| CDF grid — 1-row total
        # + bounded distinct-value block broadcasts
        "q_ks_test",
        # benchmark block (vec_id<20) broadcast against the corpus scan
        "q_semantic_decontaminate",
        # |labels|-row integer-centroid block broadcast (SemDeDup shape)
        "q_silhouette",
        # 1-row union-estimate broadcast onto the 1-row exact count
        "q_hll_union_bound",
    }
    # every comparison in the filter is over a COMPUTED expression
    # (token counts / ratios derived from split(text)) — unpushable by
    # construction, so the empty PushedFilters is correct, not lost
    UNPUSHABLE_FILTER = {
        "q_curation_pipeline",
        # null-guard / join-key filters over text-DERIVED columns
        # (bigram structs from split(text)) — unpushable by construction
        "q_bigram_logprob",
        # len(tokens) >= 2 gate over split(text) — computed, unpushable
        "q_perplexity_bucket",
        # non-empty leading-bigram gate over split(text) — computed
        "q_template_detect",
    }
    bad = {}
    for name, (fn, _) in sorted(registry().items()):
        if name.startswith("q_stream"):
            continue  # streaming queries execute on construction
        rules = {f.rule for f in lint(fn(spark, "/root/testdata/sf0.01"))}
        allowed = {"broadcast-cross-join"} if name in BOUNDED_CROSS else set()
        if name in UNPUSHABLE_FILTER:
            allowed = allowed | {"no-pushdown-with-filter"}
        if rules - allowed:
            bad[name] = rules - allowed
    assert not bad, f"lint regressions: {bad}"


def test_runtime_bloom_filter_prunes_fact_side(spark):
    """enable_runtime_filters: a selective filtered dimension joined via
    shuffle join must inject bloom_filter_agg on the build side and a
    might_contain probe filter on the fact side — fact rows that cannot
    match are dropped before the shuffle (the decisive 100 TB fact-join
    optimization after partition pruning)."""
    from kafkastreamsjavachallenge_spark.session import enable_runtime_filters

    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        enable_runtime_filters(spark, application_side_threshold="0")
        # force the shuffle-join path: broadcast joins use their own
        # (also-supported) reuse mechanism and don't need the bloom filter
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        orders = load_table(spark, SF_DIR, "orders")
        cust = load_table(spark, SF_DIR, "customer").filter(
            F.col("c_mktsegment") == "BUILDING"
        )
        j = orders.join(cust, orders.o_custkey == cust.c_custkey).select(
            "o_orderkey"
        )
        opt = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter_agg" in opt, opt
        assert "might_contain" in opt, opt
        # and the result is unchanged by the pruning
        n_filtered = j.count()
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "10GB",
        )
        assert j.count() == n_filtered
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_ivf_partitioned_probe_prunes_directories(spark, tmp_path):
    """The IVF scale path, physically: centroid-partitioned layout +
    literal probe ids must prune at the DIRECTORY level (PartitionFilters
    on centroid_id, only nprobe inverted-list dirs on disk are touched),
    and the pruned probe must equal the in-memory ivf_ann_topk with the
    same (centroids, k, nprobe)."""
    import os

    from kafkastreamsjavachallenge_spark.operators.similarity import (
        ivf_ann_topk,
        ivf_partitioned_topk,
        write_ivf_partitioned,
    )

    e = load_table(spark, SF_DIR, "embeddings")
    centroids = e.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    corpus = e.filter(F.col("vec_id") != 0)
    query = e.filter(F.col("vec_id") == 0)
    path = str(tmp_path / "ivf_layout")
    write_ivf_partitioned(corpus, centroids, path)
    # one directory per inverted list on disk
    dirs = [d for d in os.listdir(path) if d.startswith("centroid_id=")]
    assert len(dirs) > 1

    out = ivf_partitioned_topk(spark, path, query, centroids, k=10, nprobe=4)
    p = executed_plan(out)
    assert "PartitionFilters" in p and "centroid_id" in p.split("PartitionFilters")[1][:200], p
    want = ivf_ann_topk(corpus, query, centroids, k=10, nprobe=4)
    assert [tuple(r) for r in out.collect()] == [tuple(r) for r in want.collect()]


def test_band_index_probe_prunes_directories(spark, tmp_path):
    """The incremental-dedup scale path, physically: the persisted MinHash
    band index is partitioned by (band, bucket-prefix); a new batch's
    probe list becomes literal partition predicates (PartitionFilters on
    band/bp — only the touched directories are read), pruning must lose
    NOTHING versus an unpruned scan, and exact duplicates of indexed docs
    must all collide."""
    import os

    from kafkastreamsjavachallenge_spark.operators.dedup import (
        band_index_matches,
        dedup_against_band_index,
        lsh_band_buckets,
        minhash_signatures,
        write_band_index,
    )

    docs = load_table(spark, SF_DIR, "documents")
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    path = str(tmp_path / "band_index")
    write_band_index(corpus, path)
    assert len([d for d in os.listdir(path) if d.startswith("band=")]) == 4

    # new batch: 10 fresh docs + 5 exact copies of indexed docs
    fresh = docs.filter(F.col("doc_id") % 5 == 0).limit(10)
    copies = (
        corpus.limit(5)
        .select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text",
                "lang", "source", "n_chars")
    )
    batch = fresh.unionByName(copies).localCheckpoint()

    got = band_index_matches(batch, spark, path)
    p = executed_plan(got)
    assert "PartitionFilters" in p, p
    tail = p.split("PartitionFilters")[1][:400]
    assert "band" in tail and "bp" in tail, tail

    # pruning loses nothing: same matches as joining the UNPRUNED index
    nb = lsh_band_buckets(minhash_signatures(batch))
    full = (
        nb.join(
            spark.read.parquet(path).select(
                F.col("doc_id").alias("indexed_id"), "band", "bucket"
            ),
            ["band", "bucket"],
        )
        .select(F.col("doc_id").alias("new_id"), "indexed_id")
        .distinct()
    )
    got_set = {(r["new_id"], r["indexed_id"]) for r in got.collect()}
    assert got_set == {(r["new_id"], r["indexed_id"]) for r in full.collect()}

    # every exact copy collides (identical signatures -> all bands match)
    copy_ids = {r["doc_id"] for r in copies.select("doc_id").collect()}
    assert copy_ids <= {a for a, _ in got_set}

    kept = dedup_against_band_index(batch, spark, path)
    kept_ids = {r["doc_id"] for r in kept.select("doc_id").collect()}
    assert kept_ids.isdisjoint(copy_ids)
    assert kept_ids <= {r["doc_id"] for r in fresh.select("doc_id").collect()}


def test_band_index_compaction_bounds_files_across_ingest(spark, tmp_path):
    """Nightly-ingest maintenance: each append adds files to every
    touched (band, bp) directory, so without compaction the per-dir file
    count grows linearly with batch count.  Simulate 6 ingest batches
    with compact_band_index after each (cap 4): every directory stays at
    or under the cap after every maintenance pass, and the compacted
    index still returns byte-identical probe results — all planted exact
    copies of indexed docs collide, fresh docs survive."""
    import os
    from collections import Counter

    from kafkastreamsjavachallenge_spark.operators.dedup import (
        band_index_matches,
        compact_band_index,
        write_band_index,
    )

    docs = load_table(spark, SF_DIR, "documents").localCheckpoint()
    path = str(tmp_path / "band_index")
    write_band_index(docs.filter(F.col("doc_id") < 100), path)

    def files_per_dir():
        c = Counter()
        for root, _dirs, files in os.walk(path):
            for f in files:
                if f.endswith(".parquet"):
                    rel = os.path.relpath(root, path)
                    c[rel] += 1
        return c

    for i in range(6):
        batch = docs.filter(
            (F.col("doc_id") >= 100 + i * 50) & (F.col("doc_id") < 150 + i * 50)
        )
        write_band_index(batch, path, mode="append")
        compact_band_index(spark, path, max_files_per_dir=4)
        over = {d: n for d, n in files_per_dir().items() if n > 4}
        assert not over, f"batch {i}: over-appended dirs survived compaction: {over}"

    # the compacted index is semantically intact: exact copies of indexed
    # docs collide on every band, a fresh unseen doc does not
    copies = docs.filter(F.col("doc_id") < 5).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        "text",
        "lang",
        "source",
        "n_chars",
    )
    got = band_index_matches(copies, spark, path)
    hit_new = {r["new_id"] for r in got.collect()}
    assert hit_new == {1_000_000 + i for i in range(5)}


def test_band_index_compaction_recovers_from_crash_points(spark, tmp_path):
    """Crash-safety of the compaction swap (round-7 ADVICE): simulate a
    run dying at each dangerous point and assert the NEXT
    compact_band_index call restores every row rather than cleaning up
    the only remaining copy.

    (a) between rename(live→trash) and rename(tmp→live): the live dir is
        absent and both staging copies exist — recovery must promote the
        completed tmp rewrite (or restore trash) before any cleanup;
    (b) after a tmp write but before the first rename: live intact,
        recovery must leave it alone and just drop the leftovers;
    (c) after promote but before the trash delete: live holds the new
        files, stale trash must be swept without touching live."""
    import os
    import shutil

    from kafkastreamsjavachallenge_spark.operators.dedup import (
        compact_band_index,
        write_band_index,
    )

    docs = load_table(spark, SF_DIR, "documents").filter(F.col("doc_id") < 200)
    path = str(tmp_path / "band_index")
    write_band_index(docs, path)
    expected = spark.read.parquet(path).count()

    def bucket_dirs():
        out = []
        for band in sorted(os.listdir(path)):
            if not band.startswith("band="):
                continue
            for bp in sorted(os.listdir(os.path.join(path, band))):
                if bp.startswith("bp="):
                    out.append(f"{band}/{bp}")
        return out

    keys = bucket_dirs()
    assert len(keys) >= 3, "need >=3 buckets to stage the 3 crash scenarios"

    # (a) mid-swap: live gone, trash = old rows, tmp = completed rewrite
    key_a = keys[0]
    live_a = os.path.join(path, key_a)
    trash_a = os.path.join(path, ".compact_trash", key_a)
    tmp_a = os.path.join(path, ".compact_tmp", key_a)
    os.makedirs(os.path.dirname(tmp_a))
    shutil.copytree(live_a, tmp_a)
    open(os.path.join(tmp_a, "_SUCCESS"), "w").close()
    os.makedirs(os.path.dirname(trash_a))
    os.rename(live_a, trash_a)
    # (b) pre-swap: live intact, half-written tmp (no _SUCCESS) left over
    key_b = keys[1]
    tmp_b = os.path.join(path, ".compact_tmp", key_b)
    os.makedirs(tmp_b)
    open(os.path.join(tmp_b, "part-junk.parquet.inprogress"), "w").close()
    # (c) post-promote: live intact, stale trash copy left over
    key_c = keys[2]
    trash_c = os.path.join(path, ".compact_trash", key_c)
    os.makedirs(os.path.dirname(trash_c), exist_ok=True)
    shutil.copytree(os.path.join(path, key_c), trash_c)

    compact_band_index(spark, path, max_files_per_dir=1_000_000)

    assert os.path.isdir(live_a), "mid-swap bucket was not restored"
    assert not os.path.exists(os.path.join(path, ".compact_trash"))
    assert not os.path.exists(os.path.join(path, ".compact_tmp"))
    assert spark.read.parquet(path).count() == expected


def test_url_dedup_is_pure_scan_aggregate(spark):
    """q_url_dedup must stay join-free and window-free: canonicalization
    is a scan-side string projection, dedup-rate two hash aggregates —
    the shape that scales to any frontier size with one shuffle on the
    canonical key."""
    df = REG["q_url_dedup"][0](spark, SF_DIR)
    p = plan(df)
    assert "Join" not in p, p
    assert "Window" not in p, p
    assert "partial_count" in p  # map-side combine on the canon groupBy


def test_good_turing_partial_aggregation(spark):
    """Both Good-Turing aggregates (token tf, per-source spectrum) plan
    as two-phase hash aggregation — the map-side combine that keeps the
    shuffle carrying (source, token) partials, not raw occurrences."""
    df = REG["q_good_turing"][0](spark, SF_DIR)
    p = plan(df)
    assert "partial_count" in p
    assert "Window" not in p, p


def test_margin_knn_broadcasts_both_blocks(spark):
    """The query and target blocks must BROADCAST (bounded by the block
    filters) — a shuffled all-pairs join here would be the scale
    killer; the corpus side never moves."""
    df = REG["q_margin_knn"][0](spark, SF_DIR)
    p = plan(df)
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p, p
    assert "SortMergeJoin" not in p.split("Window")[0], p


def test_aqe_skew_join_absorbs_unsalted_fixture(spark):
    """Round-8 VERDICT item 6: the manual-salting operators
    (q_salted_join / salted_join) predate trusting AQE — this pins WHEN
    the handwritten salt is actually needed at 100x.  The same skewed
    fixture (99% of the big side on one key) run UNSALTED with
    spark.sql.adaptive.skewJoin enabled must (a) return exactly the
    plain-join result and (b) show the skewed partition SPLIT in the
    final adaptive plan (SortMergeJoin(skew=true) reading an
    'AQEShuffleRead skewed').  Conclusion encoded by this test: for
    shuffle JOINS, AQE's runtime split makes manual salting optional;
    manual salting remains necessary for skewed AGGREGATIONS
    (OptimizeSkewedJoin does not split groupBy state — q_salted_agg's
    two-phase shape) and for engines/paths without AQE.
    Thresholds are lowered test-side only because local fixtures are
    MBs, not the 256 MB default partition size."""
    saved = {}
    tuned = {
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force the SMJ
    }
    for k, v in tuned.items():
        saved[k] = spark.conf.get(k, None)
        spark.conf.set(k, v)
    try:
        big = spark.range(0, 303000).select(
            F.when(F.col("id") < 300000, 0)
            .otherwise((F.col("id") % 100) + 1)
            .alias("k"),
            F.concat(F.lit("payload-payload-"), F.col("id").cast("string")).alias(
                "pay"
            ),
        )
        small = spark.range(0, 101).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("v")
        )
        j = big.join(small, "k")
        got = len(j.collect())  # j's OWN execution finalizes its plan
        assert got == 303000
        p = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in p
        assert "SortMergeJoin(skew=true)" in p, p[:2000]
        assert "AQEShuffleRead skewed" in p, p[:2000]

        # both ways: the manual salted join on the same fixture (skew
        # handling OFF so the salt itself carries the skew) agrees
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
        from kafkastreamsjavachallenge_spark.operators.relational import (
            salted_join,
        )

        sj = salted_join(big, small, on="k", salt_buckets=8)
        assert sj.count() == 303000
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_ann_blas_kernels_evaluate_once(spark):
    """r12 (guide §4.4): the pq/ivfpq BLAS kernels are marked
    non-deterministic so the isnotnull(adc_dist) filter cannot push
    beneath the projection and re-evaluate the corpus-sized Arrow kernel
    — before the fix every one of these plans carried TWO identical
    ArrowEvalPython nodes (the whole corpus crossed the Python boundary
    and ran the numpy ADC twice per query)."""
    import re
    from collections import Counter

    for name in (
        "q_ann_pq_blas",
        "q_ann_ivfpq_blas",
        "q_ann_pq_refine",
        "q_ann_ivfpq_refine",
    ):
        p = plan(REG[name][0](spark, SF_DIR))
        # one entry per Python-eval node, keyed by the FULL call incl.
        # argument ids — corpus-vs-query evaluations of the same UDF are
        # distinct expressions and stay allowed
        calls = re.findall(
            r"(?:ArrowEvalPython|BatchEvalPython) \[([A-Za-z_0-9]+\([^)]*\)#\d+)\]",
            p,
        )
        dup = {c: n for c, n in Counter(calls).items() if n > 1}
        assert not dup, f"{name} re-evaluates a Python kernel: {dup}"
