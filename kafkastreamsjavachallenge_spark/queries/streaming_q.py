"""Streaming queries surfaced in the batch harness: the reference topology
executed by the Structured Streaming engine over a file micro-batch source,
results drained through a memory sink.

``q_stream_unique_users`` (update mode, single availableNow batch) emits
final counts for every window → identical to the batch flagship → full
DuckDB oracle.  ``q_stream_unique_users_append`` exercises suppressed
emit-on-close semantics (X1, the changelog-vs-final distinction the
reference documents at README.md:132-136): a sentinel event staged 10
minutes past the corpus horizon advances the watermark past every real
window, so append mode emits exactly the final per-window counts — while
the sentinel's own window stays open and is itself suppressed.  That
makes the append path hash-checkable against the same oracle as the
update path.  Multi-batch incremental behavior is covered in
tests/test_streaming.py.
"""

from __future__ import annotations

import os

from kafkastreamsjavachallenge_spark.catalog import load_table
from kafkastreamsjavachallenge_spark.operators.windows import with_event_time
from kafkastreamsjavachallenge_spark.queries.corpus import _KS_SQL
from kafkastreamsjavachallenge_spark.queries.llm import _MINHASH_SIG_CTE
from kafkastreamsjavachallenge_spark.queries.quality import (
    _CMS_HASHES,
    _CMS_W,
    _P,
)
from kafkastreamsjavachallenge_spark.session import configure_runtime, derived_dir
from kafkastreamsjavachallenge_spark.streaming.pipeline import (
    file_stream,
    run_to_memory,
    stream_static_enrich,
    stream_stream_join,
    streaming_session_counts,
    streaming_sliding_counts,
    streaming_unique_users,
)
from kafkastreamsjavachallenge_spark.streaming.sinks import for_each_batch


def _link_source(src: str, stage: str) -> None:
    """Stage ``src`` by symlink: the file stream source reads a directory,
    and testdata is read-only, so no data is copied."""
    os.symlink(src, os.path.join(stage, "part-00000.parquet"))


def _staged_dir(src: str, variant: str = "plain", build=None) -> str:
    """Staging directory for the file stream source, built once per
    (source, variant) and source identity under the process scratch root
    (``session.derived_dir``): repeated calls reuse it, and a source
    regenerated in place gets a fresh one, so a sentinel derived from old
    data is never served.  The plain variant holds one symlink to the
    source; ``build(dir)`` makes any other variant."""
    return derived_dir(src, variant, build or (lambda d: _link_source(src, d)))


def _staged_docs_stream(spark, sf_dir):
    """documents.parquet as a file micro-batch stream via its staging
    dir."""
    configure_runtime(spark)
    src = os.path.realpath(f"{sf_dir}/documents.parquet")
    stage = _staged_dir(src)
    schema = spark.read.parquet(src).schema
    return file_stream(spark, stage, schema)


def _event_stream(spark, sf_dir, horizon_sentinel=False):
    from pyspark.sql import functions as F

    configure_runtime(spark)  # nanosAsLong etc. — vanilla driver sessions
    src = os.path.realpath(f"{sf_dir}/events.parquet")

    batch = spark.read.parquet(src)  # schema donor
    if horizon_sentinel:
        # One extra event 10 minutes past the corpus max event time:
        # after the availableNow batch the watermark lands beyond every
        # real window, so append mode's no-data flush emits all real
        # final counts; the sentinel's OWN window never closes and is
        # suppressed — which is exactly the emit-on-close semantics
        # under test.  Derived from the latest real row so its schema
        # (incl. nanos-as-bigint drift) matches the source bit-for-bit.
        def _write_sentinel(tmp_dir: str) -> None:
            _link_source(src, tmp_dir)
            last = batch.orderBy(F.desc("ts")).limit(1)
            if dict(batch.dtypes).get("ts") == "bigint":  # nanos drift
                sent = last.withColumn("ts", F.col("ts") + F.lit(600_000_000_000))
            else:
                sent = last.withColumn(
                    "ts", F.col("ts") + F.expr("INTERVAL 10 MINUTES")
                )
            sent.coalesce(1).write.mode("append").parquet(tmp_dir)

        stage = _staged_dir(src, "sentinel", build=_write_sentinel)
    else:
        stage = _staged_dir(src)
    return with_event_time(file_stream(spark, stage, batch.schema), "ts")


def q_stream_unique_users(spark, sf_dir):
    result = streaming_unique_users(_event_stream(spark, sf_dir))
    return run_to_memory(result, output_mode="update")


def q_stream_unique_users_append(spark, sf_dir):
    """X1 suppression, hash-checked: the horizon sentinel closes every
    real window, so the append-mode (emit-on-close) result equals the
    batch flagship.  The sentinel's own window is never emitted — the
    watermark (sentinel_ts - 1min) is always below that window's end —
    and the oracle reads only the real events.parquet, so both sides
    exclude it by construction."""
    stream = _event_stream(spark, sf_dir, horizon_sentinel=True)
    result = streaming_unique_users(stream)
    return run_to_memory(result, output_mode="append")


def q_stream_enrich(spark, sf_dir):
    """Stream-static enrichment: events stream × broadcast customer dim,
    aggregated per market segment.  One availableNow batch drains the whole
    source, so the result equals the batch join → full SQL oracle."""
    from pyspark.sql import functions as F

    stream = _event_stream(spark, sf_dir)
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    enriched = stream_static_enrich(stream, dim, on="user_id")
    result = enriched.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_events")
    )
    return run_to_memory(result, output_mode="complete")


def q_stream_sliding(spark, sf_dir):
    """Sliding-window streaming counts; final counts after one availableNow
    drain equal the batch sliding-window query → full SQL oracle."""
    result = streaming_sliding_counts(_event_stream(spark, sf_dir))
    return run_to_memory(result, output_mode="update")


def q_stream_session(spark, sf_dir):
    """Streaming session windows; one availableNow drain merges all
    fragments, so final sessions equal the batch gap-session SQL."""
    result = streaming_session_counts(_event_stream(spark, sf_dir))
    # session-window streaming aggregation supports append/complete only
    return run_to_memory(result, output_mode="complete")


def q_stream_countmin(spark, sf_dir):
    """Streaming count-min sketch (heavy-hitter state): the 4x512 bucket
    counters of queries/quality.py's CMS maintained AS the streaming
    aggregation state — additive merge is exactly what update-free
    complete-mode streaming aggregation does per micro-batch, which is
    why CMS is the canonical heavy-hitter structure for streams.  One
    availableNow drain equals the batch build, so the populated sketch
    cells get a full SQL oracle."""
    from pyspark.sql import functions as F

    from kafkastreamsjavachallenge_spark.queries.quality import (
        _CMS_HASHES,
        _CMS_W,
        _bucket,
    )

    stream = _event_stream(spark, sf_dir)
    hashes = F.array(
        *[
            F.struct(
                F.lit(d).alias("d"),
                _bucket(F.col("user_id"), a, b, _CMS_W).alias("bucket"),
            )
            for d, (a, b) in enumerate(_CMS_HASHES)
        ]
    )
    cms = (
        stream.select(F.explode(hashes).alias("h"))
        .groupBy(F.col("h.d").alias("d"), F.col("h.bucket").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return run_to_memory(cms, output_mode="complete")


def q_stream_join(spark, sf_dir):
    """Stream-stream interval self-join: pairs of events by the same user
    within one minute.  Both sides are watermarked and the join predicate
    bounds the right event-time, so state is evictable (the unbounded-state
    failure mode the reference documents at README.md:196 cannot occur).
    One availableNow batch holds all input, so every inner match is emitted
    before shutdown → equals the batch self-join → full SQL oracle."""
    from pyspark.sql import functions as F

    left = _event_stream(spark, sf_dir).select("event_id", "user_id", "ts")
    right = _event_stream(spark, sf_dir).select(
        F.col("event_id").alias("r_event_id"),
        F.col("user_id").alias("r_user_id"),
        F.col("ts").alias("r_ts"),
    )
    on = (
        (F.col("user_id") == F.col("r_user_id"))
        & (F.col("r_ts") >= F.col("ts"))
        & (F.col("r_event_id") != F.col("event_id"))
    )
    joined = stream_stream_join(
        left, right, on, left_ts="ts", right_ts="r_ts",
        watermark="1 minute", interval="1 minute",
    )
    pairs = run_to_memory(joined, output_mode="append")
    return pairs.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_pairs"))


def q_stream_topk(spark, sf_dir):
    """Streaming top-k heavy hitters: per-key counts maintained as
    complete-mode aggregation state, top-10 read off the drained sink.
    The streaming agg is the exact companion to q_stream_countmin's
    sketch — use this below memory limits, the sketch above them.  One
    availableNow drain equals the batch count → full SQL oracle; ties
    break on user_id so the limit is deterministic in both engines."""
    from pyspark.sql import functions as F

    stream = _event_stream(spark, sf_dir)
    counts = stream.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    out = run_to_memory(counts, output_mode="complete")
    return out.orderBy(F.col("n").desc(), "user_id").limit(10)


def q_stream_dedup(spark, sf_dir):
    """Streaming key dedup with bounded state:
    ``dropDuplicatesWithinWatermark`` keeps one record per user_id and —
    unlike plain streaming dropDuplicates — evicts a key's state once the
    watermark passes it, so state size tracks the distinct keys per
    watermark horizon, not per stream lifetime (the reference's unbounded
    RocksDB growth, README.md:196, is structurally impossible here).  One
    availableNow drain sees each key at least once → the emitted key set
    equals batch DISTINCT → full SQL oracle on the projected key."""
    stream = _event_stream(spark, sf_dir)
    deduped = stream.withWatermark("ts", "10 minutes").dropDuplicatesWithinWatermark(
        ["user_id"]
    )
    out = run_to_memory(deduped, output_mode="append")
    return out.select("user_id")


def q_stream_curation(spark, sf_dir):
    """Streaming curation ingest: the quality-gate + dedup front of the
    corpus pipeline run by the micro-batch engine — documents arrive as
    files, pass the integer-exact token/TTR gate, dedup on content
    WITHIN source (state key = (source, md5(text)), so the kept-copy
    choice can never change per-source counts), and aggregate per-source
    retained-distinct counts in update mode.  Chains a stateful
    dropDuplicates into a stateful aggregation — the canonical
    ingest-side curation topology.  This harness run keeps dedup state
    unbounded (one availableNow batch); a production stream bounds it
    with dropDuplicatesWithinWatermark."""
    from pyspark.sql import functions as F

    from kafkastreamsjavachallenge_spark.functions import text as T

    stream = _staged_docs_stream(spark, sf_dir)

    toks = T.tokens("text")
    n = F.size(toks)
    gated = stream.filter(
        (n >= 10)
        & (n <= 500)
        & (F.lit(5) * F.size(F.array_distinct(toks)) >= n)
    )
    deduped = gated.withColumn("content_hash", F.md5("text")).dropDuplicates(
        ["source", "content_hash"]
    )
    counts = deduped.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_kept_distinct")
    )
    return run_to_memory(counts, output_mode="update")


def q_stream_neardup(spark, sf_dir):
    """Streaming NEAR-dup monitor — the MinHash banding of q_minhash_pairs
    maintained as streaming state: arriving documents compute their 8-perm
    signatures and 4 LSH band buckets inside the micro-batch engine, and a
    complete-mode aggregation keeps (n_docs, canonical keep_id) per band
    bucket.  Buckets with n_docs >= 2 are in-flight near-dup candidates —
    the ingest-side alarm a crawler front-end runs BEFORE the batch verify
    pass (q_neardup_verified) confirms them.

    A stateful pipeline affords exactly ONE aggregation, so the signature
    uses the row-local projection form (functions/text.minhash_signature —
    identical values to the exploded operator form: same universal hashes,
    min is order-free), leaving the per-bucket count+min as the single
    streaming agg.  Count + min are mergeable, so the bucket rows are
    exact regardless of how many micro-batches the drain splits into; one
    availableNow drain therefore equals the batch banding — full SQL
    oracle.  At scale, state is |occupied buckets| within the retention
    horizon; production bounds it with watermarked window buckets."""
    from pyspark.sql import functions as F

    from kafkastreamsjavachallenge_spark.functions import text as T
    from kafkastreamsjavachallenge_spark.operators import dedup as D

    stream = _staged_docs_stream(spark, sf_dir)

    sigs = stream.filter(F.size(T.tokens("text")) >= 3).select(
        "doc_id",
        T.minhash_signature(
            F.array_distinct(T.shingles(T.tokens("text"), 3)), 8
        ).alias("sig"),
    )
    banded = D.lsh_band_buckets(sigs, "doc_id", bands=4, rows_per_band=2)
    per_bucket = banded.groupBy("band", "bucket").agg(
        F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("keep_id")
    )
    out = run_to_memory(per_bucket, output_mode="complete")
    return out.filter(F.col("n_docs") >= 2)



def q_stream_anomaly(spark, sf_dir):
    """Streaming twin of q_anomaly_zscore's ingest half: per-(type, day)
    event counts maintained by the micro-batch engine (complete mode —
    counts are additive partials, the same merge CMS exploits), then the
    z-score pass runs over the drained counts exactly as the batch
    monitor would over its counts table.  One availableNow drain equals
    the batch aggregate, so the full anomaly report is oracle-checked."""
    from pyspark.sql import functions as F

    stream = _event_stream(spark, sf_dir)
    daily = stream.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    counts = run_to_memory(daily, output_mode="complete")
    # per-type moments as window aggregates (no self-join of the memory
    # sink view — same exprIds on both sides trip conflicting-reference
    # analysis; the window also saves the join outright)
    from pyspark.sql import Window

    w = Window.partitionBy("event_type")
    k = F.count(F.lit(1)).over(w)
    s = F.sum("n").over(w)
    ss = F.sum(F.col("n") * F.col("n")).over(w)
    mean = s.cast("double") / k
    var = ss.cast("double") / k - mean * mean
    z = (F.col("n") - mean) / F.sqrt(var)
    guarded = F.when(var <= 0, F.lit(None).cast("double")).otherwise(F.round(z, 4))
    return counts.select(
        "event_type",
        "day",
        "n",
        guarded.alias("z"),
        F.when(F.abs(F.coalesce(guarded, F.lit(0.0))) >= 2, 1)
        .otherwise(0)
        .alias("is_anomaly"),
    )



def q_stream_ks(spark, sf_dir):
    """Streaming twin of q_ks_test: drift monitoring IS a streaming job
    in production, and the KS ingest state is just the per-(source,
    n_chars) histogram — an additive count maintained by the micro-batch
    engine in complete mode (the CMS merge property again).  The KS grid
    itself runs over the drained histogram, expressed in Spark SQL over
    a temp view so each CTE reference of the sink table resolves fresh
    attributes (the memory-sink self-join exprId pitfall q_stream_anomaly
    documents).  One availableNow drain equals the batch histogram, so
    the full drift report is oracle-checked against q_ks_test's SQL.

    Scale: the streaming state is |sources| x |distinct lengths| counter
    cells — domain-bounded, never per-document; the grid pass is the
    same tiny post-aggregate as the batch monitor's."""
    from pyspark.sql import functions as F

    stream = _staged_docs_stream(spark, sf_dir)

    hist = stream.groupBy("source", "n_chars").agg(
        F.count(F.lit(1)).alias("c_s")
    )
    counts = run_to_memory(hist, output_mode="complete")
    # per-CALL unique view name: a per-sf_dir name would let
    # two concurrent invocations on the same sf_dir race on
    # createOrReplaceTempView and read each other's drained counts
    import uuid

    view = f"stream_ks_counts_{uuid.uuid4().hex}"
    counts.createOrReplaceTempView(view)
    # same grid, filter, and integer-exact statistic as q_ks_test —
    # including the degenerate-source guard (n_s < n_tot)
    return spark.sql(
        f"WITH cs AS (SELECT source, n_chars, c_s FROM {view}), "
        "cv AS (SELECT n_chars, sum(c_s) AS c FROM cs GROUP BY n_chars), "
        "ns AS (SELECT source, sum(c_s) AS n_s FROM cs GROUP BY source), "
        "nt AS (SELECT sum(c) AS n_tot FROM cv), "
        "cum AS (SELECT ns.source, ns.n_s, nt.n_tot, "
        "sum(coalesce(cs.c_s, 0)) OVER (PARTITION BY ns.source "
        "ORDER BY cv.n_chars ROWS UNBOUNDED PRECEDING) AS cum_s, "
        "sum(cv.c) OVER (PARTITION BY ns.source "
        "ORDER BY cv.n_chars ROWS UNBOUNDED PRECEDING) AS cum_t "
        "FROM ns CROSS JOIN nt CROSS JOIN cv "
        "LEFT JOIN cs ON cs.source = ns.source AND cs.n_chars = cv.n_chars "
        "WHERE ns.n_s < nt.n_tot) "
        "SELECT source, CAST(max(n_s) AS BIGINT) AS n_docs, "
        "CAST(max(abs(cum_s * (n_tot - n_s) - (cum_t - cum_s) * n_s) "
        "* 1000000 DIV (n_s * (n_tot - n_s))) AS BIGINT) AS ks_e6 "
        "FROM cum GROUP BY source"
    )


def q_stream_anomaly_sliding(spark, sf_dir):
    """Watermarked sliding-window anomaly monitor — the append-mode
    production shape of q_stream_anomaly: per-(event_type, 2-minute
    window sliding by 1) counts with a real watermark, the horizon
    sentinel closing every real window (X1 emit-on-close, as in
    q_stream_unique_users_append), then the guarded z-score pass over
    the emitted window counts.  The sentinel's own windows never pass
    the watermark and are suppressed, so one availableNow drain equals
    the batch sliding expansion → full SQL oracle.

    Scale: state is watermark-bounded (2 windows per event live at
    once); the z-score pass is a per-type window over the tiny emitted
    counts table."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    stream = _event_stream(spark, sf_dir, horizon_sentinel=True)
    win = (
        stream.withWatermark("ts", "2 minutes")
        .groupBy("event_type", F.window("ts", "2 minutes", "1 minute").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select("event_type", F.col("w.start").alias("window_start"), "n")
    )
    counts = run_to_memory(win, output_mode="append")
    w = Window.partitionBy("event_type")
    k = F.count(F.lit(1)).over(w)
    s = F.sum("n").over(w)
    ss = F.sum(F.col("n") * F.col("n")).over(w)
    mean = s.cast("double") / k
    var = ss.cast("double") / k - mean * mean
    z = (F.col("n") - mean) / F.sqrt(var)
    guarded = F.when(var <= 0, F.lit(None).cast("double")).otherwise(F.round(z, 4))
    return counts.select(
        "event_type",
        "window_start",
        "n",
        guarded.alias("z"),
        F.when(F.abs(F.coalesce(guarded, F.lit(0.0))) >= 2, 1)
        .otherwise(0)
        .alias("is_anomaly"),
    )


def q_stream_funnel(spark, sf_dir):
    """Streaming curation-funnel monitor: per-stage survivor counters
    (length -> lexical diversity -> Gopher top-token) maintained as ONE
    global streaming aggregation in complete mode — the live dashboard
    row a curation ingest exposes.  The top-token count uses a row-local
    sorted run-length fold (sort_array + one HOF pass) instead of the
    batch explode/groupBy: a streaming pipeline affords one stateful
    aggregation, so the per-doc profile must stay stateless — identical
    values, different physical shape (same trick as q_stream_neardup's
    row-local MinHash).  The exact-dup stage belongs to
    q_stream_curation, whose dropDuplicates->agg chain owns content
    state.  One availableNow drain equals the batch funnel's first three
    stages row-for-row."""
    from pyspark.sql import functions as F

    from kafkastreamsjavachallenge_spark.functions import text as T

    stream = _staged_docs_stream(spark, sf_dir)

    toks = T.tokens("text")
    n = F.size(toks)
    # longest equal-run over the sorted token list == max per-token count
    top_c = F.aggregate(
        F.sort_array(toks),
        F.struct(
            F.lit("").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + 1)
            .otherwise(F.lit(1))
            .alias("run"),
            F.greatest(
                acc["best"],
                F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    )
    flagged = stream.select(
        n.alias("n_tok"),
        (n.between(10, 500)).alias("f1"),
        (F.size(F.array_distinct(toks)) * 5 >= n).alias("f2"),
        top_c.alias("top_c"),
    ).withColumn("f3", F.col("top_c") * 10 <= F.col("n_tok") * 3)
    agg = flagged.groupBy().agg(
        F.count(F.lit(1)).alias("n0"),
        F.sum(F.when(F.col("f1"), 1).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col("f1") & F.col("f2"), 1).otherwise(0)).alias("n2"),
        F.sum(
            F.when(F.col("f1") & F.col("f2") & F.col("f3"), 1).otherwise(0)
        ).alias("n3"),
    )
    out = run_to_memory(agg, output_mode="complete")
    return out.selectExpr(
        "stack(3, 'length', 1, n0, n1, 'diversity', 2, n1, n2, "
        "'top_token', 3, n2, n3) AS (stage, stage_idx, n_in, n_out)"
    ).selectExpr(
        "stage",
        "stage_idx",
        "CAST(n_in AS BIGINT) AS n_in",
        "CAST(n_in - n_out AS BIGINT) AS n_removed",
        "CAST(n_out AS BIGINT) AS n_out",
        "((n_in - n_out) * 10000) DIV n_in AS removal_bp",
    )



def q_stream_rollup(spark, sf_dir):
    """Chained multi-stateful streaming (Spark's multiple-stateful-
    operator support): a per-minute windowed count re-windowed into
    5-minute totals INSIDE one streaming query — two stateful
    aggregations back to back in append mode, the hierarchical-rollup
    topology (minute pre-agg feeding coarser dashboards) that needed two
    separate jobs before Spark 3.4.  The horizon sentinel closes every
    real window at both levels; its own minute window never passes the
    watermark, so it is suppressed upstream of the rollup.  One
    availableNow drain equals the batch double-grouping → full SQL
    oracle."""
    from pyspark.sql import functions as F

    stream = _event_stream(spark, sf_dir, horizon_sentinel=True)
    per_min = (
        stream.withWatermark("ts", "1 minute")
        .groupBy(F.window("ts", "1 minute").alias("window"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    rolled = per_min.groupBy(
        F.window(F.col("window"), "5 minutes").alias("w5")
    ).agg(
        F.sum("n").alias("n_events"),
        F.count(F.lit(1)).alias("n_minutes"),
    )
    out = run_to_memory(
        rolled.select(
            F.col("w5.start").alias("window_start"),
            F.col("n_events"),
            F.col("n_minutes"),
        ),
        output_mode="append",
    )
    return out

def q_stream_incremental_dedup(spark, sf_dir):
    """The nightly incremental-ingest dedup loop run BY the streaming
    engine: documents arrive in 3 micro-batches (doc_id % 3, in batch
    order 0 -> 1 -> 2), and each ``foreachBatch`` round probes the batch
    against the PERSISTED MinHash band index, drops every doc with a
    band collision against an earlier batch's survivor, appends the
    survivors' bands to the index, and records the kept ids — the
    operational shape of ``dedup_against_band_index`` +
    ``write_band_index(mode='append')`` when ingest is a stream rather
    than a nightly batch job (tests/test_pipeline.py rehearses the same
    composition in batch).

    Hash-checked exactly: survivors-only indexing is sequential by
    construction (batch 1 dedups against batch 0's survivors, batch 2
    against batches 0+1's survivors — a doc whose only collision is
    with an already-DROPPED doc is kept), and the oracle expresses that
    recurrence as chained CTEs over the same signature/banding scheme
    every other MinHash oracle uses.

    Scale: per batch the probe reads O(batch) pruned index directories
    and the append writes O(batch) rows; state between batches lives in
    the index files, not executor memory — the pattern's whole point.
    Each batch is pinned with localCheckpoint before the index append
    so the kept-set is evaluated exactly once (re-evaluating it after
    the append would see the batch's own bands and self-collide)."""
    import glob
    import shutil
    import time as _time

    from pyspark.sql import functions as F

    from kafkastreamsjavachallenge_spark.operators import dedup as D

    configure_runtime(spark)
    src = os.path.realpath(f"{sf_dir}/documents.parquet")

    def _split(tmp):
        full = spark.read.parquet(src)
        now = _time.time()
        for i, nm in enumerate(("a", "b", "c")):
            sub = os.path.join(tmp, f".w{nm}")
            (
                full.filter(F.col("doc_id") % 3 == i)
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(sub)
            )
            part = glob.glob(os.path.join(sub, "part-*.parquet"))[0]
            dst = os.path.join(tmp, f"{nm}.parquet")
            os.replace(part, dst)
            shutil.rmtree(sub)
            # strictly increasing mtimes pin the micro-batch order (the
            # file source processes oldest-first; same-second writes
            # would otherwise tie-break on path only)
            os.utime(dst, (now + i, now + i))

    stage = _staged_dir(src, "split3", build=_split)
    # one work dir per staged source, emptied per call: a fresh index/store
    work = derived_dir(src, "split3_work", lambda d: None)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    idx = os.path.join(work, "band_index")
    store = os.path.join(work, "kept")
    schema = spark.read.parquet(src).schema

    def _handle(bdf, _bid):
        if os.path.exists(idx):
            kept = D.dedup_against_band_index(bdf, spark, idx).localCheckpoint(
                eager=True
            )
            D.write_band_index(kept, idx, mode="append")
        else:
            kept = bdf.localCheckpoint(eager=True)
            D.write_band_index(kept, idx, mode="overwrite")
        kept.select("doc_id").write.mode("append").parquet(store)

    for_each_batch(
        file_stream(spark, stage, schema, max_files_per_trigger=1),
        _handle,
        os.path.join(work, "ckpt"),
        output_mode="append",
    ).awaitTermination()
    return spark.read.schema("doc_id long").parquet(store).select(
        "doc_id", (F.col("doc_id") % 3).cast("int").alias("batch")
    )


_INC_DEDUP_SQL = (
    _MINHASH_SIG_CTE.format(nperm=8)
    + ", bands AS (SELECT doc_id, b, "
    "md5(array_to_string(sigl[b*2+1:b*2+2], '|')) AS bucket "
    "FROM sig, (SELECT unnest(range(0, 4)) AS b)), "
    # batch 0 is indexed wholesale; batch 1 survives unless it shares a
    # band bucket with batch 0; batch 2 dedups against the SURVIVORS of
    # batches 0+1 (a doc whose only collision is a dropped doc is kept)
    "b0 AS (SELECT doc_id FROM documents WHERE doc_id % 3 = 0), "
    "k1 AS MATERIALIZED (SELECT d.doc_id FROM documents d "
    "WHERE d.doc_id % 3 = 1 AND NOT EXISTS ("
    "SELECT 1 FROM bands nb JOIN bands ix "
    "ON nb.b = ix.b AND nb.bucket = ix.bucket "
    "WHERE nb.doc_id = d.doc_id AND ix.doc_id % 3 = 0)), "
    "kept01 AS MATERIALIZED (SELECT doc_id FROM b0 "
    "UNION ALL SELECT doc_id FROM k1), "
    "k2 AS (SELECT d.doc_id FROM documents d "
    "WHERE d.doc_id % 3 = 2 AND NOT EXISTS ("
    "SELECT 1 FROM bands nb JOIN bands ix "
    "ON nb.b = ix.b AND nb.bucket = ix.bucket "
    "JOIN kept01 k ON ix.doc_id = k.doc_id "
    "WHERE nb.doc_id = d.doc_id)) "
    "SELECT CAST(doc_id AS BIGINT) AS doc_id, "
    "CAST(doc_id % 3 AS INT) AS batch FROM ("
    "SELECT doc_id FROM b0 UNION ALL SELECT doc_id FROM k1 "
    "UNION ALL SELECT doc_id FROM k2)"
)


QUERIES = {
    "q_stream_incremental_dedup": (q_stream_incremental_dedup, _INC_DEDUP_SQL),
    "q_stream_ks": (
        q_stream_ks,
        # identical to q_ks_test's oracle: the streamed histogram equals
        # the batch histogram after one availableNow drain
        _KS_SQL,
    ),
    "q_stream_anomaly_sliding": (
        q_stream_anomaly_sliding,
        # batch sliding expansion (each event lands in 2 windows) per
        # type, then the same guarded z-score as q_stream_anomaly; the
        # sentinel never reaches the oracle (it reads only real events)
        "WITH w AS (SELECT event_type, ws AS window_start, "
        "CAST(count(*) AS BIGINT) AS n FROM ("
        "SELECT event_type, unnest([date_trunc('minute', ts), "
        "date_trunc('minute', ts) - INTERVAL 1 MINUTE]) AS ws "
        "FROM events) GROUP BY 1, 2), "
        "st AS (SELECT event_type, count(*) AS k, "
        "CAST(sum(n) AS BIGINT) AS s, CAST(sum(n * n) AS BIGINT) AS ss "
        "FROM w GROUP BY 1) "
        "SELECT event_type, window_start, n, "
        "CASE WHEN CAST(ss AS DOUBLE) / k - (CAST(s AS DOUBLE) / k) * "
        "(CAST(s AS DOUBLE) / k) <= 0 THEN NULL "
        "ELSE round((n - CAST(s AS DOUBLE) / k) / "
        "sqrt(CAST(ss AS DOUBLE) / k - (CAST(s AS DOUBLE) / k) * "
        "(CAST(s AS DOUBLE) / k)), 4) + 0 END AS z, "
        "CASE WHEN abs(coalesce(CASE WHEN CAST(ss AS DOUBLE) / k - "
        "(CAST(s AS DOUBLE) / k) * (CAST(s AS DOUBLE) / k) <= 0 THEN NULL "
        "ELSE round((n - CAST(s AS DOUBLE) / k) / "
        "sqrt(CAST(ss AS DOUBLE) / k - (CAST(s AS DOUBLE) / k) * "
        "(CAST(s AS DOUBLE) / k)), 4) END, 0.0)) >= 2 THEN 1 ELSE 0 END "
        "AS is_anomaly "
        "FROM w JOIN st USING (event_type)",
    ),
    "q_stream_anomaly": (
        q_stream_anomaly,
        # identical to q_anomaly_zscore's oracle: the streamed counts
        # equal the batch counts after one availableNow drain
        "WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day, "
        "count(*) AS n FROM events GROUP BY 1, 2), "
        "st AS (SELECT event_type, count(*) AS k, "
        "CAST(sum(n) AS BIGINT) AS s, CAST(sum(n * n) AS BIGINT) AS ss "
        "FROM daily GROUP BY 1) "
        "SELECT event_type, day, n, "
        "CASE WHEN CAST(ss AS DOUBLE) / k - (CAST(s AS DOUBLE) / k) * "
        "(CAST(s AS DOUBLE) / k) <= 0 THEN NULL "
        "ELSE round((n - CAST(s AS DOUBLE) / k) / "
        "sqrt(CAST(ss AS DOUBLE) / k - (CAST(s AS DOUBLE) / k) * "
        "(CAST(s AS DOUBLE) / k)), 4) + 0 END AS z, "
        "CASE WHEN abs(coalesce(CASE WHEN CAST(ss AS DOUBLE) / k - "
        "(CAST(s AS DOUBLE) / k) * (CAST(s AS DOUBLE) / k) <= 0 THEN NULL "
        "ELSE round((n - CAST(s AS DOUBLE) / k) / "
        "sqrt(CAST(ss AS DOUBLE) / k - (CAST(s AS DOUBLE) / k) * "
        "(CAST(s AS DOUBLE) / k)), 4) END, 0.0)) >= 2 THEN 1 ELSE 0 END "
        "AS is_anomaly "
        "FROM daily JOIN st USING (event_type)",
    ),
    "q_stream_rollup": (
        q_stream_rollup,
        "WITH m AS (SELECT date_trunc('minute', ts) AS wm, count(*) AS n "
        "FROM events GROUP BY 1) "
        "SELECT wm - (minute(wm) % 5) * INTERVAL 1 MINUTE AS window_start, "
        "CAST(sum(n) AS BIGINT) AS n_events, count(*) AS n_minutes "
        "FROM m GROUP BY 1",
    ),
    "q_stream_funnel": (
        q_stream_funnel,
        "WITH t AS (SELECT doc_id, string_split(trim(text), ' ') AS l "
        "FROM documents), "
        "tc AS (SELECT doc_id, max(c) AS top_c FROM (SELECT doc_id, tok, "
        "count(*) AS c FROM (SELECT doc_id, unnest(l) AS tok FROM t) u "
        "GROUP BY 1, 2) g GROUP BY 1), "
        "f AS (SELECT t.doc_id, len(l) AS n_tok, "
        "len(list_distinct(l)) AS nd, tc.top_c FROM t "
        "JOIN tc USING (doc_id)), "
        "s1 AS (SELECT * FROM f WHERE n_tok BETWEEN 10 AND 500), "
        "s2 AS (SELECT * FROM s1 WHERE 5 * nd >= n_tok), "
        "s3 AS (SELECT * FROM s2 WHERE 10 * top_c <= 3 * n_tok), "
        "c AS (SELECT (SELECT count(*) FROM f) AS n0, "
        "(SELECT count(*) FROM s1) AS n1, "
        "(SELECT count(*) FROM s2) AS n2, "
        "(SELECT count(*) FROM s3) AS n3) "
        "SELECT stage, stage_idx, n_in, n_in - n_out AS n_removed, n_out, "
        "((n_in - n_out) * 10000) // n_in AS removal_bp FROM ("
        "SELECT 'length' AS stage, 1 AS stage_idx, n0 AS n_in, n1 AS n_out "
        "FROM c "
        "UNION ALL SELECT 'diversity', 2, n1, n2 FROM c "
        "UNION ALL SELECT 'top_token', 3, n2, n3 FROM c) x",
    ),
    "q_stream_curation": (
        q_stream_curation,
        "SELECT source, count(DISTINCT md5(text)) AS n_kept_distinct "
        "FROM documents WHERE len(string_split(trim(text), ' ')) >= 10 "
        "AND len(string_split(trim(text), ' ')) <= 500 "
        "AND 5 * len(list_distinct(string_split(trim(text), ' '))) >= "
        "len(string_split(trim(text), ' ')) GROUP BY source",
    ),
    "q_stream_neardup": (
        q_stream_neardup,
        # same signature/banding CTEs as q_minhash_pairs, aggregated to
        # the per-bucket collision view the stream maintains as state
        _MINHASH_SIG_CTE.format(nperm=8)
        + ", bands AS (SELECT doc_id, b, md5(array_to_string(sigl[b*2+1:b*2+2], '|')) AS bucket "
        "FROM sig, (SELECT unnest(range(0, 4)) AS b)) "
        "SELECT b AS band, bucket, count(*) AS n_docs, min(doc_id) AS keep_id "
        "FROM bands GROUP BY b, bucket HAVING count(*) >= 2",
    ),
    "q_stream_countmin": (
        q_stream_countmin,
        # Derived from quality._CMS_HASHES/_CMS_W/_P (single source of
        # truth) so a constant change cannot silently break parity here.
        "WITH h(d, a, b) AS (VALUES "
        + ", ".join(
            f"({d}, {a}, {b})" for d, (a, b) in enumerate(_CMS_HASHES)
        )
        + ") "
        f"SELECT d, ((a * user_id + b) % {_P}) % {_CMS_W} AS bucket, "
        "count(*) AS cnt FROM events CROSS JOIN h GROUP BY 1, 2",
    ),
    "q_stream_join": (
        q_stream_join,
        "SELECT l.user_id, count(*) AS n_pairs FROM events l JOIN events r "
        "ON l.user_id = r.user_id AND r.ts >= l.ts "
        "AND r.ts <= l.ts + INTERVAL 1 MINUTE AND r.event_id <> l.event_id "
        "GROUP BY l.user_id",
    ),
    "q_stream_unique_users": (
        q_stream_unique_users,
        "SELECT date_trunc('minute', ts) AS window_start, "
        "count(DISTINCT user_id) AS unique_users FROM events GROUP BY 1",
    ),
    "q_stream_unique_users_append": (
        q_stream_unique_users_append,
        # same final-counts oracle as the update path: the horizon
        # sentinel means append emits every real window exactly once
        "SELECT date_trunc('minute', ts) AS window_start, "
        "count(DISTINCT user_id) AS unique_users FROM events GROUP BY 1",
    ),
    "q_stream_enrich": (
        q_stream_enrich,
        "SELECT c_mktsegment, count(*) AS n_events FROM events "
        "JOIN customer ON user_id = c_custkey GROUP BY c_mktsegment",
    ),
    "q_stream_session": (
        q_stream_session,
        "WITH e AS (SELECT user_id, ts, CASE WHEN lag(ts) OVER w IS NULL "
        "OR ts - lag(ts) OVER w >= INTERVAL 5 MINUTE THEN 1 ELSE 0 END AS new_s "
        "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)), "
        "s AS (SELECT user_id, ts, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM e) "
        "SELECT user_id, min(ts) AS session_start, count(*) AS n "
        "FROM s GROUP BY user_id, sid",
    ),
    "q_stream_dedup": (
        q_stream_dedup,
        "SELECT DISTINCT user_id FROM events",
    ),
    "q_stream_topk": (
        q_stream_topk,
        "SELECT user_id, count(*) AS n FROM events GROUP BY user_id "
        "ORDER BY n DESC, user_id LIMIT 10",
    ),
    "q_stream_sliding": (
        q_stream_sliding,
        "SELECT ws AS window_start, count(*) AS n FROM ("
        "SELECT unnest([date_trunc('minute', ts), date_trunc('minute', ts) - INTERVAL 1 MINUTE]) AS ws "
        "FROM events) GROUP BY ws",
    ),
}
