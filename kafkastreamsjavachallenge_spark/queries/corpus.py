"""Round-6 corpus-health pack: vocabulary-growth / distribution-shift
statistics, simhash near-dup banding, hard-negative mining, drift and
watermark audits, deterministic bootstrap — the monitoring layer a
training-data pipeline runs over every ingest batch.

Reference parity note: the reference (UniqueUsersApp.java) has no analog
for any of these; they extend SURVEY.md §2.2's LLM-pipeline north-star
row.  Everything here follows the repo's cross-engine conventions:
integer fixed-point (basis points / e6 floors over IEEE-exact single
ops) wherever a float would otherwise enter the driver hash, md5-derived
portable hashing for anything sampled, and strict-left-fold array
arithmetic shared verbatim with the DuckDB oracles (DESIGN.md §float).
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from kafkastreamsjavachallenge_spark.catalog import load_table
from kafkastreamsjavachallenge_spark.functions import text as T
from kafkastreamsjavachallenge_spark.functions.vector import dot, norm
from kafkastreamsjavachallenge_spark.operators import dedup as D
from kafkastreamsjavachallenge_spark.operators import similarity as S
from kafkastreamsjavachallenge_spark.session import scratch_dir


def _docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents")


def _embs(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings")


def _toks_ne(col="text"):
    """Non-empty tokens (trim-split drops to [''] on blank text)."""
    return F.filter(T.tokens(col), lambda t: t != F.lit(""))


# DuckDB twins of the helpers above (shared verbatim across oracles).
_TOKS_NE = "list_filter(string_split(trim(text), ' '), t -> t <> '')"
_DOT = "list_sum(list_transform(range(1, 65), i -> {a}[i] * {b}[i]))"
_H28 = "('0x' || substr(md5({x}), 1, 7))::BIGINT"


# ------------------------------------------------------- vocabulary growth


def q_heaps_law(spark, sf_dir):
    """Heaps'-law vocabulary-growth curve: distinct-token count after each
    10%-of-corpus prefix (ingest order = doc_id).  The scale shape is two
    aggregates — per-doc token counts and per-TYPE first-occurrence rank —
    range-joined against a broadcast 10-row decile table, so cost is one
    explode+groupBy over the corpus regardless of how many curve points
    are requested; the global row_number is rank-over-ingest-order, which
    at 100 TB is the (already materialized) ordered ingest offset."""
    d = _docs(spark, sf_dir)
    # rank the NARROW id column only, then join the rank back: dragging
    # the token arrays through the single-partition global window is the
    # slow shape (6.9s -> this form at sf0.1); the rank frame is one
    # bigint pair per doc
    rk = d.select("doc_id").select(
        "doc_id",
        F.row_number().over(Window.orderBy("doc_id")).cast("bigint").alias("rk"),
    )
    # r12: r feeds BOTH curve aggregates (per-doc token counts and the
    # per-type first-occurrence ranks) — checkpoint so the tokenize +
    # rank join runs once, not once per consumer
    r = (
        d.select("doc_id", _toks_ne().alias("toks"))
        .join(rk, "doc_id")
        .localCheckpoint(eager=False)
    )
    dec = (
        rk.agg(F.count(F.lit(1)).alias("n"))
        .select(F.explode(F.sequence(F.lit(1), F.lit(10))).alias("decile"), "n")
        .select(
            F.col("decile").cast("bigint").alias("decile"),
            F.expr("(n * decile) div 10").alias("cut"),
        )
    )
    docs_c = (
        dec.join(
            r.select("rk", F.size("toks").alias("n_tok")),
            F.col("rk") <= F.col("cut"),
            "left",
        )
        .groupBy("decile")
        .agg(
            F.count("rk").alias("n_docs"),
            F.coalesce(F.sum("n_tok"), F.lit(0)).cast("bigint").alias("n_tokens"),
        )
    )
    first = (
        r.select("rk", F.explode_outer("toks").alias("tok"))
        .filter(F.col("tok").isNotNull())
        .groupBy("tok")
        .agg(F.min("rk").alias("frk"))
    )
    vocab_c = (
        dec.join(first, F.col("frk") <= F.col("cut"), "left")
        .groupBy("decile")
        .agg(F.count("tok").alias("n_vocab"))
    )
    return docs_c.join(vocab_c, "decile")


_HEAPS_SQL = (
    f"WITH t AS (SELECT doc_id, {_TOKS_NE} AS l FROM documents), "
    "r AS (SELECT row_number() OVER (ORDER BY doc_id) AS rk, len(l) AS n_tok, l "
    "FROM t), "
    "n AS (SELECT count(*) AS n FROM r), "
    "d AS (SELECT k AS decile, (n.n * k) // 10 AS cut "
    "FROM range(1, 11) s(k), n), "
    "dc AS (SELECT d.decile, count(r.rk) AS n_docs, "
    "CAST(coalesce(sum(r.n_tok), 0) AS BIGINT) AS n_tokens "
    "FROM d LEFT JOIN r ON r.rk <= d.cut GROUP BY d.decile), "
    "fo AS (SELECT tok, min(rk) AS frk FROM "
    "(SELECT rk, unnest(l) AS tok FROM r) GROUP BY tok), "
    "vc AS (SELECT d.decile, count(fo.tok) AS n_vocab "
    "FROM d LEFT JOIN fo ON fo.frk <= d.cut GROUP BY d.decile) "
    "SELECT CAST(dc.decile AS BIGINT) AS decile, "
    "CAST(dc.n_docs AS BIGINT) AS n_docs, dc.n_tokens, "
    "CAST(vc.n_vocab AS BIGINT) AS n_vocab "
    "FROM dc JOIN vc USING (decile)"
)


def q_ttr_hapax(spark, sf_dir):
    """Per-source lexical-diversity audit: type/token ratio and hapax
    (frequency-1 type) rate in exact basis points — low TTR flags
    templated or looping sources, a hapax spike flags OCR noise or
    mojibake.  One explode + two-level aggregate; both groupBys share the
    (source, tok) partitioning so it is one shuffle at any scale."""
    tok = (
        _docs(spark, sf_dir)
        .select("source", F.explode_outer(_toks_ne()).alias("tok"))
        .filter(F.col("tok").isNotNull())
    )
    tc = tok.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("c"))
    return (
        tc.groupBy("source")
        .agg(
            F.sum("c").cast("bigint").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_types"),
            F.count_if(F.col("c") == 1).alias("n_hapax"),
        )
        .select(
            "source",
            "n_tokens",
            "n_types",
            "n_hapax",
            F.expr("(n_types * 10000) div n_tokens").alias("ttr_bp"),
            F.expr("(n_hapax * 10000) div n_types").alias("hapax_bp"),
        )
    )


_TTR_SQL = (
    f"WITH tok AS (SELECT source, unnest({_TOKS_NE}) AS tok FROM documents), "
    "tc AS (SELECT source, tok, count(*) AS c FROM tok GROUP BY 1, 2) "
    "SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens, "
    "CAST(count(*) AS BIGINT) AS n_types, "
    "CAST(count(*) FILTER (c = 1) AS BIGINT) AS n_hapax, "
    "CAST((count(*) * 10000) // sum(c) AS BIGINT) AS ttr_bp, "
    "CAST((count(*) FILTER (c = 1) * 10000) // count(*) AS BIGINT) AS hapax_bp "
    "FROM tc GROUP BY source"
)


def q_zipf_slope(spark, sf_dir):
    """Zipf fit over the top-100 corpus token frequencies: OLS slope and
    intercept of ln(freq) on ln(rank) (healthy natural-language corpora sit
    near slope −1; templated/synthetic corpora flatten).  The frequency
    table is one map-side-combinable aggregate; the regression runs over
    ≤100 rows, so the moment sums are a driver-scale epilogue at any
    corpus size.  Floats: ln per-row is deterministic; the 4-dp round on
    the ≤100-term moment aggregates absorbs summation-order noise — the
    same budget as q_regr / q_unigram_logprob."""
    tok = (
        _docs(spark, sf_dir)
        .select(F.explode_outer(_toks_ne()).alias("tok"))
        .filter(F.col("tok").isNotNull())
    )
    top = (
        tok.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), F.col("tok"))
        .limit(100)
    )
    ranked = top.select(
        F.row_number()
        .over(Window.orderBy(F.col("c").desc(), F.col("tok")))
        .alias("rn"),
        "c",
    )
    xy = ranked.select(F.log(F.col("rn")).alias("x"), F.log(F.col("c")).alias("y"))
    return xy.agg(
        F.count(F.lit(1)).alias("n_top"),
        F.round(F.regr_slope(F.col("y"), F.col("x")), 4).alias("slope"),
        F.round(F.regr_intercept(F.col("y"), F.col("x")), 4).alias("intercept"),
    )


_ZIPF_SQL = (
    f"WITH tok AS (SELECT unnest({_TOKS_NE}) AS tok FROM documents), "
    "f AS (SELECT tok, count(*) AS c FROM tok GROUP BY tok "
    "ORDER BY c DESC, tok LIMIT 100), "
    "r AS (SELECT row_number() OVER (ORDER BY c DESC, tok) AS rn, c FROM f) "
    "SELECT CAST(count(*) AS BIGINT) AS n_top, "
    "round(regr_slope(ln(c), ln(rn)), 4) + 0 AS slope, "
    "round(regr_intercept(ln(c), ln(rn)), 4) + 0 AS intercept FROM r"
)


# ------------------------------------------------------ simhash banding


def q_simhash_neardup(spark, sf_dir):
    """SimHash near-dup pairs via banded buckets: 60-bit fingerprints
    (operators/dedup.simhash, 15 md5 hex chars) split into 3 disjoint
    20-bit bands; any pair within Hamming distance 2 differs in ≤2 bands,
    so by pigeonhole it collides on at least one — the candidate join on
    (band, value) finds EXACTLY the Hamming≤2 set after the bit_count
    verify, never scoring all pairs.  The Hamming-k twin of MinHash-LSH
    banding (q_minhash_pairs): same shuffle shape (explode bands →
    equi-join → verify), cost bounded by per-band-value frequency."""
    sig = D.simhash(_docs(spark, sf_dir), bits=60, hex_chars=15)
    # the 60-plane vote pipeline feeds three consumers (band explode +
    # both sides of the verify join) — materialize it once
    sig = sig.localCheckpoint(eager=False)
    bands = sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.expr(f"shiftright(simhash, {b * 20}) & 1048575").alias(
                            "bv"
                        ),
                    )
                    for b in range(3)
                ]
            )
        ).alias("s"),
    ).select("doc_id", "s.band", "s.bv")
    cand = (
        bands.alias("a")
        .join(bands.alias("b"), ["band", "bv"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .distinct()
    )
    sa = sig.select(F.col("doc_id").alias("id_a"), F.col("simhash").alias("sh_a"))
    sb = sig.select(F.col("doc_id").alias("id_b"), F.col("simhash").alias("sh_b"))
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
            .cast("bigint")
            .alias("hamming"),
        )
        .filter(F.col("hamming") <= 2)
    )


_SIMHASH_NEARDUP_SQL = (
    "WITH toks AS (SELECT doc_id, "
    "unnest(list_distinct(string_split(trim(text), ' '))) AS tok "
    "FROM documents), "
    "h AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS v "
    "FROM toks), "
    "bits AS (SELECT doc_id, b, "
    "sum(CASE WHEN (v >> b) & 1 = 1 THEN 1 ELSE -1 END) AS s "
    "FROM h, (SELECT unnest(range(0, 60)) AS b) GROUP BY doc_id, b), "
    "sig AS (SELECT doc_id, CAST(sum(CASE WHEN s >= 0 THEN "
    "(CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS sh "
    "FROM bits GROUP BY doc_id), "
    "bands AS (SELECT doc_id, b AS band, "
    "(sh >> CAST(b * 20 AS INTEGER)) & 1048575 AS bv "
    "FROM sig, (SELECT unnest(range(0, 3)) AS b)), "
    "cand AS (SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b "
    "FROM bands a JOIN bands c ON a.band = c.band AND a.bv = c.bv "
    "AND a.doc_id < c.doc_id) "
    "SELECT id_a, id_b, CAST(bit_count(xor(sa.sh, sb.sh)) AS BIGINT) AS hamming "
    "FROM cand JOIN sig sa ON sa.doc_id = cand.id_a "
    "JOIN sig sb ON sb.doc_id = cand.id_b "
    "WHERE bit_count(xor(sa.sh, sb.sh)) <= 2"
)


# ----------------------------------------------------- shingle containment


def q_containment(spark, sf_dir, max_df=None):
    """Asymmetric shingle containment: ordered pairs (a, b) where ≥80% of
    a's distinct 3-shingles appear in b — the quote/inclusion detector
    Jaccard misses (a short doc embedded in a long one scores low Jaccard
    but 100% containment).  Same Σdf² inverted-shingle join as
    exact_neardup_pairs; emitting both directions costs nothing extra
    (the symmetric join already produces both orders).  ``max_df`` is
    the same hot-shingle cap as exact_neardup_pairs — default off for
    oracle parity; at 100 TB set it (e.g. 10_000) so one boilerplate
    shingle cannot turn the self-join quadratic on a single skewed key.
    Capping lowers n_common for pairs whose overlap is boilerplate,
    making the ≥80% gate conservative in exactly the cases that are
    noise anyway.  A ``None`` kwarg defers to the active
    ``scale.ScaleProfile``."""
    from kafkastreamsjavachallenge_spark.scale import resolve

    max_df = resolve(max_df, "max_df")
    shd = D.shingled_docs(_docs(spark, sf_dir), shingle_k=3).filter(
        F.size("sh") > 0
    )
    # the shingle subtree feeds both the inverted join and the size table
    # — materialize it once (the q_dedup_recall lesson: 3.2x there)
    shd = shd.localCheckpoint(eager=False)
    ex = (
        shd.select("doc_id", F.explode_outer("sh").alias("g"))
        .filter(F.col("g").isNotNull())
    )
    if max_df is not None:
        ex = D._drop_hot_shingles(ex, max_df)
    # r12 optimization: the symmetric self-join already produces both
    # directed orders in ONE pass — the previous a<b "half" + mirrored
    # unionByName made Catalyst re-plan (and re-execute) the whole Σdf²
    # join+aggregate subtree per union branch (two identical Exchange
    # stages in the r11 plan; the r12 plan has one).  Joining on
    # id_a != id_b probes the same Σdf² rows once and aggregates the
    # directed pairs directly — identical result by construction (the
    # oracle's own shape: `a.doc_id <> b.doc_id`).
    inter = (
        ex.select(F.col("doc_id").alias("id_a"), "g")
        .join(ex.select(F.col("doc_id").alias("id_b"), "g"), "g")
        .filter(F.col("id_a") != F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sz = shd.select("doc_id", F.size("sh").cast("bigint").alias("n"))
    return (
        inter.join(
            sz.select(F.col("doc_id").alias("id_a"), F.col("n").alias("n_a")),
            "id_a",
        )
        .join(
            sz.select(F.col("doc_id").alias("id_b"), F.col("n").alias("n_b")),
            "id_b",
        )
        .withColumn(
            "containment_bp", F.expr("(n_common * 10000) div n_a")
        )
        .filter(F.col("containment_bp") >= 8000)
        .select("id_a", "id_b", "n_common", "n_a", "n_b", "containment_bp")
    )


_CONTAINMENT_SQL = (
    # same 3-shingle construction as llm._SHINGLES (shingled_docs twin):
    # unfiltered trim-split tokens, len>=3 guard mirrors the []-on-short
    "WITH t AS (SELECT doc_id, string_split(trim(text), ' ') AS l "
    "FROM documents), "
    "s2 AS (SELECT doc_id, list_distinct([array_to_string(l[i:i+2], ' ') "
    "for i in range(1, len(l) - 1)]) AS sh, "
    "CAST(len(list_distinct([array_to_string(l[i:i+2], ' ') "
    "for i in range(1, len(l) - 1)])) AS BIGINT) AS n "
    "FROM t WHERE len(l) >= 3), "
    "ex AS (SELECT doc_id, unnest(sh) AS g FROM s2), "
    "inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common "
    "FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id <> b.doc_id "
    "GROUP BY 1, 2) "
    "SELECT id_a, id_b, CAST(n_common AS BIGINT) AS n_common, "
    "sa.n AS n_a, sb.n AS n_b, "
    "CAST((n_common * 10000) // sa.n AS BIGINT) AS containment_bp "
    "FROM inter JOIN s2 sa ON sa.doc_id = inter.id_a "
    "JOIN s2 sb ON sb.doc_id = inter.id_b "
    "WHERE (n_common * 10000) // sa.n >= 8000"
)


# -------------------------------------------------- embedding-space audits


def q_hard_negatives(spark, sf_dir):
    """Contrastive hard-negative mining: for each query vector (vec_id<5)
    the top-5 most-similar vectors with a DIFFERENT label — the negatives
    that actually move a contrastive loss.  The query block broadcasts
    (bounded, like every retrieval op here); scores stay JVM-side with
    hoisted norms; ranking runs over integer e6-floored cosines so both
    engines order identically (DESIGN.md fold-order note).  Zero-norm
    vectors are excluded on BOTH sides (the q_embed_norm_audit lesson)."""
    e = _embs(spark, sf_dir).withColumn("nrm", norm(F.col("embedding")))
    q = (
        e.filter((F.col("vec_id") < 5) & (F.col("nrm") > 0))
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("label").alias("q_label"),
            F.col("embedding").alias("qv"),
            F.col("nrm").alias("qnrm"),
        )
    )
    c = e.filter((F.col("vec_id") >= 5) & (F.col("nrm") > 0))
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("label") != F.col("q_label"))
        .withColumn(
            "cos_e6",
            F.floor(
                dot(F.col("embedding"), F.col("qv"))
                / (F.col("nrm") * F.col("qnrm"))
                * 1000000
            ).cast("bigint"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_e6").desc(), F.col("vec_id")
    )
    return (
        scored.select(
            "query_id",
            "vec_id",
            "label",
            "cos_e6",
            F.row_number().over(w).cast("bigint").alias("rk"),
        )
        .filter(F.col("rk") <= 5)
    )


_HARDNEG_SQL = (
    "WITH v AS (SELECT vec_id, label, "
    "list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec "
    "FROM embeddings), "
    "n AS (SELECT vec_id, label, vec, "
    f"sqrt({_DOT.format(a='vec', b='vec')}) AS nrm FROM v), "
    "q AS (SELECT vec_id AS query_id, label AS q_label, vec AS qv, "
    "nrm AS qnrm FROM n WHERE vec_id < 5 AND nrm > 0), "
    "c AS (SELECT vec_id, label, vec, nrm FROM n "
    "WHERE vec_id >= 5 AND nrm > 0), "
    "s AS (SELECT q.query_id, c.vec_id, c.label, "
    f"CAST(floor({_DOT.format(a='c.vec', b='q.qv')} / (c.nrm * q.qnrm) "
    "* 1000000) AS BIGINT) AS cos_e6 "
    "FROM c CROSS JOIN q WHERE c.label <> q.q_label), "
    "r AS (SELECT *, row_number() OVER (PARTITION BY query_id "
    "ORDER BY cos_e6 DESC, vec_id) AS rk FROM s) "
    "SELECT query_id, vec_id, label, cos_e6, CAST(rk AS BIGINT) AS rk "
    "FROM r WHERE rk <= 5"
)


def q_embedding_drift(spark, sf_dir):
    """Embedding-distribution drift per label: cosine between the centroid
    of the even-id half and the odd-id half (a deterministic A/B split of
    the same batch — in production the two halves are consecutive ingest
    windows).  Components are floored to e3 fixed-point BEFORE summing, so
    the centroid sums, the dot, and the norms are exact integers on both
    engines (the map-side-combinable trick from DESIGN.md); only the final
    scalar cosine touches floats, and those ops (sqrt, *, /) are
    IEEE-correctly-rounded — bit-identical cross-engine.  e3 keeps the
    64-dim integer dot under 2^53 up to ~10M rows/label; larger shards
    drop to e2."""
    e = _embs(spark, sf_dir).withColumn(
        "half", (F.col("vec_id") % 2).cast("int")
    )
    comp = (
        e.select("label", "half", F.posexplode_outer("embedding"))
        .withColumnRenamed("col", "x")
        .filter(F.col("x").isNotNull())
        .withColumn("qx", F.floor(F.col("x") * 1000).cast("bigint"))
    )
    s = comp.groupBy("label", "half", "pos").agg(F.sum("qx").alias("s"))
    s0 = s.filter(F.col("half") == 0).select(
        "label", "pos", F.col("s").alias("s0")
    )
    s1 = s.filter(F.col("half") == 1).select(
        "label", "pos", F.col("s").alias("s1")
    )
    per = (
        s0.join(s1, ["label", "pos"])
        .groupBy("label")
        .agg(
            F.sum(F.col("s0") * F.col("s1")).alias("d"),
            F.sum(F.col("s0") * F.col("s0")).alias("na"),
            F.sum(F.col("s1") * F.col("s1")).alias("nb"),
        )
    )
    cnt = e.groupBy("label").agg(
        F.count_if(F.col("half") == 0).alias("n_a"),
        F.count_if(F.col("half") == 1).alias("n_b"),
    )
    return per.join(cnt, "label").select(
        "label",
        "n_a",
        "n_b",
        F.when(
            (F.col("na") > 0) & (F.col("nb") > 0),
            F.floor(
                F.col("d") / (F.sqrt(F.col("na")) * F.sqrt(F.col("nb"))) * 1000000
            ).cast("bigint"),
        ).alias("drift_cos_e6"),
    )


_DRIFT_SQL = (
    "WITH e AS (SELECT vec_id, label, vec_id % 2 AS half, "
    "list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec "
    "FROM embeddings), "
    "comp AS (SELECT label, half, i AS pos, "
    "CAST(floor(vec[i] * 1000) AS BIGINT) AS qx FROM e, range(1, 65) t(i)), "
    "s AS (SELECT label, half, pos, sum(qx) AS s FROM comp GROUP BY 1, 2, 3), "
    "per AS (SELECT a.label, sum(a.s * b.s) AS d, sum(a.s * a.s) AS na, "
    "sum(b.s * b.s) AS nb FROM s a JOIN s b ON a.label = b.label "
    "AND a.pos = b.pos AND a.half = 0 AND b.half = 1 GROUP BY a.label), "
    "c AS (SELECT label, count(*) FILTER (half = 0) AS n_a, "
    "count(*) FILTER (half = 1) AS n_b FROM e GROUP BY label) "
    "SELECT c.label, CAST(c.n_a AS BIGINT) AS n_a, "
    "CAST(c.n_b AS BIGINT) AS n_b, "
    "CASE WHEN na > 0 AND nb > 0 THEN CAST(floor(CAST(d AS DOUBLE) / "
    "(sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))) * 1000000) "
    "AS BIGINT) END AS drift_cos_e6 "
    "FROM per JOIN c USING (label)"
)


def q_cluster_sample(spark, sf_dir):
    """Cluster-balanced sampling: assign every vector to its nearest of 8
    deterministic centroids (broadcast argmax, the SemDeDup/IVF assign),
    then keep floor(sqrt(|cluster|)) rows per cluster by portable hash
    order — the sqrt allocation that over-samples tail clusters relative
    to proportional sampling (diversity-preserving, the DoReMi-adjacent
    curation move).  floor(sqrt(n)) over exact integers is IEEE-exact;
    the per-cluster rank is a hash order, reproducible anywhere."""
    e = _embs(spark, sf_dir)
    cent = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cid"), "embedding"
    )
    # the narrow (cid, vec_id) assignment feeds BOTH the per-cluster size
    # aggregate and the sampling join — checkpoint it so the argmax fold
    # over the corpus runs once, not once per consumer branch (r12; at
    # 100 TB the assigned table is materialized partitioned by cid
    # anyway, per the ivf_assign scale contract)
    assigned = (
        S.ivf_assign(e, cent, centroid_id="cid")
        .select("cid", "vec_id")
        .localCheckpoint(eager=False)
    )
    tgt = (
        assigned.groupBy("cid")
        .agg(F.count(F.lit(1)).alias("cluster_size"))
        .withColumn(
            "target", F.floor(F.sqrt(F.col("cluster_size"))).cast("bigint")
        )
    )
    w = Window.partitionBy("cid").orderBy(
        T.base_hash28(F.col("vec_id").cast("string")), F.col("vec_id")
    )
    ranked = assigned.select(
        "cid", "vec_id", F.row_number().over(w).cast("bigint").alias("rk")
    )
    return (
        ranked.join(F.broadcast(tgt), "cid")
        .filter(F.col("rk") <= F.col("target"))
        .select(
            F.col("cid").alias("cluster_id"),
            "cluster_size",
            "target",
            "rk",
            "vec_id",
        )
    )


_CLUSTER_SAMPLE_SQL = (
    "WITH v AS (SELECT vec_id, "
    "list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec "
    "FROM embeddings), "
    "nv AS (SELECT vec_id, vec, "
    f"sqrt({_DOT.format(a='vec', b='vec')}) AS vec__nrm FROM v), "
    "cent AS (SELECT vec_id AS cid, vec AS cvec, vec__nrm AS cvec__nrm "
    "FROM nv WHERE vec_id < 8), "
    "assigned AS (SELECT b.vec_id, "
    f"(min(struct_pack(s := -({_DOT.format(a='b.vec', b='c.cvec')} / "
    "(b.vec__nrm * c.cvec__nrm)), c := c.cid))).c AS cid "
    "FROM nv b CROSS JOIN cent c GROUP BY b.vec_id), "
    "t AS (SELECT cid, count(*) AS cluster_size, "
    "CAST(floor(sqrt(count(*))) AS BIGINT) AS target "
    "FROM assigned GROUP BY cid), "
    "r AS (SELECT cid, vec_id, row_number() OVER (PARTITION BY cid "
    f"ORDER BY {_H28.format(x='CAST(vec_id AS VARCHAR)')}, vec_id) AS rk "
    "FROM assigned) "
    "SELECT r.cid AS cluster_id, CAST(t.cluster_size AS BIGINT) AS "
    "cluster_size, t.target, CAST(r.rk AS BIGINT) AS rk, r.vec_id "
    "FROM r JOIN t USING (cid) WHERE r.rk <= t.target"
)


# -------------------------------------------------- deterministic bootstrap


def q_bootstrap_ci(spark, sf_dir):
    """Bootstrap 95% CI of mean document length, fully deterministic: 200
    resamples whose draws come from a universal hash of (replicate, slot)
    — reproducible across engines/runs, unlike rand().  Means are exact
    basis points (integer sum DIV n) and the CI bounds are exact order
    statistics (ranks 5/196 of 200), so the whole audit is
    integer-hashable.  Scale shape: the draw grid is |docs|×B rows joined
    to the ranked table on rank — at 100 TB you bootstrap a per-stratum
    hash sample, not the corpus, but the plan (grid join + two-level agg)
    is the same."""
    d = _docs(spark, sf_dir)
    r = d.select(
        F.row_number().over(Window.orderBy("doc_id")).cast("bigint").alias("rk"),
        "n_chars",
    )
    tot = r.agg(F.count(F.lit(1)).alias("n"), F.sum("n_chars").alias("s"))
    b = tot.select(
        F.explode(F.sequence(F.lit(1), F.lit(200))).alias("b"), "n", "s"
    )
    draws = r.select("rk").crossJoin(F.broadcast(b)).select(
        "b",
        "n",
        "s",
        (
            (F.lit(1000003) * (F.col("b") * 65537 + F.col("rk")) + 12345)
            % 2147483647
            % F.col("n")
            + 1
        ).alias("idx"),
    )
    means = (
        draws.join(
            F.broadcast(
                r.select(F.col("rk").alias("idx"), F.col("n_chars").alias("v"))
            ),
            "idx",
        )
        .groupBy("b", "n", "s")
        .agg(F.sum("v").alias("bs"))
        .select("b", "n", "s", F.expr("(bs * 10000) div n").alias("m"))
    )
    ranked = means.select(
        "n",
        "s",
        "m",
        F.row_number().over(Window.orderBy(F.col("m"), F.col("b"))).alias("mr"),
    )
    return ranked.groupBy("n", "s").agg(
        F.count(F.lit(1)).alias("n_boot"),
        F.min(F.when(F.col("mr") == 5, F.col("m"))).alias("ci_lo_bp"),
        F.min(F.when(F.col("mr") == 196, F.col("m"))).alias("ci_hi_bp"),
    ).select(
        F.col("n").alias("n_docs"),
        "n_boot",
        F.expr("(s * 10000) div n").alias("mean_bp"),
        "ci_lo_bp",
        "ci_hi_bp",
    )


_BOOTSTRAP_SQL = (
    "WITH r AS (SELECT row_number() OVER (ORDER BY doc_id) AS rk, n_chars "
    "FROM documents), "
    "tot AS (SELECT count(*) AS n, sum(n_chars) AS s FROM r), "
    "draws AS (SELECT k AS b, tot.n, tot.s, "
    "((1000003 * (k * 65537 + r.rk) + 12345) % 2147483647) % tot.n + 1 AS idx "
    "FROM r CROSS JOIN range(1, 201) t(k) CROSS JOIN tot), "
    "means AS (SELECT d.b, d.n, d.s, "
    "(sum(r2.n_chars) * 10000) // d.n AS m "
    "FROM draws d JOIN r r2 ON r2.rk = d.idx GROUP BY d.b, d.n, d.s), "
    "mm AS (SELECT n, s, m, row_number() OVER (ORDER BY m, b) AS mr "
    "FROM means) "
    "SELECT CAST(n AS BIGINT) AS n_docs, CAST(count(*) AS BIGINT) AS n_boot, "
    "CAST((s * 10000) // n AS BIGINT) AS mean_bp, "
    "CAST(min(CASE WHEN mr = 5 THEN m END) AS BIGINT) AS ci_lo_bp, "
    "CAST(min(CASE WHEN mr = 196 THEN m END) AS BIGINT) AS ci_hi_bp "
    "FROM mm GROUP BY n, s"
)


# ------------------------------------------------------- watermark audit


def q_watermark_audit(spark, sf_dir):
    """Watermark-horizon audit: how late would each event be if consumed
    in arrival order?  Arrival is modeled as the round-robin merge of 4
    ingest shards (user_id % 4) — the mechanism that actually produces
    out-of-orderness in a multi-partition log (a short shard drains early,
    so its merge slots surface old timestamps late).  Lateness = running
    max(event time) at arrival minus event time; bucketed against the
    candidate horizons (1m / 10m).  This is the batch audit you run BEFORE
    picking `withWatermark` for the streaming twins — 'dropped' rows are
    what a 10-minute watermark would discard.  Per shard the plan is an
    ordered-offset window; the global merge rank mirrors the consumer's
    poll order."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.unix_micros(F.col("ts")).alias("tus"),
        (F.col("user_id") % 4).alias("shard"),
    )
    seq = ev.withColumn(
        "seq", F.row_number().over(Window.partitionBy("shard").orderBy("event_id"))
    )
    wm = seq.withColumn(
        "late_us",
        F.max("tus").over(
            Window.orderBy("seq", "shard").rowsBetween(
                Window.unboundedPreceding, 0
            )
        )
        - F.col("tus"),
    )
    bucket = (
        F.when(F.col("late_us") == 0, "on_time")
        .when(F.col("late_us") < 60_000_000, "lt_1m")
        .when(F.col("late_us") < 600_000_000, "lt_10m")
        .otherwise("dropped")
    )
    g = wm.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.expr("max(late_us) div 1000").alias("max_late_ms"),
    )
    return g.withColumn(
        "pct_bp",
        F.expr("(n_events * 10000) div (sum(n_events) over ())"),
    )


_WATERMARK_SQL = (
    "WITH e AS (SELECT event_id, epoch_us(ts) AS tus, user_id % 4 AS shard "
    "FROM events), "
    "s AS (SELECT *, row_number() OVER (PARTITION BY shard ORDER BY event_id) "
    "AS seq FROM e), "
    "a AS (SELECT tus, max(tus) OVER (ORDER BY seq, shard "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - tus AS late_us "
    "FROM s), "
    "b AS (SELECT CASE WHEN late_us = 0 THEN 'on_time' "
    "WHEN late_us < 60000000 THEN 'lt_1m' "
    "WHEN late_us < 600000000 THEN 'lt_10m' ELSE 'dropped' END AS bucket, "
    "late_us FROM a), "
    "g AS (SELECT bucket, count(*) AS n_events, "
    "CAST(max(late_us) // 1000 AS BIGINT) AS max_late_ms FROM b "
    "GROUP BY bucket) "
    "SELECT bucket, CAST(n_events AS BIGINT) AS n_events, max_late_ms, "
    "CAST((n_events * 10000) // (SELECT sum(n_events) FROM g) AS BIGINT) "
    "AS pct_bp FROM g"
)


# ------------------------------------------------------- split hygiene


def q_group_kfold(spark, sf_dir):
    """Group-aware k-fold assignment: the fold comes from a portable hash
    of the exact-dup group key (md5 of content), so duplicated documents
    land in the SAME fold by construction — the split hygiene that
    prevents train/test leakage through duplicates (hashing doc_id
    instead would leak every dup pair across folds).  Pure scan-side
    map + one aggregate; no shuffle beyond the fold groupBy."""
    d = _docs(spark, sf_dir).select(
        F.md5(F.col("text")).alias("gk"), "source", "n_chars"
    )
    f = d.withColumn("fold", T.base_hash28(F.col("gk")) % 5)
    return f.groupBy("fold").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("gk").alias("n_groups"),
        F.countDistinct("source").alias("n_sources"),
        F.sum("n_chars").cast("bigint").alias("sum_chars"),
    )


_KFOLD_SQL = (
    "WITH f AS (SELECT md5(text) AS gk, source, n_chars, "
    f"{_H28.format(x='md5(text)')} % 5 AS fold FROM documents) "
    "SELECT fold, CAST(count(*) AS BIGINT) AS n_docs, "
    "CAST(count(DISTINCT gk) AS BIGINT) AS n_groups, "
    "CAST(count(DISTINCT source) AS BIGINT) AS n_sources, "
    "CAST(sum(n_chars) AS BIGINT) AS sum_chars "
    "FROM f GROUP BY fold"
)


# -------------------------------------------------- distribution shift


def q_js_divergence(spark, sf_dir):
    """Jensen–Shannon divergence of each source's unigram distribution
    from the corpus distribution — the symmetric, bounded ([0, ln 2])
    distribution-shift score for spotting off-domain sources (the
    DSIR-adjacent diagnostic; q_dsir_weights reweights, this one ranks
    shift).  The corpus vocabulary is one bounded aggregate broadcast
    against per-source totals (|sources|×|vocab| grid — vocabulary is
    language-bounded, not corpus-bounded); the 4-dp round absorbs
    summation-order float noise per the repo convention."""
    tok = (
        _docs(spark, sf_dir)
        .select("source", F.explode_outer(_toks_ne()).alias("tok"))
        .filter(F.col("tok").isNotNull())
    )
    cs = tok.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("c_s"))
    ns = cs.groupBy("source").agg(F.sum("c_s").alias("n_s"))
    cv = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    nrow = cv.agg(F.sum("c").alias("n_tot"))
    grid = ns.crossJoin(F.broadcast(cv.crossJoin(F.broadcast(nrow))))
    g = grid.join(cs, ["source", "tok"], "left").select(
        "source",
        "n_s",
        (F.coalesce(F.col("c_s"), F.lit(0)) / F.col("n_s")).alias("p"),
        (F.col("c") / F.col("n_tot")).alias("q"),
    )
    terms = g.select(
        "source",
        "n_s",
        (
            F.when(
                F.col("p") > 0,
                F.lit(0.5) * F.col("p") * F.log(F.col("p") / ((F.col("p") + F.col("q")) / 2)),
            ).otherwise(F.lit(0.0))
            + F.lit(0.5) * F.col("q") * F.log(F.col("q") / ((F.col("p") + F.col("q")) / 2))
        ).alias("t"),
    )
    return terms.groupBy("source").agg(
        F.max("n_s").cast("bigint").alias("n_tokens"),
        F.round(F.sum("t"), 4).alias("js_4"),
    )


_JS_SQL = (
    f"WITH tok AS (SELECT source, unnest({_TOKS_NE}) AS tok FROM documents), "
    "cs AS (SELECT source, tok, count(*) AS c_s FROM tok GROUP BY 1, 2), "
    "ns AS (SELECT source, sum(c_s) AS n_s FROM cs GROUP BY source), "
    "cv AS (SELECT tok, count(*) AS c FROM tok GROUP BY tok), "
    "nt AS (SELECT sum(c) AS n_tot FROM cv), "
    "g AS (SELECT ns.source, ns.n_s, "
    "coalesce(cs.c_s, 0) / CAST(ns.n_s AS DOUBLE) AS p, "
    "cv.c / CAST(nt.n_tot AS DOUBLE) AS q "
    "FROM ns CROSS JOIN cv CROSS JOIN nt "
    "LEFT JOIN cs ON cs.source = ns.source AND cs.tok = cv.tok), "
    "terms AS (SELECT source, n_s, "
    "(CASE WHEN p > 0 THEN 0.5 * p * ln(p / ((p + q) / 2)) ELSE 0.0 END "
    "+ 0.5 * q * ln(q / ((p + q) / 2))) AS t FROM g) "
    "SELECT source, CAST(max(n_s) AS BIGINT) AS n_tokens, "
    "round(sum(t), 4) AS js_4 FROM terms GROUP BY source"
)


# ------------------------------------------------- retrieval agreement


# RBO(p=0.9) truncated at depth 10, as exact integers: the per-depth
# weight (1-p)·p^(d-1)/d is rational with denominator D = 2520·10^10
# (2520 = lcm(1..10)), so w_d = (2520/d)·9^(d-1)·10^(10-d) and
# RBO·D = Σ w_d·X_d where X_d = |A_1..d ∩ B_1..d|.  The weights are
# pinned literals shared verbatim with the oracle (the q_ann_ndcg
# integer-discount move).
_RBO_D = 2520 * 10**10
_RBO_W = {d: (2520 // d) * 9 ** (d - 1) * 10 ** (10 - d) for d in range(1, 11)}


def q_rank_biased_overlap(spark, sf_dir):
    """Rank-biased overlap (Webber et al. 2010) between the exact cosine
    top-10 and the LSH-probed top-10 for the query vector — the
    top-weighted agreement score a retrieval deployment tracks per index
    rebuild (recall@k treats rank 1 and rank 10 alike; RBO does not).
    Both rankings order by integer e6-floored cosine (deterministic
    cross-engine), the weights are exact integer rationals, and the
    output is exact basis points — the whole audit is integer-hashable.
    Cost: one exact scan + one LSH retrieval + joins over two 10-row
    lists."""
    e = _embs(spark, sf_dir).withColumn("nrm", norm(F.col("embedding")))
    q = e.filter((F.col("vec_id") == 0) & (F.col("nrm") > 0)).select(
        F.col("embedding").alias("qv"), F.col("nrm").alias("qnrm")
    )
    base = e.filter((F.col("vec_id") != 0) & (F.col("nrm") > 0))

    def top10(df):
        scored = df.crossJoin(F.broadcast(q)).withColumn(
            "cos_e6",
            F.floor(
                dot(F.col("embedding"), F.col("qv"))
                / (F.col("nrm") * F.col("qnrm"))
                * 1000000
            ).cast("bigint"),
        )
        # orderBy().limit() compiles to TakeOrderedAndProject (per-partition
        # heap + driver merge of 10-row heads) — a global row_number window
        # here would sort the WHOLE scored table in one partition.  The
        # rank window then runs over just the 10 surviving rows.
        top = scored.select("vec_id", "cos_e6").orderBy(
            F.col("cos_e6").desc(), F.col("vec_id")
        ).limit(10)
        w = Window.orderBy(F.col("cos_e6").desc(), F.col("vec_id"))
        return top.select(
            "vec_id", F.row_number().over(w).cast("bigint").alias("r")
        )
    ra = top10(base)
    rb = top10(
        S.lsh_candidates(base, q.select(F.col("qv").alias("embedding")))
        .withColumn("nrm", norm(F.col("embedding")))
    )
    joined = ra.select("vec_id", F.col("r").alias("ra")).join(
        rb.select("vec_id", F.col("r").alias("rb")), "vec_id"
    ).select(F.greatest("ra", "rb").alias("m"))
    depths = spark.range(1, 11).select(
        F.col("id").alias("d"),
        F.element_at(
            F.array(*[F.lit(_RBO_W[d]) for d in range(1, 11)]), F.col("id").cast("int")
        ).alias("w"),
    )
    xd = depths.join(joined, F.col("m") <= F.col("d"), "left").groupBy(
        "d", "w"
    ).agg(F.count("m").alias("x"))
    return xd.agg(
        F.max(F.when(F.col("d") == 10, F.col("x"))).alias("overlap_at_10"),
        F.expr(f"(sum(w * x) * 10000) div {_RBO_D}").alias("rbo_bp"),
    )


def _rbo_sql():
    from kafkastreamsjavachallenge_spark.queries.llm import _ANN_LSH_CTES

    dot_cq = _DOT.format(a="c.vec", b="q.qv")
    nrm_c = f"sqrt({_DOT.format(a='c.vec', b='c.vec')})"
    weights = ", ".join(f"({d}, {_RBO_W[d]})" for d in range(1, 11))
    return (
        _ANN_LSH_CTES
        + ", qe AS (SELECT qv, qnorm FROM qn WHERE qnorm > 0), "
        "sa AS (SELECT b.vec_id, "
        f"CAST(floor({_DOT.format(a='b.vec', b='q.qv')} / "
        f"(sqrt({_DOT.format(a='b.vec', b='b.vec')}) * q.qnorm) * 1000000) "
        "AS BIGINT) AS cos_e6 FROM bk b CROSS JOIN qe q "
        f"WHERE b.vec_id <> 0 AND sqrt({_DOT.format(a='b.vec', b='b.vec')}) > 0), "
        "ra AS (SELECT vec_id, row_number() OVER (ORDER BY cos_e6 DESC, "
        "vec_id) AS r FROM sa QUALIFY r <= 10), "
        "sb AS (SELECT c.vec_id, "
        f"CAST(floor({dot_cq} / ({nrm_c} * q.qnorm) * 1000000) AS BIGINT) "
        "AS cos_e6 FROM cand c CROSS JOIN qe q "
        f"WHERE {nrm_c} > 0), "
        "rb AS (SELECT vec_id, row_number() OVER (ORDER BY cos_e6 DESC, "
        "vec_id) AS r FROM sb QUALIFY r <= 10), "
        "j AS (SELECT greatest(ra.r, rb.r) AS m FROM ra JOIN rb "
        "USING (vec_id)), "
        f"w(d, w) AS (VALUES {weights}), "
        "xd AS (SELECT w.d, w.w, count(j.m) AS x FROM w "
        "LEFT JOIN j ON j.m <= w.d GROUP BY w.d, w.w) "
        "SELECT CAST(max(CASE WHEN d = 10 THEN x END) AS BIGINT) "
        "AS overlap_at_10, "
        f"CAST((sum(w * x) * 10000) // {_RBO_D} AS BIGINT) AS rbo_bp "
        "FROM xd"
    )


def q_cosine_histogram(spark, sf_dir):
    """Pairwise-cosine distribution over a deterministic 20% hash sample —
    the embedding-space health profile (a collapsed histogram = mode
    collapse / duplicated embeddings; healthy spaces spread).  The
    quadratic stage is capped by the sample rate, never the corpus:
    at 100 TB the sample is a scan-side filter and the pair join stays
    |sample|², with buckets from IEEE-exact floor(cos·10)."""
    e = _embs(spark, sf_dir).withColumn("nrm", norm(F.col("embedding")))
    s = e.filter(
        (T.base_hash28(F.col("vec_id").cast("string")) % 100 < 20)
        & (F.col("nrm") > 0)
    ).select("vec_id", "embedding", "nrm")
    a = s.select(
        F.col("vec_id").alias("ia"),
        F.col("embedding").alias("va"),
        F.col("nrm").alias("na"),
    )
    b = s.select(
        F.col("vec_id").alias("ib"),
        F.col("embedding").alias("vb"),
        F.col("nrm").alias("nb"),
    )
    pairs = (
        a.crossJoin(F.broadcast(b))
        .filter(F.col("ia") < F.col("ib"))
        .withColumn(
            "cos", dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
        )
    )
    return (
        pairs.groupBy(
            F.floor(F.col("cos") * 10).cast("bigint").alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.min(F.floor(F.col("cos") * 1000000).cast("bigint")).alias(
                "min_cos_e6"
            ),
            F.max(F.floor(F.col("cos") * 1000000).cast("bigint")).alias(
                "max_cos_e6"
            ),
        )
    )


_COS_HIST_SQL = (
    "WITH v AS (SELECT vec_id, "
    "list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec "
    "FROM embeddings), "
    "n AS (SELECT vec_id, vec, "
    f"sqrt({_DOT.format(a='vec', b='vec')}) AS nrm FROM v), "
    "s AS (SELECT vec_id, vec, nrm FROM n WHERE "
    f"{_H28.format(x='CAST(vec_id AS VARCHAR)')} % 100 < 20 AND nrm > 0), "
    "p AS (SELECT "
    f"{_DOT.format(a='a.vec', b='b.vec')} / (a.nrm * b.nrm) AS cos "
    "FROM s a JOIN s b ON a.vec_id < b.vec_id) "
    "SELECT CAST(floor(cos * 10) AS BIGINT) AS bucket, "
    "CAST(count(*) AS BIGINT) AS n_pairs, "
    "CAST(min(floor(cos * 1000000)) AS BIGINT) AS min_cos_e6, "
    "CAST(max(floor(cos * 1000000)) AS BIGINT) AS max_cos_e6 "
    "FROM p GROUP BY 1"
)


def q_bigram_entropy(spark, sf_dir):
    """Per-language bigram conditional entropy H(next | prev) =
    -Σ p(ab)·ln(c_ab/c_a) — the sequence-predictability health metric
    (near-zero = templated/looping text, the generation analog of
    q_gopher_repetition).  Everything aggregates at bigram-TYPE level
    (bounded by vocabulary², not corpus); the 4-dp round absorbs
    summation-order float noise per the q_unigram_logprob convention."""
    d = _docs(spark, sf_dir).withColumn("toks", _toks_ne())
    n1 = F.greatest(F.size("toks") - 1, F.lit(0))
    bigrams = F.zip_with(
        F.slice("toks", 1, n1),
        F.slice("toks", 2, n1),
        lambda a, b: F.struct(a.alias("a"), b.alias("b")),
    )
    bg = d.select("lang", F.explode(bigrams).alias("s")).select(
        "lang", F.col("s.a").alias("a"), F.col("s.b").alias("b")
    )
    cab = bg.groupBy("lang", "a", "b").agg(F.count(F.lit(1)).alias("c_ab"))
    ca = cab.groupBy("lang", "a").agg(F.sum("c_ab").alias("c_a"))
    n = cab.groupBy("lang").agg(F.sum("c_ab").alias("n_bigrams"))
    terms = cab.join(ca, ["lang", "a"]).join(n, "lang").select(
        "lang",
        "n_bigrams",
        (
            F.col("c_ab")
            / F.col("n_bigrams")
            * F.log(F.col("c_a") / F.col("c_ab"))
        ).alias("t"),
    )
    return terms.groupBy("lang").agg(
        F.max("n_bigrams").cast("bigint").alias("n_bigrams"),
        F.round(F.sum("t"), 4).alias("cond_entropy_4"),
    )


_BIGRAM_ENTROPY_SQL = (
    f"WITH t AS (SELECT lang, {_TOKS_NE} AS l FROM documents), "
    "bg AS (SELECT lang, unnest([struct_pack(a := l[i], b := l[i+1]) "
    "for i in range(1, len(l))]) AS s FROM t WHERE len(l) >= 2), "
    "cab AS (SELECT lang, s.a AS a, s.b AS b, count(*) AS c_ab "
    "FROM bg GROUP BY 1, 2, 3), "
    "ca AS (SELECT lang, a, sum(c_ab) AS c_a FROM cab GROUP BY 1, 2), "
    "n AS (SELECT lang, sum(c_ab) AS n_bigrams FROM cab GROUP BY lang), "
    "terms AS (SELECT cab.lang, n.n_bigrams, "
    "cab.c_ab / CAST(n.n_bigrams AS DOUBLE) * "
    "ln(ca.c_a / CAST(cab.c_ab AS DOUBLE)) AS t "
    "FROM cab JOIN ca USING (lang, a) JOIN n USING (lang)) "
    "SELECT lang, CAST(max(n_bigrams) AS BIGINT) AS n_bigrams, "
    "round(sum(t), 4) AS cond_entropy_4 FROM terms GROUP BY lang"
)


def q_epoch_shuffle(spark, sf_dir):
    """Deterministic per-epoch reshuffle: each training epoch orders the
    corpus by a portable hash of (epoch, doc_id) — reproducible shuffling
    without rand() state, the property a distributed data loader needs so
    every worker derives the same epoch order independently (resume from
    any step without replaying the shuffle).  Emits the first 5 positions
    of epochs 1-3; the full-order materialization at 100 TB is a sort by
    the same hash key within each output shard."""
    d = _docs(spark, sf_dir).select("doc_id")
    epochs = spark.range(1, 4).select(F.col("id").alias("epoch"))
    keyed = d.crossJoin(F.broadcast(epochs)).withColumn(
        "k",
        T.base_hash28(
            F.concat(
                F.col("epoch").cast("string"),
                F.lit(":"),
                F.col("doc_id").cast("string"),
            )
        ),
    )
    w = Window.partitionBy("epoch").orderBy("k", "doc_id")
    return (
        keyed.select(
            "epoch",
            "doc_id",
            F.row_number().over(w).cast("bigint").alias("pos"),
        )
        .filter(F.col("pos") <= 5)
    )


_EPOCH_SHUFFLE_SQL = (
    "WITH k AS (SELECT e.epoch, d.doc_id, "
    + _H28.format(
        x="CAST(e.epoch AS VARCHAR) || ':' || CAST(d.doc_id AS VARCHAR)"
    )
    + " AS k FROM documents d CROSS JOIN "
    "(SELECT unnest(range(1, 4)) AS epoch) e), "
    "r AS (SELECT epoch, doc_id, row_number() OVER (PARTITION BY epoch "
    "ORDER BY k, doc_id) AS pos FROM k) "
    "SELECT CAST(epoch AS BIGINT) AS epoch, doc_id, "
    "CAST(pos AS BIGINT) AS pos FROM r WHERE pos <= 5"
)


def q_dup_cluster_sizes(spark, sf_dir):
    """Near-dup cluster size histogram: the release-report view of
    q_neardup_components (how much of the corpus sits in 2-dup / 3-dup /
    k-dup clusters — the number that decides whether dedup is worth a
    full pass).  Composition over the components operator: two extra
    aggregates on its (doc_id, component) output."""
    from kafkastreamsjavachallenge_spark.queries.llm import (
        q_neardup_components,
    )

    comp = q_neardup_components(spark, sf_dir)
    sizes = comp.groupBy("component").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .select(
            "cluster_size",
            "n_clusters",
            (F.col("cluster_size") * F.col("n_clusters")).alias("n_docs"),
        )
    )


def _dup_cluster_sizes_sql():
    from kafkastreamsjavachallenge_spark.queries import llm

    components = llm.QUERIES["q_neardup_components"][1]
    return (
        f"SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters, "
        "CAST(cluster_size * count(*) AS BIGINT) AS n_docs FROM "
        "(SELECT component, CAST(count(*) AS BIGINT) AS cluster_size "
        f"FROM ({components}) GROUP BY component) GROUP BY cluster_size"
    )


# ----------------------------------------------- incremental ingest dedup


def q_incremental_dedup(spark, sf_dir):
    """The persisted-band-index ingest path, hash-checked end to end:
    write the MinHash band index of the standing corpus (doc_id % 5 != 0)
    to a real partitioned parquet layout, then dedup the 'nightly batch'
    (doc_id % 5 == 0) against it via directory-pruned probe reads
    (operators/dedup.write_band_index / dedup_against_band_index) — the
    disk twin of q_crosscorpus_dedup's in-memory candidate semantics, so
    the oracle computes the same band collisions in pure SQL while Spark
    actually round-trips the index through the partitioned layout.
    Pruning itself is pinned in tests/test_plans.py
    ::test_band_index_probe_prunes_directories."""
    d = _docs(spark, sf_dir)
    path = scratch_dir("band_index_") + "/idx"
    D.write_band_index(d.filter(F.col("doc_id") % 5 != 0), path)
    kept = D.dedup_against_band_index(
        d.filter(F.col("doc_id") % 5 == 0), spark, path
    )
    return kept.select("doc_id", "lang", "source")


def _incremental_dedup_sql():
    from kafkastreamsjavachallenge_spark.queries.llm import _MINHASH_SIG_CTE

    return (
        _MINHASH_SIG_CTE.format(nperm=8)
        + ", bands AS (SELECT doc_id, b, "
        "md5(array_to_string(sigl[b*2+1:b*2+2], '|')) AS bucket "
        "FROM sig, (SELECT unnest(range(0, 4)) AS b)), "
        "m AS (SELECT DISTINCT nb.doc_id FROM bands nb JOIN bands ib "
        "ON nb.b = ib.b AND nb.bucket = ib.bucket "
        "AND nb.doc_id % 5 = 0 AND ib.doc_id % 5 <> 0) "
        "SELECT doc_id, lang, source FROM documents "
        "WHERE doc_id % 5 = 0 AND doc_id NOT IN (SELECT doc_id FROM m)"
    )


def q_ann_batch(spark, sf_dir):
    """BATCH LSH retrieval: top-3 neighbors for EIGHT query vectors in one
    plan — the production retrieval shape (the other q_ann_* ids retrieve
    for one query; a serving/mining workload joins a query BATCH against
    the bucketed corpus).  Every query's probe set (own 8-plane bucket ∪
    8 Hamming-1 flips — the coarse-bucket scheme lsh_buckets keeps for
    equi-join retrieval; the single-query path moved to SRP signatures
    in round 9) explodes into one
    broadcast (query_id, bucket) table; candidates come from ONE
    equi-join on bucket — per-query work is the probe fan-out, never a
    corpus scan per query.  Ranking is over integer e6 cosines, zero-norm
    vectors excluded both sides."""
    e = _embs(spark, sf_dir).withColumn("nrm", norm(F.col("embedding")))
    corpus = S.lsh_buckets(e.filter(F.col("vec_id") >= 8)).filter(
        F.col("nrm") > 0
    )
    qb = S.lsh_buckets(e.filter((F.col("vec_id") < 8) & (F.col("nrm") > 0)))
    probes = qb.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        F.col("nrm").alias("qnrm"),
        F.explode(
            F.concat(
                F.array(F.col("bucket")),
                F.array(
                    *[
                        F.col("bucket").bitwiseXOR(F.lit(1 << p))
                        for p in range(8)
                    ]
                ),
            )
        ).alias("bucket"),
    )
    scored = corpus.join(F.broadcast(probes), "bucket").withColumn(
        "cos_e6",
        F.floor(
            dot(F.col("embedding"), F.col("qv"))
            / (F.col("nrm") * F.col("qnrm"))
            * 1000000
        ).cast("bigint"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_e6").desc(), F.col("vec_id")
    )
    return (
        scored.select(
            "query_id",
            "vec_id",
            "cos_e6",
            F.row_number().over(w).cast("bigint").alias("rk"),
        )
        .filter(F.col("rk") <= 3)
    )


def _ann_batch_sql():
    from kafkastreamsjavachallenge_spark.queries.llm import _LSH_BK_CTES

    d = _DOT
    return (
        _LSH_BK_CTES
        + "n AS (SELECT vec_id, vec, bucket, "
        f"sqrt({d.format(a='vec', b='vec')}) AS nrm FROM bk), "
        "q AS (SELECT vec_id AS query_id, vec AS qv, nrm AS qnrm, bucket "
        "FROM n WHERE vec_id < 8 AND nrm > 0), "
        "pr AS (SELECT query_id, qv, qnrm, bucket FROM q "
        "UNION ALL SELECT query_id, qv, qnrm, "
        "xor(bucket, 1::BIGINT << t.p) FROM q CROSS JOIN range(0, 8) t(p)), "
        "c AS (SELECT vec_id, vec, nrm, bucket FROM n "
        "WHERE vec_id >= 8 AND nrm > 0), "
        "s AS (SELECT pr.query_id, c.vec_id, "
        f"CAST(floor({d.format(a='c.vec', b='pr.qv')} / (c.nrm * pr.qnrm) "
        "* 1000000) AS BIGINT) AS cos_e6 FROM c JOIN pr USING (bucket)), "
        "r AS (SELECT *, row_number() OVER (PARTITION BY query_id "
        "ORDER BY cos_e6 DESC, vec_id) AS rk FROM s) "
        "SELECT query_id, vec_id, cos_e6, CAST(rk AS BIGINT) AS rk "
        "FROM r WHERE rk <= 3"
    )


def q_rejection_sample(spark, sf_dir):
    """Weight-proportional rejection sampling: each document is accepted
    with probability n_chars / max(n_chars) via the portable hash
    threshold h28(doc_id) % 10^4 < rate_bp — per-row CONTINUOUS
    acceptance rates, completing the sampling family (q_sample_hash =
    uniform, q_stratified_sample = per-stratum rates, q_priority_sample
    = top-k).  Stateless scan-side filter plus a 1-row max broadcast;
    deterministic, so re-runs accept the identical set."""
    d = _docs(spark, sf_dir)
    mx = d.agg(F.max("n_chars").alias("mx"))
    scored = d.crossJoin(F.broadcast(mx)).select(
        "source",
        F.expr("(n_chars * 10000) div mx").alias("rate_bp"),
        (T.base_hash28(F.col("doc_id").cast("string")) % 10000).alias("h"),
    )
    return (
        scored.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_if(F.col("h") < F.col("rate_bp")).alias("n_accepted"),
        )
        .withColumn("acc_bp", F.expr("(n_accepted * 10000) div n_docs"))
    )


_REJECTION_SQL = (
    "WITH mx AS (SELECT max(n_chars) AS mx FROM documents), "
    "s AS (SELECT source, (n_chars * 10000) // mx.mx AS rate_bp, "
    f"{_H28.format(x='CAST(doc_id AS VARCHAR)')} % 10000 AS h "
    "FROM documents CROSS JOIN mx) "
    "SELECT source, CAST(count(*) AS BIGINT) AS n_docs, "
    "CAST(count(*) FILTER (h < rate_bp) AS BIGINT) AS n_accepted, "
    "CAST((count(*) FILTER (h < rate_bp) * 10000) // count(*) AS BIGINT) "
    "AS acc_bp FROM s GROUP BY source"
)


# --------------------------------------------------- privacy / hygiene


def q_k_anonymity(spark, sf_dir):
    """k-anonymity audit over the event stream's quasi-identifier
    (event_type, hour): for each candidate k, how many rows sit in an
    equivalence class smaller than k — the release gate for telemetry
    data (classes of 1 are directly re-identifiable).  One hash
    aggregate over the QI, then a 3-row broadcast threshold join over
    the (bounded) class table; scales like any groupBy on the fact
    table."""
    ev = load_table(spark, sf_dir, "events")
    cls = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hr")
    ).agg(F.count(F.lit(1)).alias("sz"))
    tot = cls.agg(F.sum("sz").alias("n_total"))
    ks = tot.select(
        F.explode(F.array(F.lit(2), F.lit(5), F.lit(10))).alias("k"),
        "n_total",
    ).select(F.col("k").cast("bigint").alias("k"), "n_total")
    return (
        ks.join(cls, F.col("sz") < F.col("k"), "left")
        .groupBy("k", "n_total")
        .agg(
            F.count("sz").alias("n_classes"),
            F.coalesce(F.sum("sz"), F.lit(0)).cast("bigint").alias("n_rows"),
        )
        .select(
            "k",
            "n_classes",
            "n_rows",
            F.expr("(n_rows * 10000) div n_total").alias("pct_bp"),
        )
    )


_KANON_SQL = (
    "WITH cls AS (SELECT event_type, date_trunc('hour', ts) AS hr, "
    "count(*) AS sz FROM events GROUP BY 1, 2), "
    "tot AS (SELECT sum(sz) AS n_total FROM cls), "
    "ks AS (SELECT k, n_total FROM (SELECT unnest([2, 5, 10]) AS k) "
    "CROSS JOIN tot) "
    "SELECT CAST(k AS BIGINT) AS k, CAST(count(cls.sz) AS BIGINT) "
    "AS n_classes, CAST(coalesce(sum(cls.sz), 0) AS BIGINT) AS n_rows, "
    "CAST((coalesce(sum(cls.sz), 0) * 10000) // ks.n_total AS BIGINT) "
    "AS pct_bp "
    "FROM ks LEFT JOIN cls ON cls.sz < ks.k GROUP BY ks.k, ks.n_total"
)


def q_split_leakage(spark, sf_dir):
    """Held-out-split shingle-leakage audit: using the SAME 80/10/10 hash
    split as q_train_test_split, the top-5 TEST documents by how much of
    their distinct-3-shingle set also appears on the non-test (train +
    valid) side — the contamination check run on the split itself
    (doc-level hash splits do NOT prevent near-dup leakage; this measures
    it).  The join is the df-bounded inverted-shingle shape: test
    shingles semi-join the distinct non-test shingle set, never
    doc×doc."""
    shd = D.shingled_docs(_docs(spark, sf_dir), shingle_k=3).filter(
        F.size("sh") > 0
    )
    b = T.base_hash28(F.col("doc_id").cast("string")) % 100
    # r12 (guide §1.2): shd feeds the train-side vocab, the test-side
    # explode AND the final per-doc score — materialize the shingling
    # once instead of once per branch (the q_containment lesson)
    shd = shd.withColumn("is_test", b >= 90).localCheckpoint(eager=False)
    train_g = (
        shd.filter(~F.col("is_test"))
        .select(F.explode_outer("sh").alias("g"))
        .filter(F.col("g").isNotNull())
        .distinct()
    )
    test_ex = (
        shd.filter(F.col("is_test"))
        .select("doc_id", F.size("sh").alias("n_shingles"), F.explode_outer("sh").alias("g"))
        .filter(F.col("g").isNotNull())
    )
    shared = (
        test_ex.join(train_g, "g", "left_semi")
        .groupBy("doc_id", "n_shingles")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    scored = (
        shd.filter(F.col("is_test"))
        .select("doc_id", F.size("sh").cast("bigint").alias("n_shingles"))
        .join(
            shared.select("doc_id", "n_shared"), "doc_id", "left"
        )
        .select(
            "doc_id",
            "n_shingles",
            F.coalesce(F.col("n_shared"), F.lit(0)).cast("bigint").alias(
                "n_shared"
            ),
        )
        .withColumn("shared_bp", F.expr("(n_shared * 10000) div n_shingles"))
    )
    w = Window.orderBy(
        F.col("shared_bp").desc(), F.col("n_shared").desc(), F.col("doc_id")
    )
    return (
        scored.select(
            "*", F.row_number().over(w).cast("bigint").alias("rk")
        )
        .filter(F.col("rk") <= 5)
    )


_SPLIT_LEAK_SQL = (
    "WITH t AS (SELECT doc_id, string_split(trim(text), ' ') AS l "
    "FROM documents), "
    "d AS (SELECT doc_id, list_distinct([array_to_string(l[i:i+2], ' ') "
    "for i in range(1, len(l) - 1)]) AS sh, "
    f"{_H28.format(x='CAST(doc_id AS VARCHAR)')} % 100 >= 90 AS is_test "
    "FROM t WHERE len(l) >= 3), "
    "tg AS (SELECT DISTINCT unnest(sh) AS g FROM d WHERE NOT is_test), "
    "te AS (SELECT doc_id, unnest(sh) AS g FROM d WHERE is_test), "
    "sh2 AS (SELECT te.doc_id, count(*) AS n_shared FROM te "
    "WHERE te.g IN (SELECT g FROM tg) GROUP BY te.doc_id), "
    "sc AS (SELECT d.doc_id, CAST(len(d.sh) AS BIGINT) AS n_shingles, "
    "CAST(coalesce(sh2.n_shared, 0) AS BIGINT) AS n_shared "
    "FROM d LEFT JOIN sh2 ON sh2.doc_id = d.doc_id WHERE d.is_test), "
    "r AS (SELECT *, (n_shared * 10000) // n_shingles AS shared_bp, "
    "row_number() OVER (ORDER BY (n_shared * 10000) // n_shingles DESC, "
    "n_shared DESC, doc_id) AS rk FROM sc) "
    "SELECT doc_id, n_shingles, n_shared, CAST(shared_bp AS BIGINT) "
    "AS shared_bp, CAST(rk AS BIGINT) AS rk FROM r WHERE rk <= 5"
)


def q_score_calibration(spark, sf_dir):
    """Cross-source score calibration: where does each source's median
    document (by length score, exact ceil(n/2) rank) land on the CORPUS
    percentile scale — the comparability check before mixing per-source
    quality thresholds (a 6000bp source median means its scores run hot
    relative to the pool).  Both ranks are exact order statistics, so the
    whole table is integer."""
    d = _docs(spark, sf_dir).select("doc_id", "source", "n_chars")
    wc = Window.orderBy(F.col("n_chars"), F.col("doc_id"))
    ranked = d.select(
        "doc_id",
        "source",
        "n_chars",
        F.row_number().over(wc).cast("bigint").alias("crk"),
    )
    n = ranked.agg(F.count(F.lit(1)).alias("n_corpus"))
    ws = Window.partitionBy("source").orderBy(F.col("n_chars"), F.col("doc_id"))
    per = ranked.select(
        "source",
        "n_chars",
        "crk",
        F.row_number().over(ws).cast("bigint").alias("srk"),
        F.count(F.lit(1)).over(Window.partitionBy("source")).cast("bigint").alias("n_docs"),
    )
    med = per.filter(F.col("srk") == F.expr("(n_docs + 1) div 2"))
    return med.crossJoin(F.broadcast(n)).select(
        "source",
        "n_docs",
        F.col("n_chars").alias("median_score"),
        F.coalesce(
            F.expr("((crk - 1) * 10000) div (n_corpus - 1)"), F.lit(0)
        ).alias("corpus_pct_bp"),
    )


_CALIBRATION_SQL = (
    "WITH r AS (SELECT doc_id, source, n_chars, "
    "row_number() OVER (ORDER BY n_chars, doc_id) AS crk, "
    "row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id) "
    "AS srk, count(*) OVER (PARTITION BY source) AS n_docs FROM documents), "
    "n AS (SELECT count(*) AS n_corpus FROM documents) "
    "SELECT source, CAST(n_docs AS BIGINT) AS n_docs, "
    "n_chars AS median_score, "
    "CAST(coalesce(((crk - 1) * 10000) // (n.n_corpus - 1), 0) AS BIGINT) "
    "AS corpus_pct_bp "
    "FROM r CROSS JOIN n WHERE srk = (n_docs + 1) // 2"
)


def q_ks_test(spark, sf_dir):
    """Two-sample Kolmogorov–Smirnov distance of each source's doc-length
    distribution against the REST of the corpus — the classical drift
    test to q_js_divergence's token-level one; a high KS flags a source
    whose length profile (truncation, boilerplate, concatenation bugs)
    diverges from the pool.  Both step-CDFs jump only at observed values,
    so evaluating |F_s - F_rest| at every distinct length is the exact
    supremum; the statistic is the integer e6 floor of a rational with
    denominator n_s*n_rest, computed entirely in bigints so both engines
    agree bit-for-bit.

    Scale: the grid is |sources| x |distinct lengths| — lengths are
    domain-bounded (and would be bucketed to a fixed grid at 100 TB,
    keeping the window tiny); the corpus-sized work is the two
    counting aggregates.  The cross-multiplied numerator stays under
    2^63 up to ~3e6 docs per source; beyond that, pre-normalize to a
    fixed 1e9 grid before the compare."""
    d = _docs(spark, sf_dir).select("source", "n_chars")
    cs = d.groupBy("source", "n_chars").agg(F.count(F.lit(1)).alias("c_s"))
    cv = d.groupBy("n_chars").agg(F.count(F.lit(1)).alias("c"))
    ns = cs.groupBy("source").agg(F.sum("c_s").alias("n_s"))
    nt = cv.agg(F.sum("c").alias("n_tot"))
    grid = (
        ns.crossJoin(F.broadcast(nt))
        # KS against the REST is undefined when one source holds the whole
        # corpus (n_rest = 0 -> zero denominator; Spark DIV would yield
        # NULL, DuckDB // is version-dependent on zero).  Exclude the
        # degenerate source on both engines.
        .filter(F.col("n_s") < F.col("n_tot"))
        .crossJoin(F.broadcast(cv))
        .join(cs, ["source", "n_chars"], "left")
    )
    wc = (
        Window.partitionBy("source")
        .orderBy("n_chars")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = grid.select(
        "source",
        "n_s",
        "n_tot",
        F.sum(F.coalesce(F.col("c_s"), F.lit(0))).over(wc).alias("cum_s"),
        F.sum("c").over(wc).alias("cum_t"),
    )
    return (
        cum.select(
            "source",
            "n_s",
            F.expr(
                "abs(cum_s * (n_tot - n_s) - (cum_t - cum_s) * n_s) * 1000000"
                " DIV (n_s * (n_tot - n_s))"
            ).alias("gap_e6"),
        )
        .groupBy("source")
        .agg(
            F.max("n_s").cast("bigint").alias("n_docs"),
            F.max("gap_e6").cast("bigint").alias("ks_e6"),
        )
    )


_KS_SQL = (
    "WITH d AS (SELECT source, n_chars FROM documents), "
    "cs AS (SELECT source, n_chars, count(*) AS c_s FROM d GROUP BY 1, 2), "
    "cv AS (SELECT n_chars, count(*) AS c FROM d GROUP BY 1), "
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
    "CAST(max(abs(cum_s * (n_tot - n_s) - (cum_t - cum_s) * n_s) * 1000000 "
    "// (n_s * (n_tot - n_s))) AS BIGINT) AS ks_e6 "
    "FROM cum GROUP BY source"
)


def q_spearman(spark, sf_dir):
    """Per-source Spearman rank correlation between doc length (chars)
    and token count — the monotone-association audit that catches
    tokenizer pathologies (a source whose char length decouples from its
    token count has encoding damage, CJK segmentation issues, or
    markup).  Ranks are pinned to min-rank tie semantics (rank(), the
    same on both engines) so sum_d2 is an exact bigint; rho applies the
    classical 1 - 6*sum(d^2)/(n^3-n) map as two IEEE ops over exact
    integers + a 4-dp round (repo float convention; the min-rank tie
    pin makes this a deterministic definition, documented rather than
    the midrank textbook variant).

    Scale: two per-source sort-ranks over narrow (source, value) pairs —
    the same shape as q_score_calibration; no corpus-wide window."""
    d = _docs(spark, sf_dir).select(
        "source", "n_chars", F.size(_toks_ne()).alias("n_tok")
    )
    r = d.select(
        "source",
        F.rank()
        .over(Window.partitionBy("source").orderBy("n_chars"))
        .cast("bigint")
        .alias("r1"),
        F.rank()
        .over(Window.partitionBy("source").orderBy("n_tok"))
        .cast("bigint")
        .alias("r2"),
    )
    agg = r.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum((F.col("r1") - F.col("r2")) * (F.col("r1") - F.col("r2")))
        .cast("bigint")
        .alias("sum_d2"),
    )
    return agg.filter(F.col("n") > 1).select(
        "source",
        "n",
        "sum_d2",
        F.round(
            F.lit(1.0)
            - (F.lit(6.0) * F.col("sum_d2").cast("double"))
            / (F.col("n") * F.col("n") * F.col("n") - F.col("n")).cast("double"),
            4,
        ).alias("rho_4"),
    )


_SPEARMAN_SQL = (
    "WITH d AS (SELECT source, n_chars, "
    f"len({_TOKS_NE}) AS n_tok FROM documents), "
    "r AS (SELECT source, "
    "rank() OVER (PARTITION BY source ORDER BY n_chars) AS r1, "
    "rank() OVER (PARTITION BY source ORDER BY n_tok) AS r2 FROM d), "
    "a AS (SELECT source, count(*) AS n, "
    "CAST(sum((r1 - r2) * (r1 - r2)) AS BIGINT) AS sum_d2 "
    "FROM r GROUP BY source) "
    "SELECT source, CAST(n AS BIGINT) AS n, sum_d2, "
    # + 0 normalizes IEEE -0.0: DuckDB round() preserves the sign of
    # zero, Spark's BigDecimal round never emits it, and the driver
    # compares STRINGS ('-0.0' != '0.0' — the q_embed_centroid sf0.001
    # lesson).  Applies to every rounded sign-indefinite oracle column.
    "round(1.0 - (6.0 * CAST(sum_d2 AS DOUBLE)) "
    "/ CAST(n * n * n - n AS DOUBLE), 4) + 0 AS rho_4 "
    "FROM a WHERE n > 1"
)


def q_semantic_decontaminate(spark, sf_dir):
    """Embedding-space decontamination: q_decontaminate removes training
    docs sharing exact benchmark n-grams, but paraphrased leakage slips
    through — this op scores every corpus vector against a broadcast
    benchmark block (vec_id<20) by max cosine and flags rows at or above
    0.35 for removal, reporting the argmax benchmark id (deterministic
    min-id tie-break) as removal evidence.  Cosines are e6-floored
    integers over the shared strict-left-fold dot (DESIGN.md), zero-norm
    vectors excluded on both sides (the q_embed_norm_audit lesson).

    Scale: benchmark blocks are small by nature — one broadcast, one
    corpus scan, map-side max; the same shape as q_decontaminate's
    broadcast gram filter.  A 100 TB corpus adds an LSH/IVF pre-filter
    from the existing operators to skip obviously-far vectors."""
    e = _embs(spark, sf_dir).withColumn("nrm", norm(F.col("embedding")))
    b = e.filter((F.col("vec_id") < 20) & (F.col("nrm") > 0)).select(
        F.col("vec_id").alias("bench_id"),
        F.col("embedding").alias("bv"),
        F.col("nrm").alias("bnrm"),
    )
    c = e.filter((F.col("vec_id") >= 20) & (F.col("nrm") > 0))
    scored = c.crossJoin(F.broadcast(b)).withColumn(
        "cos_e6",
        F.floor(
            dot(F.col("embedding"), F.col("bv"))
            / (F.col("nrm") * F.col("bnrm"))
            * 1000000
        ).cast("bigint"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("cos_e6").desc(), "bench_id")
    return (
        scored.select(
            "vec_id",
            "label",
            "bench_id",
            "cos_e6",
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") == 1)
        .select(
            "vec_id",
            "label",
            "bench_id",
            "cos_e6",
            # int-cast, not raw boolean: the driver compares stringified
            # values, and JVM true/false vs DuckDB True/False would
            # red-flag an otherwise exact match (registry-wide convention
            # for boolean outputs).
            (F.col("cos_e6") >= 350000).cast("int").alias("contaminated"),
        )
    )


_SEMDECON_SQL = (
    "WITH v AS (SELECT vec_id, label, "
    "list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec "
    "FROM embeddings), "
    "n AS (SELECT vec_id, label, vec, "
    f"sqrt({_DOT.format(a='vec', b='vec')}) AS nrm FROM v), "
    "b AS (SELECT vec_id AS bench_id, vec AS bv, nrm AS bnrm FROM n "
    "WHERE vec_id < 20 AND nrm > 0), "
    "c AS (SELECT vec_id, label, vec, nrm FROM n "
    "WHERE vec_id >= 20 AND nrm > 0), "
    "s AS (SELECT c.vec_id, c.label, b.bench_id, "
    f"CAST(floor({_DOT.format(a='c.vec', b='b.bv')} "
    "/ (c.nrm * b.bnrm) * 1000000) AS BIGINT) AS cos_e6 "
    "FROM c CROSS JOIN b), "
    "r AS (SELECT *, row_number() OVER (PARTITION BY vec_id "
    "ORDER BY cos_e6 DESC, bench_id) AS rn FROM s) "
    "SELECT vec_id, label, bench_id, cos_e6, "
    "CAST(cos_e6 >= 350000 AS INTEGER) AS contaminated FROM r WHERE rn = 1"
)


def q_seasonal_decompose(spark, sf_dir):
    """Additive seasonal decomposition of the hourly event-value series:
    hour-of-day seasonal indices after removing a centered 24-hour
    moving-average trend — the load-shape audit behind capacity planning
    and anomaly baselines (q_anomaly_zscore scores points; this explains
    the daily cycle they sit on).  Values enter as e4-floored integers,
    the trend window keeps its SUM (not mean) so the detrended series
    24*y - trend_sum is an exact bigint; only the final per-hour mean
    performs float ops (two IEEE divisions over exact integers + the
    4-dp round, repo convention).  Only full 24-row windows contribute.

    Scale: the hourly rollup is the only corpus-sized stage; the trend
    window runs over the tiny hourly series (at 100 TB, partition the
    window by day with a 12-row overlap — the series length is bounded
    by the calendar, not the data)."""
    e = load_table(spark, sf_dir, "events")
    hourly = e.groupBy(F.date_trunc("hour", F.col("ts")).alias("h")).agg(
        F.sum(F.floor(F.col("value") * 10000).cast("bigint")).alias("y_e4")
    )
    w24 = Window.orderBy("h").rowsBetween(-12, 11)
    t = hourly.select(
        "h",
        "y_e4",
        F.sum("y_e4").over(w24).alias("tsum"),
        F.count(F.lit(1)).over(w24).alias("nw"),
    )
    det = t.filter(F.col("nw") == 24).select(
        F.hour("h").cast("bigint").alias("hod"),
        (F.lit(24) * F.col("y_e4") - F.col("tsum")).alias("det24"),
    )
    return det.groupBy("hod").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hours"),
        F.round(
            F.sum("det24").cast("double")
            / F.count(F.lit(1)).cast("double")
            / F.lit(240000.0),
            4,
        ).alias("seasonal_4"),
    )


_SEASONAL_SQL = (
    "WITH hourly AS (SELECT date_trunc('hour', ts) AS h, "
    "sum(CAST(floor(value * 10000) AS BIGINT)) AS y_e4 "
    "FROM events GROUP BY 1), "
    "t AS (SELECT h, y_e4, "
    "sum(y_e4) OVER (ORDER BY h ROWS BETWEEN 12 PRECEDING AND 11 FOLLOWING) "
    "AS tsum, "
    "count(*) OVER (ORDER BY h ROWS BETWEEN 12 PRECEDING AND 11 FOLLOWING) "
    "AS nw FROM hourly), "
    "det AS (SELECT CAST(hour(h) AS BIGINT) AS hod, "
    "24 * y_e4 - tsum AS det24 FROM t WHERE nw = 24) "
    "SELECT hod, CAST(count(*) AS BIGINT) AS n_hours, "
    "round(CAST(sum(det24) AS DOUBLE) / CAST(count(*) AS DOUBLE) "
    "/ 240000.0, 4) + 0 AS seasonal_4 "
    "FROM det GROUP BY hod"
)


def q_auc(spark, sf_dir):
    """Exact ROC-AUC of `value` as a score for predicting purchase
    events — the Mann–Whitney U identity (AUC = U / (n1*n0)) over
    midranks, the standard quality-classifier eval a curation pipeline
    runs before trusting a filter's threshold sweep
    (q_quality_threshold_sweep picks the operating point; this scores
    the ranker itself).  Midranks are .5-granular, so everything is
    doubled: r2 = 2*rank + ties - 1 = rank_min + rank_max is integer,
    U2 = sum(r2 | positive) - n1*(n1+1) = 2U, and the e6 floor divides
    once by 2*n1*n0 — bigint-exact end to end, tie handling included.

    Scale: one global sort-rank over (score) plus a per-score tie count
    — at 100 TB, pre-bucket scores to a fixed grid (the same coarsening
    note as q_ks_test) and ranks become prefix sums over the histogram."""
    e = load_table(spark, sf_dir, "events").select(
        (F.col("event_type") == "purchase").cast("int").alias("pos"),
        "value",
    )
    r2 = (
        F.lit(2) * F.rank().over(Window.orderBy("value"))
        + F.count(F.lit(1)).over(Window.partitionBy("value"))
        - F.lit(1)
    ).cast("bigint")
    ranked = e.select("pos", r2.alias("r2"))
    return ranked.agg(
        F.sum("pos").cast("bigint").alias("n_pos"),
        (F.count(F.lit(1)) - F.sum("pos")).cast("bigint").alias("n_neg"),
        F.expr(
            "CASE WHEN sum(pos) > 0 AND count(*) > sum(pos) THEN "
            "(sum(CASE WHEN pos = 1 THEN r2 ELSE 0 END) "
            "- sum(pos) * (sum(pos) + 1)) * 1000000 "
            "DIV (2 * sum(pos) * (count(*) - sum(pos))) END"
        )
        .cast("bigint")
        .alias("auc_e6"),
    )


_AUC_SQL = (
    "WITH e AS (SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END "
    "AS pos, value FROM events), "
    "r AS (SELECT pos, 2 * rank() OVER (ORDER BY value) "
    "+ count(*) OVER (PARTITION BY value) - 1 AS r2 FROM e) "
    "SELECT CAST(sum(pos) AS BIGINT) AS n_pos, "
    "CAST(count(*) - sum(pos) AS BIGINT) AS n_neg, "
    "CAST(CASE WHEN sum(pos) > 0 AND count(*) > sum(pos) THEN "
    "(sum(CASE WHEN pos = 1 THEN r2 ELSE 0 END) - sum(pos) * (sum(pos) + 1)) "
    "* 1000000 // (2 * sum(pos) * (count(*) - sum(pos))) END AS BIGINT) "
    "AS auc_e6 FROM r"
)


def q_silhouette(spark, sf_dir):
    """Simplified silhouette (centroid-based, Hruschka et al.) of the
    label partition over the embedding space — the cluster-quality score
    that validates a kmeans/SemDeDup clustering before trusting its
    cluster-local dedup decisions.  Components floor to e3 integers
    (the q_embedding_drift move) so per-label centroid SUMS are exact;
    distance to a centroid avoids the mean's division entirely via
    n^2*||x - S/n||^2 = ||n*x - S||^2 (bigint-exact), and only the final
    sqrt(D)/n per candidate label is float (two IEEE ops over exact
    integers — bit-identical cross-engine).  Per-vector s = (b-a) /
    max(a,b) e6-floors, and the per-label mean is an integer DIV.
    Singletons score 1e6 by construction (a = 0), pinned here rather
    than the classical s = 0 convention.

    Scale: centroids are one posexplode aggregate; scoring is a
    broadcast of |labels| rows against the corpus — map-side only.
    The bigint fold ||n*x - S||^2 stays under 2^63 to ~1e7 rows/label
    at e3; beyond that, drop to e2 components (same guard as
    q_embedding_drift's note)."""
    q = _embs(spark, sf_dir).select(
        "vec_id",
        "label",
        F.transform(
            F.col("embedding").cast("array<double>"),
            lambda x: F.floor(x * 1000).cast("bigint"),
        ).alias("qx"),
    )
    comp = (
        q.select("label", F.posexplode("qx").alias("pos", "v"))
        .groupBy("label", "pos")
        .agg(F.sum("v").alias("s"))
    )
    cent = comp.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "s"))), lambda t: t["s"]
        ).alias("svec")
    )
    n_l = q.groupBy("label").agg(F.count(F.lit(1)).cast("bigint").alias("n_c"))
    cent = cent.join(n_l, "label").select(
        F.col("label").alias("c_label"), "svec", "n_c"
    )
    scored = q.crossJoin(F.broadcast(cent)).select(
        "vec_id",
        "label",
        "c_label",
        (
            F.sqrt(
                F.aggregate(
                    F.zip_with(
                        "qx",
                        "svec",
                        lambda x, s: (F.col("n_c") * x - s)
                        * (F.col("n_c") * x - s),
                    ),
                    F.lit(0).cast("bigint"),
                    lambda acc, v: acc + v,
                ).cast("double")
            )
            / F.col("n_c").cast("double")
        ).alias("dist"),
    )
    per_vec = scored.groupBy("vec_id", "label").agg(
        F.min(F.when(F.col("c_label") == F.col("label"), F.col("dist"))).alias("a"),
        F.min(F.when(F.col("c_label") != F.col("label"), F.col("dist"))).alias("b"),
    )
    sil = per_vec.select(
        "label",
        F.when(
            F.greatest("a", "b") > 0,
            F.floor((F.col("b") - F.col("a")) / F.greatest("a", "b") * 1000000),
        )
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("s_e6"),
    )
    # floor(sum/n) rather than integer DIV: s_e6 sums can be negative and
    # Spark DIV truncates toward zero while DuckDB // floors — the double
    # division is exact (|sum| << 2^53) and floor agrees on both engines
    return sil.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
        F.floor(F.sum("s_e6").cast("double") / F.count(F.lit(1)).cast("double"))
        .cast("bigint")
        .alias("mean_sil_e6"),
    )


_SIL_SQL = (
    "WITH v AS (SELECT vec_id, label, "
    "list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) "
    "AS BIGINT)) AS qx FROM embeddings), "
    "comp AS (SELECT label, i AS pos, qx[i] AS x "
    "FROM v, range(1, 65) t(i)), "
    "s AS (SELECT label, pos, sum(x) AS s FROM comp GROUP BY 1, 2), "
    "cent AS (SELECT label AS c_label, "
    "list(s ORDER BY pos) AS svec FROM s GROUP BY label), "
    "nl AS (SELECT label AS c_label, count(*) AS n_c FROM v GROUP BY label), "
    "sc AS (SELECT v.vec_id, v.label, cent.c_label, "
    "sqrt(CAST(list_sum(list_transform(range(1, 65), "
    "i -> (nl.n_c * v.qx[i] - cent.svec[i]) "
    "* (nl.n_c * v.qx[i] - cent.svec[i]))) AS DOUBLE)) "
    "/ CAST(nl.n_c AS DOUBLE) AS dist "
    "FROM v CROSS JOIN cent JOIN nl ON nl.c_label = cent.c_label), "
    "pv AS (SELECT vec_id, label, "
    "min(CASE WHEN c_label = label THEN dist END) AS a, "
    "min(CASE WHEN c_label <> label THEN dist END) AS b "
    "FROM sc GROUP BY 1, 2), "
    "sil AS (SELECT label, CASE WHEN greatest(a, b) > 0 THEN "
    "CAST(floor((b - a) / greatest(a, b) * 1000000) AS BIGINT) "
    "ELSE 0 END AS s_e6 FROM pv) "
    "SELECT label, CAST(count(*) AS BIGINT) AS n_vecs, "
    "CAST(floor(CAST(sum(s_e6) AS DOUBLE) / CAST(count(*) AS DOUBLE)) "
    "AS BIGINT) AS mean_sil_e6 "
    "FROM sil GROUP BY label"
)


# ------------------------------------------------- layout / privacy extras


def q_skyline(spark, sf_dir):
    """Skyline (Pareto-frontier) preference query: the documents that are
    token-dense for their size — points (n_tok max, n_chars min) that no
    other document dominates on both axes.  The scale trick: one of the
    two axes is discrete, so instead of the quadratic dominance self-join
    (or a global sort of the corpus) the skyline collapses to one hash
    aggregate — min n_chars PER distinct token count (a frame bounded by
    the token-count domain, not the corpus) — followed by a prefix-min
    scan over that tiny frame sorted by n_tok descending.  A point
    survives iff every higher-token point costs strictly more chars.
    All-integer, so the oracle is hash-exact."""
    d = _docs(spark, sf_dir).select(
        "n_chars", F.size(_toks_ne()).cast("bigint").alias("n_tok")
    )
    per_tok = d.groupBy("n_tok").agg(
        F.min("n_chars").alias("min_chars"),
        F.count(F.lit(1)).alias("n_docs"),
    )
    w = (
        Window.orderBy(F.col("n_tok").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        per_tok.withColumn("best_above", F.min("min_chars").over(w))
        .filter(
            F.col("best_above").isNull()
            | (F.col("best_above") > F.col("min_chars"))
        )
        .select("n_tok", "min_chars", "n_docs")
    )


_SKYLINE_SQL = (
    f"WITH d AS (SELECT n_chars, CAST(len({_TOKS_NE}) AS BIGINT) AS n_tok "
    "FROM documents), "
    "pt AS (SELECT n_tok, CAST(min(n_chars) AS BIGINT) AS min_chars, "
    "CAST(count(*) AS BIGINT) AS n_docs FROM d GROUP BY n_tok), "
    "sc AS (SELECT n_tok, min_chars, n_docs, "
    "min(min_chars) OVER (ORDER BY n_tok DESC "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS best_above "
    "FROM pt) "
    "SELECT n_tok, min_chars, n_docs FROM sc "
    "WHERE best_above IS NULL OR best_above > min_chars"
)


def q_compaction_plan(spark, sf_dir):
    """Small-file compaction planner: pack each source's documents (in
    ingest order = doc_id) into output files that roll once the running
    size reaches 4096 chars — the bin-packing pass a lakehouse runs to
    turn millions of tiny ingest files into scan-efficient ones.  A doc
    is assigned to the file its PRECEDING bytes land in (exclusive
    prefix sum DIV target), so files close after first overflowing the
    target — the standard roll-when-full rule, exact in integers on
    both engines.  Scale shape: the window partitions by source, so the
    prefix sum parallelizes across sources/table-partitions (compaction
    is always planned per partition at 100 TB — a global pack would both
    single-thread the window and destroy partition locality)."""
    d = _docs(spark, sf_dir)
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    pre = d.select(
        "source",
        "doc_id",
        "n_chars",
        F.coalesce(F.sum("n_chars").over(w), F.lit(0)).alias("pb"),
    )
    return (
        pre.groupBy("source", F.expr("pb div 4096").alias("file_id"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("bytes"),
        )
        .select(
            "source",
            "file_id",
            "n_docs",
            "bytes",
            F.expr("(bytes * 10000) div 4096").alias("fill_bp"),
        )
    )


_COMPACTION_SQL = (
    "WITH pre AS (SELECT source, doc_id, n_chars, "
    "coalesce(sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pb "
    "FROM documents) "
    "SELECT source, CAST(pb // 4096 AS BIGINT) AS file_id, "
    "CAST(count(*) AS BIGINT) AS n_docs, "
    "CAST(sum(n_chars) AS BIGINT) AS bytes, "
    "CAST((sum(n_chars) * 10000) // 4096 AS BIGINT) AS fill_bp "
    "FROM pre GROUP BY 1, 2"
)


def q_l_diversity(spark, sf_dir):
    """l-diversity audit, the companion gate to q_k_anonymity: a QI
    class can be large (k-anonymous) yet still leak if every row in it
    shares one sensitive value.  For the same (event_type, hour) QI,
    counts classes whose DISTINCT-user_id count falls below each
    candidate l — one exact-distinct aggregate over the QI, then the
    same 3-row broadcast threshold join; scales like any two-key
    groupBy on the fact table."""
    ev = load_table(spark, sf_dir, "events")
    cls = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hr")
    ).agg(
        F.count(F.lit(1)).alias("sz"),
        F.countDistinct("user_id").alias("ndv"),
    )
    tot = cls.agg(F.sum("sz").alias("n_total"))
    ls = tot.select(
        F.explode(F.array(F.lit(2), F.lit(5), F.lit(10))).alias("l"),
        "n_total",
    ).select(F.col("l").cast("bigint").alias("l"), "n_total")
    return (
        ls.join(cls, F.col("ndv") < F.col("l"), "left")
        .groupBy("l", "n_total")
        .agg(
            F.count("ndv").alias("n_classes"),
            F.coalesce(F.sum("sz"), F.lit(0)).cast("bigint").alias("n_rows"),
        )
        .select(
            "l",
            "n_classes",
            "n_rows",
            F.expr("(n_rows * 10000) div n_total").alias("pct_bp"),
        )
    )


_LDIV_SQL = (
    "WITH cls AS (SELECT event_type, date_trunc('hour', ts) AS hr, "
    "count(*) AS sz, count(DISTINCT user_id) AS ndv "
    "FROM events GROUP BY 1, 2), "
    "tot AS (SELECT sum(sz) AS n_total FROM cls), "
    "ls AS (SELECT l, n_total FROM (SELECT unnest([2, 5, 10]) AS l) "
    "CROSS JOIN tot) "
    "SELECT CAST(l AS BIGINT) AS l, CAST(count(cls.ndv) AS BIGINT) "
    "AS n_classes, CAST(coalesce(sum(cls.sz), 0) AS BIGINT) AS n_rows, "
    "CAST((coalesce(sum(cls.sz), 0) * 10000) // ls.n_total AS BIGINT) "
    "AS pct_bp "
    "FROM ls LEFT JOIN cls ON cls.ndv < ls.l GROUP BY ls.l, ls.n_total"
)


QUERIES = {
    "q_heaps_law": (q_heaps_law, _HEAPS_SQL),
    "q_ttr_hapax": (q_ttr_hapax, _TTR_SQL),
    "q_zipf_slope": (q_zipf_slope, _ZIPF_SQL),
    "q_simhash_neardup": (q_simhash_neardup, _SIMHASH_NEARDUP_SQL),
    "q_containment": (q_containment, _CONTAINMENT_SQL),
    "q_hard_negatives": (q_hard_negatives, _HARDNEG_SQL),
    "q_embedding_drift": (q_embedding_drift, _DRIFT_SQL),
    "q_cluster_sample": (q_cluster_sample, _CLUSTER_SAMPLE_SQL),
    "q_bootstrap_ci": (q_bootstrap_ci, _BOOTSTRAP_SQL),
    "q_watermark_audit": (q_watermark_audit, _WATERMARK_SQL),
    "q_group_kfold": (q_group_kfold, _KFOLD_SQL),
    "q_js_divergence": (q_js_divergence, _JS_SQL),
    "q_rank_biased_overlap": (q_rank_biased_overlap, _rbo_sql()),
    "q_cosine_histogram": (q_cosine_histogram, _COS_HIST_SQL),
    "q_bigram_entropy": (q_bigram_entropy, _BIGRAM_ENTROPY_SQL),
    "q_epoch_shuffle": (q_epoch_shuffle, _EPOCH_SHUFFLE_SQL),
    "q_dup_cluster_sizes": (q_dup_cluster_sizes, _dup_cluster_sizes_sql()),
    "q_incremental_dedup": (q_incremental_dedup, _incremental_dedup_sql()),
    "q_ann_batch": (q_ann_batch, _ann_batch_sql()),
    "q_rejection_sample": (q_rejection_sample, _REJECTION_SQL),
    "q_k_anonymity": (q_k_anonymity, _KANON_SQL),
    "q_split_leakage": (q_split_leakage, _SPLIT_LEAK_SQL),
    "q_score_calibration": (q_score_calibration, _CALIBRATION_SQL),
    "q_ks_test": (q_ks_test, _KS_SQL),
    "q_spearman": (q_spearman, _SPEARMAN_SQL),
    "q_semantic_decontaminate": (q_semantic_decontaminate, _SEMDECON_SQL),
    "q_seasonal_decompose": (q_seasonal_decompose, _SEASONAL_SQL),
    "q_auc": (q_auc, _AUC_SQL),
    "q_silhouette": (q_silhouette, _SIL_SQL),
    "q_compaction_plan": (q_compaction_plan, _COMPACTION_SQL),
    "q_l_diversity": (q_l_diversity, _LDIV_SQL),
    "q_skyline": (q_skyline, _SKYLINE_SQL),
}
