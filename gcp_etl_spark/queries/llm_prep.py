"""Training-data preparation operators (SURVEY.md §2C —
LLM-data-pipeline surface): document chunking, benchmark
decontamination, repetition-based quality filtering, dedup
survivorship, and token-budget sequence packing.

Together with the dedup/cluster operators in ``llm_ops.py`` these
cover a pretraining corpus pipeline end to end: quality scoring →
near-dup pairs → clusters → keep-best survivorship → benchmark
decontamination → model-window chunking → fixed-budget packing.
Everything is JVM column expressions, explode + hash-agg, or window
running sums — no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from gcp_etl_spark.functions.hashing import md5_draw
from gcp_etl_spark.operators.barrier import barrier
from gcp_etl_spark.queries.registry import query
from gcp_etl_spark.tables import t

# Chunk geometry: 64-token windows advancing 48 tokens (16-token
# overlap) — the overlap preserves cross-boundary context exactly like
# a tokenizer's sliding window; constants mirrored in the oracle.
_CHUNK_W = 64
_CHUNK_S = 48


@query(
    "text_chunk_overlap",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split(trim(lower(text)), ' '), x -> x <> '')
               AS tokens
      FROM documents
    ), sized AS (
      SELECT doc_id, tokens, len(tokens) AS n,
             CASE WHEN len(tokens) <= {_CHUNK_W} THEN 1
                  ELSE (len(tokens) - {_CHUNK_W} + {_CHUNK_S} - 1)
                       // {_CHUNK_S} + 1 END AS n_chunks
      FROM toks WHERE len(tokens) > 0
    ), chunks AS (
      SELECT doc_id, n, i AS chunk_idx,
             list_slice(tokens, i * {_CHUNK_S} + 1,
                        i * {_CHUNK_S} + {_CHUNK_W}) AS ctoks
      FROM sized, unnest(range(n_chunks)) AS u(i)
    )
    SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
           CAST(len(ctoks) AS INT) AS n_chunk_toks,
           md5(array_to_string(ctoks, ' ')) AS chunk_md5
    FROM chunks
    """,
    tags=("text", "llm", "chunk"),
)
def text_chunk_overlap(spark, sf_dir):
    """Overlapping document chunking: 64-token windows, stride 48.

    The whole op is one map stage — ``sequence`` builds the chunk
    index list, ``explode`` fans out, ``slice`` carves the window —
    so it pipelines inside the scan with NO shuffle at any scale;
    output partitioning inherits the input's. Chunk text is emitted
    as an md5 (the driver canon forbids long free-text columns less
    than it forbids arrays, but the hash also keeps the comparison
    payload fixed-width)."""
    d = t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism  # single-file scan
    )
    toks = F.filter(
        F.split(F.trim(F.lower("text")), " "), lambda x: x != F.lit("")
    )
    sized = d.select("doc_id", toks.alias("tokens")).filter(
        F.size("tokens") > 0
    )
    sized = sized.withColumn(
        "n_chunks",
        F.when(F.size("tokens") <= _CHUNK_W, F.lit(1)).otherwise(
            F.expr(
                f"(size(tokens) - {_CHUNK_W} + {_CHUNK_S} - 1)"
                f" div {_CHUNK_S} + 1"
            ).cast("int")
        ),
    )
    chunks = sized.select(
        "doc_id",
        "tokens",
        F.explode(F.sequence(F.lit(0), F.col("n_chunks") - 1)).alias(
            "chunk_idx"
        ),
    ).select(
        "doc_id",
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        F.slice(
            "tokens", F.col("chunk_idx") * _CHUNK_S + 1, _CHUNK_W
        ).alias("ctoks"),
    )
    return chunks.select(
        "doc_id",
        "chunk_idx",
        F.size("ctoks").alias("n_chunk_toks"),
        F.md5(F.concat_ws(" ", "ctoks")).alias("chunk_md5"),
    )


@query(
    "decontaminate_ngram_overlap",
    oracle="""
    WITH w AS (SELECT doc_id,
                      list_filter(string_split(trim(lower(text)), ' '),
                                  x -> x <> '') AS ws
               FROM documents),
    g AS (SELECT DISTINCT doc_id,
                 ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] AS gram
          FROM w, unnest(range(len(ws)-2)) AS u(i)),
    eval_grams AS (SELECT DISTINCT gram FROM g WHERE doc_id % 37 = 0),
    train AS (SELECT doc_id, gram FROM g WHERE doc_id % 37 <> 0),
    sz AS (SELECT doc_id, count(*) AS n_grams FROM train GROUP BY 1),
    hits AS (SELECT doc_id, count(*) AS n_overlap
             FROM train JOIN eval_grams USING (gram) GROUP BY 1)
    SELECT doc_id, CAST(n_overlap AS BIGINT) AS n_overlap,
           CAST(n_grams AS BIGINT) AS n_grams,
           n_overlap / n_grams AS overlap_ratio
    FROM hits JOIN sz USING (doc_id)
    WHERE n_overlap / n_grams >= 0.2
    """,
    tags=("text", "llm", "decontaminate", "join"),
)
def decontaminate_ngram_overlap(spark, sf_dir):
    """Benchmark decontamination: flag training documents whose word
    trigrams overlap an evaluation set (here: doc_id % 37 == 0 plays
    the benchmark) at >= 20% of their distinct trigrams.

    Scale shape: the eval side is a BENCHMARK — thousands of
    documents, not billions — so its distinct-gram set is broadcast
    and the 100 TB train side is never shuffled for the probe; the
    only shuffles are the per-doc distinct + counts, keyed by
    (doc_id, gram). This is the standard n-gram decontamination from
    the GPT-3/PaLM appendices, expressed as a broadcast semi-probe."""
    d = t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism  # single-file scan
    )
    ws = F.filter(
        F.split(F.trim(F.lower("text")), " "), lambda x: x != F.lit("")
    )

    def grams(sub):
        return sub.select("doc_id", ws.alias("ws")).select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(ws) - 3),"
                    " i -> concat_ws(' ', ws[i], ws[i + 1], ws[i + 2]))"
                )
            ).alias("gram"),
        ).distinct()

    # gram the two sides from their own filtered scans: the eval side
    # only ever shingles its 1/37 slice (a benchmark is small by
    # construction), instead of filtering a full-corpus gram pipeline
    # computed twice (broadcast job + probe job)
    eval_grams = (
        grams(d.filter(F.col("doc_id") % 37 == 0)).select("gram").distinct()
    )
    train = grams(d.filter(F.col("doc_id") % 37 != 0))
    sz = train.groupBy("doc_id").agg(F.count("*").alias("n_grams"))
    hits = (
        train.join(F.broadcast(eval_grams), "gram")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_overlap"))
    )
    return (
        hits.join(sz, "doc_id")
        .select(
            "doc_id",
            "n_overlap",
            "n_grams",
            (F.col("n_overlap") / F.col("n_grams")).alias("overlap_ratio"),
        )
        .filter(F.col("overlap_ratio") >= 0.2)
    )


@query(
    "text_repetition_ratio",
    oracle="""
    WITH w AS (SELECT doc_id,
                      list_filter(string_split(trim(lower(text)), ' '),
                                  x -> x <> '') AS ws
               FROM documents),
    g AS (SELECT doc_id, ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] AS gram
          FROM w, unnest(range(len(ws)-2)) AS u(i)),
    per AS (SELECT doc_id, gram, count(*) AS c FROM g GROUP BY 1, 2),
    agg AS (SELECT doc_id,
                   CAST(sum(c) AS BIGINT) AS n_grams,
                   CAST(count(*) AS BIGINT) AS n_distinct,
                   CAST(max(c) AS BIGINT) AS top_count
            FROM per GROUP BY 1)
    SELECT doc_id, n_grams, n_distinct,
           1.0 - n_distinct / n_grams AS dup_gram_ratio,
           top_count / n_grams AS top_gram_frac
    FROM agg
    """,
    tags=("text", "llm", "quality"),
)
def text_repetition_ratio(spark, sf_dir):
    """Gopher-style repetition quality rule: per document, the
    fraction of word trigrams that are duplicates
    (1 - distinct/total) and the share of the single most frequent
    trigram. Boilerplate/template pages score high on both.

    Two hash aggs — (doc_id, gram) then doc_id — both map-side
    combinable; the shuffled payload is counts, never text. The
    int/int divisions are bit-exact in IEEE double on both engines."""
    d = t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism  # single-file scan
    )
    ws = F.filter(
        F.split(F.trim(F.lower("text")), " "), lambda x: x != F.lit("")
    )
    per = (
        d.select("doc_id", ws.alias("ws"))
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(ws) - 3),"
                    " i -> concat_ws(' ', ws[i], ws[i + 1], ws[i + 2]))"
                )
            ).alias("gram"),
        )
        .groupBy("doc_id", "gram")
        .agg(F.count("*").alias("c"))
    )
    agg = per.groupBy("doc_id").agg(
        F.sum("c").alias("n_grams"),
        F.count("*").alias("n_distinct"),
        F.max("c").alias("top_count"),
    )
    return agg.select(
        "doc_id",
        "n_grams",
        "n_distinct",
        (F.lit(1.0) - F.col("n_distinct") / F.col("n_grams")).alias(
            "dup_gram_ratio"
        ),
        (F.col("top_count") / F.col("n_grams")).alias("top_gram_frac"),
    )


@query(
    "dedup_survivorship",
    oracle="""
    WITH RECURSIVE w AS (
      SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents
    ),
    sh AS (SELECT DISTINCT doc_id,
                  ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] AS g
           FROM w, unnest(range(len(ws)-2)) AS t(i)),
    sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
      FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT id_a, id_b FROM inter
      JOIN sz sa ON sa.doc_id = id_a
      JOIN sz sb ON sb.doc_id = id_b
      WHERE CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter) >= 0.5
    ),
    edges AS (SELECT id_a AS u, id_b AS v FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
    reach(n, m) AS (
      SELECT u, u FROM edges
      UNION
      SELECT r.n, e.v FROM reach r JOIN edges e ON r.m = e.u
    ),
    lab AS (SELECT n AS node, min(m) AS comp FROM reach GROUP BY n),
    ranked AS (
      SELECT lab.comp, lab.node, d.n_chars,
             row_number() OVER (PARTITION BY lab.comp
                                ORDER BY d.n_chars DESC, lab.node) AS rn
      FROM lab JOIN documents d ON d.doc_id = lab.node
    )
    SELECT comp,
           CAST(max(CASE WHEN rn = 1 THEN node END) AS BIGINT) AS keep_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(*) - 1 AS BIGINT) AS n_dropped
    FROM ranked GROUP BY comp
    """,
    tags=("llm", "dedup", "cluster", "survivorship"),
)
def dedup_survivorship(spark, sf_dir):
    """The dedup DECISION stage: per near-dup cluster (connected
    components over the exact trigram-Jaccard edges), keep the
    highest-quality document (quality = n_chars here, any scoring
    column works; ties break on doc_id) and count the drops — the
    mapping a pipeline applies as an anti-join before training.

    Scale shape: clusters come from the distributed CC operator; the
    keeper pick is one row_number window partitioned by cluster —
    cluster-sized partitions, never corpus-sized."""
    from pyspark.sql import Window

    from gcp_etl_spark.llm.cluster import connected_components
    from gcp_etl_spark.queries.llm_ops import _ngram_jaccard_pairs

    pairs = _ngram_jaccard_pairs(spark, sf_dir, df_cap=None)
    cc = connected_components(pairs, src="id_a", dst="id_b")
    d = t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    ranked = cc.join(d, cc.node == d.doc_id).select(
        "comp", "node", "n_chars"
    )
    w = Window.partitionBy("comp").orderBy(
        F.desc("n_chars"), F.col("node")
    )
    ranked = ranked.withColumn("rn", F.row_number().over(w))
    return ranked.groupBy("comp").agg(
        F.max(F.when(F.col("rn") == 1, F.col("node"))).alias("keep_id"),
        F.count("*").alias("n_docs"),
        (F.count("*") - 1).alias("n_dropped"),
    )


# Sequence-packing geometry: greedy document packing into fixed
# token-budget training bins (mirrored in the oracle).
_PACK_BUDGET = 512


@query(
    "pack_sequences_budget",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang,
             len(list_filter(string_split(trim(lower(text)), ' '),
                             x -> x <> '')) AS n_toks
      FROM documents
    ),
    runs AS (
      SELECT doc_id, lang, n_toks,
             sum(n_toks) OVER (PARTITION BY lang ORDER BY doc_id
                               ROWS UNBOUNDED PRECEDING) - n_toks
               AS cum_before
      FROM toks
    )
    SELECT lang, CAST(cum_before // {_PACK_BUDGET} AS BIGINT) AS bin,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_toks) AS BIGINT) AS sum_tokens,
           CAST(min(doc_id) AS BIGINT) AS first_doc
    FROM runs
    GROUP BY 1, 2
    """,
    tags=("llm", "packing", "window"),
)
def pack_sequences_budget(spark, sf_dir):
    """Sequence packing: assign documents (per language, in stable
    doc_id order) to fixed 512-token training bins by the running
    token count — the pretraining prep step that turns a deduped
    corpus into fixed-length batches. bin = floor(tokens_before /
    budget), the deterministic closed form of greedy packing.

    Scale shape: one window running sum per language partition (the
    natural sharding key of a multilingual corpus) and one hash agg;
    token counts ride the shuffle, text never does. At 100 TB the
    per-language partitions sub-shard by the same value-bucket
    two-level prefix scan as operators/range_frame.py."""
    from pyspark.sql import Window

    d = t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        "lang",
        F.size(
            F.filter(
                F.split(F.trim(F.lower("text")), " "),
                lambda x: x != F.lit(""),
            )
        ).alias("n_toks"),
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    runs = toks.withColumn(
        "cum_before", F.sum("n_toks").over(w) - F.col("n_toks")
    )
    return (
        runs.withColumn(
            "bin",
            F.floor(F.col("cum_before") / _PACK_BUDGET).cast("long"),
        )
        .groupBy("lang", "bin")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_toks").alias("sum_tokens"),
            F.min("doc_id").alias("first_doc"),
        )
    )


# ---------------------------------------------------------------- DSIR
_DSIR_BUCKETS = 256
_DSIR_TARGET_LANG = "en"


@query(
    "dsir_importance_weights",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang,
             list_filter(string_split(lower(text), ' '), x -> x <> '') AS ws
      FROM documents
    ), grams AS (
      SELECT doc_id, lang, ws[i+1] || ' ' || ws[i+2] AS g
      FROM toks, unnest(range(len(ws) - 1)) AS u(i)
      WHERE len(ws) >= 2
    ), bkt AS (
      SELECT doc_id, lang,
             CAST(CAST(('0x' || substr(md5(g), 1, 8)) AS UBIGINT) AS BIGINT)
               % {_DSIR_BUCKETS} AS bucket
      FROM grams
    ), doc_cnt AS (
      SELECT doc_id, bucket, count(*) AS cnt FROM bkt GROUP BY 1, 2
    ), src AS (
      SELECT bucket, count(*) AS cs FROM bkt GROUP BY 1
    ), tgt AS (
      SELECT bucket, count(*) AS ct
      FROM bkt WHERE lang = '{_DSIR_TARGET_LANG}' GROUP BY 1
    ), tots AS (
      SELECT (SELECT count(*) FROM bkt) AS ns,
             (SELECT count(*) FROM bkt
              WHERE lang = '{_DSIR_TARGET_LANG}') AS nt
    ), terms AS (
      SELECT s.bucket,
             CAST(round(ln(
                 ((COALESCE(tg.ct, 0) + 1.0) / (tots.nt + {_DSIR_BUCKETS}))
               / ((s.cs + 1.0) / (tots.ns + {_DSIR_BUCKETS}))
             ), 9) AS DECIMAL(18,9)) AS term
      FROM src s LEFT JOIN tgt tg USING (bucket) CROSS JOIN tots
    )
    SELECT doc_id,
           CAST(sum(cnt) AS BIGINT) AS n_bigrams,
           round(CAST(sum(CAST(cnt AS DECIMAL(9,0)) * term) AS DOUBLE), 6)
             AS weight
    FROM doc_cnt JOIN terms USING (bucket)
    GROUP BY doc_id
    ORDER BY weight DESC, doc_id
    LIMIT 50
    """,
    tags=("llm", "data-selection", "dsir", "text"),
)
def dsir_importance_weights(spark, sf_dir):
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling", public): score every
    raw document by how much its hashed-n-gram profile looks like the
    TARGET distribution — weight(doc) = Σ_b cnt_b · ln(p_target(b) /
    p_raw(b)) over 256 hashed-bigram buckets with Laplace
    smoothing. Target here: the ``lang = 'en'`` slice; raw: the whole
    corpus. Top-50 docs by weight are the importance-resampling picks.

    Determinism: the bucket log-ratio is rounded to 9 dp and summed as
    DECIMAL (exact, order-free), so per-doc weights are identical in
    both engines regardless of partitioning.

    Scale: documents stream once into (doc_id, bucket) counts; the two
    bucket distributions are 256-row relations (broadcast);
    the per-doc weight is a map-side-combinable hash agg. Nothing
    driver-side, no shuffle carries text."""
    d = t(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.lower("text"), " "), lambda x: x != "")
    grams = d.select(
        "doc_id", "lang", toks.alias("toks")
    ).select(
        "doc_id",
        "lang",
        F.explode(
            F.when(
                F.size("toks") >= 2,
                F.expr(
                    "transform(sequence(0, size(toks) - 2),"
                    " i -> concat(toks[i], ' ', toks[i+1]))"
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("g"),
    )
    bkt = grams.select(
        "doc_id",
        "lang",
        (md5_draw("g") % _DSIR_BUCKETS).alias("bucket"),
    )
    doc_cnt = bkt.groupBy("doc_id", "bucket").agg(F.count("*").alias("cnt"))
    src = bkt.groupBy("bucket").agg(F.count("*").alias("cs"))
    tgt = (
        bkt.filter(F.col("lang") == _DSIR_TARGET_LANG)
        .groupBy("bucket")
        .agg(F.count("*").alias("ct"))
    )
    tots = bkt.agg(
        F.count("*").alias("ns"),
        F.count(
            F.when(F.col("lang") == _DSIR_TARGET_LANG, 1)
        ).alias("nt"),
    )
    ratio = (
        (F.coalesce(F.col("ct"), F.lit(0)) + 1.0)
        / (F.col("nt") + _DSIR_BUCKETS)
    ) / ((F.col("cs") + 1.0) / (F.col("ns") + _DSIR_BUCKETS))
    terms = (
        src.join(tgt, "bucket", "left")
        .crossJoin(F.broadcast(tots))
        .select(
            "bucket",
            # (18,9) x (9,0) multiply stays within precision 38 so the
            # product keeps scale 9 EXACTLY on both engines — at
            # (28,9) x bigint Spark's precision-loss rule truncated the
            # product scale to 6dp and the weights drifted ~1e-6
            F.round(F.log(ratio), 9).cast("decimal(18,9)").alias("term"),
        )
    )
    return (
        doc_cnt.join(F.broadcast(terms), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("long").alias("n_bigrams"),
            F.round(
                F.sum(
                    F.col("cnt").cast("decimal(9,0)") * F.col("term")
                ).cast("double"),
                6,
            ).alias("weight"),
        )
        .orderBy(F.col("weight").desc(), "doc_id")
        .limit(50)
    )


# -------------------------------------------- temperature mix sampling

# alpha = 0.5 → p_s ∝ sqrt(n_s) (the mT5 / XLM-R temperature value)
_TEMP_SAMPLE_N = 300


@query(
    "mix_temperature_sampling",
    oracle=f"""
    WITH cnt AS (SELECT source, count(*) AS n FROM documents GROUP BY 1),
    c2 AS (
      SELECT source, n,
             CAST(round(sqrt(CAST(n AS DOUBLE)), 9) AS DECIMAL(28,9)) AS sq
      FROM cnt
    ), tot AS (SELECT sum(sq) AS den FROM c2),
    q AS (
      SELECT source,
             CAST(floor({_TEMP_SAMPLE_N}
               * (CAST(sq AS DOUBLE) / CAST(den AS DOUBLE))) AS BIGINT)
               AS quota,
             round(CAST(sq AS DOUBLE) / CAST(den AS DOUBLE), 6) AS share
      FROM c2 CROSS JOIN tot
    ), ranked AS (
      SELECT source, doc_id,
             row_number() OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
             ) AS pick_rank
      FROM documents
    )
    SELECT r.source, r.doc_id, r.pick_rank, q.quota, q.share
    FROM ranked r JOIN q USING (source)
    WHERE r.pick_rank <= q.quota
    """,
    tags=("llm", "mixture", "sampling"),
)
def mix_temperature_sampling(spark, sf_dir):
    """TEMPERATURE-SCALED source sampling (the mT5/XLM-R alpha-
    sampling scheme, public): draw a 300-doc mixture with
    per-source probability p_s ∝ n_s^0.5 — upweights small sources
    relative to proportional sampling without letting any source
    dominate. The actual picks are DETERMINISTIC: per-source
    md5(doc_id) hash order (a reproducible uniform permutation), first
    ``quota = floor(N·p_s)`` docs win.

    Determinism: per-source sqrt(n) is rounded to 9 dp and
    decimal-summed, so the denominator (and hence every quota) is
    exact and order-free in both engines; sqrt itself is IEEE
    correctly-rounded everywhere.

    Scale: the mixture algebra is a |sources|-row relation; the picks
    are one window over (source) in hash order — a single shuffle of
    (source, doc_id, hash), never text. The complement of
    ``corpus_mix_rebalance`` (which plans weights; this one executes a
    draw)."""
    d = t(spark, sf_dir, "documents")
    cnt = d.groupBy("source").agg(F.count("*").alias("n"))
    c2 = cnt.select(
        "source",
        F.round(F.sqrt(F.col("n").cast("double")), 9)
        .cast("decimal(28,9)")
        .alias("sq"),
    )
    tot = c2.agg(F.sum("sq").alias("den"))
    share = F.col("sq").cast("double") / F.col("den").cast("double")
    q = c2.crossJoin(F.broadcast(tot)).select(
        "source",
        F.floor(F.lit(_TEMP_SAMPLE_N) * share).cast("long").alias("quota"),
        F.round(share, 6).alias("share"),
    )
    ranked = d.select(
        "source",
        "doc_id",
        F.row_number()
        .over(
            Window.partitionBy("source").orderBy(
                F.md5(F.col("doc_id").cast("string")), "doc_id"
            )
        )
        .cast("long")
        .alias("pick_rank"),
    )
    return (
        ranked.join(F.broadcast(q), "source")
        .filter(F.col("pick_rank") <= F.col("quota"))
        .select("source", "doc_id", "pick_rank", "quota", "share")
    )


# ------------------------------------------- packing padding waste
_PAD_LENGTHS = (128, 256, 512, 1024)


@query(
    "pack_padding_waste",
    oracle=f"""
    WITH toks AS (
      SELECT len(list_filter(string_split(trim(lower(text)), ' '),
                             x -> x <> '')) AS n_toks
      FROM documents
    ),
    l AS (SELECT unnest([{", ".join(str(x) for x in _PAD_LENGTHS)}]) AS seq_len)
    SELECT seq_len,
           CAST(sum(n_toks) AS BIGINT) AS real_tokens,
           CAST(sum(ceil(n_toks * 1.0 / seq_len) * seq_len) AS BIGINT)
             AS padded_tokens,
           round(1.0 - sum(n_toks)
                 / CAST(sum(ceil(n_toks * 1.0 / seq_len) * seq_len)
                        AS DOUBLE), 6) AS waste_frac
    FROM toks CROSS JOIN l
    GROUP BY seq_len ORDER BY seq_len
    """,
    tags=("llm", "prep", "packing", "planning"),
)
def pack_padding_waste(spark, sf_dir):
    """PADDING-WASTE PLANNER — pick the training sequence length
    BEFORE materializing packed shards: for each candidate seq_len,
    the fraction of padded-batch tokens that would be padding if every
    document were chunk-padded to seq_len multiples (no cross-doc
    packing). Read next to ``pack_sequences_budget`` (which measures
    the greedy-packing alternative): the gap between this table's
    waste and the packer's residuals is the payoff that justifies the
    packing shuffle at 100 TB.

    Scale: ONE scan computes token counts; the x|lengths| fan-out is a
    broadcast literal cross join collapsed map-side into 4 running
    sums — same single-pass sweep shape as the PR curve."""
    d = t(spark, sf_dir, "documents")
    toks = d.select(
        F.size(
            F.filter(
                F.split(F.trim(F.lower("text")), " "), lambda x: x != ""
            )
        ).alias("n_toks")
    )
    lens = F.explode(
        F.array(*[F.lit(x) for x in _PAD_LENGTHS])
    ).alias("seq_len")
    return (
        toks.select("n_toks", lens)
        .groupBy("seq_len")
        .agg(
            F.sum("n_toks").alias("real_tokens"),
            F.sum(
                F.ceil(F.col("n_toks") / F.col("seq_len")) * F.col("seq_len")
            ).alias("padded_tokens"),
            F.round(
                F.lit(1.0)
                - F.sum("n_toks")
                / F.sum(
                    F.ceil(F.col("n_toks") / F.col("seq_len"))
                    * F.col("seq_len")
                ).cast("double"),
                6,
            ).alias("waste_frac"),
        )
        .orderBy("seq_len")
    )


# ------------------------------------- bloom-prefiltered decontamination
_BLOOM_EVAL_SRC = "src0"
_BLOOM_N = 5  # n-gram width
_BLOOM_TOPK = 20


@query(
    "decontaminate_bloom_verified",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, source,
             list_filter(string_split(lower(text), ' '), x -> x <> '') AS ws
      FROM documents
    ),
    g AS (
      SELECT DISTINCT doc_id, source,
             ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' '
               || ws[i+4] || ' ' || ws[i+5] AS g
      FROM d, unnest(range(len(ws) - {_BLOOM_N - 1})) AS t(i)
    ),
    ev AS (SELECT DISTINCT g FROM g WHERE source = '{_BLOOM_EVAL_SRC}'),
    hits AS (
      SELECT c.doc_id, count(*) AS n_contaminated_ngrams
      FROM g c JOIN ev ON c.g = ev.g
      WHERE c.source <> '{_BLOOM_EVAL_SRC}'
      GROUP BY 1
    )
    SELECT doc_id, CAST(n_contaminated_ngrams AS BIGINT)
             AS n_contaminated_ngrams
    FROM hits
    ORDER BY n_contaminated_ngrams DESC, doc_id LIMIT {_BLOOM_TOPK}
    """,
    tags=("llm", "decontamination", "bloom", "scale"),
)
def decontaminate_bloom_verified(spark, sf_dir):
    """BLOOM-PREFILTERED DECONTAMINATION (the Lee et al. / eval-leak
    audit pattern at its production shape): the eval set's distinct
    {_BLOOM_N}-grams build a deterministic broadcast Bloom filter
    (operators/bloom.py, 1% fpp); the training corpus's n-grams probe
    it Arrow-batched, and only the survivors (a ~1%-inflated superset
    of true matches) reach the EXACT verification join — whose output
    therefore equals the exact-join result bit-for-bit (no false
    negatives), which is what lets a DuckDB oracle gate a sketch-
    accelerated plan. Reports the {_BLOOM_TOPK} most-contaminated
    training documents.

    Scale: the filter is fixed-size (m ≈ 9.6 bits/member at 1% fpp)
    versus broadcasting the full n-gram set (~8+ bytes/member hashed,
    more as strings); the exact join then runs on ~1% of the corpus
    n-grams instead of all of them — the same trade Spark's runtime
    bloom join makes, here as an explicit reusable operator."""
    from gcp_etl_spark.operators.bloom import (
        bloom_parameters,
        build_bloom,
        might_contain_udf,
    )

    # r13 sf1.0 scaling probe (t8/t32 = 1.10): the single-file corpus
    # scan gives the tokenize + 5-gram explode 1-2 partitions, so gram
    # construction ran nearly serially before the distinct's exchange;
    # spread it first (guide §2.5 — repartition immediately after the
    # read; defaultParallelism keeps it scale-adaptive)
    d = (
        t(spark, sf_dir, "documents")
        .repartition(spark.sparkContext.defaultParallelism)
        .select(
            "doc_id",
            "source",
            F.filter(F.split(F.lower("text"), " "), lambda x: x != "").alias(
                "ws"
            ),
        )
    )
    grams = F.expr(
        f"transform(sequence(0, size(ws) - {_BLOOM_N}),"
        " i -> concat_ws(' ', slice(ws, i + 1, " + str(_BLOOM_N) + ")))"
    )
    # checkpoint the tokenized n-gram relation ONCE: its consumers
    # (eval count, bloom build, candidate probe, verify join) would
    # otherwise each re-run the corpus tokenize+explode+distinct
    # (review finding: four corpus-scale passes where one will do)
    g = (
        d.filter(F.size("ws") >= _BLOOM_N)
        .select("doc_id", "source", F.explode(grams).alias("g"))
        .distinct()
        .transform(barrier)
    )
    ev = (
        g.filter(F.col("source") == _BLOOM_EVAL_SRC)
        .select("g")
        .distinct()
        .transform(barrier)
    )
    n_eval = ev.count()
    m, k = bloom_parameters(n_eval, fpp=0.01)
    bits = build_bloom(ev, "g", m, k)
    probe = might_contain_udf(bits, k)
    corpus = g.filter(F.col("source") != _BLOOM_EVAL_SRC)
    candidates = corpus.filter(probe(F.col("g")))
    verified = candidates.join(ev, "g")  # removes bloom false positives
    return (
        verified.groupBy("doc_id")
        .agg(F.count("*").alias("n_contaminated_ngrams"))
        .orderBy(F.desc("n_contaminated_ngrams"), "doc_id")
        .limit(_BLOOM_TOPK)
    )
