"""Text analysis queries over the documents table
(SURVEY.md §2B "LLM-data-pipeline operators" — text analysis).

All JVM-side expressions (explode/split/regexp/md5); word-count's
explode is the only row-expanding op and aggregates map-side before
its shuffle.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from gcp_etl_spark.functions.bpe import DEFAULT_MERGES, encode_vocab
from gcp_etl_spark.functions.hashing import md5_draw
from gcp_etl_spark.functions.text import (
    STOPWORDS,
    fingerprint,
    normalize_text,
    quality_features,
    rolling_hash,
)
from gcp_etl_spark.operators.barrier import barrier
from gcp_etl_spark.queries.registry import query
from gcp_etl_spark.tables import t

R = lambda c, n=4: F.round(c, n)  # noqa: E731


@query(
    "text_wordcount",
    oracle="""
    WITH words AS (
      SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents
    )
    SELECT word, count(*) AS cnt FROM words
    WHERE word <> ''
    GROUP BY word
    ORDER BY cnt DESC, word LIMIT 50
    """,
    tags=("text", "aggregate"),
)
def text_wordcount(spark, sf_dir):
    """Classic tokenize → explode → count, top-50."""
    d = t(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.split(F.lower("text"), " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("word"))
        .limit(50)
    )


@query(
    "text_quality",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, text,
             list_filter(string_split(trim(text), ' '), x -> x <> '') AS tokens
      FROM documents
    )
    SELECT doc_id,
           CAST(len(tokens) AS INT) AS n_tokens,
           length(regexp_replace(text, '\\s+', '', 'g'))
                 / len(tokens) AS avg_token_len,
           length(regexp_replace(lower(text), '[^a-z]', '', 'g'))
                 / length(text) AS alpha_ratio,
           len(list_filter(tokens,
                     x -> list_contains({list(STOPWORDS)}, lower(x))))
                 / len(tokens) AS stopword_ratio
    FROM toks
    """,
    tags=("text", "quality"),
)
def text_quality(spark, sf_dir):
    """Quality scoring: token count, mean token length, alphabetic
    ratio, stopword ratio (training-data filter features)."""
    d = t(spark, sf_dir, "documents")
    feats = quality_features(F.col("text"))
    return d.select(
        "doc_id",
        feats["n_tokens"].alias("n_tokens"),
        feats["avg_token_len"].alias("avg_token_len"),
        feats["alpha_ratio"].alias("alpha_ratio"),
        feats["stopword_ratio"].alias("stopword_ratio"),
    )


@query(
    "text_fingerprint",
    oracle="""
    WITH fp AS (
      SELECT doc_id,
             md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fp
      FROM documents
    )
    SELECT fp, count(*) AS n_copies, min(doc_id) AS keep_id
    FROM fp GROUP BY fp HAVING count(*) > 1
    """,
    tags=("text", "dedup", "fingerprint"),
)
def text_fingerprint(spark, sf_dir):
    """Document fingerprinting (md5 of normalized text) → duplicate
    clusters with a deterministic survivor."""
    d = t(spark, sf_dir, "documents")
    return (
        d.select("doc_id", fingerprint(F.col("text")).alias("fp"))
        .groupBy("fp")
        .agg(F.count("*").alias("n_copies"), F.min("doc_id").alias("keep_id"))
        .filter(F.col("n_copies") > 1)
    )


@query(
    "text_token_count_regex",
    oracle="""
    SELECT doc_id,
           CAST(len(regexp_extract_all(lower(text), '[a-z]+')) AS INT)  AS n_word_toks,
           CAST(len(regexp_extract_all(text, '[0-9]+')) AS INT)         AS n_num_toks,
           CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9\\s]')) AS INT) AS n_punct
    FROM documents
    """,
    tags=("text", "tokens"),
)
def text_token_count_regex(spark, sf_dir):
    """BPE-ish regex token counting (word / number / punctuation
    classes) — the cheap token-budget estimator."""
    d = t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.regexp_count(F.lower("text"), F.lit("[a-z]+")).alias("n_word_toks"),
        F.regexp_count(F.col("text"), F.lit("[0-9]+")).alias("n_num_toks"),
        F.regexp_count(F.col("text"), F.lit(r"[^a-zA-Z0-9\s]")).alias("n_punct"),
    )


@query(
    "text_lang_profile",
    oracle="""
    SELECT lang, source, count(*) AS n_docs,
           avg(n_chars) AS avg_chars,
           CAST(min(n_chars) AS BIGINT) AS min_chars,
           CAST(max(n_chars) AS BIGINT) AS max_chars
    FROM documents GROUP BY lang, source
    """,
    tags=("text", "aggregate"),
)
def text_lang_profile(spark, sf_dir):
    """Corpus profile per (language, source) — the partition-planning
    query a 100 TB corpus runs before sharding by language."""
    d = t(spark, sf_dir, "documents")
    return d.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        F.avg("n_chars").alias("avg_chars"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


# Deterministic bilingual stopword sets for the language-ID heuristic
# (mirrored literally in the oracle SQL).
_EN_STOPS = ("the", "and", "of", "to", "a", "in", "is", "it")
_ES_STOPS = ("el", "la", "de", "que", "y", "en", "un", "es")


@query(
    "text_langid_heuristic",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang,
             list_filter(string_split(trim(lower(text)), ' '), x -> x <> '') AS tokens
      FROM documents
    ), scored AS (
      SELECT doc_id, lang,
             CAST(len(list_filter(tokens, x -> list_contains({list(_EN_STOPS)}, x)))
                  AS INT) AS en_hits,
             CAST(len(list_filter(tokens, x -> list_contains({list(_ES_STOPS)}, x)))
                  AS INT) AS es_hits
      FROM toks
    )
    SELECT doc_id, lang, en_hits, es_hits,
           CASE WHEN en_hits >= es_hits THEN 'en' ELSE 'es' END AS predicted
    FROM scored
    """,
    tags=("text", "langid"),
)
def text_langid_heuristic(spark, sf_dir):
    """N-gram/stopword language-ID heuristic: per-language stopword
    hit counts -> argmax (ties -> 'en'). The 100 TB shape: pure
    column expressions, no dictionary shuffle, no UDF."""
    d = t(spark, sf_dir, "documents")
    toks = F.filter(
        F.split(F.trim(F.lower("text")), " "), lambda x: x != F.lit("")
    )
    en = F.array(*[F.lit(w) for w in _EN_STOPS])
    es = F.array(*[F.lit(w) for w in _ES_STOPS])
    scored = d.select(
        "doc_id",
        "lang",
        F.size(F.filter(toks, lambda x: F.array_contains(en, x))).alias("en_hits"),
        F.size(F.filter(toks, lambda x: F.array_contains(es, x))).alias("es_hits"),
    )
    return scored.withColumn(
        "predicted",
        F.when(F.col("en_hits") >= F.col("es_hits"), "en").otherwise("es"),
    )


# (word, weight) sentiment lexicon — the EDBT'16 lexicon-join pattern
# (PAPERS.md); weights are ints so document scores sum exactly.
_LEXICON = [
    ("fast", 2), ("small", 1), ("merge", 1), ("query", 1),
    ("slow", -2), ("error", -2), ("filter", -1), ("scan", -1),
]


@query(
    "text_sentiment_lexicon",
    oracle=f"""
    WITH lex(word, weight) AS (
      VALUES {", ".join(f"('{w}', {x})" for w, x in _LEXICON)}
    ), words AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word
      FROM documents
    )
    SELECT doc_id,
           CAST(sum(weight) AS BIGINT) AS sentiment,
           count(*) AS n_hits
    FROM words JOIN lex USING (word)
    GROUP BY doc_id
    """,
    tags=("text", "sentiment", "join"),
)
def text_sentiment_lexicon(spark, sf_dir):
    """Sentiment scoring via lexicon join: explode tokens, broadcast
    the lexicon, sum integer weights per document."""
    d = t(spark, sf_dir, "documents")
    lex = spark.createDataFrame(_LEXICON, "word string, weight int")
    par = spark.sparkContext.defaultParallelism
    words = d.repartition(par).select(  # single-file scan -> parallelize explode
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("word")
    )
    return (
        words.join(F.broadcast(lex), "word")
        .groupBy("doc_id")
        .agg(
            F.sum("weight").alias("sentiment"),
            F.count("*").alias("n_hits"),
        )
    )


@query(
    "text_rolling_hash",
    oracle="""
    WITH norm AS (
      SELECT doc_id,
             string_split(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), '')
               AS chars
      FROM documents
    ), hashed AS (
      SELECT doc_id,
             CASE WHEN len(chars) > 0
                  THEN CAST(list_reduce(list_transform(chars, c -> ascii(c)),
                            (acc, x) -> CAST((CAST(acc AS BIGINT) * 31 + x)
                                             % 2147483647 AS INT)) AS BIGINT)
                  ELSE 0 END AS rhash
      FROM norm
    )
    SELECT rhash, count(*) AS n_docs, min(doc_id) AS first_doc
    FROM hashed GROUP BY rhash HAVING count(*) > 1
    """,
    tags=("text", "fingerprint", "dedup"),
)
def text_rolling_hash(spark, sf_dir):
    """Rolling-hash document fingerprinting (polynomial base-31 fold
    over normalized characters) -> duplicate clusters. Same fold
    structure on both engines -> identical 31-bit fingerprints."""
    d = t(spark, sf_dir, "documents")
    par = spark.sparkContext.defaultParallelism
    return (
        d.repartition(par)  # single-file scan; per-char fold is heavy
        .select("doc_id", rolling_hash(F.col("text")).alias("rhash"))
        .groupBy("rhash")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("first_doc"))
        .filter(F.col("n_docs") > 1)
    )


@query(
    "text_source_divergence",
    oracle="""
    WITH words AS (
      SELECT source, unnest(string_split(lower(text), ' ')) AS word
      FROM documents
    ), w AS (SELECT source, word FROM words WHERE word <> ''),
    sw AS (SELECT source, word, count(*) AS c FROM w GROUP BY 1, 2),
    st AS (SELECT source, sum(c) AS n_s FROM sw GROUP BY 1),
    ct AS (SELECT word, sum(c) AS c_t FROM sw GROUP BY 1),
    g  AS (SELECT sum(c) AS n FROM sw)
    SELECT source, CAST(n_s AS BIGINT) AS n_tokens,
           round(sum((c / n_s) * ln((c / n_s) / (c_t / n))), 6)
             AS kl_divergence
    FROM sw JOIN st USING (source) JOIN ct USING (word), g
    GROUP BY source, n_s
    """,
    tags=("text", "quality", "divergence"),
)
def text_source_divergence(spark, sf_dir):
    """Corpus drift: KL(P_source || P_corpus) over word distributions
    per source — the distribution-shift check a multi-source corpus
    runs before deciding mixing weights. Every source token exists in
    the corpus distribution by construction, so no zero-probability
    guard is needed.

    Scale shape: one explode -> (source, word) hash agg (map-side
    combinable; shuffles counts, never text), then a word-keyed join
    to corpus totals (vocabulary-sized, NOT corpus-sized) and a
    broadcastable per-source total. int/int probabilities are exact
    doubles on both engines; 6dp rounding absorbs ln/summation-order
    ulps."""
    d = t(spark, sf_dir, "documents")
    par = spark.sparkContext.defaultParallelism
    w = (
        d.repartition(par)  # single-file scan
        .select("source", F.explode(F.split(F.lower("text"), " ")).alias("word"))
        .filter(F.col("word") != "")
    )
    # lazy localCheckpoint (r12 resume, guide §1.2): sw — the one
    # corpus explode + hash agg — feeds the per-source totals, corpus
    # totals, grand total AND the scoring join; without the barrier it
    # re-expanded into all four (8 parquet scans / 30 exchanges in the
    # plan). Vocabulary × sources rows materialized.
    sw = w.groupBy("source", "word").agg(F.count("*").alias("c")).transform(barrier)
    st = sw.groupBy("source").agg(F.sum("c").alias("n_s"))
    ct = sw.groupBy("word").agg(F.sum("c").alias("c_t"))
    g = sw.agg(F.sum("c").alias("n"))
    p_s = F.col("c") / F.col("n_s")
    p_c = F.col("c_t") / F.col("n")
    return (
        sw.join(F.broadcast(st), "source")
        .join(ct, "word")
        .crossJoin(F.broadcast(g))
        .groupBy("source", "n_s")
        .agg(F.round(F.sum(p_s * F.log(p_s / p_c)), 6).alias("kl_divergence"))
        .select(
            "source",
            F.col("n_s").cast("long").alias("n_tokens"),
            "kl_divergence",
        )
    )


@query(
    "text_phrase_search",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents
    ),
    idx AS (
      SELECT doc_id, i AS pos, ws[i+1] AS word
      FROM toks, unnest(range(len(ws))) AS t(i)
    ),
    adj AS (
      SELECT a.doc_id, a.pos, a.word || ' ' || b.word AS bigram
      FROM idx a JOIN idx b
        ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
    ),
    top AS (
      SELECT bigram FROM adj GROUP BY bigram
      ORDER BY count(*) DESC, bigram LIMIT 1
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits,
           CAST(min(pos) AS INT) AS first_pos
    FROM adj JOIN top USING (bigram)
    GROUP BY doc_id
    """,
    tags=("text", "search", "join"),
)
def text_phrase_search(spark, sf_dir):
    """Positional inverted index + phrase query — the search-engine
    primitive: (word, doc, pos) postings, phrase matching as an
    adjacency SELF-JOIN on (doc, pos+1), probing for the corpus's most
    frequent bigram (deterministic count-then-lexicographic pick).

    Scale shape: the postings index shuffles once keyed by doc (the
    adjacency join co-locates on (doc_id, pos) with no extra
    exchange on the second side — same relation, reused scan); the
    phrase itself reaches the postings as a 1-row broadcast. A real
    search deployment persists the postings bucketed by word; the
    adjacency algebra is identical."""
    par = spark.sparkContext.defaultParallelism
    d = t(spark, sf_dir, "documents").repartition(par)
    # NOTE (r12 resume): barriers on idx and adj were tried and
    # MEASURED SLOWER (0.76-0.85 -> 1.13-1.28 s A/B) — the adjacency
    # self-join already reuses one exchange for both sides, and the
    # re-expanded branches overlapped on idle cores; reverted.
    idx = d.select(
        "doc_id",
        F.posexplode(F.split(F.lower("text"), " ")).alias("pos", "word"),
    )
    a = idx.alias("a")
    b = idx.alias("b")
    adj = a.join(
        b,
        (F.col("b.doc_id") == F.col("a.doc_id"))
        & (F.col("b.pos") == F.col("a.pos") + 1),
    ).select(
        F.col("a.doc_id").alias("doc_id"),
        F.col("a.pos").alias("pos"),
        F.concat_ws(" ", F.col("a.word"), F.col("b.word")).alias("bigram"),
    )
    top = (
        adj.groupBy("bigram")
        .agg(F.count("*").alias("c"))
        .orderBy(F.desc("c"), "bigram")
        .limit(1)
        .select("bigram")
    )
    return (
        adj.join(F.broadcast(top), "bigram")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_hits"),
            F.min("pos").cast("int").alias("first_pos"),
        )
    )


@query(
    "bpe_pair_merge_stats",
    oracle="""
    WITH words AS (
      SELECT w, count(*) AS freq FROM (
        SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents
      ) WHERE length(w) >= 2 GROUP BY w
    ),
    pairs AS (
      SELECT substr(w, CAST(i AS INT), 2) AS pair, freq
      FROM words, unnest(range(1, length(w))) t(i)
    )
    SELECT pair, CAST(sum(freq) AS BIGINT) AS n_occurrences
    FROM pairs GROUP BY pair
    ORDER BY n_occurrences DESC, pair LIMIT 20
    """,
    tags=("text", "llm", "tokenizer", "bpe"),
)
def bpe_pair_merge_stats(spark, sf_dir):
    """The BPE tokenizer-training step, distributed: corpus-wide
    adjacent symbol-pair frequencies at the character stage (the
    statistics the first merge rule is picked from). Pair counting
    runs over DISTINCT words weighted by word frequency — the corpus
    text collapses to its vocabulary before any per-character explode,
    so the expensive fan-out is O(|vocab| x word_len), not
    O(corpus tokens); only (pair, count) partials shuffle. Top-20
    merges with deterministic tie-break, hash-verified."""
    d = t(spark, sf_dir, "documents")
    words = (
        d.select(F.explode(F.split(F.lower("text"), " ")).alias("w"))
        .filter(F.length("w") >= 2)
        .groupBy("w")
        .agg(F.count("*").alias("freq"))
    )
    pairs = words.select(
        "freq",
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")
        ).alias("pair"),
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("freq").alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), "pair")
        .limit(20)
    )


@query(
    "text_pii_scrub",
    oracle=r"""
    WITH raw AS (
      SELECT source,
             text || ' contact user' || doc_id
                  || '@example.com ref +1-555-'
                  || lpad(CAST((doc_id * 7) % 10000 AS VARCHAR), 4, '0')
               AS payload
      FROM documents
    ),
    scrubbed AS (
      SELECT source, payload,
             regexp_replace(
               regexp_replace(payload,
                 '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
               '\+1-555-[0-9]{4}', '<PHONE>', 'g') AS clean,
             len(regexp_extract_all(payload,
                 '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS n_emails,
             len(regexp_extract_all(payload, '\+1-555-[0-9]{4}'))
               AS n_phones
      FROM raw
    )
    SELECT source, count(*) AS n_docs,
           CAST(sum(n_emails) AS BIGINT) AS emails_redacted,
           CAST(sum(n_phones) AS BIGINT) AS phones_redacted,
           CAST(sum(length(payload)) AS BIGINT) AS len_raw,
           CAST(sum(length(clean)) AS BIGINT) AS len_clean
    FROM scrubbed GROUP BY source
    """,
    tags=("text", "pii", "regex", "documents"),
)
def text_pii_scrub(spark, sf_dir):
    """PII redaction sweep — the compliance pass every training-data
    pipeline runs before anything ships: regex-scrub emails and phone
    numbers, report per-source match counts and byte deltas.

    The corpus is synthetic word soup with no organic PII, so each doc
    gets a deterministic PII suffix derived from its own doc_id (still
    purely a function of the input tables — both engines build the
    identical payload) and the scrubber is proven by the byte-exact
    hash on counts and redacted lengths.

    Scale: pure per-row map (regexp_replace / regexp_count are JVM
    codegen) + one hash agg on source — no extra shuffle, text never
    leaves the scan partition un-aggregated.
    """
    email_re = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
    phone_re = "\\+1-555-[0-9]{4}"
    d = t(spark, sf_dir, "documents")
    raw = d.select(
        "source",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com ref +1-555-"),
            F.lpad(((F.col("doc_id") * 7) % 10000).cast("string"), 4, "0"),
        ).alias("payload"),
    )
    scrubbed = raw.select(
        "source",
        F.length("payload").alias("len_raw"),
        F.regexp_count("payload", F.lit(email_re)).alias("n_emails"),
        F.regexp_count("payload", F.lit(phone_re)).alias("n_phones"),
        F.length(
            F.regexp_replace(
                F.regexp_replace("payload", email_re, "<EMAIL>"),
                phone_re,
                "<PHONE>",
            )
        ).alias("len_clean"),
    )
    return scrubbed.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_emails").alias("emails_redacted"),
        F.sum("n_phones").alias("phones_redacted"),
        F.sum("len_raw").alias("len_raw"),
        F.sum("len_clean").alias("len_clean"),
    )


VOCAB_TOP_K = 15


@query(
    "text_oov_rate",
    oracle=f"""
    WITH tok AS (
      SELECT lang, unnest(string_split(lower(text), ' ')) AS word
      FROM documents
    ),
    vocab AS (
      SELECT word FROM (
        SELECT word, count(*) AS c FROM tok GROUP BY word
        ORDER BY c DESC, word LIMIT {VOCAB_TOP_K}
      )
    )
    SELECT lang,
           count(*) AS total_tokens,
           count(*) FILTER (WHERE word NOT IN (SELECT word FROM vocab))
             AS oov_tokens,
           CAST(count(*) FILTER (
                  WHERE word NOT IN (SELECT word FROM vocab))
                AS DOUBLE) / count(*) AS oov_rate
    FROM tok GROUP BY lang
    """,
    tags=("text", "vocab", "oov", "documents"),
)
def text_oov_rate(spark, sf_dir):
    """Vocabulary-coverage / out-of-vocabulary rate: build the corpus
    top-K vocabulary (count desc, word asc tie-break — deterministic
    cut), then measure the per-language fraction of tokens outside it.
    The tokenizer-coverage health check run before committing to a
    vocab size.

    Scale: token counts shuffle on word (counts, never text); the
    K-row vocabulary is a TakeOrdered (no global sort) and broadcasts
    into the marking join; the final agg shuffles on lang only. The
    quotient is a single IEEE division of exact integer counts —
    bitwise identical cross-engine, emitted unrounded.
    """
    d = t(spark, sf_dir, "documents")
    tok = d.select(
        "lang", F.explode(F.split(F.lower("text"), " ")).alias("word")
    )
    vocab = (
        tok.groupBy("word")
        .agg(F.count("*").alias("c"))
        .orderBy(F.col("c").desc(), "word")
        .limit(VOCAB_TOP_K)
        .select("word", F.lit(True).alias("in_vocab"))
    )
    marked = tok.join(F.broadcast(vocab), "word", "left")
    oov = F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0))
    return marked.groupBy("lang").agg(
        F.count("*").alias("total_tokens"),
        oov.alias("oov_tokens"),
        (oov.cast("double") / F.count("*")).alias("oov_rate"),
    )


@query(
    "text_bigram_lm",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents
    ), idx AS (
      SELECT doc_id, i AS pos, ws[i+1] AS word
      FROM toks, unnest(range(len(ws))) AS t(i)
    ), bg AS (
      SELECT doc_id,
             lag(word) OVER (PARTITION BY doc_id ORDER BY pos) AS w1,
             word AS w2
      FROM idx
    ), bgn AS (
      SELECT doc_id, w1, w2 FROM bg WHERE w1 IS NOT NULL
    ), cb AS (
      SELECT w1, w2, count(*) AS c12 FROM bgn GROUP BY w1, w2
    ), cu AS (
      SELECT w1, count(*) AS c1 FROM bgn GROUP BY w1
    ), v AS (
      SELECT count(DISTINCT word) AS vsz FROM idx
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
           round(CAST(sum(CAST(ln((c12 + 1.0) / (c1 + vsz))
                               AS DECIMAL(18,12))) AS DOUBLE)
                 / CAST(count(*) AS DOUBLE), 6) AS avg_logprob
    FROM bgn JOIN cb USING (w1, w2) JOIN cu USING (w1) CROSS JOIN v
    GROUP BY doc_id
    """,
    tags=("text", "lm", "llm-prep", "documents"),
)
def text_bigram_lm(spark, sf_dir):
    """Bigram language-model self-scoring: train add-one-smoothed
    bigram statistics on the corpus, then score every document by its
    average log P(w_t | w_{t-1}) — the per-doc corpus-perplexity
    signal used to filter training data (low avg_logprob = atypical /
    noisy text).

    FP determinism: each log term is a single libm op on the same
    rational (c12+1)/(c1+V), cast to decimal(18,12) so per-doc sums
    are order-independent; the final divide and round are IEEE on
    identical operands.

    Scale: bigram extraction is a lag window keyed by doc (one
    shuffle); the count tables shuffle on bigram/unigram keys — when
    the vocabulary is bounded they become broadcasts; V is a 1-row
    cross join. No driver-side state anywhere.
    """
    par = spark.sparkContext.defaultParallelism
    docs = t(spark, sf_dir, "documents").repartition(par)
    # lazy localCheckpoint (r12 resume, guide §1.2): idx feeds the
    # bigram window AND the vocabulary count, and bgn feeds the two
    # count tables AND the scoring join — without the barriers the
    # scan + posexplode (+ lag window) re-expanded into every consumer
    # (8 parquet scans / 28 exchanges in one plan). The count-table
    # joins keep their runtime broadcast conversion through AQE's
    # materialized shuffle stats, which do not depend on the source
    # stats the barrier drops.
    idx = docs.select(
        "doc_id",
        F.posexplode(F.split(F.lower("text"), " ")).alias("pos", "word"),
    ).transform(barrier)
    w = Window.partitionBy("doc_id").orderBy("pos")
    bgn = (
        idx.select(
            "doc_id",
            F.lag("word").over(w).alias("w1"),
            F.col("word").alias("w2"),
        )
        .filter(F.col("w1").isNotNull())
        .transform(barrier)
    )
    cb = bgn.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    cu = bgn.groupBy("w1").agg(F.count("*").alias("c1"))
    v = idx.agg(F.countDistinct("word").alias("vsz"))
    term = F.log(
        (F.col("c12") + 1.0) / (F.col("c1") + F.col("vsz"))
    ).cast("decimal(18,12)")
    return (
        bgn.join(cb, ["w1", "w2"])
        .join(cu, ["w1"])
        .crossJoin(F.broadcast(v))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(
                F.sum(term).cast("double") / F.count("*").cast("double"), 6
            ).alias("avg_logprob"),
        )
    )


WINNOW_K = 5  # char-gram width
WINNOW_W = 4  # winnowing window (grams per window)
# Position field width for the packed (hash, position) tie-break key.
# 21 bits = 2,097,152 gram positions (~2 MiB of normalized text per doc);
# h is 32 bits (8 md5 hex digits), so h*2^21 + pos <= 2^53 < 2^63 (BIGINT).
# Positions beyond the cap clamp to the cap: the decoded hash h — which is
# what carries the shared-substring => shared-fingerprint guarantee — stays
# exact for every position; only the rightmost-min tie-break degrades past
# 2 MiB, identically on both engines.
WINNOW_POS_BITS = 21
WINNOW_POS_CAP = 1 << WINNOW_POS_BITS


@query(
    "text_winnowing_fingerprint",
    oracle="""
    WITH norm AS (
      SELECT doc_id, regexp_replace(trim(lower(text)), '\\s+', ' ', 'g') AS s
      FROM documents
    ), posn AS (
      SELECT doc_id, s,
             unnest(range(1, greatest(length(s) - 4, 0) + 1)) AS pos
      FROM norm
    ), hashed AS (
      SELECT doc_id, pos,
             CAST(CAST(('0x' || substr(md5(substr(s, pos, 5)), 1, 8))
                       AS UBIGINT) AS BIGINT) AS h
      FROM posn
    ), keyed AS (
      SELECT doc_id, pos,
             h * 2097152 + (2097151 - least(pos, 2097151)) AS key,
             count(*) OVER (PARTITION BY doc_id) AS n_grams
      FROM hashed
    ), wins AS (
      SELECT doc_id, n_grams,
             min(key) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING)
               AS selkey
      FROM keyed
      QUALIFY pos <= n_grams - 3
    ), sel AS (
      SELECT DISTINCT doc_id, n_grams, selkey FROM wins
    ), rec AS (
      SELECT doc_id, n_grams,
             selkey >> 21 AS h, 2097151 - (selkey & 2097151) AS posr
      FROM sel
    )
    SELECT doc_id,
           CAST(max(n_grams) AS BIGINT) AS n_grams,
           CAST(count(*) AS BIGINT) AS n_selected,
           md5(string_agg(CAST(h AS VARCHAR), ',' ORDER BY posr)) AS fp
    FROM rec GROUP BY doc_id
    """,
    tags=("text", "fingerprint", "dedup"),
)
def text_winnowing_fingerprint(spark, sf_dir):
    """WINNOWING document fingerprinting (Schleimer/Wilkerson/Aiken,
    the MOSS algorithm): hash every k=5 char-gram of the normalized
    text, slide a w=4-gram window, and select each window's minimum
    hash (rightmost on ties) — guaranteeing any shared substring of
    length >= w + k - 1 between two documents yields a shared selected
    fingerprint, at ~2/(w+1) storage density.

    Rightmost-min tie-break is encoded arithmetically so one windowed
    ``min`` does the whole selection: key = h·2^21 + (2^21−1 −
    min(pos, 2^21−1)) minimizes h first, then maximizes pos — exact
    integer algebra, identical on both engines (gram hash = first 8
    md5 hex digits, engine-portable; 21 position bits cover ~2 MiB of
    text per doc, and positions beyond clamp so the decoded hash is
    never corrupted). Output: per-doc selected-fingerprint count and
    an order-canonical md5 digest of the selected hash sequence.

    Scale: grams live inside a per-doc codegen pipeline (explode →
    window keyed on doc_id — one shuffle on the doc key); selected
    fingerprints are the ~2/(w+1)-density artifact you'd persist and
    equi-join on fingerprint hash for cross-corpus plagiarism/overlap
    detection, never O(n²). Cited pattern: SNIPPETS.md winnowing
    discussion; reference has no text ops (NS extension).
    """
    k, w = WINNOW_K, WINNOW_W
    d = t(spark, sf_dir, "documents")
    par = spark.sparkContext.defaultParallelism
    norm = F.regexp_replace(F.trim(F.lower("text")), r"\s+", " ")
    n_g = F.greatest(F.length("s") - (k - 1), F.lit(0))
    posn = (
        d.repartition(par)
        .select("doc_id", norm.alias("s"))
        .select(
            "doc_id",
            "s",
            F.explode(
                F.when(n_g >= 1, F.sequence(F.lit(1), n_g)).otherwise(
                    F.array().cast("array<int>")
                )
            ).alias("pos"),
        )
    )
    gram = F.col("s").substr(F.col("pos"), F.lit(k))
    h = md5_draw(gram)
    pcap = F.lit(WINNOW_POS_CAP - 1)
    keyed = posn.select(
        "doc_id",
        "pos",
        (
            h * WINNOW_POS_CAP + (pcap - F.least(F.col("pos"), pcap))
        ).alias("key"),
        F.count("*").over(Window.partitionBy("doc_id")).alias("n_grams"),
    )
    wins = keyed.select(
        "doc_id",
        "n_grams",
        "pos",
        F.min("key")
        .over(Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, w - 1))
        .alias("selkey"),
    ).filter(F.col("pos") <= F.col("n_grams") - (w - 1))
    sel = wins.select("doc_id", "n_grams", "selkey").distinct()
    rec = sel.select(
        "doc_id",
        "n_grams",
        F.shiftright("selkey", WINNOW_POS_BITS).alias("h"),
        (
            F.lit(WINNOW_POS_CAP - 1)
            - F.col("selkey").bitwiseAND(F.lit(WINNOW_POS_CAP - 1))
        ).alias("posr"),
    )
    return rec.groupBy("doc_id").agg(
        F.max("n_grams").cast("long").alias("n_grams"),
        F.count("*").cast("long").alias("n_selected"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                F.col("posr").alias("p"), F.col("h").alias("h")
                            )
                        )
                    ),
                    lambda s: s["h"].cast("string"),
                ),
                ",",
            )
        ).alias("fp"),
    )


@query(
    "text_zipf_fit",
    oracle="""
    WITH words AS (
      SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents
    ), freq AS (
      SELECT word, count(*) AS f FROM words WHERE word <> '' GROUP BY word
    ), ranked AS (
      SELECT f, row_number() OVER (ORDER BY f DESC, word) AS r FROM freq
    ), pts AS (
      SELECT CAST(ln(CAST(r AS DOUBLE)) AS DECIMAL(18,12)) AS x,
             CAST(ln(CAST(f AS DOUBLE)) AS DECIMAL(18,12)) AS y,
             CAST(ln(CAST(r AS DOUBLE)) * ln(CAST(r AS DOUBLE))
                  AS DECIMAL(18,12)) AS xx,
             CAST(ln(CAST(r AS DOUBLE)) * ln(CAST(f AS DOUBLE))
                  AS DECIMAL(18,12)) AS xy
      FROM ranked WHERE r <= 200
    )
    SELECT CAST(count(*) AS BIGINT) AS n_points,
           round(-(
             (count(*) * CAST(sum(xy) AS DOUBLE)
              - CAST(sum(x) AS DOUBLE) * CAST(sum(y) AS DOUBLE))
             / (count(*) * CAST(sum(xx) AS DOUBLE)
                - CAST(sum(x) AS DOUBLE) * CAST(sum(x) AS DOUBLE))
           ), 6) AS zipf_exponent,
           round(
             (CAST(sum(y) AS DOUBLE)
              + ((count(*) * CAST(sum(xy) AS DOUBLE)
                  - CAST(sum(x) AS DOUBLE) * CAST(sum(y) AS DOUBLE))
                 / (count(*) * CAST(sum(xx) AS DOUBLE)
                    - CAST(sum(x) AS DOUBLE) * CAST(sum(x) AS DOUBLE)))
                * -CAST(sum(x) AS DOUBLE)) / count(*), 6) AS ln_c
    FROM pts
    """,
    tags=("text", "stats", "aggregate"),
)
def text_zipf_fit(spark, sf_dir):
    """Zipf's-law fit over the corpus word-frequency distribution:
    OLS of ln(frequency) on ln(rank) for the top-200 words gives the
    power-law exponent (natural corpora ~ 1.0) and intercept — the
    standard sanity diagnostic that a text corpus is natural-language-
    shaped rather than template spam (whose exponent collapses).

    FP determinism: ranks and frequencies are exact ints, each ln and
    product is one fixed IEEE chain mirrored operand-for-operand,
    terms go to decimal(18,12) so the regression sums are
    order-independent, and the closed-form slope/intercept arithmetic
    runs on bit-identical doubles; 6dp rounding absorbs the ulp.

    Scale: word counts hash-agg (counts shuffle, text doesn't); the
    ranked relation is vocabulary-sized and the top-200 window is a
    TakeOrdered-style cap, so the regression runs over <= 200 rows
    regardless of corpus size.
    """
    d = t(spark, sf_dir, "documents")
    freq = (
        d.select(F.explode(F.split(F.lower("text"), " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("f"))
    )
    ranked = freq.select(
        "f",
        F.row_number()
        .over(Window.orderBy(F.col("f").desc(), "word"))
        .alias("r"),
    ).filter(F.col("r") <= 200)
    x = F.log(F.col("r").cast("double"))
    y = F.log(F.col("f").cast("double"))
    pts = ranked.select(
        x.cast("decimal(18,12)").alias("x"),
        y.cast("decimal(18,12)").alias("y"),
        (x * x).cast("decimal(18,12)").alias("xx"),
        (x * y).cast("decimal(18,12)").alias("xy"),
    )
    n = F.count("*")
    sx = F.sum("x").cast("double")
    sy = F.sum("y").cast("double")
    sxx = F.sum("xx").cast("double")
    sxy = F.sum("xy").cast("double")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return pts.agg(
        n.cast("long").alias("n_points"),
        F.round(-slope, 6).alias("zipf_exponent"),
        F.round((sy + slope * -sx) / n, 6).alias("ln_c"),
    )


@query(
    "text_readability_flesch",
    oracle="""
    WITH feat AS (
      SELECT source,
             greatest(len(string_split(regexp_replace(trim(lower(text)),
                 '\\s+', ' ', 'g'), ' ')), 1) AS words,
             greatest(len(regexp_extract_all(text, '[.!?]')), 1) AS sents,
             greatest(len(regexp_extract_all(lower(text), '[aeiouy]+')), 1)
               AS syls
      FROM documents
    ), fre AS (
      SELECT source,
             206.835 - 1.015 * (words * 1.0 / sents)
                     - 84.6 * (syls * 1.0 / words) AS score,
             0.39 * (words * 1.0 / sents)
               + 11.8 * (syls * 1.0 / words) - 15.59 AS grade
      FROM feat
    )
    SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           round(avg(score), 4) AS avg_flesch,
           round(avg(grade), 4) AS avg_fk_grade
    FROM fre GROUP BY 1 ORDER BY 1
    """,
    tags=("text", "quality", "documents"),
)
def text_readability_flesch(spark, sf_dir):
    """FLESCH reading ease + FLESCH-KINCAID grade level per source:
    words from whitespace tokens, sentences from terminal-punctuation
    count, syllables from the classic vowel-group approximation
    ([aeiouy]+ runs) — the standard corpus-scale readability screen
    (syllable dictionaries don't exist at 100 TB; vowel groups are the
    accepted proxy). All three counts floor at 1 so fragments can't
    divide by zero.

    Scale: three regexp counters in one zero-shuffle projection, then
    a per-source rollup."""
    par = spark.sparkContext.defaultParallelism
    d = t(spark, sf_dir, "documents").repartition(par)
    # single-file doc scan -> 2 input splits; fan out to every core
    words = F.greatest(
        F.size(
            F.split(
                F.regexp_replace(F.trim(F.lower("text")), r"\s+", " "), " "
            )
        ),
        F.lit(1),
    )
    sents = F.greatest(
        F.size(F.expr("regexp_extract_all(text, '[.!?]', 0)")), F.lit(1)
    )
    syls = F.greatest(
        F.size(F.expr("regexp_extract_all(lower(text), '[aeiouy]+', 0)")),
        F.lit(1),
    )
    score = (
        206.835
        - 1.015 * (words * 1.0 / sents)
        - 84.6 * (syls * 1.0 / words)
    )
    grade = (
        0.39 * (words * 1.0 / sents) + 11.8 * (syls * 1.0 / words) - 15.59
    )
    return (
        d.select("source", score.alias("score"), grade.alias("grade"))
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.round(F.avg("score"), 4).alias("avg_flesch"),
            F.round(F.avg("grade"), 4).alias("avg_fk_grade"),
        )
        .orderBy("source")
    )


@query(
    "text_hapax_ratio",
    oracle="""
    WITH words AS (
      SELECT source, unnest(string_split(regexp_replace(trim(lower(text)),
               '\\s+', ' ', 'g'), ' ')) AS w
      FROM documents
    ), freq AS (
      SELECT source, w, count(*) AS f FROM words WHERE w <> '' GROUP BY 1, 2
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS vocab,
           CAST(count(*) FILTER (f = 1) AS BIGINT) AS hapax,
           CAST(count(*) FILTER (f = 2) AS BIGINT) AS dis_legomena,
           round(count(*) FILTER (f = 1) * 1.0 / count(*), 6) AS hapax_ratio
    FROM freq GROUP BY 1 ORDER BY 1
    """,
    tags=("text", "vocabulary", "documents"),
)
def text_hapax_ratio(spark, sf_dir):
    """HAPAX LEGOMENA profile per source: vocabulary size, words
    occurring exactly once (hapax) and exactly twice (dis legomena),
    and the hapax ratio — the classic productivity/quality signal
    (machine-generated or templated text shows a collapsed hapax
    ratio; natural prose sits near 40-60% by Zipf).

    Scale: one (source, word) hash aggregate — counts shuffle, text
    doesn't; the frequency-of-frequency rollup is vocabulary-sized."""
    par = spark.sparkContext.defaultParallelism
    d = t(spark, sf_dir, "documents").repartition(par)
    # single-file doc scan -> 2 input splits; fan out to every core
    words = d.select(
        "source",
        F.explode(
            F.filter(
                F.split(
                    F.regexp_replace(F.trim(F.lower("text")), r"\s+", " "),
                    " ",
                ),
                lambda w: w != F.lit(""),
            )
        ).alias("w"),
    )
    freq = words.groupBy("source", "w").agg(F.count("*").alias("f"))
    return (
        freq.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("vocab"),
            F.count(F.when(F.col("f") == 1, 1)).cast("long").alias("hapax"),
            F.count(F.when(F.col("f") == 2, 1))
            .cast("long")
            .alias("dis_legomena"),
            F.round(
                F.count(F.when(F.col("f") == 1, 1)) * 1.0 / F.count("*"), 6
            ).alias("hapax_ratio"),
        )
        .orderBy("source")
    )


@query(
    "text_burstiness",
    oracle="""
    WITH words AS (
      SELECT doc_id, unnest(string_split(regexp_replace(trim(lower(text)),
               '\\s+', ' ', 'g'), ' ')) AS w
      FROM documents
    ), percnt AS (
      SELECT w, doc_id, count(*) AS c FROM words WHERE w <> '' GROUP BY 1, 2
    ), nd AS (SELECT count(*) AS n FROM documents),
    stats AS (
      SELECT w, sum(c) AS total, sum(c * c) AS ss,
             count(*) AS df
      FROM percnt GROUP BY 1
    )
    SELECT w AS word, CAST(df AS BIGINT) AS doc_freq,
           CAST(total AS BIGINT) AS total_count,
           round((ss * 1.0 / (SELECT n FROM nd)
                  - pow(total * 1.0 / (SELECT n FROM nd), 2))
                 / (total * 1.0 / (SELECT n FROM nd)), 6) AS fano
    FROM stats WHERE df >= 20
    ORDER BY fano DESC, w LIMIT 15
    """,
    tags=("text", "vocabulary", "documents"),
)
def text_burstiness(spark, sf_dir):
    """WORD BURSTINESS (Fano factor var/mean of per-document counts,
    zeros included): topical words cluster in few documents (Fano >>
    1) while function words spread evenly (Fano ~ 1) — the Church/Gale
    burstiness signal used for keyword extraction and boilerplate
    screening. Var from power sums over the per-(word, doc) count
    relation; the all-docs zero mass enters through the corpus doc
    count without materializing zero rows.

    Scale: counts shuffle on (word, doc) then word — vocabulary-sized
    states; top-15 is TakeOrderedAndProject."""
    par = spark.sparkContext.defaultParallelism
    d = t(spark, sf_dir, "documents").repartition(par)
    # single-file doc scan -> 2 input splits; fan out to every core
    n_docs = d.count()
    words = d.select(
        "doc_id",
        F.explode(
            F.filter(
                F.split(
                    F.regexp_replace(F.trim(F.lower("text")), r"\s+", " "),
                    " ",
                ),
                lambda w: w != F.lit(""),
            )
        ).alias("w"),
    )
    percnt = words.groupBy("w", "doc_id").agg(F.count("*").alias("c"))
    stats = percnt.groupBy("w").agg(
        F.sum("c").alias("total"),
        F.sum(F.col("c") * F.col("c")).alias("ss"),
        F.count("*").alias("df"),
    )
    mean = F.col("total") * 1.0 / n_docs
    fano = (F.col("ss") * 1.0 / n_docs - mean * mean) / mean
    return (
        stats.filter(F.col("df") >= 20)
        .select(
            F.col("w").alias("word"),
            F.col("df").cast("long").alias("doc_freq"),
            F.col("total").cast("long").alias("total_count"),
            F.round(fano, 6).alias("fano"),
        )
        .orderBy(F.desc("fano"), "word")
        .limit(15)
    )


@query(
    "text_rake_keywords",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, generate_subscripts(ws, 1) AS pos, unnest(ws) AS w
      FROM (SELECT doc_id, string_split(regexp_replace(trim(lower(text)),
              '\\s+', ' ', 'g'), ' ') AS ws FROM documents)
    ), marked AS (
      SELECT doc_id, pos, w,
             CASE WHEN list_contains({list(STOPWORDS)}, w) OR w = ''
                  THEN 1 ELSE 0 END AS is_stop
      FROM toks
    ), islands AS (
      SELECT doc_id, pos, w,
             pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
               AS isl
      FROM marked WHERE is_stop = 0
    ), phrase_words AS (
      SELECT doc_id, isl, w, pos,
             count(*) OVER (PARTITION BY doc_id, isl) AS plen
      FROM islands
    ), word_scores AS (
      SELECT w, sum(plen) * 1.0 / count(*) AS score
      FROM phrase_words GROUP BY 1
    ), phrases AS (
      SELECT p.doc_id, p.isl,
             string_agg(p.w, ' ' ORDER BY p.pos) AS phrase,
             sum(s.score) AS pscore,
             max(p.plen) AS plen
      FROM phrase_words p JOIN word_scores s ON s.w = p.w
      GROUP BY 1, 2
    )
    SELECT phrase, CAST(count(*) AS BIGINT) AS n_occurrences,
           round(max(pscore), 6) AS rake_score
    FROM phrases WHERE plen >= 2
    GROUP BY 1
    ORDER BY rake_score DESC, phrase LIMIT 20
    """,
    tags=("text", "keywords", "documents"),
)
def text_rake_keywords(spark, sf_dir):
    """RAKE keyword extraction (Rose et al.): phrases are maximal runs
    of non-stopword tokens (stopwords and empty tokens delimit);
    word score = degree/frequency where degree sums the containing
    phrase's length over occurrences; phrase score sums its word
    scores. Top-20 multi-word phrases corpus-wide.

    The phrase segmentation is the gaps-and-islands trick: among
    non-stop tokens, pos - row_number() is constant exactly within a
    consecutive run — one window partitioned by doc, no iteration.

    Scale: windows partition by doc_id (parallel across docs); the
    word-score relation is vocabulary-sized and broadcasts into the
    phrase-score join; top-20 is TakeOrderedAndProject."""
    par = spark.sparkContext.defaultParallelism
    d = t(spark, sf_dir, "documents").repartition(par)
    # single-file doc scan -> 2 input splits; fan out to every core
    toks = d.select(
        "doc_id",
        F.posexplode(
            F.split(
                F.regexp_replace(F.trim(F.lower("text")), r"\s+", " "), " "
            )
        ).alias("pos0", "w"),
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "w")
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    nonstop = toks.filter(
        (~F.array_contains(stop_arr, F.col("w"))) & (F.col("w") != "")
    )
    isl = (
        F.col("pos")
        - F.row_number().over(
            Window.partitionBy("doc_id").orderBy("pos")
        )
    ).alias("isl")
    islands = nonstop.select("doc_id", "pos", "w", isl)
    # lazy localCheckpoint (r12 resume, guide §1.2): pw — the explode +
    # stopword filter + two windows — feeds the word-score aggregate
    # AND the phrase-score join; without the barrier it re-expanded
    # into both (4 parquet scans / 14 exchanges in the plan)
    pw = islands.withColumn(
        "plen", F.count("*").over(Window.partitionBy("doc_id", "isl"))
    ).transform(barrier)
    ws = pw.groupBy("w").agg(
        (F.sum("plen") * 1.0 / F.count("*")).alias("score")
    )
    phrases = (
        pw.join(F.broadcast(ws), "w")
        .groupBy("doc_id", "isl")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(F.col("pos").alias("p"), F.col("w").alias("w"))
                        )
                    ),
                    lambda s: s["w"],
                ),
                " ",
            ).alias("phrase"),
            F.sum("score").alias("pscore"),
            F.max("plen").alias("plen"),
        )
    )
    return (
        phrases.filter(F.col("plen") >= 2)
        .groupBy("phrase")
        .agg(
            F.count("*").cast("long").alias("n_occurrences"),
            F.round(F.max("pscore"), 6).alias("rake_score"),
        )
        .orderBy(F.desc("rake_score"), "phrase")
        .limit(20)
    )


@query(
    "text_char_bigram_entropy",
    oracle="""
    WITH norm AS (
      SELECT regexp_replace(trim(lower(text)), '\\s+', ' ', 'g') AS s
      FROM documents
    ), bg AS (
      SELECT substr(s, i, 2) AS xy, substr(s, i, 1) AS x
      FROM norm, unnest(range(1, greatest(length(s) - 1, 0) + 1)) t(i)
    ), cxy AS (
      SELECT xy, x, count(*) AS c FROM bg GROUP BY 1, 2
    ), cx AS (
      SELECT x, sum(c) AS cx FROM cxy GROUP BY 1
    ), tot AS (SELECT sum(c) AS n FROM cxy)
    SELECT CAST((SELECT n FROM tot) AS BIGINT) AS n_bigrams,
           CAST(count(*) AS BIGINT) AS n_distinct_bigrams,
           round(-sum((c * 1.0 / (SELECT n FROM tot))
                      * ln(c * 1.0 / cx.cx)), 6) AS cond_entropy_nats
    FROM cxy JOIN cx USING (x)
    """,
    tags=("text", "entropy", "documents"),
)
def text_char_bigram_entropy(spark, sf_dir):
    """CHARACTER-LEVEL conditional entropy H(next char | char) over
    the corpus — the order-1 entropy rate (Shannon's printed-English
    measurement): H = -sum p(xy) ln p(y|x) from bigram counts. Low
    values flag templated/repetitive corpora long before a dedup pass;
    natural English sits ~2.3-2.8 nats.

    Scale: bigram EXPANSION stays inside the per-doc projection
    (substr over an index sequence — zero joins); only (bigram, count)
    pairs shuffle, bounded by alphabet^2, and the entropy algebra runs
    over that tiny relation."""
    d = t(spark, sf_dir, "documents")
    norm = F.regexp_replace(F.trim(F.lower("text")), r"\s+", " ")
    # build the 2-char grams INSIDE the per-doc transform and explode
    # only those: exploding the position index instead would duplicate
    # the full document string into every bigram row (measured 9x
    # slower at sf1.0 — the intermediate carried |doc| bytes per gram)
    par = spark.sparkContext.defaultParallelism
    bg = (
        d.repartition(par)  # single-file doc scan -> use every core
        .select(norm.alias("s"))
        .select(
            F.explode(
                F.expr(
                    "if(length(s) >= 2,"
                    " transform(sequence(1, length(s) - 1),"
                    "  i -> substr(s, i, 2)),"
                    " array())"
                )
            ).alias("xy")
        )
        .select("xy", F.substring("xy", 1, 1).alias("x"))
    )
    cxy = bg.groupBy("xy", "x").agg(F.count("*").alias("c"))
    cx = cxy.groupBy("x").agg(F.sum("c").alias("cx"))
    tot = cxy.agg(F.sum("c").alias("n"))
    j = cxy.join(F.broadcast(cx), "x").crossJoin(F.broadcast(tot))
    return j.agg(
        F.first("n").cast("long").alias("n_bigrams"),
        F.count("*").cast("long").alias("n_distinct_bigrams"),
        F.round(
            -F.sum(
                (F.col("c") * 1.0 / F.col("n"))
                * F.log(F.col("c") * 1.0 / F.col("cx"))
            ),
            6,
        ).alias("cond_entropy_nats"),
    )


@query(
    "text_ngram_novelty",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(regexp_replace(trim(lower(text)),
               '\\s+', ' ', 'g'), ' ') AS ws
      FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id,
             ws[i + 1] || ' ' || ws[i + 2] || ' ' || ws[i + 3] AS g
      FROM toks, unnest(range(0, greatest(len(ws) - 2, 0))) t(i)
      WHERE len(ws) >= 3
    ), half AS (SELECT max(doc_id) / 2 AS mid FROM documents),
    old_g AS (
      SELECT DISTINCT g FROM sh WHERE doc_id <= (SELECT mid FROM half)
    ), new_sh AS (
      SELECT doc_id, g FROM sh WHERE doc_id > (SELECT mid FROM half)
    ), per_doc AS (
      SELECT n.doc_id, count(*) AS n_grams,
             count(*) FILTER (o.g IS NULL) AS n_novel
      FROM new_sh n LEFT JOIN old_g o ON o.g = n.g
      GROUP BY 1
    )
    SELECT CAST(count(*) AS BIGINT) AS n_new_docs,
           CAST(sum(n_grams) AS BIGINT) AS total_grams,
           CAST(sum(n_novel) AS BIGINT) AS novel_grams,
           round(sum(n_novel) * 1.0 / sum(n_grams), 6) AS novelty_rate,
           round(avg(n_novel * 1.0 / n_grams), 6) AS avg_doc_novelty
    FROM per_doc
    """,
    tags=("text", "dedup", "documents"),
)
def text_ngram_novelty(spark, sf_dir):
    """N-GRAM NOVELTY of the newer corpus half against the older half:
    the fraction of a new document's distinct trigrams never seen in
    any old document — the staleness/regurgitation monitor for
    incremental corpus refreshes (a crawl batch whose novelty rate
    collapses is re-crawling what you already have).

    Scale: old-half trigrams reduce to a DISTINCT shingle relation
    (vocabulary-sized); the novelty check is a hash-led LEFT join of
    new-half postings against it — counts shuffle, text doesn't. The
    incremental-crawl dual of decontaminate_ngram_overlap (which
    probes a broadcast eval set instead)."""
    par = spark.sparkContext.defaultParallelism
    d = t(spark, sf_dir, "documents").repartition(par)
    # single-file doc scan -> 2 input splits; fan out to every core
    toks = d.select(
        "doc_id", F.split(F.regexp_replace(F.trim(F.lower("text")), r"\s+", " "), " ").alias("ws")
    )
    sh = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "if(size(ws) >= 3,"
                " transform(sequence(0, size(ws) - 3),"
                "  i -> concat_ws(' ', ws[i], ws[i + 1], ws[i + 2])),"
                " array())"
            )
        ).alias("g"),
    ).distinct()
    mid = d.agg((F.max("doc_id") / 2).alias("mid"))
    shm = sh.crossJoin(F.broadcast(mid))
    old_g = shm.filter(F.col("doc_id") <= F.col("mid")).select("g").distinct()
    new_sh = shm.filter(F.col("doc_id") > F.col("mid")).select("doc_id", "g")
    per_doc = (
        new_sh.join(
            old_g.withColumn("seen", F.lit(1)), "g", "left"
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.count(F.when(F.col("seen").isNull(), 1)).alias("n_novel"),
        )
    )
    return per_doc.agg(
        F.count("*").cast("long").alias("n_new_docs"),
        F.sum("n_grams").cast("long").alias("total_grams"),
        F.sum("n_novel").cast("long").alias("novel_grams"),
        F.round(F.sum("n_novel") * 1.0 / F.sum("n_grams"), 6).alias(
            "novelty_rate"
        ),
        F.round(
            F.avg(F.col("n_novel") * 1.0 / F.col("n_grams")), 6
        ).alias("avg_doc_novelty"),
    )


@query(
    "text_langid_confusion",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang,
             list_filter(string_split(trim(lower(text)), ' '),
                         x -> x <> '') AS tokens
      FROM documents
    ), scored AS (
      SELECT lang,
             CASE WHEN len(list_filter(tokens,
                      x -> list_contains({list(_EN_STOPS)}, x)))
                  >= len(list_filter(tokens,
                      x -> list_contains({list(_ES_STOPS)}, x)))
                  THEN 'en' ELSE 'es' END AS predicted
      FROM toks
    ), cells AS (
      SELECT lang AS actual, predicted, count(*) AS n
      FROM scored GROUP BY 1, 2
    ), tot AS (
      SELECT sum(n) AS t,
             sum(n) FILTER (actual = predicted) AS correct
      FROM cells
    )
    SELECT actual, predicted, CAST(n AS BIGINT) AS n,
           round(n * 1.0 / sum(n) OVER (PARTITION BY actual), 6)
             AS row_rate,
           round((SELECT correct * 1.0 / t FROM tot), 6) AS accuracy
    FROM cells ORDER BY actual, predicted
    """,
    tags=("text", "langid", "evaluation", "documents"),
)
def text_langid_confusion(spark, sf_dir):
    """CONFUSION MATRIX for the stopword language-ID heuristic against
    the labeled lang column: per (actual, predicted) cell counts,
    row-normalized rates (recall per language), and overall accuracy —
    the evaluation query that turns text_langid_heuristic from a
    classifier into a MEASURED classifier (every curation filter needs
    its error rate known before it gates a corpus).

    Scale: per-row scoring expressions, one |langs|²-bounded
    aggregate, windows over that tiny relation."""
    d = t(spark, sf_dir, "documents")
    toks = F.filter(
        F.split(F.trim(F.lower("text")), " "), lambda x: x != F.lit("")
    )
    en = F.array(*[F.lit(w) for w in _EN_STOPS])
    es = F.array(*[F.lit(w) for w in _ES_STOPS])
    pred = F.when(
        F.size(F.filter(toks, lambda x: F.array_contains(en, x)))
        >= F.size(F.filter(toks, lambda x: F.array_contains(es, x))),
        "en",
    ).otherwise("es")
    cells = d.select(
        F.col("lang").alias("actual"), pred.alias("predicted")
    ).groupBy("actual", "predicted").agg(F.count("*").alias("n"))
    tot = cells.agg(
        F.sum("n").alias("t"),
        F.sum(
            F.when(F.col("actual") == F.col("predicted"), F.col("n"))
        ).alias("correct"),
    )
    return (
        cells.crossJoin(F.broadcast(tot))
        .select(
            "actual",
            "predicted",
            F.col("n").cast("long").alias("n"),
            F.round(
                F.col("n")
                * 1.0
                / F.sum("n").over(Window.partitionBy("actual")),
                6,
            ).alias("row_rate"),
            F.round(F.col("correct") * 1.0 / F.col("t"), 6).alias(
                "accuracy"
            ),
        )
        .orderBy("actual", "predicted")
    )


@query(
    "text_collocations_pmi",
    oracle="""
    WITH toks AS (
      SELECT doc_id, generate_subscripts(ws, 1) AS pos, unnest(ws) AS w
      FROM (SELECT doc_id, string_split(regexp_replace(trim(lower(text)),
              '\\s+', ' ', 'g'), ' ') AS ws FROM documents)
    ), pairs AS (
      SELECT a.w AS w1, b.w AS w2
      FROM toks a JOIN toks b
        ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
      WHERE a.w <> '' AND b.w <> ''
    ), cxy AS (
      SELECT w1, w2, count(*) AS c FROM pairs GROUP BY 1, 2
    ), cx AS (SELECT w1, sum(c) AS cw1 FROM cxy GROUP BY 1),
    cy AS (SELECT w2, sum(c) AS cw2 FROM cxy GROUP BY 1),
    tot AS (SELECT sum(c) AS n FROM cxy)
    SELECT t.w1, t.w2, CAST(t.c AS BIGINT) AS n_pairs,
           round(ln(t.c * 1.0 * (SELECT n FROM tot)
                    / (x.cw1 * 1.0 * y.cw2)), 4) AS pmi
    FROM cxy t JOIN cx x ON x.w1 = t.w1 JOIN cy y ON y.w2 = t.w2
    WHERE t.c >= 20
    ORDER BY pmi DESC, t.w1, t.w2 LIMIT 25
    """,
    tags=("text", "collocation", "documents"),
)
def text_collocations_pmi(spark, sf_dir):
    """COLLOCATION extraction by pointwise mutual information over
    ADJACENT word pairs: PMI = ln(c_xy * N / (c_x * c_y)) with a
    count >= 20 support floor (unsupported pairs have degenerate,
    sample-noise PMI — the standard Church & Hanks caveat). Top-25
    strongest collocations — the phrases that behave as single
    lexical units ('new york', not 'of the').

    Scale: adjacency via the lag window (one user-free, doc-keyed
    shuffle); pair counts and both marginals are vocabulary-sized;
    top-25 is TakeOrderedAndProject."""
    par = spark.sparkContext.defaultParallelism
    d = t(spark, sf_dir, "documents").repartition(par)
    toks = d.select(
        "doc_id",
        F.posexplode(
            F.split(
                F.regexp_replace(F.trim(F.lower("text")), r"\s+", " "), " "
            )
        ).alias("pos", "w"),
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    pairs = (
        toks.select(
            "doc_id",
            F.col("w").alias("w2"),
            F.lag("w").over(w).alias("w1"),
        )
        .filter(
            F.col("w1").isNotNull()
            & (F.col("w1") != "")
            & (F.col("w2") != "")
        )
    )
    cxy = pairs.groupBy("w1", "w2").agg(F.count("*").alias("c"))
    cx = cxy.groupBy("w1").agg(F.sum("c").alias("cw1"))
    cy = cxy.groupBy("w2").agg(F.sum("c").alias("cw2"))
    tot = cxy.agg(F.sum("c").alias("n"))
    return (
        cxy.filter(F.col("c") >= 20)
        .join(F.broadcast(cx), "w1")
        .join(F.broadcast(cy), "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            F.col("c").cast("long").alias("n_pairs"),
            F.round(
                F.log(
                    F.col("c")
                    * 1.0
                    * F.col("n")
                    / (F.col("cw1") * 1.0 * F.col("cw2"))
                ),
                4,
            ).alias("pmi"),
        )
        .orderBy(F.desc("pmi"), "w1", "w2")
        .limit(25)
    )


def _merges_sql() -> str:
    """The DEFAULT_MERGES literal as a DuckDB VALUES relation — built
    from the SAME Python constant the Spark side broadcasts, so the two
    engines can never drift."""
    rows = ", ".join(
        f"({r}, '{x}', '{y}')" for r, (x, y) in enumerate(DEFAULT_MERGES)
    )
    return f"(VALUES {rows}) AS m(rank, x, y)"


@query(
    "bpe_encode_tokens",
    oracle=f"""
    WITH RECURSIVE words AS (
      SELECT w, count(*) AS freq FROM (
        SELECT unnest(string_split(regexp_replace(trim(lower(text)),
               '\\s+', ' ', 'g'), ' ')) AS w
        FROM documents
      ) WHERE w <> '' GROUP BY w
    ), enc AS (
      SELECT w, string_split(w, '') AS syms, 0 AS step FROM words
      UNION ALL
      SELECT w,
             syms[1:mi-1] || [syms[mi] || syms[mi+1]] || syms[mi+2:],
             step + 1
      FROM (
        SELECT e.w AS w, e.syms AS syms, e.step AS step,
               min_by(CAST(t.i AS INT), m.rank * 1000000 + t.i) AS mi
        FROM enc e,
             unnest(range(1, len(e.syms))) t(i)
             JOIN {_merges_sql()}
               ON e.syms[t.i] = m.x AND e.syms[t.i + 1] = m.y
        GROUP BY e.w, e.syms, e.step
      )
    ), final AS (
      SELECT w, syms FROM enc
      QUALIFY row_number() OVER (PARTITION BY w ORDER BY step DESC) = 1
    )
    SELECT token, CAST(sum(freq) AS BIGINT) AS n
    FROM final f
    JOIN words USING (w), unnest(f.syms) AS u(token)
    GROUP BY token ORDER BY n DESC, token LIMIT 30
    """,
    tags=("text", "llm", "tokenizer", "bpe"),
)
def bpe_encode_tokens(spark, sf_dir):
    """BPE ENCODE (tokenizer APPLY — the inference-side counterpart of
    bpe_pair_merge_stats' training statistics): encode the corpus with
    a broadcast 20-rule merge-rank table; top-30 resulting subword
    tokens by corpus count.

    The iterated lowest-rank-pair fold runs once per DISTINCT word
    inside mapInPandas (functions/bpe.py) and counts re-weight by word
    frequency — corpus text is never encoded row-by-row. The DuckDB
    oracle replays the identical recurrence with a recursive CTE
    (min_by (rank, position) per step — the holt_trend
    recursion-replay pattern), so the merge semantics are value-checked
    end-to-end, not just row-counted.

    Scale: |vocab| ~ corpus^0.5 (Heaps), per-word steps <= word length;
    only (token, count) partials shuffle."""
    d = t(spark, sf_dir, "documents")
    words = (
        d.select(
            F.explode(F.split(normalize_text(F.col("text")), " ")).alias("w")
        )
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count("*").alias("freq"))
    )
    return (
        encode_vocab(words, DEFAULT_MERGES)
        .orderBy(F.col("n").desc(), "token")
        .limit(30)
    )


# ------------------------------------------------ BPE tokenizer train
_BPE_TRAIN_N = 10


@query(
    "bpe_train_merges",
    # rows-only by design: the merge list is the fixpoint of an
    # iterative argmax recurrence no single SQL statement expresses
    # (each rank's pair counts depend on the previous rank's merge
    # application). Pinned EXACTLY (merge-for-merge, count-for-count)
    # against a pure-Python reference trainer on the same corpus by
    # tests/test_r6.py::test_bpe_train_matches_reference.
    oracle=None,
    tags=("llm", "tokenizer", "bpe", "iterative"),
)
def bpe_train_merges(spark, sf_dir):
    """Distributed BPE tokenizer TRAINING over the documents corpus:
    collapse to the distinct-word vocabulary (freq-weighted), then
    learn 10 merge rules by iterated highest-count adjacent-pair
    selection (count desc, left, right tiebreak) — completing the
    tokenizer story next to ``text_bpe_merge_stats`` (one round of
    pair counts) and ``bpe_encode_tokens`` (apply a shipped merge
    table). Output: (rank, left, right, pair_count).

    Scale: see functions/bpe.py::train_merges — the corpus is scanned
    ONCE into the vocab; every training iteration runs over the
    vocabulary relation (corpus^0.5 by Heaps' law) with one hash agg
    + one bounded TakeOrdered + one map. r7: trained with batch=8 in
    EXACT mode — multiple provably-safe merges commit per driver
    round-trip (rank-prefix, strict count dominance), result
    bit-identical to the sequential trainer; real-vocabulary training
    additionally offers exact=False (documented order-relaxed
    batching, ~batch× fewer round-trips)."""
    from gcp_etl_spark.functions.bpe import train_merges

    d = t(spark, sf_dir, "documents")
    vocab = (
        d.select(F.explode(F.split(F.lower("text"), " ")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count("*").alias("freq"))
    )
    merges = train_merges(vocab, n_merges=_BPE_TRAIN_N, batch=8)
    return spark.createDataFrame(
        [
            (i, left, right, cnt)
            for i, (left, right, cnt) in enumerate(merges)
        ],
        "rank long, left string, right string, pair_count long",
    )


# ------------------------------------------ mixed-language detector
@query(
    "text_mixed_language_flag",
    oracle="""
    WITH halves AS (
      SELECT doc_id, lang,
             substr(text, 1, CAST(floor(length(text) / 2) AS INT)) AS h1,
             substr(text, CAST(floor(length(text) / 2) AS INT) + 1) AS h2
      FROM documents WHERE length(text) >= 2
    ), scored AS (
      SELECT doc_id, lang,
             length(regexp_replace(h1, '[ -~]', '', 'g')) * 1.0
               / length(h1) AS r1,
             length(regexp_replace(h2, '[ -~]', '', 'g')) * 1.0
               / length(h2) AS r2
      FROM halves
    )
    SELECT doc_id, lang,
           round(r1, 4) AS nonascii_head,
           round(r2, 4) AS nonascii_tail,
           (abs(r1 - r2) > 0.3) AS is_mixed
    FROM scored
    """,
    tags=("llm", "text", "langid", "quality"),
)
def text_mixed_language_flag(spark, sf_dir):
    """MIXED-LANGUAGE / mid-document script-switch detector: compare
    the non-ASCII character ratio of each document's head half vs tail
    half — a large gap means the document switches script mid-way
    (concatenated crawl pages, bilingual boilerplate), which poisons
    both language-ID routing and language-balanced sampling. The
    script-ratio signal is the same one the langid heuristic family
    uses, applied per-half.

    Scale: pure map (two substrings + two regex strips per row, fused
    into the scan); no shuffle."""
    d = t(spark, sf_dir, "documents").filter(F.length("text") >= 2)
    h1 = F.expr(
        "substr(text, 1, CAST(floor(length(text) / 2) AS INT))"
    )
    h2 = F.expr(
        "substr(text, CAST(floor(length(text) / 2) AS INT) + 1)"
    )
    r1 = (
        F.length(F.regexp_replace(h1, "[ -~]", "")) * 1.0 / F.length(h1)
    )
    r2 = (
        F.length(F.regexp_replace(h2, "[ -~]", "")) * 1.0 / F.length(h2)
    )
    return d.select(
        "doc_id",
        "lang",
        F.round(r1, 4).alias("nonascii_head"),
        F.round(r2, 4).alias("nonascii_tail"),
        (F.abs(r1 - r2) > 0.3).alias("is_mixed"),
    )


# ------------------------------------- BPE vocabulary + round-trip


def _bpe_vocab(spark, sf_dir):
    """(token, id, merge_rank, is_base) — the exported tokenizer
    vocabulary: corpus base characters (ids 0..n_base-1 in character
    order) followed by the merge-table outputs (id = n_base + rank).
    The base-id row_number window is unpartitioned but ALPHABET-
    bounded (distinct characters of the corpus — ≤ Unicode, ~24 here),
    the one case where a global window is scale-safe by construction."""
    from pyspark.sql import Window

    from gcp_etl_spark.functions.bpe import DEFAULT_MERGES
    from gcp_etl_spark.functions.text import normalize_text

    d = t(spark, sf_dir, "documents")
    chars = (
        d.select(
            F.explode(
                F.split(
                    F.regexp_replace(normalize_text(F.col("text")), " ", ""),
                    "",
                )
            ).alias("token")
        )
        .filter(F.col("token") != "")
        .distinct()
    )
    base = chars.select(
        "token",
        (F.row_number().over(Window.orderBy("token")) - 1)
        .cast("long")
        .alias("id"),
        F.lit(-1).cast("long").alias("merge_rank"),
        F.lit(True).alias("is_base"),
    )
    n_base = chars.agg(F.count("*").alias("__nb"))
    merges = spark.createDataFrame(
        [(x + y, i) for i, (x, y) in enumerate(DEFAULT_MERGES)],
        "token string, merge_rank long",
    )
    merged = (
        merges.crossJoin(F.broadcast(n_base))
        .select(
            "token",
            (F.col("__nb") + F.col("merge_rank")).cast("long").alias("id"),
            "merge_rank",
            F.lit(False).alias("is_base"),
        )
    )
    return base.unionByName(merged)


@query(
    "bpe_vocab_export",
    oracle=f"""
    WITH chars AS (
      SELECT DISTINCT unnest(string_split(regexp_replace(
               regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'),
               ' ', '', 'g'), '')) AS token
      FROM documents
    ), base AS (
      SELECT token,
             CAST(row_number() OVER (ORDER BY token) - 1 AS BIGINT) AS id,
             CAST(-1 AS BIGINT) AS merge_rank, true AS is_base
      FROM chars WHERE token <> ''
    )
    SELECT token, id, merge_rank, is_base FROM base
    UNION ALL
    SELECT m.x || m.y AS token,
           (SELECT count(*) FROM base) + m.rank AS id,
           CAST(m.rank AS BIGINT) AS merge_rank, false AS is_base
    FROM {_merges_sql()}
    ORDER BY id
    """,
    tags=("llm", "tokenizer", "bpe"),
)
def bpe_vocab_export(spark, sf_dir):
    """TOKENIZER VOCABULARY EXPORT — the (token, id, merge_rank,
    is_base) relation every serving system needs next to the merge
    table: base characters first (ids in character order), merge
    outputs after (id = n_base + rank). With this relation BPE
    encode/decode compose into an exact identity
    (bpe_roundtrip_identity).

    Scale: the base alphabet is a DISTINCT over corpus characters
    (map-side-combinable, alphabet-bounded result); the merge table is
    a shipped literal. Output is vocabulary-sized — nothing
    corpus-sized shuffles."""
    return _bpe_vocab(spark, sf_dir).orderBy("id")


@query(
    "bpe_roundtrip_identity",
    oracle=f"""
    WITH RECURSIVE words AS (
      SELECT DISTINCT w FROM (
        SELECT unnest(string_split(regexp_replace(trim(lower(text)),
               '\\s+', ' ', 'g'), ' ')) AS w
        FROM documents
      ) WHERE w <> ''
    ), enc AS (
      SELECT w, string_split(w, '') AS syms, 0 AS step FROM words
      UNION ALL
      SELECT w,
             syms[1:mi-1] || [syms[mi] || syms[mi+1]] || syms[mi+2:],
             step + 1
      FROM (
        SELECT e.w AS w, e.syms AS syms, e.step AS step,
               min_by(CAST(t.i AS INT), m.rank * 1000000 + t.i) AS mi
        FROM enc e,
             unnest(range(1, len(e.syms))) t(i)
             JOIN {_merges_sql()}
               ON e.syms[t.i] = m.x AND e.syms[t.i + 1] = m.y
        GROUP BY e.w, e.syms, e.step
      )
    ), final AS (
      SELECT w, syms FROM enc
      QUALIFY row_number() OVER (PARTITION BY w ORDER BY step DESC) = 1
    )
    SELECT w, CAST(len(syms) AS BIGINT) AS n_tokens,
           (array_to_string(syms, '') = w) AS roundtrip_ok
    FROM final ORDER BY w
    """,
    tags=("llm", "tokenizer", "bpe"),
)
def bpe_roundtrip_identity(spark, sf_dir):
    """BPE ROUND-TRIP IDENTITY — encode each distinct corpus word,
    map every token to its id through the exported vocabulary
    (bpe_vocab_export), decode the id sequence back through the same
    relation, and assert decode(encode(w)) == w. An inner join does
    the id mapping, so a single token missing from the export (or an
    id collision) breaks the reconstruction and flips roundtrip_ok —
    this is the integrity gate that encode, decode, and the exported
    vocab all agree.

    The DuckDB oracle independently replays the merge recurrence
    (recursive CTE, min_by (rank, position) per step) for n_tokens
    and asserts the concatenation identity on its own side.

    Scale: the fold runs once per DISTINCT word (vocab ~ corpus^0.5);
    the only shuffle is the per-word (pos, token) regroup — corpus
    text never shuffles."""
    from gcp_etl_spark.functions.bpe import decode_tokens, encode_tokens_pos
    from gcp_etl_spark.functions.text import normalize_text

    d = t(spark, sf_dir, "documents")
    words = (
        d.select(
            F.explode(
                F.split(normalize_text(F.col("text")), " ")
            ).alias("w")
        )
        .filter(F.col("w") != "")
        .distinct()
    )
    vocab = _bpe_vocab(spark, sf_dir).select("token", "id")
    tok = encode_tokens_pos(words)
    ids = tok.join(F.broadcast(vocab), "token").select("w", "pos", "id")
    dec = decode_tokens(ids, vocab)
    return dec.select(
        "w",
        "n_tokens",
        (F.col("decoded") == F.col("w")).alias("roundtrip_ok"),
    ).orderBy("w")


# ------------------------------------------------------ BM25 retrieval
_BM25_TERMS = ("join", "scan", "filter")
_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_TOPK = 20


@query(
    "text_bm25_topk",
    oracle=f"""
    WITH d AS (
      SELECT doc_id,
             list_filter(string_split(lower(text), ' '), x -> x <> '') AS ws
      FROM documents
    ),
    stats AS (
      SELECT count(*) AS n, sum(len(ws)) AS total_dl FROM d
    ),
    tf AS (
      SELECT doc_id, w, count(*) AS tf
      FROM (SELECT doc_id, unnest(ws) AS w FROM d)
      WHERE w IN ('{_BM25_TERMS[0]}', '{_BM25_TERMS[1]}', '{_BM25_TERMS[2]}')
      GROUP BY 1, 2
    ),
    df AS (SELECT w, count(*) AS df FROM tf GROUP BY 1),
    dl AS (SELECT doc_id, len(ws) AS dl FROM d),
    scored AS (
      SELECT tf.doc_id,
             sum(
               ln((stats.n - df.df + 0.5) / (df.df + 0.5) + 1.0)
               * tf.tf * ({_BM25_K1} + 1.0)
               / (tf.tf + {_BM25_K1} * (1.0 - {_BM25_B}
                  + {_BM25_B} * dl.dl
                    / (CAST(stats.total_dl AS DOUBLE) / stats.n)))
             ) AS score
      FROM tf JOIN df USING (w) JOIN dl USING (doc_id) CROSS JOIN stats
      GROUP BY 1
    )
    SELECT doc_id, round(score, 6) AS bm25
    FROM scored ORDER BY bm25 DESC, doc_id LIMIT {_BM25_TOPK}
    """,
    tags=("text", "retrieval", "ranking"),
)
def text_bm25_topk(spark, sf_dir):
    """BM25 RANKED RETRIEVAL (Robertson/Spärck Jones; the Lucene
    ln(1 + (N-df+0.5)/(df+0.5)) idf variant, public) for a fixed term
    set over the documents corpus: per-document score summed over
    query terms with k1=1.2, b=0.75 length normalization; top-20 by
    (score desc, doc_id). Completes the retrieval story next to
    ``text_tfidf_topk`` — BM25 is what every lexical retriever
    actually ships.

    Determinism: tf/df/dl/N are exact integers in both engines, avgdl
    is one integer division in double, each term's score is the same
    closed-form double expression, and the 3-term sum is order-benign
    at 6 dp rounding (3 terms, same magnitudes — verified by the
    oracle gate).

    Scale: one corpus scan → (doc, term) tf relation (the IN-list
    prunes the explode map-side); df is a 3-row broadcast; dl rides
    the same scan. The score join is broadcast-tiny on one side; the
    top-20 is a TakeOrdered, no global sort."""
    d = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.filter(F.split(F.lower("text"), " "), lambda x: x != "").alias(
            "ws"
        ),
    )
    stats = d.agg(
        F.count("*").alias("n"), F.sum(F.size("ws")).alias("total_dl")
    )
    tf = (
        d.select("doc_id", F.explode("ws").alias("w"))
        .filter(F.col("w").isin(*_BM25_TERMS))
        .groupBy("doc_id", "w")
        .agg(F.count("*").alias("tf"))
    )
    df_ = tf.groupBy("w").agg(F.count("*").alias("df"))
    dl = d.select("doc_id", F.size("ws").alias("dl"))
    avgdl = F.col("total_dl").cast("double") / F.col("n")
    idf = F.log(
        (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    term_score = idf * F.col("tf") * (_BM25_K1 + 1.0) / (
        F.col("tf")
        + _BM25_K1 * (1.0 - _BM25_B + _BM25_B * F.col("dl") / avgdl)
    )
    scored = (
        tf.join(F.broadcast(df_), "w")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.round(F.sum(term_score), 6).alias("bm25"))
    )
    return scored.orderBy(F.desc("bm25"), "doc_id").limit(_BM25_TOPK)


# ---------------------------------------------- held-out perplexity

_PPL_HELDOUT_SRC = "src0"
_PPL_TOPK = 10


@query(
    "text_perplexity_heldout",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, source,
             list_filter(string_split(lower(text), ' '), x -> x <> '') AS ws
      FROM documents
    ),
    train_uni AS (
      SELECT ws[i+1] AS w1, count(*) AS c1
      FROM d, unnest(range(len(ws))) AS t(i)
      WHERE source <> '{_PPL_HELDOUT_SRC}' GROUP BY 1
    ),
    train_bi AS (
      SELECT ws[i+1] AS w1, ws[i+2] AS w2, count(*) AS c2
      FROM d, unnest(range(len(ws) - 1)) AS t(i)
      WHERE source <> '{_PPL_HELDOUT_SRC}' GROUP BY 1, 2
    ),
    v AS (SELECT count(*) AS v FROM train_uni),
    held AS (
      SELECT doc_id, ws[i+1] AS w1, ws[i+2] AS w2
      FROM d, unnest(range(len(ws) - 1)) AS t(i)
      WHERE source = '{_PPL_HELDOUT_SRC}'
    ),
    lp AS (
      SELECT h.doc_id,
             CAST(round(
               ln((coalesce(b.c2, 0) + 1.0)
                  / (coalesce(u.c1, 0) + v.v)), 8) AS DECIMAL(18,8)
             ) AS logp
      FROM held h
      LEFT JOIN train_bi b ON h.w1 = b.w1 AND h.w2 = b.w2
      LEFT JOIN train_uni u ON h.w1 = u.w1
      CROSS JOIN v
    )
    SELECT doc_id, count(*) AS n_bigrams,
           round(exp(-CAST(sum(logp) AS DOUBLE) / count(*)), 4) AS ppl
    FROM lp GROUP BY doc_id
    ORDER BY ppl DESC, doc_id LIMIT {_PPL_TOPK}
    """,
    tags=("text", "language-model", "quality"),
)
def text_perplexity_heldout(spark, sf_dir):
    """HELD-OUT BIGRAM PERPLEXITY — the classic LM-based quality
    filter (CCNet/KenLM practice, public): train an add-one-smoothed
    bigram model on every source EXCEPT the held-out one, score each
    held-out document by exp(-mean log p(w2|w1)), and surface the
    ``{_PPL_TOPK}`` most-perplexing documents (the outlier/garbage
    candidates a curation pipeline reviews first).

    Determinism: counts and the vocabulary size are exact integers;
    each bigram's log-probability is ONE libm call rounded to 8 dp and
    summed as DECIMAL (order-free — the repo's standard policy for
    order-dependent double sums), so both engines divide identical
    numerators.

    Scale: train counts are two hash aggs over the train split (pair
    space vocabulary-bounded); held-out bigrams join them on bounded
    keys (broadcast-able at real vocabulary sizes); document text
    never rides a shuffle after the explode collapses map-side."""
    d = t(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.filter(F.split(F.lower("text"), " "), lambda x: x != "").alias(
            "ws"
        ),
    )
    bigrams = F.expr(
        "transform(sequence(0, size(ws) - 2),"
        " i -> struct(ws[i] AS w1, ws[i+1] AS w2))"
    )
    uni = F.explode("ws").alias("w1")
    train = d.filter(F.col("source") != _PPL_HELDOUT_SRC)
    train_uni = train.select(uni).groupBy("w1").agg(
        F.count("*").alias("c1")
    )
    train_bi = (
        train.filter(F.size("ws") >= 2)
        .select(F.explode(bigrams).alias("b"))
        .groupBy("b.w1", "b.w2")
        .agg(F.count("*").alias("c2"))
    )
    v = train_uni.agg(F.count("*").alias("v"))
    held = (
        d.filter(
            (F.col("source") == _PPL_HELDOUT_SRC) & (F.size("ws") >= 2)
        )
        .select("doc_id", F.explode(bigrams).alias("b"))
        .select("doc_id", "b.w1", "b.w2")
    )
    logp = F.round(
        F.log(
            (F.coalesce(F.col("c2"), F.lit(0)) + 1.0)
            / (F.coalesce(F.col("c1"), F.lit(0)) + F.col("v"))
        ),
        8,
    ).cast("decimal(18,8)")
    lp = (
        held.join(train_bi, ["w1", "w2"], "left")
        .join(F.broadcast(train_uni), "w1", "left")
        .crossJoin(F.broadcast(v))
        .select("doc_id", logp.alias("logp"))
    )
    return (
        lp.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(
                F.exp(-(F.sum("logp").cast("double")) / F.count("*")), 4
            ).alias("ppl"),
        )
        .orderBy(F.desc("ppl"), "doc_id")
        .limit(_PPL_TOPK)
    )


# ------------------------------------------ distinct n-gram diversity
@query(
    "text_distinct_ngram_ratio",
    oracle="""
    WITH d AS (
      SELECT source,
             list_filter(string_split(lower(text), ' '), x -> x <> '') AS ws
      FROM documents
    ),
    uni AS (
      SELECT source, count(*) AS n1, count(DISTINCT w) AS d1
      FROM (SELECT source, unnest(ws) AS w FROM d) GROUP BY 1
    ),
    bi AS (
      SELECT source, count(*) AS n2,
             count(DISTINCT ws[i+1] || ' ' || ws[i+2]) AS d2
      FROM d, unnest(range(len(ws) - 1)) AS t(i) GROUP BY 1
    ),
    tri AS (
      SELECT source, count(*) AS n3,
             count(DISTINCT ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3])
               AS d3
      FROM d, unnest(range(len(ws) - 2)) AS t(i) GROUP BY 1
    )
    SELECT source,
           round(CAST(d1 AS DOUBLE) / n1, 6) AS distinct_1,
           round(CAST(d2 AS DOUBLE) / n2, 6) AS distinct_2,
           round(CAST(d3 AS DOUBLE) / n3, 6) AS distinct_3
    FROM uni JOIN bi USING (source) JOIN tri USING (source)
    ORDER BY source
    """,
    tags=("text", "diversity", "quality"),
)
def text_distinct_ngram_ratio(spark, sf_dir):
    """DISTINCT-N DIVERSITY RATIOS per source (distinct-1/2/3 — the
    standard text-degeneration diagnostic): the share of unique
    uni/bi/trigrams among all emitted, low values flagging repetitive
    or templated sources before they enter a training mix.

    Determinism: pure integer counts, one final division each.
    Scale: three hash aggs over exploded n-grams (counts shuffle, text
    doesn't); distinct counts are per-source exact aggregates."""
    # NOTE (r12 resume): a barrier on the tokenized corpus was tried
    # and MEASURED SLOWER (1.03-1.17 -> 1.23-1.40 s A/B) — the three
    # n-gram branches overlap on idle cores and the tokenize is cheap
    # next to the explodes; reverted.
    d = t(spark, sf_dir, "documents").select(
        "source",
        F.filter(F.split(F.lower("text"), " "), lambda x: x != "").alias(
            "ws"
        ),
    )

    def ng(n, cn, dn):
        if n == 1:
            ex = d.select("source", F.explode("ws").alias("g"))
        else:
            ex = d.filter(F.size("ws") >= n).select(
                "source",
                F.explode(
                    F.expr(
                        f"transform(sequence(0, size(ws) - {n}),"
                        f" i -> concat_ws(' ', slice(ws, i + 1, {n})))"
                    )
                ).alias("g"),
            )
        return ex.groupBy("source").agg(
            F.count("*").alias(cn), F.countDistinct("g").alias(dn)
        )

    uni, bi, tri = ng(1, "n1", "d1"), ng(2, "n2", "d2"), ng(3, "n3", "d3")
    return (
        uni.join(bi, "source")
        .join(tri, "source")
        .select(
            "source",
            F.round(F.col("d1").cast("double") / F.col("n1"), 6).alias(
                "distinct_1"
            ),
            F.round(F.col("d2").cast("double") / F.col("n2"), 6).alias(
                "distinct_2"
            ),
            F.round(F.col("d3").cast("double") / F.col("n3"), 6).alias(
                "distinct_3"
            ),
        )
        .orderBy("source")
    )


# ---------------------------------------------- boilerplate prefixes
_BP_PREFIX_TOKENS = 8
_BP_TOPK = 3


@query(
    "text_boilerplate_prefixes",
    oracle=f"""
    WITH d AS (
      SELECT source,
             list_filter(string_split(lower(text), ' '), x -> x <> '') AS ws
      FROM documents
    ),
    p AS (
      SELECT source,
             array_to_string(ws[1:{_BP_PREFIX_TOKENS}], ' ') AS prefix
      FROM d WHERE len(ws) >= {_BP_PREFIX_TOKENS}
    ),
    c AS (
      SELECT source, prefix, count(*) AS n_docs,
             count(*) OVER (PARTITION BY source) AS n_src_rows
      FROM p GROUP BY source, prefix
    ),
    tot AS (SELECT source, count(*) AS n_src FROM p GROUP BY 1),
    r AS (
      SELECT c.source, prefix, n_docs, tot.n_src,
             row_number() OVER (PARTITION BY c.source
                                ORDER BY n_docs DESC, prefix) AS rk
      FROM c JOIN tot ON c.source = tot.source
    )
    SELECT source, CAST(rk AS INT) AS rank, prefix,
           CAST(n_docs AS BIGINT) AS n_docs,
           round(CAST(n_docs AS DOUBLE) / n_src, 6) AS share
    FROM r WHERE rk <= {_BP_TOPK}
    ORDER BY source, rank
    """,
    tags=("text", "boilerplate", "curation"),
)
def text_boilerplate_prefixes(spark, sf_dir):
    """BOILERPLATE PREFIX DETECTOR (the C4/RefinedWeb prep step that
    finds templated headers before stripping them): per source, the
    {_BP_TOPK} most frequent {_BP_PREFIX_TOKENS}-token document
    prefixes with their document share — a high share flags a
    template/scraper artifact the curation pipeline should strip or
    downweight.

    Scale: the prefix is a bounded in-row slice (text never explodes);
    one hash agg on (source, prefix), a bounded per-source top-k
    window over the AGGREGATED relation (|distinct prefixes| rows, not
    documents)."""
    d = t(spark, sf_dir, "documents").select(
        "source",
        F.filter(F.split(F.lower("text"), " "), lambda x: x != "").alias(
            "ws"
        ),
    ).filter(F.size("ws") >= _BP_PREFIX_TOKENS)
    p = d.select(
        "source",
        F.concat_ws(
            " ", F.slice("ws", 1, _BP_PREFIX_TOKENS)
        ).alias("prefix"),
    )
    c = p.groupBy("source", "prefix").agg(F.count("*").alias("n_docs"))
    tot = p.groupBy("source").agg(F.count("*").alias("n_src"))
    w = Window.partitionBy("source").orderBy(F.desc("n_docs"), "prefix")
    return (
        c.join(F.broadcast(tot), "source")
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _BP_TOPK)
        .select(
            "source",
            F.col("rank").cast("int").alias("rank"),
            "prefix",
            "n_docs",
            F.round(
                F.col("n_docs").cast("double") / F.col("n_src"), 6
            ).alias("share"),
        )
        .orderBy("source", "rank")
    )


# ------------------------------------------- tokenizer fertility audit
@query(
    "bpe_fertility_by_lang",
    oracle=f"""
    WITH RECURSIVE words AS (
      SELECT w, count(*) AS freq FROM (
        SELECT unnest(string_split(regexp_replace(trim(lower(text)),
               '\\s+', ' ', 'g'), ' ')) AS w
        FROM documents
      ) WHERE w <> '' GROUP BY w
    ),
    enc AS (
      SELECT w, string_split(w, '') AS syms, 0 AS step FROM words
      UNION ALL
      SELECT w,
             syms[1:mi-1] || [syms[mi] || syms[mi+1]] || syms[mi+2:],
             step + 1
      FROM (
        SELECT e.w AS w, e.syms AS syms, e.step AS step,
               min_by(CAST(t.i AS INT), m.rank * 1000000 + t.i) AS mi
        FROM enc e,
             unnest(range(1, len(e.syms))) t(i)
             JOIN {{merges}}
               ON e.syms[t.i] = m.x AND e.syms[t.i + 1] = m.y
        GROUP BY e.w, e.syms, e.step
      )
    ), final AS (
      SELECT w, len(syms) AS n_toks FROM enc
      QUALIFY row_number() OVER (PARTITION BY w ORDER BY step DESC) = 1
    ), lw AS (
      SELECT lang, w, count(*) AS freq FROM (
        SELECT lang, unnest(string_split(regexp_replace(trim(lower(text)),
               '\\s+', ' ', 'g'), ' ')) AS w
        FROM documents
      ) WHERE w <> '' GROUP BY 1, 2
    )
    SELECT lang,
           CAST(sum(lw.freq) AS BIGINT) AS n_words,
           round(CAST(sum(lw.freq * f.n_toks) AS DOUBLE)
                 / sum(lw.freq), 6) AS fertility,
           round(CAST(sum(lw.freq * len(lw.w)) AS DOUBLE)
                 / sum(lw.freq * f.n_toks), 6) AS chars_per_token
    FROM lw JOIN final f USING (w)
    GROUP BY lang
    """.replace("{merges}", _merges_sql()),
    tags=("llm", "tokenizer", "bpe", "quality"),
)
def bpe_fertility_by_lang(spark, sf_dir):
    """TOKENIZER FERTILITY audit by language — tokens-per-word and
    chars-per-token under the shipped merge table, the standard metric
    for "does this tokenizer under-serve language X" (high fertility =
    more sequence length per word = worse training economics for that
    language). Joins the per-DISTINCT-WORD BPE fold to per-(lang,
    word) frequencies, so corpus text is tokenized once per vocab
    entry and re-weighted — never row-by-row.

    INTEGER-EXACT numerators: Σ freq·n_tokens and Σ freq·chars are
    long sums; the two divisions are the only floats — bit-exact
    int/int IEEE division cross-engine. The DuckDB oracle replays the
    merge recurrence with the family's recursive CTE."""
    from gcp_etl_spark.functions.bpe import encode_words_arrays
    from gcp_etl_spark.functions.text import normalize_text

    par = spark.sparkContext.defaultParallelism
    d = (
        t(spark, sf_dir, "documents")
        .repartition(par)
        .select("lang", F.split(normalize_text(F.col("text")), " ").alias("ws"))
    )
    lw = (
        d.select("lang", F.explode("ws").alias("w"))
        .filter(F.col("w") != "")
        .groupBy("lang", "w")
        .agg(F.count("*").alias("freq"))
    )
    wt = encode_words_arrays(lw.select("w").distinct()).select(
        "w", F.size("toks").cast("long").alias("n_toks")
    )
    j = lw.join(wt, "w")
    return j.groupBy("lang").agg(
        F.sum("freq").cast("long").alias("n_words"),
        F.round(
            F.sum(F.col("freq") * F.col("n_toks")).cast("double")
            / F.sum("freq"),
            6,
        ).alias("fertility"),
        F.round(
            F.sum(F.col("freq") * F.length("w")).cast("double")
            / F.sum(F.col("freq") * F.col("n_toks")),
            6,
        ).alias("chars_per_token"),
    )


# --------------------------------------- Kneser-Ney bigram LM
_KN_D = 0.75  # fixed absolute discount (Kneser-Ney 1995 / Chen-Goodman)
_KN_TOP = 30


@query(
    "text_kneser_ney_bigram",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(lower(text), ' ') AS ws FROM documents
    ), idx AS (
      SELECT doc_id, i AS pos, ws[i+1] AS word
      FROM toks, unnest(range(len(ws))) AS t(i)
    ), bg AS (
      SELECT doc_id,
             lag(word) OVER (PARTITION BY doc_id ORDER BY pos) AS w1,
             word AS w2
      FROM idx
    ), bgn AS (SELECT w1, w2 FROM bg WHERE w1 IS NOT NULL),
    cb AS (SELECT w1, w2, count(*) AS c12 FROM bgn GROUP BY 1, 2),
    cu AS (
      SELECT w1, sum(c12) AS c1, count(*) AS n1f FROM cb GROUP BY w1
    ), cc AS (SELECT w2, count(*) AS n1b FROM cb GROUP BY w2),
    tt AS (SELECT count(*) AS bity FROM cb)
    SELECT w1, w2, CAST(c12 AS BIGINT) AS c12,
           round((c12 - {_KN_D}) / c1
                 + ({_KN_D} * n1f / c1) * (CAST(n1b AS DOUBLE) / bity),
                 6) AS p_kn
    FROM cb JOIN cu USING (w1) JOIN cc USING (w2) CROSS JOIN tt
    ORDER BY c12 DESC, w1, w2 LIMIT {_KN_TOP}
    """,
    tags=("text", "lm", "llm-prep", "documents"),
)
def text_kneser_ney_bigram(spark, sf_dir):
    """INTERPOLATED KNESER-NEY bigram probabilities (fixed absolute
    discount D = {D}) — the LM smoothing actually used for data-quality
    perplexity filters, vs text_bigram_lm's add-one baseline:
    P(w₂|w₁) = (c₁₂ − D)/c₁ + D·N₁₊(w₁·)/c₁ · N₁₊(·w₂)/|bigram types|,
    where the continuation counts N₁₊ make the unigram backoff measure
    "how many contexts" rather than "how many tokens" (the KN insight).
    Reported for the top-{TOP} bigrams by INTEGER count (total order
    with word tiebreaks — no float ordering), probability rounded 6dp
    from all-integer inputs, so the hash pins the full count algebra.

    Scale: everything is a grouped count over the bigram relation
    (map-side combinable); the final top-{TOP} is a TakeOrdered — no
    global sort. c₁ is derived from the bigram table (Σ_w₂ c₁₂), never
    a second corpus pass."""
    par = spark.sparkContext.defaultParallelism
    docs = t(spark, sf_dir, "documents").repartition(par)
    idx = docs.select(
        "doc_id",
        F.posexplode(F.split(F.lower("text"), " ")).alias("pos", "word"),
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    bgn = idx.select(
        F.lag("word").over(w).alias("w1"), F.col("word").alias("w2")
    ).filter(F.col("w1").isNotNull())
    cb = bgn.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    cu = cb.groupBy("w1").agg(
        F.sum("c12").alias("c1"), F.count("*").alias("n1f")
    )
    cc = cb.groupBy("w2").agg(F.count("*").alias("n1b"))
    tt = cb.agg(F.count("*").alias("bity"))
    p = (
        (F.col("c12") - _KN_D) / F.col("c1")
        + (_KN_D * F.col("n1f") / F.col("c1"))
        * (F.col("n1b").cast("double") / F.col("bity"))
    )
    return (
        cb.join(cu, "w1")
        .join(cc, "w2")
        .crossJoin(F.broadcast(tt))
        .select(
            "w1",
            "w2",
            F.col("c12").cast("long").alias("c12"),
            F.round(p, 6).alias("p_kn"),
        )
        .orderBy(F.desc("c12"), "w1", "w2")
        .limit(_KN_TOP)
    )


# ------------------------------------------------ Good-Turing spectrum
@query(
    "text_good_turing",
    oracle="""
    WITH toks AS (
      SELECT unnest(string_split(regexp_replace(trim(lower(text)),
                    '\\s+', ' ', 'g'), ' ')) AS w
      FROM documents
    ), types AS (
      SELECT w, count(*) AS r FROM toks GROUP BY 1
    ), nt AS (
      SELECT sum(r) AS n_tokens FROM types
    ), spec AS (
      SELECT r, count(*) AS n_types FROM types GROUP BY 1
    )
    SELECT s.r, s.n_types,
           round((s.r + 1.0) * s2.n_types / s.n_types, 6) AS r_star,
           round(s.r * s.n_types * 1.0 / nt.n_tokens, 6) AS p_mass
    FROM spec s
    LEFT JOIN spec s2 ON s2.r = s.r + 1
    CROSS JOIN nt
    WHERE s.r <= 10
    ORDER BY s.r
    """,
    tags=("text", "lexicon", "smoothing", "documents"),
)
def text_good_turing(spark, sf_dir):
    """GOOD-TURING FREQUENCY SPECTRUM (the frequency-of-frequencies
    table N_r behind Good-Turing smoothing, Kneser-Ney's ancestor —
    companions: text_zipf_fit fits the rank law, text_hapax_ratio
    reads off N_1): for r ≤ 10, the type count N_r, the smoothed
    count r* = (r+1)·N_{r+1}/N_r, and the probability mass r·N_r/N.
    Row r = 1's p_mass IS the Good-Turing unseen-event estimate
    p₀ = N_1/N. N_{r+1} looks up by exact join (NULL when the
    spectrum has a gap), never by lead() over possibly-missing rows.

    Scale: tokens collapse to the type table in one hash agg (counts
    shuffle, text doesn't), the spectrum is a second tiny agg, and the
    r ≤ 10 output is constant-size."""
    d = t(spark, sf_dir, "documents")
    toks = d.select(
        F.explode(
            F.split(
                F.regexp_replace(F.trim(F.lower("text")), r"\s+", " "),
                " ",
            )
        ).alias("w")
    )
    types = toks.groupBy("w").agg(F.count("*").alias("r"))
    nt = types.agg(F.sum("r").alias("n_tokens"))
    spec = types.groupBy("r").agg(F.count("*").alias("n_types"))
    s2 = spec.select(
        (F.col("r") - 1).alias("r_join"),
        F.col("n_types").alias("n_types_next"),
    )
    return (
        spec.filter(F.col("r") <= 10)
        .join(s2, F.col("r") == F.col("r_join"), "left")
        .crossJoin(nt)
        .select(
            "r",
            "n_types",
            F.round(
                (F.col("r") + 1.0)
                * F.col("n_types_next")
                / F.col("n_types"),
                6,
            ).alias("r_star"),
            F.round(
                F.col("r") * F.col("n_types") * 1.0 / F.col("n_tokens"), 6
            ).alias("p_mass"),
        )
        .orderBy("r")
    )


# --------------------------------------------------- Burrows' delta
_BD_TOPN = 30


@query(
    "text_burrows_delta",
    oracle=f"""
    WITH toks AS (
      SELECT source,
             unnest(string_split(regexp_replace(trim(lower(text)),
                    '\\s+', ' ', 'g'), ' ')) AS w
      FROM documents
    ), top_words AS (
      SELECT w FROM toks GROUP BY w
      ORDER BY count(*) DESC, w LIMIT {_BD_TOPN}
    ), src_tot AS (
      SELECT source, count(*) AS tot FROM toks GROUP BY 1
    ), freq AS (
      SELECT st.source, tw.w,
             coalesce(c.cnt, 0) * 1.0 / st.tot AS f
      FROM src_tot st
      CROSS JOIN top_words tw
      LEFT JOIN (SELECT source, w, count(*) AS cnt
                 FROM toks GROUP BY 1, 2) c
        ON c.source = st.source AND c.w = tw.w
    ), stats AS (
      SELECT w,
             count(*) AS ns,
             CAST(sum(CAST(f AS DECIMAL(38,18))) AS DOUBLE) AS sf,
             CAST(sum(CAST(f * f AS DECIMAL(38,18))) AS DOUBLE) AS sf2
      FROM freq GROUP BY 1
    ), z AS (
      SELECT fr.source, fr.w,
             (fr.f - st.sf / st.ns)
               / sqrt(st.sf2 / st.ns
                      - (st.sf / st.ns) * (st.sf / st.ns)) AS z
      FROM freq fr JOIN stats st ON st.w = fr.w
    )
    SELECT a.source AS src_a, b.source AS src_b,
           round(CAST(sum(CAST(abs(a.z - b.z) AS DECIMAL(38,18)))
                      AS DOUBLE) / {_BD_TOPN}, 6) AS delta
    FROM z a JOIN z b ON a.w = b.w AND a.source < b.source
    GROUP BY 1, 2
    ORDER BY delta, src_a, src_b
    LIMIT 15
    """,
    tags=("text", "stylometry", "documents"),
)
def text_burrows_delta(spark, sf_dir):
    """BURROWS' DELTA (the standard stylometric authorship-attribution
    distance): z-score each source's relative frequency of the corpus
    top-{_BD_TOPN} words against the across-source mean/sd, then
    Δ(a,b) = mean |z_a − z_b|. The 15 most similar source pairs — the
    cross-source cousin of text_source_divergence (which compares
    full distributions, not style markers).

    EXACTNESS: relative frequencies are single int/int divisions;
    every across-source sum (μ, σ, and the |z| distance) casts
    per-term to DECIMAL so reductions are order-free; population σ
    matches the classical delta definition.

    Scale: tokens collapse to (source, word) counts once; the z table
    is |sources| × {_BD_TOPN} rows and the pair join is over the tiny
    source dimension."""
    d = t(spark, sf_dir, "documents")
    toks = d.select(
        "source",
        F.explode(
            F.split(
                F.regexp_replace(F.trim(F.lower("text")), r"\s+", " "),
                " ",
            )
        ).alias("w"),
    )
    top_words = (
        toks.groupBy("w")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), "w")
        .limit(_BD_TOPN)
        .select("w")
    )
    src_tot = toks.groupBy("source").agg(F.count("*").alias("tot"))
    sw = toks.groupBy("source", "w").agg(F.count("*").alias("cnt"))
    freq = (
        src_tot.crossJoin(top_words)
        .join(sw, ["source", "w"], "left")
        .select(
            "source",
            "w",
            (
                F.coalesce(F.col("cnt"), F.lit(0)) * 1.0 / F.col("tot")
            ).alias("f"),
        )
    )
    stats = freq.groupBy("w").agg(
        F.count("*").alias("ns"),
        F.sum(F.col("f").cast("decimal(38,18)")).cast("double").alias("sf"),
        F.sum((F.col("f") * F.col("f")).cast("decimal(38,18)"))
        .cast("double")
        .alias("sf2"),
    )
    mu = F.col("sf") / F.col("ns")
    sd = F.sqrt(F.col("sf2") / F.col("ns") - mu * mu)
    z = freq.join(stats, "w").select(
        "source", "w", ((F.col("f") - mu) / sd).alias("z")
    )
    a = z.select(
        F.col("source").alias("src_a"), "w", F.col("z").alias("za")
    )
    b = z.select(
        F.col("source").alias("src_b"),
        F.col("w").alias("wb"),
        F.col("z").alias("zb"),
    )
    return (
        a.join(
            b,
            (F.col("w") == F.col("wb"))
            & (F.col("src_a") < F.col("src_b")),
        )
        .groupBy("src_a", "src_b")
        .agg(
            F.round(
                F.sum(
                    F.abs(F.col("za") - F.col("zb")).cast("decimal(38,18)")
                ).cast("double")
                / _BD_TOPN,
                6,
            ).alias("delta")
        )
        .orderBy("delta", "src_a", "src_b")
        .limit(15)
    )


# ---------------------------------------------- MATTR lexical diversity

_MATTR_W = 25


@query(
    "text_mattr_diversity",
    oracle=f"""
    WITH pos AS (
      SELECT doc_id, source,
             unnest(ws) AS w,
             unnest(range(len(ws))) AS p,
             len(ws) AS L
      FROM (SELECT doc_id, source,
                   string_split(regexp_replace(trim(lower(text)),
                                '\\s+', ' ', 'g'), ' ') AS ws
            FROM documents) d
    ), prv AS (
      SELECT doc_id, source, p, L,
             coalesce(lag(p) OVER (PARTITION BY doc_id, w ORDER BY p),
                      -1) AS prev
      FROM pos
    ), contrib AS (
      SELECT doc_id, source, L,
             greatest(prev + 1, p - {_MATTR_W} + 1, 0) AS a,
             least(p, L - {_MATTR_W}) AS b
      FROM prv WHERE L >= {_MATTR_W}
    ), perdoc AS (
      SELECT doc_id, source,
             sum(CASE WHEN b >= a THEN b - a + 1 ELSE 0 END) * 1.0
               / ((max(L) - {_MATTR_W} + 1) * {_MATTR_W}) AS mattr
      FROM contrib GROUP BY 1, 2
    )
    SELECT source, count(*) AS n_docs,
           round(CAST(sum(CAST(mattr AS DECIMAL(38,18))) AS DOUBLE)
                 / count(*), 6) AS avg_mattr
    FROM perdoc GROUP BY 1 ORDER BY 1
    """,
    tags=("text", "lexical-diversity", "documents"),
)
def text_mattr_diversity(spark, sf_dir):
    """MATTR (moving-average type-token ratio, Covington & McFall —
    the length-independent lexical-diversity measure; plain TTR decays
    with length, which is why text_hapax_ratio can't compare docs):
    mean distinct-type count over every complete {_MATTR_W}-token
    window, / {_MATTR_W}.

    THE INTERVAL-CONTRIBUTION TRICK (no per-window distinct pass):
    token occurrence at position p is the FIRST of its type inside
    window w iff prev_occurrence(p) < w ≤ p, so it adds 1 to exactly
    the windows w ∈ [max(prev+1, p−W+1, 0), min(p, L−W)] — and
    Σ_w distinct(w) is just the sum of those clamped interval lengths.
    One lag window + one sum replaces a per-window count-distinct
    (which would be W× the data); everything stays integer until the
    final two divisions.

    Scale: positions shuffle once on (doc, token) for the lag;
    per-doc then per-source aggregation; per-doc MATTR sums cast
    per-term to DECIMAL so the source average is order-free."""
    d = t(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.split(
            F.regexp_replace(F.trim(F.lower("text")), r"\s+", " "), " "
        ).alias("ws"),
    )
    pos = d.select(
        "doc_id",
        "source",
        F.size("ws").alias("L"),
        F.posexplode("ws").alias("p", "w"),
    )
    wlag = Window.partitionBy("doc_id", "w").orderBy("p")
    prv = pos.select(
        "doc_id",
        "source",
        "p",
        "L",
        F.coalesce(F.lag("p").over(wlag), F.lit(-1)).alias("prev"),
    )
    contrib = prv.filter(F.col("L") >= _MATTR_W).select(
        "doc_id",
        "source",
        "L",
        F.greatest(
            F.col("prev") + 1, F.col("p") - _MATTR_W + 1, F.lit(0)
        ).alias("a"),
        F.least(F.col("p"), F.col("L") - _MATTR_W).alias("b"),
    )
    perdoc = contrib.groupBy("doc_id", "source").agg(
        (
            F.sum(
                F.when(
                    F.col("b") >= F.col("a"),
                    F.col("b") - F.col("a") + 1,
                ).otherwise(0)
            )
            * 1.0
            / ((F.max("L") - _MATTR_W + 1) * _MATTR_W)
        ).alias("mattr")
    )
    return (
        perdoc.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(
                F.sum(F.col("mattr").cast("decimal(38,18)")).cast(
                    "double"
                )
                / F.count("*"),
                6,
            ).alias("avg_mattr"),
        )
        .orderBy("source")
    )


# --------------------------- unigram-LM tokenizer EM training (ask #3)
_ULM_ITERS = 2
_ULM_MAXLEN = 4
_ULM_TOPK = 30


def _doc_vocab(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.split(F.lower("text"), " ")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count("*").alias("freq"))
    )


@query(
    "train_unigram_lm",
    # rows-only by design: the piece table is the fixpoint of an EM
    # recurrence (forward-backward lattice per word) no single SQL
    # statement expresses — same gate family as bpe_train_merges.
    # Pinned EM-step-for-EM-step against a pure-Python reference on
    # the same corpus by tests/test_r10.py (r9 verdict ask #3).
    oracle=None,
    tags=("llm", "tokenizer", "unigram", "em", "iterative"),
)
def train_unigram_lm(spark, sf_dir):
    """UNIGRAM-LM (SentencePiece-style) TOKENIZER TRAINING via EM
    (Kudo 2018, public) — the second tokenizer family next to BPE:
    seed = all substrings <= {_ULM_MAXLEN} chars above a frequency
    floor plus full char coverage; then {_ULM_ITERS} EM iterations
    where the E-step is a per-distinct-word forward-backward lattice
    fold (mapInPandas over the vocab relation, piece table in the
    closure — the BPE-trainer shape) and the M-step is ONE hash agg +
    a driver-side renormalize over 6dp-rounded expected counts (the
    engine-noise determinism boundary). Output: the top-{_ULM_TOPK}
    pieces by final probability.

    Scale: corpus scanned once into the distinct-word vocab (Heaps'
    law bounded); each EM iteration is one mapInPandas pass + one
    bounded hash agg; driver state = the piece table only."""
    from gcp_etl_spark.functions.unigram_lm import em_train

    vocab = _doc_vocab(spark, sf_dir)
    probs = em_train(
        vocab, iters=_ULM_ITERS, max_len=_ULM_MAXLEN
    )
    top = sorted(probs.items(), key=lambda kv: (-kv[1], kv[0]))[:_ULM_TOPK]
    return spark.createDataFrame(
        [
            (i + 1, p, len(p), round(pr, 8))
            for i, (p, pr) in enumerate(top)
        ],
        "rank int, piece string, piece_len int, prob double",
    )


@query(
    "unigram_fertility_roundtrip",
    # rows-only by design (depends on the EM-trained piece table —
    # see train_unigram_lm); fertility and the zero-violation
    # round-trip are value-pinned vs the pure-Python reference in
    # tests/test_r10.py, matching functions/bpe.py's gate family.
    oracle=None,
    tags=("llm", "tokenizer", "unigram", "quality"),
)
def unigram_fertility_roundtrip(spark, sf_dir):
    """UNIGRAM TOKENIZER QUALITY TWIN (r9 verdict ask #3's second
    half): Viterbi-segment every distinct corpus word with the
    EM-trained piece table and report the metrics a tokenizer
    deployment gates on — corpus FERTILITY (freq-weighted tokens per
    word: the single best throughput/quality proxy for a tokenizer at
    100 TB), round-trip integrity (concat(pieces) == word for EVERY
    word — violations must be 0: unigram pieces are substrings, so a
    nonzero count means a broken lattice), mean piece length, and the
    share of single-character fallback tokens (high = the learned
    inventory is failing to cover the corpus)."""
    from gcp_etl_spark.functions.unigram_lm import em_train, segment_words

    vocab = _doc_vocab(spark, sf_dir)
    probs = em_train(vocab, iters=_ULM_ITERS, max_len=_ULM_MAXLEN)
    seg = segment_words(vocab, probs, max_len=_ULM_MAXLEN)
    return seg.agg(
        F.count("*").cast("long").alias("n_words"),
        F.sum("freq").cast("long").alias("corpus_words"),
        F.sum(F.col("freq") * F.col("n_tokens")).cast("long").alias(
            "corpus_tokens"
        ),
        F.round(
            F.sum(F.col("freq") * F.col("n_tokens"))
            / F.sum("freq").cast("double"),
            6,
        ).alias("fertility"),
        F.sum(
            F.when(F.concat_ws("", F.col("toks")) != F.col("w"), 1).otherwise(
                0
            )
        )
        .cast("long")
        .alias("roundtrip_violations"),
        F.round(
            F.avg(F.length("w") / F.col("n_tokens").cast("double")), 6
        ).alias("mean_piece_len"),
        F.round(
            F.sum(
                F.size(F.filter(F.col("toks"), lambda x: F.length(x) == 1))
                * F.col("freq")
            )
            / F.sum(F.col("freq") * F.col("n_tokens")).cast("double"),
            6,
        ).alias("char_fallback_share"),
    )
