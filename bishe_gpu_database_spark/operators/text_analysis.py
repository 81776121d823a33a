"""Text-analysis operators for training-data pipelines over ``documents``:
language-ID (marker-token voting), quality scoring, token counting
(whitespace + BPE-ish regex), and document fingerprinting.

All pure column expressions (whole-stage codegen; no UDFs) with exact
DuckDB oracles. At 100 TB each of these is a narrow map over the corpus —
no shuffle until the final per-source/per-lang aggregate, which is
partial-aggregated map-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from bishe_gpu_database_spark.functions.text import h48, norm_text, tokens
from bishe_gpu_database_spark.operators.relational import t
from bishe_gpu_database_spark.registry import register


_SQL_NORM = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
_SQL_TOKENS = f"string_split({_SQL_NORM}, ' ')"

# Deterministic marker vocabularies for the language-ID vote. The corpus
# is synthetic (same vocabulary across langs), so this demonstrates the
# operator's shape — marker-token voting with a deterministic tie-break —
# rather than real linguistics.
_MARKERS = {
    "en": ["the", "a", "value", "fast"],
    "de": ["der", "die", "und", "nicht"],
    "es": ["el", "la", "que", "por"],
    "fr": ["le", "la", "et", "pour"],
    "zh": ["window", "merge", "stream", "batch"],
}

_STOPWORDS = ["the", "a", "and", "of", "to", "in", "is", "it"]


def _sql_list(words: list[str]) -> str:
    return "[" + ", ".join(f"'{w}'" for w in words) + "]"


@register(
    "text_quality",
    oracle=f"""
    SELECT doc_id,
           length({_SQL_NORM}) AS n_chars_norm,
           len({_SQL_TOKENS}) AS n_tokens,
           round(CAST(length(replace({_SQL_NORM}, ' ', '')) AS DOUBLE)
                 / len({_SQL_TOKENS}), 6) AS avg_token_len,
           CASE WHEN length({_SQL_NORM}) > 0 THEN
             round(CAST(length({_SQL_NORM})
                        - length(regexp_replace({_SQL_NORM}, '[^a-z0-9 ]', '', 'g'))
                   AS DOUBLE) / length({_SQL_NORM}), 6)
           END AS punct_ratio,
           round(CAST(len(list_filter({_SQL_TOKENS},
                      tk -> list_contains({_sql_list(_STOPWORDS)}, tk))) AS DOUBLE)
                 / len({_SQL_TOKENS}), 6) AS stopword_ratio
    FROM documents
    """,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality signals: normalized length, token count, mean token length,
    punctuation ratio, stopword ratio — the standard pre-training filters.
    A narrow map over the corpus: the scan's split count sets its
    parallelism, and ``t()`` reads ``documents`` from its re-layout copy,
    so the per-doc regex work spans every core."""
    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    norm = norm_text(F.col("text"))
    toks = tokens(F.col("text"))
    stop_arr = F.array(*[F.lit(w) for w in _STOPWORDS])
    return d.select(
        "doc_id",
        F.length(norm).alias("n_chars_norm"),
        F.size(toks).alias("n_tokens"),
        F.round(
            F.length(F.replace(norm, F.lit(" "), F.lit(""))).cast("double") / F.size(toks), 6
        ).alias("avg_token_len"),
        # POSITIVE char class: len(strip([a-z0-9 ])) counts exactly the
        # chars the oracle's len(norm) - len(strip([^a-z0-9 ])) counts,
        # and Spark's regex engine runs the negated class ~9x slower
        # (measured 1.78s vs 0.20s over the sf1 corpus) — the r3 scale
        # probe's real text_quality bottleneck. The length guard keeps an
        # EMPTY/whitespace-only document (norm = '') a NULL ratio instead
        # of an ANSI DIVIDE_BY_ZERO job failure (r4 perturbed sweep).
        F.when(
            F.length(norm) > 0,
            F.round(
                F.length(F.regexp_replace(norm, "[a-z0-9 ]", "")).cast("double")
                / F.length(norm),
                6,
            ),
        ).alias("punct_ratio"),
        F.round(
            F.size(F.filter(toks, lambda tk: F.array_contains(stop_arr, tk))).cast("double")
            / F.size(toks),
            6,
        ).alias("stopword_ratio"),
    )


@register(
    "text_lang_id",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, lang,
             {" , ".join(
                f"len(list_filter({_SQL_TOKENS}, tk -> list_contains({_sql_list(ws)}, tk))) AS score_{lg}"
                for lg, ws in sorted(_MARKERS.items())
             )}
      FROM documents
    )
    SELECT doc_id, lang AS actual_lang,
           CASE greatest(score_de, score_en, score_es, score_fr, score_zh)
             {" ".join(
                f"WHEN score_{lg} THEN '{lg}'" for lg in sorted(_MARKERS)
             )}
           END AS pred_lang
    FROM scored
    """,
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language-ID: count marker-token hits per language, take
    the argmax with alphabetical tie-break (the CASE/greatest encodes the
    same tie order on both engines)."""
    d = t(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))

    def marker_hits(ws: list[str]) -> F.Column:
        arr = F.array(*[F.lit(w) for w in ws])
        return F.size(F.filter(toks, lambda tk: F.array_contains(arr, tk)))

    scores = {lg: marker_hits(ws) for lg, ws in sorted(_MARKERS.items())}
    best = F.greatest(*scores.values())
    pred = F.lit(None).cast("string")
    # CASE evaluated in alphabetical order: first language whose score
    # equals the max wins — mirror the SQL CASE's first-match semantics.
    expr = None
    for lg in sorted(_MARKERS):
        cond = scores[lg] == best
        expr = F.when(cond, lg) if expr is None else expr.when(cond, lg)
    pred = expr
    return d.select("doc_id", F.col("lang").alias("actual_lang"), pred.alias("pred_lang"))


@register(
    "text_token_count",
    oracle=f"""
    SELECT source,
           count(*) AS n_docs,
           sum(len({_SQL_TOKENS})) AS ws_tokens,
           sum(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]'))) AS bpe_ish_tokens
    FROM documents
    GROUP BY source
    """,
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace tokens and a BPE-ish regex
    (letter runs / digit runs / single punctuation) — the pre-training
    'how many tokens is this corpus' primitive."""
    d = t(spark, sf_dir, "documents")
    ws_tok = F.size(tokens(F.col("text")))
    # The negated class in the third alternative is KEPT despite Spark's
    # regex engine running negated classes ~4x slower (r4 measurement)
    # than explicit ASCII punct ranges: the negation is what makes the
    # segmentation unicode-correct (any non-alnum, non-ws code point is
    # one token), and a tokenizer that silently drops non-ASCII at 100 TB
    # is the worse trade.
    bpe_tok = F.size(F.regexp_extract_all(F.lower("text"), F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]"), 0))
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(ws_tok).alias("ws_tokens"),
        F.sum(bpe_tok).alias("bpe_ish_tokens"),
    )


@register(
    "text_fingerprint",
    oracle=f"""
    SELECT doc_id,
           md5({_SQL_NORM}) AS fp_md5,
           ('0x' || substr(md5({_SQL_NORM}), 1, 12))::BIGINT % 65536 AS fp_bucket
    FROM documents
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint: md5 of the normalized text + 16-bit shard
    bucket (the partitioning key a 100 TB dedup would shuffle on)."""
    d = t(spark, sf_dir, "documents")
    norm = norm_text(F.col("text"))
    return d.select(
        "doc_id",
        F.md5(norm).alias("fp_md5"),
        (h48(norm) % 65536).alias("fp_bucket"),
    )


@register(
    "text_winnow_fingerprint",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, {_SQL_NORM} AS norm FROM documents WHERE doc_id < 50
    ),
    hs AS (
      SELECT doc_id,
             list_transform(
               generate_series(1, greatest(length(norm) - 7, 0)),
               i -> ('0x' || substr(md5(substr(norm, i, 8)), 1, 12))::BIGINT
             ) AS h
      FROM base
    )
    SELECT doc_id,
           unnest(list_distinct(list_transform(
             generate_series(1, greatest(len(h) - 3, 0)),
             j -> list_min(h[j:j+3])))) AS fingerprint
    FROM hs
    """,
)
def text_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (rolling-hash) fingerprints: hash every 8-char k-gram of
    the normalized text, keep the min hash of each 4-wide sliding window,
    dedupe — the classic local fingerprinting scheme (MOSS). Guarantees a
    shared fingerprint for any shared substring ≥ 11 chars. All map-side
    (staged columns so lambdas read attributes); only (doc_id, int64)
    pairs shuffle. doc_id < 50 keeps the oracle comparison bounded."""
    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    K, W = 8, 4
    base = d.select("doc_id", norm_text(F.col("text")).alias("norm"))
    n = F.length("norm")
    idx = F.when(n >= K, F.sequence(F.lit(1), n - (K - 1))).otherwise(
        F.array().cast("array<int>")
    )
    hs = base.select(
        "doc_id",
        F.transform(idx, lambda i: h48(F.col("norm").substr(i, F.lit(K)))).alias("h"),
    )
    widx = F.when(F.size("h") >= W, F.sequence(F.lit(1), F.size("h") - (W - 1))).otherwise(
        F.array().cast("array<int>")
    )
    wins = hs.select(
        "doc_id",
        F.array_distinct(
            F.transform(widx, lambda j: F.array_min(F.slice(F.col("h"), j, W)))
        ).alias("fps"),
    )
    return wins.select("doc_id", F.explode("fps").alias("fingerprint"))


@register(
    "text_chunk_windows",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(coalesce(text, '')), '\\s+', ' ', 'g')), ' ') AS tk
      FROM documents
    )
    SELECT doc_id,
           CAST(i - 1 AS INT) AS chunk_id,
           array_to_string(tk[(i - 1) * 24 + 1 : (i - 1) * 24 + 32], ' ') AS chunk,
           least(len(tk) - (i - 1) * 24, 32) AS n_tokens
    FROM toks
    CROSS JOIN unnest(generate_series(1, greatest((len(tk) - 8 + 23) // 24, 1))) AS t(i)
    """,
)
def text_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document chunking for LLM context windows: 32-token chunks with
    8-token overlap (stride 24). Chunk boundaries are pure arithmetic on
    the materialized token array — map-side fan-out with no shuffle; the
    chunk count scales with corpus tokens, never with document count
    alone. The staple operator of embedding/RAG ingestion pipelines."""
    SIZE, STRIDE = 32, 24
    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    # NULL text folds to the empty doc (one empty chunk), mirrored in the
    # oracle — r5 NULL-text axis.
    toks = d.select(
        "doc_id", tokens(F.coalesce(F.col("text"), F.lit(""))).alias("tk")
    )
    n_chunks = F.greatest(
        F.ceil((F.size("tk") - (SIZE - STRIDE)) / STRIDE).cast("int"), F.lit(1)
    )
    chunks = toks.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), n_chunks),
                lambda i: F.concat_ws(
                    " ", F.slice(F.col("tk"), (i - 1) * STRIDE + 1, SIZE)
                ),
            )
        ),
    ).select("doc_id", F.col("pos").alias("_i"), F.col("col").alias("chunk"))
    toks_n = toks.select("doc_id", F.size("tk").alias("_n"))
    return (
        chunks.join(toks_n, "doc_id")
        .select(
            "doc_id",
            F.col("_i").cast("int").alias("chunk_id"),
            "chunk",
            F.least(F.col("_n") - F.col("_i") * STRIDE, F.lit(SIZE)).alias("n_tokens"),
        )
    )


@register(
    "text_redact",
    oracle=f"""
    SELECT doc_id,
           regexp_replace(
             regexp_replace(text, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{{2,}}',
                            '<EMAIL>', 'g'),
             '\\d{{3}}[-. ]?\\d{{3}}[-. ]?\\d{{4}}', '<PHONE>', 'g') AS redacted,
           length(text)
             - length(regexp_replace(text, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{{2,}}', '', 'g'))
             AS email_chars
    FROM documents
    """,
)
def text_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII-style redaction: email and phone patterns replaced with typed
    placeholder tokens — narrow regexp map over the corpus (the standard
    pre-training scrub), plus a per-doc 'how much was redacted' signal."""
    d = t(spark, sf_dir, "documents")
    email = r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"
    phone = r"\d{3}[-. ]?\d{3}[-. ]?\d{4}"
    redacted = F.regexp_replace(
        F.regexp_replace(F.col("text"), email, "<EMAIL>"), phone, "<PHONE>"
    )
    return d.select(
        "doc_id",
        redacted.alias("redacted"),
        (
            F.length("text") - F.length(F.regexp_replace(F.col("text"), email, ""))
        ).alias("email_chars"),
    )


@register(
    "text_top_tokens",
    oracle=f"""
    SELECT tk, n, rnk
    FROM (
      SELECT tk, count(*) AS n,
             row_number() OVER (ORDER BY count(*) DESC, tk) AS rnk
      FROM (SELECT unnest({_SQL_TOKENS}) AS tk FROM documents)
      GROUP BY tk
    ) WHERE rnk <= 50
    """,
)
def text_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary head: global token frequencies, top-50 with a
    deterministic tie-break. Explode → two-level aggregation (partial
    count map-side, so the shuffle carries (token, count), not tokens);
    the final top-k is a TakeOrdered, not a full sort."""
    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    tok = d.select(F.explode(tokens(F.col("text"))).alias("tk"))
    counts = tok.groupBy("tk").agg(F.count(F.lit(1)).alias("n"))
    w = W.orderBy(F.col("n").desc(), "tk")
    return (
        counts.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 50)
        .select("tk", "n", "rnk")
    )


@register(
    "text_oov_rate",
    oracle=f"""
    WITH tok AS (SELECT doc_id, unnest({_SQL_TOKENS}) AS tk FROM documents),
    vocab AS (
      SELECT tk FROM (
        SELECT tk, row_number() OVER (ORDER BY count(*) DESC, tk) AS rnk
        FROM tok GROUP BY tk
      ) WHERE rnk <= 20
    )
    SELECT t.doc_id, count(*) AS n_tokens,
           SUM(CASE WHEN v.tk IS NULL THEN 1 ELSE 0 END) AS n_oov
    FROM tok t LEFT JOIN vocab v ON t.tk = v.tk
    GROUP BY t.doc_id
    """,
)
def text_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary scoring: build the corpus vocabulary head (top-20
    tokens, deterministic tie-break) and score every document by how many
    of its tokens fall outside it — the cheap quality proxy for 'is this
    text normal for the corpus'. Two passes over the token stream, both
    aggregation-shaped; the vocabulary is top-k-bounded so it broadcasts,
    making the scoring join map-side at any corpus size. Counts stay
    integers — the rate is the consumer's division."""
    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    tok = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("tk"))
    w = W.orderBy(F.col("n").desc(), "tk")
    vocab = (
        tok.groupBy("tk")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 20)
        .select("tk", F.lit(1).alias("in_vocab"))
    )
    return (
        tok.join(F.broadcast(vocab), "tk", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0)).cast("long").alias("n_oov"),
        )
    )


@register(
    "text_hashing_features",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({_SQL_TOKENS}) AS tk FROM documents WHERE doc_id < 50
    )
    SELECT doc_id,
           ('0x' || substr(md5(tk), 1, 12))::BIGINT % 256 AS bucket,
           count(*) AS tf
    FROM tok
    WHERE len(tk) > 0
    GROUP BY doc_id, bucket
    """,
)
def text_hashing_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashing trick (HashingTF): tokens fold into a fixed 256-bucket
    feature space via the portable md5-48 hash — the vocabulary-free
    featurizer that never needs a fitted dictionary, so at 100 TB there is
    no vocab build pass and no OOV: tokenize → hash → per-(doc, bucket)
    count is a narrow map plus ONE aggregate whose key is (doc_id, int),
    never a string. Output restricted to doc_id < 50 to keep the gate
    result bounded; the bucket arithmetic is hash-checked bit-for-bit."""
    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    tok = d.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("tk")
    ).filter(F.length("tk") > 0)
    bucket = F.pmod(h48(F.col("tk")), F.lit(256))
    return tok.groupBy("doc_id", bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("tf")
    )


_BM25_TERMS = ["spark", "vector", "stream"]


@register(
    "text_bm25_topk",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({_SQL_TOKENS}) AS tok FROM documents
    ),
    dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
    totals AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM dl),
    tf AS (
      SELECT doc_id, tok, count(*) AS tf FROM toks
      WHERE tok IN {tuple(_BM25_TERMS)} GROUP BY doc_id, tok
    ),
    df AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
    scored AS (
      SELECT tf.doc_id,
             CAST(round(
               CAST(CAST(2*tt.n_docs - 2*df.df + 1 AS HUGEINT)
                    * 44 * tf.tf * tt.sum_dl AS DOUBLE)
               / CAST(CAST(2*df.df + 1 AS HUGEINT)
                      * (20*tf.tf*tt.sum_dl + 6*tt.sum_dl + 18*dl.dl*tt.n_docs)
                      AS DOUBLE),
               6) AS DECIMAL(18,6)) AS s
      FROM tf
      JOIN df USING (tok)
      JOIN dl USING (doc_id)
      CROSS JOIN totals tt
    ),
    agg AS (
      SELECT doc_id, CAST(SUM(s) AS DOUBLE) AS bm25
      FROM scored GROUP BY doc_id
    )
    SELECT doc_id, bm25, rn AS rank
    FROM (SELECT *, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rn
          FROM agg)
    WHERE rn <= 10
    """,
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval (k1=1.2, b=0.75) for a fixed term set, exact to the
    bit: with k1 and b rational, each term's score is a ratio of two
    integers — score = (2N−2df+1)·44·tf·Σdl /
    [(2df+1)·(20·tf·Σdl + 6·Σdl + 18·dl·N)] — so both engines do ONE
    double division on identical integers (wide-decimal intermediates:
    DECIMAL(38,0) here, HUGEINT in the oracle — the int64-wrap class from
    round 1's ADVICE is designed out), then sum per-term scores as
    DECIMAL. No floating log, no order-dependence. Plan shape at 100 TB:
    tokenize is a narrow map; dl and tf are partial-aggregated on doc_id;
    df and the corpus totals are tiny broadcasts; the final top-10 is
    TakeOrderedAndProject (no global sort). This is the retrieval-scoring
    primitive under RAG corpus construction and hard-negative mining."""
    d = t(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    totals = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("sum_dl")
    )
    tf = (
        toks.filter(F.col("tok").isin(_BM25_TERMS))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    D38 = "decimal(38,0)"
    scored = (
        tf.join(F.broadcast(df), "tok")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(totals))
    )
    num = (
        (2 * F.col("n_docs") - 2 * F.col("df") + 1).cast(D38)
        * 44
        * F.col("tf")
        * F.col("sum_dl")
    )
    den = (2 * F.col("df") + 1).cast(D38) * (
        20 * F.col("tf").cast(D38) * F.col("sum_dl")
        + 6 * F.col("sum_dl").cast(D38)
        + 18 * F.col("dl").cast(D38) * F.col("n_docs")
    )
    s = F.round(num.cast("double") / den.cast("double"), 6).cast("decimal(18,6)")
    agg = scored.select("doc_id", s.alias("s")).groupBy("doc_id").agg(
        F.sum("s").cast("double").alias("bm25")
    )
    top = agg.orderBy(F.desc("bm25"), "doc_id").limit(10)
    return top.withColumn(
        "rank", F.row_number().over(W.orderBy(F.desc("bm25"), "doc_id"))
    )


@register(
    "text_simpson_diversity",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({_SQL_TOKENS}) AS tk FROM documents
    ),
    cnt AS (
      SELECT doc_id, tk, count(*) AS c FROM tok WHERE len(tk) > 0
      GROUP BY doc_id, tk
    )
    SELECT doc_id,
           sum(c) AS n_tokens,
           count(*) AS n_distinct,
           round(CAST(sum(c * (c - 1)) AS DOUBLE)
                 / CAST(sum(c) * (sum(c) - 1) AS DOUBLE), 6) AS simpson
    FROM cnt
    GROUP BY doc_id
    HAVING sum(c) >= 2
    """,
)
def text_simpson_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical diversity per document via the Simpson index — the
    probability two tokens drawn without replacement are equal:
    Σc(c−1) / n(n−1). An EXACT integer rational (one double division on
    identical integers both engines) — the repetition/diversity signal
    Gopher-style quality gates use, with none of Shannon entropy's
    floating-log portability hazard. Narrow map → one (doc, token)
    aggregate → one per-doc aggregate; the token strings never shuffle
    past the first combine."""
    d = t(spark, sf_dir, "documents")
    cnt = (
        d.select("doc_id", F.explode(tokens(F.col("text"))).alias("tk"))
        .filter(F.length("tk") > 0)
        .groupBy("doc_id", "tk")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    agg = cnt.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.sum(F.col("c") * (F.col("c") - 1)).alias("_num"),
    )
    return (
        agg.filter(F.col("n_tokens") >= 2)
        .select(
            "doc_id",
            "n_tokens",
            "n_distinct",
            F.round(
                F.col("_num").cast("double")
                / (F.col("n_tokens") * (F.col("n_tokens") - 1)).cast("double"),
                6,
            ).alias("simpson"),
        )
    )


_N_BUCKETS = 64  # hashed feature space of the linear quality model


@register(
    "text_classifier_score",
    oracle=f"""
    SELECT doc_id,
           list_sum(list_transform({_SQL_TOKENS}, tk ->
             ('0x' || substr(md5('qw|' || CAST(
                ('0x' || substr(md5('qb|' || tk), 1, 12))::BIGINT % {_N_BUCKETS}
              AS VARCHAR)), 1, 12))::BIGINT % 2001 - 1000
           )) AS score,
           list_sum(list_transform({_SQL_TOKENS}, tk ->
             ('0x' || substr(md5('qw|' || CAST(
                ('0x' || substr(md5('qb|' || tk), 1, 12))::BIGINT % {_N_BUCKETS}
              AS VARCHAR)), 1, 12))::BIGINT % 2001 - 1000
           )) > 0 AS keep
    FROM documents
    """,
)
def text_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering (the fastText/DCLM-classifier stage of
    a pre-training pipeline) as hashed-linear-model INFERENCE: each token
    hashes into one of 64 feature buckets, each bucket carries a fixed
    integer weight (here derived from md5 so the oracle reproduces it;
    in production the weights are the trained model broadcast to every
    executor), and the doc's score is the integer dot product — exact,
    portable, no floats. The whole operator is a narrow per-row fold over
    the token array (whole-stage codegen, zero shuffle, zero UDF): at
    100 TB it streams the corpus once, which is precisely how a linear
    classifier gate should deploy — heavier models swap the fold for a
    broadcast-weights Pandas UDF with identical plumbing."""
    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    toks = tokens(F.col("text"))

    def tok_weight(tk) -> F.Column:
        b = h48(F.concat(F.lit("qb|"), tk)) % _N_BUCKETS
        return h48(F.concat(F.lit("qw|"), b.cast("string"))) % 2001 - 1000

    score = F.aggregate(
        toks, F.lit(0).cast("bigint"), lambda acc, tk: acc + tok_weight(tk)
    )
    return d.select(
        "doc_id", score.alias("score"), (score > 0).alias("keep")
    )


@register(
    "text_feature_hashing",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id,
             ('0x' || substr(md5(tk), 1, 12))::BIGINT AS h
      FROM (SELECT doc_id, unnest({_SQL_TOKENS}) AS tk
            FROM documents WHERE doc_id < 40)
    )
    SELECT doc_id,
           h % 64 AS feature_idx,
           SUM(CASE WHEN (h // 64) % 2 = 0 THEN 1 ELSE -1 END) AS value
    FROM tok
    GROUP BY doc_id, feature_idx
    """,
)
def text_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SIGNED feature hashing (the hash-kernel of Weinberger et al.
    ICML '09) — the unbiased companion to ``text_hashing_features``:
    that query is plain HashingTF (non-negative term-frequency counts,
    collisions ADD and bias inner products upward); this one draws a ±1
    sign from a second hash bit so colliding tokens cancel in
    expectation, making hashed inner products unbiased estimates of the
    true bag-of-words kernel — the variant you feed to linear models.
    Feature index is the token's 48-bit md5 hash mod 64; output is the
    sparse COO form (doc_id, feature_idx, value). Entirely stateless
    map-side expression work: no vocabulary broadcast, no dictionary
    fit — THE property that makes it the 100 TB featurizer (a
    vocabulary-indexed CountVectorizer needs a corpus-wide distinct +
    broadcast that grows with data; this needs nothing) — followed by
    one partial-aggregated groupBy on (doc_id, idx). Restricted to
    doc_id < 40 only to bound the oracle-compared output; the plan is
    identical unbounded."""
    tok = (
        t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 40)
        .select("doc_id", F.explode(tokens(F.col("text"))).alias("tk"))
        .select("doc_id", h48(F.col("tk")).alias("h"))
    )
    sign = F.when(F.expr("(h DIV 64) % 2 = 0"), F.lit(1)).otherwise(F.lit(-1))
    return (
        tok.select("doc_id", (F.col("h") % 64).alias("feature_idx"), sign.alias("s"))
        .groupBy("doc_id", "feature_idx")
        .agg(F.sum("s").alias("value"))
    )


# Dictionary for multi-pattern matching: category-tagged literal tokens.
_DICT = [
    ("fast", "perf"),
    ("slow", "perf"),
    ("join", "op"),
    ("scan", "op"),
    ("filter", "op"),
    ("agg", "op"),
    ("spark", "infra"),
    ("table", "infra"),
    ("hash", "infra"),
]


@register(
    "text_multipattern_match",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({_SQL_TOKENS}) AS tk FROM documents
    ),
    dict AS (
      SELECT * FROM (VALUES
        {", ".join(f"('{p}', '{c}')" for p, c in _DICT)}
      ) v(pattern, category)
    )
    SELECT d.category, d.pattern,
           count(*) AS n_hits,
           count(DISTINCT t.doc_id) AS n_docs
    FROM tok t JOIN dict d ON t.tk = d.pattern
    GROUP BY d.category, d.pattern
    """,
)
def text_multipattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-pattern dictionary matching: count occurrences and document
    frequency of every pattern in a category-tagged dictionary across the
    corpus in ONE pass. Spark-first shape: tokenize map-side, equi-join
    the token stream against the broadcast dictionary, aggregate — the
    distributed analogue of Aho–Corasick (one corpus scan regardless of
    dictionary size), and the scalable alternative to the
    per-row regex alternation `rlike('p1|p2|…')`, which is O(dict) per
    row, can't report per-pattern counts, and rebuilds the automaton in
    every task. At 100 TB: the dictionary (thousands of entries — PII
    terms, blocklists, eval-contamination markers) broadcasts in KB–MB,
    the token explode never materializes (pipelined into the join probe),
    and n_hits/n_docs partial-aggregate map-side. Multi-word patterns
    compose by matching on the engine's existing shingle stream
    (``shingles_of``) instead of unigram tokens — same join, longer
    keys."""
    tok = t(spark, sf_dir, "documents").select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("tk")
    )
    dict_df = spark.createDataFrame(_DICT, "pattern string, category string")
    return (
        tok.join(F.broadcast(dict_df), tok.tk == dict_df.pattern)
        .groupBy("category", "pattern")
        .agg(
            F.count(F.lit(1)).alias("n_hits"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
    )
