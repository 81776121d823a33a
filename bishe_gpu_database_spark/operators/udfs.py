"""The user-defined-function surface: every Python-extension hook the
engine exposes, each on its fastest available path.

The reference's only "user logic" hooks are compile-time C++ value
generators (ref: src/cuda/kv.cuh:64-78, src/database/common/random.h:8-41);
an analytics engine needs runtime-pluggable logic. Four tiers, slowest
path avoided throughout:

- scalar ``@pandas_udf``      — Arrow-batched, vectorized pandas ops
- grouped-agg ``@pandas_udf`` — UDAF over a whole group as a Series
- ``applyInPandas``           — full-DataFrame-per-group UDF (grouped map)
- Python UDTF                 — table function, one row in → many out

Everything here is deliberately *integer/string-exact* so the DuckDB
oracles hash-match bit-for-bit: float folds stay JVM-side in
``operators.similarity``; Python re-implementations of them would differ
in last-ulp summation order.

Scale: all four run as Arrow batches inside executors — no collect, no
driver loop. Grouped variants shuffle once on the group key, same as any
groupBy; a group must fit one executor's memory (documented limit of the
grouped-map API).
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf, udtf
from pyspark.sql.types import IntegerType, LongType

from bishe_gpu_database_spark.operators.relational import t
from bishe_gpu_database_spark.registry import register

_SQL_NORM = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"


# ---------------------------------------------------------------------------
# 1. Scalar pandas UDF (Arrow-vectorized, one Series in → one Series out)
# ---------------------------------------------------------------------------


@pandas_udf(IntegerType())
def _token_count_vec(text: pd.Series) -> pd.Series:
    """Vectorized token count: lower → collapse whitespace → split.
    Mirrors functions.text.norm_text/tokens exactly. NULL text stays NULL
    (nullable Int32, not int32: .astype('int32') raises on the NaN a None
    produces — r5 perturbed-sweep NULL-text axis)."""
    norm = text.str.lower().str.replace(r"\s+", " ", regex=True).str.strip()
    return norm.str.split(" ").str.len().astype("Int32")


@register(
    "udf_pandas_token_count",
    oracle=f"""
    SELECT doc_id, len(string_split({_SQL_NORM}, ' ')) AS n_tokens
    FROM documents
    """,
)
def udf_pandas_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar pandas UDF: Arrow ships string batches to Python once; the
    pandas str ops are vectorized C under the hood — the 10-100× faster
    alternative to a row-at-a-time Python UDF."""
    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    return d.select("doc_id", _token_count_vec(F.col("text")).alias("n_tokens"))


# ---------------------------------------------------------------------------
# 2. Grouped-aggregate pandas UDF (UDAF: Series per group → one scalar)
# ---------------------------------------------------------------------------


@pandas_udf(LongType())
def _char_spread(n_chars: pd.Series) -> int:
    """UDAF body: max-min spread — integer-exact, order-independent."""
    return int(n_chars.max() - n_chars.min())


@pandas_udf(LongType())
def _group_size(n_chars: pd.Series) -> int:
    """UDAF body: group cardinality (grouped-agg pandas UDFs cannot mix
    with built-in aggregates in one agg, so the count is a UDAF too)."""
    return int(len(n_chars))


@register(
    "udf_grouped_agg_spread",
    oracle="""
    SELECT lang, max(n_chars) - min(n_chars) AS char_spread,
           count(*) AS n_docs
    FROM documents GROUP BY lang
    """,
)
def udf_grouped_agg_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-agg pandas UDFs: each UDAF column gets the whole group's
    values as one Arrow batch (one shuffle on lang, same as any agg)."""
    d = t(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        _char_spread(F.col("n_chars")).alias("char_spread"),
        _group_size(F.col("n_chars")).alias("n_docs"),
    )


# ---------------------------------------------------------------------------
# 3. applyInPandas (grouped map: DataFrame per group → DataFrame)
# ---------------------------------------------------------------------------


@register(
    "udf_apply_in_pandas_summary",
    oracle="""
    SELECT source, count(*) AS n_docs, sum(n_chars) AS total_chars,
           max(n_chars) AS max_chars, min(doc_id) AS first_doc
    FROM documents GROUP BY source
    """,
)
def udf_apply_in_pandas_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map UDF: each source's docs arrive as ONE pandas frame
    (shuffle on source, then Arrow transfer). The shape for custom
    per-group model logic the built-in aggs can't express — here doing
    exact integer stats so the oracle can still verify it."""
    d = t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")

    def summarize(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "source": [pdf["source"].iloc[0]],
                "n_docs": [len(pdf)],
                "total_chars": [int(pdf["n_chars"].sum())],
                "max_chars": [int(pdf["n_chars"].max())],
                "first_doc": [int(pdf["doc_id"].min())],
            }
        )

    return d.groupBy("source").applyInPandas(
        summarize,
        schema="source string, n_docs bigint, total_chars bigint, "
        "max_chars bigint, first_doc bigint",
    )


# ---------------------------------------------------------------------------
# 4. Python UDTF (table function: one row → many rows)
# ---------------------------------------------------------------------------


class ShingleUDTF:
    """5-word w-shingling as a table function (lateral join source).
    Python mirror of functions.text.shingles_of. Wrapped with
    ``udtf(returnType=...)`` at registration time — decorating at import
    would require an active SparkContext to parse the DDL schema."""

    def eval(self, text: str):
        if text is None:
            return
        words = re.sub(r"\s+", " ", text.lower()).strip().split(" ")
        seen = set()
        for i in range(max(0, len(words) - 4)):
            sh = " ".join(words[i : i + 5])
            if sh not in seen:
                seen.add(sh)
                yield (sh,)


@register(
    "udf_udtf_shingles",
    oracle=f"""
    SELECT doc_id, unnest(list_distinct(list_transform(
      generate_series(1, greatest(len(string_split({_SQL_NORM}, ' ')) - 4, 0)),
      i -> array_to_string(string_split({_SQL_NORM}, ' ')[i:i+4], ' ')))) AS shingle
    FROM documents WHERE doc_id < 50
    """,
)
def udf_udtf_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF via LATERAL join: each document row fans out to its
    distinct shingles, executor-side with no shuffle before it. Arrow
    transfer enabled explicitly — UDTFs default to pickled row-at-a-time
    (BatchEvalPython in the plan); with the flag they ride the same Arrow
    batches as pandas UDFs."""
    spark.conf.set("spark.sql.execution.pythonUDTF.arrow.enabled", "true")
    spark.udtf.register("shingle_udtf", udtf(ShingleUDTF, returnType="shingle: string"))
    t(spark, sf_dir, "documents").filter(F.col("doc_id") < 50).select(
        "doc_id", "text"
    ).createOrReplaceTempView("_udtf_docs")
    return spark.sql(
        "SELECT d.doc_id, s.shingle FROM _udtf_docs d, "
        "LATERAL shingle_udtf(d.text) s"
    )


# ---------------------------------------------------------------------------
# 5. mapInPandas (iterator of batches — already exercised in
#    operators.multimodal; registered here as the partition-stream shape)
# ---------------------------------------------------------------------------


@register(
    "udf_map_in_pandas_filter",
    oracle=f"""
    SELECT doc_id, n_chars FROM documents
    WHERE len(string_split({_SQL_NORM}, ' ')) >= 40
    """,
)
def udf_map_in_pandas_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInPandas as a streaming per-partition filter+project: batches in,
    batches out, nothing materialized per group — the shape for quality
    filtering with a Python-only model in the loop."""
    d = t(spark, sf_dir, "documents").select("doc_id", "text", "n_chars")

    def keep_long(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            norm = pdf["text"].str.lower().str.replace(r"\s+", " ", regex=True).str.strip()
            mask = norm.str.split(" ").str.len() >= 40
            yield pdf.loc[mask, ["doc_id", "n_chars"]]

    return d.mapInPandas(keep_long, schema="doc_id bigint, n_chars bigint")


# ---------------------------------------------------------------------------
# 6. mapInArrow — the zero-copy tier: raw Arrow RecordBatches in/out, no
#    pandas materialization at all. The right tier for numeric kernels
#    over fixed-width array columns (embeddings): columnar buffer →
#    numpy view → vectorized math → columnar buffer.
# ---------------------------------------------------------------------------


@register(
    "udf_map_in_arrow",
    oracle="""
    SELECT vec_id, label,
           round(sqrt(list_sum(list_transform(generate_series(1, 64),
             i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))), 6)
             AS norm
    FROM embeddings
    """,
)
def udf_map_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector L2 norm via ``mapInArrow``: each RecordBatch's list
    column is viewed as an (n, 64) float32 matrix with zero copies, and
    the fold runs dimension-sequentially in float64 — the SAME operation
    order as the oracle's ``list_sum(list_transform(...))`` and the
    JVM-side ``aggregate`` fold in operators.similarity, so all three
    agree bit-for-bit before the defensive round(…, 6). This is the tier
    below pandas: no index, no block manager, just Arrow buffers — the
    template for any custom numeric kernel at 100 TB."""
    import numpy as np
    import pyarrow as pa

    def norms(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            tbl = pa.table(b)
            emb = tbl.column("embedding").combine_chunks()
            flat = emb.flatten().to_numpy(zero_copy_only=False)
            m = flat.reshape(-1, 64).astype(np.float64)
            acc = np.zeros(m.shape[0], dtype=np.float64)
            for i in range(64):  # dimension-sequential => oracle's fold order
                acc = acc + m[:, i] * m[:, i]
            yield pa.RecordBatch.from_arrays(
                [
                    tbl.column("vec_id").combine_chunks(),
                    tbl.column("label").combine_chunks(),
                    pa.array(np.round(np.sqrt(acc), 6), type=pa.float64()),
                ],
                names=["vec_id", "label", "norm"],
            )

    e = t(spark, sf_dir, "embeddings").select("vec_id", "label", "embedding")
    return e.mapInArrow(norms, "vec_id long, label int, norm double")


# ---------------------------------------------------------------------------
# 7. Polymorphic Python UDTF (Spark 4: analyze() computes the output schema
#    at plan time from a constant argument — one UDTF, many shapes)
# ---------------------------------------------------------------------------


class _CharStatsPoly:
    """Output columns are CHOSEN BY THE CALLER: analyze() parses the
    constant field list during planning and returns that exact schema, so
    the same UDTF serves any stat subset with full column pruning — the
    Spark 4 polymorphic-UDTF contract (a static returnType would force
    every caller to compute and carry every stat)."""

    @staticmethod
    def analyze(text, fields):
        from pyspark.sql.types import IntegerType, StructType

        from pyspark.sql.udtf import AnalyzeResult

        schema = StructType()
        for name in [f.strip() for f in fields.value.split(",")]:
            schema = schema.add(name, IntegerType())
        return AnalyzeResult(schema=schema)

    def eval(self, text: str, fields: str):
        names = [f.strip() for f in fields.split(",")]
        if text is None:
            # NULL text → one row of NULL stats: SQL length(NULL) IS NULL,
            # and the lateral join is INNER, so yielding nothing would
            # DROP the document (r6 perturbed NULL-first-doc axis).
            yield tuple(None for _ in names)
            return
        stats = {
            "n_chars": len(text),
            "n_spaces": text.count(" "),
            "n_words": len([w for w in text.split(" ") if w]),
        }
        yield tuple(stats[f] for f in names)


@register(
    "udf_udtf_polymorphic",
    oracle="""
    SELECT doc_id,
           CAST(length(text) AS INT) AS n_chars,
           CAST(length(text) - length(replace(text, ' ', '')) AS INT) AS n_spaces
    FROM documents
    WHERE doc_id < 100
    """,
)
def udf_udtf_polymorphic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lateral application of the polymorphic UDTF: the caller asks for
    ('n_chars, n_spaces') and the planner binds exactly that two-column
    schema — requesting a different list re-plans a different shape with
    no code change. Arrow-batched like every Python boundary here; the
    oracle recomputes both stats in pure SQL."""
    from pyspark.sql.functions import lit, udtf

    spark.udtf.register("char_stats_poly", udtf(_CharStatsPoly, useArrow=True))
    t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100).select(
        "doc_id", "text"
    ).createOrReplaceTempView("_poly_docs")
    return spark.sql(
        """
        SELECT d.doc_id, s.n_chars, s.n_spaces
        FROM _poly_docs d,
        LATERAL char_stats_poly(d.text, 'n_chars, n_spaces') s
        """
    )


# ---------------------------------------------------------------------------
# 8. applyInArrow — grouped-map at the zero-copy tier (Spark 4): each
#    group arrives as ONE pyarrow.Table, no pandas block manager.
# ---------------------------------------------------------------------------


@register(
    "udf_apply_in_arrow_grouped",
    oracle="""
    SELECT label,
           count(*) AS n_vecs,
           CAST(SUM(CAST(floor(CAST(embedding[1] AS DOUBLE) * 1000) AS BIGINT))
                AS BIGINT) AS sum_milli_first,
           min(vec_id) AS first_vec
    FROM embeddings
    GROUP BY label
    """,
)
def udf_apply_in_arrow_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map Arrow UDF (``groupBy().applyInArrow``, Spark 4): the
    whole group lands as one pyarrow.Table — the zero-copy sibling of
    applyInPandas for per-group numeric kernels (per-class embedding
    stats, per-entity model fits) where pandas materialization is pure
    overhead. Integer milli-units keep the group stats exact, so the
    grouped-map path itself is oracle-gated, not just smoke-tested. One
    shuffle on the group key, Arrow transfer both ways; group size
    bounds executor memory (labels are bounded-cardinality classes)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def stats(tbl: pa.Table) -> pa.Table:
        first = pc.list_element(tbl.column("embedding").combine_chunks(), 0)
        milli = pc.floor(pc.multiply(pc.cast(first, pa.float64()), 1000.0))
        return pa.table(
            {
                "label": pa.array([tbl.column("label")[0].as_py()], pa.int32()),
                "n_vecs": pa.array([tbl.num_rows], pa.int64()),
                "sum_milli_first": pa.array(
                    [int(pc.sum(pc.cast(milli, pa.int64())).as_py())], pa.int64()
                ),
                "first_vec": pa.array(
                    [int(pc.min(tbl.column("vec_id")).as_py())], pa.int64()
                ),
            }
        )

    e = t(spark, sf_dir, "embeddings").select("vec_id", "label", "embedding")
    return e.groupBy("label").applyInArrow(
        stats, "label int, n_vecs bigint, sum_milli_first bigint, first_vec bigint"
    )


@pandas_udf(LongType())
def _iter_weighted_len(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
    """Iterator-form scalar pandas UDF body: the expensive one-time init
    (stand-in for loading a model/tokenizer onto the worker) runs ONCE
    per Python worker, then every Arrow batch reuses it. Deterministic
    integer scoring so the oracle hash-matches."""
    # one-time per-worker init — this is the line a real pipeline spends
    # seconds on (torch.load / tokenizer file); batches then stream.
    weights = {c: (i * 2 + 1) for i, c in enumerate("abcdefghijklmnopqrstuvwxyz")}
    for texts in batches:
        # NULL text scores 0, matching the oracle's COALESCE(s, 0) —
        # arrives here as None (r6 perturbed NULL-first-doc axis).
        yield texts.map(
            lambda s: sum(weights.get(ch, 0) for ch in s.lower())
            if isinstance(s, str)
            else 0
        ).astype("int64")


@register(
    "udf_pandas_iter_model_score",
    oracle=f"""
    WITH letters AS (
      SELECT i, chr(CAST(96 + i AS INTEGER)) AS ch, (i - 1) * 2 + 1 AS w
      FROM generate_series(1, 26) t(i)
    ),
    per_doc AS (
      SELECT d.doc_id, SUM(l.w) AS s
      FROM (SELECT doc_id, unnest(string_split_regex(lower(text), '')) AS ch
            FROM documents WHERE doc_id < 200) d
      JOIN letters l USING (ch)
      GROUP BY d.doc_id
    )
    SELECT docs.doc_id, CAST(COALESCE(p.s, 0) AS BIGINT) AS model_score
    FROM (SELECT doc_id FROM documents WHERE doc_id < 200) docs
    LEFT JOIN per_doc p USING (doc_id)
    """,
)
def udf_pandas_iter_model_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterator-of-Series pandas UDF (``Iterator[pd.Series] ->
    Iterator[pd.Series]``) — the fifth and final Python-extension tier,
    and THE shape for batch ML inference on Spark: expensive per-worker
    initialization (model load, tokenizer build) happens once per Python
    worker process, outside the batch loop, then Arrow batches stream
    through the resident model. A plain scalar pandas UDF re-enters
    Python per batch with no init hook — at 100 TB with a multi-GB model
    the iterator form is the difference between loading the model once
    per executor and once per task. The 'model' here is a deterministic
    per-letter integer weight table so the score is integer-exact and
    the DuckDB oracle (explicit letter-weight join) hash-gates the
    plumbing: Arrow batch boundaries, worker reuse, and init-once
    semantics leave no trace in the result, which is exactly the
    contract being verified."""
    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return d.select(
        "doc_id", _iter_weighted_len(F.col("text")).alias("model_score")
    )
