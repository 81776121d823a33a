"""Semantic invariants for the corpus-management pipeline operators
beyond oracle parity: split determinism and proportions, pack-budget
bounds, decontamination soundness (no surviving doc shares a shingle
with the eval corpus), and BPE pair counts against a corpus-side
recount."""

from __future__ import annotations

from pyspark.sql import functions as F

from bishe_gpu_database_spark.functions.text import shingles_of, tokens
from bishe_gpu_database_spark.operators.pipeline import (
    pipeline_decontaminate,
    pipeline_pack_sequences,
    pipeline_train_test_split,
)
from bishe_gpu_database_spark.operators.relational import t
from tests.conftest import SF_SMALL

PACK_BUDGET = 2048


def test_split_covers_corpus_and_roughly_90_5_5(spark):
    rows = pipeline_train_test_split(spark, SF_SMALL).collect()
    by_split = {}
    for r in rows:
        by_split[r["split"]] = by_split.get(r["split"], 0) + r["n_docs"]
    total = sum(by_split.values())
    assert total == t(spark, SF_SMALL, "documents").count()
    assert set(by_split) <= {"train", "valid", "test"}
    # hash buckets are i.i.d.; at 500 docs allow wide but directional margins
    assert by_split["train"] / total > 0.8
    assert by_split["train"] / total < 0.97


def test_split_is_deterministic(spark):
    a = sorted(map(tuple, pipeline_train_test_split(spark, SF_SMALL).collect()))
    b = sorted(map(tuple, pipeline_train_test_split(spark, SF_SMALL).collect()))
    assert a == b


def test_pack_budget_bound(spark):
    """A pack exceeds the token budget only via its own last document
    (contiguous binning overflows by at most one doc): tokens minus the
    largest member must stay under budget, and pack ids are dense per
    language."""
    rows = pipeline_pack_sequences(spark, SF_SMALL).collect()
    assert rows
    per_lang = {}
    for r in rows:
        assert r["pack_tokens"] - r["max_doc_tokens"] < PACK_BUDGET
        per_lang.setdefault(r["lang"], []).append(r["pack_id"])
    for lang, ids in per_lang.items():
        ids = sorted(ids)
        assert ids[0] == 0, lang
        # pack_id = floor(prior/budget) can skip only when one doc spans
        # multiple whole budgets
        assert len(set(ids)) == len(ids), lang


def test_decontaminate_sound(spark):
    """No surviving training doc may share a shingle with the eval set."""
    d = t(spark, SF_SMALL, "documents")
    sh = d.select(
        "doc_id", "source", F.explode(shingles_of(tokens(F.col("text")))).alias("sh")
    )
    ev = sh.filter(F.col("source") == "src0").select("sh").distinct()
    survivors = pipeline_decontaminate(spark, SF_SMALL)
    # recompute the surviving doc ids the same way the operator defines them
    bad = (
        sh.filter(F.col("source") != "src0")
        .join(ev, "sh", "left_semi")
        .select("doc_id")
        .distinct()
    )
    clean = d.filter(F.col("source") != "src0").join(bad, "doc_id", "left_anti")
    n_clean_direct = clean.count()
    n_clean_reported = sum(r["n_clean"] for r in survivors.collect())
    assert n_clean_direct == n_clean_reported
    # soundness: surviving docs' shingles never intersect the eval set
    leaked = (
        clean.select("doc_id")
        .join(sh, "doc_id")
        .join(ev, "sh", "left_semi")
        .count()
    )
    assert leaked == 0


def test_bpe_pair_counts_conserve_mass(spark):
    """Every reported pair count must equal an independent corpus-side
    recount (explode words directly, no vocab collapse)."""
    from bishe_gpu_database_spark.functions.text import tokens
    from bishe_gpu_database_spark.operators.pipeline import pipeline_bpe_pair_counts
    from bishe_gpu_database_spark.operators.relational import t

    got = {
        r["pair"]: r["n_occurrences"]
        for r in pipeline_bpe_pair_counts(spark, SF_SMALL).collect()
    }
    assert len(got) == 20
    d = t(spark, SF_SMALL, "documents").select("text")
    w = d.select(F.explode(tokens(F.col("text"))).alias("w")).filter(
        F.length("w") >= 2
    )
    direct = {
        r["pair"]: r["n"]
        for r in w.select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.length("w") - 1),
                    lambda i: F.substring(F.col("w"), i, F.lit(2)),
                )
            ).alias("pair")
        )
        .groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    for pair, n in got.items():
        assert direct[pair] == n, (pair, n, direct.get(pair))
