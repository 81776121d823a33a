"""Property-based losslessness check for the prefix-filtered set-
similarity join: on random tiny corpora drawn from a small vocabulary
(so shingle overlap is common), the Spark implementation must return
EXACTLY the pairs a brute-force Python Jaccard computation finds at
tau = 0.3 — the prefix filter may never drop a qualifying pair. On the
fixture, its pairs equal the brute-force shingle join's at that tau."""

from __future__ import annotations

import os
import tempfile

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from tests.conftest import SF_SMALL

VOCAB = [f"w{i}" for i in range(12)]
TAU = 0.3

doc_strategy = st.lists(
    st.sampled_from(VOCAB), min_size=5, max_size=12
)
corpus_strategy = st.lists(doc_strategy, min_size=2, max_size=8)


def _shingles(words: list[str]) -> set[str]:
    return {" ".join(words[i : i + 5]) for i in range(len(words) - 4)}


def _brute_pairs(corpus: list[list[str]]) -> set[tuple[int, int]]:
    sets = {i: _shingles(w) for i, w in enumerate(corpus)}
    out = set()
    for a in sets:
        for b in sets:
            if a < b and sets[a] and sets[b]:
                inter = len(sets[a] & sets[b])
                if inter and inter / len(sets[a] | sets[b]) >= TAU:
                    out.add((a, b))
    return out


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(corpus=corpus_strategy)
def test_prefix_filter_lossless_on_random_corpora(spark, corpus):
    from bishe_gpu_database_spark.operators.dedup import dedup_prefix_filter_join

    df = spark.createDataFrame(
        [(i, " ".join(w)) for i, w in enumerate(corpus)], "doc_id bigint, text string"
    )
    d = tempfile.mkdtemp(prefix="prefix_filter_hyp_")
    df.coalesce(1).write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
    got = {
        (r["doc_a"], r["doc_b"])
        for r in dedup_prefix_filter_join(spark, d).collect()
    }
    assert got == _brute_pairs(corpus)


def test_prefix_filter_join_equals_bruteforce(spark):
    """Prefix filtering must be lossless: its pair set at tau=0.3 equals
    the brute-force shingle-join pairs filtered to jaccard >= 0.3."""
    from bishe_gpu_database_spark.operators.dedup import (
        dedup_ngram_jaccard,
        dedup_prefix_filter_join,
    )

    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup_prefix_filter_join(spark, SF_SMALL).collect()
    }
    want = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup_ngram_jaccard(spark, SF_SMALL).collect()
        if r["jaccard"] >= 0.3
    }
    assert got == want and len(got) > 0
