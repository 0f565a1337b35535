"""Bigram language-model scoring — the perplexity-filtering stage of a
pre-training pipeline (CCNet / Gopher style: score every document
against a small LM trained on trusted text; drop the worst tail).

Spark-first shape:

- **Training is driver-side shared config** (the BPE / IVF-centroid
  pattern): a tiny add-one-smoothed bigram model fits in memory, is
  fully deterministic, and is consumed identically by the engine and
  the DuckDB oracle.
- **Costs are INTEGER micronats.** -log probabilities are transcendental;
  summing them as doubles is order-dependent and would break bit-exact
  oracle parity. The model therefore stores each bigram's cost as an
  int64 floor(-log(p) * 1e6) computed ONCE at training time; scoring
  sums integers (order-free, exact) and performs a single final
  division for the per-token average.
- **Scoring is a broadcast join, not a UDF**: tokens explode to
  bigrams (one staged split per doc), the model table broadcasts
  (<= ~100k rows), unknown bigrams take the model's OOV cost, and a
  two-stage hash aggregate emits per-doc totals. At 100 TB the only
  corpus-sized shuffle is the per-doc partial aggregation.
"""

from __future__ import annotations

import math
from collections import Counter
from functools import lru_cache

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

SCALE = 1_000_000  # micronats


def train_bigram_lm(
    texts, max_bigrams: int = 100_000
) -> dict[str, object]:
    """Add-one-smoothed bigram model with integer micronat costs.

    cost(w1, w2) = floor(-log((c(w1,w2) + 1) / (c(w1) + V)) * 1e6)
    oov_cost     = floor(-log(1 / (V + 1)) * 1e6)   (unseen history)

    Deterministic: counts are exact, log() is evaluated once here, and
    ties/iteration order cannot affect the emitted table (every kept
    bigram's cost depends only on its own counts). ``max_bigrams`` keeps
    the broadcast table bounded: the most frequent bigrams are kept
    (ties broken lexicographically), everything else scores as unseen
    under its history's smoothed mass."""
    uni: Counter[str] = Counter()
    bi: Counter[tuple[str, str]] = Counter()
    for t in texts:
        toks = t.split()
        uni.update(toks)
        bi.update(zip(toks, toks[1:]))
    vocab = len(uni)
    kept = sorted(bi.items(), key=lambda kv: (-kv[1], kv[0]))[:max_bigrams]
    costs = {
        (a, b): int(
            math.floor(-math.log((c + 1) / (uni[a] + vocab)) * SCALE)
        )
        for (a, b), c in kept
    }
    # unseen bigram whose HISTORY was seen: charge the history's add-one
    # floor; unseen history: global OOV. One shared constant keeps the
    # join single-key — the max over histories is the conservative charge.
    unseen_cost = int(
        math.floor(-math.log(1.0 / (min(uni.values()) + vocab)) * SCALE)
    ) if uni else 0
    return {
        "costs": costs,
        "oov_cost": unseen_cost,
        "vocab": vocab,
        "n_train_tokens": sum(uni.values()),
    }


@lru_cache(maxsize=8)
def corpus_lm(
    sf_dir: str, n_docs: int = 200, max_bigrams: int = 100_000
):
    """Train on the first ``n_docs`` documents (by doc_id) — pure
    pyarrow/pandas, no Spark, shared verbatim by engine and oracle."""
    import pyarrow.parquet as pq

    tbl = (
        pq.read_table(f"{sf_dir}/documents.parquet", columns=["doc_id", "text"])
        .to_pandas()
        .sort_values("doc_id")
        .head(n_docs)
    )
    return train_bigram_lm(tbl["text"].tolist(), max_bigrams)


def model_rows(model: dict) -> list[tuple[str, str, int]]:
    """(w1, w2, cost) rows in deterministic order, for DataFrames and
    the oracle's staged parquet."""
    return sorted(
        (a, b, c) for (a, b), c in model["costs"].items()
    )


def with_lm_score(
    df: DataFrame,
    model: dict,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document LM cost: (id, n_bigrams, cost_micronats,
    avg_cost_micronats). Documents with < 2 tokens carry zero bigrams
    and a NULL average (nothing to score — callers decide the policy).

    Plan: one staged token split per doc, posexplode_OUTER to bigrams
    (zero-bigram docs keep a null row, so no separate distinct-ids pass
    and restore join — r8, same single-pass shape as
    contamination_stats), ONE broadcast equi-join against the model
    table, two-stage hash aggregate per doc. avg = one integer
    division's double result (cost/n), bit-identical across engines."""
    spark = df.sparkSession
    # r8: join on ONE precomputed 64-bit key instead of the (w1, w2)
    # string pair — the broadcast-hash probe over ~50M bigram rows was
    # ~3.5 s of the 4.4 s leg (two string hashes + pair equality per
    # row). Model-side keys are computed DRIVER-side with the pure-
    # python XXH64 twin (pinned bit-equal to F.xxhash64 on strings in
    # test_functions), so build-side uniqueness is verified exactly up
    # front; in the astronomically-unlikely event two model bigrams
    # collide, fall back to the exact string-pair join unchanged.
    # Probe-side false matches remain possible in principle
    # (|model| * |distinct bigrams| / 2^64 ~ 1e-8) — the same accepted
    # class as the r8 gram-hash carriers. Unlike those, a false match here
    # changes an output value: the corpus bigram gets the colliding model
    # bigram's cost instead of oov_cost. So an lm-score hash mismatch
    # against the oracle should be re-checked with the string-pair join
    # before it is treated as a logic bug.
    from geoharvest_spark.functions import spark_xxhash64_strings

    rows = model_rows(model)
    keyed = [(spark_xxhash64_strings(a, b), c) for a, b, c in rows]
    use_key_join = len({k for k, _ in keyed}) == len(keyed)
    if use_key_join:
        mdf = spark.createDataFrame(keyed, "bk long, cost long")
    else:  # pragma: no cover - 2^-64-class event
        mdf = spark.createDataFrame(rows, "w1 string, w2 string, cost long")
    toks = F.col("_toks")
    base = df.select(
        F.col(id_col),
        F.split(F.col(text_col), r"\s+").alias("_toks"),
    )
    # explode bigram START positions (int array) and pick the two tokens
    # with plain element_at projections — building the struct array inside
    # a transform() HOF ran interpreted (CodegenFallback; the r8
    # gram-stream finding, see textops._gram_positions)
    pos_arr = F.when(
        F.size(toks) >= 2, F.sequence(F.lit(0), F.size(toks) - 2)
    ).otherwise(F.expr("cast(array() as array<int>)"))
    exploded = base.select(
        F.col(id_col),
        F.col("_toks"),
        F.explode_outer(pos_arr).alias("_p"),
    )
    if use_key_join:
        # the when() mask keeps the placeholder row's key NULL (a bare
        # xxhash64(null, null) would be the seed constant, not null),
        # so zero-bigram docs can never join; token strings themselves
        # never leave this projection
        grams = exploded.select(
            id_col,
            F.col("_p").isNotNull().alias("_has"),
            F.when(
                F.col("_p").isNotNull(),
                F.xxhash64(
                    F.element_at(F.col("_toks"), F.col("_p") + 1),
                    F.element_at(F.col("_toks"), F.col("_p") + 2),
                ),
            ).alias("bk"),
        )
        joined = grams.join(F.broadcast(mdf), ["bk"], "left")
    else:  # pragma: no cover - model-key collision fallback
        grams = exploded.select(
            id_col,
            F.col("_p").isNotNull().alias("_has"),
            F.element_at(F.col("_toks"), F.col("_p") + 1).alias("w1"),
            F.element_at(F.col("_toks"), F.col("_p") + 2).alias("w2"),
        )
        joined = grams.join(F.broadcast(mdf), ["w1", "w2"], "left")
    scored = joined.select(
        id_col,
        # null exactly on the placeholder row of a zero-bigram doc, so
        # count("c") below is the true bigram count
        F.when(
            F.col("_has"), F.coalesce(F.col("cost"), F.lit(model["oov_cost"]))
        ).alias("c"),
    )
    return scored.groupBy(id_col).agg(
        F.count("c").alias("n_bigrams"),
        F.coalesce(F.sum("c"), F.lit(0)).alias("cost_micronats"),
    ).select(
        id_col,
        "n_bigrams",
        "cost_micronats",
        F.when(
            F.col("n_bigrams") > 0,
            F.col("cost_micronats").cast("double")
            / F.col("n_bigrams").cast("double"),
        ).alias("avg_cost_micronats"),
    )
