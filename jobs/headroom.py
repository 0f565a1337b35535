"""Deterministic word-salad document corpus shared by the webtext
harnesses (``bench.py``, ``jobs/scaling.py``, ``jobs/webtext_pipeline.py``,
the benchmark's ``web`` workload) and ``tests/test_curation.py``.

Pure JVM-side generation: token j of doc i is ``_VOCAB[xxhash64(i, j) %
len(_VOCAB)]``, so the text depends only on the doc id and never on the
partitioning or the session.
"""

from __future__ import annotations

from pyspark.sql import functions as F


_VOCAB = [
    "key", "agg", "row", "scan", "slow", "fast", "table", "value", "part",
    "hash", "merge", "batch", "spark", "line", "sort", "window", "query",
    "join", "small", "big", "customer", "order", "data", "column", "stream",
    "group", "filter", "the", "a", "of", "to", "in", "is", "and", "for",
    "with", "from", "page", "web", "text", "corpus", "token", "model",
    "train", "split", "dedup", "chunk", "gram", "vocab", "bench",
]


def doc_text_expr(doc_id_col, n_tokens: int = 100):
    """Deterministic word-salad text for a doc id column: token j is
    vocab[xxhash64(id, j) % V]."""
    vocab = F.array(*[F.lit(w) for w in _VOCAB])
    toks = F.transform(
        F.sequence(F.lit(0), F.lit(n_tokens - 1)),
        lambda j: F.element_at(
            vocab,
            (
                F.pmod(F.xxhash64(doc_id_col, j), F.lit(len(_VOCAB))) + 1
            ).cast("int"),
        ),
    )
    return F.concat_ws(" ", toks)


def synth_docs(spark, n: int, n_tokens: int = 100):
    """Deterministic word-salad corpus: token j of doc i is vocab[
    xxhash64(i, j) % V]. Uncorrelated across docs (cross-doc chunk
    collisions only via the short tail), like the bench documents table."""
    df = spark.range(0, n, 1, 128).withColumnRenamed("id", "doc_id")
    return df.select(
        "doc_id", doc_text_expr(F.col("doc_id"), n_tokens).alias("text")
    )
