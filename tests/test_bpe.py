"""Deterministic BPE tokenizer: training golden, three-way application
equivalence (codegen chain == rank-dict Python == Arrow UDF), and the
tokenizer-injection seams of chunk_dedup / pack_sequences /
with_token_stats."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from geoharvest_spark import bpe
from geoharvest_spark import textops as tx


def test_train_bpe_golden_hand_computed():
    """The classic Sennrich example, merges hand-derived.

    Corpus word freqs: low*5, lower*2, newest*6, widest*3.
    Pair counts round 1: (l,o)=7, (o,w)=7, (w,e)=2, (e,r)=2, (n,e)=6,
    (e,w)=6, (e,s)=9, (s,t)=9, (w,i)=3, (i,d)=3, (d,e)=3.
    Max 9 tie (e,s) vs (s,t) -> lexicographically smaller ('e','s').
    Round 2: (es,t)=9 wins. Round 3: (l,o)=(o,w)=7 -> ('l','o').
    Round 4: (lo,w)=7. Round 5: (n,e)=(e,w)=6 -> ('e','w') ... etc."""
    texts = [
        "low low low low low",
        "lower lower",
        "newest newest newest newest newest newest",
        "widest widest widest",
    ]
    merges = bpe.train_bpe(texts, 6)
    assert merges == [
        ("e", "s"),
        ("es", "t"),
        ("l", "o"),
        ("lo", "w"),
        ("e", "w"),
        ("ew", "est"),
    ]
    # determinism: same input -> same table, regardless of text order
    assert bpe.train_bpe(list(reversed(texts)), 6) == merges
    ranks = {m: i for i, m in enumerate(merges)}
    assert bpe.tokenize_word("lowest", ranks) == ["low", "est"]
    assert bpe.tokenize_word("newest", ranks) == ["n", "ewest"]
    assert bpe.tokenize_word("low", ranks) == ["low"]
    assert bpe.tokenize_word("xyz", ranks) == ["x", "y", "z"]


def test_train_bpe_stops_when_nothing_repeats():
    merges = bpe.train_bpe(["abc def"], 100)
    assert merges == []  # every pair occurs once — no merge is learned


def _rand_texts(n: int, seed: int) -> list[str]:
    rng = np.random.default_rng(seed)
    vocab = ["low", "lower", "lowest", "newest", "wide", "widest", "a",
             "ab", "abab", "ababab", "xyz", "aaaa", "aaab", "banana"]
    return [
        " ".join(rng.choice(vocab, size=rng.integers(0, 12)))
        for _ in range(n)
    ]


def test_three_way_application_equivalence(spark):
    """Codegen replace-chain count == classic lowest-rank-first Python
    tokenizer == Arrow UDF, over fuzzed texts including repeats,
    overlapping pairs (aaaa), and empties."""
    texts = _rand_texts(120, 11)
    merges = bpe.train_bpe(texts, 40)
    assert len(merges) > 10
    ranks = {m: i for i, m in enumerate(merges)}
    ref = [
        sum(len(bpe.tokenize_word(w, ranks)) for w in t.split())
        for t in texts
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    got = (
        bpe.with_bpe_token_count(df, merges)
        .orderBy("doc_id")
        .select("n_tokens_bpe")
        .toPandas()["n_tokens_bpe"]
        .tolist()
    )
    assert got == ref
    udf_got = (
        df.select("doc_id", bpe.token_count_udf(merges)(F.col("text")).alias("n"))
        .orderBy("doc_id")
        .toPandas()["n"]
        .tolist()
    )
    assert udf_got == ref
    # token ARRAYS agree too (not just counts)
    arrs = (
        df.select(
            "doc_id", bpe.tokens_array_expr(F.col("text"), merges).alias("a")
        )
        .orderBy("doc_id")
        .toPandas()["a"]
        .tolist()
    )
    for t, arr in zip(texts, arrs):
        want = [tok for w in t.split() for tok in bpe.tokenize_word(w, ranks)]
        assert list(arr) == want


def test_bpe_sentinels_and_whitespace_are_stripped(spark):
    """Input text containing the sentinel bytes or whitespace runs must
    not corrupt the stream: sentinels are stripped, runs collapse."""
    merges = bpe.train_bpe(["ab ab ab"], 4)
    df = spark.createDataFrame(
        [(0, "ab\x1eab"), (1, "ab \x1f ab"), (2, "  ab\t\nab  ")],
        ["doc_id", "text"],
    )
    got = (
        bpe.with_bpe_token_count(df, merges)
        .orderBy("doc_id")
        .toPandas()["n_tokens_bpe"]
        .tolist()
    )
    # row0: "abab" -> [ab, ab] = 2; row1: "ab ab" -> 2; row2: same
    assert got == [2, 2, 2]


def test_chunk_dedup_bpe_tokenizer_seam(spark):
    """chunk_dedup over BPE tokens: chunks are token-count windows of
    the subword stream; a repeated boilerplate block dedups identically
    to the whitespace path but with subword-accurate chunk boundaries."""
    texts = {
        0: "banana banana banana banana",
        1: "banana banana banana banana",  # exact dup of 0
        2: "wide lowest banana banana",
    }
    merges = bpe.train_bpe(list(texts.values()), 20)
    ranks = {m: i for i, m in enumerate(merges)}
    df = spark.createDataFrame(list(texts.items()), ["doc_id", "text"])
    K = 3
    out = {
        r["doc_id"]: r
        for r in tx.chunk_dedup(
            df,
            chunk_tokens=K,
            tokenizer=lambda c: bpe.tokens_array_expr(c, merges),
            emit_text=True,
        ).collect()
    }
    # python reference: same chunking over the reference token stream
    seen: dict[str, tuple[int, int]] = {}
    ref: dict[int, list[str]] = {}
    for did in sorted(texts):
        toks = [
            t for w in texts[did].split() for t in bpe.tokenize_word(w, ranks)
        ]
        chunks = [
            " ".join(toks[i : i + K]) for i in range(0, len(toks), K)
        ]
        kept = []
        for idx, ch in enumerate(chunks):
            if ch not in seen:
                seen[ch] = (did, idx)
            if seen[ch] == (did, idx):
                kept.append(ch)
        ref[did] = (len(chunks), kept)
    for did, (n_chunks, kept) in ref.items():
        assert out[did]["n_chunks"] == n_chunks
        assert out[did]["n_kept"] == len(kept)
        assert out[did]["dedup_text"] == " ".join(kept)
    # doc 1 collapses entirely (all chunks seen in doc 0)
    assert out[1]["n_kept"] == 0


def test_pack_sequences_token_count_seam(spark):
    texts = _rand_texts(60, 5)
    merges = bpe.train_bpe(texts, 30)
    ranks = {m: i for i, m in enumerate(merges)}
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    out = (
        tx.pack_sequences(
            bpe.with_bpe_token_count(df, merges),
            seq_len=16,
            buckets=4,
            token_count=F.col("n_tokens_bpe"),
        )
        .orderBy("id")
        .toPandas()
    )
    ref_counts = {
        i: sum(len(bpe.tokenize_word(w, ranks)) for w in t.split())
        for i, t in enumerate(texts)
    }
    assert out.set_index("id")["n_tokens"].to_dict() == ref_counts
    # offsets are per-bucket cumsums of the BPE counts
    for b, grp in out.groupby("bucket"):
        grp = grp.sort_values("id")
        assert (
            grp["tok_offset"].values
            == np.concatenate([[0], grp["n_tokens"].cumsum().values[:-1]])
        ).all()


def test_with_token_stats_bpe_column(spark):
    texts = ["low lower lowest", ""]
    merges = bpe.train_bpe(["low low lower lowest"], 8)
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    out = tx.with_token_stats(df, bpe_merges=merges).orderBy("doc_id").collect()
    assert "n_tokens_bpe" in out[0].asDict()
    assert out[1]["n_tokens_bpe"] == 0
    ranks = {m: i for i, m in enumerate(merges)}
    want = sum(len(bpe.tokenize_word(w, ranks)) for w in texts[0].split())
    assert out[0]["n_tokens_bpe"] == want
    # plain call (no merges) keeps the old schema
    plain = tx.with_token_stats(df)
    assert "n_tokens_bpe" not in plain.columns


def test_merge_chain_sql_quotes_and_matches(spark):
    """DuckDB replay of the merge chain equals the Spark codegen chain,
    including a token containing a single quote."""
    import duckdb

    texts = ["don't don't don't can't", "don't stop"]
    merges = bpe.train_bpe(texts, 12)
    assert any("'" in a + b for a, b in merges)  # quote actually exercised
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    got = (
        bpe.with_bpe_token_count(df, merges)
        .orderBy("doc_id")
        .toPandas()["n_tokens_bpe"]
        .tolist()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t(doc_id INT, text VARCHAR); INSERT INTO t VALUES "
        + ",".join(
            f"({i}, '{t.replace(chr(39), chr(39) * 2)}')"
            for i, t in enumerate(texts)
        )
    )
    nrm = bpe.normalize_sql("text")
    chain = bpe.merge_chain_sql("nrm", merges)
    sql = (
        f"WITH n AS (SELECT doc_id, {nrm} AS nrm FROM t), "
        f"m AS (SELECT doc_id, nrm, {chain} AS m FROM n) "
        "SELECT cast(length(m) - length(replace(m, '\x1e', '')) - "
        "(length(nrm) - length(replace(nrm, ' ', ''))) AS BIGINT) AS c "
        "FROM m ORDER BY doc_id"
    )
    oracle = [r[0] for r in con.execute(sql).fetchall()]
    assert got == oracle


def test_bpe_plan_single_stage_no_reevaluation(spark):
    """Plan pin (the inline-reuse discipline from test_plans.py): the
    merge chain must evaluate once per row — 3 regexp_replace total
    (2 normalize + 1 wrap, normalize staged despite 2 references), and
    exactly n_merges + 2 literal replaces (chain + 2 count diffs), all
    inside whole-stage codegen Projects."""
    import re

    from geoharvest_spark import synth  # noqa: F401  (spark fixture warm)

    df = spark.createDataFrame([(0, "ab ab ba")], ["doc_id", "text"])
    merges = [("a", "b"), ("b", "a"), ("ab", "ab")]
    out = bpe.with_bpe_token_count(df, merges, force_codegen=True)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("regexp_replace") == 3
    assert len(re.findall(r"(?<!regexp_)replace\(", plan)) == len(merges) + 2
    phys = out._jdf.queryExecution().executedPlan().toString()
    for line in phys.split("\n"):
        if "Project" in line:
            assert line.lstrip().startswith(("*", "+- *", ": *")) or "*(" in line, line


def test_bpe_dispatch_consistent_vs_not(spark):
    """r8: trained-consistent tables dispatch to the Arrow rank-dict
    path (equal counts, pinned above); inconsistent hand-crafted tables
    keep the codegen replace chain. NULL text stays NULL either way."""
    df = spark.createDataFrame(
        [(0, "ab ab ba"), (1, None)], ["doc_id", "text"]
    )
    good = [("a", "b"), ("a", "ab")]
    assert bpe.trained_consistent(good)
    plan_good = (
        bpe.with_bpe_token_count(df, good)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "ArrowEvalPython" in plan_good
    bad = [("ab", "c")]  # "ab" never built by an earlier merge
    assert not bpe.trained_consistent(bad)
    plan_bad = (
        bpe.with_bpe_token_count(df, bad)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "EvalPython" not in plan_bad
    # NULL contract + value agreement between the two paths
    import pandas as pd

    a = bpe.with_bpe_token_count(df, good).orderBy("doc_id").toPandas()
    b = (
        bpe.with_bpe_token_count(df, good, force_codegen=True)
        .orderBy("doc_id").toPandas()
    )
    assert a["n_tokens_bpe"].tolist()[:1] == b["n_tokens_bpe"].tolist()[:1]
    assert pd.isna(a["n_tokens_bpe"][1]) and pd.isna(b["n_tokens_bpe"][1])


def test_bpe_repeated_merge_pair_is_inconsistent(spark):
    """A merge table that repeats a pair fails the consistency gate: the
    rank dict keeps the pair's LAST rank while the replace chain applies
    it FIRST. On "abcd" the chain merges ab, then cd (2 tokens); rank-dict
    order would merge bc first (3 tokens). The gate must keep the chain."""
    dup = [("a", "b"), ("b", "c"), ("c", "d"), ("a", "b")]
    assert not bpe.trained_consistent(dup)
    df = spark.createDataFrame([(0, "abcd")], ["doc_id", "text"])
    got = bpe.with_bpe_token_count(df, dup).first()["n_tokens_bpe"]
    chain = (
        bpe.with_bpe_token_count(df, dup, force_codegen=True)
        .first()["n_tokens_bpe"]
    )
    assert got == chain == 2
