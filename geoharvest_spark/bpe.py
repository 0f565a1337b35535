"""Deterministic byte-pair-encoding (BPE) subword tokenizer.

Token-count realism for the training-data pipeline: whitespace tokens
undercount real (subword) tokens by 1.3-1.5x on web text, which skews
sequence packing and per-doc token accounting. This module provides:

- ``train_bpe``: classic Sennrich-style merge-table training (pure
  stdlib, fully deterministic — ties broken by lexicographically
  smallest pair, no RNG, no dict-order dependence), run driver-side on
  a small corpus sample, exactly like the IVF coarse quantizer's
  k-means: the merge table is tiny shared config, the corpus-scale
  application is distributed.

- the CODEGEN application path (``normalize_expr`` / ``wrap_expr`` /
  ``apply_merges_expr``): each character of the normalized text is
  wrapped as \\x1e<char>\\x1f by ONE regexp_replace pass, then each
  merge (a, b) -> ab is one literal ``replace`` of
  "\\x1ea\\x1f\\x1eb\\x1f" with "\\x1eab\\x1f" in merge-priority order.
  Wrapping makes token boundaries unambiguous (no merge pattern can
  match across or inside other tokens) and literal left-to-right
  replace is exactly the merge-all-occurrences step; because a merge's
  two parts are always produced by strictly earlier merges (training
  invariant), one pass per merge in priority order reproduces the
  classic lowest-rank-first application. Everything stays JVM-side
  whole-stage codegen — and the SAME rewrites replay in DuckDB SQL
  (see ``merge_chain_sql``), which is what makes the operator
  oracle-checkable.

- the ARROW application path (``token_count_udf``): a pandas_udf with
  the classic rank-dict merge loop and a per-batch word cache — the
  production path for large merge tables (32k merges would blow the
  codegen chain), Arrow-batched, never per-row Python.

Spaces are never merge symbols (words are pre-split in training), so a
space acts as a natural merge barrier in the wrapped stream and
``n_tokens = (#\\x1e sentinels) - (#spaces)`` counts word-piece tokens
exactly.
"""

from __future__ import annotations

from collections import Counter
from collections.abc import Callable, Iterable
from functools import lru_cache

import pandas as pd  # module-level: pandas_udf type-hint resolution
from pyspark.sql import Column
from pyspark.sql import functions as F

SEP_A = "\x1e"  # token-start sentinel (stripped from input text)
SEP_B = "\x1f"  # token-end sentinel (stripped from input text)


# ---------------------------------------------------------------------------
# training (driver-side, deterministic)
# ---------------------------------------------------------------------------
def train_bpe(
    texts: Iterable[str], n_merges: int = 64
) -> list[tuple[str, str]]:
    """Learn a merge table from ``texts``. Deterministic: the next merge
    is the pair with the highest frequency, ties broken by the
    lexicographically smallest (a, b). Stops early when no adjacent
    pair repeats. Spaces/separator sentinels never appear in symbols."""
    words: Counter[str] = Counter()
    for t in texts:
        for w in t.replace(SEP_A, "").replace(SEP_B, "").split():
            words[w] += 1
    seqs: dict[str, tuple[str, ...]] = {w: tuple(w) for w in words}
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pairs: Counter[tuple[str, str]] = Counter()
        for w, freq in words.items():
            s = seqs[w]
            for i in range(len(s) - 1):
                pairs[(s[i], s[i + 1])] += freq
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        if pairs[best] < 2:
            break  # nothing repeats — further merges are noise
        merges.append(best)
        a, b = best
        ab = a + b
        for w, s in seqs.items():
            if a not in s or b not in s:
                continue
            out: list[str] = []
            i = 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                    out.append(ab)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            seqs[w] = tuple(out)
    return merges


@lru_cache(maxsize=8)
def corpus_merges(
    sf_dir: str, n_docs: int = 200, n_merges: int = 64
) -> tuple[tuple[str, str], ...]:
    """Train the merge table on the first ``n_docs`` documents (by
    doc_id) of ``sf_dir``'s documents table — pure pyarrow/pandas, no
    Spark, so the Spark engine and the DuckDB oracle derive the SAME
    tiny shared config independently of either engine (the established
    pattern from the IVF centroids)."""
    import pyarrow.parquet as pq

    tbl = pq.read_table(
        f"{sf_dir}/documents.parquet", columns=["doc_id", "text"]
    ).to_pandas()
    tbl = tbl.sort_values("doc_id").head(n_docs)
    return tuple(train_bpe(tbl["text"].tolist(), n_merges))


# ---------------------------------------------------------------------------
# codegen application path (Spark Column expressions)
# ---------------------------------------------------------------------------
def normalize_expr(col: Column) -> Column:
    """Strip separator sentinels, collapse whitespace runs to single
    spaces, trim — the shared pre-tokenization both engines apply."""
    return F.trim(
        F.regexp_replace(
            F.regexp_replace(col, f"[{SEP_A}{SEP_B}]", ""), r"\s+", " "
        )
    )


def wrap_expr(col: Column) -> Column:
    """One regex pass wraps every char c as \\x1e c \\x1f."""
    return F.regexp_replace(col, "(.)", f"{SEP_A}$1{SEP_B}")


def apply_merges_expr(
    col: Column, merges: Iterable[tuple[str, str]]
) -> Column:
    """Chain one literal replace per merge, in priority order. Linear
    chain: each intermediate is referenced exactly once, so Catalyst
    collapses it into a single projection with no re-evaluation."""
    expr = col
    for a, b in merges:
        expr = F.replace(
            expr,
            F.lit(f"{SEP_A}{a}{SEP_B}{SEP_A}{b}{SEP_B}"),
            F.lit(f"{SEP_A}{a}{b}{SEP_B}"),
        )
    return expr


def _count_occurrences(col: Column, ch: str) -> Column:
    return F.length(col) - F.length(F.replace(col, F.lit(ch), F.lit("")))


def trained_consistent(merges: Iterable[tuple[str, str]]) -> bool:
    """True iff every merge's parts are buildable by strictly earlier
    merges (single chars are always buildable) — the training invariant
    under which the replace-chain and the classic lowest-rank-first
    loop provably agree (r6). A repeated pair is inconsistent too: the
    rank dict keeps its last rank while the chain applies its first.
    O(#merges), driver-side."""
    made: set[str] = set()
    seen: set[tuple[str, str]] = set()
    for a, b in merges:
        if (len(a) > 1 and a not in made) or (len(b) > 1 and b not in made):
            return False
        if (a, b) in seen:
            return False
        seen.add((a, b))
        made.add(a + b)
    return True


def with_bpe_token_count(
    df,
    merges: Iterable[tuple[str, str]],
    text_col: str = "text",
    out_col: str = "n_tokens_bpe",
    force_codegen: bool = False,
):
    """Add ``out_col`` = exact BPE token count of ``text_col`` under the
    merge table.

    r8 dispatch: when the merge table satisfies the trained-consistency
    invariant (checked driver-side in O(#merges)), the count runs on the
    Arrow rank-dict path — provably equal to the replace-chain for such
    tables (pinned in test_bpe: chain == rank-dict == reference loop)
    and ~12x faster at 250k docs (0.6 vs 7.9 s); the isNotNull mask
    keeps the codegen path's NULL-in -> NULL-out contract. Hand-crafted
    tables that violate the invariant, and ``force_codegen=True``, take
    the original all-codegen replace chain (the SQL-replayable oracle
    shape — the DuckDB oracle always replays that form independently).

    Codegen path: the normalized text and the merged stream are each
    staged through their own projection alias (referenced twice —
    CollapseProject keeps them; the inline-reuse trap from CLAUDE.md),
    so the merge chain evaluates once per row."""
    merges = list(merges)
    if not force_codegen and trained_consistent(merges):
        cnt = token_count_udf(merges)
        return df.withColumn(
            out_col,
            F.when(
                F.col(text_col).isNotNull(), cnt(F.col(text_col))
            ).cast("long"),
        )
    out = (
        df.withColumn("_bpe_norm", normalize_expr(F.col(text_col)))
        .withColumn(
            "_bpe_m", apply_merges_expr(wrap_expr(F.col("_bpe_norm")), merges)
        )
        .withColumn(
            out_col,
            (
                _count_occurrences(F.col("_bpe_m"), SEP_A)
                - _count_occurrences(F.col("_bpe_norm"), " ")
            ).cast("long"),
        )
    )
    return out.drop("_bpe_norm", "_bpe_m")


def tokens_array_expr(
    col: Column, merges: Iterable[tuple[str, str]]
) -> Column:
    """BPE token array of ``col`` (spaces dropped) — the drop-in
    tokenizer for chunk-level operators (chunk_dedup). Codegen: split
    the merged stream on the end sentinel, strip the start sentinel,
    filter out space tokens and the trailing empty element."""
    merged = apply_merges_expr(wrap_expr(normalize_expr(col)), list(merges))
    parts = F.split(merged, SEP_B)
    toks = F.transform(parts, lambda s: F.substring(s, 2, 1 << 30))
    return F.filter(
        toks, lambda t: (t != F.lit("")) & (t != F.lit(" "))
    )


# ---------------------------------------------------------------------------
# Arrow application path (production scale for large merge tables)
# ---------------------------------------------------------------------------
def tokenize_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Classic lowest-rank-first merge loop for one word."""
    seq = list(word)
    while len(seq) > 1:
        best_rank, best_i = None, -1
        for i in range(len(seq) - 1):
            r = ranks.get((seq[i], seq[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_i = r, i
        if best_rank is None:
            break
        a, b = seq[best_i], seq[best_i + 1]
        # merge ALL occurrences of this pair, left to right
        out: list[str] = []
        i = 0
        while i < len(seq):
            if i + 1 < len(seq) and seq[i] == a and seq[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(seq[i])
                i += 1
        seq = out
    return seq


def token_count_udf(
    merges: Iterable[tuple[str, str]],
) -> Callable[[Column], Column]:
    """Arrow-batched BPE token counter with a per-executor word cache —
    the scale path for merge tables too large for the codegen chain.
    Words repeat heavily in web text, so the cache turns the merge loop
    into a dict lookup for the bulk of the stream."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import LongType

    ranks = {tuple(m): i for i, m in enumerate(merges)}
    cache: dict[str, int] = {}

    @pandas_udf(LongType())
    def _count(texts: pd.Series) -> pd.Series:
        outs = []
        for t in texts:
            if t is None:
                outs.append(0)
                continue
            n = 0
            for w in t.replace(SEP_A, "").replace(SEP_B, "").split():
                c = cache.get(w)
                if c is None:
                    c = len(tokenize_word(w, ranks))
                    if len(cache) < 1_000_000:
                        cache[w] = c
                n += c
            outs.append(n)
        return pd.Series(outs, dtype="int64")

    return _count


# ---------------------------------------------------------------------------
# DuckDB oracle fragment
# ---------------------------------------------------------------------------
def merge_chain_sql(col: str, merges: Iterable[tuple[str, str]]) -> str:
    """The same wrap + per-merge literal rewrite chain as SQL over
    ``col`` — DuckDB replays the merges as deterministic string
    rewrites (replace() is left-to-right non-overlapping in both
    engines). Returns an expression string."""

    def q(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"

    expr = f"regexp_replace({col}, '(.)', {q(SEP_A)} || '\\1' || {q(SEP_B)}, 'g')"
    for a, b in merges:
        pat = f"{SEP_A}{a}{SEP_B}{SEP_A}{b}{SEP_B}"
        rep = f"{SEP_A}{a}{b}{SEP_B}"
        expr = f"replace({expr}, {q(pat)}, {q(rep)})"
    return expr


def normalize_sql(col: str) -> str:
    return (
        f"trim(regexp_replace(regexp_replace({col}, "
        f"'[{SEP_A}{SEP_B}]', '', 'g'), '\\s+', ' ', 'g'))"
    )
