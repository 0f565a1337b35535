"""Text-analysis + deduplication operators for the documents table.

Large-scale training-data-pipeline operators, Spark-first:

- exact dedup: md5 hash-groupBy (one shuffle, map-side combine);
- n-gram Jaccard near-dup: blocked self-join on cheap keys + exact token-set
  Jaccard via array intersection/union (all JVM built-ins);
- MinHash + LSH: vectorized numpy minhash signatures (Arrow batch), banded
  into buckets, candidates = bucket equi-join (no O(n^2) pass);
- SimHash: 64-bit signatures from token hashes, near-dup = same signature
  bucket + Hamming distance <= threshold;
- language id: stopword-marker scoring with JVM-side token matching;
- quality scoring: length / word stats / uppercase & digit ratios;
- token counting: whitespace + BPE-ish subword estimate;
- fingerprinting: order-invariant content fingerprint (md5 of sorted
  distinct tokens) — robust to word reordering.

Determinism: every hash derives from md5/xxhash64 of content — no Python
hash(), no RNG — so retries and resumes reproduce identical results.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# tokenization / counting
# ---------------------------------------------------------------------------
def tokens_col(text: Column) -> Column:
    """Whitespace tokenization (documents.text is single-spaced words)."""
    return F.split(text, r"\s+")


def with_token_stats(
    df: DataFrame,
    text_col: str = "text",
    bpe_merges: "list[tuple[str, str]] | None" = None,
) -> DataFrame:
    """Token & char counts + a BPE-ish subword estimate (~chars/4 heuristic
    blended with word count, the common LLM token estimator). Pass a
    trained ``bpe_merges`` table (see bpe.train_bpe) to ALSO get the
    exact subword count as ``n_tokens_bpe`` — the real-pipeline token
    accounting; the estimate column stays for comparison.

    The token array is staged once per row (``_toks`` alias referenced
    twice — CollapseProject keeps it; see BASELINE.md round-4 on the
    inline-split trap)."""
    if bpe_merges is not None:
        from geoharvest_spark import bpe

        df = bpe.with_bpe_token_count(df, bpe_merges, text_col=text_col)
    toks = F.col("_toks")
    return (
        df.withColumn("_toks", tokens_col(F.col(text_col)))
        .withColumn("n_tokens", F.size(toks))
        .withColumn("n_chars_calc", F.length(F.col(text_col)))
        .withColumn(
            "n_subwords_est",
            F.ceil(
                F.length(F.col(text_col)) / F.lit(4.0) * F.lit(0.75)
                + F.size(toks) * F.lit(0.25)
            ).cast("long"),
        )
        .drop("_toks")
    )


def with_quality(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Quality heuristics: word count, mean word length, uppercase ratio,
    digit ratio, distinct-token ratio. All JVM expressions (codegen);
    the token array is staged once per row (multi-referenced alias).

    Input is spread to session parallelism when narrow (guide §2.1): the
    two regexp_replace passes + split/array_distinct are the dominant cost
    and would otherwise run inside a single-row-group scan task (measured
    2.6 s single-task at 50k docs vs ~0.3 s spread)."""
    from .session import spread_narrow

    # key on the text column so the exchange only carries columns consumers
    # actually use (an all-columns hash key would pin every input column
    # into the shuffle and defeat pruning — seen in the plan)
    df = spread_narrow(df, key=text_col)
    toks = F.col("_toks")
    n_chars = F.length(F.col(text_col))
    n_upper = n_chars - F.length(
        F.regexp_replace(F.col(text_col), r"[A-Z]", "")
    )
    n_digit = n_chars - F.length(
        F.regexp_replace(F.col(text_col), r"[0-9]", "")
    )
    n_tokens = F.size(toks)
    return (
        df.withColumn("_toks", tokens_col(F.col(text_col)))
        .withColumn("n_words", n_tokens)
        .withColumn(
            "mean_word_len",
            (n_chars - (n_tokens - 1)) / n_tokens,  # exact for single-spaced
        )
        .withColumn("upper_ratio", n_upper / n_chars)
        .withColumn("digit_ratio", n_digit / n_chars)
        .withColumn("distinct_ratio", F.size(F.array_distinct(toks)) / n_tokens)
        .drop("_toks")
    )


def repetition_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 2,
) -> DataFrame:
    """Gopher-style repetition quality metrics per document: the fraction
    of all n-gram occurrences taken by the single most frequent n-gram
    (``top_gram_frac``) and the fraction that are repeats of an earlier
    occurrence (``dup_gram_frac`` = 1 - distinct/total). High values mark
    boilerplate / TEMPLATE pages that repetition filters drop before
    training (the "duplicate n-gram fraction" family of the Gopher and C4
    cleaning rules).

    Plan shape: gram START POSITIONS explode (an int array — r8; the gram
    strings themselves are built by a plain codegen projection afterwards,
    5.5x faster than exploding an interpreted-HOF string array), then
    counted with a two-stage hash aggregate (map-side partial combine).
    Both shuffles key on (doc, gram) / doc — corpus-sized data never
    converges anywhere, so the plan is the same at 100 TB. Docs shorter
    than ``n`` tokens have no n-grams and drop out (the SQL oracle
    mirrors this).

    The token array is STAGED through its own projection (headroom
    finding, BASELINE.md round-4): the gram lambda references it n+2
    times, and building grams straight off ``split(text)`` inlines one
    split per reference — Catalyst's CollapseProject keeps a multiply-
    referenced non-cheap alias in its own Project, so the staged form
    splits each doc once (22x measured on the 8-gram path).
    """
    base = df.select(
        F.col(id_col), tokens_col(F.col(text_col)).alias("_toks")
    )
    g = (
        base.select(
            F.col(id_col),
            F.col("_toks"),
            F.explode_outer(_gram_positions(F.col("_toks"), n)).alias("_p"),
        )
        .where(F.col("_p").isNotNull())
        .select(
            F.col(id_col),
            # r8: hash the token-array slice directly — the gram is only
            # a grouping key here (never exposed), so xxhash64 over the
            # array gives identical equality classes with no gram-string
            # build and a narrow long shuffle key (collision odds
            # ~n^2/2^64 per doc — far below the 60-bit md5 prefix this
            # family accepts elsewhere)
            F.xxhash64(
                F.slice(F.col("_toks"), F.col("_p") + 1, n)
            ).alias("gram"),
        )
    )
    per = g.groupBy(id_col, "gram").agg(F.count(F.lit(1)).alias("c"))
    return (
        per.groupBy(id_col)
        .agg(
            F.sum("c").alias("n_grams"),
            F.max("c").alias("top_gram_n"),
            F.count(F.lit(1)).alias("n_distinct"),
        )
        .select(
            F.col(id_col),
            F.col("n_grams").cast("long").alias("n_grams"),
            (F.col("top_gram_n") / F.col("n_grams")).alias("top_gram_frac"),
            ((F.col("n_grams") - F.col("n_distinct")) / F.col("n_grams")).alias(
                "dup_gram_frac"
            ),
        )
    )


def hash_split(
    df: DataFrame,
    id_col: str = "doc_id",
    weights: tuple[int, ...] = (80, 10, 10),
    names: tuple[str, ...] = ("train", "val", "test"),
    salt: str = "split",
) -> DataFrame:
    """Deterministic hash-based dataset split (train/val/test): bucket =
    md5(salt || id) mod 100, assigned to splits by cumulative weight.
    This is how training pipelines split at scale — no RNG, no state: the
    assignment is a pure function of the id, so resumes, retries, and
    re-runs on different cluster sizes all agree, and changing the salt
    re-rolls the split without touching data. 15 hex chars (60 bits) keep
    the integer exact in both int64 and the SQL oracle's UBIGINT.

    Adds a ``split`` column; narrow (no shuffle)."""
    if sum(weights) != 100 or len(weights) != len(names):
        raise ValueError(
            f"weights must sum to 100 and pair with names: {weights} / {names}"
        )
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string"))), 1, 15
        ),
        16,
        10,
    ).cast("long")
    bucket = h % 100
    expr = F.lit(names[-1])
    acc = 0
    conds = []
    for w, nm in zip(weights[:-1], names[:-1]):
        acc += w
        conds.append((acc, nm))
    for acc, nm in reversed(conds):
        expr = F.when(bucket < acc, F.lit(nm)).otherwise(expr)
    return df.withColumn("split", expr)


def _gram_positions(toks: Column, n: int) -> Column:
    """0-based n-gram start positions (empty when too short) — ints only.

    The r8 gram-stream shape: explode THESE (cheap int array), then build
    each gram with a plain codegen projection over the staged token array
    (`concat_ws(' ', slice(toks, p + 1, n))`) — 5.5x faster than exploding
    gram strings built inside a transform() HOF, which runs interpreted
    (0.9 s vs 4.9 s for 11.5M 8-grams at 250k docs). Use explode_outer +
    an isNotNull filter on the exploded position, NOT a plain explode: the
    plain generator's inferred size>0 filter re-evaluates the generator
    input below the staging projection (the inline-split trap), while the
    outer variant carries no inferred filter."""
    return F.when(
        F.size(toks) >= n, F.sequence(F.lit(0), F.size(toks) - n)
    ).otherwise(F.expr("cast(array() as array<int>)"))


def normalized_text_col(text: Column) -> Column:
    """Decontamination normalizer (the 13-gram rule's preprocessing):
    lowercase, collapse every non-alphanumeric run to a single space,
    trim. Pure codegen — one lower + one regexp_replace in the scan
    stage. Aggressive by design: cased or punctuation-decorated
    near-matches hash to the same n-grams as the clean benchmark text."""
    return F.trim(F.regexp_replace(F.lower(text), r"[^a-z0-9]+", " "))


def contamination_stats(
    df: DataFrame,
    bench: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    normalize: bool = False,
) -> DataFrame:
    """Benchmark decontamination: for every corpus document, count the
    n-gram positions whose n-gram also occurs anywhere in the benchmark
    set — the standard eval-set contamination check run before training
    (exact n-gram overlap, the conservative variant of the 13-gram rule).

    Plan shape (single corpus pass, r8): the corpus explodes ONCE to
    (id, md5(gram)) — explode_outer, so zero-gram docs keep a null row —
    and LEFT-joins the benchmark's DISTINCT hashes (tiny build side, AQE
    broadcasts it); one per-doc hash aggregate then counts total grams
    (count of non-null hashes) and hits (count of matched marker) in the
    same pass. The previous shape tokenized the corpus twice (a separate
    totals pass) and paid an extra join to restore zero-hit docs
    (measured: 7.3 -> ~5 s at 250k docs); explode_outer also avoids the
    generator's inferred size>0 filter re-evaluating the gram transform.
    Corpus rows never pass through Python.

    The token arrays are staged through their own projection so each doc
    splits once (see repetition_stats — the inline form re-splits per
    lambda reference, n+2 per gram; 22x measured at n=8).

    With ``normalize=True`` both sides pass through
    ``normalized_text_col`` first (lowercase + strip punctuation), so
    cased/punctuated near-matches no longer slip through the exact-match
    check — the 13-gram rule's preprocessing.

    Returns (id, n_grams, n_hits, contaminated)."""
    txt = (
        normalized_text_col(F.col(text_col))
        if normalize
        else F.col(text_col)
    )
    base = df.select(F.col(id_col), tokens_col(txt).alias("_toks"))
    # gram positions explode; the gram string + md5 are a codegen
    # projection (r8 — see _gram_positions). The null position row that
    # explode_outer emits for a zero-gram doc yields h = NULL (guarded
    # when), exactly like md5(null gram) did before.
    # r8: the gram hash is a pure equality carrier (never exposed; the
    # DuckDB oracle computes its own membership independently), so
    # xxhash64 over the token-array slice replaces md5-of-gram-string on
    # BOTH sides — no gram-string build, a long join key instead of a
    # 32-char hex string, and better collision odds (64 vs 60 bits)
    corpus_g = base.select(
        F.col(id_col),
        F.col("_toks"),
        F.explode_outer(_gram_positions(F.col("_toks"), n)).alias("_p"),
    ).select(
        id_col,
        F.when(
            F.col("_p").isNotNull(),
            F.xxhash64(F.slice(F.col("_toks"), F.col("_p") + 1, n)),
        ).alias("h"),
    )
    bench_base = bench.select(tokens_col(txt).alias("_toks"))
    bench_h = (
        bench_base.select(
            F.col("_toks"),
            F.explode_outer(_gram_positions(F.col("_toks"), n)).alias("_p"),
        )
        .where(F.col("_p").isNotNull())
        .select(
            F.xxhash64(
                F.slice(F.col("_toks"), F.col("_p") + 1, n)
            ).alias("h")
        )
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    return (
        # explicit broadcast (guide §3.1): the distinct benchmark-hash side
        # is bounded by eval-set size by design, but its estimated size
        # sits just over the auto threshold — without the hint the planner
        # sorted all 11.5M corpus gram rows for a sort-merge join
        corpus_g.join(F.broadcast(bench_h), "h", "left")
        .groupBy(id_col)
        .agg(
            # count("h") skips the null row explode_outer emits for
            # zero-gram docs, so n_grams == size(grams) exactly
            F.count("h").alias("n_grams"),
            F.count("_hit").alias("n_hits"),
        )
        .select(
            F.col(id_col),
            "n_grams",
            "n_hits",
            (F.col("n_hits") > 0).alias("contaminated"),
        )
    )


def vocab_topk(
    df: DataFrame, k: int = 25, text_col: str = "text"
) -> DataFrame:
    """Corpus-level top-k token frequencies (exact): explode tokens,
    two-stage hash aggregate, global top-k with a deterministic
    (count desc, token) tie-break. The grouped state is vocabulary-sized
    (bounded), not corpus-sized; only k rows reach the driver."""
    return (
        df.select(F.explode(tokens_col(F.col(text_col))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("token"))
        .limit(k)
    )


# marker stopwords per language for the n-gram-heuristic language id
_LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "a", "in", "is"],
    "fr": ["le", "la", "les", "et", "de", "un", "est"],
    "de": ["der", "die", "das", "und", "ist", "ein", "nicht"],
    "es": ["el", "la", "los", "de", "que", "es", "un"],
}


def with_langid(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic language id: count marker-stopword hits per language over
    the token array (JVM array intersect — no UDF), argmax with 'und'
    (undetermined) when nothing matches. The lowercased token array is
    staged once per row (one lower+split, not one per language)."""
    toks = F.col("_ltoks")
    scores = []
    out = df.withColumn("_ltoks", tokens_col(F.lower(F.col(text_col))))
    for lang, markers in _LANG_MARKERS.items():
        score = F.size(
            F.filter(toks, lambda t: t.isin(*markers))  # noqa: B023
        )
        out = out.withColumn(f"_s_{lang}", score)
        scores.append((lang, f"_s_{lang}"))
    best = F.greatest(*[F.col(c) for _, c in scores])
    pred = F.lit("und")
    for lang, c in reversed(scores):  # earlier langs win ties
        pred = F.when(
            (F.col(c) == best) & (best > 0), F.lit(lang)
        ).otherwise(pred)
    return out.withColumn("lang_pred", pred).drop(
        "_ltoks", *[c for _, c in scores]
    )


def fingerprint_col(text: Column) -> Column:
    """Order-invariant document fingerprint: md5 over sorted distinct
    tokens — identical in DuckDB SQL for oracle checks."""
    return F.md5(
        F.concat_ws(" ", F.array_sort(F.array_distinct(tokens_col(text))))
    )


# ---------------------------------------------------------------------------
# deduplication
# ---------------------------------------------------------------------------
def exact_dedup(
    df: DataFrame, key_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact dedup: keep the smallest key per md5(text).

    groupBy on the hash (one shuffle); survivor choice is deterministic.
    Returns (hash, keep_id, n_dups).
    """
    return (
        df.select(F.md5(F.col(text_col)).alias("text_md5"), F.col(key_col))
        .groupBy("text_md5")
        .agg(
            F.min(key_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


def chunk_dedup(
    df: DataFrame,
    chunk_tokens: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
    emit_text: bool = False,
    tokenizer: "Callable[[Column], Column] | None" = None,
) -> DataFrame:
    """Sub-document exact dedup: split every document into fixed
    ``chunk_tokens``-token chunks, keep only the globally FIRST occurrence
    of each distinct chunk (ordered by (doc_id, chunk_idx)), and reassemble
    each document from its surviving chunks in order. This is the
    paragraph-level dedup step of a web-corpus pipeline (repeated headers,
    navigation blocks, and license boilerplate vanish corpus-wide while
    unique prose survives) expressed on a whitespace-token stream.

    Plan shape — first-wins WITHOUT a global sort: chunks are exploded with
    their position and hashed (xxhash64); the keeper is the shared
    ``_first_occurrence`` hash aggregate (min packed (doc_id, chunk_idx)
    per duplicated hash), left-joined back by a shuffle-hash join
    (broadcast-free, AQE-skew-safe), and reassembly is one more hash
    aggregate per doc with an array_sort on the (idx, chunk) pairs —
    per-DOC memory, never per-corpus.

    Returns (doc_id, n_chunks, n_kept, dedup_md5) where dedup_md5 is the
    md5 of the reassembled text — documents whose every chunk was seen
    earlier collapse to the empty string's md5.

    The token array is staged through its own projection so the doc is
    split once, not once per chunk (see repetition_stats).

    ``tokenizer`` swaps the token stream (Column -> array<string>), e.g.
    ``lambda c: bpe.tokens_array_expr(c, merges)`` chunks on real
    subword tokens; chunk text is the space-join of its tokens either
    way, so chunk identity/hashing is tokenizer-agnostic.
    """
    tok_fn = tokenizer if tokenizer is not None else tokens_col
    base = df.select(
        F.col(id_col), tok_fn(F.col(text_col)).alias("_toks")
    )
    toks = F.col("_toks")
    n_chunks = F.ceil(F.size(toks) / F.lit(float(chunk_tokens))).cast("int")
    # r8 gram-stream shape: explode chunk INDICES (cheap int array) and
    # build each chunk string with a plain codegen projection over the
    # staged token array — building the strings inside transform() ran
    # interpreted (HOFs are CodegenFallback, the ~13 µs/element finding).
    # posexplode_outer + isNotNull mirrors plain posexplode exactly
    # (null-array docs drop; the generator carries no inferred filter
    # that would re-evaluate the staged split). chunk_idx stays the
    # POSITION and the slice uses the element VALUE — identical to the
    # old transform-lambda pairing. The chunk hash is xxhash64 (equality
    # carrier only; dedup_md5 below still hashes the REASSEMBLED text
    # with md5 as the output contract requires).
    idxs = F.sequence(F.lit(0), n_chunks - 1)
    ex = (
        base.select(
            F.col(id_col),
            toks,
            F.posexplode_outer(idxs).alias("chunk_idx", "_i"),
        )
        .where(F.col("chunk_idx").isNotNull())
        .select(
            F.col(id_col),
            "chunk_idx",
            F.concat_ws(
                " ",
                F.slice(
                    toks, F.col("_i") * chunk_tokens + 1, chunk_tokens
                ),
            ).alias("chunk"),
        )
        .withColumn("h", F.xxhash64("chunk"))
    )
    # per-doc chunk count straight from the token count — no explode, no
    # chunk-string building, no aggregate; the size>0 filter mirrors
    # explode row semantics (a doc appears in the old explode-based totals
    # iff it has >=1 chunk, i.e. >=1 token). Predicate pushdown does
    # re-evaluate split() at the filter/scan sites (filters substitute
    # aliases regardless of staging — only PROJECT collapsing honors the
    # multi-ref rule), but a bare split is micro-cost next to the explode +
    # chunk-concat + md5 + exchange the old totals aggregate paid
    # (measured net: 3.12 -> 2.66 s at 250k docs, plan pinned).
    totals = base.where(F.size(toks) > 0).select(
        F.col(id_col), n_chunks.cast("long").alias("n_chunks")
    )
    return _dedup_exploded_chunks(ex, id_col, emit_text, totals)


def _dedup_exploded_chunks(
    ex: DataFrame,
    id_col: str,
    emit_text: bool,
    totals: DataFrame | None = None,
) -> DataFrame:
    """Shared first-wins chunk-dedup tail over exploded (id, chunk_idx,
    chunk, h) rows — used by both fixed-size (chunk_dedup) and
    content-defined (cdc_chunk_dedup) chunking.

    ``totals``: optional pre-computed (id, n_chunks) frame. Callers that
    can derive the per-doc chunk count WITHOUT exploding (fixed chunking:
    ceil(tokens/K)) pass it to skip a third full scan+tokenize+chunk-build
    pass over the corpus (r8, guide §1.2 "don't compute things you throw
    away" — the old totals branch re-built every chunk string just to
    count rows).

    The exploded stream is cached (r8, VERDICT r7 next-round #7): its
    consumers (keeper aggregate, join probe[, totals]) each re-ran the
    whole chunking lineage — for CDC that is the rolling-hash boundary
    pass, measured 3x at 250k docs (39.7 -> 14.5 s with the cache).
    DataFrame.cache() is MEMORY_AND_DISK, so at corpus scale the chunk
    stream spills rather than OOMs — the trade (spill I/O vs recomputing
    md5 chains) favors the cache precisely because the lineage is
    compute-heavy. Like dbscan's pair cache, blocks free on
    clearCache/session end; callers looping many invocations should
    clearCache between them."""
    # the packed keeper needs a NUMERIC id: with a string id the decimal
    # cast yields NULL (non-ANSI) or an opaque cast error (ANSI) deep in
    # the job — validate up front instead (ADVICE r7)
    _require_numeric_id(ex, id_col, "chunk dedup")
    ex = ex.cache()
    joined, ck = _first_occurrence(ex, "h", id_col, "chunk_idx", None)
    kept = joined.where(F.col("_keep").isNull() | (ck == F.col("_keep")))
    if totals is None:
        totals = ex.groupBy(id_col).agg(
            F.count(F.lit(1)).alias("n_chunks")
        )
    rebuilt = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("chunk_idx", "chunk"))
                ),
                lambda s: s["chunk"],
            ),
        ).alias("_dedup_text"),
    )
    empty_md5 = F.lit("d41d8cd98f00b204e9800998ecf8427e")  # md5("")
    out = totals.join(rebuilt, id_col, "left").select(
        F.col(id_col),
        "n_chunks",
        F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        F.coalesce(F.md5("_dedup_text"), empty_md5).alias("dedup_md5"),
        F.coalesce("_dedup_text", F.lit("")).alias("dedup_text"),
    )
    return out if emit_text else out.drop("dedup_text")


def cdc_chunk_dedup(
    df: DataFrame,
    window: int = 8,
    boundary_bits: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    emit_text: bool = False,
) -> DataFrame:
    """Content-defined chunking dedup: chunk boundaries are placed where
    the rolling ``window``-token gram hash has its low ``boundary_bits``
    bits zero (expected chunk length ~2^boundary_bits + window tokens),
    then globally-first-wins dedup over the variable chunks — the
    rsync/LBFS/CDC trick that makes chunk dedup INSERTION-ROBUST: a
    token inserted at the head of a page shifts every fixed-size chunk
    (chunk_dedup finds nothing), but content-defined boundaries re-align
    immediately after the edit, so all downstream chunks still dedup.

    Fully JVM-side: the boundary gram hash is CDC's own 60-bit map-side
    hash (md5 of the chr(31)-joined slice, first 15 hex digits). It
    defines the chunks, so the oracle replays the same spec in SQL
    (substring_span_dedup's xxhash64 is only an equality carrier and
    cannot stand in for it). r8 boundary pass: the rolling hash is
    computed on the EXPLODED position stream as a plain codegen
    projection (computing it inside the per-row cuts transform() ran
    interpreted — HOFs are CodegenFallback, ~13 us/gram, VERDICT r7 #7's
    "gram-hash stage" cost); boundary positions then aggregate back to a
    per-doc sorted cuts array (tiny rows: one per boundary HIT) and
    re-attach to the token array by an id equi-join. Chunk assembly from
    the cuts array stays per-row array work; the corpus-wide keeper is
    the shared hash-aggregate + shuffle-hash tail
    (_dedup_exploded_chunks). The keeper shuffle carries (hash, id, idx)
    only — never chunk text twice.

    Boundary spec (mirrored by the oracle): gram at token position i
    (0-based, i <= n-window) cuts AFTER token i + window - 1; chunks
    are the token spans between cuts, the tail span included.

    Returns (id, n_chunks, n_kept, dedup_md5[, dedup_text]) — same
    contract as chunk_dedup for side-by-side comparison.
    """
    if window < 2 or boundary_bits < 1:
        raise ValueError(
            f"window must be >= 2, boundary_bits >= 1: "
            f"{window}, {boundary_bits}"
        )
    mask = (1 << boundary_bits) - 1
    base = df.select(
        F.col(id_col), tokens_col(F.col(text_col)).alias("_toks")
    )
    toks = F.col("_toks")
    n = F.size(toks)
    sep = "\x1f"
    # boundary pass on the exploded position stream (codegen — see
    # docstring): hash each window-gram, keep positions whose low bits
    # are zero, aggregate the per-doc sorted cuts array (cut values are
    # strictly increasing per doc, so array_sort(collect_list) is exactly
    # the old in-order filter output)
    gh_col = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(sep, F.slice(toks, F.col("_p") + 1, window))
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    cut_rows = (
        base.select(
            F.col(id_col),
            toks,
            F.explode_outer(_gram_positions(toks, window)).alias("_p"),
        )
        .where(F.col("_p").isNotNull())
        .select(F.col(id_col), F.col("_p"), gh_col.alias("_gh"))
        .where(F.col("_gh").bitwiseAND(F.lit(mask)) == 0)
        .select(
            F.col(id_col), (F.col("_p") + window - 1).cast("int").alias("_cut")
        )
    )
    cuts_agg = cut_rows.groupBy(id_col).agg(
        F.array_sort(F.collect_list("_cut")).alias("_cuts_j")
    )
    with_cuts = base.join(cuts_agg, id_col, "left").select(
        F.col(id_col),
        toks,
        F.coalesce(
            F.col("_cuts_j"), F.expr("cast(array() as array<int>)")
        ).alias("_cuts"),
    )
    cuts = F.col("_cuts")
    # ANSI-safe tail edge: element_at only evaluates when cuts is
    # non-empty (CaseWhen branches evaluate in order)
    edges = F.concat(
        F.array(F.lit(-1).cast("int")),
        cuts,
        F.when(F.size(cuts) == 0, F.array((n - 1).cast("int")))
        .when(
            F.element_at(cuts, -1) != n - 1, F.array((n - 1).cast("int"))
        )
        .otherwise(F.expr("cast(array() as array<int>)")),
    )
    # stage the token array once (inline-split trap), then the edges
    # array once (each chunk references edges twice)
    staged = with_cuts.select(F.col(id_col), toks.alias("_toks2"), edges.alias("_e"))
    toks2, e2 = F.col("_toks2"), F.col("_e")
    chunks2 = F.when(
        F.size(toks2) > 0,
        F.transform(
            F.slice(e2, 2, F.size(e2) - 1),
            lambda e, j: F.concat_ws(
                " ",
                F.slice(
                    toks2,
                    F.element_at(e2, j + 1) + 2,
                    e - F.element_at(e2, j + 1),
                ),
            ),
        ),
    ).otherwise(F.expr("cast(array() as array<string>)"))
    # the dedup KEY is an equality carrier only (the boundary rolling
    # hash above is the spec; dedup_md5 below hashes the reassembled
    # text) — xxhash64 like the fixed-size path (r8)
    ex = staged.select(
        F.col(id_col), F.posexplode(chunks2).alias("chunk_idx", "chunk")
    ).withColumn("h", F.xxhash64("chunk"))
    # totals stays explode-based here ON PURPOSE (r8): a pre-explode
    # size(edges)-1 count removes the Generate that keeps the staged
    # rolling-hash projection from collapsing, and CollapseProject then
    # inlines the cuts chain per reference (inline-split trap family;
    # measured 4 s -> 86 s). chunk_dedup's fixed-size count is safe — its
    # count derives from the token array alone.
    return _dedup_exploded_chunks(ex, id_col, emit_text)


def ngram_jaccard_pairs(
    df: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int = 32,
) -> DataFrame:
    """Near-dup pairs by EXACT token-set Jaccard >= threshold.

    Candidates come from unigram MinHash-LSH (bands of r = num_hashes/bands
    rows), then the exact Jaccard — array intersect/union built-ins, bit-
    exact in DuckDB for the oracle — filters them. No blocked self-join
    anywhere: a skewed block key can no longer go O(block^2); the shuffle is
    O(docs * bands) + O(candidates).

    Recall: a pair at Jaccard J is missed with probability (1 - J^r)^bands;
    at the near-dup regime this operator targets (threshold >= ~0.7, r=2,
    b=32) that is < 1e-10 — and the driver's all-pairs DuckDB oracle would
    surface any miss as a hash mismatch.
    """
    base = df.select(
        F.col(key_col).alias("id"),
        F.array_sort(F.array_distinct(tokens_col(F.col(text_col)))).alias("toks"),
    )
    cand = minhash_lsh_pairs(
        df, key_col, text_col, num_hashes=num_hashes, bands=bands, shingle=1
    ).select("id_a", "id_b")
    a = base.select(F.col("id").alias("id_a"), F.col("toks").alias("toks_a"))
    b = base.select(F.col("id").alias("id_b"), F.col("toks").alias("toks_b"))
    pairs = cand.join(a, "id_a").join(b, "id_b")
    inter = F.size(F.array_intersect("toks_a", "toks_b"))
    union = F.size(F.array_union("toks_a", "toks_b"))
    return (
        pairs.withColumn("jaccard", inter / union)
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# MinHash: h_i(x) = (a_i * (x mod p) + b_i) mod p over 32-bit token hashes
# from md5 prefixes. p = 2^31-1 (Mersenne) keeps every intermediate product
# < 2^62, so the arithmetic is EXACT in int64 on both numpy and the DuckDB
# oracle (a larger p silently wraps numpy int64 and overflow-errors DuckDB).
_MINHASH_P = 2**31 - 1


def cooccurrence_counts(
    df: DataFrame,
    window: int = 2,
    text_col: str = "text",
    min_count: int = 1,
) -> DataFrame:
    """Corpus-wide token co-occurrence counts — the statistics table
    word2vec/GloVe-style training data prep starts from. For every
    position i and distance d in 1..window, the ORDERED pair
    (token[i], token[i+d]) counts once; pairs never cross document
    boundaries. Returns (w1, w2, n_pair) with n_pair >= ``min_count``.

    Plan shape: the token array is staged once per doc, the pair list
    is built by a nested transform (one array expression, no join),
    flattened and exploded, then ONE hash aggregate on (w1, w2) —
    partial map-side combine does the heavy lifting because natural-
    language pair frequency is Zipfian (hot pairs collapse to one
    combiner row per task before the shuffle). At 100 TB this is the
    canonical explode->count shape: ~window x token-count rows in
    flight per task, no state beyond the aggregate."""
    if window < 1:
        raise ValueError(f"window must be >= 1: {window}")
    toks = F.col("_toks")
    n = F.size(toks)
    pairs = F.when(
        n >= 2,
        F.flatten(
            F.transform(
                F.sequence(F.lit(0), n - 2),
                lambda i: F.transform(
                    F.sequence(
                        F.lit(1), F.least(F.lit(int(window)), n - 1 - i)
                    ),
                    lambda d: F.struct(
                        F.element_at(toks, i + 1).alias("w1"),
                        F.element_at(toks, i + 1 + d).alias("w2"),
                    ),
                ),
            )
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    ex = (
        df.select(tokens_col(F.col(text_col)).alias("_toks"))
        .select(F.explode(pairs).alias("p"))
        .select("p.w1", "p.w2")
    )
    out = ex.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("long").alias("n_pair")
    )
    if min_count > 1:
        out = out.where(F.col("n_pair") >= int(min_count))
    return out


def _minhash_params(num_hashes: int, seed: int = 42) -> tuple[np.ndarray, np.ndarray]:
    rs = np.random.RandomState(seed)
    a = rs.randint(1, _MINHASH_P, size=num_hashes, dtype=np.int64)
    b = rs.randint(0, _MINHASH_P, size=num_hashes, dtype=np.int64)
    return a, b


def _token_hashes(tokens: list[str], cache: dict | None = None) -> np.ndarray:
    """md5-based 32-bit token hashes; `cache` memoizes across docs in a
    batch (corpora share vocabulary, so hit rates are high)."""
    import hashlib

    if cache is None:
        cache = {}
    out = []
    for t in set(tokens):
        h = cache.get(t)
        if h is None:
            h = int.from_bytes(hashlib.md5(t.encode()).digest()[:4], "big")
            cache[t] = h
        out.append(h)
    return np.unique(np.array(out, dtype=np.int64))


def minhash_signatures(
    df: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    shingle: int = 2,
) -> DataFrame:
    """(key, signature array<long>) — vectorized minhash over word shingles.

    The (id, text) projection is spread to the session's parallelism before
    the UDF (guide §2.1/§4): a single-row-group documents file scans as one
    task, and the signature UDF — the expensive stage — would otherwise run
    single-threaded (measured 6.2 s for 50k docs in one task vs ~0.3 s
    32-way). Projecting first keeps the repartition exchange narrow
    (guide §2.3: only the columns the function needs cross the shuffle).
    """
    from .session import spread_narrow

    a, b = _minhash_params(num_hashes)

    @F.pandas_udf("array<long>")
    def _sig(texts: pd.Series) -> pd.Series:
        out = []
        gram_cache: dict[str, int] = {}  # shared across docs in the batch
        for t in texts:
            words = (t or "").split()
            if shingle > 1 and len(words) >= shingle:
                grams = [
                    " ".join(words[i : i + shingle])
                    for i in range(len(words) - shingle + 1)
                ]
            else:
                grams = words
            if not grams:
                out.append([0] * num_hashes)
                continue
            hx = _token_hashes(grams, gram_cache)  # (m,)
            sig = (
                (a[:, None] * (hx[None, :] % _MINHASH_P)) % _MINHASH_P
                + b[:, None]
            ) % _MINHASH_P
            out.append(sig.min(axis=1).tolist())
        return pd.Series(out)

    base = spread_narrow(
        df.select(F.col(key_col).alias("id"), F.col(text_col).alias("_txt")), key="id"
    )
    return base.select("id", _sig(F.col("_txt")).alias("sig"))


def minhash_lsh_pairs(
    df: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    shingle: int = 2,
) -> DataFrame:
    """LSH candidate pairs: band the signature, bucket-join on
    (band, band_hash). Shuffle cost = O(docs * bands), never O(n^2).

    Ids-only candidate stream (round-4, same layout as
    simsearch.cosine_near_dup_pairs): the bucket aggregate and pair-dedup
    move (id, band, bucket) only; the 64-long signatures (512 B each)
    re-attach afterwards by two id equi-joins against the cached
    signature frame. Carrying both sigs through every candidate row
    multiplies the candidate shuffle by ~1 KB/pair — the difference
    between MBs and GBs per LSH pass at corpus scale.

    Returns (id_a, id_b, est_jaccard) with est = fraction of matching
    minhashes.
    """
    rows_per_band = num_hashes // bands
    sigs = minhash_signatures(df, key_col, text_col, num_hashes, shingle).cache()
    banded = sigs.select(
        "id",
        F.posexplode(
            F.array(
                *[
                    F.md5(
                        F.concat_ws(
                            ",",
                            *[
                                F.col("sig")[i].cast("string")
                                for i in range(
                                    b * rows_per_band, (b + 1) * rows_per_band
                                )
                            ],
                        )
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band", "bucket"),
    )
    # candidate pairs per bucket via ONE hash aggregate + in-JVM pair
    # expansion (r8): the former banded self-join shuffled the banded frame
    # twice and paid a join + an extra exchange for the same pair set
    # (verified identical: 58,834 pairs both ways at sf1.0; 4.8 -> 1.7 s).
    # Bucket membership lists are near-dup-cluster-sized — the same bound
    # as the self-join's per-bucket quadratic — so collect_list state stays
    # small by construction.
    grouped = (
        banded.groupBy("band", "bucket")
        .agg(F.array_sort(F.collect_list("id")).alias("ids"))
        .where(F.size("ids") >= 2)
    )
    ids = F.col("ids")
    pair_structs = F.flatten(
        F.transform(
            ids,
            lambda x, i: F.transform(
                F.slice(ids, i + F.lit(2), F.size(ids)),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    cand = (
        grouped.select(F.explode(pair_structs).alias("p"))
        .select(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    pairs = cand.join(
        sigs.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a")),
        "id_a",
    ).join(
        sigs.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b")),
        "id_b",
    )
    matches = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
            lambda v: v == 1,
        )
    )
    return pairs.withColumn(
        "est_jaccard", matches / F.lit(num_hashes)
    ).select("id_a", "id_b", "est_jaccard")


def simhash_signatures(
    df: DataFrame, key_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """64-bit SimHash per doc (vectorized bit-vote over md5 token hashes).
    Input projection spread when narrow — same rationale as
    minhash_signatures (per-doc md5 hashing is the expensive stage)."""
    from .session import spread_narrow

    @F.pandas_udf("long")
    def _simhash(texts: pd.Series) -> pd.Series:
        import hashlib

        out = []
        for t in texts:
            words = (t or "").split()
            if not words:
                out.append(0)
                continue
            hs = np.array(
                [
                    int.from_bytes(hashlib.md5(w.encode()).digest()[:8], "big")
                    for w in words
                ],
                dtype=np.uint64,
            )
            # votes MUST be signed: in uint64, a negative vote wraps to a
            # huge positive and `> 0` would set the bit (found by the DuckDB
            # oracle — kept as a regression test there)
            bits = (
                (hs[:, None] >> np.arange(64, dtype=np.uint64)[None, :])
                & np.uint64(1)
            ).astype(np.int64)
            votes = (bits * 2 - 1).sum(axis=0)
            sig = np.uint64(0)
            for i in np.nonzero(votes > 0)[0]:
                sig |= np.uint64(1) << np.uint64(i)
            out.append(int(sig.view(np.int64)))
        return pd.Series(out, dtype="int64")

    base = spread_narrow(
        df.select(F.col(key_col).alias("id"), F.col(text_col).alias("_txt")), key="id"
    )
    return base.select("id", _simhash(F.col("_txt")).alias("simhash"))


def simhash_near_dups(
    df: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dups by SimHash: bucket on 4x16-bit chunks (a pair within
    Hamming<=3 of 64 bits must agree on >=1 of 4 chunks), then exact
    Hamming filter via bit_count(xor)."""
    sigs = simhash_signatures(df, key_col, text_col)
    chunks = F.array(
        *[
            F.struct(
                F.lit(i).alias("chunk"),
                F.shiftright("simhash", 16 * i).bitwiseAND(F.lit(0xFFFF)).alias("v"),
            )
            for i in range(4)
        ]
    )
    banded = sigs.withColumn("c", F.explode(chunks)).select(
        "id", "simhash", F.col("c.chunk").alias("chunk"), F.col("c.v").alias("v")
    )
    a = banded.select(
        F.col("id").alias("id_a"), F.col("simhash").alias("sh_a"), "chunk", "v"
    )
    b = banded.select(
        F.col("id").alias("id_b"), F.col("simhash").alias("sh_b"), "chunk", "v"
    )
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        a.join(b, ["chunk", "v"])
        .where(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        .withColumn("hamming", ham)
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def _cc_union_find(a: np.ndarray, b: np.ndarray) -> "tuple[np.ndarray, np.ndarray]":
    """Driver-side connected components of the edges ``a[i]–b[i]``:
    ``(ids, component)`` over the sorted distinct endpoints, where
    ``component`` is the minimum id of each node's component.

    Min-label hooking with pointer jumping over indices into the sorted
    ids, so the minimum index is the minimum id. ``parent[x] <= x``
    holds throughout (a root only ever hooks to a smaller label), so
    the parent forest has no cycles and jumping ends at each tree's
    minimum."""
    ids, inv = np.unique(np.concatenate([a, b]), return_inverse=True)
    ia, ib = inv[: len(a)], inv[len(a):]
    parent = np.arange(len(ids))
    while True:
        ra, rb = parent[ia], parent[ib]
        cross = ra != rb
        if not cross.any():
            return ids, ids[parent]
        ra, rb = ra[cross], rb[cross]
        m = np.minimum(ra, rb)
        np.minimum.at(parent, ra, m)
        np.minimum.at(parent, rb, m)
        while True:
            up = parent[parent]
            if np.array_equal(up, parent):
                break
            parent = up


def _driver_edge_cap(spark) -> int:
    """Largest edge count connected_components finishes on the driver:
    ``spark.sql.autoBroadcastJoinThreshold`` (the size Spark itself
    collects to the driver for a broadcast) over 16 bytes per edge
    (two longs). -1 (threshold disabled) means never."""
    threshold = spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
    return threshold // 16 if threshold >= 0 else -1


def connected_components(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    vertices: DataFrame | None = None,
    max_iter: int = 50,
) -> DataFrame:
    """Connected components over an undirected edge list: distributed
    rounds of alternating large-star / small-star contraction (Kiveris
    et al., "Connected Components in MapReduce and Beyond", SoCC'14 —
    the algorithm production corpus builds use to cluster near-dup
    pairs before keeping one document per component) until the edge
    set is driver-sized, then union-find on the driver.

    Returns ``(id, component)`` for every node that appears in ``pairs``
    (plus every id in ``vertices`` if given — isolated vertices map to
    themselves), where ``component`` is the minimum node id reachable
    through the pair graph.  Replaces the greedy "drop id_b of every
    pair" approximation: a v-structure A–C, B–C clusters {A, B, C}
    into one component even though A–B was never emitted as a pair.

    Scale shape (the reason this is NOT label propagation): each round
    is two groupBy-min aggregations plus two equi-joins — no
    collect_list, so a hub's neighborhood never materializes on a
    single row — and the edge set contracts toward a star forest in
    O(log^2 n) rounds regardless of graph diameter (a 1M-node chain
    converges in ~20 rounds where per-hop label propagation needs 1M).
    Each round localCheckpoints the contracted edges to truncate
    lineage, the same discipline GraphFrames applies.

    Driver finish: every checkpoint (the first included) observes the
    edge count n. Once n * 16 bytes fits
    ``spark.sql.autoBroadcastJoinThreshold`` the edges are collected
    through Arrow and ``_cc_union_find`` labels them; the result is a
    local relation, so no further distributed round or job runs. A
    threshold of -1 keeps every round distributed. Contraction keeps
    both the node set and connectivity, so union-find on any round's
    edge set yields the same minimum labels as the converged star
    forest. ``max_iter`` bounds the distributed rounds only.

    Convergence test: per-round (row count, sum of xxhash64(a, b)) over
    the normalized edge set — one aggregation instead of a double
    exceptAll, with a collision probability ~2^-64 per round.
    """
    spark = pairs.sparkSession
    e = (
        pairs.select(
            F.col(src).cast("long").alias("a"),
            F.col(dst).cast("long").alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .select(
            F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b")
        )
        .distinct()
    )

    # Fingerprint rides the CHECKPOINT job via the Observation API (r8):
    # observed aggregates are collected during the materialization the
    # eager localCheckpoint runs anyway, so each round is ONE job, not
    # checkpoint + a separate fingerprint scan (measured: metrics do
    # propagate through localCheckpoint(eager=True)). Sum in
    # decimal(38,0): long-sum of int64 hashes overflows under ANSI mode;
    # decimal gives an exact wide accumulator.
    from pyspark.sql import Observation

    def _fp_cols() -> list:
        return [
            F.count(F.lit(1)).alias("n"),
            F.coalesce(
                F.sum(F.xxhash64("a", "b").cast("decimal(38,0)")),
                F.lit(0).cast("decimal(38,0)"),
            ).alias("h"),
        ]

    def _ckpt_fp(edges: DataFrame) -> "tuple[DataFrame, tuple[int, int]]":
        obs = Observation()
        out = edges.observe(obs, *_fp_cols()).localCheckpoint(eager=True)
        m = obs.get
        return out, (int(m["n"]), int(m["h"]))

    cap = _driver_edge_cap(spark)
    e, prev = _ckpt_fp(e)
    for rounds in range(max_iter + 1):
        if prev[0] <= cap:
            t = e.toArrow()
            ids, component = _cc_union_find(
                t.column("a").to_numpy(), t.column("b").to_numpy()
            )
            comp = spark.createDataFrame(
                pa.table({"id": ids, "component": component}),
                "id long, component long",
            )
            break
        if rounds == max_iter:
            # The final label extraction assumes the edge set is a star
            # forest; a non-converged edge set would silently assign
            # wrong components (and near-dedup would then drop/keep the
            # wrong documents). O(log^2 n) rounds suffice for any real
            # graph, so exhausting max_iter means the caller set it far
            # too low.
            raise RuntimeError(
                f"connected_components did not converge within max_iter="
                f"{max_iter} rounds (last edge-set fingerprint {prev}); "
                "raise max_iter — the star-forest extraction is invalid on "
                "a non-converged edge set"
            )
        # large-star: for every node u, link each LARGER neighbor v to
        # m(u) = min(neighborhood(u) + {u})
        both = e.select("a", "b").union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        m_large = both.groupBy("a").agg(
            F.least(F.min("b"), F.first("a")).alias("m")
        )
        large = (
            both.where(F.col("b") > F.col("a"))
            .join(m_large, "a")
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .where(F.col("a") != F.col("b"))
            .select(F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b"))
            # NO distinct here (r8): the small-star half below ends in a
            # distinct, so each ROUND's output edge set is bit-identical
            # either way — duplicates feed only min-aggregations, which
            # ignore them. Dropping the mid-round exchange+aggregate cut
            # the per-round stage count ~1/6 (4.6 -> 3.7 s at the 135k-edge
            # bench graph; final star forest verified identical).
        )
        # small-star: for every node u, link each SMALLER-or-self
        # neighbor (and u itself) to m(u) = min of those neighbors
        both2 = large.select("a", "b").union(
            large.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )
        smaller = both2.where(F.col("b") < F.col("a"))
        m_small = smaller.groupBy("a").agg(F.min("b").alias("m"))
        small = (
            smaller.join(m_small, "a")
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .union(m_small.select(F.col("a"), F.col("m").alias("b")))
            .where(F.col("a") != F.col("b"))
            .select(F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b"))
            .distinct()
        )
        e, cur = _ckpt_fp(small)
        if cur == prev:
            # Fixed point is a star forest: every edge is (root=a,
            # node=b) with a == component min. Roots map to themselves.
            comp = e.select(F.col("b").alias("id"), F.col("a").alias("component")).union(
                e.select(F.col("a").alias("id"), F.col("a").alias("component"))
            ).groupBy("id").agg(F.min("component").alias("component"))
            break
        prev = cur

    if vertices is not None:
        vcol = vertices.columns[0]
        iso = (
            vertices.select(F.col(vcol).cast("long").alias("id"))
            .distinct()
            .join(comp, "id", "left_anti")
            .select("id", F.col("id").alias("component"))
        )
        comp = comp.union(iso)
    return comp


def pack_sequences(
    df: DataFrame,
    seq_len: int = 2048,
    buckets: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
    token_count: Column | None = None,
) -> DataFrame:
    """Training-sequence packing plan (concat-and-chunk): documents are
    concatenated in deterministic (bucket, id) order and cut into
    fixed-``seq_len`` token windows; each doc gets its token offset and
    the [first_seq, last_seq] window range it lands in — the assignment
    a sequence-building writer consumes.

    Scale shape: a GLOBAL packing order would be a single-partition
    window (the classic bottleneck), so packing is per-BUCKET —
    ``bucket = crc32-style md5 of the id mod buckets`` — and sequence
    ids are namespaced per bucket. Buckets are independent, so the
    window sort parallelizes across ``buckets`` way more tasks than
    executors; at 10^12 docs you raise ``buckets``, not the partition
    size. Deterministic: no RNG, stable across cluster sizes and
    resumes (same property as hash_split).

    Returns (id, bucket, n_tokens, tok_offset, first_seq, last_seq).
    Docs with 0 tokens occupy no window (first_seq == last_seq ==
    the window their offset falls in, n_tokens == 0 — kept so
    accounting stays total).

    ``token_count`` swaps the tokenizer: pass any Column expression
    (e.g. bpe-exact counts via bpe.with_bpe_token_count's column, or
    bpe.token_count_udf for large merge tables) to pack by REAL subword
    tokens instead of whitespace words — the packing math is tokenizer-
    agnostic."""
    n_tok = (
        token_count
        if token_count is not None
        else F.size(tokens_col(F.col(text_col)))
    )
    b = (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 15), 16, 10)
        .cast("long") % buckets
    )
    base = df.select(
        F.col(id_col).alias("id"),
        b.alias("bucket"),
        n_tok.cast("long").alias("n_tokens"),
    )
    w = Window.partitionBy("bucket").orderBy("id")
    off = (F.sum("n_tokens").over(w) - F.col("n_tokens")).alias("tok_offset")
    out = base.select("id", "bucket", "n_tokens", off)
    return out.select(
        "id",
        "bucket",
        "n_tokens",
        "tok_offset",
        F.floor(F.col("tok_offset") / seq_len).alias("first_seq"),
        F.floor(
            (F.col("tok_offset") + F.greatest(F.col("n_tokens") - 1, F.lit(0)))
            / seq_len
        ).alias("last_seq"),
    )


def cap_per_key(
    df: DataFrame,
    key_col: str,
    k: int,
    order_col: str = "doc_id",
    hot_threshold: int | None = 1_000_000,
    hot_salt_buckets: int = 256,
) -> DataFrame:
    """Per-key document cap (domain balancing): keep the first ``k``
    rows per key in deterministic ``order_col`` order — the standard
    anti-boilerplate guard that stops one domain from dominating a
    training corpus. Adds ``kept`` rather than filtering, so callers
    can audit what the cap would drop.

    Hot-key guard (VERDICT r5 #4): the plain per-key window buffers a
    key's whole hash partition in WindowExec — a mega-hot key (one
    domain holding 10^8 rows) OOMs that task. A cheap census (hash agg
    with map-side combine) splits keys at ``hot_threshold`` rows:

    - cold keys (the millions of ordinary domains) keep the one-shuffle
      window path;
    - hot keys (by construction at most total/hot_threshold of them —
      the census output that matters is tiny and broadcast) take a
      bounded-memory min-k pre-aggregation instead: rows salt into
      ``hot_salt_buckets`` groups whose collect_list buffers only
      ~group/buckets rows, each group keeps its k smallest order
      values, the <= buckets*k survivors re-aggregate to the global
      k smallest, and the k-th value broadcasts back as a codegen
      ``order <= kth`` filter. No task ever materializes a hot key's
      full row set. Size ``hot_salt_buckets ~ hot_threshold / 10^5``
      upward at scale.

    ``order_col`` values must be distinct per key (ids here are unique
    document ids) — both paths rank by value, so ties would otherwise
    be cut arbitrarily in the window path and inclusively in the hot
    path. ``hot_threshold=None`` restores the pure window plan."""
    w = Window.partitionBy(key_col).orderBy(order_col)
    window_capped = (
        df.withColumn("_rnk", F.row_number().over(w))
        .withColumn("kept", F.col("_rnk") <= k)
        .drop("_rnk")
    )
    if hot_threshold is None:
        return window_capped
    if hot_threshold < k:
        raise ValueError(f"hot_threshold {hot_threshold} < k {k}")
    hot_keys = (
        df.groupBy(key_col)
        .agg(F.count(F.lit(1)).alias("_n"))
        .where(F.col("_n") > hot_threshold)
        .select(key_col)
    )
    cold_out = (
        df.join(F.broadcast(hot_keys), key_col, "left_anti")
        .withColumn("_rnk", F.row_number().over(w))
        .withColumn("kept", F.col("_rnk") <= k)
        .drop("_rnk")
    )
    hot = df.join(F.broadcast(hot_keys), key_col, "left_semi")
    salt = F.pmod(
        F.xxhash64(F.col(order_col)), F.lit(hot_salt_buckets)
    ).alias("_s")
    per_bucket = hot.groupBy(F.col(key_col), salt).agg(
        F.slice(F.array_sort(F.collect_list(order_col)), 1, k).alias("_cand")
    )
    topk = (
        per_bucket.select(key_col, F.explode("_cand").alias("_o"))
        .groupBy(key_col)
        .agg(
            F.element_at(
                F.slice(F.array_sort(F.collect_list("_o")), 1, k), k
            ).alias("_kth")
        )
    )
    hot_out = (
        hot.join(F.broadcast(topk), key_col)
        .withColumn("kept", F.col(order_col) <= F.col("_kth"))
        .drop("_kth")
    )
    return cold_out.unionByName(hot_out.select(cold_out.columns))


def sample_k_per_key(
    df: DataFrame,
    key_col: str,
    k: int,
    id_col: str = "doc_id",
    salt: str = "sample",
    hot_threshold: int | None = 1_000_000,
    hot_salt_buckets: int = 256,
) -> DataFrame:
    """Deterministic uniform k-per-key sample (reservoir-sampling
    equivalent): keep the k rows with the SMALLEST md5(salt || id) per
    key. Each key's sample is a uniform k-subset, yet there is no RNG —
    resumes, retries, and different cluster sizes reproduce the same
    sample, and changing ``salt`` re-rolls it (the same contract as
    stratified_hash_sample, here with an exact per-key count instead of
    a rate). Adds ``kept`` rather than filtering.

    Implementation: the hash IS the order column, so this rides
    cap_per_key's census-guarded machinery — ordinary keys take the
    one-shuffle window, mega-hot keys the bounded min-k pre-aggregation.
    ``id_col`` values must be distinct (md5 ties would cut arbitrarily)."""
    out = cap_per_key(
        df.withColumn(
            "_skey",
            F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string"))),
        ),
        key_col,
        k,
        order_col="_skey",
        hot_threshold=hot_threshold,
        hot_salt_buckets=hot_salt_buckets,
    )
    return out.drop("_skey")


# PII patterns shared by the engine and the SQL oracle. Deliberately the
# RE2-compatible subset (no lookaround/backrefs) so Spark's Java regex
# and DuckDB/RE2 agree byte-for-byte; ordering matters — emails first
# (an address would otherwise leave its user part behind once its
# digits/host were rewritten), then dotted quads, then long digit runs.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b(\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
    ("longnum", r"\b\d{9,}\b", "<NUM>"),
)


def redact_pii(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Corpus PII scrub: redact emails, dotted-quad IPs, and >= 9-digit
    runs (account/phone-shaped numbers), counting each category — the
    standard pre-training privacy pass. Pure codegen (regexp_count +
    chained regexp_replace in the scan stage, no UDF, narrow plan); the
    per-category counts make the scrub auditable per document.

    Preserves every other column (the scrub rewrites ``text_col`` in
    place and appends the count columns), so it composes mid-pipeline —
    including inside streaming plans (narrow, stateless).

    Count semantics: each category is counted against the PROGRESSIVELY
    redacted text (emails first, then IPs on the email-redacted text,
    then long numbers), so every count equals the number of placeholder
    tokens actually emitted for that category — a dotted quad embedded
    inside an email address vanishes into <EMAIL> and is NOT also
    counted as an IP. Plan shape: each stage's redacted text is its own
    projection alias referenced twice (next count + next replace), which
    CollapseProject keeps staged, so each regexp_replace evaluates once
    per row (the inline-reuse trap from CLAUDE.md).

    Returns the input schema + (n_email, n_ipv4, n_longnum)."""
    out = df
    for name, pat, token in PII_PATTERNS:
        out = out.withColumn(
            f"n_{name}", F.regexp_count(F.col(text_col), F.lit(pat))
        ).withColumn(
            text_col, F.regexp_replace(F.col(text_col), pat, token)
        )
    return out


def stratified_hash_sample(
    df: DataFrame,
    strata_col: str,
    rates_bp: dict[str, int],
    default_bp: int = 10000,
    id_col: str = "doc_id",
    salt: str = "mix",
) -> DataFrame:
    """Deterministic data-mixing sampler: per-stratum keep rates (basis
    points out of 10000 — integer so no engine-dependent float rounding)
    via md5 buckets of the id. This is the corpus-assembly mechanism for
    language/source mixing weights: no RNG, so resumes, retries, and
    different cluster sizes reproduce the same sample, and changing the
    salt re-rolls it. Narrow plan (no shuffle); adds a ``sampled`` audit
    column rather than filtering."""
    for k, v in rates_bp.items():
        if not 0 <= v <= 10000:
            raise ValueError(f"rate for {k!r} must be in [0, 10000]: {v}")
    h = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string"))),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        % 10000
    )
    thr = F.lit(default_bp)
    for k, v in sorted(rates_bp.items()):
        thr = F.when(F.col(strata_col) == k, F.lit(v)).otherwise(thr)
    return df.withColumn("sampled", h < thr)


def _require_numeric_id(df: DataFrame, id_col: str, op: str) -> None:
    """Raise TypeError early when ``id_col`` is not a numeric type — the
    packed keepers (decimal/long id*2^k+pos) silently keep ZERO rows on
    string ids under non-ANSI casts, and error opaquely under ANSI."""
    from pyspark.sql.types import NumericType

    dt = df.schema[id_col].dataType
    if not isinstance(dt, NumericType):
        raise TypeError(
            f"{op} requires a numeric id column; {id_col!r} is {dt}"
        )


def _pack_id_pos(id_col, pos_col, narrow: bool):
    """Order-preserving (id, pos) -> scalar pack, so a min-keeper stays a
    HASH aggregate (min over a struct demotes to SortAggregate: a full
    sort of the exploded stream). Non-negative int32 pos only.

    ``narrow`` (every id in [0, 2^32)): long id * 2^31 + pos, at most
    2^63 - 1 — a primitive buffer (decimal(38) buffers measured 2.8-5.8x
    slower). Otherwise decimal(38,0) id * 2^32 + pos, valid for any long
    id."""
    if narrow:
        return id_col * F.lit(1 << 31).cast("long") + pos_col
    return (
        id_col.cast("decimal(38,0)") * F.lit(4294967296).cast("decimal(38,0)")
        + pos_col.cast("decimal(38,0)")
    ).cast("decimal(38,0)")


def _first_occurrence(
    occ: DataFrame,
    key: str,
    id_col: str,
    pos_col: str,
    broadcast_threshold: int | None,
) -> tuple[DataFrame, Column]:
    """First-wins keeper: ``occ`` left-joined with ``_keep`` = the min
    packed (id, pos) of every ``key`` that occurs more than once (NULL
    for singleton keys), plus the pack column to compare it with.

    With ``broadcast_threshold`` set, two eager jobs run: an id-range
    probe (which materializes a cached ``occ``) picks the long pack, and
    a census of the cached keeper picks a broadcast join (<= threshold
    keys: flat per-row map work) or a shuffle-hash join. ``None`` stays
    lazy: decimal pack and a shuffle-hash join that reuses the keeper's
    ``key`` exchange (never a sort-merge sort; a hot key is one hash
    entry, so the output is linear in occurrences)."""
    narrow = False
    if broadcast_threshold is not None:
        r = occ.agg(F.min(id_col).alias("lo"), F.max(id_col).alias("hi")).first()
        narrow = r["lo"] is not None and r["lo"] >= 0 and r["hi"] < 1 << 32
    pk = _pack_id_pos(F.col(id_col), F.col(pos_col), narrow)
    keeper = (
        occ.groupBy(key)
        .agg(F.min(pk).alias("_keep"), F.count(F.lit(1)).alias("_cnt"))
        .where(F.col("_cnt") > 1)
        .select(key, "_keep")
    )
    if broadcast_threshold is not None and (
        keeper.cache().count() <= broadcast_threshold
    ):
        keeper = F.broadcast(keeper)
    else:
        keeper = keeper.hint("shuffle_hash")
    return occ.join(keeper, key, "left"), pk


def substring_span_dedup(
    df: DataFrame,
    k: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    emit_clean: bool = True,
    broadcast_threshold: int | None = 4_000_000,
) -> DataFrame:
    """Exact-substring deduplication: remove every >= ``k``-token substring
    that occurs MORE THAN ONCE anywhere in the corpus, keeping only its
    first occurrence (ordered by (doc_id, position)). This is the
    suffix-array substring dedup of Lee et al. 2021 ("Deduplicating
    Training Data Makes Language Models Better") re-expressed as a
    distributed k-gram join instead of a monolithic suffix array: a
    substring of length >= k repeats iff all of its k-grams repeat, so
    marking every non-first occurrence of a duplicated k-gram and merging
    the marked positions into maximal spans removes exactly the repeated
    regions (plus < k tokens of boundary slack inherent to gram
    granularity).

    Plan shape, sized for 100 TB:
      1. tokens are staged once per row (own projection alias — the
         inline-split trap from repetition_stats applies);
      2. every position's k-gram is hashed MAP-SIDE to a 64-bit int
         (``xxhash64`` over the token-array slice — no gram string is
         ever built) so the shuffle carries (hash, id, pos), never text;
      3. the keeper per hash is one hash aggregate over a packed
         (id, pos) scalar, joined back to mark every non-first
         occurrence (``_first_occurrence``: broadcast or shuffle-hash,
         never a sort);
      4. span merging is per-DOC array work (sort + linear fold), never a
         corpus-wide sort.
    At extreme scale (>= 10^11 grams) widen step 2 to a 128-bit hash
    (collision odds ~n^2/2^65 at 64 bits); the hash never reaches the
    output and the driver oracle hashes independently, so the choice
    only matters through collisions.

    ``broadcast_threshold``: max duplicated-gram KEYS for the broadcast
    join; its eager probe and census double as the occ cache
    materialization. ``None`` skips them and stays fully lazy on the
    shuffle-hash join. Both paths are semantically identical (pinned by
    test).

    Returns (id, n_tokens, n_spans, tokens_removed, tokens_kept[,
    clean_md5]) — clean_md5 is md5 of the surviving tokens space-joined
    (md5("") when everything was removed).
    """
    if k < 2:
        raise ValueError(f"k must be >= 2: {k}")
    _require_numeric_id(df, id_col, "substring_span_dedup")
    base = df.select(
        F.col(id_col).alias("id"), tokens_col(F.col(text_col)).alias("_toks")
    )
    toks = F.col("_toks")
    n = F.size(toks)
    # gram POSITIONS explode (ints); the hash is a plain codegen
    # projection over the staged token array (r8 — HOF string building
    # ran interpreted at ~13 µs/gram, see _gram_positions). explode_outer
    # + isNotNull keeps the generator free of an inferred filter that
    # would re-evaluate split(text) below the staging projection.
    # r8: xxhash64 over the token-array SLICE replaces the md5-of-string
    # 60-bit hash — the hash is a pure equality carrier (keeper/dup
    # classes; never exposed in the output, and the DuckDB oracle hashes
    # independently), so this skips the gram-string build + md5 + conv
    # per gram with BETTER collision odds (64 vs 60 bits).
    gh = F.xxhash64(F.slice(toks, F.col("pos") + 1, k))
    # cached: consumed by BOTH the keeper aggregate and the dup probe —
    # without it the tokenize+hash+explode pass (the op's dominant cost,
    # ~1/3 of wall time at the 250k bench) runs twice (same discipline
    # as pip_join's cached salt-factor census; bench clears cache
    # between reps)
    occ = (
        base.select(
            F.col("id"),
            toks,
            F.explode_outer(_gram_positions(toks, k)).alias("pos"),
        )
        .where(F.col("pos").isNotNull())
        .select("id", "pos", gh.alias("gh"))
        .cache()
    )
    # every non-first occurrence of a duplicated gram (the != filter
    # turns the keeper's left join into an inner join)
    joined, pk = _first_occurrence(occ, "gh", "id", "pos", broadcast_threshold)
    dup = joined.where(pk != F.col("_keep")).select("id", "pos")
    # per-doc interval merge: sorted duplicate positions -> maximal spans
    # [s, e] (token indices, 0-based inclusive); contiguous-or-overlapping
    # spans coalesce (p <= last.e + 1).
    empty_spans = F.expr("cast(array() as array<struct<s:int,e:int>>)")
    spans_col = F.aggregate(
        F.array_sort(F.collect_list("pos")),
        empty_spans,
        lambda acc, p: F.when(
            (F.size(acc) > 0)
            & (p <= F.element_at(acc, -1)["e"] + 1),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(
                    F.struct(
                        F.element_at(acc, -1)["s"].alias("s"),
                        (p + k - 1).cast("int").alias("e"),
                    )
                ),
            ),
        ).otherwise(
            F.concat(
                acc,
                F.array(
                    F.struct(
                        p.cast("int").alias("s"),
                        (p + k - 1).cast("int").alias("e"),
                    )
                ),
            )
        ),
    )
    doc_spans = dup.groupBy("id").agg(spans_col.alias("spans"))
    out = (
        base.join(doc_spans, "id", "left")
        .withColumn("spans", F.coalesce("spans", empty_spans))
        .withColumn("n_tokens", n.cast("long"))
        .withColumn("n_spans", F.size("spans").cast("long"))
        .withColumn(
            "tokens_removed",
            F.aggregate(
                F.col("spans"),
                F.lit(0),
                lambda acc, sp: acc + sp["e"] - sp["s"] + 1,
            ).cast("long"),
        )
        .withColumn(
            "tokens_kept", (F.col("n_tokens") - F.col("tokens_removed"))
        )
    )
    if emit_clean:
        spans = F.col("spans")
        kept = F.filter(
            toks,
            lambda t, i: ~F.exists(
                spans, lambda sp: (i >= sp["s"]) & (i <= sp["e"])  # noqa: B023
            ),
        )
        out = out.withColumn("clean_md5", F.md5(F.concat_ws(" ", kept)))
    return out.select(
        F.col("id").alias(id_col),
        "n_tokens",
        "n_spans",
        "tokens_removed",
        "tokens_kept",
        *(["clean_md5"] if emit_clean else []),
    )


# ---------------------------------------------------------------------------
# unicode normalization
# ---------------------------------------------------------------------------

# Planted non-NFC sequences for the oracle query (single-sourced so the
# Spark query and the DuckDB SQL concatenate EXACTLY the same string):
# combining acute (e+U+0301 -> e-acute), ring (A+U+030A -> Angstrom A),
# Hangul jamo pair (-> precomposed syllable), an already-composed e-acute
# (must stay put), and q with dot-above+dot-below in NON-canonical order
# (ccc 230 before 220 -> NFC must reorder the marks without composing).
UNICODE_PLANT = " é Å 가 é q̣̇"


def normalize_unicode(
    df: DataFrame, text_col: str = "text", form: str = "NFC",
    out_col: str | None = None,
) -> DataFrame:
    """Unicode normalization (UAX #15) as an Arrow-batched pandas_udf.

    Real web corpora mix composed and decomposed forms of the same
    grapheme (copy-paste from different editors/OSes); every downstream
    hash-based operator (exact dedup, minhash shingles, decontamination)
    silently treats them as different documents unless the corpus is
    normalized first. Spark has no built-in normalizer, so this is the
    honest pandas_udf case — still Arrow-batched and narrow (no
    shuffle), stream-composable like redact_pii.

    NFC is the production default and the oracle-checked form (DuckDB
    nfc_normalize replays it); NFD/NFKC/NFKD are accepted for parity
    with Python's unicodedata.
    """
    if form not in ("NFC", "NFD", "NFKC", "NFKD"):
        raise ValueError(f"unknown normalization form {form!r}")
    out = out_col or text_col

    @F.pandas_udf("string")
    def _norm(s: pd.Series) -> pd.Series:
        import unicodedata

        return s.map(
            lambda t: None if t is None else unicodedata.normalize(form, t)
        )

    return df.withColumn(out, _norm(F.col(text_col)))


def remove_boilerplate_lines(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
    line_tokens: int = 3,
    min_count: int = 3,
) -> DataFrame:
    """CCNet-style boilerplate removal: drop every "line" that repeats
    ``min_count``-or-more times WITHIN its group (host / source), keep
    everything else in document order.

    Web corpora carry per-site boilerplate (nav bars, cookie banners,
    footers) that exact-dedup misses because it keeps the FIRST copy and
    because boilerplate is a line, not a whole page. The production rule
    (CCNet, RefinedWeb) is frequency-based: a line seen on >= k pages of
    the same host is template, not prose — ALL its occurrences go,
    unlike chunk_dedup's first-wins. Lines here are fixed
    ``line_tokens``-token windows of the whitespace token stream (the
    corpus has no newlines); swap the chunker for split('\\n') on real
    page text.

    Plan: explode lines with position -> hash -> per-(group, hash)
    count (hash aggregate) -> survivors re-join on (group, hash)
    (broadcast-free equi-join; hot boilerplate hashes are exactly the
    high-count rows CUT by the filter, so the join's build side shrinks
    with dirtiness) -> one per-doc aggregate reassembles survivors via
    array_sort on (idx, line) — per-DOC memory. Two shuffles keyed on
    the line hash, one on the doc id. The token array is staged through
    its own projection (inline-split trap, CLAUDE.md).

    Returns (id, group, n_lines, n_kept, clean_md5): clean_md5 is md5 of
    the space-rejoined surviving lines (empty-string md5 when every line
    was template).
    """
    base = df.select(
        F.col(id_col), F.col(group_col), tokens_col(F.col(text_col)).alias("_toks")
    )
    toks = F.col("_toks")
    n_lines = F.ceil(F.size(toks) / F.lit(float(line_tokens))).cast("int")
    lines = F.transform(
        F.sequence(F.lit(0), n_lines - 1),
        lambda i: F.concat_ws(
            " ", F.slice(toks, i * line_tokens + 1, line_tokens)
        ),
    )
    ex = base.select(
        F.col(id_col),
        F.col(group_col),
        F.posexplode(lines).alias("line_idx", "line"),
    ).withColumn("h", F.xxhash64("line"))
    hot = (
        ex.groupBy(group_col, "h")
        .agg(F.count(F.lit(1)).alias("_n"))
        .where(F.col("_n") >= min_count)
        .select(group_col, "h")
    )
    kept = ex.join(hot, [group_col, "h"], "left_anti")
    totals = ex.groupBy(id_col, group_col).agg(
        F.count(F.lit(1)).alias("n_lines")
    )
    rebuilt = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.md5(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("line_idx", "line"))
                    ),
                    lambda s: s["line"],
                ),
            )
        ).alias("clean_md5"),
    )
    empty_md5 = F.lit("d41d8cd98f00b204e9800998ecf8427e")
    return (
        totals.join(rebuilt, id_col, "left")
        .select(
            F.col(id_col),
            F.col(group_col),
            "n_lines",
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            F.coalesce("clean_md5", empty_md5).alias("clean_md5"),
        )
    )


def with_compression_ratio(
    df: DataFrame,
    text_col: str = "text",
    level: int = 6,
) -> DataFrame:
    """Compression-ratio quality signal: deflate the UTF-8 bytes of each
    document at a fixed zlib level and report ``z_bytes / n_bytes``.
    Highly repetitive or templated text compresses far below prose, and
    near-random strings sit near (or above) 1.0 — the classic cheap
    pre-training quality heuristic (the Gopher/RefinedWeb rule family
    thresholds on exactly this ratio to drop boilerplate and gibberish).

    The compressor runs as an Arrow-batched pandas_udf (the honest
    Python stage — zlib is C-speed per batch, no JVM equivalent), narrow
    and stream-composable: no shuffle, scales with the scan. zlib output
    at a FIXED (level, strategy, wbits) is deterministic for a given
    zlib build, so the DuckDB oracle replays the identical stdlib call
    single-process via the oracle_stage pattern and joins by id.

    Adds ``n_bytes`` (UTF-8 length, JVM-side), ``z_bytes`` (compressed
    length), and ``compression_ratio`` (one IEEE division of exact ints
    — bit-stable). NULL text yields NULLs.
    """
    import zlib

    @F.pandas_udf("long")
    def _zlen(s: pd.Series) -> pd.Series:
        return s.map(
            lambda t: None
            if t is None
            else len(zlib.compress(t.encode("utf-8"), level))
        ).astype("Int64")

    return (
        df.withColumn("n_bytes", F.octet_length(F.col(text_col)).cast("long"))
        .withColumn("z_bytes", _zlen(F.col(text_col)))
        .withColumn(
            "compression_ratio",
            F.col("z_bytes").cast("double") / F.col("n_bytes"),
        )
    )


def lexical_diversity(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document Simpson lexical diversity: 1 - sum(c_i*(c_i-1)) /
    (n*(n-1)) over token counts c_i — the probability two tokens drawn
    without replacement differ. The entropy-free diversity measure: a
    pure RATIONAL of exact integers (one final double division), so the
    output is bit-replayable in SQL — unlike Shannon entropy, whose ln()
    differs across engines.

    Plan: NARROW, zero shuffles — tokens are sorted per row and runs
    folded with one higher-order aggregate (no explode, no groupBy).
    The token array is staged once (inline-split trap); the sorted copy
    feeds one aggregate. n < 2 emits NULL diversity.

    Returns (id, n_tokens, n_distinct, simpson_num, diversity).
    """
    base = df.select(
        F.col(id_col), tokens_col(F.col(text_col)).alias("_toks")
    )
    st = F.array_sort(F.col("_toks"))
    zero = F.lit(0).cast("long")
    init = F.struct(
        F.lit(None).cast("string").alias("p"),
        zero.alias("r"),
        zero.alias("num"),
        zero.alias("d"),
    )

    def merge(a, t):
        same = t == a["p"]  # null (-> otherwise) on the first token
        return F.struct(
            t.alias("p"),
            F.when(same, a["r"] + 1).otherwise(F.lit(1).cast("long")).alias("r"),
            (
                a["num"]
                + F.when(same, zero).otherwise(a["r"] * (a["r"] - 1))
            ).alias("num"),
            (a["d"] + F.when(same, zero).otherwise(F.lit(1).cast("long"))).alias(
                "d"
            ),
        )

    agg = F.aggregate(
        st,
        init,
        merge,
        lambda a: F.struct(
            (a["num"] + a["r"] * (a["r"] - 1)).alias("num"), a["d"].alias("d")
        ),
    )
    staged = base.select(F.col(id_col), F.size("_toks").alias("n_tokens"), agg.alias("_a"))
    n = F.col("n_tokens").cast("long")
    return staged.select(
        F.col(id_col),
        F.col("n_tokens"),
        F.col("_a.d").alias("n_distinct"),
        F.col("_a.num").alias("simpson_num"),
        F.when(
            n >= 2,
            F.lit(1.0) - F.col("_a.num") / (n * (n - 1)).cast("double"),
        ).alias("diversity"),
    )


def term_bursts(
    daily: DataFrame,
    term_col: str = "term",
    day_col: str = "day",
    count_col: str = "cnt",
    trailing_days: int = 3,
    min_count: int = 5,
    burst_ppm_threshold: int = 2_000_000,
) -> DataFrame:
    """Bursty-term detection over a (term, day, count) stream: a term
    bursts on a day when its count is at least ``burst_ppm_threshold``
    parts-per-million of its TRAILING ``trailing_days``-day total
    (integer floor arithmetic end to end — replayable exactly in SQL,
    no sqrt/z-score). Days with no trailing history are skipped.

    One hash exchange on term; the trailing window is a per-term ROWS
    frame over consecutive-day rows — rows (not RANGE) is correct here
    because the input is the DENSE daily rollup (callers build it with
    a groupBy over the raw stream; absent days mean absent rows, so a
    gap legitimately shortens the trailing total and sharpens bursts of
    returning terms). At 100 TB the exchange carries (term, day, cnt)
    aggregates, never raw tokens.

    Returns (term, day, cnt, trailing_total, burst_ppm) for bursting
    rows only.
    """
    w = (
        Window.partitionBy(term_col)
        .orderBy(day_col)
        .rowsBetween(-trailing_days, -1)
    )
    tt = F.sum(F.col(count_col)).over(w)
    out = (
        daily.select(
            F.col(term_col),
            F.col(day_col),
            F.col(count_col).cast("long").alias("cnt"),
            tt.cast("long").alias("trailing_total"),
        )
        .where(
            F.col("trailing_total").isNotNull()
            & (F.col("cnt") >= min_count)
        )
        .withColumn(
            "burst_ppm",
            F.expr("cnt * 1000000 div trailing_total").cast("long"),
        )
        .where(F.col("burst_ppm") >= burst_ppm_threshold)
    )
    return out
