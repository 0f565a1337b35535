"""Physical-plan audits: pushdown, pruning, codegen, join strategies.

The 100 TB criteria from the brief: filters reach the parquet scan,
projections prune columns, hot paths stay in whole-stage codegen, the big
spatial join never broadcasts.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.01"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _fmt(df) -> str:
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_filter_pushdown_to_parquet(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    q = li.where(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
    ).select("l_orderkey", "l_quantity")
    txt = _fmt(q)
    assert "PushedFilters" in txt
    assert "l_shipdate" in txt.split("PushedFilters")[1][:300]


def test_column_pruning_reaches_scan(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    q = li.select("l_orderkey", "l_quantity")
    txt = _fmt(q)
    read_schema = txt.split("ReadSchema:")[1].splitlines()[0]
    assert "l_orderkey" in read_schema and "l_quantity" in read_schema
    assert "l_extendedprice" not in read_schema  # untouched columns pruned


def test_quality_query_stays_in_codegen(spark):
    from geoharvest_spark.textops import with_quality

    d = spark.read.parquet(f"{SF}/documents.parquet")
    df = with_quality(d).select("doc_id", "mean_word_len", "upper_ratio")
    # r8: with_quality spreads a narrow scan (one exchange), which makes the
    # pre-execution plan adaptive and hides codegen markers — materialize
    # THIS query execution (collect, not a write clone) and assert on the
    # final plan
    df.collect()
    plan = _plan(df)
    assert "*(" in plan  # whole-stage-codegen marker
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    # the spread exchange must stay pruned: quality needs doc_id+text only
    exch = plan.split("Exchange hashpartitioning")[1].splitlines()[0]
    assert "lang" not in exch and "source" not in exch


def test_ghcell_is_jvm_side(spark):
    """Cell assignment must not invoke Python (pure Column arithmetic)."""
    from geoharvest_spark import index as ix

    ev = spark.read.parquet(f"{SF}/events.parquet")
    pts = ev.select(
        ((F.col("event_id") * 7919 % 36000) / 100.0 - 180.0).alias("lon"),
        ((F.col("event_id") * 104729 % 18000) / 100.0 - 90.0).alias("lat"),
    )
    plan = _plan(pts.withColumn("cell", ix.ghcell(F.col("lon"), F.col("lat"), 7)))
    assert "EvalPython" not in plan
    assert "*(" in plan  # whole-stage-codegen marker


def test_knn_distance_is_jvm_side(spark):
    """haversine_m stays in codegen — no Python in the kNN hot path after
    the (tiny) ring UDF on the query side."""
    from geoharvest_spark.geo import haversine_m

    ev = spark.read.parquet(f"{SF}/events.parquet").limit(100)
    a = ev.select(F.col("event_id"), F.lit(1.0).alias("lon"), F.lit(2.0).alias("lat"))
    d = a.withColumn("d", haversine_m(F.lit(0.0), F.lit(0.0), F.col("lon"), F.col("lat")))
    assert "EvalPython" not in _plan(d)


def test_broadcast_for_tiny_dims(spark):
    n = spark.read.parquet(f"{SF}/nation.parquet")
    c = spark.read.parquet(f"{SF}/customer.parquet")
    j = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
    assert "BroadcastHashJoin" in _plan(j)


def test_partial_aggregation_before_shuffle(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    agg = li.groupBy("l_returnflag").agg(F.count(F.lit(1)).alias("n"))
    plan = _plan(agg)
    # map-side partial: HashAggregate appears below AND above the exchange
    assert plan.count("HashAggregate") >= 2
    assert "Exchange hashpartitioning(l_returnflag" in plan


def test_tile_rollup_scans_points_once(spark):
    """Hierarchical pyramid rollup reads the point source ONCE; the direct
    per-level plan scans it len(levels) times."""
    from geoharvest_spark.tiles import tile_pyramid_counts_rollup

    pts = spark.read.parquet(f"{SF}/events.parquet").select(
        (F.col("event_id") % 360 - 180.0).cast("double").alias("lon"),
        (F.col("event_id") % 180 - 90.0).cast("double").alias("lat"),
    )
    rolled = tile_pyramid_counts_rollup(pts, (5, 6, 7, 8, 9))
    assert _plan(rolled).count("events.parquet") == 1
    # direct construction scans once per level
    frames = None
    from geoharvest_spark import index as ix

    for r in (5, 6, 7, 8, 9):
        d = (
            pts.withColumn("cell", ix.ghcell(F.col("lon"), F.col("lat"), r))
            .groupBy("cell").agg(F.count(F.lit(1)).alias("n_points"))
            .withColumn("res", F.lit(r))
        )
        frames = d if frames is None else frames.unionByName(d)
    assert _plan(frames).count("events.parquet") == 5


def test_ngram_jaccard_has_no_blocked_self_join(spark):
    """Candidates come from banded LSH buckets — the plan joins on
    (band, bucket), never a block-column self-join (r1's O(block^2) risk)."""
    from geoharvest_spark.textops import ngram_jaccard_pairs

    d = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(ngram_jaccard_pairs(d, threshold=0.8))
    assert "band" in plan and "bucket" in plan
    assert "blk" not in plan
    assert "CartesianProduct" not in plan


def test_cosine_topk_never_shuffles_corpus_vectors(spark):
    """Distributed exact top-k: the corpus streams through mapInPandas in
    its scan stage; the only Exchange carries per-batch top-k rows (qid,
    vec_id, cos_sim), never the embedding vectors."""
    from geoharvest_spark.simsearch import cosine_topk

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = e.where(F.col("vec_id") < 5)
    plan = _plan(cosine_topk(q, e, k=5))
    post_shuffle = plan.split("Exchange")[0]  # top of plan = after shuffle
    assert "_cv" not in post_shuffle  # vectors never cross the exchange
    assert "CartesianProduct" not in plan


def test_cosine_near_dup_join_is_bucketed(spark):
    """Embedding near-dup candidates come from the (table, bucket)
    equi-join — never a cartesian/broadcast-nested-loop all-pairs."""
    from geoharvest_spark.simsearch import cosine_near_dup_pairs

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    plan = _plan(cosine_near_dup_pairs(e, dim=64, threshold=0.9))
    assert "bucket" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_checkpoint_pending_is_anti_join(spark, tmp_path):
    """Resume filtering is a distributed left-anti join against the
    lineage table — completed partitions never collect to the driver."""
    from pyspark.sql import functions as F

    from geoharvest_spark.checkpoint import CheckpointStore

    store = CheckpointStore(spark, str(tmp_path / "lineage"))
    store.mark("j", "s", [(1, 10, 100), (2, 5, 50)])
    work = spark.range(100).select(
        F.col("id").alias("event_id"), (F.col("id") % 8).cast("int").alias("partition_id")
    )
    plan = _plan(store.pending(work, "j", "s"))
    assert "LeftAnti" in plan


def test_checkpoint_pending_without_lineage_is_work(spark, tmp_path):
    """With no lineage yet nothing is done: pending returns the work rows
    as they are, with no join and no scan of an empty log."""
    from geoharvest_spark.checkpoint import CheckpointStore

    store = CheckpointStore(spark, str(tmp_path / "lineage"))
    work = spark.range(100).select(
        F.col("id").alias("event_id"), (F.col("id") % 8).cast("int").alias("partition_id")
    )
    todo = store.pending(work, "j", "s")
    assert sorted(todo.collect()) == sorted(work.collect())
    plan = _plan(todo)
    assert "Join" not in plan and "ExistingRDD" not in plan


def test_chunk_dedup_no_global_sort(spark):
    # first-wins keeper must be a hash aggregate (min-struct), never a
    # window over a global sort — the sort would be corpus-wide at 100 TB
    from geoharvest_spark import textops as tx

    d = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(tx.chunk_dedup(d, chunk_tokens=20))
    assert "Window" not in plan
    assert "EvalPython" not in plan
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_contamination_semi_join_shape(spark):
    # r8 single-pass shape: corpus explodes once, LEFT-joins the (tiny,
    # distinct-reduced) benchmark hashes, and one aggregate counts grams
    # and hits together — no separate totals pass, no totals join; corpus
    # rows never enter Python
    from geoharvest_spark import textops as tx

    d = spark.read.parquet(f"{SF}/documents.parquet")
    bench = d.where(F.col("doc_id") % 50 == 0)
    corpus = d.where(F.col("doc_id") % 50 != 0)
    plan = _plan(tx.contamination_stats(corpus, bench, n=8))
    assert "LeftOuter" in plan
    assert "LeftSemi" not in plan
    assert "EvalPython" not in plan


def test_repetition_partial_aggregation(spark):
    from geoharvest_spark import textops as tx

    d = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(tx.repetition_stats(d))
    assert plan.count("HashAggregate") >= 2
    assert "EvalPython" not in plan


def test_hash_split_is_narrow(spark):
    # split assignment is a pure per-row expression: no shuffle at all
    from geoharvest_spark import textops as tx

    d = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(tx.hash_split(d))
    assert "Exchange" not in plan
    assert "EvalPython" not in plan


def test_gram_ops_split_once_per_doc(spark):
    # regression for the round-4 headroom finding: building grams straight
    # off split(text) inlines one split per lambda reference (n+2 per
    # gram -> 22x slower at n=8); the staged projection must keep exactly
    # one split per input relation
    from geoharvest_spark import textops as tx

    d = spark.read.parquet(f"{SF}/documents.parquet")
    bench = d.where(F.col("doc_id") % 50 == 0)
    assert _plan(tx.repetition_stats(d)).count("split(") == 1
    # chunk_dedup (r8): the exploded frame is CACHED — keeper aggregate
    # and join probe read InMemoryTableScans instead of recomputing the
    # chunking lineage; the totals branch derives its count from the token
    # array without exploding (its split prints at the project + pushed
    # filter + scan-DataFilters sites, plus one per cached-relation print
    # — never per-chunk splits)
    chunk_plan = _plan(tx.chunk_dedup(d))
    assert chunk_plan.count("InMemoryTableScan") == 2
    assert chunk_plan.count("split(") == 5
    spark.catalog.clearCache()
    # contamination (r8 single-pass): corpus grams + bench grams — the
    # separate totals branch (and its third split) is gone
    assert _plan(tx.contamination_stats(d, bench, n=8)).count("split(") == 2


def test_scalar_text_ops_split_once(spark):
    from geoharvest_spark import textops as tx

    d = spark.read.parquet(f"{SF}/documents.parquet")
    for fn in (tx.with_quality, tx.with_langid, tx.with_token_stats):
        assert _plan(fn(d)).count("split(") == 1, fn.__name__


def test_pack_and_cap_minimal_plans(spark):
    # r5 operators: exactly ONE exchange + ONE window each — the packing
    # order is per-bucket (no global-order single-partition sort) and the
    # cap is a single keyed window, nothing Python-side
    from geoharvest_spark import textops as tx

    d = spark.read.parquet(f"{SF}/documents.parquet")
    p = _plan(tx.pack_sequences(d, seq_len=512, buckets=8))
    assert p.count("Exchange") == 1 and p.count("Window") == 1
    assert "EvalPython" not in p
    keyed = d.select("doc_id", (F.col("doc_id") % 7).alias("dom"))
    # window-only mode: exactly one exchange + one window
    c = _plan(tx.cap_per_key(keyed, "dom", 3, hot_threshold=None))
    assert c.count("Exchange") == 1 and c.count("Window") == 1
    assert "EvalPython" not in c
    # default (hot-census-guarded) mode: the window exists ONLY in the
    # cold branch — the hot branch is the bounded min-k aggregation
    cg = _plan(tx.cap_per_key(keyed, "dom", 3))
    assert cg.count("Window") == 1
    assert "EvalPython" not in cg


def test_bloom_staged_probe_plan(spark):
    # the 2^20-bit probe must carry ONE md5 evaluation (staged hash
    # alias) and ONE copy of the bitset literal (inside the HOF
    # lambda) — the inline form regressed to minutes at 4M rows
    # (per-term literal copies + O(position) string substr)
    from pyspark.sql import functions as F

    from geoharvest_spark.bloom import bloom_build, bloom_filter_where

    i = F.col("id")
    dim = spark.range(1000).select((i * 13 + 7).alias("key"))
    hx = bloom_build(dim, "key", m_bits=1 << 20, k=5)
    out = bloom_filter_where(
        spark.range(1000).select(i.alias("key")), "key", hx, 1 << 20, 5
    )
    plan = _plan(out)
    # Catalyst inlines the staged hash into the filter's two reference
    # sites (h, h2) -> exactly 2 md5 evals/row; the inline form had 2*k
    assert plan.count("md5") == 2, plan.count("md5")
    # one copy of the 2^18-hex-char bitset in the plan, not k copies
    # (the plan string embeds the literal; k copies would exceed 5x)
    assert len(hx) // 2 * 2 == len(hx) and len(plan) < 2 * len(hx), len(plan)


def test_dhash_near_dups_caches_signatures(spark):
    # both sides of the band self-join must read the signature CACHE —
    # without it the upstream decode mapInPandas runs twice (measured)
    from geoharvest_spark.imagehash import (
        dhash_near_dups,
        synth_dhash_media_df,
        with_image_dhash,
    )

    out = dhash_near_dups(with_image_dhash(synth_dhash_media_df(spark, 6)))
    plan = _plan(out)
    assert plan.count("InMemoryTableScan") >= 2, plan[:1500]


def test_timeseries_single_exchange_plans(spark):
    # scd2: three windows + the island aggregate all share the ONE
    # user-keyed Exchange (groupBy(key, _grp) is satisfied by hash(key));
    # rolling: one Exchange + one RANGE window; trajectories: the lag
    # window's hash(user) also satisfies the final groupBy — one
    # Exchange end to end. No Python anywhere.
    from geoharvest_spark.mobility import trajectory_lengths
    from geoharvest_spark.timeseries import rolling_range_sum, scd2_intervals

    ev = spark.read.parquet(f"{SF}/events.parquet")
    p = _plan(scd2_intervals(ev, "user_id", "ts", "event_type", "event_id"))
    assert p.count("Exchange") == 1, p.count("Exchange")
    assert "EvalPython" not in p
    r = _plan(
        rolling_range_sum(
            ev.select("user_id", "ts", (F.col("event_id") % 10).alias("v")),
            "user_id",
            "ts",
            "v",
            86400,
        )
    )
    assert r.count("Exchange") == 1 and r.count("Window") == 1
    assert "EvalPython" not in r
    pts = ev.select(
        "event_id",
        "ts",
        "user_id",
        (F.col("event_id") % 360 - 180.0).alias("lon"),
        (F.col("event_id") % 180 - 90.0).alias("lat"),
    )
    t = _plan(trajectory_lengths(pts, ts_col="ts"))
    assert t.count("Exchange") == 1 and t.count("Window") == 1
    assert "EvalPython" not in t


def test_profile_single_expand_no_python(spark):
    # the multi-column exact-distinct profile must plan as ONE Expand +
    # two-stage aggregate (the standard multi-distinct rewrite), not a
    # per-column job or a Python stage
    from geoharvest_spark.profile import profile_columns

    o = spark.read.parquet(f"{SF}/orders.parquet")
    p = _plan(profile_columns(o))
    assert p.count("Expand") == 1, p.count("Expand")
    assert "EvalPython" not in p


def test_skyline_two_arrow_phases(spark):
    # two-phase skyline = exactly two Arrow-batched applyInPandas
    # stages (local skylines, then one merge group)
    from geoharvest_spark.profile import skyline2d

    d = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id",
        F.col("n_chars").alias("x"),
        (F.col("doc_id") % 997).alias("y"),
    )
    p = _plan(skyline2d(d, "x", "y", "doc_id"))
    assert p.count("FlatMapGroupsInPandas") == 2, p


def test_text_ops_split_once_r6s3(spark):
    # tfidf + boilerplate: the whitespace split evaluates ONCE per row
    # (inline-split trap, CLAUDE.md) and the refine/join paths stay JVM
    from geoharvest_spark.retrieval import tfidf_top_terms
    from geoharvest_spark.textops import remove_boilerplate_lines

    d = spark.read.parquet(f"{SF}/documents.parquet")
    # tfidf: tf and df branches each rescan documents -> 2 branches x 1
    # split (the unstaged form re-evaluated split 5x per row via the
    # generate-inferred filters)
    p1 = _plan(tfidf_top_terms(d, k=3))
    assert p1.count("split(") == 2, p1.count("split(")
    assert "EvalPython" not in p1
    # boilerplate: hot / kept / totals branches -> 3 x 1 split (the
    # chunk_dedup pattern), never per-line splits
    p2 = _plan(remove_boilerplate_lines(d))
    assert p2.count("split(") == 3, p2.count("split(")
    assert "EvalPython" not in p2


def test_fuzzy_join_refine_shape(spark):
    # exactly ONE levenshtein site (refine only — never inside candidate
    # generation) and a codegen length cut before it; ids-only candidates
    from geoharvest_spark.linkage import blocked_fuzzy_join

    c = spark.read.parquet(f"{SF}/customer.parquet")
    lt = c.select(F.col("c_custkey").alias("a"), "c_name")
    rt = c.select(F.col("c_custkey").alias("b"), "c_name")
    for pf in (True, False):
        p = _plan(
            blocked_fuzzy_join(
                lt, rt, "a", "b", "c_name", max_dist=1, prefix_filter=pf
            )
        )
        # two sites: the filter predicate + the dist output column
        # (Catalyst inlines the withColumn into both) — the point of the
        # pin is that levenshtein NEVER appears in candidate generation,
        # i.e. never more than these two refine-stage sites
        assert p.count("levenshtein") == 2, p.count("levenshtein")
        assert "EvalPython" not in p


def test_mlprep_cdc_constraint_plans(spark):
    # target encode: two hash aggregates + joins, NO window; feature
    # hash: one staged split, all-JVM; CDC apply: max-struct agg (no
    # window) + one join; compression ratio: exactly one Arrow python
    # stage and zero exchanges (narrow)
    from geoharvest_spark.mlprep import feature_hash, target_encode
    from geoharvest_spark.profile import check_constraints
    from geoharvest_spark.snapshots import apply_changes
    from geoharvest_spark.textops import with_compression_ratio

    o = spark.read.parquet(f"{SF}/orders.parquet").select(
        "o_orderkey", "o_orderpriority", (F.col("o_orderkey") % 97).alias("y")
    )
    p = _plan(target_encode(o, "o_orderpriority", "y"))
    assert p.count("Window") == 0 and "EvalPython" not in p
    d = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    p = _plan(feature_hash(d, d=256))
    assert p.count("split(") == 1 and "EvalPython" not in p
    assert p.count("Window") == 0
    snap = d.select(F.col("doc_id").alias("k"), F.col("text").alias("v"))
    ch = d.select(
        F.col("doc_id").alias("k"),
        F.lit("U").alias("op"),
        F.lit(1).cast("long").alias("seq"),
        F.col("text").alias("v"),
    )
    p = _plan(apply_changes(snap, ch, "k"))
    assert p.count("Window") == 0 and "EvalPython" not in p
    p = _plan(
        check_constraints(
            snap, not_null=["v"], unique=[["k"]], ranges=[("k", 0, 10)]
        )
    )
    assert "EvalPython" not in p
    p = _plan(with_compression_ratio(d))
    assert p.count("ArrowEvalPython") == 1 and p.count("Exchange") == 0


def test_dbscan_reads_cached_pairs_not_three_grid_joins(spark):
    # the eps-neighbor grid self-join (the dominant shuffle) feeds deg,
    # core_edges and border; without the pairs/core caches it re-runs 3x
    # (VERDICT r6 #3). The final plan must read InMemoryTableScans (the
    # cached ids-only pairs + core id set), and the grid join itself must
    # appear at most once in the uncached remainder.
    from geoharvest_spark.clustering import dbscan

    df = spark.createDataFrame(
        [(i, float(i % 7), float(i // 7)) for i in range(30)],
        "id long, x double, y double",
    )
    out = dbscan(df, eps=1.1, min_pts=3)
    plan = _plan(out)
    assert plan.count("InMemoryTableScan") >= 3, plan[:2000]
    spark.catalog.clearCache()


def test_substring_dedup_hash_agg_no_sorts(spark):
    # the keeper aggregate must be a HASH aggregate (struct min buffers
    # demote to SortAggregate = full gram-stream sort, measured 7.8x
    # super-linear at 4x volume) and the dup probe a shuffled hash join
    # reusing the keeper's gh exchange — no sort-merge sorts anywhere.
    from geoharvest_spark.textops import chunk_dedup, substring_span_dedup

    docs = spark.createDataFrame(
        [(i, "a b c d e f g h i j k l m n o p") for i in range(20)],
        "doc_id long, text string",
    )
    # common path: census small -> broadcast probes, primitive agg only
    p = _plan(substring_span_dedup(docs, k=8, emit_clean=False))
    assert "SortAggregate" not in p, p[:1500]
    assert "BroadcastHashJoin" in p, p[:1500]
    spark.catalog.clearCache()
    # ids >= 2^32: same census + broadcast on the decimal(38,0) pack, and
    # the decimal keeper is still a hash aggregate
    wide = docs.selectExpr("doc_id + (1L << 40) AS doc_id", "text")
    p = _plan(substring_span_dedup(wide, k=8, emit_clean=False))
    assert "SortAggregate" not in p, p[:1500]
    assert "BroadcastHashJoin" in p, p[:1500]
    assert "decimal(38,0)" in p, p[:1500]
    spark.catalog.clearCache()
    # fallback path (lazy / big-dup corpora): shuffle-hash, still no sort
    p = _plan(
        substring_span_dedup(
            docs, k=8, emit_clean=False, broadcast_threshold=None
        )
    )
    assert "SortAggregate" not in p, p[:1500]
    assert "ShuffledHashJoin" in p, p[:1500]
    spark.catalog.clearCache()
    p2 = _plan(chunk_dedup(docs))
    assert "SortAggregate" not in p2, p2[:1500]
    assert "ShuffledHashJoin" in p2, p2[:1500]


def test_zrange_computed_key_no_morton_blowup(spark):
    # computed-key form: the filter must hold ONE exists() referencing
    # the morton key twice — the BETWEEN form pushed below the key's
    # projection inlines the giant spread expression 2*n_ranges times
    # (multi-MiB codegen, OOMs a default-heap driver; measured in smoke)
    from pyspark.sql import functions as F

    from geoharvest_spark.index import zorder_bbox_predicate, zorder_key

    i = F.col("id")
    pts = spark.range(100).select(
        ((i * 7919 % 36000) / 100.0 - 180.0).alias("lon"),
        ((i * 104729 % 18000) / 100.0 - 90.0).alias("lat"),
    )
    keyed = pts.withColumn("zkey", zorder_key(F.col("lon"), F.col("lat"), 8))
    zp = zorder_bbox_predicate(
        F.col("zkey"), -60.0, 55.0, -25.0, 40.0, res=8, max_ranges=24,
        stored_key=False,
    )
    out = keyed.where(zp).agg(F.sum("zkey").alias("s"))
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    # 0x55555555 appears exactly twice per morton copy (x and y final
    # masks): allow the filter's two references + the aggregate's staged
    # projection = 3 copies (vs 2*24 = 48 copies in the BETWEEN form)
    assert plan.count("1431655765") <= 6, plan[:2000]


def test_phrase_search_is_narrow(spark):
    # the HOF phrase scan must stay shuffle-free and Python-free
    from geoharvest_spark.retrieval import phrase_match_counts

    d = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(phrase_match_counts(d, "needle in the haystack"))
    assert "Exchange" not in plan
    assert "EvalPython" not in plan


def test_zrange_betweens_push_down_on_stored_key(spark, tmp_path):
    # the stored-key BETWEEN form must reach the parquet scan as
    # PushedFilters over the zkey column of a zorder_layout table —
    # that's the row-group min/max pruning the planner exists for
    from geoharvest_spark.index import zorder_bbox_predicate, zorder_layout

    i = F.col("id")
    pts = spark.range(50000).select(
        ((i * 7919 % 36000) / 100.0 - 180.0).alias("lon"),
        ((i * 104729 % 18000) / 100.0 - 90.0).alias("lat"),
    )
    path = str(tmp_path / "zlayout")
    zorder_layout(pts, res=8, partitions=8).write.parquet(path)
    t = spark.read.parquet(path)
    zp = zorder_bbox_predicate(
        F.col("zkey"), -60.0, 55.0, -25.0, 40.0, res=8, max_ranges=8
    )
    txt = _fmt(t.where(zp).select("zkey"))
    pushed = txt.split("PushedFilters")[1][:800]
    assert "zkey" in pushed, pushed
    # and rows selected equal the computed-key exists() form
    from geoharvest_spark.index import zorder_key

    zp2 = zorder_bbox_predicate(
        F.col("zkey"), -60.0, 55.0, -25.0, 40.0, res=8, max_ranges=8,
        stored_key=False,
    )
    assert t.where(zp).count() == t.where(zp2).count()
