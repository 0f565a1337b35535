"""Text-pipeline + similarity-search + multimodal-plumbing tests over the
driver-provided documents/embeddings tables (sf0.001)."""

from __future__ import annotations

import contextlib

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from geoharvest_spark import textops as tx
from geoharvest_spark.simsearch import cosine_topk_bruteforce, lsh_topk

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").cache()


def test_token_stats_match_ncols(docs):
    out = tx.with_token_stats(docs).where(
        F.col("n_chars_calc") != F.col("n_chars")
    )
    assert out.count() == 0  # driver's n_chars column is len(text)


def test_quality_ranges(docs):
    out = tx.with_quality(docs).select(
        "mean_word_len", "upper_ratio", "digit_ratio", "distinct_ratio"
    ).toPandas()
    assert (out.mean_word_len > 0).all()
    assert ((out.upper_ratio >= 0) & (out.upper_ratio <= 1)).all()
    assert ((out.distinct_ratio > 0) & (out.distinct_ratio <= 1)).all()


def test_langid_mostly_en(docs):
    out = tx.with_langid(docs).groupBy("lang_pred").count().toPandas()
    top = out.sort_values("count", ascending=False).iloc[0]
    assert top.lang_pred == "en"  # corpus is english-ish word salad


def test_fingerprint_order_invariant(spark):
    df = spark.createDataFrame(
        [(1, "a b c"), (2, "c b a"), (3, "a b d")], "id long, text string"
    )
    out = df.select("id", tx.fingerprint_col(F.col("text")).alias("fp")).toPandas()
    fps = dict(zip(out.id, out.fp))
    assert fps[1] == fps[2] != fps[3]


def test_exact_dedup_counts(docs):
    total = docs.count()
    dd = tx.exact_dedup(docs)
    n_groups = dd.count()
    assert dd.agg(F.sum("n_dups")).first()[0] == total
    assert n_groups <= total
    # keep_id is the min doc_id of its group
    joined = (
        docs.select(F.md5("text").alias("text_md5"), "doc_id")
        .join(dd, "text_md5")
        .groupBy("text_md5")
        .agg(F.min("doc_id").alias("true_min"), F.first("keep_id").alias("keep"))
    )
    assert joined.where(F.col("true_min") != F.col("keep")).count() == 0


def test_ngram_jaccard_pairs_oracle(spark):
    rows = [
        (1, "the quick brown fox jumps", "a"),
        (2, "the quick brown fox leaps", "a"),
        (3, "entirely different words here", "a"),
        (4, "the quick brown fox jumps", "b"),  # exact dup of 1, corpus-wide
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = tx.ngram_jaccard_pairs(df, threshold=0.5).toPandas()
    # corpus-wide semantics: (1,4) identical, (2,4) = (1,2) = 4/6
    assert set(zip(out.id_a, out.id_b)) == {(1, 2), (1, 4), (2, 4)}
    j = {(r.id_a, r.id_b): r.jaccard for r in out.itertuples()}
    assert abs(j[(1, 2)] - 4 / 6) < 1e-12
    assert j[(1, 4)] == 1.0
    assert abs(j[(2, 4)] - 4 / 6) < 1e-12


def test_ngram_jaccard_matches_all_pairs(spark, docs):
    """LSH candidates lose nothing vs brute-force all-pairs at near-dup
    thresholds (the driver oracle is all-pairs SQL)."""
    pdf = docs.limit(120).toPandas()
    toks = {r.doc_id: set(r.text.split()) for r in pdf.itertuples()}
    ids = sorted(toks)
    expect = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            inter = len(toks[a] & toks[b])
            union = len(toks[a] | toks[b])
            if union and inter / union >= 0.8:
                expect.add((a, b))
    out = tx.ngram_jaccard_pairs(
        docs.limit(120), threshold=0.8
    ).toPandas()
    assert set(zip(out.id_a, out.id_b)) == expect


def _true_jaccard(a: str, b: str, shingle: int = 2) -> float:
    def grams(t):
        w = t.split()
        return set(
            " ".join(w[i : i + shingle]) for i in range(len(w) - shingle + 1)
        )

    ga, gb = grams(a), grams(b)
    return len(ga & gb) / len(ga | gb)


def test_minhash_lsh_finds_near_dups(spark, docs):
    # plant near-duplicates: copy 10 docs with one word changed
    base = docs.limit(10).toPandas()
    clones = base.copy()
    clones["doc_id"] = clones["doc_id"] + 1_000_000
    clones["text"] = clones["text"].str.replace(" ", " ", n=1) + " extra"
    both = spark.createDataFrame(
        pd.concat([base, clones]), schema=docs.schema
    )
    pairs = tx.minhash_lsh_pairs(both, num_hashes=64, bands=16).toPandas()
    found = set(zip(pairs.id_a, pairs.id_b))
    planted = {(i, i + 1_000_000) for i in base.doc_id}
    assert planted <= found  # every planted near-dup is a candidate
    # est_jaccard correlates with true jaccard on planted pairs
    for _, r in pairs[pairs.id_b - pairs.id_a == 1_000_000].iterrows():
        t = base[base.doc_id == r.id_a].text.iloc[0]
        tj = _true_jaccard(t, t + " extra")
        assert abs(r.est_jaccard - tj) < 0.35


def test_simhash_identical_and_near(spark):
    rows = [(1, "alpha beta gamma delta epsilon zeta"),
            (2, "alpha beta gamma delta epsilon zeta"),
            (3, "alpha beta gamma delta epsilon eta"),
            (4, "one two three four five six")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = tx.simhash_signatures(df).toPandas().set_index("id").simhash
    assert sigs[1] == sigs[2]
    dups = tx.simhash_near_dups(df, max_hamming=16).toPandas()
    pairs = set(zip(dups.id_a, dups.id_b))
    assert (1, 2) in pairs
    ham_12 = dups[(dups.id_a == 1) & (dups.id_b == 2)].hamming.iloc[0]
    assert ham_12 == 0


def test_cosine_topk_bruteforce_oracle(spark, emb):
    queries = emb.limit(5)
    out = cosine_topk_bruteforce(queries, emb, k=5).toPandas()
    # numpy oracle
    pdf = emb.toPandas()
    mat = np.array(pdf.embedding.tolist(), dtype=np.float64)
    mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    ids = pdf.vec_id.to_numpy()
    for qid in out.qid.unique():
        qv = mat[ids == qid][0]
        sims = mat @ qv
        order = np.lexsort((ids, -sims))[:5]
        expect = list(ids[order])
        got = list(out[out.qid == qid].sort_values("rank").vec_id)
        assert got == expect
        # rank 1 is the query itself (cos=1)
        assert got[0] == qid


def test_lsh_topk_recall(spark, emb):
    queries = emb.limit(20)
    exact = cosine_topk_bruteforce(queries, emb, k=10).toPandas()
    approx = lsh_topk(queries, emb, dim=64, k=10, n_bits=7, n_tables=6).toPandas()
    recalls = []
    for qid in exact.qid.unique():
        e = set(exact[exact.qid == qid].vec_id)
        a = set(approx[approx.qid == qid].vec_id)
        recalls.append(len(e & a) / len(e))
    # random gaussian vectors are LSH's hardest case; multi-table multiprobe
    # still has to recover a decent fraction of true neighbors
    assert np.mean(recalls) > 0.5


def test_multimodal_plumbing(spark):
    from geoharvest_spark.multimodal import (
        FEATURE_DIM,
        frame_sample_plan,
        synth_media_df,
        with_media_features,
    )

    media = synth_media_df(spark, 30)
    feats = with_media_features(media)
    pdf = feats.select("media_id", "features").toPandas()
    assert all(len(v) == FEATURE_DIM for v in pdf.features)
    # deterministic: same payload -> same features
    f2 = with_media_features(media).select("media_id", "features").toPandas()
    m = pdf.merge(f2, on="media_id")
    assert all(list(a) == list(b) for a, b in zip(m.features_x, m.features_y))
    frames = frame_sample_plan(media)
    assert frames.count() > 0
    assert frames.where(F.col("kind") != "video").count() == 0


def test_real_wav_decode_roundtrip():
    """synth_wav is a REAL PCM WAV: stdlib decode recovers the signal."""
    import numpy as np

    from geoharvest_spark.multimodal import decode_wav, synth_wav, wav_features

    x, rate = decode_wav(synth_wav(3))
    assert rate == 8000 and len(x) == 1600
    assert 0.3 < np.abs(x).max() <= 1.0  # a real sine+noise, not bytes-noise
    f = wav_features(synth_wav(3))
    assert len(f) == 64
    assert abs(f[60] - 0.2) < 1e-6  # duration feature = 0.2s
    assert all(v >= 0 for v in f[:60])  # RMS windows non-negative


def test_real_ppm_decode_roundtrip():
    import numpy as np

    from geoharvest_spark.multimodal import decode_ppm, ppm_features, synth_ppm

    img = decode_ppm(synth_ppm(5, w=32, h=24))
    assert img.shape == (24, 32, 3) and img.dtype == np.uint8
    f = ppm_features(synth_ppm(5, w=32, h=24))
    assert len(f) == 64
    assert abs(sum(f[:16]) - 1.0) < 1e-6  # luminance histogram sums to 1


def test_media_features_real_vs_stub_dispatch(spark):
    """Audio/image rows get REAL decoded features; video stays stubbed."""
    from geoharvest_spark.multimodal import (
        decode_features,
        synth_media_df,
        wav_features,
        with_media_features,
    )

    m = with_media_features(synth_media_df(spark, 9))
    pdf = m.select("media_id", "kind", "payload", "features").toPandas()
    for r in pdf.itertuples():
        expect = decode_features(r.kind, r.payload)
        assert list(r.features) == pytest.approx(expect, abs=0)
        if r.kind == "audio":
            assert list(r.features) == pytest.approx(wav_features(r.payload), abs=0)


def test_ivf_topk_recall_and_determinism(spark, emb):
    """IVF ANN: deterministic centroids, recall bounded below on the
    hardest case (near-orthogonal gaussians), and full probing (n_probe =
    n_lists) recovers the exact answer."""
    from geoharvest_spark.simsearch import (
        cosine_topk_bruteforce,
        ivf_centroids_np,
        ivf_topk,
    )

    pdf = emb.toPandas()
    vecs = np.array(pdf.embedding.tolist(), dtype=np.float64)
    c1 = ivf_centroids_np(vecs, n_lists=8)
    c2 = ivf_centroids_np(vecs, n_lists=8)
    assert (c1 == c2).all()  # deterministic training

    queries = emb.limit(10)
    exact = cosine_topk_bruteforce(queries, emb, k=5).toPandas()
    # full probe == exact
    full = ivf_topk(queries, emb, c1, k=5, n_probe=8).toPandas()
    a = exact.sort_values(["qid", "rank"])[["qid", "vec_id"]].values
    b = full.sort_values(["qid", "rank"])[["qid", "vec_id"]].values
    assert (a == b).all()
    # partial probe: reasonable recall
    part = ivf_topk(queries, emb, c1, k=5, n_probe=3).toPandas()
    recalls = []
    for qid in exact.qid.unique():
        e = set(exact[exact.qid == qid].vec_id)
        p = set(part[part.qid == qid].vec_id)
        recalls.append(len(e & p) / len(e))
    assert np.mean(recalls) > 0.4


def test_cosine_near_dup_pairs_matches_bruteforce(spark):
    """LSH-candidate near-dup pairs == all-pairs truth at threshold 0.9
    on a corpus with planted near-duplicates (miss prob < 2e-5/pair)."""
    import numpy as np
    import pandas as pd

    from geoharvest_spark.simsearch import _normalize_rows, cosine_near_dup_pairs

    rs = np.random.RandomState(42)
    base = rs.normal(size=(120, 64))
    pert = base[::2] + rs.normal(scale=0.02, size=base[::2].shape)
    vecs = np.vstack([base, pert])
    ids = list(range(120)) + [1000 + i for i in range(0, 120, 2)]
    pdf = pd.DataFrame({"vec_id": ids, "embedding": [list(map(float, v)) for v in vecs]})
    df = spark.createDataFrame(pdf)
    got = (
        cosine_near_dup_pairs(df, dim=64, threshold=0.9)
        .toPandas()
        .sort_values(["id_a", "id_b"])
        .reset_index(drop=True)
    )
    u = _normalize_rows(vecs)
    S = u @ u.T
    want = sorted(
        (min(ids[i], ids[j]), max(ids[i], ids[j]))
        for i in range(len(ids))
        for j in range(i + 1, len(ids))
        if S[i, j] >= 0.9
    )
    assert len(want) >= 60  # the planted pairs are really there
    assert list(map(tuple, got.values)) == want


def test_repetition_stats_known_values(spark):
    # "a b a b c": 2-grams = [a b, b a, a b, b c] -> n=4, top "a b"=2,
    # distinct=3 -> top_frac=0.5, dup_frac=(4-3)/4=0.25
    df = spark.createDataFrame(
        [(1, "a b a b c"), (2, "x y"), (3, "solo")], ["doc_id", "text"]
    )
    out = {
        r["doc_id"]: r
        for r in tx.repetition_stats(df).collect()
    }
    assert out[1]["n_grams"] == 4
    assert out[1]["top_gram_frac"] == 0.5
    assert out[1]["dup_gram_frac"] == 0.25
    assert out[2]["n_grams"] == 1 and out[2]["dup_gram_frac"] == 0.0
    assert 3 not in out  # single-token doc has no 2-grams


def test_chunk_dedup_first_wins_and_reassembly(spark):
    # doc 1 and doc 2 share an identical first chunk (tokens 1..3 with
    # chunk_tokens=3); doc 2 keeps only its unique tail; doc 3 is a full
    # duplicate of doc 1 and collapses to the empty doc
    df = spark.createDataFrame(
        [
            (1, "a b c d e"),
            (2, "a b c x y"),
            (3, "a b c d e"),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in tx.chunk_dedup(df, chunk_tokens=3).collect()}
    import hashlib

    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()  # noqa: E731
    assert out[1]["n_chunks"] == 2 and out[1]["n_kept"] == 2
    assert out[1]["dedup_md5"] == md5("a b c d e")
    assert out[2]["n_chunks"] == 2 and out[2]["n_kept"] == 1
    assert out[2]["dedup_md5"] == md5("x y")
    assert out[3]["n_chunks"] == 2 and out[3]["n_kept"] == 0
    assert out[3]["dedup_md5"] == md5("")


def test_chunk_dedup_keeps_corpus_reconstructible(docs):
    # kept chunks never exceed totals and at least one duplicate chunk
    # exists in the word-salad corpus (short tail chunks collide)
    out = tx.chunk_dedup(docs, chunk_tokens=20).toPandas()
    assert (out.n_kept <= out.n_chunks).all()
    assert out.n_kept.sum() < out.n_chunks.sum()


def test_hash_split_deterministic_and_proportional(docs):
    a = tx.hash_split(docs).select("doc_id", "split").toPandas()
    b = tx.hash_split(docs.repartition(7)).select("doc_id", "split").toPandas()
    # pure function of the id: identical regardless of partitioning
    assert a.sort_values("doc_id").split.tolist() == b.sort_values("doc_id").split.tolist()
    frac = a.split.value_counts(normalize=True)
    assert 0.7 < frac["train"] < 0.9  # ~80/10/10 within small-sample noise
    assert set(frac.index) == {"train", "val", "test"}
    # a different salt re-rolls the assignment
    c = tx.hash_split(docs, salt="other").select("doc_id", "split").toPandas()
    assert a.sort_values("doc_id").split.tolist() != c.sort_values("doc_id").split.tolist()


def test_contamination_stats_known_hits(spark):
    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps")], ["doc_id", "text"]
    )
    corpus = spark.createDataFrame(
        [
            (1, "said the quick brown fox ran"),  # 3-grams overlap x2
            (2, "totally clean document here"),
            (3, "ab"),  # shorter than n -> 0 grams
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r
        for r in tx.contamination_stats(corpus, bench, n=3).collect()
    }
    # corpus doc 1 grams: "said the quick","the quick brown","quick brown fox",
    # "brown fox ran" -> bench has "the quick brown","quick brown fox"
    assert out[1]["n_hits"] == 2 and out[1]["contaminated"]
    assert out[2]["n_hits"] == 0 and not out[2]["contaminated"]
    assert out[3]["n_grams"] == 0 and not out[3]["contaminated"]


def test_vocab_topk_order(spark):
    df = spark.createDataFrame(
        [(1, "b b b a a c"), (2, "a z")], ["doc_id", "text"]
    )
    out = tx.vocab_topk(df, k=3).collect()
    assert [(r["token"], r["n"]) for r in out] == [("a", 3), ("b", 3), ("c", 1)]


# ---------------------------------------------------------------------------
# connected components (round 5 — near-dup clustering)
# ---------------------------------------------------------------------------
def _cc_brute(edges):
    """Driver-side union-find ground truth for small graphs."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


@contextlib.contextmanager
def _cc_distributed(spark):
    """Threshold -1 keeps every connected_components round distributed
    (no driver union-find finish)."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        yield
    finally:
        spark.conf.set(key, prev)


def _on_both_cc_paths(spark, run):
    """``[run() at the default threshold (small graphs finish on the
    driver), run() with every round distributed]``."""
    local = run()
    with _cc_distributed(spark):
        return [local, run()]


def test_connected_components_chain_clique_vstruct(spark):
    edges = [
        (1, 2), (2, 3), (3, 4),          # chain
        (10, 11), (10, 12), (11, 12),    # clique
        (20, 22), (21, 22),              # v-structure (20~21 transitive)
        (30, 31),                        # plain pair
        (40, 3),                         # late link into the chain
    ]
    df = spark.createDataFrame(edges, ["id_a", "id_b"])
    for got in _on_both_cc_paths(spark, lambda: {
        r["id"]: r["component"]
        for r in tx.connected_components(df).collect()
    }):
        assert got == _cc_brute(edges)
        # the v-structure clusters 20 and 21 together (greedy drop-id_b misses this)
        assert got[20] == got[21] == got[22] == 20


def test_connected_components_long_chain_few_rounds(spark):
    """A 200-node chain has diameter 199; star contraction must converge
    within the O(log^2 n) round cap, not O(diameter)."""
    edges = [(i, i + 1) for i in range(200)]
    df = spark.createDataFrame(edges, ["id_a", "id_b"])
    for out in _on_both_cc_paths(
        spark, lambda: tx.connected_components(df, max_iter=12).toPandas()
    ):
        assert set(out["component"]) == {0}
        assert len(out) == 201


def test_connected_components_vertices_and_direction(spark):
    """Isolated vertices map to themselves; edge direction/duplicates/
    self-loops don't matter."""
    edges = [(5, 2), (2, 5), (7, 7), (9, 8)]
    df = spark.createDataFrame(edges, ["id_a", "id_b"])
    verts = spark.createDataFrame([(i,) for i in range(10)], ["doc_id"])
    got = {
        r["id"]: r["component"]
        for r in tx.connected_components(df, vertices=verts).collect()
    }
    assert got[5] == got[2] == 2
    assert got[8] == got[9] == 8
    for iso in (0, 1, 3, 4, 6, 7):
        assert got[iso] == iso
    assert len(got) == 10


def test_connected_components_empty(spark):
    df = spark.createDataFrame([], "id_a long, id_b long")
    assert tx.connected_components(df).count() == 0
    verts = spark.createDataFrame([(1,), (2,)], ["doc_id"])
    got = {
        r["id"]: r["component"]
        for r in tx.connected_components(df, vertices=verts).collect()
    }
    assert got == {1: 1, 2: 2}


def test_contamination_normalize_recovers_cased_punctuated(spark):
    """Planted cased+punctuated contamination: invisible to the exact
    check, fully recovered with normalize=True (the 13-gram rule's
    lowercase+strip-punct preprocessing)."""
    bench = spark.createDataFrame(
        [(0, "alpha beta gamma delta epsilon zeta eta theta")],
        ["doc_id", "text"],
    )
    corpus = spark.createDataFrame(
        [
            (1, "Alpha, Beta; GAMMA delta! epsilon Zeta eta (theta)"),
            (2, "totally unrelated words that score zero hits here ok"),
        ],
        ["doc_id", "text"],
    )
    exact = {
        r["doc_id"]: r["contaminated"]
        for r in tx.contamination_stats(corpus, bench, n=8).collect()
    }
    norm = {
        r["doc_id"]: r["contaminated"]
        for r in tx.contamination_stats(
            corpus, bench, n=8, normalize=True
        ).collect()
    }
    assert exact == {1: False, 2: False}
    assert norm == {1: True, 2: False}


def test_pack_sequences_offsets_and_windows(spark):
    docs = spark.createDataFrame(
        [(i, " ".join(["w"] * n)) for i, n in
         [(0, 100), (1, 250), (2, 0), (3, 600), (4, 50)]],
        ["doc_id", "text"],
    )
    # single bucket so offsets chain across all docs in id order
    out = {
        r["id"]: r
        for r in tx.pack_sequences(docs, seq_len=256, buckets=1).collect()
    }
    # note: split("") yields [""] -> size 1, so the 0-word doc counts 1
    # token (consistent with with_token_stats semantics on this corpus)
    offs = [out[i]["tok_offset"] for i in range(5)]
    assert offs == [0, 100, 350, 351, 951]
    assert out[0]["first_seq"] == 0 and out[0]["last_seq"] == 0
    assert out[1]["first_seq"] == 0 and out[1]["last_seq"] == 1  # spans cut
    assert out[3]["first_seq"] == 1 and out[3]["last_seq"] == 3
    # bucketed variant: offsets are per-bucket namespaced and every doc
    # appears exactly once
    many = spark.createDataFrame(
        [(i, "a b c") for i in range(200)], ["doc_id", "text"]
    )
    packed = tx.pack_sequences(many, seq_len=7, buckets=8).toPandas()
    assert len(packed) == 200 and packed["bucket"].nunique() == 8
    g = packed.sort_values("id").groupby("bucket")
    for _, grp in g:
        # within a bucket, offsets are the running sum of lengths
        assert (grp["tok_offset"].values ==
                grp["n_tokens"].cumsum().values - grp["n_tokens"].values).all()


def test_cap_per_key_keeps_first_k(spark):
    rows = [(d, f"dom{d % 3}") for d in range(30)]
    df = spark.createDataFrame(rows, ["doc_id", "domain"])
    out = tx.cap_per_key(df, "domain", k=4).toPandas()
    kept = out[out["kept"]]
    assert len(kept) == 12  # 4 per domain x 3 domains
    for dom, grp in kept.groupby("domain"):
        ids = sorted(grp["doc_id"])
        all_ids = sorted(
            out[out["domain"] == dom]["doc_id"]
        )
        assert ids == all_ids[:4]  # first k in doc_id order


def test_redact_pii_categories_and_ordering(spark):
    rows = [
        (0, "mail me at john.doe+x@sub.example.co.uk today"),
        (1, "server 192.168.1.254 and acct 1234567890 plus 12345678"),
        (2, "a@1.2.3.4 is not an email (numeric tld) but has an ip"),
        (3, "clean text no pii at all"),
        (4, "two mails a@b.io c.d@e.org one ip 8.8.8.8"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in tx.redact_pii(df).collect()}
    assert out[0]["n_email"] == 1 and "<EMAIL>" in out[0]["text"]
    assert "john" not in out[0]["text"]
    assert out[1]["n_ipv4"] == 1 and out[1]["n_longnum"] == 1
    assert "<IP>" in out[1]["text"] and "<NUM>" in out[1]["text"]
    assert "12345678" in out[1]["text"]  # 8 digits: below threshold, kept
    # numeric TLD is not an email; the dotted quad is caught by the IP pass
    assert out[2]["n_email"] == 0 and out[2]["n_ipv4"] == 1
    assert out[3]["n_email"] == out[3]["n_ipv4"] == out[3]["n_longnum"] == 0
    assert out[3]["text"] == rows[3][1]
    assert out[4]["n_email"] == 2 and out[4]["n_ipv4"] == 1


def test_stratified_hash_sample_rates_and_determinism(spark):
    rows = [(i, ["a", "b", "c"][i % 3]) for i in range(3000)]
    df = spark.createDataFrame(rows, ["doc_id", "stratum"])
    out = tx.stratified_hash_sample(
        df, "stratum", {"a": 10000, "b": 5000, "c": 0}
    ).toPandas()
    by = out.groupby("stratum")["sampled"].agg(["sum", "count"])
    assert by.loc["a", "sum"] == by.loc["a", "count"]  # keep-all
    assert by.loc["c", "sum"] == 0                     # drop-all
    frac_b = by.loc["b", "sum"] / by.loc["b", "count"]
    assert 0.44 < frac_b < 0.56                        # ~50% md5 bucketing
    # determinism + salt re-roll
    again = tx.stratified_hash_sample(
        df, "stratum", {"a": 10000, "b": 5000, "c": 0}
    ).toPandas()
    assert (out.sort_values("doc_id")["sampled"].values
            == again.sort_values("doc_id")["sampled"].values).all()
    rerolled = tx.stratified_hash_sample(
        df, "stratum", {"a": 10000, "b": 5000, "c": 0}, salt="other"
    ).toPandas()
    bmask = out["stratum"] == "b"
    assert (out[bmask].sort_values("doc_id")["sampled"].values
            != rerolled[bmask].sort_values("doc_id")["sampled"].values).any()
    with pytest.raises(ValueError):
        tx.stratified_hash_sample(df, "stratum", {"a": 10001})


def test_connected_components_giant_hub_no_collect_list(spark):
    """Skew contract: one hub with 30k direct neighbors plus a chain
    welded onto a leaf. large-star/small-star never materializes the
    hub's neighborhood on a single row (joins + groupBy-min only), so
    the giant star converges fast and correctly."""
    hub_edges = [(0, i) for i in range(2, 30_002)]
    chain = [(30_001 + i, 30_002 + i) for i in range(50)]  # welded chain
    edges = hub_edges + [(30_001, 30_001 + 1 + 0)] + chain
    df = spark.createDataFrame(edges, ["id_a", "id_b"]).repartition(16)

    def run():
        out = tx.connected_components(df, max_iter=10)
        comps = out.select("component").distinct().collect()
        return [r["component"] for r in comps], out.count()

    for comps, n in _on_both_cc_paths(spark, run):
        assert comps == [0]
        assert n == 30_051  # {0} + {2..30001} + {30002..30051}


def test_redact_pii_progressive_counts_equal_emitted_tokens(spark):
    """ADVICE r5: counts are taken on the progressively-redacted text, so
    a dotted quad or long digit run swallowed by <EMAIL> is not also
    counted in its own category — counts == placeholder tokens emitted."""
    rows = [
        (0, "bob@10.1.2.3.net and acct123456789@mail.org"),  # ip+num inside emails
        (1, "standalone 10.1.2.3 and 123456789 plus x@y.io"),
    ]
    out = {
        r["doc_id"]: r
        for r in tx.redact_pii(
            spark.createDataFrame(rows, ["doc_id", "text"])
        ).collect()
    }
    assert out[0]["n_email"] == 2
    assert out[0]["n_ipv4"] == 0 and out[0]["n_longnum"] == 0
    assert out[0]["text"].count("<EMAIL>") == 2
    assert "<IP>" not in out[0]["text"] and "<NUM>" not in out[0]["text"]
    assert (out[1]["n_email"], out[1]["n_ipv4"], out[1]["n_longnum"]) == (1, 1, 1)
    for r in out.values():
        assert r["text"].count("<EMAIL>") == r["n_email"]
        assert r["text"].count("<IP>") == r["n_ipv4"]
        assert r["text"].count("<NUM>") == r["n_longnum"]


def test_connected_components_max_iter_exhaustion_raises(spark):
    """ADVICE r5: a non-converged edge set is NOT a star forest — the
    label extraction would silently assign wrong components. Exhausting
    max_iter must raise, not return garbage."""
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(60)], ["id_a", "id_b"]
    )
    with _cc_distributed(spark), pytest.raises(RuntimeError, match="did not converge"):
        tx.connected_components(chain, max_iter=1)
    ok = tx.connected_components(chain).toPandas()
    assert (ok["component"] == 0).all() and len(ok) == 61
    # at the default threshold the 60 edges finish on the driver, which
    # is exact whatever round the distributed contraction reached
    local = tx.connected_components(chain, max_iter=1).toPandas()
    assert (local["component"] == 0).all() and len(local) == 61


def _cc_random_graph(rng):
    """One seeded edge list: chains in permuted id order, stars,
    duplicate and reversed edges, self-loops (one on a node with no
    other edge), null endpoints, negative ids and ids >= 2^53."""
    pool = np.concatenate([
        rng.integers(-1000, 1000, 40),
        rng.integers(2**53, 2**62, 20),
        -rng.integers(2**53, 2**62, 10),
    ])
    pool = rng.permutation(np.unique(pool)).tolist()
    edges, i = [], 0
    while i < len(pool) - 1:
        size = int(rng.integers(2, 12))
        group = pool[i:i + size]
        if rng.random() < 0.5:  # chain in permuted id order
            edges += list(zip(group[:-1], group[1:]))
        else:  # star around a random member
            hub = group[int(rng.integers(len(group)))]
            edges += [(hub, x) for x in group if x != hub]
        i += size
    edges += [(b, a) for a, b in edges[: len(edges) // 3]]  # reversed
    edges += edges[: len(edges) // 4]  # duplicates
    edges += [(x, x) for x in pool[:5]] + [(5 * 2**60, 5 * 2**60)]
    edges += [(None, pool[0]), (pool[1], None), (None, None)]
    return edges


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_connected_components_paths_agree_with_union_find(spark, seed):
    """Driver finish == all-distributed rounds == pure-Python union-find,
    on seeded graphs covering the id and edge shapes CC must normalize,
    with and without ``vertices`` (isolated ids included) and on an
    empty edge set."""
    edges = _cc_random_graph(np.random.default_rng(seed))
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    empty = spark.createDataFrame([], "id_a long, id_b long")
    ids = {x for e in edges for x in e if x is not None} | {2**62 + 7, -(2**62) - 3}
    verts = spark.createDataFrame([(x,) for x in ids], "doc_id long")
    want = _cc_brute([(a, b) for a, b in edges if None not in (a, b) and a != b])
    want_v = {x: want.get(x, x) for x in ids}

    def run():
        return [
            {r["id"]: r["component"] for r in out.collect()}
            for out in (
                tx.connected_components(df),
                tx.connected_components(df, vertices=verts),
                tx.connected_components(empty, vertices=verts),
            )
        ]

    local, dist = _on_both_cc_paths(spark, run)
    assert local == dist == [want, want_v, {x: x for x in ids}]


def test_connected_components_small_graph_is_local_relation(spark):
    """A driver-sized edge set finishes in a union-find on the driver:
    the result is a local relation, with no exchange left to run."""
    df = spark.createDataFrame([(1, 2), (2, 3), (7, 9)], ["id_a", "id_b"])
    out = tx.connected_components(df)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "Exchange" not in plan
    assert sorted(map(tuple, out.collect())) == [
        (1, 1), (2, 1), (3, 1), (7, 7), (9, 7)
    ]


def test_cap_per_key_hot_key_bounded_and_exact(spark):
    """VERDICT r5 #4: a planted 5M-row SINGLE-key cap must not buffer
    the key's whole partition in WindowExec. The hot path's per-bucket
    groups stay ~n/buckets (the memory bound), and the kept set is
    exactly the k smallest order values."""
    n, k, buckets = 5_000_000, 3, 256
    df = spark.range(n).select(
        F.lit("megadomain").alias("domain"), F.col("id").alias("doc_id")
    )
    out = tx.cap_per_key(
        df, "domain", k, hot_threshold=100_000, hot_salt_buckets=buckets
    )
    kept = [
        r["doc_id"] for r in out.where("kept").select("doc_id").collect()
    ]
    assert sorted(kept) == [0, 1, 2]
    assert out.count() == n  # audit column, nothing dropped
    # memory bound: the salted pre-agg's largest group is ~n/buckets
    # (xxhash64 imbalance well under 2x at these counts)
    bucket_max = (
        df.groupBy(F.pmod(F.xxhash64("doc_id"), F.lit(buckets)))
        .count()
        .agg(F.max("count"))
        .first()[0]
    )
    assert bucket_max <= 2 * (n // buckets)
    # plan shape: the hot branch must NOT contain a window at all
    hot_plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" in hot_plan  # cold branch keeps its window
    assert hot_plan.count("Window") == 1  # ...and only the cold branch


def test_cap_per_key_hot_path_parity_with_window(spark):
    """Hot path == window path row-for-row on a mixed hot/cold key set
    (unique order values), including k > group size keys."""
    rows = (
        [("hot", i) for i in range(3_000)]
        + [("warm", i + 10_000) for i in range(40)]
        + [("tiny", 99_991), ("tiny", 99_990)]
    )
    df = spark.createDataFrame(rows, ["domain", "doc_id"])
    a = (
        tx.cap_per_key(df, "domain", 5, hot_threshold=None)
        .orderBy("domain", "doc_id")
        .collect()
    )
    b = (
        tx.cap_per_key(
            df, "domain", 5, hot_threshold=100, hot_salt_buckets=16
        )
        .orderBy("domain", "doc_id")
        .collect()
    )
    assert [r.asDict() for r in a] == [r.asDict() for r in b]
    with pytest.raises(ValueError):
        tx.cap_per_key(df, "domain", 5, hot_threshold=2)


def test_sample_k_per_key_deterministic_uniform(spark):
    """Reservoir-equivalent per-key sampling: exact k per key (all rows
    when group < k), no RNG (rerun identical), salt re-rolls, and the
    hot-key path agrees with the window path."""
    rows = [(f"d{i % 7}", i) for i in range(7_000)]
    df = spark.createDataFrame(rows, ["domain", "doc_id"])
    out = tx.sample_k_per_key(df, "domain", 10).toPandas()
    by = out[out["kept"]].groupby("domain").size()
    assert (by == 10).all() and len(by) == 7
    assert len(out) == 7_000  # audit column, nothing dropped
    again = tx.sample_k_per_key(df, "domain", 10).toPandas()
    assert (
        out.sort_values("doc_id")["kept"].values
        == again.sort_values("doc_id")["kept"].values
    ).all()
    rerolled = tx.sample_k_per_key(df, "domain", 10, salt="other").toPandas()
    assert (
        out.sort_values("doc_id")["kept"].values
        != rerolled.sort_values("doc_id")["kept"].values
    ).any()
    # hot-key path parity
    hot = tx.sample_k_per_key(
        df, "domain", 10, hot_threshold=100, hot_salt_buckets=16
    ).toPandas()
    assert (
        out.sort_values("doc_id")["kept"].values
        == hot.sort_values("doc_id")["kept"].values
    ).all()
    # tiny group: all kept
    tiny = spark.createDataFrame([("t", 1), ("t", 2)], ["domain", "doc_id"])
    assert tx.sample_k_per_key(tiny, "domain", 10).toPandas()["kept"].all()


def test_quantize_int8_reference_and_plan(spark):
    """Int8 quantization vs a numpy reference (round-half-up), zero
    vector handling, reconstruction error bound, and the staged-max
    plan (no per-element re-evaluation of the reduction)."""
    import numpy as np

    from geoharvest_spark.simsearch import quantize_int8

    rng = np.random.default_rng(4)
    vecs = [rng.normal(size=16).astype(np.float32) for _ in range(40)]
    vecs.append(np.zeros(16, dtype=np.float32))
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    out = {r["vec_id"]: r for r in quantize_int8(df).collect()}
    for i, v in enumerate(vecs):
        v64 = v.astype(np.float64)
        mx = float(np.abs(v64).max())
        r = out[i]
        assert r["dim"] == 16
        if mx == 0.0:
            assert r["scale"] == 0.0 and list(r["codes"]) == [0] * 16
            continue
        scale = mx / 127.0
        want = np.floor(v64 / scale + 0.5).astype(int)
        assert list(r["codes"]) == want.tolist()
        assert abs(max(r["codes"], key=abs)) == 127  # max hits full range
        # reconstruction error bounded by half a step
        err = np.abs(np.array(r["codes"]) * r["scale"] - v64).max()
        assert err <= scale / 2 + 1e-12
        assert r["l1_code_sum"] == int(np.abs(want).sum())
    # plan: array_max appears exactly twice (scale + the staged column),
    # NOT once per element
    plan = quantize_int8(df)._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("array_max") <= 2


def test_int8_topk_exact_and_recall(spark):
    """Integer top-k: batch-invariant (repartitioned corpus gives the
    identical result), agrees with a numpy reference, and the quantized
    ranking tracks exact cosine closely on well-separated vectors."""
    import numpy as np

    from geoharvest_spark.simsearch import int8_topk

    rng = np.random.default_rng(6)
    vecs = rng.normal(size=(120, 24)).astype(np.float32)
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    qs = df.where(F.col("vec_id") % 20 == 0)
    out = int8_topk(qs, df, k=5).orderBy("qid", "rank").collect()
    out2 = (
        int8_topk(qs, df.repartition(13), k=5)
        .orderBy("qid", "rank")
        .collect()
    )
    assert [r.asDict() for r in out] == [r.asDict() for r in out2]

    # numpy reference with the same quantization
    x = vecs.astype(np.float64)
    mx = np.abs(x).max(axis=1)
    scale = np.where(mx == 0, 1.0, mx / 127.0)
    codes = np.floor(x / scale[:, None] + 0.5).astype(np.int64)
    got = {}
    for r in out:
        got.setdefault(r["qid"], []).append((r["vec_id"], r["score"]))
    for qid in range(0, 120, 20):
        s = codes[qid] @ codes.T
        order = np.lexsort((np.arange(120), -s))[:5]
        want = [(int(j), int(s[j])) for j in order]
        assert got[qid] == want
        # rank-1 result is the query itself (self-similarity dominates)
        assert got[qid][0][0] == qid


def test_substring_span_dedup_known_spans(spark):
    # doc 1 is canonical; doc 2 repeats doc 1's tokens 0..4 (k=3 grams at
    # pos 0,1,2 -> one merged span [0,4]); doc 3 is a full copy of doc 1
    # (every gram duplicated -> whole doc removed); doc 4 is unique; doc 5
    # is shorter than k (no grams, untouched).
    import hashlib

    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()  # noqa: E731
    df = spark.createDataFrame(
        [
            (1, "a b c d e f g"),
            (2, "a b c d e x y"),
            (3, "a b c d e f g"),
            (4, "p q r s t u v"),
            (5, "z q"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r
        for r in tx.substring_span_dedup(df, k=3).collect()
    }
    assert out[1]["n_spans"] == 0 and out[1]["tokens_removed"] == 0
    assert out[1]["clean_md5"] == md5("a b c d e f g")
    # doc 2: dup grams at pos 0,1,2 -> span [0, 4], 5 tokens removed
    assert out[2]["n_spans"] == 1 and out[2]["tokens_removed"] == 5
    assert out[2]["tokens_kept"] == 2 and out[2]["clean_md5"] == md5("x y")
    # doc 3: every position duplicated -> one span covering the doc
    assert out[3]["n_spans"] == 1 and out[3]["tokens_removed"] == 7
    assert out[3]["clean_md5"] == md5("")
    assert out[4]["n_spans"] == 0 and out[4]["clean_md5"] == md5("p q r s t u v")
    assert out[5]["n_tokens"] == 2 and out[5]["n_spans"] == 0
    assert out[5]["clean_md5"] == md5("z q")


def test_substring_span_dedup_within_doc_and_gap_merge(spark):
    # within-doc repetition: "a b c" appears 3x inside one doc; the first
    # occurrence (pos 0) is the keeper, later ones are spans. Non-adjacent
    # duplicate regions separated by unique tokens stay separate spans.
    df = spark.createDataFrame(
        [(1, "a b c u a b c v a b c")],
        ["doc_id", "text"],
    )
    r = tx.substring_span_dedup(df, k=3).collect()[0]
    # dup positions: 4 and 8 -> spans [4,6] and [8,10]
    assert r["n_spans"] == 2 and r["tokens_removed"] == 6
    import hashlib

    assert (
        r["clean_md5"]
        == hashlib.md5(b"a b c u v").hexdigest()
    )


def test_substring_span_dedup_plan_single_split(spark, docs):
    # the token array must be staged once per row (inline-split trap):
    # exactly one split() in the optimized occurrence plan
    out = tx.substring_span_dedup(docs, k=8)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    # one split per scan leg — dup-side occ, the cached dup-gram census
    # (InMemoryRelation prints its cached child plan, so each cache
    # REFERENCE re-prints the one staged split; the census prints two),
    # clean-text base — NOT one per gram reference (the 750x inline
    # trap) and NOT re-evaluated by a pushed size(split(...)) filter.
    # Execution reads the occ cache once (pinned in test_plans).
    assert plan.count("split(") <= 4
    assert "Filter (size(split(" not in plan


def test_semantic_dedup_planted_twins(spark, emb):
    # plant exact-scaled twins for even ids; SemDeDup must put each twin
    # in its source's component and keep only the min id; odd ids stay
    # singletons (natural max pairwise cos is ~0.5 << 0.9)
    from geoharvest_spark.simsearch import ivf_centroids_np, semantic_dedup

    base = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    twins = base.where(F.col("vec_id") % 2 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(F.col("embedding"), lambda x: x * 2.0).alias("embedding"),
    )
    corpus = base.unionByName(twins)
    vecs = np.array(
        [r["embedding"] for r in base.orderBy("vec_id").collect()]
    )
    C = ivf_centroids_np(vecs, n_lists=8)
    out = semantic_dedup(corpus, C, threshold=0.95).toPandas()
    byid = out.set_index("vec_id")
    n_base = len(vecs)
    for vid in byid.index:
        if vid >= 100000:
            src = vid - 100000
            # scaled twin = same direction -> same cluster, same component
            assert byid.loc[vid, "cluster"] == byid.loc[src, "cluster"]
            assert byid.loc[vid, "component"] == src
            assert not byid.loc[vid, "kept"]
        else:
            assert byid.loc[vid, "component"] == vid
            assert bool(byid.loc[vid, "kept"])
    assert int(out.kept.sum()) == n_base


def test_cooccurrence_counts_window_and_boundaries(spark):
    from geoharvest_spark.textops import cooccurrence_counts

    df = spark.createDataFrame(
        [(1, "a b c a"), (2, "a b"), (3, "x"), (4, "")],
        "doc_id long, text string",
    )
    got = {
        (r.w1, r.w2): r.n_pair
        for r in cooccurrence_counts(df, window=2).collect()
    }
    # doc1 d=1: (a,b)(b,c)(c,a); d=2: (a,c)(b,a); doc2: (a,b);
    # 1-token and empty docs contribute nothing, pairs never cross docs
    assert got == {
        ("a", "b"): 2, ("b", "c"): 1, ("c", "a"): 1,
        ("a", "c"): 1, ("b", "a"): 1,
    }
    w1 = {
        (r.w1, r.w2): r.n_pair
        for r in cooccurrence_counts(df, window=1).collect()
    }
    assert w1 == {("a", "b"): 2, ("b", "c"): 1, ("c", "a"): 1}


def test_cooccurrence_min_count_and_validation(spark):
    import pytest as _pytest

    from geoharvest_spark.textops import cooccurrence_counts

    df = spark.createDataFrame([(1, "a b a b")], "doc_id long, text string")
    got = {
        (r.w1, r.w2): r.n_pair
        for r in cooccurrence_counts(df, window=1, min_count=2).collect()
    }
    assert got == {("a", "b"): 2}
    with _pytest.raises(ValueError):
        cooccurrence_counts(df, window=0)


def test_cooccurrence_stays_jvm_side_single_split(spark):
    from geoharvest_spark.textops import cooccurrence_counts

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    plan = (
        cooccurrence_counts(df)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("split(") == 1  # token array staged once


def test_normalize_unicode_nfc(spark):
    import unicodedata

    from geoharvest_spark.textops import UNICODE_PLANT, normalize_unicode

    df = spark.createDataFrame(
        [(1, "plain ascii" + UNICODE_PLANT), (2, None), (3, "")],
        "id long, text string",
    )
    got = {
        r["id"]: r["text"]
        for r in normalize_unicode(df).collect()
    }
    assert got[1] == unicodedata.normalize("NFC", "plain ascii" + UNICODE_PLANT)
    assert got[1] != "plain ascii" + UNICODE_PLANT  # plant really non-NFC
    assert got[2] is None and got[3] == ""


def test_normalize_unicode_form_validation(spark):
    import pytest

    from geoharvest_spark.textops import normalize_unicode

    df = spark.createDataFrame([(1, "x")], "id long, text string")
    with pytest.raises(ValueError, match="normalization form"):
        normalize_unicode(df, form="NFX")


def test_boilerplate_lines_removed_per_group(spark):
    from geoharvest_spark.textops import remove_boilerplate_lines

    # line = 2 tokens; "nav bar" repeats 3x in src A (template), the same
    # line appears once in src B (kept there)
    rows = [
        (1, "A", "nav bar alpha beta"),
        (2, "A", "nav bar gamma delta"),
        (3, "A", "nav bar epsilon zeta"),
        (4, "B", "nav bar unique text"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = {
        r["doc_id"]: (r["n_lines"], r["n_kept"])
        for r in remove_boilerplate_lines(
            df, line_tokens=2, min_count=3
        ).collect()
    }
    assert out[1] == (2, 1) and out[2] == (2, 1) and out[3] == (2, 1)
    assert out[4] == (2, 2)


def test_boilerplate_all_template_doc_empty_md5(spark):
    from geoharvest_spark.textops import remove_boilerplate_lines

    rows = [(i, "A", "cookie banner") for i in range(3)]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = remove_boilerplate_lines(df, line_tokens=2, min_count=3).collect()
    for r in out:
        assert r["n_kept"] == 0
        assert r["clean_md5"] == "d41d8cd98f00b204e9800998ecf8427e"


def test_boilerplate_order_preserved(spark):
    import hashlib

    from geoharvest_spark.textops import remove_boilerplate_lines

    # doc 1's middle line is template (repeats in docs 2,3); survivors
    # rejoin in original order
    rows = [
        (1, "A", "aa bb TPL TPL cc dd"),
        (2, "A", "TPL TPL xx yy"),
        (3, "A", "TPL TPL zz ww"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = {
        r["doc_id"]: (r["n_kept"], r["clean_md5"])
        for r in remove_boilerplate_lines(
            df, line_tokens=2, min_count=3
        ).collect()
    }
    assert out[1] == (2, hashlib.md5(b"aa bb cc dd").hexdigest())


def test_compression_ratio_matches_zlib(spark):
    import zlib

    from geoharvest_spark.textops import with_compression_ratio

    rows = [
        (1, "the quick brown fox jumps over the lazy dog " * 10),
        (2, "aaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaa"),
        (3, "k9!x Qz@7 mP#2 vL$5 wN%8 bT^1 cR&4 dY*6"),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_bytes"], r["z_bytes"], r["compression_ratio"])
        for r in with_compression_ratio(df).collect()
    }
    for i, t in rows:
        if t is None:
            assert got[i] == (None, None, None)
            continue
        n = len(t.encode("utf-8"))
        z = len(zlib.compress(t.encode("utf-8"), 6))
        assert got[i] == (n, z, z / n)
    # repetitive text compresses far below the near-random line
    assert got[2][2] < 0.5 < got[3][2]


def test_substring_dedup_paths_agree(spark):
    # the census-guarded broadcast path and the shuffle-hash fallback
    # must produce identical spans/counts (same keeper semantics)
    from geoharvest_spark.textops import substring_span_dedup

    rows = [
        (1, "x x a b c d e f g h i j tail one"),
        (2, "pre a b c d e f g h i j x y z w"),   # shares the 10-gram
        (3, "a b c d e f g h i j a b c d e f g h i j"),  # internal dup
        (4, "unique tokens only here nothing repeats at all ok"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    a = {
        r["doc_id"]: (r["n_spans"], r["tokens_removed"], r["clean_md5"])
        for r in substring_span_dedup(df, k=8).collect()
    }
    spark.catalog.clearCache()
    b = {
        r["doc_id"]: (r["n_spans"], r["tokens_removed"], r["clean_md5"])
        for r in substring_span_dedup(
            df, k=8, broadcast_threshold=None
        ).collect()
    }
    spark.catalog.clearCache()
    assert a == b
    assert a[4] == (0, 0, a[4][2])
    assert a[2][1] > 0 or a[1][1] > 0  # the shared substring was cut

    # ids outside [0, 2^32): the long id*2^31+pos pack would overflow, so
    # the census path must take the decimal pack and still let the
    # smallest (negative) id win
    import hashlib

    def md5(t):
        return hashlib.md5(t.encode()).hexdigest()

    w = 1 << 40
    texts = {
        -7: "a b c d e f g h i j",
        -2: "p q r s t u v w",
        w + 1: "x a b c d e f g h i j y",
        w + 2: "a b c d e f g h",
        w + 3: "p q r s p q r s",
    }
    wide = spark.createDataFrame(
        list(texts.items()), "doc_id long, text string"
    )
    paths = []
    for bt in (4_000_000, None):
        paths.append({
            r["doc_id"]: (r["n_spans"], r["tokens_removed"], r["clean_md5"])
            for r in substring_span_dedup(
                wide, k=8, broadcast_threshold=bt
            ).collect()
        })
        spark.catalog.clearCache()
    assert paths[0] == paths[1] == {
        -7: (0, 0, md5(texts[-7])),
        -2: (0, 0, md5(texts[-2])),
        w + 1: (1, 10, md5("x y")),
        w + 2: (1, 8, md5("")),
        w + 3: (0, 0, md5(texts[w + 3])),
    }
    chunks = {
        r["doc_id"]: (r["n_chunks"], r["n_kept"], r["dedup_md5"])
        for r in tx.chunk_dedup(wide, chunk_tokens=4).collect()
    }
    spark.catalog.clearCache()
    assert chunks == {
        -7: (3, 3, md5(texts[-7])),
        -2: (2, 2, md5(texts[-2])),
        w + 1: (3, 3, md5(texts[w + 1])),
        w + 2: (2, 0, md5("")),
        w + 3: (2, 0, md5("")),
    }


def test_cdc_chunk_dedup_insertion_robust(spark):
    # a single token inserted at the head shifts every FIXED chunk but
    # content-defined boundaries re-align: doc2 must dedup all chunks
    # after its first, while fixed-size chunking dedups nothing
    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lam mu nu xi omicron pi rho sigma tau upsilon")
    rows = [(1, base), (2, "INSERTED " + base), (4, "short doc"), (5, "")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: (r["n_chunks"], r["n_kept"])
        for r in tx.cdc_chunk_dedup(df, window=4, boundary_bits=2).collect()
    }
    spark.catalog.clearCache()
    assert out[1][0] == out[1][1]          # first doc keeps everything
    assert out[2][1] < out[2][0]           # shifted copy dedups
    assert out[4] == (1, 1) and out[5] == (1, 1)
    fixed = {
        r["doc_id"]: (r["n_chunks"], r["n_kept"])
        for r in tx.chunk_dedup(df, chunk_tokens=6).collect()
    }
    spark.catalog.clearCache()
    assert fixed[2][0] == fixed[2][1]      # fixed-size finds no dup


def test_cdc_chunk_dedup_reassembles_text(spark):
    # chunks partition the token stream: kept-all docs rebuild exactly
    df = spark.createDataFrame(
        [(i, f"u{i} " + " ".join(f"w{i}t{j}" for j in range(30)))
         for j in range(1) for i in range(5)],
        "doc_id long, text string",
    )
    out = tx.cdc_chunk_dedup(df, window=4, boundary_bits=2, emit_text=True)
    for r in out.collect():
        assert r["n_kept"] == r["n_chunks"]
        src = df.where(F.col("doc_id") == r["doc_id"]).head()["text"]
        assert r["dedup_text"] == src
    spark.catalog.clearCache()


def test_lexical_diversity_values(spark):
    df = spark.createDataFrame(
        [(1, "a b a b c"), (2, "x x x x"), (3, "q")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in tx.lexical_diversity(df).collect()}
    assert out[1]["n_distinct"] == 3 and out[1]["simpson_num"] == 4
    assert abs(out[1]["diversity"] - 0.8) < 1e-15
    assert out[2]["diversity"] == 0.0
    assert out[3]["diversity"] is None


def test_term_bursts_trailing_window(spark):
    daily = spark.createDataFrame(
        [("t", d, c) for d, c in [(1, 10), (2, 10), (3, 10), (4, 100),
                                  (5, 10)]] + [("u", 4, 50)],
        "term string, day int, cnt long",
    )
    out = tx.term_bursts(daily, min_count=5, burst_ppm_threshold=2_000_000)
    rows = out.collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["term"], r["day"], r["trailing_total"], r["burst_ppm"]) == (
        "t", 4, 30, 3333333
    )


def test_pack_keeper_ops_reject_string_ids(spark):
    """r8 (ADVICE r7): the packed keepers silently keep zero chunks on
    string ids under non-ANSI casts — reject the dtype up front."""
    import pytest

    from geoharvest_spark.textops import chunk_dedup, substring_span_dedup

    d = spark.createDataFrame(
        [("a", "x y z"), ("b", "x y z")], "doc_id string, text string"
    )
    with pytest.raises(TypeError, match="numeric id"):
        chunk_dedup(d, chunk_tokens=2).collect()
    with pytest.raises(TypeError, match="numeric id"):
        substring_span_dedup(d, k=2).collect()
