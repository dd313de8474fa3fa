"""Unit tests for dedup/similarity/textstats kernels against
independent Python reimplementations (hashlib/numpy oracles)."""

import hashlib

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from vyperdatum_spark.ops import dedup, multimodal, similarity, textstats


def _h60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


DOCS = [
    (0, "the quick brown fox jumps over the lazy dog", "en"),
    (1, "the quick brown fox jumps over the lazy cat", "en"),
    (2, "completely different words appear here now folks", "en"),
    (3, "the quick brown fox jumps over the lazy dog", "en"),  # exact dup of 0
    (4, "short doc", "en"),
    (5, "ab", "en"),  # fewer tokens than the shingle width
]


def _docs_df(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string, lang string")


def test_minhash_matches_python(spark):
    got = (
        dedup.minhash_sig_df(_docs_df(spark), "doc_id", "text")
        .toPandas()
        .set_index("doc_id")
    )
    for doc_id, text, _ in DOCS:
        toks = text.split(" ")
        shingles = [
            " ".join(toks[i : i + 3]) for i in range(len(toks) - 2)
        ] if len(toks) >= 3 else []
        hs = [_h60(s) % dedup.MERSENNE_P for s in shingles]
        exp = [
            min(((a * h + b) % dedup.MERSENNE_P for h in hs), default=dedup.MERSENNE_P)
            for a, b in dedup.PERMS
        ]
        assert list(got.loc[doc_id, "sig"]) == exp


@pytest.mark.parametrize("n", [2, 3, textstats.DUP_K])
def test_word_tokens_and_ngrams_match_python(spark, n):
    """dedup.tokens_col / shingles_from_tokens, the one tokenizer and
    word n-gram builder (bigrams in lm_score_df and dsir, shingles at
    3, duplicate spans at DUP_K), against single-space ``str.split``
    and list slicing: 0, n-1, n and n+1 tokens, double, leading and
    trailing spaces, the empty string and a NULL text. Fewer than n
    tokens must give [] — Spark's sequence(1, 0) counts DOWN."""
    def words(m):
        return " ".join(f"w{i}" for i in range(m))

    texts = [None, "", " ", words(1), words(n - 1), words(n), words(n + 1),
             "a  b " + words(n), " " + words(n) + " ", "  ".join("xyz" * n)]
    df = spark.createDataFrame(list(enumerate(texts)), "id long, text string")
    got = (
        df.select("id", dedup.tokens_col(F.col("text")).alias("tk"))
        .select("id", "tk", dedup.shingles_from_tokens(F.col("tk"), n).alias("g"))
        .toPandas().set_index("id").sort_index()
    )
    for i, text in enumerate(texts):
        toks = None if text is None else text.split(" ")
        exp = [] if toks is None else [
            " ".join(toks[j:j + n]) for j in range(len(toks) - n + 1)]
        tk, g = got.loc[i, "tk"], got.loc[i, "g"]
        assert (None if tk is None else list(tk)) == toks, text
        assert list(g) == exp, text


def test_exact_dup_and_lsh_find_the_duplicate_pair(spark):
    df = _docs_df(spark)
    exact = dedup.exact_duplicates(df).toPandas()
    assert len(exact) == 1 and exact.iloc[0].n_dups == 2
    pairs = dedup.minhash_lsh_pairs(df).toPandas()
    assert (0, 3) in set(zip(pairs.doc_a, pairs.doc_b))
    # near-dup 0/1 should share at least one band too (1 word differs)
    assert (0, 1) in set(zip(pairs.doc_a, pairs.doc_b))
    # unrelated doc 2 pairs with nothing
    assert not ((pairs.doc_a == 2) | (pairs.doc_b == 2)).any()


def test_jaccard_pairs_values(spark):
    out = dedup.jaccard_pairs(
        _docs_df(spark), threshold=0.0, allow_all_pairs=True
    ).toPandas()
    j = out.set_index(["doc_a", "doc_b"]).jaccard
    # docs 0/3 identical → jaccard 1.0
    assert j.loc[(0, 3)] == 1.0
    # docs 0/1: 7 shingles each, 6 shared → 6/8
    assert np.isclose(j.loc[(0, 1)], 6 / 8)


def test_jaccard_default_is_candidate_guarded(spark):
    """Verifying MinHash-LSH candidates keeps jaccard_pairs off the
    O(n²) path — every verified pair must be an LSH candidate pair AND
    meet the threshold."""
    df = _docs_df(spark)
    cand = dedup.minhash_lsh_pairs(df)
    guarded = dedup.jaccard_pairs(df, threshold=0.5,
                                  candidates=cand).toPandas()
    cand = cand.toPandas()
    cand_set = set(zip(cand.doc_a, cand.doc_b))
    assert len(guarded) > 0
    assert set(zip(guarded.doc_a, guarded.doc_b)) <= cand_set
    allp = dedup.jaccard_pairs(
        df, threshold=0.5, allow_all_pairs=True
    ).toPandas()
    # candidate verification is a subset of the all-pairs reference
    assert set(zip(guarded.doc_a, guarded.doc_b)) <= set(
        zip(allp.doc_a, allp.doc_b)
    )


def test_jaccard_pairs_requires_candidates(spark):
    """No candidates and no all-pairs opt-in is a driver-side error
    that points at the MinHash-LSH → verify path."""
    with pytest.raises(ValueError, match="lsh_verified_pairs"):
        dedup.jaccard_pairs(_docs_df(spark), threshold=0.5)


def test_simhash_matches_python(spark):
    got = (
        dedup.simhash_df(_docs_df(spark), "doc_id", "text")
        .withColumnRenamed("simhash", "sh")
        .toPandas()
        .set_index("doc_id")
    )
    for doc_id, text, _ in DOCS:
        toks = text.split(" ")
        hs = [_h60(t) for t in toks]
        v = 0
        for i in range(dedup.N_SIMHASH_BITS):
            cnt = sum((h >> i) & 1 for h in hs)
            if 2 * cnt > len(hs):
                v |= 1 << i
        assert int(got.loc[doc_id, "sh"]) == v


def test_cosine_matches_numpy(spark):
    rng = np.random.default_rng(3)
    a = rng.standard_normal(64).astype(np.float32)
    b = rng.standard_normal(64).astype(np.float32)
    df = spark.createDataFrame(
        [(a.tolist(), b.tolist())], "ea array<float>, eb array<float>"
    )
    got = df.select(
        similarity.cosine_col(F.col("ea"), F.col("eb")).alias("cos")
    ).collect()[0]["cos"]
    ad, bd = a.astype(np.float64), b.astype(np.float64)
    exp = float(ad @ bd / (np.sqrt(ad @ ad) * np.sqrt(bd @ bd)))
    assert np.isclose(got, exp, atol=1e-12)


def test_semantic_dedup_matches_numpy(spark):
    """SemDeDup keep/drop verdicts replicated with a numpy oracle:
    nearest-centroid assignment + within-cell lower-id cosine rule."""
    rng = np.random.default_rng(21)
    vecs = rng.standard_normal((60, similarity.EMB_DIM)).astype(np.float32)
    vecs[45] = vecs[12]  # planted exact duplicate: same cell, 45 drops
    df = spark.createDataFrame(
        [(int(i), v.tolist()) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    got = (
        similarity.semantic_dedup(df, threshold=0.3)
        .toPandas().set_index("vec_id").sort_index()
    )
    vd = vecs.astype(np.float64)
    norms = np.linalg.norm(vd, axis=1)
    cents = similarity.CENTROIDS.astype(np.float64)
    cnorms = np.linalg.norm(cents, axis=1)
    cells = np.argmax((vd @ cents.T) / np.outer(norms, cnorms), axis=1) + 1
    assert list(got["cell"]) == list(cells)
    cos = np.round(vd @ vd.T / np.outer(norms, norms), 6)
    for i in range(len(vecs)):
        exp_keep = not any(
            cells[j] == cells[i] and cos[j, i] >= 0.3 for j in range(i)
        )
        assert bool(got.loc[i, "keep"]) == exp_keep, i
    assert not got.loc[45, "keep"] and got.loc[12, "keep"]


def test_semantic_dedup_salted_parity(spark):
    """The salt skew lever (BENCH/ANN.md hot-block note) splits each
    cell's pair space across sub-blocks without changing it: salted
    verdicts are IDENTICAL to the unsalted plan's, and a hot cell's
    b-side is spread across all salt sub-block keys."""
    rng = np.random.default_rng(33)
    vecs = rng.standard_normal((80, similarity.EMB_DIM)).astype(np.float32)
    # plant a hot cell: 30 near-copies of one vector land together
    for i in range(30):
        vecs[50 + i] = vecs[7] + rng.normal(scale=0.01, size=similarity.EMB_DIM).astype(np.float32)
    df = spark.createDataFrame(
        [(int(i), v.tolist()) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    plain = (similarity.semantic_dedup(df, threshold=0.3)
             .toPandas().sort_values("vec_id").reset_index(drop=True))
    for s in (2, 5):
        salted = (similarity.semantic_dedup(df, threshold=0.3, salt=s)
                  .toPandas().sort_values("vec_id").reset_index(drop=True))
        assert salted.equals(plain), f"salt={s}"
    with __import__("pytest").raises(ValueError, match="salt"):
        similarity.semantic_dedup(df, salt=0)


def test_semantic_dedup_trained_matches_oracle(spark):
    """SemDeDup over an in-job-trained k-means codebook (the paper's
    actual flow): the kernel-scored verdicts equal the DuckDB oracle
    (unrolled training CTEs + cosine-argmax assignment) row for row,
    and the planted near-duplicate family collapses to one keeper."""
    import duckdb
    import pyarrow as pa

    rng = np.random.default_rng(41)
    vecs = rng.standard_normal((70, similarity.EMB_DIM)).astype(np.float32)
    for i in range(12):  # planted near-dup family
        vecs[40 + i] = vecs[9] + rng.normal(
            scale=0.005, size=similarity.EMB_DIM).astype(np.float32)
    df = spark.createDataFrame(
        [(int(i), v.tolist()) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    got = (similarity.semantic_dedup_trained(
        df, threshold=0.95, k_clusters=4, iters=2)
        .toPandas().sort_values("vec_id").reset_index(drop=True))
    con = duckdb.connect()
    con.register("embeddings", pa.table({
        "vec_id": pa.array(np.arange(len(vecs)), pa.int64()),
        "embedding": pa.array([v.tolist() for v in vecs],
                              pa.list_(pa.float32())),
    }))
    exp = (con.execute(similarity.semantic_dedup_trained_sql(
        threshold=0.95, k_clusters=4, iters=2)).df()
        .sort_values("vec_id").reset_index(drop=True))
    assert len(got) == len(vecs)
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)
    fam = got[got.vec_id.isin([9] + list(range(40, 52)))]
    assert int(fam.keep.sum()) == 1 and bool(got.loc[9, "keep"])


def test_ann_bruteforce_topk_is_exact(spark):
    rng = np.random.default_rng(9)
    vecs = rng.standard_normal((30, 8)).astype(np.float32)
    df = spark.createDataFrame(
        [(int(i), v.tolist()) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    got = similarity.ann_bruteforce_topk(df, n_queries=3, k=4).toPandas()
    vd = vecs.astype(np.float64)
    norms = np.linalg.norm(vd, axis=1)
    for q in range(3):
        cos = vd @ vd[q] / (norms * norms[q])
        cos[q] = -np.inf
        exp = np.argsort(-cos, kind="stable")[:4]
        got_q = got[got.query_id == q].sort_values("rank").neighbor_id.to_numpy()
        assert list(got_q) == list(exp)


def test_langid_and_quality(spark):
    df = spark.createDataFrame(
        [(0, "the value and the table of the data"),
         (1, "el valor la tabla los datos el la")],
        "doc_id long, text string",
    )
    lid = textstats.langid_df(df).toPandas().set_index("doc_id")
    assert lid.loc[0, "pred_lang"] == "en"
    assert lid.loc[1, "pred_lang"] == "es"
    q = textstats.quality_df(df).toPandas().set_index("doc_id")
    assert q.loc[0, "n_words"] == 8
    # stopword hits: the×3, and, of → 5 of 8
    assert np.isclose(q.loc[0, "stop_ratio"], 5 / 8)


def test_multimodal_decode_plumbing(spark):
    pages = spark.createDataFrame(
        [(1, b"\x89PNG....payload"), (2, b"<html><body>x</body></html>"),
         (3, b"\xff\xd8\xff\xe0jpegdata")],
        "id long, payload binary",
    )
    meta = multimodal.media_meta(pages, "id", "payload").toPandas().set_index("id")
    assert meta.loc[1, "media_kind"] == "png"
    assert meta.loc[2, "media_kind"] == "html"
    assert meta.loc[3, "media_kind"] == "jpeg"
    assert meta.loc[2, "byte_len"] == len(b"<html><body>x</body></html>")
    dec = multimodal.decode_media(pages, "id", "payload").toPandas().set_index("id")
    assert set(dec.columns) == {"width", "height", "n_frames", "mean_lum", "feat"}
    assert (dec.width.between(16, 79)).all()
    assert all(len(f) == 8 for f in dec.feat)
    # deterministic: same content → same fake decode
    dec2 = multimodal.decode_media(pages, "id", "payload").toPandas().set_index("id")
    pd.testing.assert_frame_equal(dec, dec2)
    # frame sampling explodes n_frames and keeps every 2nd
    fs = multimodal.frame_sample(pages, "id", "payload").toPandas()
    assert (fs.frame_idx % 2 == 0).all()


def test_multimodal_resize_plumbing(spark):
    """Resize stub: deterministic dims/scales per blob, stable digest
    keyed by (content, target)."""
    import pandas as pd
    from vyperdatum_spark.ops import multimodal

    pdf = pd.DataFrame({
        "id": [1, 2],
        "payload": [b"\x89PNG-fake-bytes-1", b"\xff\xd8\xffjpeg-fake-2"],
    })
    df = spark.createDataFrame(pdf)
    out = multimodal.resize_media(df, "id", "payload", 32, 24) \
        .toPandas().set_index("id").sort_index()
    assert (out.out_width == 32).all() and (out.out_height == 24).all()
    assert (out.scale_x > 0).all()
    # deterministic: same input -> same digest; different targets differ
    out2 = multimodal.resize_media(df, "id", "payload", 32, 24) \
        .toPandas().set_index("id").sort_index()
    assert (out.resized_md5 == out2.resized_md5).all()
    out3 = multimodal.resize_media(df, "id", "payload", 64, 64) \
        .toPandas().set_index("id").sort_index()
    assert (out.resized_md5 != out3.resized_md5).all()


def test_decontaminate_flags_benchmark_overlap(spark):
    corpus = _docs_df(spark)
    # benchmark shares doc 0's text exactly; doc 2 shares nothing
    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog", "en")],
        "doc_id long, text string, lang string",
    )
    got = (
        dedup.decontaminate(corpus, bench)
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    assert got.loc[0, "contamination"] == 1.0  # verbatim benchmark text
    assert got.loc[3, "contamination"] == 1.0  # its exact dup
    assert got.loc[2, "contamination"] == 0.0  # disjoint vocabulary
    assert 0.0 < got.loc[1, "contamination"] < 1.0  # one word changed
    # unshingleable doc: n_sh = 0, contamination null
    assert got.loc[5, "n_sh"] == 0 and pd.isna(got.loc[5, "contamination"])


def test_sample_stratified_deterministic_and_rated(spark):
    rows = [(i, f"text {i}", ["en", "de", "fr"][i % 3]) for i in range(3000)]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    kept = textstats.sample_stratified(df).toPandas()
    # determinism: the exact same kept set on a rerun
    kept2 = textstats.sample_stratified(df).toPandas()
    assert sorted(kept["doc_id"]) == sorted(kept2["doc_id"])
    frac = kept.groupby("lang")["doc_id"].count() / 1000.0
    # hash-uniform keys: observed rates within ±5pp of the targets
    assert abs(frac["en"] - 0.5) < 0.05
    assert abs(frac["de"] - 0.25) < 0.05
    assert abs(frac["fr"] - 1.0) < 1e-9  # unlisted language keeps all
    # python replica of the portable sample key
    for _, r in kept.head(20).iterrows():
        u = _h60(f"s42{r.doc_id}") / float(1 << 60)
        assert abs(u - r.sample_u) < 1e-12


def test_multi_table_lsh_recall_dominates_single(spark):
    """The one-table candidate set is a subset of the three-table one
    (table 0 is in both), and top-k-by-exact-score recall is monotone
    in the candidate set."""
    rng = np.random.default_rng(21)
    # planted near-duplicate clusters: 20 bases x 4 noisy copies —
    # random gaussians have no near neighbors at all (every 8-bit
    # bucket distinct), so recall would be vacuously 0/0
    base = rng.standard_normal((20, similarity.EMB_DIM))
    vecs = np.concatenate(
        [base + 0.05 * rng.standard_normal(base.shape) for _ in range(4)]
    ).astype(np.float32)
    df = spark.createDataFrame(
        [(int(i), v.tolist()) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    nq, k = 5, 3
    bf = similarity.ann_bruteforce_topk(df, n_queries=nq, k=k).toPandas()
    single = similarity.ann_lsh_multi_topk(df, n_queries=nq, k=k,
                                           n_tables=1).toPandas()
    multi = similarity.ann_lsh_multi_topk(df, n_queries=nq, k=k,
                                          n_tables=3).toPandas()
    truth = set(map(tuple, bf[["query_id", "neighbor_id"]].to_numpy()))
    r_single = len(set(map(tuple, single[["query_id", "neighbor_id"]].to_numpy())) & truth)
    r_multi = len(set(map(tuple, multi[["query_id", "neighbor_id"]].to_numpy())) & truth)
    assert r_multi >= r_single
    assert r_multi > 0


def test_jaccard_candidates_are_normalized(spark):
    """Round-3 review fix: unordered/duplicated/self candidate rows
    must not produce mirrored or self-similarity output pairs."""
    df = _docs_df(spark)
    messy = spark.createDataFrame(
        [(0, 3), (3, 0), (0, 3), (1, 1), (0, 1)], "doc_a long, doc_b long"
    )
    out = dedup.jaccard_pairs(df, threshold=0.0, candidates=messy).toPandas()
    pairs = list(zip(out.doc_a, out.doc_b))
    assert sorted(pairs) == [(0, 1), (0, 3)]  # no dup, mirror, or self


# ---------------------------------------------- connected-component clusters
class TestConnectedComponents:
    def _cc(self, spark, edges):
        from vyperdatum_spark.ops.dedup import connected_components

        df = spark.createDataFrame(edges, "doc_a long, doc_b long")
        return {
            (r["node"], r["comp"])
            for r in connected_components(df).collect()
        }

    def test_chain_collapses_to_min(self, spark):
        # worst case for naive propagation: a path graph
        got = self._cc(spark, [(i, i + 1) for i in range(1, 8)])
        assert got == {(i, 1) for i in range(1, 9)}

    def test_two_components_and_reversed_edges(self, spark):
        got = self._cc(spark, [(5, 3), (3, 9), (20, 30), (30, 20)])
        assert got == {(3, 3), (5, 3), (9, 3), (20, 20), (30, 20)}

    def test_empty_edges(self, spark):
        got = self._cc(spark, [])
        assert got == set()

    def test_self_loops_ignored(self, spark):
        got = self._cc(spark, [(4, 4), (4, 7)])
        assert got == {(4, 4), (7, 4)}

    def test_cluster_canonical_marks_min_member(self, spark):
        from vyperdatum_spark.ops.dedup import cluster_canonical

        rows = [
            (1, "the quick brown fox jumps over the lazy dog again today"),
            (2, "the quick brown fox jumps over the lazy dog again today"),
            (3, "completely different text about maritime navigation charts"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            r["doc_id"]: (r["cluster_id"], r["is_canonical"])
            for r in cluster_canonical(df, threshold=0.9).collect()
        }
        assert got[1] == (1, 1)
        assert got[2] == (1, 0)
        assert got[3] == (3, 1)

    def test_path_graph_round_bound(self, spark):
        """Scale evidence for the star-contraction: a 4096-node PATH
        (worst case for naive propagation — diameter 4095) collapses
        to one component in ~log2(n) rounds, not O(diameter)."""
        from pyspark.sql import functions as F

        from vyperdatum_spark.ops.dedup import connected_components

        n = 4096
        edges = spark.range(1, n).select(
            F.col("id").alias("doc_a"), (F.col("id") + 1).alias("doc_b")
        )
        rounds: list = []
        comp = connected_components(edges, rounds_out=rounds)
        agg = comp.agg(
            F.countDistinct("comp").alias("c"), F.count("*").alias("n")
        ).collect()[0]
        assert (agg["c"], agg["n"]) == (1, n)
        # log2(4096) = 12 contraction rounds + 1 to observe the fixpoint
        assert rounds and rounds[0] <= 15


# --------------------------------------------------- cardinality sketches
class TestCardinalitySketches:
    def test_estimate_within_hll_error_bound(self, spark):
        from pyspark.sql import functions as F

        from vyperdatum_spark.ops.sketches import cardinality_by

        # 60k rows, 3 sources with known distinct-url cardinalities
        df = spark.range(60000).select(
            (F.col("id") % 3).alias("source"),
            F.concat(F.lit("https://ex.com/p"),
                     (F.col("id") % 20011).cast("string")).alias("url"),
        )
        got = {r["source"]: r for r in cardinality_by(df, "source", "url").collect()}
        exact = {
            s: spark.range(60000)
            .filter(F.col("id") % 3 == s)
            .select((F.col("id") % 20011)).distinct().count()
            for s in (0, 1, 2)
        }
        for s in (0, 1, 2):
            assert got[s]["n_rows"] == 20000
            rel = abs(got[s]["est_distinct"] - exact[s]) / exact[s]
            # lg_k=14 → RSE ~0.8%; allow 3 sigma
            assert rel < 0.025, (s, got[s]["est_distinct"], exact[s])

    def test_merge_equals_global_sketch(self, spark):
        """Union of per-key sketches must give the same estimate as
        one global sketch over all rows — associative merge is what
        makes the sketch reusable across partitions/days."""
        from pyspark.sql import functions as F

        from vyperdatum_spark.ops.sketches import (cardinality_rollup,
                                                   sketch_col)

        df = spark.range(50000).select(
            (F.col("id") % 7).alias("k"),
            (F.col("id") % 12345).alias("v"),
        )
        rolled = cardinality_rollup(df, "k", "v").collect()[0]
        direct = df.agg(
            F.hll_sketch_estimate(sketch_col(F.col("v"))).alias("est")
        ).collect()[0]["est"]
        assert rolled["n_keys"] == 7
        assert rolled["est_total"] == direct


# ----------------------------------------------- incremental exact dedup
def test_incremental_dedup_across_crawls_exactly_once(spark, tmp_path):
    """Crawl-over-crawl dedup: increment 2's repeat of increment 1's
    content is rejected by the accepted-hash anti-join; a replay with
    nothing new is a no-op; within-increment dups collapse to the
    min-id winner."""
    from vyperdatum_spark.ops.dedup import incremental_exact_dedup
    from vyperdatum_spark.sources import tables

    src = str(tmp_path / "crawl")
    out = str(tmp_path / "accepted")

    def batch(rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    # crawl 1: A, B, and an in-batch dup of A (id 3)
    tables.write_table(
        batch([(1, "alpha doc"), (2, "beta doc"), (3, "alpha doc")]),
        src, mode="overwrite",
    )
    r1 = incremental_exact_dedup(spark, src, out)
    assert not r1["skipped"]
    got1 = {(r["doc_id"], r["text"])
            for r in tables.read_table(spark, out).collect()}
    assert got1 == {(1, "alpha doc"), (2, "beta doc")}

    # crawl 2: re-crawl of A (new id) + genuinely new C
    tables.write_table(
        batch([(10, "alpha doc"), (11, "gamma doc")]), src, mode="append",
    )
    r2 = incremental_exact_dedup(spark, src, out)
    assert not r2["skipped"]
    got2 = {r["doc_id"] for r in tables.read_table(spark, out).collect()}
    assert got2 == {1, 2, 11}

    # replay: nothing new appended -> watermark makes it a no-op
    r3 = incremental_exact_dedup(spark, src, out)
    assert r3["skipped"]
    assert tables.read_table(spark, out).count() == 3


def test_lm_score_matches_python(spark):
    """Corpus-MLE bigram likelihood, independently recomputed."""
    from collections import Counter

    got = (
        textstats.lm_score_df(_docs_df(spark))
        .toPandas().set_index("doc_id")
    )
    c2: Counter = Counter()
    c1: Counter = Counter()
    grams_by_doc = {}
    for doc_id, text, _ in DOCS:
        toks = text.split(" ")
        gs = [(toks[i], toks[i + 1]) for i in range(len(toks) - 1)]
        grams_by_doc[doc_id] = gs
        for g in gs:
            c2[g] += 1
            c1[g[0]] += 1
    for doc_id, gs in grams_by_doc.items():
        assert got.loc[doc_id, "n_bigrams"] == len(gs)
        if not gs:
            assert pd.isna(got.loc[doc_id, "avg_cond_p"])
            continue
        ps = sorted(round(c2[g] / c1[g[0]], 9) for g in gs)
        exp = sum(ps) / len(ps)
        # the engine rounds the mean to 6 dp (oracle-portability);
        # allow exactly that quantum
        assert abs(got.loc[doc_id, "avg_cond_p"] - exp) <= 5.001e-7
    # the exact-duplicate docs 0 and 3 score identically; doc 1's
    # rarer continuation of a shared context (lazy->cat 1/3 vs
    # lazy->dog 2/3) is penalized relative to doc 0; and a doc whose
    # contexts are all corpus-singletons degenerates to exactly 1.0
    # under pure MLE (see lm_score_df docstring)
    assert got.loc[0, "avg_cond_p"] == got.loc[3, "avg_cond_p"]
    assert got.loc[1, "avg_cond_p"] < got.loc[0, "avg_cond_p"]
    assert got.loc[2, "avg_cond_p"] == 1.0


def test_dup_substring_spans_fixture(spark):
    """k=8 spans on DOCS: docs 0/3 are identical (9 tokens -> both
    8-gram positions duplicated -> one merged span over the whole
    doc); doc 1 shares only the pos-1 8-gram (last token differs);
    docs 2/4/5 are under 8 tokens."""
    got = textstats.dup_substring_spans(_docs_df(spark)).toPandas()
    rows = {
        (r.doc_id, r.span_start, r.span_end, r.n_grams)
        for r in got.itertuples()
    }
    assert rows == {(0, 1, 9, 2), (3, 1, 9, 2), (1, 1, 8, 1)}


def test_dup_substring_spans_within_doc_and_gap(spark):
    """A doc repeating its own 8-token prefix after a >k gap yields
    TWO islands in one doc (within-doc duplication counts, and
    non-overlapping hits do not merge)."""
    a = " ".join(f"a{i}" for i in range(8))
    filler = " ".join(f"f{i}" for i in range(9))
    df = spark.createDataFrame(
        [(0, f"{a} {filler} {a}", "en")],
        "doc_id long, text string, lang string",
    )
    got = textstats.dup_substring_spans(df).toPandas()
    rows = {
        (r.doc_id, r.span_start, r.span_end, r.n_grams)
        for r in got.itertuples()
    }
    assert rows == {(0, 1, 8, 1), (0, 18, 25, 1)}
