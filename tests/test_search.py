"""BM25 search: oracle parity, hand-computed scores on a tiny corpus,
ranking invariants, and the one-scan plan shape."""

import math

import duckdb
import numpy as np
import pandas as pd
import pytest

from vyperdatum_spark.ops import search as S

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def test_matches_oracle(spark, docs):
    out = (
        S.bm25_topk(docs)
        .toPandas()
        .sort_values(["qid", "rank"])
        .reset_index(drop=True)
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF}/documents.parquet'"
    )
    oracle = con.execute(S.bm25_topk_sql()).df()
    pd.testing.assert_frame_equal(out, oracle, check_dtype=False)


def test_hand_computed_scores(spark):
    """3-doc corpus, single-term query — BM25 closed form by hand."""
    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "text": ["cat dog", "cat cat cat fish", "bird bird"],
        }
    )
    df = spark.createDataFrame(pdf)
    out = (
        S.bm25_topk(df, queries=[(1, ["cat"])])
        .toPandas()
        .sort_values("rank")
        .reset_index(drop=True)
    )
    n, dfreq = 3, 2
    avgdl = (2 + 4 + 2) / 3
    idf = math.log((n - dfreq + 0.5) / (dfreq + 0.5) + 1.0)

    def bm25(tf, dl):
        return idf * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * (dl / avgdl)))

    # doc 2: tf=3, dl=4; doc 1: tf=1, dl=2; doc 3 unmatched
    assert out["doc_id"].tolist() == [2, 1]
    assert out.loc[0, "score"] == pytest.approx(bm25(3, 4), abs=1e-6)
    assert out.loc[1, "score"] == pytest.approx(bm25(1, 2), abs=1e-6)


def test_rank_invariants(spark, docs):
    out = S.bm25_topk(docs).toPandas()
    for qid, grp in out.groupby("qid"):
        g = grp.sort_values("rank")
        assert g["rank"].tolist() == list(range(1, len(g) + 1))
        assert (g["score"].diff().dropna() <= 0).all()
        assert len(g) <= S.TOP_K


def test_rarer_term_scores_higher_idf(spark):
    """A term present in 1 of 20 docs must outrank (same tf/dl) a term
    present in 19 of 20."""
    rows = [(i, "common filler" if i else "rareword filler")
            for i in range(20)]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "text"])
    )
    out = S.bm25_topk(
        df, queries=[(1, ["rareword"]), (2, ["common"])]
    ).toPandas()
    rare = out[out.qid == 1]["score"].max()
    common = out[out.qid == 2]["score"].max()
    assert rare > common


def test_single_scan_plan(spark, docs):
    """All queries are scored in ONE pass over the staged tf base:
    since the r6 staging, the corpus parquet is tokenized exactly once
    into the checkpointed (id, dl, tf…) base, and the scoring plan
    reads THAT — so the final plan holds one checkpoint scan and zero
    parquet scans (candidate generation is scan-side column math, not
    a per-query union of scans)."""
    out = S.bm25_topk(docs)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 0
    assert plan.count("Scan ExistingRDD") == 1


def test_doc_hash_embed_matches_oracle_and_is_unit(spark, docs):
    import numpy as np

    out = (
        S.doc_hash_embed(docs)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF}/documents.parquet'"
    )
    oracle = con.execute(S.doc_hash_embed_sql()).df()
    a = np.array([list(v) for v in out["embedding"]])
    b = np.array([list(v) for v in oracle["embedding"]])
    assert a.shape == (len(out), S.EMBED_DIM)
    assert (a == b).all()  # bit-exact
    norms = np.sqrt((a * a).sum(axis=1))
    assert np.allclose(norms, 1.0, atol=1e-12)


def test_hybrid_rrf_matches_oracle(spark, docs):
    out = (
        S.hybrid_search_rrf(docs)
        .toPandas()
        .sort_values(["qid", "rank"])
        .reset_index(drop=True)
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF}/documents.parquet'"
    )
    oracle = con.execute(S.hybrid_search_rrf_sql()).df()
    pd.testing.assert_frame_equal(out, oracle, check_dtype=False)


def test_hybrid_rrf_fuses_both_lists(spark, docs):
    """A doc ranked #1 by BOTH legs must outscore a doc on one leg
    only; and every fused score must be attainable from two lists of
    length k (bounded by 2/(60+1))."""
    out = S.hybrid_search_rrf(docs).toPandas()
    assert (out["rrf"] <= 2.0 / (S.RRF_K + 1) + 1e-9).all()
    bm = S.bm25_topk(docs).toPandas()
    # recompute the vector leg independently (numpy over the hashed
    # embeddings, same tie-break: dot desc, doc_id asc) so the union
    # check below actually cross-checks the fused output
    emb = S.doc_hash_embed(docs).toPandas()
    E = np.array([list(v) for v in emb["embedding"]])
    ids = emb["doc_id"].to_numpy()
    vec_ids = {}
    for qid, terms in S.SEARCH_QUERIES:
        qv = np.array(S._query_embed_py(sorted(terms)))
        # same left-to-right fold as the Spark leg's broadcast kernel
        dots = np.zeros(len(E))
        for j in range(E.shape[1]):
            dots += E[:, j] * qv[j]
        order = np.lexsort((ids, -dots))[: S.HYBRID_TOP_K]
        vec_ids[qid] = set(ids[order])
    # every fused doc — in particular the top-1 — must come from one
    # of the two legs' top-k lists
    for qid, grp in out.groupby("qid"):
        bm_ids = set(bm[bm.qid == qid]["doc_id"])
        legs = bm_ids | vec_ids[qid]
        assert set(grp["doc_id"]) <= legs
        top1 = grp.sort_values("rank").iloc[0]["doc_id"]
        assert top1 in legs
        assert grp.sort_values("rank")["rrf"].is_monotonic_decreasing


def test_empty_query_list_is_refused_on_the_driver(spark, docs):
    """queries=[] raises a ValueError up front (it used to fail inside
    Spark analysis on a VOID-typed array)."""
    for fn in (S.hybrid_search_rrf, S.bm25_topk):
        with pytest.raises(ValueError, match="queries is empty"):
            fn(docs, queries=[])


def test_doc_semantic_dedup_drops_planted_duplicates(spark):
    """SemDeDup over raw text: every planted exact duplicate (same
    text, higher id) must be dropped; its lower-id original kept."""
    import __spark_entry__ as entry

    out = (
        entry.queries_extended()["doc_semantic_dedup"](spark, SF)
        .toPandas()
    )
    planted = out[out.doc_id >= 1_000_000]
    assert len(planted) > 0
    assert not planted["keep"].any()
    originals = out[(out.doc_id < 1_000_000) & (out.doc_id % 7 == 0)]
    # an original may itself be dropped only against a lower-id
    # near-dup, never against its own copy (copies have higher ids)
    assert originals["keep"].mean() > 0.5
