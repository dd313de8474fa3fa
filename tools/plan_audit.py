"""Physical-plan audit: the .explain evidence behind the scale claims.

For each headline query, walks the FINAL executed plan and records the
properties that matter at 100 TB:

- shuffles (Exchange nodes that are not broadcast),
- broadcast exchanges (dimension shipping),
- whole-stage-codegen coverage,
- Python crossings (ArrowEvalPython / MapInArrow / FlatMapGroupsInPandas),
- cartesian / nested-loop joins (the O(n²) smells),
- parquet scan column pruning (ReadSchema width vs table width).

Writes PLANS.md at the repo root. Run: python tools/plan_audit.py [sf_dir]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

AUDIT = [
    ("geo_transform_mllw", "flagship transform"),
    ("geo_transform_projected", "projected-CRS transform"),
    ("geo_sampled_mllw", "sampled (distinct-cell) transform"),
    ("geo_knn_edge", "kNN edge fallback"),
    ("geo_count_precedence", "W2 count precedence"),
    ("dedup_minhash_lsh", "MinHash LSH candidate pairs"),
    ("dedup_simhash_hamming", "SimHash Hamming-band pairs"),
    ("doc_fingerprint", "winnowing fingerprint (window-min)"),
    ("ann_ivf_topk", "IVF ANN top-k"),
    ("dedup_semantic", "SemDeDup centroid-blocked semantic dedup"),
    ("rel_nation_revenue", "relational multi-join"),
    ("geo_raster_transform", "raster cells-as-points (W2 + CATZOC)"),
    ("multimodal_meta", "binary payload metadata"),
    ("decontaminate", "benchmark n-gram decontamination"),
    ("sample_stratified", "stratified hash sampling"),
    ("url_canonical_dedup", "URL canonicalization dedup"),
    ("url_latest_capture", "latest capture per canonical URL"),
    ("html_extract_text", "HTML → text extraction"),
    ("line_dedup", "cross-doc line dedup (boilerplate removal)"),
    ("dedup_paragraphs", "keep-first exact paragraph dedup"),
    ("pii_redact", "PII redaction"),
    ("text_repetition", "repetition / Gopher-rule stats"),
    ("curation_end_to_end", "full curation chain (latest capture→extract→redact→filter)"),
    ("curation_policy", "per-rule policy audit (keep + reasons)"),
    ("rel_events_sessions", "gap sessionization (session_window)"),
    ("dedup_cluster_canonical", "CC clustering (fixpoint iteration plans)"),
    ("rel_events_asof", "as-of join (union-and-carry)"),
    ("rel_events_asof_bucketed", "as-of join (skew-safe bucketed)"),
    ("rel_events_range_join", "range join (bucketed interval containment)"),
    ("text_quantile_filter", "per-group quantile threshold filter"),
    ("pack_sequences", "training-sequence packing offsets"),
    ("sample_token_budget", "per-group token-budget mixing sampler"),
    ("geo_cell_rollup", "hierarchical cell rollup (9->8->7 re-agg)"),
    ("emb_kmeans", "k-means final assignment (trained literals)"),
    ("ann_ivf_trained_topk", "trained-codebook IVF ANN top-k"),
    ("text_bm25_topk", "BM25 keyword search (scan-side tf)"),
    ("dsir_weights", "DSIR importance weights (explode→groupBy fold)"),
    ("graph_pagerank", "PageRank final-round plan (oracle-gated r5)"),
    ("hybrid_search_rrf", "hybrid BM25+vector retrieval (RRF fusion)"),
    ("dedup_semantic_trained", "SemDeDup over in-job-trained codebook"),
    ("text_lm_score", "corpus bigram-LM scoring (staged grams)"),
]


def audit_plan(plan: str) -> dict:
    lines = plan.splitlines()
    shuffles = sum(
        1 for l in lines
        if re.search(r"\bExchange (hashpartitioning|rangepartitioning|SinglePartition)", l)
    )
    bcasts = sum(1 for l in lines if "BroadcastExchange" in l)
    wscg = len(set(re.findall(r"\*\((\d+)\)", plan)))
    python = sum(
        1 for l in lines
        if re.search(r"ArrowEvalPython|MapInArrow|FlatMapGroupsInPandas|BatchEvalPython|MapInPandas", l)
    )
    cartesian = sum(
        1 for l in lines
        if "CartesianProduct" in l or "BroadcastNestedLoopJoin" in l
    )
    scans = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    scan_widths = [len(s.split(",")) if s else 0 for s in scans]
    return {
        "shuffles": shuffles,
        "broadcasts": bcasts,
        "codegen_stages": wscg,
        "python_crossings": python,
        "cartesian_or_bnlj": cartesian,
        "scan_widths": scan_widths,
    }


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    import __spark_entry__ as entry
    from vyperdatum_spark.session import get_spark

    spark = get_spark(
        app_name="plan-audit",
        cores=8,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # final plans with codegen markers (AQE hides *(N) in the
            # pre-execution toString)
            "spark.sql.adaptive.enabled": "false",
        },
    )
    qs = getattr(entry, "queries_extended", entry.queries)()
    rows = []
    for name, desc in AUDIT:
        df = qs[name](spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        plan = df._jdf.queryExecution().executedPlan().toString()
        rows.append((name, desc, audit_plan(plan)))
    spark.stop()

    out = [
        "# PLANS — physical-plan audit of the headline queries",
        "",
        f"Generated by `python tools/plan_audit.py {sf_dir}` over the final",
        "executed plans (AQE off so codegen spans are visible). The",
        "columns are the properties that decide 100-TB behavior: data",
        "shuffles (want 0 on the transform path), broadcasts (dimension",
        "shipping), whole-stage-codegen stages, Python boundary",
        "crossings (0 = pure JVM), cartesian/nested-loop joins (0",
        "everywhere except the bounded brute-force ANN baseline), and",
        "parquet scan widths (column pruning reached the reader).",
        "",
        "| query | role | shuffles | broadcasts | codegen | python | cartesian | scan widths |",
        "|---|---|---|---|---|---|---|---|",
    ]
    for name, desc, a in rows:
        out.append(
            f"| {name} | {desc} | {a['shuffles']} | {a['broadcasts']} |"
            f" {a['codegen_stages']} | {a['python_crossings']} |"
            f" {a['cartesian_or_bnlj']} | {a['scan_widths']} |"
        )
    out += [
        "",
        "Reading guide:",
        "- `geo_transform_*`: **0 shuffles, 0 Python**",
        "  — the whole region loop is broadcast joins + codegen math.",
        "- `geo_knn_edge` / `geo_count_precedence` / `geo_raster_transform`",
        "  run the same plan: J8 kNN edge fill is a",
        "  broadcast join to the precomputed candidate-cell table plus an",
        "  argmin column expression; W2 count precedence bakes the",
        "  (tiny) per-region valid counts — computed by one extra",
        "  aggregate job over the same zero-shuffle plan — into the",
        "  winner comparison as literals. 0 Python crossings on all.",
        "- LSH/IVF queries shuffle on their band/bucket keys — the",
        "  candidate-generation joins are equi-joins, never cartesian.",
        "",
    ]
    with open(os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    for name, desc, a in rows:
        print(name, a)


if __name__ == "__main__":
    main()
