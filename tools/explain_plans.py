"""Regenerate PLANS.md: formatted physical plans for the headline
queries with the scale-relevant fragments annotated (pushdown, column
pruning, broadcast choice, exchange placement). Each query runs first,
so the plan shown is the final adaptive plan, reused Exchanges
included.

Usage: python tools/explain_plans.py

A query whose input paths are missing keeps its section as PLANS.md
has it, and the tool names it on stdout.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = "/root/testdata/sf0.001"

COMMENTARY = {
    "pdf_roundtrip_interleaved": (
        "Scan reads ONLY (doc_id, text) — column pruning through the "
        "synthesis expression. Exactly ONE Exchange, and it is "
        "deliberate: the doc_id spread of the lightweight text rows "
        "BEFORE the Python stages (AQE cannot skew-split UDF stages, "
        "so the repartition is explicit, and spreading pre-generation "
        "means payload bytes are never shuffled). The two MapInPandas "
        "operators (generate, extract) sit back-to-back in one stage "
        "— a single pipelined pass per partition."
    ),
    "orders_revenue_by_nation": (
        "Both dimension joins resolve to BroadcastHashJoin (customer + "
        "nation built and shipped to executors); the fact table is "
        "never shuffled for the joins — the only Exchange is the final "
        "group-by. Filters on join keys are pushed into the parquet "
        "scans; ReadSchema shows 2-3 columns per table."
    ),
    "lineitem_pricing_summary": (
        "The shipdate predicate is PUSHED to the parquet scan "
        "(PushedFilters: LessThanOrEqual) and the read schema is "
        "pruned to the 6 referenced columns. Two-phase aggregation: "
        "partial (map-side) before the Exchange, final after — the "
        "shuffle carries 6 groups, not 600k rows."
    ),
    "dedup_exact": (
        "One Exchange total: the window over md5(text) hash-partitions "
        "once; min() is computed within partitions. At 10^12 docs the "
        "digest (16B) is what shuffles, not the text."
    ),
    "ann_cosine_topk": (
        "The query side is broadcast (10 vectors); the corpus scan "
        "stays partition-parallel — the only Exchange feeds the "
        "per-query top-k window, whose input is already similarity-"
        "scored rows, not vectors."
    ),
    "events_sessionize": (
        "Single Exchange on user_id; lag() and the running sum() reuse "
        "the same Sort+Window pass, and the final session aggregation "
        "keeps the same partitioning — no second shuffle."
    ),
    "pdf_roundtrip_encrypted": (
        "Decryption changes NOTHING in the plan — same pruned "
        "(doc_id, text) scan, same single pre-generation spread "
        "Exchange, same back-to-back MapInPandas pair. RC4/AES key "
        "derivation is per-document Python inside the extract stage, "
        "so ciphertext never costs an extra shuffle or scan column."
    ),
    "pdf_span_geometry": (
        "The geometry-widened extractor keeps the flagship shape: "
        "one Exchange (the doc_id spread), generate+extract pipelined in a "
        "single stage; only the UDF output schema widens (x, y, w, h "
        "doubles) — no new plan nodes."
    ),
    "html_main_text": (
        "Parquet scan pruned to (doc_id, text), then the ONE Exchange: "
        "the doc_id repartition of the text rows (spread_docs), the "
        "same spread generation uses. It fans the Python stage out on "
        "an under-split source (AQE cannot skew-split a UDF stage); "
        "the placement is pseudo-random, and nothing keeps two large "
        "documents apart. One MapInPandas follows (wrap + strip fused in a "
        "single Arrow batch pass)."
    ),
    "bm25_topk": (
        "r9: term frequencies are per-document array counts "
        "(size - size∘array_remove per fixed term, unpivoted via "
        "stack) — a codegen projection fused into the scan; the old "
        "word explode and its (doc_id, w) groupBy Exchange are gone. "
        "Document frequencies and the corpus stats come back as "
        "BroadcastExchanges of ≤4 rows and 1 row; the final top-20 "
        "is a TakeOrderedAndProject, not a global sort."
    ),
    "corpus_curate": (
        "The whole curation pipeline is ONE plan with ONE Exchange — "
        "the md5(text) duplicate-cluster window. Language argmax, "
        "token counts and diversity ratios are codegen projections "
        "fused into the scan; the reason CASE is evaluated post-window "
        "with no further movement."
    ),
    "pdf_roundtrip_cjk_embedded": (
        "Embedded-CMap decoding is invisible to the plan — identical "
        "to the flagship: pruned (doc_id, text) scan, ONE pre-"
        "generation spread Exchange, generate+extract MapInPandas "
        "pipelined in one stage. The per-document CMap build/parse is "
        "Python inside the existing UDF pair; no extra column, no "
        "extra shuffle."
    ),
    "dedup_skipped_buckets": (
        "The signatures are one per-document MapInPandas stage "
        "(emitting the 16 band keys) behind the doc_id spread "
        "Exchange; no explode, no per-hash aggregate. Then two "
        "map-side-combinable aggregations back to back: "
        "(band, band_val) counts then per-band rollup — the first "
        "Exchange is the SAME (band, band_val) key the LSH pair join "
        "shuffles on, the second carries n_bands×buckets rows, and "
        "the output is n_bands rows. Accounting costs one aggregation "
        "tree, never a join."
    ),
    "dedup_clusters": (
        "The component labeling is driver-coordinated: alternating "
        "large-star/small-star rounds over the verified-pair edge "
        "set, O(log n) rounds even on long chains, each round's edges "
        "an eager localCheckpoint. The plan shown is the FINAL labels "
        "projection — the corpus scan joined to the converged star "
        "forest (a scan of the checkpointed edges), so the lineage "
        "shown is flat instead of a multi-round join tree. The forest "
        "has at most one row per candidate document and is broadcast: "
        "the final plan has no Exchange, and the corpus scan is never "
        "shuffled for the labels join. Running "
        "the query first does not change that: the rounds, the MinHash "
        "pairs and their Exchanges run before the eager checkpoints, "
        "and only what follows them shows here."
    ),
    "pdf_attachments": (
        "Name-tree extraction rides the flagship shape: pruned "
        "(doc_id, text) scan → generate → extract, MapInPandas "
        "pipelined. The tree walk and embedded-stream decode are "
        "per-document Python inside the existing UDF stage — the "
        "plan gains no node over the metadata pipeline."
    ),
    "gopher_quality_flags": (
        "ZERO Exchanges: every rule (bounds, ratios, stopword/alpha "
        "filters) is a codegen projection fused into the pruned "
        "(doc_id, text) scan. The composite `keep` is a boolean "
        "expression over sibling columns — at 10^12 docs this is a "
        "pure map stage, partition count = input splits."
    ),
    "chunk_boilerplate": (
        "Chunking is ONE linear regexp pass (no O(len²) substring "
        "loop). The r5 skew-proof shape: the frequency aggregation "
        "shuffles on chunk (map-side combinable — a hot key collapses "
        "to one row per map task), is FILTERED to the small "
        "boiler-key set, and that set is explicitly BROADCAST; the "
        "accounting join is a BroadcastHashJoin, so a chunk shared by "
        "10^9 docs never becomes a shuffle-join hot key. One Exchange "
        "on doc_id for the per-doc rollup. The plan-shape pytest "
        "pins BroadcastHashJoin / zero SortMergeJoin."
    ),
    "ann_ivf_topk": (
        "Training is driver-side on a pushed-down sample (filter + "
        "limit reach the scan); cell assignment is one numpy Arrow "
        "pass with NO shuffle; candidates co-locate with ONE shuffle "
        "join on cell (probe side broadcast); the exact re-rank "
        "window partitions by query_id — 50 output rows."
    ),
    "media_video_frames": (
        "Single mapInPandas stage over the media-span projection: the "
        "scan reads ONLY (doc_id, text) for the synthesis expression, "
        "the explode+filter prunes to media spans, and the AVI "
        "generate+decode runs in one Arrow-batched pass — zero "
        "shuffles; per-frame fan-out happens inside the batch, never "
        "as a join."
    ),
    "pdf_malformed_golden": (
        "binaryFile scan of the 4-file malformed corpus → one "
        "mapInPandas kernel pass; the documented zero-byte-file drop "
        "is surfaced by a LEFT ANTI join of the expected-name literal "
        "(4 rows, broadcast) against the scan output — the anti join "
        "broadcasts the tiny side, no shuffle of the scan."
    ),
    "dedup_minhash_pairs": (
        "The signature pass (one per-document MapInPandas stage over "
        "the shingle sets) and ONE groupBy(band, band_val) (the "
        "≤cap filter is a size() check on each bucket's sorted member "
        "list; a<b pairs expand in-array) run before this plan: their "
        "distinct candidate pairs are checkpointed (Scan ExistingRDD "
        "(1)). The exact-Jaccard verify shown here reads the "
        "documents ONCE: the scan is semi-join-pruned by the "
        "broadcast candidate id set, each candidate's distinct "
        "shingles become one array, and that set frame is broadcast "
        "to both pair endpoints: the executed plan builds the set "
        "broadcast once and runs the second as a ReusedExchange "
        "(pinned by test_minhash_pairs_plan_reads_documents_once). "
        "n_inter = size(array_intersect) and n_union = the two sizes "
        "minus n_inter — no shingle explode, no cache, no shuffle "
        "join. Scale-safe at 100 TB: candidates are bounded by the "
        "cap² pair budget (the capped drop is oracled by "
        "dedup_skipped_buckets), and so are both broadcasts."
    ),
    "bpe_pair_topk": (
        "Two full BPE rounds. Per round: pair generation is a "
        "codegen'd transform/sequence projection (no UDF), "
        "partial_count runs BEFORE the Exchange (map-side combine "
        "absorbs stopword-bigram skew), top-k resolves to "
        "TakeOrderedAndProject. The round-1 argmax merge travels as "
        "a BROADCAST 1-row crossJoin into the round-2 scan — the "
        "driver never touches the pair table — and the merge itself "
        "is a sentinel-delimited literal replace (greedy "
        "left-to-right, token-boundary safe). At 10^12 docs a "
        "production trainer runs ~32k of exactly this round shape "
        "over the shrinking symbol stream."
    ),
    "semantic_dedup": (
        "ONE scan, ONE shuffle: the cell-assignment MapInPandas "
        "carries the embedding through (no join back to the table to "
        "recover the vector), the Exchange hash-partitions on cell, "
        "and the within-cell quadratic verify runs as a tiled matmul "
        "inside FlatMapGroupsInPandas — memory O(TILE x cell), never "
        "O(n^2). Cell count grows as sqrt(N) (clamp 4096); at 10^12 "
        "vectors n_cells rises to N/lambda for a constant target "
        "cell size and the per-cell kernel is unchanged."
    ),
    "html_links": (
        "Scan prunes to (doc_id, text); the doc_id spread of the "
        "text rows is the one Exchange, and wrap + walk run in ONE "
        "mapInPandas stage behind it — the outlink rows are the only "
        "thing that materializes. The downstream link-graph groupBy "
        "(not part of this query) would be the next shuffle."
    ),
    "html_outline": (
        "Same shape as html_links (one spread Exchange, one Python "
        "stage): the heading walk emits (ord, level, title) rows "
        "straight out of the Arrow batch."
    ),
    "pdf_page_labels": (
        "Scan prunes to (doc_id, text); the ONE Exchange is the "
        "deliberate parallelism repartition of the lightweight source "
        "rows BEFORE the Python stages (payload bytes never shuffle); "
        "generation and the number-tree walk pipeline back-to-back as "
        "MapInPandas stages in a single pass, and the per-page "
        "explosion happens inside the kernel stage, so only final "
        "(doc_id, page_idx, label) rows ever materialize."
    ),
    "pdf_reading_order": (
        "r8: same shape as the flagship — scan pruned to (doc_id, "
        "text), ONE deliberate doc_id spread Exchange ahead of the Python "
        "stages, generate (scrambled tagged pages) + extract "
        "(structure-tree re-sequencing) pipelined back-to-back in a "
        "single MapInPandas stage pair. The §14.8 tree walk is "
        "per-document work INSIDE the kernel stage: re-ordering spans "
        "never shuffles them, so logical reading order costs zero "
        "extra Exchanges at any corpus size."
    ),
    "pdf_roundtrip_nospace": (
        "r8: identical plan skeleton again (one spread Exchange, "
        "pipelined generate+extract); the word-boundary inference "
        "runs on the documented pure-Python interpreter path, a "
        "per-row kernel flag — the PLAN is indistinguishable from "
        "the flagship, which is the point: opt-in extraction "
        "features must not change the distribution strategy."
    ),
    "bpe_merges": (
        "r8: the N-round trainer is N sequential aggregation plans, "
        "each a partial-agg (map-side combine) into ONE Exchange "
        "carrying only (pair, count) partials, topped by "
        "TakeOrderedAndProject(1) — the argmax never materializes "
        "the pair distribution on the driver (that per-round shape "
        "is the bpe_pair_topk plan above; this query's SHOWN plan is "
        "just the N-row merge list the loop returns). The winning "
        "merge re-encodes the corpus as a literal chained replace, "
        "so each round shuffles counts, never text — one merged "
        "pair (a string) crosses the driver per round, the k-means "
        "posture."
    ),
}


def main() -> None:
    import __spark_entry__ as se
    from pyspark.errors import AnalysisException
    from pdfspark.session import get_spark

    spark = get_spark(master="local[4]", shuffle_partitions=8, app_name="plans")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    qs = se.queries()
    out = [
        "# PLANS — physical-plan evidence for the headline queries\n",
        "Regenerate with `python tools/explain_plans.py`. Each plan is the\n"
        "`explain('formatted')` output of the executed query at sf0.001 (the\n"
        "final adaptive plan); the commentary calls out the property that\n"
        "matters at 100 TB.\n",
    ]
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")
    with open(path) as f:
        kept = {p.split("\n", 1)[0]: "\n## " + p for p in f.read().split("\n\n## ")[1:]}
    for name, note in COMMENTARY.items():
        try:
            df = qs[name](spark, SF)
        except AnalysisException as e:
            if e.getCondition() != "PATH_NOT_FOUND":
                raise
            print(f"{name}: input missing, section kept")
            out.append(kept[name])
            continue
        df.collect()  # run it, so the adaptive plan is the final one
        plan = df._jdf.queryExecution().explainString(mode)
        # keep the final operator tree + scan details; drop the initial
        # plan and the verbose middle
        lines = plan.splitlines()
        keep = []
        prev_was_header = in_initial = False
        for ln in lines:
            s = ln.strip()
            in_initial = (in_initial or s.endswith("== Initial Plan ==")) and s != ""
            if in_initial:
                continue
            if (
                s.startswith(("*", "+", ":", "AdaptiveSparkPlan", "=="))
                or prev_was_header  # the root operator of a non-AQE plan
                or re.match(r"\(\d+\) Scan ", s)  # every scan's header
                or any(k in s for k in ("ReadSchema", "PushedFilters", "Location"))
            ):
                keep.append(ln)
            prev_was_header = s == "== Physical Plan =="
        out.append(f"\n## {name}\n\n{note}\n\n```\n" + "\n".join(keep) + "\n```\n")
    with open(path, "w") as f:
        f.write("\n".join(out))
    print("PLANS.md written")
    spark.stop()


if __name__ == "__main__":
    main()
