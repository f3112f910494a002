"""Regenerate PLANS.md: formatted physical plans for headline queries,
annotated with the scale properties each plan is supposed to exhibit
(the same properties tests/test_plans.py asserts mechanically).

Usage: python tools/dump_plans.py [sf_dir]   (default sf0.001)

NOTE: q_sample_coreset's builder is eager by documented contract (k
driver-side k-sized collects at plan-construction time, ADVICE r14 #3)
— building any plan set that includes it executes k corpus passes at
the chosen sf. Fine at sf0.001; don't point this tool at sf0.1 idly.
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from hive_similarity_join_spark.registry import QUERIES, load_registry
from hive_similarity_join_spark.session import DEFAULT_SHUFFLE_PARTITIONS, get_spark

HEADLINERS: dict[str, str] = {
    "q_simjoin_jaccard_self": (
        "The flagship. Look for: one BroadcastHashJoin (the vocabulary-"
        "sized token dictionary — the only broadcast; its side is a Scan "
        "ExistingRDD, the (_tok, _rank) view of the session-checkpointed "
        "docs_token_stats, so no rank pass runs in this plan), "
        "REPARTITION_BY_NUM "
        "with the salt columns (explicit parallelism for the candidate "
        "join, exempt from AQE coalescing), InMemoryTableScan for the "
        "persisted tokenized/rank-sorted relations (each consumed 2-4x), "
        "and NO BatchEvalPython/ArrowEvalPython anywhere — verification "
        "is whole-stage-codegen'd int-array intersection."
    ),
    "q_dedup_lsh_band_sweep": (
        "The banding S-curve audit. Look for: ONE self-join keyed on "
        "(layout, band, bsig) serving all three bandings (the 14 band "
        "structs of 2x8/4x4/8x2 explode from one signature relation), "
        "explicit REPARTITION_BY_NUM around the candidate join "
        "(AQE-coalesce exempt, same as minhash_lsh_pairs), the exact "
        "t=0.8 truth side as a Scan ExistingRDD over the session-"
        "checkpointed flagship relation (r16 sharing — the kernel plan "
        "itself is visible on q_simjoin_jaccard_self), and counts as "
        "map-side-combined partial aggregates — no window, no "
        "Python nodes."
    ),
    "q_text_simhash_wide": (
        "Wide-radius SimHash pairs. Since r16 the key returns the "
        "session-checkpointed shared pair relation (Scan ExistingRDD); "
        "the generator plan underneath (built once per session) is: 60 "
        "conditional-sum vote columns in ONE HashAggregate over (doc, "
        "token-hash) rows, the 45-struct block-pair explode, one equi "
        "self-join on (_bk, _v1, _v2), and bit_count(xor) verification "
        "inside whole-stage codegen — blocking is lossless at "
        "Hamming<=8 by pigeonhole, so there is no post-hoc recall "
        "correction stage."
    ),
    "q_vec_ann_cost": (
        "The ANN scan-cost audit. Look for: three candidate generators "
        "(hyperplane buckets + flips / hash-sampled IVF cells / Lloyd "
        "kmeans cells) each feeding ONE count aggregate, probes always "
        "on the broadcast side, centroid tables as literal projections "
        "or 1-row broadcasts, and NO Window/TakeOrdered anywhere — the "
        "audit counts candidates, it never ranks them."
    ),
    "q_text_gopher_rules": (
        "Per-source repetition report. Look for: (doc_id, gram) counts "
        "with map-side partial aggregation, the top-2-gram pick as "
        "WindowGroupLimit over the HIGH-cardinality doc_id (rank-1 "
        "filter; never the fact table through few tasks), one row per "
        "doc into the tiny per-source rollup, and exact integer "
        "cross-product flag arithmetic in the final projection."
    ),
    "q_tpch_q5": (
        "Six-table star join. Look for: date predicates inside "
        "PushedFilters on the orders scan, ReadSchema pruned to the "
        "joined/aggregated columns only, dimension sides built as "
        "BroadcastHashJoin while lineitem/orders stream, and a partial "
        "HashAggregate before the single grouping-key Exchange."
    ),
    "q_tpch_q6": (
        "Scan-local aggregate. Look for: all three predicate families "
        "(l_shipdate range, l_discount between, l_quantity) in "
        "PushedFilters; no Exchange except the final single-row agg."
    ),
    "q_dedup_minhash_lsh": (
        "MinHash+LSH. Look for: ONE shuffle keyed on the doc id "
        "producing the wide 16-min signature row (no per-permutation "
        "explode), REPARTITION_BY_NUM around the band join (its output "
        "is the pair blowup; AQE would coalesce it to one task), and "
        "int-rank-array verification reusing the signature relation."
    ),
    "q_vec_knn_ivf": (
        "IVF ANN. Look for: the centroid table inlined as literals in a "
        "single projection (argmin assignment — no join, no window), "
        "an explicit repartition on cell id co-locating inverted lists, "
        "and broadcast probe routing; exact cosine re-scoring stays in "
        "codegen (zip_with/aggregate, no Python)."
    ),
    "q_stream_tumbling": (
        "Window aggregate (batch twin of the streaming mirror). Look "
        "for: partial+final HashAggregate around one Exchange on the "
        "window/event_type keys."
    ),
    "q_simjoin_edit_scalable": (
        "Symmetric-deletion edit join. Look for: one explode of the "
        "deletion-variant array per side feeding a string-keyed "
        "SortMergeJoin/ShuffledHashJoin (no nested loop anywhere), "
        "pair dedupe, then codegen'd levenshtein verification — "
        "candidate volume tracks true similarity, not substring "
        "entropy, so no salting is needed."
    ),
    "q_join_asof": (
        "As-of join with NO join operator. Look for: a single Window "
        "(partitionBy user_id) over one Exchange — the last-click "
        "carry-forward — then a filter on the purchase rows. The "
        "naive theta-join + argmax formulation is absent by design."
    ),
    "q_pipeline_corpus_clean": (
        "The end-to-end training-data pipeline in one DAG. Look for: "
        "the quality-gate filters evaluated in the SCAN stage (before "
        "any exchange), the exact-dedup semi join ahead of the "
        "similarity kernel's candidate machinery, and the final "
        "LEFT ANTI join consuming the kernel's pair output — stage "
        "order IS the optimization at 100 TB."
    ),
    "q_decontaminate": (
        "Eval-set contamination check. Look for: the eval shingle set "
        "built once and BroadcastHashJoin'd into the corpus side (the "
        "corpus never shuffles its shingles — at 100 TB the broadcast "
        "is the benchmark, the stream is the data), then one "
        "doc-id-keyed partial+final aggregate."
    ),
    "q_boilerplate_passages": (
        "Cross-document boilerplate detection. Look for: array_distinct "
        "applied per doc BEFORE the explode (so the passage groupBy is a "
        "plain count with map-side partial aggregation, never a "
        "count-distinct shuffle), one Exchange on the passage key, and "
        "the >=2-docs filter after the final aggregate."
    ),
    "q_sample_temperature": (
        "Temperature-flattened mixture sampling. Look for: the "
        "languages-sized rate table built by one small aggregate and "
        "BroadcastHashJoin'd back (the corpus never shuffles), with the "
        "md5-coin keep-filter evaluated map-side in the join stage — "
        "sampling at 100 TB is a scan, not a shuffle."
    ),
    "q_search_bm25": (
        "BM25 ranked retrieval. Look for: per-row tf/dl expressions in "
        "the scan stage (no explode), the 1-row corpus-statistics "
        "aggregate broadcast back onto the scored relation, and "
        "TakeOrderedAndProject for the global top-k — per-partition "
        "heaps, single merge, never a full sort."
    ),
    "q_simjoin_containment": (
        "Asymmetric containment join. Look for: the probe side's short "
        "prefix explode salted and repartitioned with an explicit count "
        "(REPARTITION_BY_NUM + _salt, AQE-exempt) joining the FULL "
        "posexploded index side; the size (alpha <= n2) and positional "
        "bounds inside the join condition; bare-id pair dedupe before "
        "the rank arrays are joined back for the exact i/n1 verify. "
        "No Python anywhere."
    ),
    "q_scd2_history": (
        "SCD2 type-2 build. Look for: exactly ONE Exchange "
        "hashpartitioning(user_id) and ONE Sort feeding BOTH WindowExecs "
        "(lag change-detect + lead interval-close share the spec) — the "
        "whole history build is a single shuffle of the log."
    ),
    "q_simjoin_weighted_containment": (
        "Rarity-weighted containment. Look for: the weight-carrying "
        "vocabulary broadcast (w = N - df + 1 built with a 1-row corpus-"
        "count broadcast, no collect), suffix weights computed by a "
        "LINEAR running window sum sharing the per-doc collect's hash "
        "partitioning (one Exchange feeds Window -> Sort -> "
        "HashAggregate), the probe side filtered "
        "to positions whose suffix weight still reaches alpha, salted "
        "REPARTITION_BY_NUM around the candidate join, and the exact "
        "integer-sum verify via map_from_arrays + array_intersect. "
        "No Python anywhere."
    ),
    "q_vec_knn_quantized": (
        "SQ8 two-stage ANN. Look for: the quantization arithmetic "
        "(floor/greatest/least transform) inlined in the scan-side "
        "projection, broadcast probes against the streamed corpus, a "
        "window top-50 on the integral-double code dot product, then "
        "the exact-cosine rerank window over only those candidates — "
        "all codegen, no Python."
    ),
    "q_bpe_pairs": (
        "BPE merge-candidate counting. Look for: ONE hash exchange on "
        "the pair key with a map-side partial aggregate, the global "
        "top-50 planned as TakeOrderedAndProject (per-partition heaps "
        "— no rangepartitioning/global sort), and the final rank "
        "window running over 50 rows. No Python."
    ),
    "q_text_novelty": (
        "First-occurrence novelty. Look for: exactly TWO hash "
        "exchanges — the shingle-keyed min aggregate whose "
        "partitioning the join back to per-doc shingles REUSES (no "
        "third exchange on the fst side), then the doc-keyed rollup. "
        "The first-occurrence table stays fully distributed; nothing "
        "broadcasts but the plan's small side."
    ),
    "q_simjoin_weighted_jaccard": (
        "Weighted symmetric near-dup join. Look for: the same "
        "broadcast-dictionary + salted REPARTITION_BY_NUM candidate "
        "shape as the weighted containment key, a single Window "
        "(running suffix-weight sum) sharing the collect's hash "
        "partitioning on _id (one exchange feeds Window -> Sort -> "
        "HashAggregate), and the pair-exact positional bound in the "
        "join condition. No Python."
    ),
    "q_bpe_merges": (
        "Iterated BPE trainer (3 lazy rounds). Look for: the "
        "vocab-sized word-frequency aggregate persisted and reused by "
        "every round (InMemoryTableScan), each round = one pair-count "
        "partial+final HashAggregate pair around a single Exchange "
        "plus a TakeOrderedAndProject(1) whose 1-row result joins back "
        "as BroadcastNestedLoopJoin (broadcast of a scalar relation — "
        "the sanctioned unkeyed-join form), and the merge application "
        "as a codegen'd string replace in a Project. No Python, no "
        "CartesianProduct."
    ),
    "q_agg_cms_topk": (
        "Count-Min-Sketch audit. Look for: counters built FROM the "
        "token-count aggregate (vocab-sized), never the occurrence "
        "stream — one partial-aggregated Exchange into the D x W cell "
        "space; TakeOrderedAndProject for the exact top-k; the "
        "probe x row expansion BroadcastHashJoin'd against the cell "
        "table (the sketch side never shuffles the corpus)."
    ),
    "q_decontaminate_bloom": (
        "Bloom pre-filter audit. Look for: the bit-set relation "
        "(bounded by m bits, not eval-set size) on the BROADCAST side "
        "of the probe join; the xD bit expansion evaluated map-side in "
        "the scan/join stage; per-shingle verdicts via partial "
        "HashAggregate with the HAVING count = D filter after the "
        "final agg; the exact leg reusing the same broadcast-ev shape "
        "as q_decontaminate."
    ),
    "q_join_skew_salted": (
        "First-class salted equi join. Look for: _skew_salt inside the "
        "join keys / hashpartitioning (the hot key spreads across the "
        "fan-out), the replicated side's explode evaluated map-side "
        "before its shuffle, and NO salt column in the final output "
        "projection."
    ),
    "q_vec_knn_pq": (
        "Product-quantization ADC. Look for: the codebook RELATION "
        "(8x16 rows, two-phase windowed top-K — no driver collect, no "
        "literal-array plans) on the BROADCAST side of the encode and "
        "table joins; the probe side broadcast carrying its 8x16 "
        "distance tables as a collected-and-sorted nested array; the "
        "per-pair score as an ordered aggregate fold of table lookups "
        "(no float multiply per pair, and deliberately NOT a groupBy "
        "sum — association); and two Windows: candidate top-20 by "
        "approx distance, exact-cosine top-k rerank."
    ),
    "q_dedup_semantic": (
        "SemDeDup-style semantic dedup. Look for: the hyperplane-LSH "
        "bucket equi-join generating candidate pairs (no all-pairs "
        "anywhere), exact cosine verify in codegen, the alternating-"
        "star CC rounds reading the localCheckpoint'd pair relation, "
        "and the final corpus-sized LEFT join attaching cluster + keep "
        "flag with singletons defaulting to their own id."
    ),
    "q_dedup_incremental": (
        "Ingestion-time dedup (the daily-batch shape). Look for: the "
        "band join's BUILD side filtered to the new batch's bands only "
        "(never corpus-vs-corpus), REPARTITION_BY_NUM on (band, bsig) "
        "opting the candidate shuffle out of AQE coalescing, the "
        "signature relation's exchange REUSED across the band explode "
        "and both verify sides, and int-array-intersect verification "
        "in whole-stage codegen."
    ),
    "q_skyline_docs": (
        "Pareto frontier via the distributed two-level staircase. Look "
        "for: BOTH window operators carrying PARTITION BY (_b resp. "
        "n_chars) — no Exchange SinglePartition anywhere — and the "
        "cross-bucket suffix-max joining as a BroadcastHashJoin/NLJ on "
        "the bucket-count-sized relation, never on the corpus."
    ),
    "q_range_splits": (
        "Equi-depth split planner. Look for: the two-pass distributed "
        "rank (RangePartitioning exchange + per-partition Window with "
        "PARTITION BY _ps_pid — the single-partition global sort is "
        "exactly what this plan must NOT contain; since r11 the rank "
        "IS grouped_prefix_scan of a literal 1, offsets joined back "
        "distributed), the 1-row count broadcast into the 31-row "
        "target relation, and the final broadcast equi-join probing "
        "each rank partition once."
    ),
    "q_events_cusum": (
        "Exact CUSUM closed form via two CHAINED distributed scans "
        "(round-10 de-weak — no window partitioned by the 5-value "
        "event_type anywhere). Look for: two Scan ExistingRDD nodes "
        "(each grouped_prefix_scan's frozen range partitioning), the "
        "tiny per-(partition, group) offsets relation as a "
        "BroadcastHashJoin in each pass, windows partitioned by "
        "(_ps_pid, event_type) — partition-local, full cluster width "
        "— the 5-row totals broadcast, decimal(38,6) arithmetic "
        "end-to-end, and the changepoint argmax as WindowGroupLimit."
    ),
    "q_win_percentiles": (
        "Rank-normalizing trio via the two-pass rank (round-10 "
        "de-weak). Look for: Scan ExistingRDD (ranked_by's frozen "
        "range partitioning over (event_type, value, event_id)), the "
        "window partitioned by _ps_pid (partition-local running count "
        "+ broadcast offsets relation; the r10 literal offset array "
        "and its driver collect are gone — NOT partitioned by the "
        "5-value event_type), the "
        "5-row (first-rank, count) relation as BroadcastHashJoin, and "
        "ntile/percent_rank/cume_dist as pure integer arithmetic "
        "projections — no per-group sort anywhere."
    ),
    "q_vec_pca_power": (
        "Fixed-point power iteration. Look for: the (vec_id, dim, y) "
        "relation behind InMemoryTableScan (persisted once, streamed "
        "twice per round), the 64-row direction as BroadcastHashJoin "
        "per round, partial+final HashAggregate pairs for both "
        "matrix-vector products, a single-row max broadcast for the "
        "renorm, and decimal(38,0) expressions with NO floating point "
        "until the caller's projection."
    ),
    "q_vec_knn_ivf_kmeans": (
        "IVF search on the Lloyd-refined quantizer (round 9). Look "
        "for: the fixedpoint corpus behind InMemoryTableScan (pinned, "
        "feeds training and assignment), the one-row centroid "
        "relation as BroadcastNestedLoopJoin (attribute-typed array — "
        "codegen cached across rounds, no literal recompilation), the "
        "routed-cells broadcast into the candidate equi-join on cell, "
        "and exact-cosine rescoring inside WholeStageCodegen — no "
        "Python eval anywhere."
    ),
    "q_events_dau_wau": (
        "Rolling 7-day distinct (round 9). Look for: the events scan "
        "collapsing to a DISTINCT (user, day) Exchange FIRST (raw "
        "events touched once), the day grid as the BROADCAST side of "
        "the range join (BroadcastNestedLoopJoin with the 6-day "
        "between condition), and the final count-distinct aggregate "
        "keyed by day — WAU state never exceeds 7x the user-day "
        "relation."
    ),
    "q_dedup_sorted_neighborhood": (
        "Sorted-neighborhood blocking sweep. Look for: the two-pass "
        "ranked_by skeleton over the canonical-token-string order "
        "(range exchange + tiny partials window, NO single-partition "
        "sort of the corpus), the neighbor join as a plain EQUI-join "
        "on target rank (probe side is keys-only explode, w_max rows "
        "per doc), array_intersect verification in whole-stage "
        "codegen, and ONE conditional aggregate serving all three "
        "windows. The exact-pair denominator is the verified flagship "
        "subplan, same as every audit key."
    ),
    "q_profile_table": (
        "Column profile. Look for: ELEVEN independent single-column "
        "branches unioned — each branch's ReadSchema prunes to exactly "
        "one field (columnar parquet: total bytes == one full-width "
        "scan), partial-aggregates its per-partition distincts "
        "map-side, and emits one row. Deliberately NOT the wide "
        "multi-distinct aggregate: its Expand replicates every row "
        "|cols|+1x and hash-aggregates |cols|-wide tuples (22s vs ~3s "
        "at sf0.1, within-boot A/B). No Expand node anywhere."
    ),
    "q_events_anomaly_mad": (
        "Median/MAD robust anomaly report. Look for: two grouped "
        "sort-aggregates (percentile_disc) over event_type with the "
        "group-count-sized stats relations BroadcastHashJoin'd back "
        "over the streamed log — no window over the fact table, no "
        "single-partition sort, float tail limited to subtract/abs/"
        "multiply/compare."
    ),
    "q_join_interval_overlap": (
        "Unkeyed interval-overlap join made shuffle-shaped. Look for: "
        "session_window aggregation into intervals, the bucket explode "
        "(sequence over s div B .. e div B), an EQUI-join on bkt (never "
        "BroadcastNestedLoopJoin), the exact overlap predicate PLUS the "
        "max(s1,s2)-bucket attribution filter inside the join stage — "
        "which is why NO HashAggregate-distinct over the pair relation "
        "exists anywhere in the plan — and plain counting after."
    ),
    "q_unigram_nbest": (
        "N-best Viterbi segmentation (subword regularization, r13). "
        "Look for: the piece relation as ONE BroadcastHashJoin into the "
        "substring-edge explode, a single word-keyed collect_list "
        "Exchange, the whole n-best DP inside one codegen'd aggregate/"
        "transform/array_sort expression per word (no per-position "
        "joins, no Python nodes), and the top-words filter as a "
        "broadcast semi-join — two vocab-sized shuffles total."
    ),
    "q_vec_knn_ivfadc_res": (
        "Residual IVFADC (r13). Look for: cell assignment as a literal-"
        "centroid projection (no join), residuals as zip_with inside "
        "the encode scan (never materialized corpus-wide), the "
        "PQ_M x PQ_K residual codebook as the only BroadcastHashJoin "
        "into encode, per-(probe, cell) distance tables on the "
        "broadcast probe side, ADC as a codegen'd fold over the code "
        "array, and exact-cosine rerank only over the top-20 "
        "candidate rows joined back to raw vectors."
    ),
    "q_dedup_ensemble_representatives": (
        "Union-graph dedup closed into survivor assignments (r13). "
        "Look for: the three pair generators (LSH band join / SimHash "
        "block-pair join / SNM rank-neighbor join) unioned and "
        "distinct'd ONCE (pinned — InMemoryTableScan on the CC side), "
        "the min-label CC iteration as edge-sized shuffles with "
        "checkpointed lineage, and the survivor pick as one window "
        "over the NODE-sized label table, never the pair relation."
    ),
    "q_wordpiece_merges": (
        "WordPiece trainer, 6 likelihood-scored rounds (r14). Look "
        "for: round-LOCAL plans (per-round localCheckpoint cuts the "
        "3^rounds lazy nesting — Scan ExistingRDD leaves between "
        "rounds), each round one pair-count and one symbol-count "
        "partial aggregate over the vocab-sized words relation, two "
        "count joins, and a 1-row TakeOrderedAndProject winner; no "
        "corpus-sized re-scan after the initial pinned word count."
    ),
    "q_split_leakage": (
        "Eval-leakage audit over two pair graphs (r14). Look for: "
        "InMemoryTableScan on BOTH pair relations (the session-pinned "
        "exact and LSH graphs — generated once per session, shared "
        "with the whole audit family), the (doc_id, split) projection "
        "BROADCAST into both id-joins (split is a pure md5 function — "
        "no extra shuffle to compute it), and a 6-row aggregate tail."
    ),
    "q_join_bucketed": (
        "Co-bucketed catalog join (r14). Look for: two FileScan "
        "parquet leaves with Bucketed: true / SelectedBucketsCount 8 "
        "of 8, and (with broadcast disabled) a SortMergeJoin with NO "
        "Exchange and NO Sort below it — the only Exchange in the "
        "plan is the post-join segment aggregate; the shuffle was "
        "paid once at write time. PRICED as an exchange-count A/B in "
        "tests/test_bucketing.py::test_exchange_count_ab_bucketed_vs_"
        "plain: the identical join from plain parquet plans one "
        "Exchange + Sort per side, the co-bucketed one zero Exchanges "
        "(r15)."
    ),
    "q_join_partition_pruned": (
        "Dynamic partition pruning (r15). Look for: the fact scan's "
        "PartitionFilters carrying a dynamicpruningexpression subquery "
        "(the quarter filter sits on the DIM side only — no static "
        "fact filter exists), and a reused broadcast exchange feeding "
        "it. The month-partitioned read touches 3 of ~80 directories; "
        "tests/test_dpp.py pins both the expression and the pruned-"
        "read equivalence."
    ),
    "q_dedup_winnowing": (
        "MOSS winnowing sketches (r15). Look for: NO Window node in "
        "the fingerprint selection — the per-window argmin-with-"
        "rightmost-tie is one bigint min over a packed "
        "(hash<<20 | ~pos) key, partial-aggregated per (doc, window); "
        "one posexplode + a bounded W-fold offset explode as the only "
        "fan-outs; the pair join keyed on the 40-bit fingerprint with "
        "the df-cap semi-join upstream (never all-pairs)."
    ),
    "q_graph_bridges": (
        "Bridge-edge audit (r15). Look for: the 2/3-walk certificate "
        "chains as candidate-DRIVEN joins (pairs on the build side, "
        "never edge x edge x edge unanchored), two checkpointed CC "
        "label iterations (InMemoryTableScan of the pinned edge "
        "relation per round), and left joins onto the pruned-component "
        "labels with coalesce self-labeling for isolated nodes."
    ),
    "q_vec_knn_bq": (
        "Binary-quantized ANN (r15). Look for: the corpus side "
        "carrying only (vec_id, two bigint words, vector) with the "
        "Hamming stage as xor+bit_count inside whole-stage codegen; "
        "one broadcast of the 10 probes; rerank window over the "
        "candidate-capped relation only. The code column is 16 bytes "
        "— the index you'd sink to parquet at 100 TB."
    ),
}


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    load_registry()
    spark = get_spark("plandump", shuffle_partitions=DEFAULT_SHUFFLE_PARTITIONS)
    spark.sparkContext.setLogLevel("ERROR")

    out = [
        "# PLANS — physical plans of the headline queries\n",
        f"Generated by `python tools/dump_plans.py {sf_dir}` "
        "(re-run after any operator change; tests/test_plans.py asserts "
        "the load-bearing properties mechanically).\n",
    ]
    for key, note in HEADLINERS.items():
        df = QUERIES[key](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
            df._jdf.queryExecution(), "formatted"
        )
        out.append(f"\n## {key}\n\n{note}\n\n```\n{plan}```\n")
    Path(__file__).resolve().parent.parent.joinpath("PLANS.md").write_text(
        "".join(out)
    )
    print("wrote PLANS.md")


if __name__ == "__main__":
    main()
