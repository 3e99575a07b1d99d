"""Generate PLANS.md — a physical-plan audit of the headline queries.

For each audited query this renders the scale-relevant facts of the plan Spark
actually chose (`df.explain("formatted")` on the sf0.001 tables — explain is
plan-only, so tiny inputs give the same plan shape the 100 TB job gets, modulo
AQE's runtime rewrites which only ever *improve* on what is shown here):

- **exchanges**: how many shuffles, split into hash-partitioned (scales out)
  vs single-partition (must stay O(small): final top-k / tiny rollups only)
- **joins**: every join strategy in the plan — the contract is equi-joins
  (broadcast for dims, shuffled for data×data) and NEVER
  CartesianProduct / BroadcastNestedLoopJoin
- **codegen**: WholeStageCodegen span count (JVM-compiled pipelines)
- **python**: Arrow-batched python nodes (mapInPandas / pandas UDF); the
  contract is zero row-at-a-time BatchEvalPython anywhere
- **scan**: columns actually read from parquet (pruning) and pushed filters

`tests/test_plans.py` asserts the load-bearing subset of these properties per
commit; this artifact is the human-readable sweep across the whole headline
set. Regenerate with: `python tools/plan_audit.py [sf_dir]` (writes PLANS.md).
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"

# (name, bnlj_ok, note) — note says what the plan SHOULD look like and why it
# scales. bnlj_ok=True means a BroadcastNestedLoopJoin is EXPECTED and bounded:
# its build side is a k-row centroid/dim table (the argmin-against-broadcast
# plan for non-equi distance predicates), so the work is O(n·k) map-side with
# k fixed — not a data×data cross join.
AUDITED = [
    ("pricing_summary", False, "partial agg before the one hash shuffle (map-side combine)"),
    ("subset_semi_join", False, "id subset must broadcast — never a SortMergeJoin on a dim"),
    ("exact_dedup", False, "hash groupBy on the fingerprint: one data-sized shuffle, no join"),
    ("minhash_lsh_dedup", False, "band buckets -> chain+clique edges: equi-joins + bounded windows only"),
    ("simhash_dedup", False, "pigeonhole bit-slice buckets -> same bounded-edge algebra"),
    ("token_jaccard", False, "df-capped token explode self-join: hot tokens dropped BEFORE the join"),
    ("suffix_pairs", False, "distinct (doc, L-gram) equi-join, all-JVM; df_cap chains bound skew"),
    ("embedding_neardup", False, "ball-cover cell-pair equi-join + per-chunk GEMM — no CartesianProduct"),
    ("semantic_dedup", True, "within-cluster equi-join, O(cluster^2)-bounded; BNLJ vs the broadcast k=8 centroid table is the argmin stage"),
    ("ivf_ann", False, "probe-cell equi-join; coarse quantizer broadcast"),
    ("centroid_assign", True, "argmin vs the broadcast k=8 centroid table: O(n·k) map-side, no shuffle of the data side"),
    ("dense_kmeans", False, "partials one row per (partition,cluster); two-level combine above 64 parts"),
    ("silhouette", False, "per-point sil is a broadcast map (no shuffle); only the k-row rollup exchanges"),
    ("knn_graph", False, "corpus-sized both roles: cell/id equi-joins + reversed-pair self-join, NO corpus broadcast"),
    ("band_self_join", False, "the one data-sized shuffle the design allows: equi-join on band key"),
    ("dedup_images", False, "full flagship dedup: 4 bucket modalities -> verify -> CC, equi-joins throughout"),
    ("curation_funnel", False, "composed 4-gate funnel in ONE conditional-sum pass (single shuffle)"),
    ("quality_classifier", False, "hashed-ngram featurize is a pure map; weight table broadcasts; one per-doc sum shuffle"),
    ("classifier_train", False, "NB fit = one grouped count keyed by bucket; totals/window on the D-row model frame only"),
    ("token_budget", False, "per-domain cumsum-to-budget: one window per domain partition"),
    ("hard_negatives", False, "3-stage IVF composition stays equi-join + window, no cross join"),
    ("bm25_topk", False, "tf-idf join keyed by token; per-query top-k window"),
    ("stream_dedup", False, "stateful dedup replay vs batch groupBy (bounded trigger)"),
    ("interleave_docs", False, "bucketed argmin is a partial agg, capacity ranking a bounded window"),
    ("weighted_sample", False, "ES keys are a pure map (transform over sequence); selection is TakeOrderedAndProject top-k, no global sort"),
    ("zorder_layout", False, "Morton code pure map; manifest one groupBy(file_id) with #files result rows"),
    ("lsh_band_sweep", True, "BNLJ is the intentional 24-row broadcast perm-table cross join; all rollups are bounded groupBys, pairs counted never materialized"),
    ("classifier_auc", False, "rank cumsum window runs over the per-score aggregate, never data rows"),
    ("entropy_filter", False, "decode+histogram pure Arrow map; entropy + gate all-JVM column algebra, zero joins"),
    ("letterbox_crop", False, "pure Arrow map stage — run lengths in the decode kernel, fixed-width rows, zero shuffles"),
    ("padded_dedup", False, "crop-normalized pHash map stage, then ONE equal-hash equi-join — the exact-dedup plan shape"),
    ("watermark_flags", False, "template mining is the exact-dedup groupBy; tiny template table broadcasts back; rollup bounded by image count"),
    ("color_filter", False, "integer opponent-axis sums in the Arrow decode map; gate is pure JVM projection, zero joins"),
    ("affix_strip", False, "affix groupBys absorb boilerplate skew as single reduce keys; mined templates broadcast back; strip is array algebra"),
    ("compaction_plan", False, "metadata-only window per table partition; data files untouched until the rewrite"),
    ("group_merge", False, "closure on the CONTRACTED graph (touched groups + new ids); corpus patch is one broadcast remap join"),
    ("tone_dedup", False, "pHash map stage + pigeonhole band equi-join + bit_count verify — the simhash_dedup plan shape"),
    ("collage_filter", False, "two bounded per-image rollups over the tile grid; universe patch is the only join"),
    ("image_funnel", False, "ONE decode pass for all four gates; decisions a single JVM projection, zero joins"),
    ("text_overlay", False, "gradient-flip counting inside the decode kernel; gate pure projection, zero shuffles"),
    ("dedup_attribution", False, "four bucket families -> bounded per-modality rollups; verify join is the production shape"),
    ("phash_radius_sweep", False, "one distance join + 11-way literal explode; output 11 rows"),
    ("pagerank_hubs", False, "per-iteration: one vertex-keyed equi-join + one partial-agg groupBy; lineage checkpoint-truncated"),
    ("modularity", True, "BNLJ is the intentional 1-row broadcast of m (total edges); everything else label/vertex equi-joins + partial-agg groupBys"),
    ("group_diameter", False, "within-group self-join gated to 2..64-member groups — SemDeDup's bounded shape"),
    ("bucket_skew", False, "percentiles by histogram-then-scan: the only window runs over the tiny (modality,size) histogram"),
]

JOIN_RE = re.compile(
    r"\b(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|BroadcastNestedLoopJoin|CartesianProduct)\b"
)
PY_RE = re.compile(r"\b(ArrowEvalPython|BatchEvalPython|MapInPandas|FlatMapGroupsInPandas(?:WithState)?|MapGroupsInPandas)\b")


def formatted_plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def audit(plan: str) -> dict:
    # formatted explain puts the node name on its own "(N) Exchange" line and
    # the partitioning in a following "Arguments:" line
    n_hash = len(re.findall(r"Arguments: hashpartitioning", plan))
    n_single = len(re.findall(r"Arguments: SinglePartition", plan))
    n_range = len(re.findall(r"Arguments: rangepartitioning", plan))
    joins = sorted(set(JOIN_RE.findall(plan)))
    n_codegen = len(set(re.findall(r"\[codegen id : (\d+)\]", plan)))
    py_nodes = sorted(set(PY_RE.findall(plan)))
    scans = []
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
        cols = [c for c in m.group(1).split(",") if c]
        scans.append(len(cols))
    pushed = len(re.findall(r"PushedFilters: \[[^\]]", plan))
    return {
        "ex_hash": n_hash, "ex_single": n_single, "ex_range": n_range,
        "joins": joins, "codegen": n_codegen, "python": py_nodes,
        "scan_cols": scans, "pushed": pushed,
    }


def main() -> None:
    from lmw_tree_spark.session import get_spark
    import __spark_entry__ as entry

    spark = get_spark(master="local[8]", shuffle_partitions=8)
    qs = entry.queries()

    rows, bad = [], []
    for name, bnlj_ok, note in AUDITED:
        try:
            plan = formatted_plan(qs[name](spark, SF_DIR))
        except Exception as e:  # pragma: no cover - audit robustness
            rows.append((name, None, note, f"ERROR: {e}"))
            bad.append(name)
            continue
        a = audit(plan)
        if "CartesianProduct" in a["joins"]:
            bad.append(name)
        if "BroadcastNestedLoopJoin" in a["joins"]:
            if bnlj_ok:
                a["joins"] = [
                    "BNLJ(vs broadcast k-row dim — bounded)" if j == "BroadcastNestedLoopJoin" else j
                    for j in a["joins"]
                ]
            else:
                bad.append(name)
        if "BatchEvalPython" in a["python"]:
            bad.append(name)
        rows.append((name, a, note, None))

    lines = [
        "# PLANS — physical-plan audit of the headline queries",
        "",
        "Auto-generated by `python tools/plan_audit.py` (sf0.001 tables; explain",
        "is plan-only so the shape is scale-independent — AQE may further merge",
        "or skew-split shuffles at runtime). The design contract, asserted per",
        "commit by `tests/test_plans.py` and made legible here:",
        "",
        "- no data×data cross joins: never `CartesianProduct`; every pairing is",
        "  an equi-join on a derived key (band / bit-slice / L-gram / IVF cell /",
        "  ball-cover chunk), so candidate volume is bucket-bounded. The only",
        "  `BroadcastNestedLoopJoin`s allowed are argmin scans against a",
        "  broadcast k-row centroid table (O(n·k) map-side, k fixed) — marked",
        "  `BNLJ(vs broadcast k-row dim — bounded)` below",
        "- no row-at-a-time `BatchEvalPython` — Python appears only as",
        "  Arrow-batched `MapInPandas` / `ArrowEvalPython` kernels",
        "- `Exchange SinglePartition` only on O(small) tails (final top-k,",
        "  per-stage funnel counts, ≤32 combine blobs), never on data-sized rows",
        "- scans read only the projected columns and carry pushed filters",
        "",
        "| query | shuffles (hash/single) | joins | codegen spans | python nodes | scan cols | pushed filters | contract note |",
        "|---|---|---|---|---|---|---|---|",
    ]
    for name, a, note, err in rows:
        if err:
            lines.append(f"| `{name}` | — | — | — | — | — | — | {err} |")
            continue
        joins = ", ".join(a["joins"]) or "none"
        py = ", ".join(a["python"]) or "none"
        scan = "+".join(str(c) for c in a["scan_cols"]) or "synthetic"
        ex = f"{a['ex_hash']}/{a['ex_single']}" + (f" (+{a['ex_range']} range)" if a["ex_range"] else "")
        lines.append(
            f"| `{name}` | {ex} | {joins} | {a['codegen']} | {py} | {scan} | {a['pushed']} | {note} |"
        )
    lines += [
        "",
        f"Contract violations: {('NONE' if not bad else ', '.join(sorted(set(bad))))}.",
        "",
        "Reading notes: the trailing `(+1 range)` exchange on most rows is the",
        "final `orderBy` each driver query carries so the oracle harness gets a",
        "deterministic row order — it sorts the (small) RESULT, not the data.",
        "`codegen spans: 0` means AQE had not compiled the final plan at",
        "explain time (`isFinalPlan=false`); whole-stage codegen on the executed",
        "plans is asserted where load-bearing in `tests/test_plans.py`.",
        "`scan cols: synthetic` rows build their input with the deterministic",
        "generator instead of reading parquet.",
        "",
    ]
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")
    with open(out, "w") as f:
        f.write("\n".join(lines))
    print(f"wrote {out}; violations: {bad or 'none'}")


if __name__ == "__main__":
    main()
