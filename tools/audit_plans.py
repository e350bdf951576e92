"""Physical-plan audit: capture `.explain(formatted)` evidence for the
headline queries into PLANS.md.

Checks the properties the engine's scale story depends on and records
them next to each plan so they are reviewable:
- scans prune columns (ReadSchema) and push filters (PushedFilters);
- joins pick the intended strategy (BroadcastHashJoin for the polygon
  build / dimension joins, ShuffledHashJoin for the distance join — no
  accidental SortMergeJoin or CartesianProduct in the hot path);
- WholeStageCodegen covers the JVM-side pipeline;
- AQE is active on shuffle queries.
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def summarize(plan: str) -> list[str]:
    out = []
    if m := re.findall(r"PushedFilters: \[([^\]]*)\]", plan):
        nonempty = [x for x in m if x.strip()]
        out.append(f"pushed filters: {len(nonempty)} scan(s) with pushdown")
    for marker in (
        "BroadcastHashJoin",
        "ShuffledHashJoin",
        "SortMergeJoin",
        "CartesianProduct",
        "BroadcastNestedLoopJoin",
    ):
        n = plan.count(marker)
        if n:
            out.append(f"{marker}: {n}")
    n_wsc = len(set(re.findall(r"codegen id : (\d+)", plan)))
    if n_wsc:
        out.append(f"WholeStageCodegen spans: {n_wsc}")
    if "AdaptiveSparkPlan" in plan:
        out.append("AQE: on")
    if m := re.findall(r"ReadSchema: struct<([^>]*)>", plan):
        cols = min(len(x.split(",")) for x in m if x)
        out.append(f"narrowest scan reads {cols} column(s)")
    return out


def main():
    import __spark_entry__ as entry
    from geowave_spark.session import get_spark

    spark = get_spark("audit")
    qs = entry.queries()
    targets = [
        "spatial_range_query",     # pushdown to the parquet scan
        "spatial_distance_join",   # shuffled hash join, no sort-merge
        "spatial_pip_join",        # map-side only (no join operator at all)
        "agg_pricing_summary",     # codegen hash aggregate
        "temporal_event_rollup",   # timestamp pushdown
        "embedding_topk",          # broadcast of the small query side
        "window_top_order_per_cust",
        "xz_range_query",          # xz BETWEEN pruning predicates
        "spatial_kde",             # CRS reprojection fused into binning codegen
        "spatial_line_distance_join",  # line envelopes through the tiered join
        "kmeans_hulls",            # deterministic Lloyd iterations
        "spatial_crosses_join",    # DE-9IM fine filter over the coarse cell phase
        "tile_assignment",         # zero-shuffle per-image lattice gather
        "minhash_neardup",         # id-only band-key pair kernel, no dedupe exchange
        "cosine_neardup",          # same kernel; vectors fetched by id for candidates
        "phash_neardup",           # dedupe → multi-index band join → size join-back
        "spatial_distance_join_bucketed",  # one Exchange total: probe scans buckets
    ]
    lines = [
        "# PLANS.md — physical-plan audit of headline queries",
        "",
        f"`df.explain('formatted')` at sf_dir={SF_DIR}; summaries extracted",
        "by tools/audit_plans.py (re-run it to refresh).",
        "",
    ]
    for name in targets:
        df = qs[name](spark, SF_DIR)
        plan = plan_of(df)
        lines.append(f"## {name}")
        lines.append("")
        for s in summarize(plan):
            lines.append(f"- {s}")
        lines.append("")
        lines.append("<details><summary>full plan</summary>")
        lines.append("")
        lines.append("```")
        lines.append(plan.strip()[:12000])
        lines.append("```")
        lines.append("</details>")
        lines.append("")
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    # hand-maintained sections (non-driver-query plans like the bucketed
    # join, plus design notes) survive regeneration via the appendix
    appendix = os.path.join(root, "tools", "plans_appendix.md")
    if os.path.exists(appendix):
        with open(appendix) as f:
            content = f.read()
        lines.append(content.split("\n", 1)[1].lstrip("\n"))  # drop its H1
    with open(os.path.join(root, "PLANS.md"), "w") as f:
        f.write("\n".join(lines) + "\n")
    print("wrote PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
