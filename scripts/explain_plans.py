#!/usr/bin/env python
"""Dump physical plans for the headline queries into PLANS.md and flag
plan smells (nested-loop joins, missing pushdown, stray shuffles).

    python scripts/explain_plans.py [sf_dir]
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SMELLS = {
    "BroadcastNestedLoopJoin": "nested-loop join (missing equi-key?)",
    "CartesianProduct": "cartesian product",
}
GOOD = ["BroadcastHashJoin", "PushedFilters", "codegen id"]

# smells that are deliberate and scale-safe, with the justification
# rendered into PLANS.md instead of a flag
ALLOWED = {
    ("loop_pair_distance", "BroadcastNestedLoopJoin"): (
        "the FIXTURE's all-pairs enumeration: a chain_b > chain_a "
        "non-equi self-join over the distinct LOOP IDS only (hundreds of "
        "rows, not the fact table); the operator itself takes an explicit "
        "pairs DataFrame — production callers pre-filter pairs with a "
        "covering join (cap_join / rect bounds), as its docstring requires"
    ),
}

HEADLINE = [
    "tile_counts_l5",
    "tile_rollup",
    "cellunion_join",
    "pip_join",
    "cap_join",
    "knn",
    "edge_crossings",
    "knn_edges",
    "poly_intersection",
    "polyline_crossings",
    "closest_cell",
    "chain_interpolate",
    "builder_snap",
    "hausdorff",
    "poly_boolean_shared",
    "polyline_simplify",
    "polyline_alignment",
    "polyline_consensus",
    "polyline_clip_models",
    "img_phash_near_dup",
    "winding_build",
    "builder_snap_round",
    "polyline_self_crossings",
    "chain_centroids",
    "project_to_edges",
    "chain_pair_distance",
    "loop_validate",
    "loop_pair_distance",
    "rect_join",
    "tile_sample",
    "builder_snap_latlng",
    "loop_nesting",
    "polyline_simplify_disc",
    "polygon_validate",
    "knn_furthest",
    # round 4
    "hausdorff_pairs",
    "edge_crossings_all",
    "img_mosaic",
    "range_pairs",
    "dbscan",
    # round 4 session 4
    "face_segments",
    "edge_clip_faces",
    "edge_cells",
    "edge_clip_cells",
    "zonal_stats",
    "polygon_degeneracies",
    "img_dedup_dihedral",
    # shape_index's BFS rounds execute during plan construction
    # (eager localCheckpoint per subdivision round); the dumped plan is
    # the final per-level union over the checkpointed frontiers
    "shape_index",
    "shape_index_lookup",
    # round 4 session 5
    "cell_vector_codec",
    # round 4 session 6
    "webmercator_tiles",
    "loop_curvature",
    "point_vector_codec",
    "shape_measures",
    # round 4 session 7
    "edge_intersections",
    # round 4 session 8
    "cell_index_ranges",
    "cap_relations",
    "rect_algebra",
    # polyline_assembly: the star-contraction rounds execute during plan
    # construction (localCheckpoint per round, as for shape_index); the
    # dumped plan is the final per-chain applyInPandas over the
    # checkpointed component labels
    "polyline_assembly",
    # round 4 session 9
    # loop_assembly (grouped path): scan -> explode -> coords map ->
    # ONE exchange -> per-graph FlatMapGroupsInPandas; the edge fixture
    # is localCheckpointed, so the dumped plan reads the checkpoint
    "loop_assembly",
    "closed_set_normalize",
    "rect_hausdorff",
    "shape_reference_point",
    # streaming_tile_counts excluded: building its plan EXECUTES the
    # stream (awaitTermination inside the query fn)
    # round 4 session 11
    "label_lexicon",
    # polyline_walks: star-contraction rounds run during plan
    # construction (localCheckpoint per round, as for polyline_assembly);
    # the dumped plan is the per-component-bucket applyInPandas plus the
    # JVM-side trivial-edge anti-join arm
    "polyline_walks",
    "img_tile_dedup",
    "tile_distinct_hll",
    "tile_heavy_hitters",
    # round 4 session 12
    "tile_quantiles",
    # composite_regions: the (pair, mode) set-op applyInPandas and the
    # distinct-levels collect run during plan construction; the dumped
    # plan is the exploded-parents broadcast join + count
    "composite_regions",
    # round 5
    # polyline_walk_invariants: component labelling rounds run during
    # plan construction (localCheckpoint per round, as for
    # polyline_walks); the dumped plan is the witness/violation join
    "polyline_walk_invariants",
    "point_block_codec",
    "lax_polygon_layer",
    # shape_index_codec: the BFS rounds run during plan construction
    # (localCheckpoint per round, as for shape_index); the dumped plan
    # is the per-face codec applyInPandas over the posting union
    "shape_index_codec",
]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    import __spark_entry__ as entry
    from s2geometry_spark.sources.session import get_spark

    spark = get_spark("explain", cpus=8)
    qs = entry.queries()
    out = ["# PLANS — physical plans of the headline queries\n"]
    out.append(
        "Generated by `scripts/explain_plans.py` (explain mode `formatted`,\n"
        f"input `{sf_dir}`).  Reviewed for: broadcast joins on the small side,\n"
        "filter/column pushdown into the parquet scans, whole-stage codegen\n"
        "around the SQL tiling algebra, and absence of nested-loop joins.\n"
    )
    flags = []
    for name in HEADLINE:
        df = qs[name](spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        allowed_notes = []
        for smell, why in SMELLS.items():
            if smell in plan:
                justification = ALLOWED.get((name, smell))
                if justification:
                    allowed_notes.append(f"allowed {smell}: {justification}")
                else:
                    flags.append(f"{name}: {smell} ({why})")
        markers = [g for g in GOOD if g in plan]
        schemas = sorted(set(re.findall(r"ReadSchema: (struct<[^>]*>)", plan)))
        # the whole operator tree, without the per-node details below it
        tree = plan.split("\n\n")[0]
        out.append(f"## {name}\n\nmarkers: {', '.join(markers) or 'none'}")
        for note in allowed_notes:
            out.append(note)
        if schemas:
            out.append("scan columns (pruning): " + "; ".join(f"`{s}`" for s in schemas))
        out.append("")
        out.append("```\n" + tree + "\n```\n")
    out.append("## smell check\n")
    if flags:
        out.append("\n".join(f"* **{f}**" for f in flags) + "\n")
    else:
        out.append("No nested-loop joins or cartesian products in any plan.\n")
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("PLANS.md written;", ("FLAGS: " + "; ".join(flags)) if flags else "no smells")
    spark.stop()


if __name__ == "__main__":
    main()
