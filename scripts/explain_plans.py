"""Dump formatted physical plans for the headline queries -> PLANS.md.

Audit goals (SURVEY §4): PushedFilters/ReadSchema reach the parquet scan,
small sides broadcast (BroadcastHashJoin), WholeStageCodegen spans wide,
no unexpected shuffles in the broadcast spatial paths.
"""

from __future__ import annotations

import re
import sys

sys.path.insert(0, ".")

from jpspark.queries import QUERIES  # noqa: E402
from jpspark.session import get_spark  # noqa: E402

AUDIT = [
    "geo_pip_join",       # expect: scan -> project -> mapInArrow -> hashagg (no join shuffle)
    "geo_knn",            # expect: scan -> project -> ONE mapInArrow; targets broadcast inside it, zero exchanges
    "geo_tile_assign",    # expect: pure codegen, partial+final agg
    "pricing_summary",    # expect: PushedFilters on l_shipdate, partial agg
    "fk_broadcast_join",  # expect: BroadcastHashJoin
    "range_join",         # expect: BroadcastNestedLoopJoin on interval predicate
    "left_anti",          # expect: broadcast anti join (AQE may pick)
    "ann_topk",           # expect: broadcast nested loop + window top-k
    "first_wins_dedup",   # expect: single shuffle for window
    # round 3: minhash_lsh_pairs became the superset AUDIT query; the band
    # exchange now rides inside minhash_verified_pairs (the pipeline)
    "minhash_verified_pairs",  # expect: band exchange carries (id, bucket) ONLY — no sig, band salted into the hash
    "embedding_neardup_lsh",  # expect: band exchange carries (id, bkey) ONLY — no vectors, band in the key's high bits
    # round 3 raster<->vector + tiling surface
    "raster_zonal_stats",  # expect: tile scan -> MapInArrow partials -> ONE small exchange
    "polygonize",          # expect: mapInArrow chain; exchanges never carry bytes/geom
    "mvt_tiles",           # expect: ONE tile-key exchange of (lon,lat,id); bytes born post-exchange
    "cell_compact",        # expect: distinct + ancestor-group exchanges, cell ids only
    "multimodal_curation", # expect: hamming-join exchanges carry (id, hash) — never image bytes
    "raster_histogram",    # expect: MapInArrow partials (≤256 rows/batch) -> one exchange
    "mvt_lines",           # expect: cover explode + ONE tile-key exchange; bytes post-exchange
    # round 4
    "asof_join",           # expect: union -> ONE key exchange -> window (the sort-merge asof)
    "bm25_score",          # expect: text never rides an exchange; df/avgdl broadcast
    "stratified_sample",   # expect: one stratum exchange; text pruned at the scan
    "dedup_cluster_keep",  # iterative CC: labels-only exchanges (plan dump; see COVERAGE.md)
    "percentiles_approx",  # expect: single partial+final agg, sketch map-side
    "knn_flag_guard",      # expect: disk-explode exchange carries (id, cell, lon, lat) only
    # round 5
    "grouping_sets",       # expect: Expand -> ONE exchange -> single agg (set selection is planner work)
    "window_functions",    # expect: ONE exchange + sort serves all four analytic functions
    "geo_pip_shuffle",     # cogroup plan: geometry rides ONCE per (polygon, salt) group, never per pair
    # round 6
    "overlay_intersection",  # expect: cell-cover pair exchange carries ids/cells; geometry re-joins per surviving pair
    "bpe_token_count",     # expect: scan -> Arrow-batched kernel projection; only the final orderBy exchanges
    "repetition_filter",   # expect: two-phase aggs per granularity; ReadSchema = doc_id+text only
    "lm_perplexity",       # expect: LM/ctx two-phase aggs; 1-row V broadcast; scoring join keyed on bigram
    "jis_mesh_rollup",     # expect: codegen encode straight off the scan -> ONE two-phase agg exchange
    "substring_dedup",     # expect: gram/freq exchanges carry (id, s, md5) — raw text/word arrays never shuffle
    "image_channel_stats", # expect: bytes stay inside the two mapInPandas chains; joins exchange sums only
    "geo_snap_road",       # expect: BroadcastExchange of segments; ONE hash exchange (per-point window)
    "track_stats",         # expect: ONE hash exchange serves the track window AND the same-key agg
    "bucketed_join",       # expect: bucketed scans -> SMJ -> same-key agg, ZERO hash exchanges
    "kde_heatmap",         # expect: cell-key exchange AFTER partial agg; offsets broadcast; explode on aggregated cells only
    "stay_points",         # expect: ONE hash exchange serves track_steps window + seg window + same-key agg
    "inverted_index",      # expect: distinct + token aggs two-phase; text pruned before any exchange
    "image_augment",       # expect: bytes stay inside the mapInPandas; only the final orderBy exchanges sums
    "od_matrix",           # expect: min_by/max_by endpoint agg + cell-pair agg, both two-phase (no window, no sort)
    "ngram_topk",          # expect: codegen bigram explode -> ONE two-phase count exchange -> TakeOrdered (no range exchange)
    "convex_hull_groups",  # expect: mapInPandas partials (zero point shuffle) -> ONE candidate exchange for the final merge
    "hausdorff_tracks",    # expect: broadcast pair join over the cached pairs; 2 directed aggs + symmetric join = 4 keyed exchanges
    "geo_image_zonal",     # expect: bytes stay inside the channel_sums kernel; joins/aggs exchange sums + ids only
    "grid_dbscan",         # iterative CC over core cells: labels-only exchanges (plan dump; see COVERAGE.md)
]


def audit_no_heavy_exchange(plan: str, markers: tuple[str, ...]) -> str:
    """Assert NO exchange (shuffle or broadcast) carries any of the heavy
    payload columns — image bytes and WKB must be born/consumed on the
    map side, never ride a shuffle."""
    blocks = plan.split("\n\n")
    n = 0
    for b in blocks:
        head = b.splitlines()[0] if b.splitlines() else ""
        if ") Exchange" in head or ") BroadcastExchange" in head:
            n += 1
            for m in markers:
                assert f"{m}#" not in b, f"heavy column {m} rides an exchange:\n{b}"
    return (
        f"AUDIT: {n} exchange(s), none carries {'/'.join(markers)} — "
        "payload stays map-side. PASS"
    )


def band_exchanges(plan: str, key_col: str, id_cols=("id_a", "id_b")) -> list[list[str]]:
    """Input column names of every band-join exchange in a formatted
    plan. A band exchange moves one explode leg of the LSH self-join: it
    carries the band key and the id column of exactly ONE side. Exchanges
    after the join (pair dedup, payload re-joins) carry both sides' ids,
    so a key or payload column riding one of them is not counted here.
    Both physical strategies count: BroadcastExchange (small side at test
    SF) and shuffle Exchange (hashpartitioning at scale / AQE)."""
    out = []
    for b in plan.split("\n\n"):
        lines = b.splitlines()
        if not lines or not (") Exchange" in lines[0] or ") BroadcastExchange" in lines[0]):
            continue
        inp = next((ln for ln in lines if ln.startswith("Input [")), "")
        cols = re.findall(r"(\w+)#\d+", inp)
        if key_col in cols and sum(c in cols for c in id_cols) == 1:
            out.append(cols)
    return out


def audit_band_exchange(plan: str, heavy_marker: str, key_col: str) -> str:
    """Assert the band-join exchanges don't carry the heavy payload column
    (VERDICT r01 item 4: 16x signature shuffle weight), and that the band
    index is folded INTO the single key column (round 7) rather than
    riding as its own column. Returns a comment line for PLANS.md."""
    found = band_exchanges(plan, key_col)
    assert found, "no band exchange found in plan"
    for cols in found:
        assert not any(heavy_marker in c for c in cols), (
            f"{heavy_marker} rides the band exchange: {cols}"
        )
        assert "band" not in cols, f"separate band column rides the band exchange: {cols}"
    return (
        f"AUDIT: {len(found)} band exchange(s) carry (id, {key_col}) only — "
        f"band index folded into the key; {heavy_marker}* re-joins after pair dedup. PASS"
    )


BAND_AUDITS = {
    "minhash_verified_pairs": ("sig", "bucket"),
    "embedding_neardup_lsh": ("embedding", "bkey"),
}

def audit_single_shuffle(plan: str, max_shuffles: int = 1) -> str:
    """Assert the plan has at most N shuffle Exchanges (broadcasts don't
    count) — the asof window pass must be ONE keyed exchange, not a
    range-join explosion."""
    blocks = plan.split("\n\n")
    n = sum(
        1
        for b in blocks
        if b.splitlines() and ") Exchange" in b.splitlines()[0] and "hashpartitioning" in b
    )
    assert n <= max_shuffles, f"{n} shuffle exchanges (expected <= {max_shuffles})"
    return f"AUDIT: {n} shuffle exchange(s) (<= {max_shuffles}) — single keyed pass. PASS"


SINGLE_SHUFFLE_AUDITS = {
    # the kNN query side never shuffles: the target index is a Python
    # broadcast read inside the one mapInArrow
    "geo_knn": 0,
    "asof_join": 1,
    "grouping_sets": 1,
    "window_functions": 1,
    # round 6: segments broadcast; the fact side's only hash exchange is
    # the per-point top-1 window — the second allowed exchange is the
    # segment-BUILD window (lead + running m_offset) on the tiny network
    # side before it broadcasts
    "geo_snap_road": 2,
    # round 6: the track window's exchange also serves the per-track agg
    "track_stats": 1,
    # round 6: the whole point — bucketed layout, zero hash exchanges
    "bucketed_join": 0,
    # round 6: the track-key exchange serves the step window, the
    # segment-id window AND the (key, seg) agg (key-prefix clustering)
    "stay_points": 1,
    # round 6: histogram agg + stencil re-agg; offsets broadcast; the
    # explode fans out aggregated cells only
    "kde_heatmap": 2,
    # round 6: the cached (token, doc) distinct + df count + the
    # under-cap semi-join repartition + the collect_list agg (the
    # buffer-bounding two-pass shape); the final join reuses token
    # partitioning and the persisted pairs frame computes once
    "inverted_index": 4,
    # round 6: the track-key endpoint agg + the cell-pair agg, both
    # two-phase (min_by/max_by partials collapse tracks map-side)
    "od_matrix": 2,
    # round 6: one two-phase count exchange; the global top-20 is
    # TakeOrderedAndProject, not a range exchange
    "ngram_topk": 1,
    # round 6: raw points never shuffle (mapInPandas partials); the only
    # exchange carries per-partition hull candidates to the final merge
    "convex_hull_groups": 1,
    # round 6: the point-pair join is a BROADCAST nested loop over the
    # cached pairs (no hash exchange of points); the two directed
    # min/max aggs + the symmetric-result join are 4 keyed exchanges of
    # fixed-width ints
    "hausdorff_tracks": 4,
}

NO_HEAVY_AUDITS = {
    "raster_zonal_stats": ("bytes",),
    "polygonize": ("bytes", "geom"),
    "mvt_tiles": ("bytes",),
    "multimodal_curation": ("bytes",),
    "raster_histogram": ("bytes",),
    # mvt_lines: WKB legitimately rides the tile-key exchange (clipping
    # happens per tile); the produced blob must not re-shuffle
    "mvt_lines": ("bytes",),
    # round 4: document text must be pruned before any exchange
    "bm25_score": ("text",),
    "stratified_sample": ("text",),
    # round 6: raw text and the split word array must stay map-side;
    # only (id, s, md5) anchors and (id, s, e) spans may exchange
    "substring_dedup": ("text", "_w"),
    # round 6: image bytes live inside the mapInPandas chains only
    "image_channel_stats": ("bytes",),
    # round 6: augmented blobs are born and dropped inside the kernel;
    # the orderBy exchanges fixed-width sums only
    "image_augment": ("bytes",),
    # round 6: raw text pruned before the (token, doc) distinct exchange
    "inverted_index": ("text",),
    # round 6: image bytes never leave the channel_sums kernel
    "geo_image_zonal": ("bytes",),
}


def main():
    spark = get_spark("plan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    sf = "/root/testdata/sf0.01"
    out = ["# PLANS.md — physical-plan audit (generated by scripts/explain_plans.py)", ""]
    from jpspark.ops.bucketing import physical_plan

    for name in AUDIT:
        df = QUERIES[name](spark, sf)
        plan = physical_plan(df)
        out += [f"## {name}", ""]
        if name in BAND_AUDITS:
            heavy, key = BAND_AUDITS[name]
            out += [audit_band_exchange(plan, heavy, key), ""]
        if name in NO_HEAVY_AUDITS:
            out += [audit_no_heavy_exchange(plan, NO_HEAVY_AUDITS[name]), ""]
        if name in SINGLE_SHUFFLE_AUDITS:
            out += [audit_single_shuffle(plan, SINGLE_SHUFFLE_AUDITS[name]), ""]
        out += ["```", plan.strip(), "```", ""]
    with open("PLANS.md", "w") as f:
        f.write("\n".join(out))
    print("wrote PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
