"""Geometric join operators from the reference's notebook prototypes.

- J3 zone-containment join (main.ipynb cell 2, CNIExtractorTemplateMatching
  .extract_from_zone): template zones (per-field x/y ranges) joined to
  blocks whose centroid falls inside the zone, scored by distance to the
  zone centre. Spark executes the containment predicate as a broadcast
  nested-loop join — fine because the zone table is tiny and broadcast.
- J4 directional band join (main.ipynb cell 0, find_value_by_proximity):
  value candidates strictly right of an anchor within a vertical band
  (1.5x anchor height) or below within 3x, same-line-right boosted 1.5x.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window


def zone_containment_join(
    blocks: DataFrame,
    zones: DataFrame,
    doc_col: str = "url",
    top_1: bool = True,
) -> DataFrame:
    """blocks(doc, idx, text, x, y) x zones(field, x1, x2, y1, y2)
    -> candidate (doc, field, idx, text, dist_score); top-1 per
    (doc, field) when top_1 (ref: min distance-to-zone-centre)."""
    j = blocks.join(
        F.broadcast(zones),
        (blocks["x"] >= zones["x1"]) & (blocks["x"] <= zones["x2"])
        & (blocks["y"] >= zones["y1"]) & (blocks["y"] <= zones["y2"]),
    )
    cx = (F.col("x1") + F.col("x2")) / 2
    cy = (F.col("y1") + F.col("y2")) / 2
    dist = F.sqrt((F.col("x") - cx) ** 2 + (F.col("y") - cy) ** 2)
    out = j.select(doc_col, "field", "idx", "text", dist.alias("dist"))
    if not top_1:
        return out
    w = Window.partitionBy(doc_col, "field").orderBy(F.asc("dist"), F.asc("idx"))
    return out.withColumn("rn", F.row_number().over(w)).where("rn = 1").drop("rn")


def band_join(
    anchors: DataFrame,
    values: DataFrame,
    doc_col: str = "url",
    anchor_h: float = 20.0,
) -> DataFrame:
    """Directional window binding (J4): per anchor, candidates right of
    it within 1.5*h vertically, or below within 3*h; same-line-right
    score boosted 1.5x; best per anchor by boosted score then idx."""
    a = anchors.select(
        F.col(doc_col).alias("_doc"), F.col("field"),
        F.col("x").alias("ax"), F.col("y").alias("ay"),
        F.col("idx").alias("a_idx"),
    )
    v = values.select(
        F.col(doc_col).alias("_doc"), F.col("idx").alias("v_idx"),
        F.col("text").alias("value"), F.col("score").alias("v_score"),
        F.col("x").alias("vx"), F.col("y").alias("vy"),
    )
    right_of = (F.col("vx") > F.col("ax")) & (
        F.abs(F.col("vy") - F.col("ay")) <= 1.5 * anchor_h
    )
    below = (F.col("vy") > F.col("ay")) & (
        (F.col("vy") - F.col("ay")) <= 3.0 * anchor_h
    )
    j = a.join(v, "_doc").where(
        (F.col("v_idx") != F.col("a_idx")) & (right_of | below)
    )
    boosted = F.when(right_of, F.col("v_score") * 1.5).otherwise(F.col("v_score"))
    w = Window.partitionBy("_doc", "field").orderBy(
        F.desc("boosted"), F.asc("v_idx")
    )
    return (
        j.withColumn("boosted", boosted)
        .withColumn("rn", F.row_number().over(w))
        .where("rn = 1")
        .select(F.col("_doc").alias(doc_col), "field", "value", "boosted")
    )


def estimate_transform(
    bounds: DataFrame, anchors: DataFrame, doc_col: str = "url"
) -> DataFrame:
    """Per-document geometric transform estimation (main.ipynb cell 2,
    estimate_transformation): offset/size from the document bounds plus a
    rotation angle from the first two anchor points — atan2(dy, dx)
    snapped to the nearest axis (|a| < pi/4 keeps a; |a - pi/2| < pi/4
    uses a - pi/2; anything else, or < 2 anchors, means no rotation).

    bounds: (doc, min_x, max_x, min_y, max_y) per document; anchors:
    (doc, idx, x, y) anchor hits.
    Pure column arithmetic — one url-keyed aggregation, no UDF."""
    import math

    w = Window.partitionBy(doc_col).orderBy(F.asc("idx"))
    a2 = anchors.withColumn("rn", F.row_number().over(w)).where("rn <= 2")
    piv = a2.groupBy(doc_col).agg(
        F.min(F.when(F.col("rn") == 1, F.col("x"))).alias("p1x"),
        F.min(F.when(F.col("rn") == 1, F.col("y"))).alias("p1y"),
        F.min(F.when(F.col("rn") == 2, F.col("x"))).alias("p2x"),
        F.min(F.when(F.col("rn") == 2, F.col("y"))).alias("p2y"),
        F.count(F.lit(1)).alias("n_anchors"),
    )
    angle = F.atan2(F.col("p2y") - F.col("p1y"), F.col("p2x") - F.col("p1x"))
    rotation = (
        F.when(F.col("n_anchors") < 2, F.lit(0.0))
        .when(F.abs(angle) < math.pi / 4, angle)
        .when(F.abs(angle - math.pi / 2) < math.pi / 4, angle - math.pi / 2)
        .otherwise(F.lit(0.0))
    )
    return (
        bounds.join(piv, doc_col, "left")
        .select(
            doc_col,
            F.col("min_x").alias("offset_x"),
            F.col("min_y").alias("offset_y"),
            (F.col("max_x") - F.col("min_x")).alias("width"),
            (F.col("max_y") - F.col("min_y")).alias("height"),
            F.coalesce(rotation, F.lit(0.0)).alias("rotation"),
        )
    )


def transformed_zone_join(
    blocks: DataFrame,
    zones: DataFrame,
    transform: DataFrame,
    doc_col: str = "url",
    margin: float = 0.2,
    top_1: bool = True,
    score_col: str | None = None,
) -> DataFrame:
    """J3 with transform alignment (main.ipynb extract_from_zone, exact
    semantics): the NORMALISED template zones (field, zx, zy, zw, zh in
    [0,1], optional `anchors` array<string>) are inverse-transformed
    into each document's image space (denormalise by width/height/
    offset, inverse-rotate about the document centre), the corner order
    is fixed up, and the zone is expanded by `margin`. Candidates are
    NON-EMPTY blocks whose centroid falls inside the expanded zone and
    that do not contain any of the zone's anchor words (case-
    insensitive substring); the best per (doc, field) maximises
    ocr_score * proximity, where proximity = 1 - dist/diagonal (1 when
    the zone is degenerate) — the reference's exact candidate ranking.
    Without `score_col` the ocr_score factor is 1 (rank by proximity).

    Join shape: blocks x transform is an equi-join on the doc id (the
    url-hash clustering is reused, no skew key); the tiny zone table is
    broadcast. All geometry is Catalyst arithmetic — no UDF."""
    j = blocks.join(transform, doc_col).join(F.broadcast(zones))
    cx = F.col("offset_x") + F.col("width") / 2
    cy = F.col("offset_y") + F.col("height") / 2
    cos_r = F.cos(-F.col("rotation"))
    sin_r = F.sin(-F.col("rotation"))

    def inv(zx, zy):  # template [0,1] -> image space, then inverse-rotate
        xa = zx * F.col("width") + F.col("offset_x")
        ya = zy * F.col("height") + F.col("offset_y")
        xr = cos_r * (xa - cx) - sin_r * (ya - cy) + cx
        yr = sin_r * (xa - cx) + cos_r * (ya - cy) + cy
        return xr, yr

    x1r, y1r = inv(F.col("zx"), F.col("zy"))
    x2r, y2r = inv(F.col("zx") + F.col("zw"), F.col("zy") + F.col("zh"))
    # Expand by margin FIRST (the reference computes centre/diagonal from
    # the expanded bounds; the centre is unchanged, the diagonal is not).
    mx = (F.greatest(x1r, x2r) - F.least(x1r, x2r)) * F.lit(margin)
    my = (F.greatest(y1r, y2r) - F.least(y1r, y2r)) * F.lit(margin)
    x1, x2 = F.least(x1r, x2r) - mx, F.greatest(x1r, x2r) + mx
    y1, y2 = F.least(y1r, y2r) - my, F.greatest(y1r, y2r) + my
    zcx, zcy = (x1 + x2) / 2, (y1 + y2) / 2
    dist = F.sqrt((F.col("x") - zcx) ** 2 + (F.col("y") - zcy) ** 2)
    diag = F.sqrt((x2 - x1) ** 2 + (y2 - y1) ** 2)
    proximity = F.when(diag > 0, F.lit(1.0) - dist / diag).otherwise(F.lit(1.0))
    ocr_score = F.col(score_col) if score_col else F.lit(1.0)
    is_anchor = (
        F.exists(
            F.coalesce(F.col("anchors"), F.array().cast("array<string>")),
            lambda a: F.instr(F.upper(F.col("text")), F.upper(a)) > 0,
        )
        if "anchors" in zones.columns
        else F.lit(False)
    )
    out = j.where(
        (F.length(F.trim("text")) > 0)
        & (F.col("x") >= x1) & (F.col("x") <= x2)
        & (F.col("y") >= y1) & (F.col("y") <= y2)
        & ~is_anchor
    ).select(
        doc_col, "field", "idx", F.trim("text").alias("text"),
        (ocr_score * proximity).alias("zscore"),
    )
    if not top_1:
        return out
    w = Window.partitionBy(doc_col, "field").orderBy(F.desc("zscore"), F.asc("idx"))
    return out.withColumn("rn", F.row_number().over(w)).where("rn = 1").drop("rn")
