"""J3 zone-containment join, J4 band join, J3 transformed zone join."""

import pyspark.sql.functions as F

from ocr_poc_spark.operators.zones import band_join, zone_containment_join


def _blocks(spark):
    rows = [
        # url, idx, text, score, x, y
        ("u1", 0, "Header Text", 0.9, 100.0, 10.0),
        ("u1", 1, "Name Value", 0.9, 100.0, 60.0),
        ("u1", 2, "Far Away", 0.9, 500.0, 500.0),
        ("u2", 0, "Other Doc", 0.9, 110.0, 55.0),
    ]
    return spark.createDataFrame(
        rows, "url string, idx int, text string, score double, x double, y double"
    )


def test_zone_containment_join(spark):
    zones = spark.createDataFrame(
        [("header", 0.0, 200.0, 0.0, 30.0), ("name", 0.0, 200.0, 40.0, 80.0)],
        "field string, x1 double, x2 double, y1 double, y2 double",
    )
    out = {(r["url"], r["field"]): r["text"] for r in zone_containment_join(_blocks(spark), zones).collect()}
    assert out[("u1", "header")] == "Header Text"
    assert out[("u1", "name")] == "Name Value"
    assert out[("u2", "name")] == "Other Doc"
    assert ("u1", "far") not in out


def test_band_join(spark):
    anchors = spark.createDataFrame(
        [("u1", 0, "label", 100.0, 50.0)],
        "url string, idx int, field string, x double, y double",
    ).select("url", "idx", F.lit("name").alias("field"), "x", "y")
    values = spark.createDataFrame(
        [
            ("u1", 1, "right same line", 0.8, 180.0, 55.0),   # right, boosted
            ("u1", 2, "below", 0.9, 100.0, 90.0),             # below, not boosted
            ("u1", 3, "too far below", 1.0, 100.0, 200.0),    # outside 3x band
        ],
        "url string, idx int, text string, score double, x double, y double",
    )
    out = band_join(anchors, values).collect()
    assert len(out) == 1
    # right-of boost: 0.8*1.5 = 1.2 > 0.9
    assert out[0]["value"] == "right same line" and abs(out[0]["boosted"] - 1.2) < 1e-9


def test_transformed_zone_join_recovers_rotation(spark):
    """J3 transform estimation (main.ipynb estimate_transformation /
    extract_from_zone): a document whose layout is rotated about its
    centre must still bind the normalised template zones after the
    anchor-derived rotation estimate; an unrotated doc binds trivially
    with rotation == 0."""
    import math

    from ocr_poc_spark.operators.zones import (
        estimate_transform,
        transformed_zone_join,
    )

    def rot(px, py, cx, cy, a):
        c, s = math.cos(a), math.sin(a)
        return (c * (px - cx) - s * (py - cy) + cx,
                s * (px - cx) + c * (py - cy) + cy)

    # Unrotated layout (y down): title strip on top, footer at bottom,
    # two horizontally-collinear anchor points mid-page.
    layout = {
        "title": (100.0, 20.0), "footer": (100.0, 180.0),
        "a1": (20.0, 100.0), "a2": (180.0, 100.0),
    }
    alpha = -0.15  # the reference prototype's rotation convention
    rows, anchor_rows = [], []
    for url, a in (("plain", 0.0), ("rotated", alpha)):
        for idx, (name, (x, y)) in enumerate(sorted(layout.items())):
            rx, ry = rot(x, y, 100.0, 100.0, a)
            rows.append((url, idx, name, rx, ry))
            if name.startswith("a"):
                anchor_rows.append((url, idx, rx, ry))
    blocks = spark.createDataFrame(
        rows, "url string, idx int, text string, x double, y double"
    )
    anchors = spark.createDataFrame(
        anchor_rows, "url string, idx int, x double, y double"
    )
    parsed_like = blocks.groupBy("url").agg(
        F.collect_list(F.struct("x", "y")).alias("blocks")
    )
    bounds = parsed_like.select(
        "url",
        F.array_min(F.transform("blocks", lambda b: b["x"])).alias("min_x"),
        F.array_max(F.transform("blocks", lambda b: b["x"])).alias("max_x"),
        F.array_min(F.transform("blocks", lambda b: b["y"])).alias("min_y"),
        F.array_max(F.transform("blocks", lambda b: b["y"])).alias("max_y"),
    )
    tr = estimate_transform(bounds, anchors)
    got_rot = {r["url"]: r["rotation"] for r in tr.collect()}
    assert got_rot["plain"] == 0.0
    assert abs(got_rot["rotated"] - alpha) < 1e-9

    zones = spark.createDataFrame(
        [("title", 0.0, 0.0, 1.0, 0.25), ("footer", 0.0, 0.75, 1.0, 0.25)],
        "field string, zx double, zy double, zw double, zh double",
    )
    out = {
        (r["url"], r["field"]): r["text"]
        for r in transformed_zone_join(blocks, zones, tr).collect()
    }
    for url in ("plain", "rotated"):
        assert out[(url, "title")] == "title", out
        assert out[(url, "footer")] == "footer", out
