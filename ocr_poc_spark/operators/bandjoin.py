"""Skew-bounded interval band join (J2-style proximity binding).

A band join `L join R on key where R.ts in (L.ts, L.ts + band]` keyed
on `key` alone funnels EVERY row of a hot key through one shuffle
partition — one user owning 10% of the events means one reducer doing
10% of the quadratic pair work. Adding a coarse time bucket to the
equi-key bounds each join group to (key, band-window) counts instead:
the right side keeps its single bucket floor(ts/band); the left side
explodes to the only two candidate buckets that can contain a match
(floor(ts/band) and floor(ts/band)+1). Every true pair matches in
exactly one bucket, so the output is identical to the unbucketed join
(tests assert equality on a 10%-hot-user fixture) while the per-key
group size drops from |key| to |key ∩ window|.

This is the scale path for the reference's proximity-binding heuristic
(/root/reference/ocr/extractors/cni_extractor_18_f.py:293-351) applied
to event streams.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


def time_banded_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_us: str,
    right_us: str,
    band_us: int,
) -> DataFrame:
    """Pairs (left x right) with right_us in (left_us, left_us + band_us],
    joined on (key, coarse bucket) — same rows as the key-only join, with
    bounded per-group sizes. Column sets of left/right must be disjoint
    apart from `key`."""
    lb = F.floor(F.col(left_us) / F.lit(band_us))
    l_exploded = left.withColumn(
        "_bkt", F.explode(F.array(lb.cast("long"), (lb + 1).cast("long")))
    )
    r_bucketed = right.withColumn(
        "_bkt", F.floor(F.col(right_us) / F.lit(band_us)).cast("long")
    )
    return (
        l_exploded.join(r_bucketed, [key, "_bkt"])
        .where(
            (F.col(right_us) > F.col(left_us))
            & (F.col(right_us) <= F.col(left_us) + F.lit(band_us))
        )
        .drop("_bkt")
    )


def abs_banded_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_us: str,
    right_us: str,
    band_us: int,
) -> DataFrame:
    """Two-sided variant: pairs with |right_us - left_us| <= band_us,
    joined on (key, coarse bucket) — identical rows to the key-only
    join + abs-filter, with the same skew bound as time_banded_join.
    The left side explodes into the three candidate buckets that can
    contain a match (floor(ts/band) - 1 .. + 1); the right side keeps
    its single bucket, so every true pair still matches in exactly one
    bucket and no pair dedup is needed. Column sets of left/right must
    be disjoint apart from `key`."""
    lb = F.floor(F.col(left_us) / F.lit(band_us))
    l_exploded = left.withColumn(
        "_bkt",
        F.explode(
            F.array(
                (lb - 1).cast("long"), lb.cast("long"), (lb + 1).cast("long")
            )
        ),
    )
    r_bucketed = right.withColumn(
        "_bkt", F.floor(F.col(right_us) / F.lit(band_us)).cast("long")
    )
    return (
        l_exploded.join(r_bucketed, [key, "_bkt"])
        .where(F.abs(F.col(right_us) - F.col(left_us)) <= F.lit(band_us))
        .drop("_bkt")
    )
