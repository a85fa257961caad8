"""Distributed exact quantiles via histogram rank localization.

Spark's exact ``percentile`` aggregate builds a value->count OpenHashMap
per partition and merges them in one final task — O(|distinct|) state on
one core, the dominant cost when values are mostly distinct (583k/600k for
lineitem prices; measured ~4.5 s at sf0.1 against <1 s for a codegen hash
agg over the same scan).

The scale path used here instead:

1. one codegen agg -> (n, min, max);
2. one codegen hash agg -> row counts over ``n_buckets`` fixed-width value
   buckets (bounded shuffle: at most ``n_buckets`` rows whatever the data
   size);
3. driver-side prefix sums over the bucket histogram locate, for every
   requested percentile, the two global ranks that Spark's interpolation
   formula needs, and the bucket each rank falls in (metadata-sized work:
   <= n_buckets longs — loop control, not a data collect);
4. one final filtered scan fetches ONLY the needed buckets (expected
   n/n_buckets rows each) and the exact order statistics are read off the
   sorted in-bucket values.

Interpolation replicates ``Percentile.getPercentile`` exactly —
``lower + (higher - lower) * (position - floor(position))`` on the same
IEEE doubles — so results are bit-identical to the built-in aggregate
(asserted in tests at two scale factors against ``F.percentile`` itself).

Skew guard: with pathological value skew a needed bucket can still be
huge (every row the same price). ``max_fetch`` bounds the final fetch;
past it the function falls back to the built-in aggregate, trading the
known single-merge cost for unconditional correctness. The fetch itself
is Arrow-batched (``toArrow`` into a numpy array, ~12 bytes/row at the
1M default — a couple dozen MB against the default 1g
``spark.driver.maxResultSize``), never a collect() of Python Row
objects whose ~100x per-row overhead would balloon the driver long
before the row-count guard tripped.
"""

from __future__ import annotations

import math

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def exact_quantiles(
    df: DataFrame,
    col: str,
    pcts: list[float],
    n_buckets: int = 65536,
    max_fetch: int = 1_000_000,
) -> list[float]:
    """Exact interpolated quantiles of ``df[col]`` (nulls ignored),
    bit-identical to ``percentile(col, array(pcts))``."""
    vals = df.select(F.col(col).alias("v")).filter(F.col("v").isNotNull())
    n, lo, hi, any_nan = vals.agg(
        F.count("v"),
        F.min("v").cast("double"),
        F.max("v").cast("double"),
        F.max(F.isnan(F.col("v").cast("double"))),
    ).collect()[0]
    if n == 0:
        return [None for _ in pcts]
    if any_nan or math.isinf(lo) or math.isinf(hi):
        # NaN sorts greatest in the built-in percentile but has no
        # histogram bucket ((v-lo)/width is NaN), and an infinite bound
        # poisons the bucket width the same way — delegate these
        # pathological columns to the built-in aggregate outright
        ps = ", ".join(repr(p) for p in pcts)
        return list(
            vals.agg(F.expr(f"percentile(v, array({ps}))")).collect()[0][0]
        )
    if n == 1 or lo == hi:
        return [lo for _ in pcts]

    width = (hi - lo) / n_buckets
    bucket = F.least(
        F.lit(n_buckets - 1),
        F.greatest(
            F.lit(0), F.floor((F.col("v").cast("double") - lo) / width)
        ),
    ).cast("int")
    hist = dict(
        vals.groupBy(bucket.alias("b")).agg(F.count("*").alias("c")).collect()
    )

    # positions/ranks exactly as Percentile.getPercentile computes them
    positions = [p * (n - 1) for p in pcts]
    ranks = sorted(
        {int(math.floor(pos)) for pos in positions}
        | {int(math.ceil(pos)) for pos in positions}
    )

    # prefix-sum walk: global rank -> (bucket, offset inside bucket)
    rank_loc: dict[int, tuple[int, int]] = {}
    cum = 0
    it = iter(ranks)
    want = next(it, None)
    for b in sorted(hist):
        c = hist[b]
        while want is not None and want < cum + c:
            rank_loc[want] = (b, want - cum)
            want = next(it, None)
        cum += c
    assert want is None, "rank localization exhausted histogram early"

    needed = {b for b, _ in rank_loc.values()}
    if sum(hist[b] for b in needed) > max_fetch:
        # pathological skew: fall back to the built-in aggregate
        ps = ", ".join(repr(p) for p in pcts)
        return list(
            vals.agg(F.expr(f"percentile(v, array({ps}))")).collect()[0][0]
        )

    # Arrow-batched fetch: double conversion here is the same conversion
    # the built-in percentile's interpolation applies, and it is monotone,
    # so in-bucket rank selection is unchanged. ``toArrow`` is Arrow
    # whatever the session's ``arrow.pyspark.enabled`` says.
    pdf = (
        vals.select(F.col("v").cast("double").alias("v"), bucket.alias("b"))
        .filter(F.col("b").isin([int(b) for b in needed]))
        .toArrow()
        .to_pandas()
    )
    by_bucket: dict[int, np.ndarray] = {
        int(b): np.sort(g["v"].to_numpy()) for b, g in pdf.groupby("b")
    }

    def value_at(rank: int) -> float:
        b, off = rank_loc[rank]
        return float(by_bucket[b][off])

    out = []
    for pos in positions:
        lower = int(math.floor(pos))
        higher = int(math.ceil(pos))
        lv = value_at(lower)
        if higher == lower:
            out.append(lv)
        else:
            hv = value_at(higher)
            # EXACT Spark formula (Percentile.getPercentile): the
            # symmetric lerp, NOT lv + (hv-lv)*frac — the two differ in
            # the last ulp and the bit-identity contract needs this one.
            out.append((higher - pos) * lv + (pos - lower) * hv)
    return out
