"""Distributed prefix sums: ranks and running sums without a global sort.

A single ``ORDER BY`` window funnels every row through one task. Every
rank, ECDF, cumulative share and order statistic in the package runs
the same scale-safe decomposition instead:

1. range-bucket the ascending double key ``_k`` into a DATA-PROPORTIONAL
   number of buckets (ceil(n / PREFIX_TARGET_ROWS), floor 16) with
   fences from a percentile sketch of ``_k`` itself (`rank_buckets`);
2. per-bucket weight totals;
3. exclusive running offsets over the small bucket frame;
4. an in-bucket running window plus the bucket's offset.

The bucket test is ``_k > fence``, monotone in ``_k``, so equal keys
always share a bucket and bucket order refines the global order for ANY
fence values: fence placement only affects bucket balance, never a
result. No in-bucket window task sees more than ~PREFIX_TARGET_ROWS
rows at any input size.
"""

from __future__ import annotations

import math
import re

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .cache import retain

PREFIX_TARGET_ROWS = 4_000_000   # cap on rows one in-bucket window task sees
PREFIX_MAX_FENCES = 1024         # per-level fence ceiling (per-row test cost)
PROBE_FENCES = 64                # fused-probe sketch resolution: covers
                                 # nb <= 64 (256M rows at the 4M target)
                                 # in one cheap job; larger inputs pay a
                                 # second exact-resolution sketch


def _n_buckets(n: int) -> int:
    return max(16, math.ceil(n / PREFIX_TARGET_ROWS))


def _sketch(m: int) -> Column:
    """approx_percentile of ``_k`` at the m-1 interior fences i/m. The
    accuracy floor of 10000 (the engine default) is what a 63-point
    probe needs; finer fence sets scale it so adjacent fences stay
    resolvable."""
    pcts = ",".join(str(i / m) for i in range(1, m))
    return F.expr(f"approx_percentile(_k, array({pcts}), "
                  f"{max(10000, m * 64)})")


def _fence_count(fences: list[float]) -> Column:
    """Bucket id = number of literal fences strictly below ``_k``. An
    UNROLLED sum of comparisons, not a size(filter(...)) fold: a
    lambda-bearing column used as both a grouping key and a join key
    trips Catalyst attribute binding (INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND
    when the higher-order function is inlined across the self-join),
    and the unrolled form codegens to the same comparison count."""
    b = F.lit(0)
    for p in fences:
        b = b + (F.col("_k") > F.lit(p)).cast("int")
    return b


def _collect_fences(df: DataFrame, m: int) -> list[float]:
    """One sketch job at m fences, collected to driver literals: the
    bucketed frame feeds several plan branches, and a re-evaluated
    approx_percentile is not guaranteed to reproduce — literals pin
    one fence set."""
    fa = df.agg(_sketch(m).alias("_fa")).collect()[0]["_fa"]
    return [float(x) for x in (fa or []) if x is not None]


def _subsample_fences(fa, m: int) -> list[float]:
    """m-1 monotone cut points from a fixed-resolution percentile
    sketch: index round-down mapping of i/m onto the sketch grid.
    Any monotone subsample is a VALID fence set (equal keys share a
    bucket via the > test; placement affects balance only), so no
    divisibility between m and the sketch resolution is required."""
    vals = [float(x) for x in (fa or []) if x is not None]
    if not vals or m <= 1:
        return []
    k = len(vals) + 1
    out = []
    for i in range(1, m):
        idx = max(0, min(len(vals) - 1, (i * k) // m - 1))
        out.append(vals[idx])
    return out


def rank_buckets(df: DataFrame) -> DataFrame:
    """Append an int bucket id ``bkt``, monotone in ``df``'s double
    column ``_k``, with ceil(n / PREFIX_TARGET_ROWS) buckets (floor 16).

    One probe job collects the row count (which sizes the bucket count)
    and a PROBE_FENCES-point sketch, subsampled to the bucket count —
    enough for every input up to PROBE_FENCES · PREFIX_TARGET_ROWS
    rows. Bigger inputs pay one more sketch at the exact resolution.
    Past PREFIX_MAX_FENCES buckets the decomposition recurses one level:
    coarse literal fences split the axis ~sqrt(nb) ways, then ONE
    grouped sketch per coarse bucket (broadcast back) refines to nb
    total, so the per-row test stays O(sqrt(nb)) comparisons.

    ``df`` must be retained by the caller: the probe is its first
    action and the bucket pipeline re-reads it."""
    row = df.agg(F.count(F.lit(1)).alias("n"),
                 _sketch(PROBE_FENCES).alias("_fa")).collect()[0]
    nb = _n_buckets(int(row["n"] or 0))
    if nb <= PROBE_FENCES:
        return df.withColumn(
            "bkt", _fence_count(_subsample_fences(row["_fa"], nb)))
    if nb <= PREFIX_MAX_FENCES:
        return df.withColumn("bkt", _fence_count(_collect_fences(df, nb)))
    nb1 = min(PREFIX_MAX_FENCES, math.ceil(math.sqrt(nb)))
    nb2 = math.ceil(nb / nb1)
    lvl1 = df.withColumn("_b1", _fence_count(_collect_fences(df, nb1)))
    # level-2 fences stay distributed (nb1·nb2 doubles): one grouped
    # sketch evaluated once, broadcast back keyed on the level-1 id
    fences2 = lvl1.groupBy("_b1").agg(_sketch(nb2).alias("_fb"))
    return (lvl1.join(F.broadcast(fences2), "_b1")
            .withColumn("bkt", F.col("_b1") * nb2 + F.size(F.filter(
                "_fb", lambda x: F.col("_k") > x)))
            .drop("_fb", "_b1"))


def prefix_sums(df: DataFrame, order: list,
                weights: dict[str, Column], *groups: str) -> DataFrame:
    """Running sums of each weight along ``_k`` (within ``groups``).

    ``order`` is the in-bucket window order; it must be consistent with
    ascending ``_k`` (ties in ``_k`` may be broken any way). For every
    ``name → weight`` the result carries ``name``, the INCLUSIVE running
    sum in (groups, order) order, and ``name_tot``, the weight's total
    (per group). A rank is the running sum of ``F.lit(1)``; an
    exclusive sum is ``name`` minus the weight. Every other column of
    ``df`` passes through.

    Ungrouped, ``df`` is bucketed here by `rank_buckets` (so it must be
    retained). Grouped, ``df`` arrives with ``bkt`` already assigned
    per group (`_grouped_rank_min_multi`'s per-group fence arrays)."""
    b = df if groups else rank_buckets(df)
    keys = [*groups, "bkt"]
    bt = b.groupBy(*keys).agg(
        *[F.sum(w).alias(f"_bw_{name}") for name, w in weights.items()])
    wb = Window.partitionBy(*groups).orderBy("bkt")
    before = wb.rowsBetween(Window.unboundedPreceding, -1)
    whole = wb.rowsBetween(Window.unboundedPreceding,
                           Window.unboundedFollowing)
    offs = bt.select(
        *keys,
        *[F.coalesce(F.sum(f"_bw_{name}").over(before), F.lit(0))
          .alias(f"_off_{name}") for name in weights],
        *[F.sum(f"_bw_{name}").over(whole).alias(f"{name}_tot")
          for name in weights])
    run = (Window.partitionBy(*keys).orderBy(*order)
           .rowsBetween(Window.unboundedPreceding, 0))
    return (b.join(F.broadcast(offs), keys)
            .select(*[c for c in b.columns if c != "bkt"],
                    *[(F.sum(w).over(run) + F.col(f"_off_{name}"))
                      .alias(name) for name, w in weights.items()],
                    *[f"{name}_tot" for name in weights]))


def _grouped_rank_min(pts: DataFrame,
                      targets: dict[str, str]) -> DataFrame:
    """Per-group order statistics over per-(event_type, _k) counts
    `c` via the GROUPED distributed prefix-sum ECDF: one grouped
    approx_percentile sketch yields data-proportional per-type fence
    arrays, `prefix_sums` runs the offsets and in-bucket cumulative
    windows per type, and every requested statistic rides one final
    per-type aggregate.

    ``targets`` maps output column name → SQL expression over ``n``
    (the group row count) giving the 1-based target rank; the result
    has one row per event_type with ``n_rows`` plus, per target, the
    MIN ``_k`` whose cumulative count reaches that rank.

    Like `rank_buckets`, the decomposition RECURSES one level past
    PREFIX_MAX_FENCES: coarse per-group fences split each group's
    axis ~sqrt(nb) ways, then ONE second grouped sketch keyed on
    (group, coarse bucket) refines to nb total — so a single giant
    group (> fences·target rows, ~4G distinct values) no longer
    collapses the in-bucket window onto >4M-row tasks. The level-1
    frame is retained so Catalyst never inlines the lambda-bearing
    `_b1` column across the grouping/join branches (the
    INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND hazard SURVEY documents)."""
    return _grouped_rank_min_multi(pts, {"c": targets}) \
        .withColumnRenamed("n_c", "n_rows")


def _grouped_rank_min_multi(pts: DataFrame,
                            weights: dict[str, dict[str, str]]) \
        -> DataFrame:
    """Multi-weight core of `_grouped_rank_min`: the SAME bucket
    pipeline (one probe, one fence sketch, one in-bucket window pass)
    carries ANY number of weight columns at once — so an operator
    needing order statistics under two weightings (e.g. a
    quantity-weighted median AND the row median) pays one scan, not
    one pipeline per weighting.

    ``weights`` maps weight column → {output name → SQL rank
    expression over ``n``}, where ``n`` inside each expression binds
    to THAT weight's group total. Returns one row per event_type with
    ``n_<w>`` per weight plus every requested MIN ``_k``."""
    wcols = list(weights)
    # retained: the points frame feeds the size/fence probe AND the
    # bucket pipeline — uncached it recomputes (and rescans its
    # input) twice per call
    pts = retain(pts)
    # ONE setup job: the per-type weight totals (which size the bucket
    # count) and the fence sketch ride the SAME grouped aggregate and
    # come back in one collect. The sketch is taken at the fixed
    # PROBE_FENCES resolution and subsampled to the needed bucket
    # count. The collected fences become per-type array literals in a
    # map lookup, which also keeps a broadcast fence join out of the
    # main pass.
    probe_rows = (pts.groupBy("event_type")
                  .agg(*[F.sum(w).alias(w) for w in wcols],
                       _sketch(PROBE_FENCES).alias("_fa"))
                  .collect())
    n_max = max((max(r[w] or 0 for w in wcols) for r in probe_rows),
                default=0)
    nb = _n_buckets(n_max)

    def fence_map(m: int) -> Column:
        """Literal map event_type → its m-bucket fence array."""
        entries: list[Column] = []
        for r in probe_rows:
            if r["event_type"] is None:
                continue     # inner fence join dropped null types too
            sub = _subsample_fences(r["_fa"], m)
            entries.append(F.lit(r["event_type"]))
            entries.append(F.array(*[F.lit(x) for x in sub])
                           if sub else
                           F.array().cast("array<double>"))
        return F.create_map(*entries)

    def map_bucketed(frame: DataFrame, m: int, out: str) -> DataFrame:
        """Bucket via the literal fence map when the probe sketch
        resolves m buckets; past PROBE_FENCES, fall back to the
        exact-resolution grouped sketch + broadcast join (one more
        job, big inputs only)."""
        if m <= PROBE_FENCES:
            frame = frame.withColumn(
                "_fx", F.element_at(fence_map(m), F.col("event_type")))
        else:
            fs = frame.groupBy("event_type").agg(_sketch(m).alias("_fx"))
            frame = frame.join(F.broadcast(fs), "event_type")
        return (frame.withColumn(out, F.size(F.filter(
                    "_fx", lambda x: F.col("_k") > x)))
                .drop("_fx"))

    typed = pts.where(F.col("event_type").isNotNull())
    if not any(r["event_type"] is not None for r in probe_rows):
        # empty input (or only the null-type group, which the fence
        # join always dropped): degenerate single bucket
        bucketed = typed.withColumn("bkt", F.lit(0))
    elif nb <= PREFIX_MAX_FENCES:
        bucketed = map_bucketed(typed, nb, "bkt")
    else:
        nb1 = min(PREFIX_MAX_FENCES, math.ceil(math.sqrt(nb)))
        nb2 = math.ceil(nb / nb1)
        lvl1 = retain(map_bucketed(typed, nb1, "_b1"))
        f2 = (lvl1.groupBy("event_type", "_b1")
              .agg(_sketch(nb2).alias("_fb")))
        bucketed = (lvl1.join(F.broadcast(f2), ["event_type", "_b1"])
                    .withColumn("bkt", F.col("_b1") * nb2
                                + F.size(F.filter(
                                    "_fb", lambda x: F.col("_k") > x)))
                    .drop("_fb", "_b1"))
    cum = prefix_sums(bucketed, [F.asc("_k")],
                      {f"cf_{w}": F.col(w) for w in wcols}, "event_type")
    sels = []
    for w, targets in weights.items():
        for name, expr in targets.items():
            bound = re.sub(r"\bn\b", f"cf_{w}_tot", expr)
            sels.append(F.min(F.when(F.col(f"cf_{w}")
                                     >= F.expr(bound),
                                     F.col("_k"))).alias(name))
    # retained: the result is one tiny row per type, but consumers
    # reference it several times (a median feeds the deviation pass,
    # the broadcast stats join, AND the final report), and every
    # uncached reference re-inlines — and re-executes — the whole
    # bucket pipeline above it
    return retain(cum.groupBy("event_type")
                  .agg(*[F.max(f"cf_{w}_tot").alias(f"n_{w}")
                         for w in wcols],
                       *sels))
