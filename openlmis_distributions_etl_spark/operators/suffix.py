"""Exact longest-repeated-substring via DISTRIBUTED suffix ranks.

The real ExactSubstr: `dup_span_stats` detects duplicated FIXED
16-token windows; this module finds the longest token sequence that
occurs >= 2 times anywhere in the corpus (same or different docs,
overlapping allowed) EXACTLY and at arbitrary length, the
Manber-Myers prefix-doubling suffix-array construction re-expressed
as DataFrame rounds:

  level j holds, for every suffix (doc_id, pos), the EXACT dense
  rank of its length-4^j prefix (shorter suffixes padded with a
  sentinel, so equal rank <=> equal padded prefix). Level j+1 ranks
  the 4-tuple (r_j[p], r_j[p+4^j], r_j[p+2*4^j], r_j[p+3*4^j]) -
  prefix QUADRUPLING, the radix-4 Manber-Myers step (equal tuples
  <=> equal length-4^(j+1) padded prefixes, the same argument as
  doubling) - where the shifted ranks are per-doc window `lead`s,
  not joins (suffixes never cross document boundaries, so
  everything about a round is doc-partitioned except the rank
  assignment). High radix (RADIX = 16) because every round pays
  width-independent fixed costs (a doc-keyed window shuffle, a rank
  shuffle, a census action, a lineage truncation): ceil(log16
  maxlen) rounds instead of ceil(log2 maxlen) quarters the
  sequential barrier count, and the extra lead() columns ride the
  same window shuffle.

Rank assignment is the repo's distributed prefix decomposition
(`rank_buckets`, functions/prefix.py): range-bucket a double proxy of the
sort key data-proportionally (equal keys never straddle), dense_rank
inside bounded buckets, and offset by the per-bucket exclusive
count-distinct prefix over the tiny bucket frame. NO global
single-task ORDER BY at any point; each doubling round is one
bounded-window shuffle + one broadcast join over n suffix rows, and
there are at most ceil(log2(max doc tokens)) rounds - doc-bounded
(<= ~8 radix-4 rounds for 32k-token docs), NOT corpus-bounded,
because suffixes stop at document ends.

The answer is then read off the classic way: the maximum LCP over
ALL suffix pairs is attained by a pair ADJACENT in suffix-rank
order, and the LCP of one pair is recovered by descending the
retained levels (advance 0..3 consecutive width-4^j blocks while
level-j ranks at the running offset match; the three candidate
block positions are fixed at level entry, so all six lookups ride
ONE (doc, pos) equi-join of an exploded request frame per level).
Identical full suffixes (rank ties at the top level) contribute
their suffix length directly.

Skew posture (the round-6 caveat, now closed): the doubling round's
arithmetic r1 bucketer gets a SECOND level - the per-round rank
census (one map-side-combinable aggregate whose driver result is
bounded by n / bucket-target rows) reports the r1 values whose
groups exceed the per-bucket target, each such value is isolated
into its own fence range, and its rows are sub-bucketed by r2
ranges (equal (r1, r2) pairs share a sub-bucket by construction, so
exactness is untouched - only balance moves). A Zipfian
hyper-frequent rank-1 prefix therefore spreads over ~group/target
buckets instead of landing one hot window task. Level 0 never had
the problem to begin with: token ranks are assigned on the DISTINCT
vocabulary frame (vocab-bounded, trivially balanced) and joined
back to positions - an AQE-skew-splittable equi-join, not a window
over the hot token's row block.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (LongType, StringType, StructField,
                               StructType)

from ..functions.cache import retain
from ..functions.prefix import rank_buckets
from .dedup import _all_docs_tokenized, _truncate_lineage

LRS_SCHEMA = StructType([
    StructField("lrs_tokens", LongType()),
    StructField("n_occurrences", LongType()),
    StructField("n_docs", LongType()),
    StructField("lrs_text", StringType()),
])

# Manber–Myers radix: each round ranks the RADIX-tuple
# (r[p], r[p+w], ..., r[p+(RADIX-1)·w]), multiplying the resolved
# prefix width by RADIX. Every round pays width-independent fixed
# costs (one doc-keyed window shuffle, one rank shuffle, one census
# action, one lineage truncation) — the operator's real cost is the
# ROUND count, ceil(log_RADIX maxlen), so 16 halves the sequential
# barrier count again vs the round-6 radix-4 build (4 rounds → 2 on
# 32k-token docs: 16 → 256 → 4096 ...). The price per round — 15
# lead() columns riding the same window shuffle and a 16-long rank
# tuple through the bucketed dense_rank — is bytes, not barriers,
# and the two-level bucketer still keys on (r1, r2) alone.
RADIX = 16


def _doubling_buckets(df: DataFrame, n: int, dense_max: int,
                      heavy: list[tuple[int, int]] | None) -> DataFrame:
    """Bucket a doubling-round pair frame (columns r1, r2) for the
    distributed dense-rank assignment. Base level: arithmetic r1
    fences - bkt = (r1 - 1) DIV ceil(dense_max / nb) - equal keys
    trivially share a bucket and bucket order is rank order. Second
    level (``heavy`` = [(r1_value, row_count)] from the per-round
    rank census): every r1 value whose group exceeds the per-bucket
    target is ISOLATED - within its coarse range, unit u orders
    [below h1] h1 [h1..h2] h2 ... [above hk] (2j - is_heavy, monotone
    in r1) - and its rows sub-bucket by r2 DIV w2 with w2 sized so
    the value spreads over ~count/target buckets. Equal (r1, r2)
    pairs always share (B, u, c3); bucket structs order
    lexicographically = key order, so exactness is untouched and a
    Zipfian hot rank costs balance nothing."""
    import math
    nb = max(16, math.ceil(n / 4_000_000))
    width = max(1, math.ceil(dense_max / nb))
    target = max(1, math.ceil(n / nb))
    hv = sorted((h, c) for h, c in (heavy or []) if c > target)
    if not hv:
        return df.withColumn(
            "bkt", F.expr(f"int((r1 - 1) DIV {width})"))
    from collections import defaultdict
    bmap: dict[int, list[tuple[int, int]]] = defaultdict(list)
    for h, c in hv:
        bmap[(h - 1) // width].append(
            (h, max(1, math.ceil(c / target))))
    spark = df.sparkSession
    hdf = spark.createDataFrame(
        [(int(bb), [h for h, _ in v], [m for _, m in v])
         for bb, v in sorted(bmap.items())],
        "B long, hv array<bigint>, hm array<int>")
    j = (df.withColumn("B", F.expr(f"(r1 - 1) DIV {width}"))
         .join(F.broadcast(hdf), "B", "left"))
    u = F.expr("IF(hv IS NULL, 0, "
               "size(filter(hv, x -> x <= r1)) * 2 "
               "- IF(array_contains(hv, r1), 1, 0))")
    c3 = F.expr(
        f"IF(hv IS NOT NULL AND array_contains(hv, r1), "
        f"int(r2 DIV int(ceil(({dense_max} + 1) / "
        f"hm[size(filter(hv, x -> x <= r1)) - 1]))), 0)")
    return (j.withColumn("bkt", F.struct(F.col("B").alias("b1"),
                                         u.alias("b2"),
                                         c3.alias("b3")))
            .drop("B", "hv", "hm"))


def _dense_rank_distributed(df: DataFrame, n: int, okey: list,
                            proxy: F.Column,
                            dense_max: int | None = None,
                            heavy: list[tuple[int, int]] | None = None,
                            ) -> DataFrame:
    """Append exact global dense rank ``r`` (1-based, contiguous) of
    ``okey`` to ``df`` without a global sort.

    ``proxy`` must be a double that is (a) EQUAL for equal okey
    (equal keys share a bucket - fences test ``_k > f``) and
    (b) monotone non-decreasing in okey order wherever doubles can
    resolve it (fence placement then only affects balance). Dense
    rank = in-bucket dense_rank + exclusive prefix of per-bucket
    count-distinct over the tiny (ceil(n/4M)-row) bucket frame.

    ``dense_max``: when the LEADING okey column is already a dense
    1..dense_max rank (every doubling round after the first), fences
    are pure arithmetic (no percentile sketch job), and ``heavy``
    (the per-round rank census) adds the second bucket level that
    spreads over-target r1 groups by r2 - see _doubling_buckets."""
    if dense_max is not None:
        b = _doubling_buckets(df, n, dense_max, heavy)
    else:
        b = rank_buckets(df.withColumn("_k", proxy))
    win = Window.partitionBy("bkt").orderBy(*okey)
    per = b.groupBy("bkt").agg(F.count_distinct(*okey).alias("_nd"))
    wo = (Window.orderBy(F.asc("bkt"))
          .rowsBetween(Window.unboundedPreceding, -1))
    offs = per.select(
        "bkt", F.coalesce(F.sum("_nd").over(wo),
                          F.lit(0).cast("long")).alias("_base"))
    return (b.withColumn("_dr", F.dense_rank().over(win))
            .join(F.broadcast(offs), "bkt")
            .withColumn("r", (F.col("_base") + F.col("_dr"))
                        .cast("long"))
            .drop("_k", "_dr", "_base", "bkt"))


def _suffix_levels(t: dict[str, DataFrame]):
    """Build the doubling rank levels. Returns (docs, levels, n_suf)
    where docs = (doc_id, toks, n), levels[j] = (doc_id, n, pos, r)
    with r the dense rank of the length-4^j padded prefix, and the
    last level is a total suffix order (ties only between IDENTICAL
    full suffixes). Driver actions per round are 1-row aggregates.

    RADIX-tupling, not doubling: each round ranks the RADIX-tuple
    (r[p], r[p+w], ..., r[p+(RADIX-1)w]) — the radix-RADIX variant
    of Manber–Myers (same exactness argument: equal tuples ⇔ equal
    length-RADIX·w padded prefixes) — so a maxlen-L corpus needs
    ceil(log_RADIX L) rounds instead of ceil(log2 L). Every round
    carries fixed costs independent of width (one doc-keyed window
    shuffle, one rank-assignment shuffle, one census action, one
    lineage truncation), so cutting the round count cuts the
    operator's wall clock almost proportionally; the extra lead()
    columns ride the SAME window shuffle for free."""
    d = retain(_all_docs_tokenized(t))
    stats = d.agg(F.sum("n").alias("ns"),
                  F.max("n").alias("ml")).collect()[0]
    n_suf, maxlen = int(stats["ns"] or 0), int(stats["ml"] or 0)
    if n_suf == 0:
        return d, [], 0
    pos = d.select(
        "doc_id", "n",
        F.posexplode("toks").alias("pos", "tok"))
    # level 0: any CONSISTENT total order on tokens works for a
    # suffix array (adjacency-maximizes-LCP holds for any alphabet
    # order), so order by (xxhash64, token). Ranks are assigned on
    # the DISTINCT vocabulary frame - vocab-bounded work, no bucket
    # can go hot however skewed the corpus - then joined back onto
    # positions (equi-join on the token; a hyper-frequent token is a
    # skewed JOIN key, which AQE splits, not a window hot spot).
    vocab = retain(pos.select("tok").distinct()
                   .withColumn("_h", F.xxhash64("tok")))
    vr = _dense_rank_distributed(
        vocab, 0, [F.col("_h"), F.col("tok")],
        F.col("_h").cast("double"))
    lvl0 = (pos.join(vr.select("tok", "r"), "tok")
            .select("doc_id", "n", "pos", "r"))
    levels = [_truncate_lineage(lvl0)]
    # per-bucket row target of the doubling bucketer (mirrors
    # _dense_rank_distributed's nb formula): the rank census below
    # reports groups above it so they can be sub-bucketed by r2
    import math
    nb = max(16, math.ceil(n_suf / 4_000_000))
    target = max(1, math.ceil(n_suf / nb))
    width = 1
    need_census = True
    while width < maxlen:
        prev = levels[-1]
        # one bounded action per round: the max rank (drives the
        # all-distinct early exit AND the arithmetic fences), plus -
        # only while skew is still live - the rank census reporting
        # over-target groups (bounded by n/target entries) for the
        # two-level bucketer. Rank groups REFINE monotonically (a
        # round-j+1 group is a subset of a round-j group), so the
        # first empty census proves every later round is balanced
        # too and the loop decays to the cheap 1-row max aggregate.
        if need_census:
            s = (prev.groupBy("r").agg(F.count(F.lit(1)).alias("c"))
                 .agg(F.max("r").alias("mx"),
                      F.collect_list(
                          F.when(F.col("c") > target,
                                 F.struct("r", "c"))).alias("hv"))
                 .collect()[0])
            mx = int(s["mx"])
            heavy = [(int(x["r"]), int(x["c"]))
                     for x in (s["hv"] or [])]
            need_census = bool(heavy)
        else:
            mx = int(prev.agg(F.max("r")).collect()[0][0])
            heavy = []
        if mx == n_suf:
            break
        wdoc = Window.partitionBy("doc_id").orderBy("pos")
        zero = F.lit(0).cast("long")
        pair = prev.select(
            "doc_id", "n", "pos", F.col("r").alias("r1"),
            *[F.coalesce(F.lead("r", i * width).over(wdoc), zero)
              .alias(f"r{i + 1}") for i in range(1, RADIX)])
        # r1 is the PREVIOUS round's dense rank (1..mx), so fences
        # are arithmetic - no percentile sketch job per round. The
        # two-level bucketer still keys on (r1, r2) only: equal
        # RADIX-tuples agree on (r1, r2) a fortiori, so equal keys
        # never straddle buckets - the extra tuple arms refine only
        # the in-bucket dense_rank order.
        nxt = _dense_rank_distributed(
            pair, n_suf,
            [F.col(f"r{i + 1}") for i in range(RADIX)],
            F.col("r1").cast("double"), dense_max=mx, heavy=heavy,
        ).select("doc_id", "n", "pos", "r")
        levels.append(_truncate_lineage(nxt))
        width *= RADIX
    return d, levels, n_suf


def longest_repeated_substring(t: dict[str, DataFrame]) -> DataFrame:
    """One row per DISTINCT maximal repeated token sequence:
    (lrs_tokens, n_occurrences, n_docs, lrs_text) where lrs_tokens is
    the corpus-wide maximum length of any token sequence occurring
    >= 2 times (positions counted with overlap), n_occurrences the
    occurrence count of THIS sequence and n_docs the distinct docs
    holding it. Empty result iff the corpus has no repeat at all.

    Exact at any scale: ranks are exact dense ranks, the max-LCP
    candidates are the adjacent-pair descents plus identical-suffix
    rank groups, and the reporting pass re-keys every eligible
    window of the winning length by the rank tuple of its base-4
    block decomposition (blocks never overrun a document, so rank
    equality is exactly content equality - no hashing anywhere)."""
    d, levels, n_suf = _suffix_levels(t)
    spark = t["documents"].sparkSession
    if not levels:
        return spark.createDataFrame([], LRS_SCHEMA)
    top = levels[-1]
    slen = (F.col("n") - F.col("pos")).cast("long")

    # one representative per top-level rank group; identical full
    # suffixes (cnt >= 2) repeat at their whole length
    gw = Window.partitionBy("r").orderBy("doc_id", "pos")
    g = (top.withColumn("rk", F.row_number().over(gw))
         .withColumn("cnt", F.count(F.lit(1))
                     .over(Window.partitionBy("r"))))
    reps = retain(_truncate_lineage(
        g.where(F.col("rk") == 1)
        .select("doc_id", "pos", "n", "r", "cnt")))
    dup_l = (reps.where(F.col("cnt") >= 2)
             .agg(F.max(slen)).collect()[0][0]) or 0

    # adjacent rank pairs (dense ranks are contiguous), then the
    # level-descent LCP: advance 0..3 width-4^j blocks per level
    # while level-j ranks at the running offset agree; the final off
    # is capped by both suffix lengths (an equal PADDED block means
    # equal-to-end)
    a = reps.select(F.col("doc_id").alias("da"),
                    F.col("pos").alias("pa"),
                    F.col("n").alias("na"), "r")
    b = reps.select(F.col("doc_id").alias("db"),
                    F.col("pos").alias("pb"),
                    F.col("n").alias("nb"),
                    (F.col("r") - 1).alias("r"))
    cur = (a.join(b, "r")
           .select("da", "pa", "na", "db", "pb", "nb",
                   F.lit(0).cast("long").alias("off")))
    # base-RADIX descent, skipping the TOP level (adjacent reps hold
    # DISTINCT top ranks by construction, so the top comparison can
    # never hit). At level j a pair may advance 0..RADIX-1
    # consecutive width-RADIX^j blocks; the RADIX-1 block positions
    # are fixed by the level-entry offset, so all 2·(RADIX-1)
    # lookups ride ONE (doc, pos) equi-join of an exploded request
    # frame + one regroup - two shuffles per level instead of
    # 2·(RADIX-1) join passes.
    #
    # POTENTIAL PRUNING: only the MAXIMUM lcp is wanted, so a pair
    # whose best reachable value - min(off + remaining level
    # capacity, either suffix length) - is below the best value
    # already guaranteed (the identical-suffix dup_l, or the running
    # max off realized by some surviving pair) can never change the
    # answer and is dropped. The pair REALIZING the max always
    # survives (its potential >= its final lcp >= the threshold), so
    # lmax is exact; everything pruned was provably <= lmax. In a
    # near-duplicate-heavy corpus dup_l alone collapses the pair
    # cloud before the first (most expensive) level.
    keys = ["da", "pa", "na", "db", "pb", "nb", "off"]
    cap_len = F.least(F.col("na") - F.col("pa"),
                      F.col("nb") - F.col("pb"))
    best = 0
    n_arm = RADIX - 1
    if len(levels) >= 2:
        full_cap = RADIX ** (len(levels) - 1) - 1
        cur = cur.where(F.least(F.col("off") + full_cap, cap_len)
                        >= max(best, int(dup_l)))
    for j in range(len(levels) - 2, -1, -1):
        lv, w = levels[j], RADIX ** j
        side_a = F.col("s") < n_arm
        i = (F.col("s") % n_arm).cast("long")
        lk = (cur.select(*keys,
                         F.explode(F.sequence(
                             F.lit(0), F.lit(2 * n_arm - 1)))
                         .alias("s"))
              .select(*keys, "s",
                      F.when(side_a, F.col("da"))
                      .otherwise(F.col("db")).alias("_d"),
                      (F.when(side_a, F.col("pa"))
                       .otherwise(F.col("pb"))
                       + F.col("off") + i * w).alias("_p")))
        lvk = lv.select(F.col("doc_id").alias("_d"),
                        F.col("pos").alias("_p"),
                        F.col("r").alias("_r"))
        g = (lk.join(lvk, ["_d", "_p"], "left")
             .groupBy(*keys)
             .agg(*[F.max(F.when(F.col("s") == k, F.col("_r")))
                    .alias(f"x{k}") for k in range(2 * n_arm)]))
        m = [F.col(f"x{k}").isNotNull()
             & (F.col(f"x{k}") == F.col(f"x{k + n_arm}"))
             for k in range(n_arm)]
        # advance = number of LEADING matched blocks (0..RADIX-1)
        adv_expr: F.Column = F.lit(n_arm)
        for k in range(n_arm - 1, -1, -1):
            adv_expr = F.when(m[k], adv_expr).otherwise(F.lit(k))
        adv = adv_expr.cast("long")
        cur = retain(_truncate_lineage(g.select(
            "da", "pa", "na", "db", "pb", "nb",
            (F.col("off") + adv * w).alias("off"))))
        # realized lower bound must be CAPPED by the suffix lengths:
        # a matched partially-padded block overshoots off past the
        # true lcp (equal padding = equal-to-end), and an uncapped
        # best could prune the pair realizing the actual maximum
        best = int(cur.agg(F.max(F.least(F.col("off"), cap_len)))
                   .collect()[0][0] or 0)
        if j > 0:
            rem = RADIX ** j - 1   # capacity of the remaining levels
            cur = cur.where(F.least(F.col("off") + rem, cap_len)
                            >= max(best, int(dup_l)))
    lcp = F.least(F.col("off"), F.col("na") - F.col("pa"),
                  F.col("nb") - F.col("pb"))
    adj_l = (cur.agg(F.max(lcp)).collect()[0][0]) or 0

    lmax = int(max(dup_l, adj_l))
    if lmax == 0:
        return spark.createDataFrame([], LRS_SCHEMA)

    # report: key every eligible window of length lmax by the rank
    # tuple of its OVERLAPPING same-level block cover (exact
    # identity), group, keep the repeated ones, rebuild the text
    # from one representative's token slice.
    #
    # Cover construction: take the widest retained level with
    # w <= lmax (one always exists: level 0 has w = 1, and lmax
    # never exceeds the top width — equal lmax-windows wider than it
    # would have tied top-level ranks, contradicting the early
    # exit). Blocks at offsets 0, w, ..., (m-2)·w plus the
    # OVERLAPPING tail block at lmax - w, m = ceil(lmax / w), cover
    # [0, lmax): two windows are equal iff all m level-j ranks
    # agree (each rank pins the exact content of its w-token block —
    # no block crosses the document end because the window fits).
    # All m lookups ride ONE (doc, pos) equi-join of an exploded
    # request frame + one regroup — the digit-decomposition this
    # replaces paid one sequential join PER base-RADIX digit (up to
    # 15 per level at radix 16).
    keyed = top.where(F.col("pos") + F.lit(lmax) <= F.col("n")) \
               .select("doc_id", "pos")
    j = max(i for i in range(len(levels)) if RADIX ** i <= lmax)
    w = RADIX ** j
    n_blk = -(-lmax // w)
    offs = [k * w for k in range(n_blk - 1)] + [lmax - w]
    lk = (keyed.select(
        "doc_id", "pos",
        F.explode(F.array(*[F.lit(o) for o in offs])).alias("_o"))
        .select(F.col("doc_id").alias("_d"), "pos", "_o",
                (F.col("pos") + F.col("_o")).alias("_q")))
    lv = levels[j].select(F.col("doc_id").alias("_d"),
                          F.col("pos").alias("_q"),
                          F.col("r").alias("_r"))
    keycols = [f"k{i}" for i in range(n_blk)]
    keyed = (lk.join(lv, ["_d", "_q"])
             .groupBy(F.col("_d").alias("doc_id"), "pos")
             .agg(*[F.max(F.when(F.col("_o") == o, F.col("_r")))
                    .alias(kc) for kc, o in zip(keycols, offs)]))
    grp = (keyed.groupBy(*keycols)
           .agg(F.count(F.lit(1)).alias("n_occurrences"),
                F.count_distinct("doc_id").alias("n_docs"),
                F.min(F.struct("doc_id", "pos")).alias("rep"))
           .where(F.col("n_occurrences") >= 2))
    return (grp.join(d, grp["rep.doc_id"] == d["doc_id"])
            .select(F.lit(lmax).cast("long").alias("lrs_tokens"),
                    F.col("n_occurrences").cast("long")
                    .alias("n_occurrences"),
                    F.col("n_docs").cast("long").alias("n_docs"),
                    F.array_join(
                        F.slice("toks", F.col("rep.pos") + 1,
                                F.lit(lmax)), " ").alias("lrs_text"))
            .orderBy("lrs_text"))
