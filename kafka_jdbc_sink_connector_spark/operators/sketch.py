"""Mergeable distinct-count sketches (deterministic HyperLogLog).

Spark's ``approx_count_distinct`` answers one query on one frame; a
100-TB pipeline wants the SKETCH itself as data — per-batch / per-
partition register tables that persist in a lake table, merge by
``GROUP BY register → MAX(rho)`` without ever rescanning history, and
yield a cardinality estimate at any point. That mergeability is the
whole point (Flajolet et al., "HyperLogLog: the analysis of a
near-optimal cardinality estimation algorithm", AofA 2007): the union
sketch of two datasets is the register-wise max of their sketches —
an aggregate an incremental view can maintain.

Everything here is DETERMINISTIC and engine-portable, which Spark's
builtin (and DuckDB's ``approx_count_distinct``) are not — their HLL
implementations hash differently, so their sketches can't be compared
or merged across engines. This one can: the hash is ``md5`` of the
value's canonical string (identical bytes everywhere), the register
is the first ``p/4`` hex chars, and the rho computation is pure
string/CASE arithmetic (no float ``log2`` — nibble-level leading-zero
counting), so the register table an oracle SQL computes is
hash-EXACT against Spark's. The driver checks exactly that.

Plan shape: one codegen scan → one ``GROUP BY register`` with
map-side partial ``MAX`` → at most ``2^p`` rows. No Python, no
second pass, no shuffle beyond the (tiny) register aggregation.
"""

from __future__ import annotations

import bisect
import itertools
import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: hex chars drawn for the rho value (52 bits — md5 has plenty)
_RHO_HEX = 13
_MAX_RHO = _RHO_HEX * 4 + 1


def _leading_zero_bits(hexcol: Column) -> Column:
    """Leading zero BITS of a lowercase hex string, via nibble
    arithmetic — portable to ANSI-ish SQL (regexp_replace/length/CASE),
    and exact where ``floor(log2(x))`` float tricks are not."""
    stripped = F.regexp_replace(hexcol, "^0+", "")
    nz_nibbles = (F.length(hexcol) - F.length(stripped)) * 4
    first = F.substring(stripped, 1, 1)
    in_first = (
        F.when(first == "1", 3)
        .when(first.isin("2", "3"), 2)
        .when(first.isin("4", "5", "6", "7"), 1)
        .otherwise(0)
    )
    return F.when(
        F.length(stripped) == 0, F.length(hexcol) * 4
    ).otherwise(nz_nibbles + in_first)


def hll_registers(
    df: DataFrame, col: str, p: int = 8
) -> DataFrame:
    """The HLL sketch of ``col`` as a register TABLE:
    ``(register: 2-char hex string, max_rho: int)``, ≤ ``2^p`` rows.

    ``p`` must be a multiple of 4 (register = first ``p/4`` hex chars
    of the md5 — keeping the register a hex STRING avoids base
    conversion and stays portable). NULLs don't count (SQL COUNT
    DISTINCT semantics). Values are canonicalized via CAST AS STRING —
    two values that print identically count once (document the caveat;
    for the usual id/string columns it IS distinctness).
    """
    return hll_registers_by(df, [], col, p)


def hll_merge(*sketches: DataFrame) -> DataFrame:
    """Union sketch = register-wise max — the mergeability that makes
    per-batch sketches composable without rescans."""
    if not sketches:
        raise ValueError("need at least one sketch")
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    return out.groupBy("register").agg(
        F.max("max_rho").alias("max_rho")
    )


def hll_estimate(registers: DataFrame, p: int = 8) -> DataFrame:
    """Cardinality estimate from a register table: the standard HLL
    estimator with the small-range linear-counting correction
    (empty registers count as ``2^0`` in the harmonic sum; upper-range
    correction omitted — it matters only near 2^32+, beyond these
    sketches' use here). One row: ``(estimate: double)`` — 0.0 for an
    empty sketch."""
    return hll_estimate_by(registers, [], p)


def hll_count_distinct(df: DataFrame, col: str, p: int = 8) -> DataFrame:
    """One-shot convenience: sketch + estimate in a single plan."""
    return hll_estimate(hll_registers(df, col, p), p)


def hll_registers_by(
    df: DataFrame, keys: list[str], col: str, p: int = 8
) -> DataFrame:
    """Per-key sketches: ``(keys..., register, max_rho)`` — the
    "distinct users per source/day" shape. ≤ ``2^p`` rows per key;
    merge across batches stays ``GROUP BY (keys, register) → MAX``."""
    if p % 4 or p <= 0 or p > 16:
        raise ValueError("p must be one of 4, 8, 12, 16")
    nib = p // 4
    h = F.md5(F.col(col).cast("string"))
    reg = F.substring(h, 1, nib)
    val = F.substring(h, nib + 1, _RHO_HEX)
    rho = (_leading_zero_bits(val) + 1).cast("int")
    return (
        df.filter(F.col(col).isNotNull())
        .select(*keys, reg.alias("register"), rho.alias("rho"))
        .groupBy(*keys, "register")
        .agg(F.max("rho").alias("max_rho"))
    )


def hll_estimate_by(
    registers: DataFrame, keys: list[str], p: int = 8
) -> DataFrame:
    """Per-key estimates from a keyed register table: one row per key,
    ``(keys..., estimate)`` — same estimator as :func:`hll_estimate`."""
    m = 1 << p
    alpha = 0.7213 / (1 + 1.079 / m)
    agg = registers.groupBy(*keys).agg(
        F.count("*").alias("present"),
        # SUM over zero rows is NULL — an empty sketch (empty table /
        # all-NULL column) must estimate 0.0, not propagate NULL
        F.coalesce(
            F.sum(F.pow(F.lit(2.0), -F.col("max_rho"))), F.lit(0.0)
        ).alias("s_present"),
    )
    zeros = F.lit(m) - F.col("present")
    s = F.col("s_present") + zeros.cast("double")
    raw = F.lit(alpha * m * m) / s
    linear = -(F.lit(float(m)) * F.log(zeros.cast("double") / m))
    est = F.when((raw <= 2.5 * m) & (zeros > 0), linear).otherwise(raw)
    return agg.select(*keys, est.alias("estimate"))


def hll_error_bound(p: int = 8, sigmas: float = 3.0) -> float:
    """Relative standard error of the estimator (1.04/sqrt(m)) times
    ``sigmas`` — the bound tests assert against."""
    return sigmas * 1.04 / math.sqrt(1 << p)


# -- count-min sketch --------------------------------------------------
#
# The frequency sibling (Cormode & Muthukrishnan, "An improved data
# stream summary: the count-min sketch and its applications", J.
# Algorithms 2005): d hash rows × w counters, point frequency =
# MIN over rows — never an underestimate, over by ≤ e·N/w with
# probability 1−e^−d. Same portability recipe as the HLL above: row-i
# hash = hex prefix of md5("i:" || value), counters SUM-merge, the
# sketch is a SPARSE (row, col, cnt) table (zero counters implicit),
# and the whole construction reproduces hash-exact in the SQL oracle.


def _cms_hash(col: Column, row: int, w_hex: int) -> Column:
    return F.substring(
        F.md5(F.concat(F.lit(f"{row}:"), col.cast("string"))), 1, w_hex
    )


def cms_sketch(
    df: DataFrame,
    col: str,
    d: int = 4,
    w_hex: int = 3,
    weight: Column | None = None,
) -> DataFrame:
    """Count-min sketch of ``col`` as a sparse counter table
    ``(row: int, col: w_hex-char hex string, cnt: long)`` — ≤ d·16^w_hex
    rows however large the input. ``weight`` switches from occurrence
    counting to weighted sums (e.g. bytes per key). NULLs don't
    count."""
    if d < 1 or w_hex < 1 or w_hex > 8:
        raise ValueError("need d >= 1 and 1 <= w_hex <= 8")
    w = F.lit(1).cast("long") if weight is None else weight.cast("long")
    rows = df.filter(F.col(col).isNotNull()).select(
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("row"),
                    _cms_hash(F.col(col), i, w_hex).alias("col"),
                )
                for i in range(d)
            ])
        ).alias("h"),
        w.alias("__w"),
    )
    return (
        rows.select("h.row", "h.col", "__w")
        .groupBy("row", "col")
        .agg(F.sum("__w").alias("cnt"))
    )


def cms_merge(*sketches: DataFrame) -> DataFrame:
    """Union sketch = counter-wise SUM (both directions of the
    per-batch accumulation story)."""
    if not sketches:
        raise ValueError("need at least one sketch")
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    return out.groupBy("row", "col").agg(F.sum("cnt").alias("cnt"))


# -- quantile histogram sketch ----------------------------------------
#
# The quantile member of the trio: a log2-bucketed histogram with S
# linear sub-buckets per octave (the DDSketch idea — Masson, Rim &
# Lee, "DDSketch: a fast and fully-mergeable quantile sketch with
# relative-error guarantees", VLDB 2019 — realized with INTEGER
# arithmetic so the sketch is deterministic and engine-portable:
# octave = floor(log2(v)) taken from the length of the binary string
# (no float log), sub-bucket = ((v - 2^k) * S) DIV 2^k — exact 64-bit
# integer ops in both engines). Counts SUM-merge; a quantile estimate
# is the midpoint of the bucket where the cumulative count crosses
# rank, giving relative error ≤ 1/(2S) (~3% at S=16) plus exactness
# for 0. Domain: non-negative integers < 2^55/S (the multiply must
# not overflow a signed 64-bit — cents, token counts, byte sizes all
# fit); negatives land in a counted-but-unranked bucket, NULLs don't
# count.


def qsketch_histogram(
    df: DataFrame, col: str, s: int = 16
) -> DataFrame:
    """Sketch of ``col`` (cast to long) as ``(bucket: long, cnt:
    long)``. Bucket ids: ``-2`` negatives, ``-1`` zero, else
    ``octave * s + sub``. ≤ ``64·s + 2`` rows however large the
    input."""
    if s < 1 or s > 256:
        raise ValueError("s must be in [1, 256]")
    v = F.col(col).cast("long")
    d = df.filter(v.isNotNull()).select(v.alias("__v"))
    octave = (F.length(F.bin(F.col("__v"))) - 1).cast("long")
    d = d.select("__v", octave.alias("__k")).select(
        "__v",
        "__k",
        # Python F.shiftleft wants a literal bit count; the SQL form
        # takes a column
        F.expr("shiftleft(cast(1 as bigint), cast(__k as int))")
        .alias("__p"),
    )
    # `div` is INTEGER division — float `/` would round differently
    # across engines at sub-bucket boundaries
    sub = F.expr(f"((__v - __p) * {int(s)}) div __p")
    bucket = (
        F.when(F.col("__v") < 0, F.lit(-2).cast("long"))
        .when(F.col("__v") == 0, F.lit(-1).cast("long"))
        .otherwise(F.col("__k") * s + sub)
    )
    return (
        d.select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("cnt"))
    )


def qsketch_merge(*sketches: DataFrame) -> DataFrame:
    if not sketches:
        raise ValueError("need at least one sketch")
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    return out.groupBy("bucket").agg(F.sum("cnt").alias("cnt"))


def qsketch_quantiles(
    hist: DataFrame, qs: list[float], s: int = 16
) -> DataFrame:
    """Quantile estimates from a histogram sketch: for each q, the
    midpoint of the sub-bucket where the cumulative count reaches
    ``ceil(q·N)`` (negatives excluded from ranking, zero exact).
    Returns ``(q: double, estimate: double)`` — the histogram is
    bucket-count-sized, so the cumulative counts are prefix sums over
    its collected rows on the driver."""
    ranked = (
        hist.filter(F.col("bucket") >= -1).orderBy("bucket")
        .select("bucket", "cnt").collect()
    )
    cum = list(itertools.accumulate(r["cnt"] for r in ranked))
    picks = {}
    for q in map(float, qs):
        i = bisect.bisect_left(cum, math.ceil(q * cum[-1])) if cum else 0
        if i < len(cum):
            picks[q] = ranked[i]["bucket"]
    first = hist.sparkSession.createDataFrame(
        sorted(picks.items()), "q double, bucket long"
    )
    octave = F.floor(F.col("bucket") / s)
    sub = F.col("bucket") % s
    mid = F.pow(F.lit(2.0), octave.cast("double")) * (
        1.0 + (sub.cast("double") + 0.5) / s
    )
    est = F.when(F.col("bucket") == -1, F.lit(0.0)).otherwise(mid)
    return first.select("q", F.round(est, 6).alias("estimate"))


def qsketch_error_bound(s: int = 16) -> float:
    """Relative half-width of one sub-bucket — the estimate's
    worst-case relative error for positive values."""
    return 1.0 / (2 * s)


def cms_estimate(
    sketch: DataFrame,
    probes: DataFrame,
    col: str,
    d: int = 4,
    w_hex: int = 3,
) -> DataFrame:
    """Point frequency estimates for ``probes[col]``: min over the d
    counters each probe hashes to (absent counter = 0 — the sparse
    encoding's implicit zero). Returns ``(col, est_cnt)``. The probe
    side is preserved (LEFT join) and the SKETCH side is broadcast —
    it is bounded by construction (≤ d·16^w_hex counters however
    large the input), which is exactly what makes it the build side;
    a hint on the preserved side of an outer join would be ignored."""
    keyed = probes.select(F.col(col)).distinct().select(
        col,
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("row"),
                    _cms_hash(F.col(col), i, w_hex).alias("col"),
                )
                for i in range(d)
            ])
        ).alias("h"),
    ).select(col, "h.row", "h.col")
    # the sketch is bounded by d·16^w_hex counters — broadcastable by
    # construction at the default width, but the bound grows 16× per
    # extra hex char (w_hex=8 → 17B counters): only hint the
    # broadcast when the bound itself is small, else let the planner
    # pick from runtime sizes
    build = (
        F.broadcast(sketch) if d * (16 ** w_hex) <= 1_000_000 else sketch
    )
    joined = keyed.join(
        build, ["row", "col"], "left"
    ).select(
        F.col(col),
        F.coalesce(F.col("cnt"), F.lit(0).cast("long")).alias("c"),
    )
    return joined.groupBy(col).agg(F.min("c").alias("est_cnt"))
