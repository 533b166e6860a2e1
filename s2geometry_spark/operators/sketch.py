"""Portable HyperLogLog distinct-count sketches per tile.

The classic approximate-distinct operator a 100 TB rollup actually runs
(Flajolet et al. 2007, HyperLogLog; the analysis-time shape of Spark's
own approx_count_distinct) — reimplemented so the sketch is BIT-EXACTLY
reproducible in DuckDB, which Spark's HLL++ is not (its hash and bias
tables are engine-private).  Everything integer until the final
estimator:

* hash   = md5-h64("hll:" || key)     (the repo's portable 64-bit hash)
* reg    = hash mod m (m = 256 registers, p = 8)
* w      = the other 56 bits; rho(w) = trailing-zero count + 1 computed
  EXACTLY as bit_count((w & -w) - 1) + 1 — no float log anywhere
* register value M_j = max rho per (tile, reg): a plain hash agg, and
  the reason HLL scales — sketches MERGE by register-wise max, so
  per-executor partial aggregation is lossless (the same partial+final
  combine Spark applies to any max agg)

The estimator (the only float arithmetic) is pinned portable:
2^-M_j = 1.0 / (1::BIGINT << M_j) (exact), folded in register order,
the empty-register mass V added last; alpha_m embedded as one literal;
the small-range linear-counting branch E <= 5m/2 uses ln_portable_sql
(below) on the rational m/V.  The 2^32 large-range branch is
omitted: keys are 64-bit hashed and tile cardinalities here are far
below 2^32 (documented, matching common implementations).

Scale shape: one hash agg to registers (map-side combinable), one tiny
per-tile fold (<= m rows per tile).  The exact distinct count computed
alongside is itself one shuffle; at real scale it is the expensive leg
the sketch replaces — the query reports both plus the permille error,
i.e. the accuracy audit you run before trusting the sketch fleet-wide.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .tiling import md5_h64, md5_h64_sql

P_BITS = 8
M_REGS = 1 << P_BITS  # 256
#: alpha_256 (Flajolet): one shared literal so both engines parse the
#: identical double
ALPHA = repr(0.7213 / (1.0 + 1.079 / M_REGS))
_W_MASK = (1 << 56) - 1


# ---------- portable natural log (Spark == DuckDB, bit-exact) ----------
#
# libm log differs between the JVM and DuckDB in the last ulp (measured:
# max 8.9e-16 on 22k inputs), so the linear-counting branch uses
# ln_portable_sql: floor(log2 x) argument reduction + an atanh Horner
# series evaluated in a pinned order — plain floor/log2/power/+-*/ that
# both engines round identically.
#
# Exponent-notation literals parse as DOUBLE on BOTH engines; a bare
# decimal literal parses as DECIMAL (Spark AND DuckDB), and the
# decimal->double conversion can land one ulp off the correctly-rounded
# parse (observed: Spark's 0.0526315789... coefficient flipped the last
# bit of the result on ~10% of inputs)
_LN2 = "6.93147180559945286e-01"
# 1/19 .. 1/3, Horner order (odd atanh series to r^19)
_LN_COEFFS = ["%.17e" % (1.0 / k) for k in (19, 17, 15, 13, 11, 9, 7, 5, 3)]


def ln_portable_sql(x: str) -> str:
    """ln(x) for x > 0 as a portable SQL expression (identical doubles in
    Spark SQL and DuckDB).

    Argument reduction rounds the exponent (m in [sqrt2/2, sqrt2), |r| <=
    0.1716) so the series truncation (r^21/21 < 5e-17) stays below double
    resolution even for x just under a power of two; the floor boundary
    then sits at 2^(k+1/2), which rational inputs such as m/V cannot
    approach within an ulp (irrationality-measure separation of sqrt2)."""
    e = f"floor(log2({x}) + 0.5)"
    m = f"(({x}) / power(2.0, {e}))"
    r = f"(({m} - 1.0) / ({m} + 1.0))"
    r2 = f"({r} * {r})"
    p = _LN_COEFFS[0]
    for c in _LN_COEFFS[1:]:
        p = f"({p} * {r2} + {c})"
    p = f"({p} * {r2} + 1.0)"
    return f"(({e} * {_LN2}) + ((2.0 * {r}) * {p}))"


def hll_keyed_rho(
    keyed: DataFrame, tile_col: str = "tile", key_col: str = "key"
) -> DataFrame:
    """(tile, key, reg, rho) — the stateless hash/register derivation."""
    h = md5_h64(
        F.concat(F.lit("hll:"), F.col(key_col).cast("string"))
    )
    t = keyed.select(
        F.col(tile_col).alias("tile"),
        F.col(key_col).alias("key"),
        h.alias("h"),
    ).select(
        "tile",
        "key",
        F.expr(f"pmod(h, {M_REGS})").alias("reg"),
        F.expr(f"shiftright(h, {P_BITS}) & {_W_MASK}").alias("w"),
    )
    return t.withColumn(
        "rho",
        F.when(F.col("w") == 0, F.lit(57))
        .otherwise(F.expr("bit_count((w & -w) - 1) + 1"))
        .cast("long"),
    ).drop("w")


def hll_registers(
    keyed: DataFrame, tile_col: str = "tile", key_col: str = "key"
) -> DataFrame:
    """(tile, reg, mj) — the sketch state.  ONE max aggregation, which
    is also what makes the sketch streamable: register-max is a legal
    single streaming aggregation, and complete-mode state IS the
    sketch (bounded at m rows per tile forever, however many rows
    stream through)."""
    return (
        hll_keyed_rho(keyed, tile_col, key_col)
        .groupBy("tile", "reg")
        .agg(F.max("rho").alias("mj"))
    )


def hll_estimate(regs: DataFrame) -> DataFrame:
    """(tile, n_regs, estimate) from a register frame (tile, reg, mj) —
    the read-time estimator over the sketch state."""
    # 2^-M_j exactly: 1.0 / (1 << M_j) — integer shift then one exact
    # division (SQL-level shiftleft accepts a column shift amount)
    regs = regs.withColumn(
        "term",
        F.expr("1.0 / cast(shiftleft(cast(1 as bigint), mj) as double)"),
    )
    folded = regs.groupBy("tile").agg(
        F.count(F.lit(1)).alias("n_regs"),
        F.aggregate(
            F.sort_array(
                F.collect_list(F.struct(F.col("reg"), F.col("term")))
            ),
            F.lit(0.0),
            lambda acc, s: acc + s["term"],
        ).alias("s_present"),
    )
    v = (F.lit(M_REGS) - F.col("n_regs")).cast("long")
    s_all = F.col("s_present") + v.cast("double")
    e_raw = F.lit(float(ALPHA)) * F.lit(float(M_REGS * M_REGS)) / s_all
    lc = F.lit(float(M_REGS)) * F.expr(
        ln_portable_sql(
            f"({float(M_REGS)!r} / CAST(({M_REGS} - n_regs) AS DOUBLE))"
        )
    )
    est = F.when((e_raw <= 2.5 * M_REGS) & (v > 0), lc).otherwise(e_raw)
    return folded.select(
        "tile",
        F.col("n_regs").cast("long").alias("n_regs"),
        est.alias("estimate"),
    )


def tile_distinct_hll(
    keyed: DataFrame, tile_col: str = "tile", key_col: str = "key"
) -> DataFrame:
    """(tile, exact_distinct, n_regs, estimate, err_permille) per tile.

    ``keyed``: any frame with a tile column and a key column (the
    distinct-count subject).  estimate is the HLL-256 estimator;
    err_permille = floor(1000 * |estimate - exact| / exact).
    """
    t = hll_keyed_rho(keyed, tile_col, key_col)
    regs = t.groupBy("tile", "reg").agg(F.max("rho").alias("mj"))
    est_f = hll_estimate(regs)
    exact = t.groupBy("tile").agg(
        F.countDistinct("key").alias("exact_distinct")
    )
    j = est_f.join(exact, "tile")
    return j.select(
        "tile",
        "exact_distinct",
        "n_regs",
        "estimate",
        F.floor(
            F.lit(1000.0)
            * F.abs(F.col("estimate") - F.col("exact_distinct").cast("double"))
            / F.col("exact_distinct").cast("double")
        )
        .cast("long")
        .alias("err_permille"),
    )


def tile_distinct_hll_oracle_sql(src_sql: str) -> str:
    """DuckDB replay over ``src_sql`` (must yield tile, key)."""
    h = md5_h64_sql("'hll:' || CAST(key AS VARCHAR)")
    ln_mv = ln_portable_sql(
        f"({float(M_REGS)!r} / CAST(({M_REGS} - n_regs) AS DOUBLE))"
    )
    return f"""
WITH src AS ({src_sql}),
hashed AS (
  SELECT tile, key, (({h}) % {M_REGS} + {M_REGS}) % {M_REGS} AS reg,
         (({h}) >> {P_BITS}) & {_W_MASK} AS w
  FROM src
),
rhod AS (
  SELECT tile, key, reg,
         CASE WHEN w = 0 THEN 57
              ELSE bit_count((w & -w) - 1) + 1 END AS rho
  FROM hashed
),
regs AS (SELECT tile, reg, max(rho) AS mj FROM rhod GROUP BY 1, 2),
folded AS (
  SELECT tile, count(*) AS n_regs,
         list_reduce(
           list_prepend(0.0, list(1.0 / CAST(1::BIGINT << mj AS DOUBLE)
                                  ORDER BY reg)),
           (a, b) -> a + b
         ) AS s_present
  FROM regs GROUP BY tile
),
exact AS (
  SELECT tile, count(DISTINCT key) AS exact_distinct FROM rhod GROUP BY 1
),
est AS (
  SELECT f.tile, e.exact_distinct, CAST(f.n_regs AS BIGINT) AS n_regs,
         CASE WHEN (CAST({ALPHA} AS DOUBLE) * CAST({float(M_REGS * M_REGS)!r} AS DOUBLE)
                    / (s_present + CAST({M_REGS} - n_regs AS DOUBLE)))
                   <= CAST({2.5 * M_REGS!r} AS DOUBLE)
               AND n_regs < {M_REGS}
              THEN CAST({float(M_REGS)!r} AS DOUBLE) * ({ln_mv})
              ELSE (CAST({ALPHA} AS DOUBLE) * CAST({float(M_REGS * M_REGS)!r} AS DOUBLE)
                    / (s_present + CAST({M_REGS} - n_regs AS DOUBLE)))
         END AS estimate
  FROM folded f JOIN exact e USING (tile)
)
SELECT tile, exact_distinct, n_regs, estimate,
       CAST(floor(1000.0 * abs(estimate - CAST(exact_distinct AS DOUBLE))
                  / CAST(exact_distinct AS DOUBLE)) AS BIGINT)
         AS err_permille
FROM est
"""


def hll_estimate_oracle_sql(src_sql: str) -> str:
    """DuckDB replay of registers + estimator only — (tile, n_regs,
    estimate) — for the streaming variant, whose state holds no raw
    keys to count exactly."""
    h = md5_h64_sql("'hll:' || CAST(key AS VARCHAR)")
    ln_mv = ln_portable_sql(
        f"({float(M_REGS)!r} / CAST(({M_REGS} - n_regs) AS DOUBLE))"
    )
    return f"""
WITH src AS ({src_sql}),
hashed AS (
  SELECT tile, key, (({h}) % {M_REGS} + {M_REGS}) % {M_REGS} AS reg,
         (({h}) >> {P_BITS}) & {_W_MASK} AS w
  FROM src
),
rhod AS (
  SELECT tile, key, reg,
         CASE WHEN w = 0 THEN 57
              ELSE bit_count((w & -w) - 1) + 1 END AS rho
  FROM hashed
),
regs AS (SELECT tile, reg, max(rho) AS mj FROM rhod GROUP BY 1, 2),
folded AS (
  SELECT tile, count(*) AS n_regs,
         list_reduce(
           list_prepend(0.0, list(1.0 / CAST(1::BIGINT << mj AS DOUBLE)
                                  ORDER BY reg)),
           (a, b) -> a + b
         ) AS s_present
  FROM regs GROUP BY tile
)
SELECT tile, CAST(n_regs AS BIGINT) AS n_regs,
       CASE WHEN (CAST({ALPHA} AS DOUBLE) * CAST({float(M_REGS * M_REGS)!r} AS DOUBLE)
                  / (s_present + CAST({M_REGS} - n_regs AS DOUBLE)))
                 <= CAST({2.5 * M_REGS!r} AS DOUBLE)
             AND n_regs < {M_REGS}
            THEN CAST({float(M_REGS)!r} AS DOUBLE) * ({ln_mv})
            ELSE (CAST({ALPHA} AS DOUBLE) * CAST({float(M_REGS * M_REGS)!r} AS DOUBLE)
                  / (s_present + CAST({M_REGS} - n_regs AS DOUBLE)))
       END AS estimate
FROM folded
"""


# ---------- count-min heavy hitters ----------

CM_D = 4  # hash rows
CM_W = 1024  # buckets per row


def tile_heavy_hitters(
    keyed: DataFrame,
    threshold: int,
    tile_col: str = "tile",
    key_col: str = "key",
) -> DataFrame:
    """(tile, key, exact_cnt, est_cnt, is_true_hitter): the count-min
    heavy-hitter audit per tile — every key whose CM_D x CM_W count-min
    estimate clears ``threshold``, with its exact count alongside
    (est_cnt >= exact_cnt always; est_cnt > exact_cnt is collision
    inflation, and is_true_hitter = exact_cnt >= threshold exposes the
    sketch's false-positive set, the lsh_recall_audit shape).

    Why a sketch at 100 TB: the bucket-sum table is |tiles| x d x w
    rows REGARDLESS of key cardinality, merges by plain addition
    (partial aggregation is lossless), and only candidate keys probe it
    — the exact per-(tile, key) agg it replaces is the unbounded one.
    All integer, portable md5 row hashes, bit-exact in DuckDB.
    """
    rows = F.array(
        *[
            F.struct(
                F.lit(i).alias("i"),
                F.pmod(
                    md5_h64(
                        F.concat(
                            F.lit(f"cm{i}:"),
                            F.col(key_col).cast("string"),
                        )
                    ),
                    F.lit(CM_W),
                ).alias("b"),
            )
            for i in range(CM_D)
        ]
    )
    t = keyed.select(
        F.col(tile_col).alias("tile"),
        F.col(key_col).alias("key"),
        F.explode(rows).alias("r"),
    ).select("tile", "key", "r.i", "r.b")
    sums = t.groupBy("tile", "i", "b").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    probes = t.distinct().join(sums, ["tile", "i", "b"])
    est = probes.groupBy("tile", "key").agg(
        F.min("cnt").cast("long").alias("est_cnt")
    )
    exact = (
        keyed.select(
            F.col(tile_col).alias("tile"), F.col(key_col).alias("key")
        )
        .groupBy("tile", "key")
        .agg(F.count(F.lit(1)).alias("exact_cnt"))
    )
    return (
        est.join(exact, ["tile", "key"])
        .where(F.col("est_cnt") >= threshold)
        .select(
            "tile",
            "key",
            "exact_cnt",
            "est_cnt",
            (F.col("exact_cnt") >= threshold).alias("is_true_hitter"),
        )
    )


def tile_heavy_hitters_oracle_sql(src_sql: str, threshold: int) -> str:
    """DuckDB replay over ``src_sql`` (must yield tile, key)."""
    arms = " UNION ALL ".join(
        "SELECT tile, key, {i} AS i, "
        "(({h}) % {w} + {w}) % {w} AS b FROM src".format(
            i=i,
            w=CM_W,
            h=md5_h64_sql(f"'cm{i}:' || CAST(key AS VARCHAR)"),
        )
        for i in range(CM_D)
    )
    return f"""
WITH src AS ({src_sql}),
t AS ({arms}),
sums AS (SELECT tile, i, b, count(*) AS cnt FROM t GROUP BY 1, 2, 3),
probes AS (
  SELECT DISTINCT tile, key, i, b FROM t
),
est AS (
  SELECT p.tile, p.key, CAST(min(s.cnt) AS BIGINT) AS est_cnt
  FROM probes p JOIN sums s USING (tile, i, b)
  GROUP BY 1, 2
),
exact AS (SELECT tile, key, count(*) AS exact_cnt FROM src GROUP BY 1, 2)
SELECT e.tile, e.key, x.exact_cnt, e.est_cnt,
       (x.exact_cnt >= {threshold}) AS is_true_hitter
FROM est e JOIN exact x USING (tile, key)
WHERE e.est_cnt >= {threshold}
"""


# ---------- mergeable histogram quantile sketch ----------

Q_PERMILLE = (500, 900, 990)
#: bin width for the equi-width histogram (one literal shared by both
#: engines so floor(value/width) is the identical IEEE divide+floor)
BIN_WIDTH = 1000.0


def tile_quantile_sketch(
    keyed: DataFrame,
    width: float = BIN_WIDTH,
    qs: tuple[int, ...] = Q_PERMILLE,
) -> DataFrame:
    """Approximate per-tile quantiles from an equi-width histogram
    sketch, audited against the exact order statistic — the third leg of
    the sketch family (HLL = distinct, count-min = frequency, this =
    quantiles).  Spark's own approx_quantile (Greenwald-Khanna) is
    engine-private like its HLL++, so the sketch here is the portable
    classic: per-tile bin counts ``floor(value / width)`` that MERGE BY
    ADDITION — partial aggregation is lossless, which is the property
    that lets a 1000-executor rollup combine map-side and ship counts,
    never values.

    ``keyed``: (tile, key, value).  For each q in ``qs`` (permille):
    rank ``needed = ceil(q/1000 * n)`` exactly in integers, walk the
    cumulative bin counts to the covering bin, and interpolate linearly
    inside it.  Output per (tile, q_permille): n, the estimate, the
    exact rank-``needed`` order statistic, and the permille error — the
    audit you run before trusting width/sketch sizing fleet-wide.  The
    exact leg is a full per-tile sort by construction (the expensive
    thing the sketch replaces at 100 TB); the sketch leg is one hash agg
    on (tile, bin) plus a window over the tiny bin table (<= value
    range / width rows per tile, not n).
    """
    from pyspark.sql import Window

    t = keyed.select(
        "tile", "key", F.col("value").cast("double").alias("value")
    )
    bins = (
        t.select(
            "tile",
            F.floor(F.col("value") / F.lit(width)).cast("long").alias("bin"),
        )
        .groupBy("tile", "bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    cum_w = (
        Window.partitionBy("tile")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    bins = bins.withColumn(
        "cum", F.sum("cnt").over(cum_w).cast("long")
    ).withColumn("cum_prev", F.col("cum") - F.col("cnt"))
    n = t.groupBy("tile").agg(F.count(F.lit(1)).alias("n"))
    qdf = n.select(
        "tile",
        "n",
        F.explode(F.array(*[F.lit(q).cast("long") for q in qs])).alias(
            "q_permille"
        ),
    ).withColumn("needed", F.expr("(q_permille * n + 999) DIV 1000"))
    est_sel = (
        qdf.join(bins, "tile")
        .where((F.col("cum") >= F.col("needed")) & (F.col("cum_prev") < F.col("needed")))
        .withColumn(
            "estimate",
            F.expr(
                f"CAST(bin AS DOUBLE) * {width!r} + {width!r} * "
                "(CAST(needed - cum_prev AS DOUBLE) / CAST(cnt AS DOUBLE))"
            ),
        )
        .select("tile", "q_permille", "n", "needed", "estimate")
    )
    rank_w = Window.partitionBy("tile").orderBy(
        F.col("value").asc(), F.col("key").asc()
    )
    ranked = (
        t.withColumn("rn", F.row_number().over(rank_w).cast("long"))
        .select(
            F.col("tile").alias("rtile"),
            "rn",
            F.col("value").alias("exact_value"),
        )
    )
    exact = est_sel.join(
        ranked,
        on=(F.col("rtile") == F.col("tile")) & (F.col("rn") == F.col("needed")),
    ).select("tile", "q_permille", "n", "estimate", "exact_value")
    return exact.select(
        "tile",
        "q_permille",
        "n",
        "estimate",
        "exact_value",
        F.floor(
            F.lit(1000.0)
            * F.abs(F.col("estimate") - F.col("exact_value"))
            / F.col("exact_value")
        )
        .cast("long")
        .alias("err_permille"),
    )


def tile_quantile_sketch_oracle_sql(
    src_sql: str,
    width: float = BIN_WIDTH,
    qs: tuple[int, ...] = Q_PERMILLE,
) -> str:
    """DuckDB replay over ``src_sql`` (must yield tile, key, value).
    Identical integer rank arithmetic (// is DuckDB's floor division,
    DIV Spark's) and the identical a*W + W*(x/y) interpolation shape."""
    q_list = ", ".join(str(q) for q in qs)
    return f"""
WITH src AS ({src_sql}),
t AS (SELECT tile, key, CAST(value AS DOUBLE) AS value FROM src),
bins AS (
  SELECT tile, CAST(floor(value / {width!r}) AS BIGINT) AS bin,
         count(*) AS cnt
  FROM t GROUP BY 1, 2
),
cumd AS (
  SELECT tile, bin, cnt,
         sum(cnt) OVER (PARTITION BY tile ORDER BY bin
                        ROWS UNBOUNDED PRECEDING) AS cum
  FROM bins
),
n AS (SELECT tile, count(*) AS n FROM t GROUP BY 1),
qd AS (
  SELECT tile, n, q_permille,
         (q_permille * n + 999) // 1000 AS needed
  FROM n, UNNEST([{q_list}]::BIGINT[]) AS u(q_permille)
),
est AS (
  SELECT qd.tile, qd.q_permille, qd.n, qd.needed,
         CAST(c.bin AS DOUBLE) * {width!r} + {width!r} *
         (CAST(qd.needed - (c.cum - c.cnt) AS DOUBLE) / CAST(c.cnt AS DOUBLE))
           AS estimate
  FROM qd JOIN cumd c ON qd.tile = c.tile
  WHERE c.cum >= qd.needed AND (c.cum - c.cnt) < qd.needed
),
ranked AS (
  SELECT tile, value,
         row_number() OVER (PARTITION BY tile
                            ORDER BY value ASC, key ASC) AS rn
  FROM t
)
SELECT est.tile, est.q_permille, CAST(est.n AS BIGINT) AS n, est.estimate,
       r.value AS exact_value,
       CAST(floor(1000.0 * abs(est.estimate - r.value) / r.value) AS BIGINT)
         AS err_permille
FROM est JOIN ranked r ON est.tile = r.tile AND r.rn = est.needed
"""
