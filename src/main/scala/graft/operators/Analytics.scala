package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType

/** Relational analytics surface — the aggregations, windows, rollups,
  * sessionization, and JSON ops the reference's schema begs for but
  * never implements (SURVEY §2.4: "no group-by aggregation exists on
  * the data path").
  *
  * Float determinism contract: double sums go through DECIMAL(18,4)
  * (exact, associative — partial aggregation order cannot change the
  * result) and are cast back to double at the end, so a DuckDB oracle
  * computing the same decimal sum matches bit-for-bit. Averages are
  * exact-sum / count — one IEEE division of identical operands.
  */
object Analytics {

  /** sum(double) with decimal-exact accumulation. */
  def dsum(c: Column): Column = sum(c.cast(DecimalType(18, 4))).cast("double")

  /** avg(double) as exact-sum / count. */
  def davg(c: Column): Column =
    sum(c.cast(DecimalType(18, 4))).cast("double") / count(c)

  /** The 6-dp lift (the q104 discipline): round to 6 dp, then
    * DECIMAL(18,6) → ×1e6 → BIGINT, so sums and products of lifted
    * terms are exact integers in both engines and every later
    * decimal→double conversion is of an integer. */
  def lift6(c: Column): Column =
    round(c, 6).cast(DecimalType(18, 6)).multiply(lit(1000000)).cast("long")

  /** TPC-H Q1-shaped pricing summary over lineitem. */
  def pricingSummary(lineitem: DataFrame): DataFrame =
    lineitem
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc_price"),
        davg(col("l_quantity")).as("avg_qty"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** Top-k by measure — plans as TakeOrderedAndProject (per-partition
    * heap + driver merge of k rows; no global sort at any scale). */
  def topK(df: DataFrame, orderCol: String, tieBreak: String, k: Int): DataFrame =
    df.orderBy(col(orderCol).desc, col(tieBreak)).limit(k)

  /** Per-group recent-N via row_number (W1/W2 generalized). */
  def recentPerGroup(df: DataFrame, groupCol: String, orderCol: String,
      tieBreak: String, n: Int): DataFrame = {
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col(orderCol).desc, col(tieBreak))
    df.withColumn("rn", row_number().over(w)).filter(col("rn") <= n)
  }

  /** direction×group-style rollup breakdown with grouping_id — the
    * cube/rollup extension surface of SURVEY §2.4. */
  def rollupCounts(df: DataFrame, c1: String, c2: String, measure: String): DataFrame =
    df.rollup(col(c1), col(c2))
      .agg(count(lit(1)).as("n"), dsum(col(measure)).as("sum_measure"),
        grouping_id().as("gid"))
      .orderBy(col("gid"), asc_nulls_first(c1), asc_nulls_first(c2))

  /** Gaps-and-islands sessionization: a new session starts when the gap
    * to the previous event of the same user exceeds `gapSeconds`.
    * Batch-equivalent of `session_window` (which Streams uses), but
    * oracle-expressible. Exact integer arithmetic on epoch-micros. */
  def sessionize(events: DataFrame, userCol: String, tsCol: String,
      idCol: String, gapSeconds: Long): DataFrame = {
    val w = Window.partitionBy(col(userCol)).orderBy(col(tsCol), col(idCol))
    val gapUs = gapSeconds * 1000000L
    val us = unix_micros(col(tsCol))
    val newSession =
      when(us - lag(us, 1).over(w) > gapUs || lag(us, 1).over(w).isNull, 1).otherwise(0)
    events
      .withColumn("__new", newSession)
      .withColumn("session_id",
        sum(col("__new")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col(userCol), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col(tsCol)).as("session_start"),
        max(col(tsCol)).as("session_end"))
  }

  /** Tumbling-window aggregation (batch form of the streaming windowed
    * agg; `window().start` == `date_trunc` for epoch-aligned windows). */
  def hourlyAgg(events: DataFrame, tsCol: String, valueCol: String): DataFrame =
    events
      .groupBy(window(col(tsCol), "1 hour").getField("start").as("hour_start"))
      .agg(count(lit(1)).as("n"), dsum(col(valueCol)).as("sum_value"))
      .orderBy(col("hour_start"))

  /** JSON scalar extraction + aggregation over the events.props column
    * (F16/F17 surface: `get_json_object`). */
  def jsonKStats(events: DataFrame): DataFrame =
    events
      .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
      .groupBy(col("event_type"))
      .agg(count(col("k")).as("n"),
        sum(col("k")).as("sum_k"),
        (sum(col("k")).cast("double") / count(col("k"))).as("avg_k"))
      .orderBy(col("event_type"))

  /** A2-shaped one-pass multi-aggregate stats row. */
  def statsSummary(lineitem: DataFrame): DataFrame =
    lineitem.agg(
      count(lit(1)).as("n_rows"),
      countDistinct(col("l_orderkey")).as("n_orders"),
      min(col("l_shipdate")).as("min_ship"),
      max(col("l_shipdate")).as("max_ship"),
      dsum(col("l_quantity")).as("sum_qty"),
      max(col("l_extendedprice")).as("max_price"))

  /** The one cumulative-rank kernel of the quantile family. `rows`
    * carry (`groupCol`, `valueCol`) and a non-negative integral
    * `weight`: `lit(1L)` for raw rows, the count column for a
    * (group, value) histogram. Adds each row's cumulative rank range
    * `[__lo, __hi)`, the 0-based weighted ranks its value holds in its
    * group, and, with `withTotal`, the group's total weight `__n`.
    *
    * Peers: `__hi` is ONE ordered per-group window sum whose default
    * RANGE frame sums every peer of the current value, so each copy of
    * a value carries exactly the cumulative weight the (group, value)
    * histogram gives it, and raw rows and histogram rows select the
    * same values. `__lo` subtracts the value's peer weight: the row's
    * own weight when the rows are already one per (group, value)
    * (`distinct`), otherwise a per-(group, value) window sum that
    * rides the same exchange and sort (Catalyst drops it when no
    * picker reads `__lo`). `__n` is a group aggregate of the same rows
    * joined back by broadcast (one row per group).
    *
    * Scale shape: no group is ever buffered whole (the built-in
    * `percentile` holds a group in one aggregation buffer, so a 100×
    * group is an executor OOM): the window sort is Spark's spill-able
    * external sort. The price is one exchange on the group that moves
    * every input row, and one sort task per group. Raw rows skip the
    * pre-aggregate, which collapses nothing on near-unique values
    * (OPTIMIZATION_r21.md); histogram rows collapse duplicates before
    * the exchange. */
  private[graft] def rankRange(rows: DataFrame, groupCol: String,
      valueCol: String, weight: Column = lit(1L), distinct: Boolean = false,
      withTotal: Boolean = true): DataFrame = {
    val byValue = Window.partitionBy(col(groupCol)).orderBy(col(valueCol))
    val peers =
      if (distinct) weight
      else sum(weight).over(Window.partitionBy(col(groupCol), col(valueCol)))
    val cum = rows.withColumn("__hi", sum(weight).over(byValue))
      .withColumn("__lo", col("__hi") - peers)
    if (!withTotal) cum
    else cum.join(broadcast(rows.groupBy(col(groupCol))
      .agg(sum(weight).as("__n"))), Seq(groupCol))
  }

  /** Interpolating picker over [[rankRange]] rows whose value is
    * `__v`: Spark's `Percentile` formula exactly, position
    * r = p·(n−1), the values at ranks ⌊r⌋ and ⌈r⌉, and
    * (⌈r⌉−r)·lower + (r−⌊r⌋)·upper when r is fractional, so the output
    * is bit-identical to the built-in. One row per group: `groupCol`
    * and each named percentile, rounded to 6 dp. */
  private def interpolate(cum: DataFrame, groupCol: String,
      ps: Seq[(String, Double)]): DataFrame = {
    def pos(p: Double): Column = lit(p) * (col("__n") - 1).cast("double")
    def valueAtRank(k: Column): Column =
      max(when(col("__lo") <= k && k < col("__hi"), col("__v")))
        .cast("double")
    val picks = ps.flatMap { case (nme, p) =>
      Seq(valueAtRank(floor(pos(p))).as(s"__f_$nme"),
        valueAtRank(ceil(pos(p))).as(s"__c_$nme"))
    } :+ first(col("__n")).as("__n")
    cum.groupBy(col(groupCol)).agg(picks.head, picks.tail: _*)
      .select(col(groupCol) +: ps.map { case (nme, p) =>
        val (r, vf, vc) = (pos(p), col(s"__f_$nme"), col(s"__c_$nme"))
        round(when(floor(r) === ceil(r), vf)
          .otherwise((ceil(r) - r) * vf + (r - floor(r)) * vc), 6).as(nme)
      }: _*)
  }

  /** Lower-rule picker over [[rankRange]] rows whose value is `__v`:
    * the num/den quantile is the SMALLEST value whose cumulative weight
    * `__hi` reaches ceil(W·num/den), W = `__n`. The threshold is pure
    * BIGINT, `(W·num + den − 1) DIV den`, never a float of W, and the
    * selection a conditional `min` of existing values: nothing is
    * interpolated, so the result is bit-exact in any engine. One row
    * per group: `groupCol`, `__n` and each named quantile. */
  private def lowerRule(cum: DataFrame, groupCol: String,
      ps: Seq[(String, Long, Long)]): DataFrame =
    cum.groupBy(col(groupCol)).agg(first(col("__n")).as("__n"),
      ps.map { case (nme, num, den) =>
        min(when(col("__hi") >= expr(s"(__n * $num + ${den - 1}) div $den"),
          col("__v"))).as(nme)
      }: _*)

  /** Exact interpolated quantiles (p50, p90, p99) per group over the
    * raw rows: [[rankRange]] + [[interpolate]], bit-identical to the
    * built-in `percentile` (spec-asserted) without buffering any group.
    * A group whose values are all null keeps its row with null
    * percentiles, as the built-in does; null values are not ranked.
    * [[quantilesApprox]] is the sketch alternative when a rank-error
    * tolerance is acceptable. */
  def quantiles(df: DataFrame, groupCol: String, valueCol: String): DataFrame =
    quantilesOf(df.select(col(groupCol), col(valueCol).as("__v")), groupCol,
      lit(1L), distinct = false)

  /** [[quantiles]] over an additive (group, __v, __cnt) histogram: the
    * state of the streaming twin, `Streams.quantileStream`. */
  private[graft] def quantilesFromHist(all: DataFrame,
      groupCol: String): DataFrame =
    quantilesOf(all, groupCol, col("__cnt"), distinct = true)

  private def quantilesOf(all: DataFrame, groupCol: String, weight: Column,
      distinct: Boolean): DataFrame = {
    val cum = rankRange(all.filter(col("__v").isNotNull), groupCol, "__v",
      weight, distinct)
    val picked = interpolate(cum, groupCol,
      Seq("p50" -> 0.5, "p90" -> 0.9, "p99" -> 0.99))
    all.select(col(groupCol)).distinct()
      .join(broadcast(picked), Seq(groupCol), "left").orderBy(col(groupCol))
  }

  /** Exact WEIGHTED quantiles per group (r17): the token-budget
    * question the unweighted q41 cannot answer ("the median document
    * BY TOKEN MASS", "the price below which half the shipped quantity
    * sits"). [[rankRange]] over the raw rows weighted by `weightCol`,
    * then [[lowerRule]]: fully integer-exact. Weights must be
    * non-negative integers after the `cast("long")`; null values or
    * weights drop. Output wide: (group, p25, p50, p75). */
  def weightedQuantiles(df: DataFrame, groupCol: String, valueCol: String,
      weightCol: String): DataFrame = {
    val base = df
      .filter(col(valueCol).isNotNull && col(weightCol).isNotNull)
      .select(col(groupCol), col(valueCol).as("__v"),
        col(weightCol).cast("long").as("__w"))
    lowerRule(rankRange(base, groupCol, "__v", col("__w")), groupCol,
      Seq(("p25", 1L, 4L), ("p50", 1L, 2L), ("p75", 3L, 4L)))
      .drop("__n").orderBy(col(groupCol))
  }

  /** Scale-safe quantiles: `approx_percentile` (Greenwald-Khanna
    * sketch) with a fixed-size buffer per group — rank error bounded by
    * 1/accuracy regardless of group size, mergeable map-side partials.
    * Returns actual data values (no interpolation), so it is sketch-
    * not-oracle territory: declared rows-only, with a spec asserting
    * each approx quantile is within the exact neighborhood on the
    * fixtures. The production path for q41-shaped questions at 100 TB. */
  def quantilesApprox(df: DataFrame, groupCol: String, valueCol: String,
      accuracy: Int = 10000): DataFrame =
    df.groupBy(col(groupCol))
      .agg(percentile_approx(col(valueCol),
        array(lit(0.5), lit(0.9), lit(0.99)), lit(accuracy)).as("__q"))
      .select(col(groupCol),
        round(element_at(col("__q"), 1), 6).as("p50"),
        round(element_at(col("__q"), 2), 6).as("p90"),
        round(element_at(col("__q"), 3), 6).as("p99"))
      .orderBy(col(groupCol))

  /** Mergeable log-linear quantile sketch (HdrHistogram-style
    * bucketing): values are mapped to integer buckets — exact below
    * 2^(subBits+1), then `subBits` bits of mantissa per power-of-two
    * range — and the sketch is just the (group, bucket) count
    * histogram. Quantiles are answered by nearest-rank over the
    * cumulative bucket counts, returning the bucket LOWER BOUND, so
    * the relative error is bounded by 2^-subBits (~3.1% at the
    * default 5) regardless of data size or distribution.
    *
    * Why this exists next to [[quantiles]] (exact) and
    * [[quantilesApprox]] (GK): bucket counts are ADDITIVE, so the
    * sketch is merge-order and partition-count independent — unlike
    * GK (q58, the suite's sole non-oracled query) — while holding
    * ≤ ~(64-subBits)·2^subBits buckets per group (≈2k at subBits=5)
    * no matter how many rows feed it: the 100 TB answer when a
    * bounded-error quantile must also be deterministic and cheaply
    * mergeable across streams/stores. Bucketing is pure integer math
    * (exponent via `length(bin(v))`, shifts, masks) so a DuckDB
    * oracle replays it bit-for-bit — no floating log anywhere.
    *
    * Contract: `valueCol` is a non-negative metric with ≤2 decimal
    * places of interest (values are lifted to exact centi-units via
    * the round→DECIMAL discipline); nulls are excluded from ranks; a
    * negative value raises a clear per-row error. */
  def quantilesHdr(df: DataFrame, groupCol: String, valueCol: String,
      subBits: Int = 5): DataFrame = {
    require(subBits >= 1 && subBits <= 16, s"subBits out of range: $subBits")
    val m = subBits
    val sub = 1L << m
    // exact centi-units: round(x,2) → DECIMAL(18,2) → ×100 is
    // engine-identical (the q102 lift discipline)
    val centi = round(col(valueCol), 2).cast(DecimalType(18, 2))
      .multiply(lit(100)).cast("long")
    val guarded = when(centi >= 0, centi)
      .otherwise(raise_error(concat(
        lit(s"quantilesHdr: negative value in $valueCol: "),
        col(valueCol).cast("string"))))
    val hist = df.filter(col(valueCol).isNotNull)
      .select(col(groupCol), guarded.as("__u"))
      .withColumn("__e", (length(bin(col("__u"))) - 1).cast("int"))
      // bucket id: small values map to themselves (ids 0..2^(m+1)-1);
      // past that, (exponent << m) | top-m mantissa bits — monotone in
      // the value, ids from (m+1)·2^m up, no overlap with the small
      // range
      .withColumn("__v", when(col("__e") <= m, col("__u"))
        .otherwise(expr(s"shiftleft(cast(__e as bigint), $m) + " +
          s"(shiftright(__u, __e - $m) & ${sub - 1})")))
      .groupBy(col(groupCol), col("__v"))
      .agg(count(lit(1)).as("__cnt"))
    // nearest rank ceil(p·n) is the lower rule at den = 100
    val picked = lowerRule(
      rankRange(hist, groupCol, "__v", col("__cnt"), distinct = true),
      groupCol, Seq(50L, 90L, 99L).map(q => (s"__b$q", q, 100L)))
    // bucket → exact lower bound (centi-units), then one exact-integer
    // division to the reported estimate
    def lb(b: String): Column =
      when(col(b) < lit(2 * sub), col(b)).otherwise(expr(
        s"shiftleft(cast(1 as bigint), cast(shiftright($b, $m) as int)) + " +
          s"shiftleft($b & ${sub - 1}, cast(shiftright($b, $m) as int) - $m)"))
    def est(b: String, out: String): Column =
      round(lb(b).cast("double") / lit(100.0), 6).as(out)
    picked.select(col(groupCol), col("__n").as("n"),
      est("__b50", "p50_est"), est("__b90", "p90_est"), est("__b99", "p99_est"))
      .orderBy(col(groupCol))
  }

  /** Distribution drift between two snapshots of the same stream
    * (population stability index per key). Rows are split into
    * snapshot A / snapshot B by `splitA`, binned by `bin` (caller
    * supplies an exact integer binning), and PSI is computed over the
    * JOINT bin support with add-one (Laplace) smoothing so empty bins
    * on one side stay finite:
    *   psi = Σ_bins (pA − pB) · ln(pA / pB),
    *   pX = (cnt_X + 1) / (n_X + n_bins).
    * Cross-engine determinism is the q104 lift discipline: both
    * factors are rounded to 6 dp, lifted to 1e6-scaled BIGINTs, the
    * per-bin products summed as DECIMAL(38,0) — every decimal→double
    * conversion is of an integer. One shuffle (the (key, bin)
    * count), a broadcast totals join, map-side combinable throughout;
    * the bin histogram, not the row stream, is what flows into the
    * PSI fold — flat at any N for bounded binnings. */
  def drift(df: DataFrame, keyCol: String, bin: Column, splitA: Column)
      : DataFrame = {
    val counts = df
      .select(col(keyCol), bin.as("__bin"), splitA.cast("boolean").as("__a"))
      .filter(col("__bin").isNotNull && col("__a").isNotNull)
      .groupBy(col(keyCol), col("__bin"))
      .agg(sum(when(col("__a"), 1L).otherwise(0L)).as("__ca"),
        sum(when(!col("__a"), 1L).otherwise(0L)).as("__cb"))
    val totals = counts.groupBy(col(keyCol)).agg(
      sum(col("__ca")).as("n_a"), sum(col("__cb")).as("n_b"),
      count(lit(1)).as("n_bins"))
    val j = counts.join(broadcast(totals), Seq(keyCol))
    val pa = (col("__ca") + 1).cast("double") /
      (col("n_a") + col("n_bins")).cast("double")
    val pb = (col("__cb") + 1).cast("double") /
      (col("n_b") + col("n_bins")).cast("double")
    val term = lift6(pa - pb) * lift6(log(pa / pb))
    j.groupBy(col(keyCol)).agg(
      first(col("n_a")).as("n_a"), first(col("n_b")).as("n_b"),
      first(col("n_bins")).as("n_bins"),
      round(sum(term.cast(DecimalType(38, 0))).cast("double") / lit(1e12), 6)
        .as("psi"))
      .orderBy(col(keyCol))
  }

  /** approx_count_distinct sketch surface (HLL++) — not
    * oracle-expressible (sketch internals differ per engine); declared
    * rows-only per the contract. */
  def approxDistinct(events: DataFrame): DataFrame =
    events
      .groupBy(col("event_type"))
      .agg(approx_count_distinct(col("user_id")).as("approx_users"),
        count(lit(1)).as("n"))
      .orderBy(col("event_type"))

  /** Ordered event funnel: how many users reach each stage of
    * `stages`, where stage i counts only if it happens AT OR AFTER
    * the user's stage-(i−1) time (the classic view→click→purchase
    * conversion shape). Per stage: one filtered scan reduced to the
    * user's earliest qualifying time (map-side-combinable min), gated
    * by an equi-join on the previous stage's per-user frame — the
    * stage frames are |users|-bounded, never event-stream-sized, and
    * each join key is the user id (co-partitioned aggregates).
    * Returns ONE row: per-stage user counts `n_<stage>` plus
    * step-conversion rates `<a>_to_<b>` (IEEE division of exact
    * longs, 6 dp, null when the upstream stage is empty). */
  def funnel(df: DataFrame, userCol: String, typeCol: String,
      tsCol: String, stages: Seq[String]): DataFrame = {
    require(stages.nonEmpty, "funnel needs at least one stage")
    // output column names derive from the stage strings (n_<stage>,
    // <a>_to_<b>): duplicates would silently collide and non-identifier
    // characters produce ambiguous columns — reject both up front
    require(stages.distinct.size == stages.size,
      s"duplicate stage names: ${stages.mkString(", ")}")
    stages.foreach(s => require(s.matches("[A-Za-z_][A-Za-z0-9_]*"),
      s"stage name is not a simple identifier: '$s'"))
    val perStage = stages.foldLeft(List.empty[DataFrame]) { (acc, stage) =>
      val base = df.filter(col(typeCol) === stage)
        .select(col(userCol).as("__u"), col(tsCol).as("__ts"))
      val gated = acc.headOption match {
        case None => base
        case Some(prev) =>
          base.join(prev.select(col("__u"), col("__t").as("__prev")), Seq("__u"))
            .filter(col("__ts") >= col("__prev"))
            .select(col("__u"), col("__ts"))
      }
      gated.groupBy(col("__u")).agg(min(col("__ts")).as("__t")) :: acc
    }.reverse
    val counts = perStage.zip(stages).map { case (f, s) =>
      f.agg(count(lit(1)).as(s"n_$s")) }
    val joined = counts.reduce((a, b) => a.crossJoin(broadcast(b)))
    val rates = stages.sliding(2).collect { case Seq(a, b) =>
      round(when(col(s"n_$a") > 0,
        col(s"n_$b").cast("double") / col(s"n_$a").cast("double")), 6)
        .as(s"${a}_to_$b")
    }.toSeq
    joined.select(stages.map(s => col(s"n_$s")) ++ rates: _*)
  }

  /** Cohort retention: for each activity period (fixed-length buckets
    * of `periodDays` on the event time), the count of active users and
    * the fraction also active in the NEXT period. Period ids are
    * integral `unix_micros DIV period` (exact at any timestamp — a
    * double division would not be), activity reduces to distinct
    * (user, period) pairs (map-side combine), and "retained" is a
    * left-semi self-join against the period-shifted activity set —
    * everything is |users × periods|-bounded, never event-sized.
    * Returns (period, period_start, n_users, n_retained, retention)
    * ordered by period; the last period's retention is its honest
    * value against an empty future (0.0) — callers drop it when
    * reporting. */
  /** Exact per-group top-k WITHOUT a window sort: each group's k
    * highest-`valueCol` rows (ties broken by `idCol` ascending — a
    * total order), computed by the bounded mergeable
    * [[graft.functions.TopKAggregator]]. The window-rank formulation
    * (q08) shuffles and sorts every row of a group on one task — the
    * classic hot-group straggler at 100 TB; this one combines ≤ 2k-
    * entry partial buffers map-side and shuffles one buffer per
    * (group, partition), so a billion-row group costs linear local
    * comparisons spread across its partitions. Results are identical
    * to the window form (spec-asserted) and merge-order independent.
    * Contract: rows with a NULL value or id are DROPPED (a null cannot
    * be ranked by value); NaN values order as the GREATEST double —
    * Spark SQL's own sort semantics, made merge-order-safe inside the
    * aggregate via `java.lang.Double.compare`.
    * Returns (group, rank 1..k, id, value) ordered by (group, rank). */
  def topKPerGroup(df: DataFrame, groupCol: String, valueCol: String,
      idCol: String, k: Int): DataFrame = {
    val topk = udaf(new graft.functions.TopKAggregator(k),
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[
        graft.functions.TopKEntry]())
    df.filter(col(valueCol).isNotNull && col(idCol).isNotNull)
      .select(col(groupCol), col(valueCol).cast("double").as("__v"),
        col(idCol).cast("long").as("__id"))
      .groupBy(col(groupCol))
      .agg(topk(col("__v"), col("__id")).as("__top"))
      .select(col(groupCol), posexplode(col("__top")).as(Seq("__pos", "__e")))
      .select(col(groupCol), (col("__pos") + 1).cast("int").as("rank"),
        col("__e.id").as(idCol), col("__e.v").as(valueCol))
      .orderBy(col(groupCol), col("rank"))
  }

  /** Gap-filled (densified) daily activity rollup: per (user, day)
    * event count and decimal-exact value sum, with the days a user was
    * INACTIVE between their first and last active day filled in as
    * explicit zero rows — the calendar-densification step every
    * time-series consumer (charting, anomaly windows, training-feature
    * frames) otherwise re-implements. The calendar is generated
    * per-user from a |users|-bounded min/max aggregate and exploded
    * in-plan (`sequence`), so the fill never leaves the user's own
    * partition; days are integral `unix_micros DIV 86400000000` (the
    * q109/q13 engine-exact bucket). `maxDays` guards the explode
    * against a corrupt timestamp fanning one user into millions of
    * rows — same posture as `Scale.rangeJoin`'s cap, a clear per-row
    * error instead of an executor OOM. */
  def gapFillDaily(df: DataFrame, userCol: String, tsCol: String,
      valueCol: String, maxDays: Long = 36525L): DataFrame = {
    val dayUs = 86400000000L
    densifiedDaily(df, userCol, tsCol, valueCol, maxDays)
      .select(col("__u").as(userCol), col("day"),
        (col("day") * dayUs).cast("bigint").as("day_start_us"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        coalesce(col("sum_value"), lit(0.0)).as("sum_value"))
      .orderBy(col(userCol), col("day"))
  }

  /** [[gapFillDaily]]'s forward-fill twin: inactive days carry the
    * LAST ACTIVE day's sum forward (`fill_value`) instead of zero —
    * the last-observation-carried-forward shape time-series feature
    * frames want (a user's "current" daily level persists until the
    * next observation). `n_events` still reports 0 on filled days, so
    * the fill is distinguishable from real activity. The carry is a
    * per-user `last(ignoreNulls)` running window over the densified
    * frame — same single user-key exchange; a user's first day is
    * always active (the span starts there), so no leading null ever
    * survives. */
  def gapFillDailyLocf(df: DataFrame, userCol: String, tsCol: String,
      valueCol: String, maxDays: Long = 36525L): DataFrame = {
    val dayUs = 86400000000L
    val w = Window.partitionBy(col("__u")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    densifiedDaily(df, userCol, tsCol, valueCol, maxDays)
      .select(col("__u"), col("day"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        last(col("sum_value"), ignoreNulls = true).over(w).as("fill_value"))
      .select(col("__u").as(userCol), col("day"),
        (col("day") * dayUs).cast("bigint").as("day_start_us"),
        col("n_events"), col("fill_value"))
      .orderBy(col(userCol), col("day"))
  }

  /** Shared core of the gap-fill pair: the per-user densified
    * (`__u`, day, n_events?, sum_value?) frame — per-(user, day)
    * aggregate left-joined onto the user's in-plan day calendar, with
    * the `maxDays` fan-out guard. */
  private def densifiedDaily(df: DataFrame, userCol: String,
      tsCol: String, valueCol: String, maxDays: Long): DataFrame = {
    require(maxDays > 0, s"maxDays must be positive: $maxDays")
    val dayUs = 86400000000L
    val daily = df.select(col(userCol).as("__u"),
        expr(s"unix_micros($tsCol) DIV $dayUs").as("day"),
        col(valueCol).as("__v"))
      .groupBy(col("__u"), col("day"))
      .agg(count(lit(1)).as("n_events"), dsum(col("__v")).as("sum_value"))
    val spans = daily.groupBy(col("__u"))
      .agg(min(col("day")).as("__d0"), max(col("day")).as("__d1"))
    val guarded = when(col("__d1") - col("__d0") < lit(maxDays),
      sequence(col("__d0"), col("__d1")))
      .otherwise(raise_error(concat(
        lit("gapFillDaily: user "), col("__u").cast("string"),
        lit(s" spans over $maxDays days - corrupt timestamps, or raise maxDays"))))
    spans.select(col("__u"), explode(guarded).as("day"))
      .join(daily, Seq("__u", "day"), "left")
  }

  /** Merge overlapping (or touching) intervals per key — range
    * consolidation, the interval twin of [[sessionize]]'s
    * gaps-and-islands on points: collapse each key's interval set to
    * its disjoint covering spans. Curation uses: consolidating
    * duplicated character spans into maximal regions, supplier/user
    * busy periods, coverage maps over crawl windows.
    *
    * Plan: one window per key ordered by (start, end) — a running max
    * of the end bound over the PRECEDING frame marks island starts
    * (strictly-greater start = a gap; equal bounds touch and merge),
    * a running sum of those marks numbers the islands, and the final
    * groupBy(key, island) needs NO extra exchange (hash partitioning
    * on the key already satisfies the clustered distribution on
    * (key, island)). Per-key sort is the window's spillable sort —
    * nothing driver-sized anywhere. Island membership is
    * deterministic under ties: equal (start, end) rows are
    * interchangeable, and an interval's start never exceeds its own
    * end, so tie order cannot change any running max a later row sees.
    *
    * Rows with a null bound or start > end carry no interval and are
    * dropped (spec-pinned contract — mirrors the null-key drop in the
    * point sessionizer). */
  def mergeIntervals(df: DataFrame, keyCol: String, startCol: String,
      endCol: String): DataFrame = {
    val rows = df
      .filter(col(startCol).isNotNull && col(endCol).isNotNull &&
        col(startCol) <= col(endCol))
      .select(col(keyCol).as("__k"), col(startCol).as("__s"),
        col(endCol).as("__e"))
    val w = Window.partitionBy(col("__k")).orderBy(col("__s"), col("__e"))
    val prevMax =
      max(col("__e")).over(w.rowsBetween(Window.unboundedPreceding, -1))
    val isl = rows
      .withColumn("__new",
        when(prevMax.isNull || col("__s") > prevMax, 1L).otherwise(0L))
      .withColumn("__isl",
        sum(col("__new")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
    isl.groupBy(col("__k"), col("__isl"))
      .agg(min(col("__s")).as("span_start"), max(col("__e")).as("span_end"),
        count(lit(1)).as("n_merged"))
      .select(col("__k").as(keyCol), col("span_start"), col("span_end"),
        col("n_merged"))
      .orderBy(col(keyCol), col("span_start"))
  }

  /** Robust per-group outlier detection via median absolute deviation —
    * the quality-curation anomaly gate (MAD tolerates the very
    * outliers it hunts, unlike mean/stddev z-scores where one huge
    * value inflates its own yardstick). Flags rows with
    * |x − median| > (kMilli/1000) · 1.4826 · MAD, where 1.4826 scales
    * MAD to σ-equivalents under normality and kMilli=3500 is the
    * conventional 3.5σ fence.
    *
    * Exact and engine-replayable end to end: both medians are
    * [[rankRange]] over the raw rows + [[interpolate]] at p = 0.5 (the
    * MAD rows derive from the value rows by a broadcast |x − med|
    * projection); the fence comparison lifts 6-dp deviation and MAD
    * to 1e6-scaled integers ([[lift6]]) and compares
    * devL·10⁷ > madL·14826·kMilli in DECIMAL(38,0) — no float
    * boundary anywhere. A zero-MAD group (over half its mass on one
    * value) flags every row off the median, with a null robust_z.
    * Second scan = the per-row flag pass, inherent to row output. */
  def robustOutliers(df: DataFrame, groupCol: String, idCol: String,
      valueCol: String, kMilli: Int = 3500): DataFrame = {
    require(kMilli > 0, s"kMilli must be positive: $kMilli")
    val rows = df.filter(col(valueCol).isNotNull)
      .select(col(groupCol).as("__g"), col(idCol).as("__id"),
        col(valueCol).cast("double").as("__x"))
    def median(vs: DataFrame, out: String): DataFrame =
      interpolate(rankRange(vs, "__g", "__v"), "__g", Seq(out -> 0.5))
    val med = median(rows.select(col("__g"), col("__x").as("__v")), "med")
    val mad = median(rows.join(broadcast(med), Seq("__g"))
      .select(col("__g"), abs(col("__x") - col("med")).as("__v")), "mad")
    val big = DecimalType(38, 0)
    rows.join(broadcast(med), Seq("__g")).join(broadcast(mad), Seq("__g"))
      .withColumn("__devl", lift6(abs(col("__x") - col("med"))))
      .withColumn("__madl", lift6(col("mad")))
      .filter(col("__devl").cast(big) * lit(10000000L) >
        col("__madl").cast(big) * lit(14826L * kMilli))
      .select(col("__g").as(groupCol), col("__id").as(idCol),
        col("__x").as(valueCol), col("med"), col("mad"),
        when(col("__madl") > 0L,
          round(col("__devl").cast("double") * lit(10000.0) /
            (col("__madl").cast("double") * lit(14826.0)), 6))
          .as("robust_z"))
      .orderBy(col(groupCol), col(idCol))
  }

  /** Per-key rolling-window anomaly flags — the time-series twin of
    * [[robustOutliers]]: each row is judged against the mean/stddev
    * of its own trailing window (`window` rows strictly BEFORE it, so
    * a spike never inflates its own yardstick), the drift-tolerant
    * form batch z-scores can't express. The σ comparison never
    * touches floats: with v = 1e6-lifted value, S = Σv and Q = Σv²
    * over the frame and n its row count,
    *
    *   |x − S/n| > k·σ  ⇔  (n·v − S)² > k²·(n·Q − S²)
    *
    * — all exact integers (DECIMAL(38,0) on the Spark side, HUGEINT
    * in the DuckDB oracle; both hold the ≤1e26 products exactly).
    * `n·Q − S²` ≥ 0 by Cauchy–Schwarz; a zero-variance window flags
    * any departure from its constant (LHS > 0 = RHS), and an
    * in-variance row never flags. Rows with fewer than `minPeriods`
    * predecessors report but never flag.
    *
    * Scale shape: ONE window over one shuffle on `keyCol` with a
    * bounded rows-frame (running state = `window` rows), linear per
    * key, no second scan. The frame order must be made total by
    * `orderCols` or tied rows make the frame multiset
    * engine-dependent. Returns (key, orderCols…, value, n_prev,
    * roll_mean, is_anomaly ∈ {0,1}). */
  def rollingAnomaly(df: DataFrame, keyCol: String, orderCols: Seq[String],
      valueCol: String, window: Int = 8, k: Int = 3,
      minPeriods: Int = 4): DataFrame = {
    require(window >= 1 && k >= 1 && minPeriods >= 1 && minPeriods <= window,
      s"bad window/k/minPeriods: $window/$k/$minPeriods")
    val med = DecimalType(19, 0)
    val w = Window.partitionBy(col(keyCol))
      .orderBy(orderCols.map(col): _*)
      .rowsBetween(-window.toLong, -1L)
    val v = lift6(col(valueCol).cast("double"))
    val base = df.filter(col(valueCol).isNotNull)
      .withColumn("__v", v)
      .withColumn("__s", sum(col("__v")).over(w))
      .withColumn("__q", sum(col("__v").cast(med) * col("__v").cast(med)).over(w))
      .withColumn("__n", count(col("__v")).over(w))
    val a = (col("__n") * col("__v") - col("__s")).cast(med)
    val lhs = a * a
    val rhs = lit(k.toLong * k) *
      (col("__n").cast(med) * col("__q") - col("__s").cast(med) * col("__s").cast(med))
    base
      .withColumn("n_prev", col("__n").cast("int"))
      .withColumn("roll_mean",
        when(col("__n") > 0L,
          round(col("__s").cast("double") / col("__n").cast("double")
            / lit(1e6), 6)))
      .withColumn("is_anomaly",
        when(col("__n") >= minPeriods.toLong && lhs > rhs, 1).otherwise(0))
      .drop("__v", "__s", "__q", "__n")
  }

  /** Snapshot diff — the dataset-versioning audit between two
    * snapshots of the same schema: row churn (added / removed /
    * changed / unchanged by key) plus per-column change counts among
    * common rows, the report a curation run reads before promoting a
    * regenerated corpus (did the rebuild touch what it claimed, and
    * only that?).
    *
    * ONE full-outer equi-join on the key, ONE aggregation computing
    * every count (map-side combinable conditional sums) — no second
    * scan, no collect. Cell comparison is null-safe (`<=>` /
    * IS NOT DISTINCT FROM); rows with null keys never match across
    * sides and count as removed+added, the standard join semantics
    * (document keys accordingly). Output is the tall (metric, n)
    * form: 'added', 'removed', 'changed', 'unchanged', and
    * 'changed:<col>' per value column — bounded by the schema, flat
    * at any N. */
  def snapshotDiff(a: DataFrame, b: DataFrame, keyCols: Seq[String])
      : DataFrame = {
    require(keyCols.nonEmpty, "keyCols must be non-empty")
    require(a.columns.toSeq == b.columns.toSeq,
      s"schemas differ: ${a.columns.toSeq} vs ${b.columns.toSeq}")
    val valCols = a.columns.filterNot(keyCols.contains).toSeq
    def tag(df: DataFrame, side: String) =
      df.select(keyCols.map(col) ++
        valCols.map(c => col(c).as(s"__${side}_$c")) :+
        lit(1).as(s"__in_$side"): _*)
    val j = tag(a, "a").join(tag(b, "b"), keyCols, "full_outer")
    val inA = col("__in_a").isNotNull
    val inB = col("__in_b").isNotNull
    def cellDiff(c: String): Column =
      !(col(s"__a_$c") <=> col(s"__b_$c"))
    val anyDiff = valCols.map(cellDiff).reduceOption(_ || _)
      .getOrElse(lit(false))
    def cnt(cond: Column): Column =
      sum(when(cond, 1L).otherwise(0L))
    val rest = Seq(
      cnt(inA && !inB).as("removed"),
      cnt(inA && inB && anyDiff).as("changed"),
      cnt(inA && inB && !anyDiff).as("unchanged")) ++
      valCols.map(c => cnt(inA && inB && cellDiff(c)).as(s"chg_$c"))
    val wide = j.agg(cnt(inB && !inA).as("added"), rest: _*)
    val pairs = (Seq("added", "removed", "changed", "unchanged")
      .map(m => s"'$m', $m") ++
      valCols.map(c => s"'changed:$c', chg_$c")).mkString(", ")
    wide.select(expr(
      s"stack(${4 + valCols.size}, $pairs) as (metric, n)"))
      .orderBy(col("metric"))
  }

  def retention(df: DataFrame, userCol: String, tsCol: String,
      periodDays: Int = 7): DataFrame = {
    require(periodDays > 0, s"periodDays must be positive: $periodDays")
    val periodUs = periodDays.toLong * 86400L * 1000000L
    val act = df
      .select(col(userCol).as("__u"),
        expr(s"unix_micros($tsCol) DIV $periodUs").as("period"))
      .distinct()
      .localCheckpoint() // three consumers below; do not recompute
    val nxt = act.select(col("__u"), (col("period") - 1).as("period"))
    val retained = act.join(nxt, Seq("__u", "period"), "left_semi")
      .groupBy(col("period")).agg(count(lit(1)).as("n_retained"))
    act.groupBy(col("period")).agg(count(lit(1)).as("n_users"))
      .join(retained, Seq("period"), "left")
      .select(col("period"),
        (col("period") * periodUs).cast("bigint").as("period_start_us"),
        col("n_users"),
        coalesce(col("n_retained"), lit(0L)).as("n_retained"),
        round(coalesce(col("n_retained"), lit(0L)).cast("double")
          / col("n_users").cast("double"), 6).as("retention"))
      .orderBy(col("period"))
  }

  /** Per-column schema audit — the profile a 100 TB curation run reads
    * before trusting a new drop: row count, null count, EXACT distinct
    * count, and min/max per requested column, in ONE aggregate pass
    * (the generic complement to [[graft.operators.Curation.profileCard]]'s
    * per-source content card).
    *
    * Multiple `count_distinct`s in one aggregate plan via Catalyst's
    * Expand rewrite: rows multiply by |cols| BEFORE the shuffle, but
    * the partial (map-side) aggregate collapses each expanded stream
    * to its distinct values per partition, so shuffle volume is
    * bounded by Σ per-partition distinct counts — never N·|cols|.
    * Profile wide tables in column batches if |cols| is large; the
    * expansion factor is the knob.
    *
    * min/max compare on the NATIVE type and cast the single-row result
    * to string for the uniform tall schema — never lexicographic
    * compares of stringified numerics. Castings are format-stable
    * across engines for integer and string columns (the declared-query
    * surface); float/timestamp renderings may differ engine-to-engine,
    * so oracle those through the 6-dp/epoch disciplines instead.
    * Output: one row per column (col_name, n_rows, n_null, n_distinct,
    * min_s, max_s) — bounded by the schema, flat at any N. */
  def columnProfile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "cols must be non-empty")
    val missing = cols.filterNot(df.columns.contains)
    require(missing.isEmpty, s"no such columns: ${missing.mkString(",")}")
    val aggs = cols.flatMap { c => Seq(
      count(col(c)).as(s"__nn_$c"),
      count_distinct(col(c)).as(s"__nd_$c"),
      min(col(c)).cast("string").as(s"__mn_$c"),
      max(col(c)).cast("string").as(s"__mx_$c")) }
    val wide = df.agg(count(lit(1)).as("__n"), aggs: _*)
    wide.select(explode(array(cols.map(c => struct(
        lit(c).as("col_name"),
        col("__n").as("n_rows"),
        (col("__n") - col(s"__nn_$c")).as("n_null"),
        col(s"__nd_$c").as("n_distinct"),
        col(s"__mn_$c").as("min_s"),
        col(s"__mx_$c").as("max_s"))): _*)).as("p"))
      .select(col("p.*"))
      .orderBy(col("col_name"))
  }

  /** Period-over-period movers — the "what changed this period"
    * monitor: per key, event counts in the LAST period vs the one
    * before (period = truncating micros DIV, the q109/q112
    * discipline), delta in exact longs and relative change in exact
    * integer ppm (delta·10⁶ DIV n_prev; NULL for new keys with no
    * previous-period mass — a ratio against zero is a lie, the delta
    * column carries the signal), top-`k` by (|delta| DESC, key ASC —
    * a total order, so the boundary is bit-stable cross-engine).
    * One conditional-sum aggregate over the two-period slice (no
    * window, no self-join; map-side combine), the 1-row max-period
    * frame broadcast; output ≤ k rows. Keys present in only one of
    * the two periods read 0 for the other. */
  def topMovers(df: DataFrame, keyCol: String, tsCol: String,
      periodUs: Long, k: Int): DataFrame = {
    require(periodUs > 0 && k > 0,
      s"bad topMovers params ($periodUs, $k)")
    val base = df
      .filter(col(keyCol).isNotNull && col(tsCol).isNotNull)
      .select(col(keyCol).as("__k"),
        expr(s"unix_micros(`$tsCol`) DIV ${periodUs}L").as("__p"))
    val maxP = base.agg(max(col("__p")).as("__mp")).localCheckpoint()
    base.crossJoin(broadcast(maxP))
      .filter(col("__p") >= col("__mp") - 1)
      .groupBy(col("__k"))
      .agg(
        sum(when(col("__p") === col("__mp") - 1, 1L).otherwise(0L))
          .as("n_prev"),
        sum(when(col("__p") === col("__mp"), 1L).otherwise(0L))
          .as("n_cur"))
      .withColumn("delta", col("n_cur") - col("n_prev"))
      .withColumn("change_ppm",
        when(col("n_prev") > 0,
          expr("(n_cur - n_prev) * 1000000L DIV n_prev")))
      .select(col("__k").as(keyCol), col("n_prev"), col("n_cur"),
        col("delta"), col("change_ppm"))
      .orderBy(abs(col("delta")).desc, col(keyCol))
      .limit(k)
  }

  /** Bucketed time-series downsample (OHLC + volume) per key — the
    * resample a telemetry/feature pipeline runs before modeling: for
    * each (key, fixed period bucket): event count, open/close (first/
    * last value BY AN EXPLICIT sequence column — `min_by`/`max_by`
    * hash aggregates, so the plan is ONE map-side-combinable
    * aggregation with no window and no per-key sort; a hot key costs
    * its share of ONE shuffle, never a serial scan), low/high, and
    * the decimal-exact value sum. Output bounded by keys × active
    * buckets. `seqCol` must order events uniquely within a
    * (key, bucket) — a non-unique seq leaves open/close tied to the
    * engine's argmin tie choice (both Spark and DuckDB pick an
    * arbitrary winner). Bucketing uses truncating integer DIV on
    * micros (the q109/q112 discipline — Spark DIV == DuckDB //
    * bit-for-bit): monotone, but truncation means bucket 0 spans
    * (-period, period) around the epoch — pre-epoch timestamps share
    * it with the first post-epoch period. */
  def downsample(df: DataFrame, keyCol: String, tsCol: String,
      seqCol: String, valueCol: String, periodUs: Long): DataFrame = {
    require(periodUs > 0, s"periodUs must be positive: $periodUs")
    df.select(col(keyCol),
        expr(s"unix_micros($tsCol) DIV $periodUs").as("bucket"),
        col(seqCol).as("__s"), col(valueCol).as("__v"))
      .groupBy(col(keyCol), col("bucket"))
      .agg(count(lit(1)).as("n_events"),
        min_by(col("__v"), col("__s")).as("open_v"),
        max_by(col("__v"), col("__s")).as("close_v"),
        min(col("__v")).as("low_v"),
        max(col("__v")).as("high_v"),
        dsum(col("__v")).as("sum_v"))
      .select(col(keyCol), col("bucket"),
        (col("bucket") * periodUs).cast("bigint").as("bucket_start_us"),
        col("n_events"), col("open_v"), col("close_v"), col("low_v"),
        col("high_v"), col("sum_v"))
      .orderBy(col(keyCol), col("bucket"))
  }

  /** Per-group distribution drift (PSI — population stability index)
    * between two snapshots of a numeric column: the VALUE-distribution
    * member of the versioning-audit family (q139 `snapshotDiff` = row
    * churn, q121 `centroidDrift` = embedding drift; this = "did the
    * values move?", the model-monitoring gate before promoting a
    * regenerated corpus).
    *
    * PSI = Σ_buckets (pA − pB)·ln(pA/pB) over fixed-width value
    * buckets with add-one smoothing over the group's OWN bucket
    * support (pX = (cX+1)/(nX+K), K = buckets present in either
    * snapshot — finite for one-sided buckets AND one-sided groups, so
    * nothing is silently dropped). Cross-engine exact: values lift to
    * 1e6-scaled BIGINTs (6-dp round through DECIMAL — the q102
    * discipline) and bucket by truncating DIV; each share and the
    * ln ratio are IEEE divisions of exact longs written as the SAME
    * expression tree in both engines, 6-dp-lifted; each term is a
    * product of two lifted ints summed in DECIMAL(38,0); the 1e12
    * unscale happens once on the final integer. Conventional read:
    * PSI < 0.1 stable, 0.1–0.25 moderate, > 0.25 action. PSI measures
    * SHAPE, not mass: a single-bucket group always reads 0 (both
    * smoothed shares are 1), and against an absent side the smoothed
    * reference is uniform — read n_a/n_b alongside psi for the mass
    * story (q139 snapshotDiff is the row-churn complement).
    *
    * Plan: two map-side-combinable (group, bucket) counts, one
    * full-outer equi-join, group totals broadcast back (|groups|-
    * bounded), one aggregation. Null group/value rows are excluded
    * from both snapshots. */
  def distributionDrift(a: DataFrame, b: DataFrame, groupCol: String,
      valueCol: String, bucketWidth: Double): DataFrame = {
    val w6 = driftW6(bucketWidth)
    driftFromCounts(
      driftBucketCounts(a, groupCol, valueCol, w6),
      driftBucketCounts(b, groupCol, valueCol, w6), groupCol)
  }

  /** The 1e6-lifted bucket width of [[distributionDrift]] (6-dp round
    * through DECIMAL — the q102 lift discipline). */
  private[graft] def driftW6(bucketWidth: Double): Long = {
    require(bucketWidth > 0, s"bucketWidth must be positive: $bucketWidth")
    val w6 = (BigDecimal(bucketWidth)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP) * BigDecimal(1000000))
      .toLongExact
    require(w6 > 0, s"bucketWidth under 1e-6: $bucketWidth")
    w6
  }

  /** Per-(group, bucket) counts of one snapshot — (dd_g, dd_b, c)
    * with the exact lift/DIV bucketing of [[distributionDrift]].
    * Exposed separately so a STREAMING monitor can hold these counts
    * as its bounded additive state (`Streams.driftStream`): counts of
    * a union == sum of counts, so accumulating state and re-counting
    * history are bit-identical. */
  private[graft] def driftBucketCounts(df: DataFrame, groupCol: String,
      valueCol: String, w6: Long): DataFrame = df
    .filter(col(groupCol).isNotNull && col(valueCol).isNotNull)
    .select(col(groupCol).as("dd_g"),
      expr(s"CAST(CAST(round($valueCol, 6) AS DECIMAL(18,6)) * 1000000 AS BIGINT) DIV ${w6}L")
        .as("dd_b"))
    .groupBy(col("dd_g"), col("dd_b"))
    .agg(count(lit(1)).as("c"))

  /** PSI from two pre-counted (dd_g, dd_b, c) frames — the arithmetic
    * half of [[distributionDrift]], unchanged. */
  private[graft] def driftFromCounts(aCounts: DataFrame, bCounts: DataFrame,
      groupCol: String): DataFrame = {
    val j = aCounts.select(col("dd_g"), col("dd_b"), col("c").as("c_a"))
      .join(bCounts.select(col("dd_g"), col("dd_b"), col("c").as("c_b")),
        Seq("dd_g", "dd_b"), "full_outer")
      .select(col("dd_g"), col("dd_b"),
        coalesce(col("c_a"), lit(0L)).as("c_a"),
        coalesce(col("c_b"), lit(0L)).as("c_b"))
    val tot = j.groupBy(col("dd_g")).agg(
      sum(col("c_a")).as("n_a"), sum(col("c_b")).as("n_b"),
      count(lit(1)).as("k_b"))
    val pa = (col("c_a") + 1).cast("double") /
      (col("n_a") + col("k_b")).cast("double")
    val pb = (col("c_b") + 1).cast("double") /
      (col("n_b") + col("k_b")).cast("double")
    j.join(broadcast(tot), Seq("dd_g"))
      .withColumn("__t",
        ((lift6(pa) - lift6(pb)) * lift6(log(pa / pb)))
          .cast(DecimalType(38, 0)))
      .groupBy(col("dd_g"), col("n_a"), col("n_b"), col("k_b"))
      .agg(sum(col("__t")).as("__s"))
      .select(col("dd_g").as(groupCol), col("n_a"), col("n_b"),
        col("k_b").as("n_buckets"),
        round(col("__s").cast("double") / lit(1e12), 6).as("psi"))
      .orderBy(col(groupCol))
  }

  /** Exact pairwise Pearson correlation matrix over numeric columns —
    * the feature-redundancy audit next to [[graft.operators.Curation.fieldAssociation]]'s
    * categorical MI. Spark's built-in `corr` is a floating-point fold
    * (merge-order dependent — the documented typed-Aggregator hazard);
    * this computes every moment as an EXACT integer: values 6-dp-lift
    * to 1e6-scaled longs, per-pair conditional sums (pairwise null
    * deletion: a pair's moments count only rows where BOTH sides are
    * present) accumulate in DECIMAL(38,0) — associative, partition-
    * order independent — and corr = (n·Sxy − Sx·Sy) /
    * (√(n·Sxx − Sx²)·√(n·Syy − Sy²)) evaluates on correctly-rounded
    * integer→double conversions with IEEE sqrt/divide, the SAME tree
    * both engines. Zero-variance sides yield NULL, not NaN.
    *
    * ONE aggregate pass over the scan (all pairs' moments map-side
    * combinable); output = C(|cols|, 2) rows. Envelope: n·Σ(x6·y6)
    * must fit DECIMAL(38,0) — fine through ~1e9 rows of ≤1e4-magnitude
    * values; pre-aggregate or chunk beyond. */
  def correlationMatrix(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, s"need >= 2 columns: $cols")
    require(cols.distinct.size == cols.size, s"duplicate columns: $cols")
    val missing = cols.filterNot(df.columns.contains)
    require(missing.isEmpty, s"no such columns: ${missing.mkString(",")}")
    val dec = DecimalType(38, 0)
    def lift(c: String): Column =
      round(col(c), 6).cast(DecimalType(18, 6))
        .multiply(lit(1000000)).cast("long").cast(dec)
    val pairs = for {
      i <- cols.indices; j <- (i + 1) until cols.size
    } yield (cols(i), cols(j))
    val aggs = pairs.zipWithIndex.flatMap { case ((a, b), ix) =>
      val both = col(a).isNotNull && col(b).isNotNull
      val x = when(both, lift(a))
      val y = when(both, lift(b))
      Seq(
        count(when(both, lit(1))).cast(dec).as(s"__n_$ix"),
        sum(x).as(s"__sx_$ix"), sum(y).as(s"__sy_$ix"),
        sum(x * x).as(s"__sxx_$ix"), sum(y * y).as(s"__syy_$ix"),
        sum(x * y).as(s"__sxy_$ix"))
    }
    val wide = df.agg(aggs.head, aggs.tail: _*)
    wide.select(explode(array(pairs.zipWithIndex.map { case ((a, b), ix) =>
        val n = col(s"__n_$ix")
        val num = n * col(s"__sxy_$ix") - col(s"__sx_$ix") * col(s"__sy_$ix")
        val da = n * col(s"__sxx_$ix") - col(s"__sx_$ix") * col(s"__sx_$ix")
        val db = n * col(s"__syy_$ix") - col(s"__sy_$ix") * col(s"__sy_$ix")
        struct(lit(a).as("col_a"), lit(b).as("col_b"),
          n.cast("long").as("n"),
          when(da > 0 && db > 0,
            round(num.cast("double")
              / (sqrt(da.cast("double")) * sqrt(db.cast("double"))), 6))
            .as("corr"))
      }: _*)).as("p"))
      .select(col("p.*"))
      .orderBy(col("col_a"), col("col_b"))
  }

  /** Top-k co-occurring item pairs across baskets (market-basket
    * mining; here "basket" is any grouping — an order's parts, a
    * user's session apps, a doc's entities). Pairs are SET
    * co-occurrence per basket ([[graft.operators.Curation.pmiCollocations]]
    * is the ordered-adjacency view over token streams): distinct
    * (basket, item), within-basket self-join on item_a < item_b (each
    * unordered pair once), count, top-k under the (n DESC, a, b)
    * total order via TakeOrderedAndProject.
    *
    * Pair cost is Σ_baskets C(|basket|, 2) — quadratic in BASKET size,
    * not corpus size. `maxBasketSize > 0` drops oversized baskets
    * BEFORE pair generation (a degenerate mega-basket — one crawl dump
    * "session" with 1e5 items — is 5e9 pairs of noise; result changes
    * are the explicit, documented semantics of the cap, unlike a
    * silent truncation). */
  def frequentPairs(df: DataFrame, basketCol: String, itemCol: String,
      k: Int = 20, maxBasketSize: Int = 0): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val items = df
      .filter(col(basketCol).isNotNull && col(itemCol).isNotNull)
      .select(col(basketCol).as("fp_b"), col(itemCol).as("fp_i"))
      .distinct()
    val sized = if (maxBasketSize > 0) {
      val ok = items.groupBy(col("fp_b"))
        .agg(count(lit(1)).as("__n")).filter(col("__n") <= maxBasketSize)
        .select(col("fp_b"))
      items.join(ok, Seq("fp_b"), "left_semi")
    } else items
    sized.select(col("fp_b"), col("fp_i").as("item_a"))
      .join(sized.select(col("fp_b"), col("fp_i").as("item_b")), Seq("fp_b"))
      .filter(col("item_a") < col("item_b"))
      .groupBy(col("item_a"), col("item_b"))
      .agg(count(lit(1)).as("n_baskets"))
      .orderBy(col("n_baskets").desc, col("item_a"), col("item_b"))
      .limit(k)
  }

  /** Hill tail-index estimator per group — the heavy-tail sibling of
    * q104's full Zipf regression: α̂ = k / Σ_{i≤k} ln(x_(i) / x_(k+1))
    * over the top k+1 order statistics, the standard "how Pareto is
    * this distribution" gauge (α < 2 ⇒ infinite variance — sampling
    * and mean-based stats stop being trustworthy). Each ln term is
    * ONE IEEE division of two parquet doubles (identical operands both
    * engines — the q142 discipline), 6-dp lifted, summed exact; α is
    * then ONE IEEE division k·10⁶ / Σ, rounded 6 dp. Boundary ties
    * are harmless: the top-(k+1) VALUE multiset is tie-order
    * invariant. One row_number window per group (the q148 posture,
    * spillable); groups with ≤ k positive values drop; non-positive
    * and null values drop (ln needs x > 0). */
  def tailIndex(df: DataFrame, groupCol: String, valueCol: String,
      k: Int = 100): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    // ties in the window order are harmless — equal values give equal
    // ln terms, so the summed top-k multiset is tie-order invariant
    val w = Window.partitionBy(col("__g")).orderBy(col("__v").desc)
    val top = df
      .filter(col(groupCol).isNotNull && col(valueCol).isNotNull &&
        col(valueCol) > 0.0)
      .select(col(groupCol).as("__g"),
        col(valueCol).cast("double").as("__v"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k + 1)
    val kth = top.filter(col("__rn") === k + 1)
      .select(col("__g"), col("__v").as("__xk"))
    top.filter(col("__rn") <= k)
      .join(broadcast(kth), Seq("__g")) // only groups with > k values
      .withColumn("__t", lift6(log(col("__v") / col("__xk"))))
      .groupBy(col("__g"))
      .agg(count(lit(1)).as("__n"), sum(col("__t")).as("__s"))
      .filter(col("__n") === k.toLong && col("__s") > 0L)
      .select(col("__g").as(groupCol), lit(k).as("k"),
        round(lit(k.toLong * 1000000L).cast("double")
          / col("__s").cast("double"), 6).as("alpha"))
      .orderBy(col(groupCol))
  }

  /** Association rules over basket co-occurrence — the directional
    * successor of [[frequentPairs]]: for every co-occurring item pair,
    * BOTH rules a→b and b→a with support counts, confidence in exact
    * integer ppm (n_pair·10⁶ DIV n_ante — BIGINT, threshold-stable),
    * and lift as ONE IEEE expression of exact longs
    * ((n_pair·N as double·double mult) / (n_a·n_b) — the identical
    * tree both engines, documented float metric). Same distinct-
    * basket-items shape and `maxBasketSize` contract as
    * [[frequentPairs]]; item supports come from the same distinct
    * frame (exchange reuse), rule rows bounded by 2× the pair count.
    * Rules below `minPairCount` drop. */
  def associationRules(df: DataFrame, basketCol: String, itemCol: String,
      minPairCount: Long = 1L, maxBasketSize: Int = 0): DataFrame = {
    require(minPairCount >= 1, s"minPairCount must be >= 1: $minPairCount")
    val items = df
      .filter(col(basketCol).isNotNull && col(itemCol).isNotNull)
      .select(col(basketCol).as("__b"), col(itemCol).as("__i"))
      .distinct()
    val sized = if (maxBasketSize > 0) {
      val ok = items.groupBy(col("__b"))
        .agg(count(lit(1)).as("__n")).filter(col("__n") <= maxBasketSize)
        .select(col("__b"))
      items.join(ok, Seq("__b"), "left_semi")
    } else items
    val nBaskets = sized.select(col("__b")).distinct()
      .agg(count(lit(1)).as("__N"))
    val supp = sized.groupBy(col("__i")).agg(count(lit(1)).as("__s"))
    val pairs = sized.select(col("__b"), col("__i").as("__ia"))
      .join(sized.select(col("__b"), col("__i").as("__ib")), Seq("__b"))
      .filter(col("__ia") < col("__ib"))
      .groupBy(col("__ia"), col("__ib"))
      .agg(count(lit(1)).as("__np"))
      .filter(col("__np") >= minPairCount)
      // consumed by BOTH directions of the rule union — checkpoint or
      // each branch re-runs the basket self-join (the r11 lesson)
      .localCheckpoint()
    val rules = pairs
      .select(col("__ia").as("ante"), col("__ib").as("conseq"), col("__np"))
      .union(pairs
        .select(col("__ib").as("ante"), col("__ia").as("conseq"), col("__np")))
    // support rejoins carry `merge`, never a forced broadcast: the
    // item vocabulary is unbounded in general and a forced broadcast
    // of a large aggregate side is the r13 duplicatedSpans OOM class
    // (r17 ADVICE). AQE still broadcasts a measured-small supp side on
    // its own; the single-row nBaskets frame stays broadcast.
    rules
      .join(supp.select(col("__i").as("ante"),
        col("__s").as("n_ante")).hint("merge"), Seq("ante"))
      .join(supp.select(col("__i").as("conseq"),
        col("__s").as("__nc")).hint("merge"), Seq("conseq"))
      .crossJoin(broadcast(nBaskets))
      .select(col("ante"), col("conseq"), col("__np").as("n_pair"),
        col("n_ante"),
        expr("__np * 1000000L DIV n_ante").as("conf_ppm"),
        round((col("__np").cast("double") * col("__N").cast("double"))
          / (col("n_ante").cast("double") * col("__nc").cast("double")), 6)
          .as("lift"))
      .orderBy(col("ante"), col("conseq"))
  }

  /** Per-group concentration audit — Gini coefficient + top-decile
    * share of a measure (how dominated is each segment by its heaviest
    * members: corpus mass by source, spend by user, events by key).
    * [[graft.operators.Scale.heavyHitters]] NAMES the hot keys; this is
    * the scalar summary that says whether to go looking.
    *
    * Exact/tie-safe: values 6-dp-lift to longs; one row_number window
    * per group ordered by value DESC (linear per key, spillable — the
    * q133 window posture); gini numerator Σ(n − 2i + 1)·v6 and the
    * top-⌈n/10⌉ conditional sum are INVARIANT under tie reordering
    * (equal values contribute equal terms whichever order the engines
    * pick), so cross-engine row_number tie divergence cannot change
    * the output. Each final number is one IEEE division of exact
    * integers, 6-dp rounded. All-zero groups yield NULL ratios. Group
    * totals broadcast back (|groups|-bounded — this is a per-SEGMENT
    * summary, not a per-key one). */
  def concentration(df: DataFrame, groupCol: String, valueCol: String)
      : DataFrame = {
    val dec = DecimalType(38, 0)
    val lifted = df
      .filter(col(groupCol).isNotNull && col(valueCol).isNotNull)
      .select(col(groupCol).as("cc_g"), lift6(col(valueCol)).as("__v6"))
    val w = Window.partitionBy(col("cc_g")).orderBy(col("__v6").desc)
    val ranked = lifted.withColumn("__i", row_number().over(w))
    val tot = lifted.groupBy(col("cc_g"))
      .agg(count(lit(1)).as("__n"), sum(col("__v6").cast(dec)).as("__s"))
    ranked.join(broadcast(tot), Seq("cc_g"))
      .groupBy(col("cc_g"), col("__n"), col("__s"))
      .agg(
        sum(((col("__n") - lit(2) * col("__i") + lit(1)).cast(dec)
          * col("__v6").cast(dec)).cast(dec)).as("__gnum"),
        sum(when(col("__i") <= expr("(__n + 9) DIV 10"),
          col("__v6").cast(dec))).as("__top"))
      .select(col("cc_g").as(groupCol), col("__n").as("n"),
        when(col("__s") > 0,
          round(col("__gnum").cast("double")
            / (col("__n").cast(dec) * col("__s")).cast("double"), 6))
          .as("gini"),
        when(col("__s") > 0,
          round(coalesce(col("__top"), lit(0).cast(dec)).cast("double")
            / col("__s").cast("double"), 6)).as("top_decile_share"))
      .orderBy(col(groupCol))
  }

  /** Order-preserving sequence-motif counting per key: the number of
    * subsequence occurrences of `motif` (e.g. view→click→purchase) in
    * each key's event stream — positions strictly increasing, gaps
    * allowed. The per-OCCURRENCE complement to the q108 funnel (which
    * gates each user once per stage): "how many times did the pattern
    * happen", not "how many users reached stage k".
    *
    * The textbook DP (c_k at a row of type m_k = Σ of c_{k−1} over
    * STRICTLY EARLIER rows) is expressible as |motif|−1 chained
    * cumulative windows over ONE (key) exchange and ONE in-partition
    * sort (same window spec throughout — Spark plans a single Window
    * node chain, no extra shuffles): running_0 = 1 at m_0 rows;
    * running_k = (type == m_k) ? cumsum(running_{k−1}) over
    * [unbounded, −1] : 0; answer = Σ running_last per key. All exact
    * BIGINT arithmetic (ANSI: a count overflowing 2^63 throws rather
    * than wrapping); ties broken by `tiebreak` so the row order — and
    * therefore the count — is total. Linear per key and spillable,
    * the q133 window posture. */
  def sequenceMotifs(df: DataFrame, keyCol: String, tsCol: String,
      tiebreak: String, typeCol: String, motif: Seq[String]): DataFrame = {
    require(motif.size >= 2, s"motif needs >= 2 stages: $motif")
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol), col(tiebreak))
      .rowsBetween(Window.unboundedPreceding, -1)
    val base = df.filter(col(keyCol).isNotNull && col(tsCol).isNotNull)
    val first = when(col(typeCol) === motif.head, lit(1L)).otherwise(lit(0L))
    val last = motif.tail.foldLeft(first) { (prev, stage) =>
      when(col(typeCol) === stage,
        coalesce(sum(prev).over(w), lit(0L))).otherwise(lit(0L))
    }
    base.withColumn("__m", last)
      .groupBy(col(keyCol))
      .agg(sum(col("__m")).as("n_motifs"))
      .orderBy(col(keyCol))
  }

  /** Functional-dependency strength A→B — how nearly does column A
    * determine column B ([[graft.operators.Curation.fieldAssociation]]'s
    * MI says the fields are associated; this says whether the
    * association is a mapping): violations = Σ_a (n_a − max_b n_ab),
    * the minimum number of rows to delete for A→B to hold exactly;
    * fd_strength = 1 − violations/n. All exact integer counts, one
    * IEEE division, 6-dp rounded. Plan: (a, b) contingency aggregate →
    * per-a max/sum → one global reduction; null rows (either column)
    * excluded. */
  def functionalDependency(df: DataFrame, detCol: String, depCol: String)
      : DataFrame = {
    val base = df.filter(col(detCol).isNotNull && col(depCol).isNotNull)
      .groupBy(col(detCol).as("fd_a"), col(depCol).as("fd_b"))
      .agg(count(lit(1)).as("__c"))
    base.groupBy(col("fd_a"))
      .agg(sum(col("__c")).as("__na"), max(col("__c")).as("__mx"))
      .agg(sum(col("__na")).as("n_rows"),
        count(lit(1)).as("n_keys"),
        sum(col("__na") - col("__mx")).as("violations"))
      .select(col("n_rows"), col("n_keys"), col("violations"),
        round(lit(1.0) - col("violations").cast("double")
          / col("n_rows").cast("double"), 6).as("fd_strength"))
  }

  /** Single change-point per key — the offline complement to
    * [[rollingAnomaly]]'s online flags: where did this series' MEAN
    * shift? The CUSUM statistic in exact integers: with v lifted to
    * 6-dp longs, t = 1..n the (tsCol, seqCol)-ordered position, S_t
    * the prefix sum, the deviation D_t = n·S_t − t·S_n (the scaled
    * "prefix mean vs global mean" gap; exact DECIMAL(38,0)) peaks at
    * the split point. Returns per key: the t* maximizing |D_t| over
    * t < n (ties → earliest t — a total order), its timestamp, n, and
    * the 6-dp means either side plus their shift. Keys with one row
    * have no split and drop; null values are excluded.
    *
    * Plan: ONE key exchange carries both windows (the ordered prefix
    * sum and the full-partition n/S_n — fixed frames, O(n) per key,
    * never the quadratic running-following frame), then the argmax is
    * the two-stage max-then-min-tiebreak aggregate (composite integer
    * keys would overflow at |D| scale — the q124 shape instead), with
    * the per-key max rejoined under an explicit `merge` hint. */
  def changePoint(df: DataFrame, keyCol: String, tsCol: String,
      seqCol: String, valueCol: String): DataFrame = {
    val dec = DecimalType(38, 0)
    val wOrd = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol), col(seqCol))
    val wAll = Window.partitionBy(col(keyCol))
    val base = df.filter(col(valueCol).isNotNull && col(tsCol).isNotNull)
      .withColumn("__v", lift6(col(valueCol).cast("double")))
      .withColumn("__t", row_number().over(wOrd).cast("long"))
      .withColumn("__st", sum(col("__v")).over(wOrd))
      .withColumn("__n", count(lit(1)).over(wAll))
      .withColumn("__sn", sum(col("__v")).over(wAll))
      .filter(col("__t") < col("__n"))
      .withColumn("__d",
        col("__n").cast(dec) * col("__st").cast(dec)
          - col("__t").cast(dec) * col("__sn").cast(dec))
      .withColumn("__ad", abs(col("__d")))
    val dmax = base.groupBy(col(keyCol))
      .agg(max(col("__ad")).as("__dmax"))
    base.join(dmax.hint("merge"), Seq(keyCol))
      .filter(col("__ad") === col("__dmax"))
      .groupBy(col(keyCol))
      .agg(min(col("__t")).as("t_star"),
        min_by(col(tsCol), col("__t")).as("ts_star"),
        min_by(col("__st"), col("__t")).as("__sstar"),
        first(col("__n")).as("n"),
        first(col("__sn")).as("__snall"))
      .select(col(keyCol), col("n"), col("t_star"), col("ts_star"),
        round(col("__sstar").cast("double") / col("t_star").cast("double")
          / lit(1e6), 6).as("mean_before"),
        round((col("__snall") - col("__sstar")).cast("double")
          / (col("n") - col("t_star")).cast("double") / lit(1e6), 6)
          .as("mean_after"),
        round((col("__snall") - col("__sstar")).cast("double")
          / (col("n") - col("t_star")).cast("double") / lit(1e6)
          - col("__sstar").cast("double") / col("t_star").cast("double")
          / lit(1e6), 6).as("shift"))
      .orderBy(col(keyCol))
  }

  /** Cohort retention MATRIX — the full (signup cohort × age) table
    * behind [[retention]]'s period-over-period cut: a user's cohort is
    * the integral period (`unix_micros DIV periodUs`, the q109/q141
    * engine-exact bucket) of their FIRST activity; for each (cohort,
    * age) the matrix counts users of that cohort active `age` periods
    * later, with retention relative to the cohort's size (its age-0
    * count — every user is active in their own first period by
    * definition). State bounded by |users| + |cohorts × ages| at every
    * stage: distinct (user, period) first, min-period cohort
    * aggregate, one count aggregate, and the age-0 sizes rejoined
    * under a `merge` hint. Truncating DIV means the pre-epoch periods
    * land in bucket ≤ 0 (the q141 documented posture). */
  def cohortMatrix(df: DataFrame, userCol: String, tsCol: String,
      periodUs: Long): DataFrame = {
    require(periodUs > 0, s"periodUs must be positive: $periodUs")
    val up = df.select(col(userCol).as("__u"),
        expr(s"unix_micros(`$tsCol`) DIV ${periodUs}L").as("__p"))
      .filter(col("__u").isNotNull && col("__p").isNotNull)
      .distinct()
    val cohort = up.groupBy(col("__u")).agg(min(col("__p")).as("__c"))
    val counts = up.join(cohort, Seq("__u"))
      .groupBy(col("__c").as("cohort_period"),
        (col("__p") - col("__c")).as("age"))
      .agg(count(lit(1)).as("n_users"))
    val sizes = counts.filter(col("age") === 0L)
      .select(col("cohort_period"), col("n_users").as("__size"))
    counts.join(sizes.hint("merge"), Seq("cohort_period"))
      .select(col("cohort_period"),
        (col("cohort_period") * periodUs).as("cohort_start_us"),
        col("age"), col("n_users"),
        round(col("n_users").cast("double") / col("__size").cast("double"),
          6).as("retention"))
      .orderBy(col("cohort_period"), col("age"))
  }

  /** Funnel LATENCY — the time dimension [[funnel]]'s counts leave
    * out: per user, the lag between their FIRST `fromType` event and
    * their first `toType` event at-or-after it (same-instant counts,
    * the q108 gating). Two |users|-bounded min aggregates and one
    * join — never a per-user window over the event stream. Users
    * missing either stage drop. Returns (user, from_ts, to_ts,
    * lag_us) ordered by user; feed the lag column to [[quantiles]]
    * for the conversion-time distribution. */
  def conversionLag(df: DataFrame, userCol: String, tsCol: String,
      typeCol: String, fromType: String, toType: String): DataFrame = {
    val v = df.filter(col(typeCol) === fromType)
      .groupBy(col(userCol)).agg(min(col(tsCol)).as("from_ts"))
    val t = df.filter(col(typeCol) === toType)
      .join(v, Seq(userCol))
      .filter(col(tsCol) >= col("from_ts"))
      .groupBy(col(userCol)).agg(min(col(tsCol)).as("to_ts"),
        first(col("from_ts")).as("from_ts"))
    t.select(col(userCol), col("from_ts"), col("to_ts"),
        (expr("unix_micros(to_ts)") - expr("unix_micros(from_ts)"))
          .as("lag_us"))
      .orderBy(col(userCol))
  }

  /** Benford leading-digit audit — the classic synthetic-data /
    * fabricated-numbers screen: distribution of the leading digit of
    * a POSITIVE INTEGER measure (pass monetary values as exact cents;
    * a decimal→long cast is exact) against Benford's law. The digit is
    * taken from the BIGINT's decimal string (integer-to-string is
    * format-stable across engines — never float formatting, never a
    * log10 whose power-of-ten boundary is one ulp away); expected
    * shares are the nine 6-dp constants INLINED on both engines, so no
    * libm call exists anywhere in the comparison. All nine digits are
    * always present in the output (absent digits read n=0). Returns
    * (digit 1-9, n_values, share, benford, abs_dev) — share and
    * abs_dev 6-dp, NULL share on an empty input. The positive-integer
    * contract is ENFORCED: the filter is on the value's LONG cast
    * (≥ 1), so a fractional input in (0,1) — which would cast to
    * digit 0, invisible in the nine rows yet counted in the share
    * denominator — is dropped rather than silently under-summing. */
  def benfordProfile(df: DataFrame, valueCol: String): DataFrame = {
    val benford = Seq(0.301030, 0.176091, 0.124939, 0.096910, 0.079181,
      0.066947, 0.057992, 0.051153, 0.045757)
    val spark = df.sparkSession
    val counts = df
      .filter(col(valueCol).isNotNull && col(valueCol).cast("long") >= 1)
      .select(substring(col(valueCol).cast("long").cast("string"), 1, 1)
        .cast("int").as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("__n"))
      // ≤ 9 rows, TWO consumers (digit join + the total reduction):
      // without the barrier each broadcast subtree recomputes the
      // corpus scan — the q144 multi-branch class
      .localCheckpoint()
    val digits = spark.range(1, 10)
      .select(col("id").cast("int").as("digit"),
        element_at(array(benford.map(lit): _*), col("id").cast("int"))
          .as("benford"))
    val total = counts.agg(sum(col("__n")).as("__nt"))
    digits
      .join(counts, Seq("digit"), "left")
      .crossJoin(broadcast(total))
      .select(col("digit"),
        coalesce(col("__n"), lit(0L)).as("n_values"),
        when(col("__nt") > 0,
          round(coalesce(col("__n"), lit(0L)).cast("double")
            / col("__nt").cast("double"), 6)).as("share"),
        col("benford"))
      .withColumn("abs_dev",
        when(col("share").isNotNull,
          round(abs(col("share") - col("benford")), 6)))
      .orderBy(col("digit"))
  }

  /** Day-of-week seasonality profile per key — the event-data quality
    * check behind "is this stream really organic?": per-key event
    * counts by day of week with an exact chi-square uniformity
    * statistic. dow = ((unix_micros DIV 86_400_000_000) + 3) mod 7 —
    * 0 = Monday (1970-01-01 was a Thursday), engine-exact integer
    * arithmetic (truncating DIV: pre-epoch timestamps shift one day,
    * the q141 documented posture). chi2 against uniform is computed
    * entirely in integers — Σ_d (7·n_d − N)² over ALL SEVEN days
    * (absent days contribute N²) — then ONE IEEE division by 7N, so
    * the statistic is cross-engine exact; a perfectly uniform week
    * reads an exact 0.0. Peak day ties break to the earliest dow.
    * Output: (key, n_total, chi2_dow, peak_dow, peak_share). */
  def dowProfile(df: DataFrame, keyCol: String, tsCol: String): DataFrame = {
    val dec = DecimalType(38, 0)
    val perDow = df.filter(col(keyCol).isNotNull && col(tsCol).isNotNull)
      .groupBy(col(keyCol),
        pmod(expr(s"unix_micros(`$tsCol`) DIV 86400000000L") + lit(3L),
          lit(7L)).as("__dow"))
      .agg(count(lit(1)).as("__nd"))
    val totals = perDow.groupBy(col(keyCol))
      .agg(sum(col("__nd")).as("__nt"), max(col("__nd")).as("__mx"),
        count(lit(1)).as("__days"))
    perDow.join(totals.hint("merge"), Seq(keyCol))
      .groupBy(col(keyCol))
      .agg(first(col("__nt")).as("n_total"),
        (sum({
          val d = (lit(7L) * col("__nd") - col("__nt")).cast(dec)
          d * d
        }) + (lit(7L) - first(col("__days"))).cast(dec)
          * first(col("__nt")).cast(dec) * first(col("__nt")).cast(dec))
          .as("__chi2num"),
        min(when(col("__nd") === col("__mx"), col("__dow"))).as("peak_dow"),
        first(col("__mx")).as("__mxn"))
      .select(col(keyCol), col("n_total"),
        round(col("__chi2num").cast("double")
          / (lit(7L) * col("n_total")).cast("double"), 6).as("chi2_dow"),
        col("peak_dow"),
        round(col("__mxn").cast("double") / col("n_total").cast("double"),
          6).as("peak_share"))
      .orderBy(col(keyCol))
  }

  /** Lag-`lag` autocorrelation of a per-key ordered series — the
    * periodicity probe next to [[dowProfile]]'s calendar view: exact
    * Pearson correlation (the q146 integer-moment discipline) between
    * the series and itself shifted by `lag` positions under the
    * (`orderCols`) total order. Values 6-dp-lift to 1e6-scaled longs
    * BEFORE pairing (lead of the lifted value == lift of the led
    * value), pairs with a null on either side drop, moments accumulate
    * in DECIMAL(38,0), and acf = (n·Sab − Sa·Sb)/(√(n·Saa − Sa²)·
    * √(n·Sbb − Sb²)) evaluates on correctly-rounded integer→double
    * conversions — the SAME IEEE tree both engines. Zero variance on
    * either side ⇒ NULL. lead(lag) is an incremental frame. Output
    * (key, n_pairs, acf) ordered by key. */
  def autocorrelation(df: DataFrame, keyCol: String,
      orderCols: Seq[String], valueCol: String, lag: Int): DataFrame = {
    require(lag >= 1, s"lag must be >= 1: $lag")
    val dec = DecimalType(38, 0)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(keyCol)).orderBy(orderCols.map(col): _*)
    val p = df
      .filter(col(keyCol).isNotNull && col(valueCol).isNotNull &&
        orderCols.map(col(_).isNotNull).reduce(_ && _))
      .select((col(keyCol) +: orderCols.map(col) :+
        lift6(col(valueCol)).as("__a6")): _*)
      .select(col(keyCol), col("__a6"),
        lead(col("__a6"), lag).over(w).as("__b6"))
      .filter(col("__b6").isNotNull)
    val g = p.groupBy(col(keyCol)).agg(
      count(lit(1)).cast(dec).as("__n"),
      sum(col("__a6").cast(dec)).as("__sa"),
      sum(col("__b6").cast(dec)).as("__sb"),
      sum(col("__a6").cast(dec) * col("__a6").cast(dec)).as("__saa"),
      sum(col("__b6").cast(dec) * col("__b6").cast(dec)).as("__sbb"),
      sum(col("__a6").cast(dec) * col("__b6").cast(dec)).as("__sab"))
    val num = col("__n") * col("__sab") - col("__sa") * col("__sb")
    val da = col("__n") * col("__saa") - col("__sa") * col("__sa")
    val db = col("__n") * col("__sbb") - col("__sb") * col("__sb")
    g.select(col(keyCol), col("__n").cast("long").as("n_pairs"),
        when(da > 0 && db > 0,
          round(num.cast("double")
            / (sqrt(da.cast("double")) * sqrt(db.cast("double"))), 6))
          .as("acf"))
      .orderBy(col(keyCol))
  }

  /** Cohen's kappa between two categorical raters of the same rows —
    * the chance-corrected agreement number behind every labeling /
    * weak-supervision audit (are two quality rules measuring the same
    * thing, or just both firing often?). Exact-integer end to end:
    * with n = rows, A = agreements, E = Σ_k rowMarg_k·colMarg_k, then
    * po = A/n, pe = E/n², kappa = (A·n − E)/(n² − E) — every operand
    * an exact DECIMAL(38,0) integer, each output ONE IEEE division
    * (the q158 chi² discipline). kappa is NULL when pe = 1 (a single
    * category on both sides — agreement is all chance). Rows with a
    * null on either side drop. Plan: one contingency aggregate
    * (map-side combinable, |A-cats|×|B-cats| bounded),
    * localCheckpoint'ed once for its three consumers (the q144
    * multi-branch recompute class), marginal products through an
    * inner join on category. */
  def cohenKappa(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val dec = DecimalType(38, 0)
    val ct = df.filter(col(aCol).isNotNull && col(bCol).isNotNull)
      .groupBy(col(aCol).as("__a"), col(bCol).as("__b"))
      .agg(count(lit(1)).as("__c"))
      .localCheckpoint()
    val tot = ct.agg(sum(col("__c")).as("n"),
      sum(when(col("__a") === col("__b"), col("__c")).otherwise(0L))
        .as("n_agree"))
    val rowm = ct.groupBy(col("__a").as("__k")).agg(sum(col("__c")).as("__ra"))
    val colm = ct.groupBy(col("__b").as("__k")).agg(sum(col("__c")).as("__cb"))
    val e = rowm.join(colm, Seq("__k"))
      .agg(coalesce(sum((col("__ra").cast(dec) * col("__cb").cast(dec))),
        lit(0).cast(dec)).as("__e"))
    tot.crossJoin(broadcast(e))
      .select(col("n"), col("n_agree"),
        round(col("n_agree").cast("double") / col("n").cast("double"), 6)
          .as("po"),
        round(col("__e").cast("double")
          / (col("n").cast(dec) * col("n").cast(dec)).cast("double"), 6)
          .as("pe"),
        when(col("n").cast(dec) * col("n").cast(dec) =!= col("__e"),
          round((col("n_agree").cast(dec) * col("n").cast(dec) - col("__e"))
            .cast("double")
            / (col("n").cast(dec) * col("n").cast(dec) - col("__e"))
              .cast("double"), 6)).as("kappa"))
  }

  /** First-order Markov transition matrix over a per-key event
    * sequence — the user-journey model behind "what follows what":
    * adjacent (state → next state) counts under the (`orderCols`)
    * total order within each key, with row-normalized probabilities.
    * lead(1) over a key-partitioned window is an incremental frame
    * (NOT the UNBOUNDED FOLLOWING hazard — one-row lookahead). Counts
    * are exact; each probability is ONE IEEE division, 6 dp. Output
    * (from_state, to_state, n, n_from, prob) ordered by (from, to);
    * state space bounded ⇒ the totals side broadcasts. */
  def transitionMatrix(df: DataFrame, keyCol: String,
      orderCols: Seq[String], stateCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(keyCol)).orderBy(orderCols.map(col): _*)
    val pairs = df
      .filter(col(keyCol).isNotNull && col(stateCol).isNotNull &&
        orderCols.map(col(_).isNotNull).reduce(_ && _))
      .select(col(keyCol), col(stateCol).as("from_state"),
        lead(col(stateCol), 1).over(w).as("to_state"))
      .filter(col("to_state").isNotNull)
      .groupBy(col("from_state"), col("to_state"))
      .agg(count(lit(1)).as("n"))
    val totals = pairs.groupBy(col("from_state"))
      .agg(sum(col("n")).as("n_from"))
    pairs.join(broadcast(totals), Seq("from_state"))
      .select(col("from_state"), col("to_state"), col("n"), col("n_from"),
        round(col("n").cast("double") / col("n_from").cast("double"), 6)
          .as("prob"))
      .orderBy(col("from_state"), col("to_state"))
  }

  /** Two-proportion A/B comparison: conversion rates of EXACTLY two
    * groups plus the exact-integer 2×2 chi-square —
    * chi2 = n·(ad − bc)² / ((a+b)(c+d)(a+c)(b+d)) with a/b/c/d the
    * contingency cells, every term DECIMAL(38,0) (HUGEINT in the
    * oracle), ONE IEEE division at the end (z² for the usual pooled
    * two-proportion z — reported as chi2 because it needs no sqrt or
    * float intermediate). Groups order lexicographically into
    * (group_a, group_b); a zero margin (all rows one outcome or one
    * group empty of flags) reads chi2 NULL. `flagCol` must be 0/1 or
    * boolean; null group/flag rows drop.
    *
    * NOTE: this operator runs ONE Spark job at CONSTRUCTION (the
    * exactly-two-groups `require` counts the localCheckpoint'ed 2-row
    * contingency aggregate eagerly) — unlike every other operator in
    * the repo, which stays lazy until the caller acts. The eager job is
    * one scan + a 2-row aggregate; the checkpoint means no recompute
    * when the returned frame is consumed. */
  def proportionTest(df: DataFrame, groupCol: String,
      flagCol: String): DataFrame = {
    val dec = DecimalType(38, 0)
    val cg = df.filter(col(groupCol).isNotNull && col(flagCol).isNotNull)
      .groupBy(col(groupCol).as("__g"))
      .agg(count(lit(1)).as("__n"),
        sum(col(flagCol).cast("long")).as("__x"))
      .localCheckpoint()
    require(cg.count() == 2L,
      s"proportionTest needs exactly two $groupCol groups")
    val a = cg.orderBy(col("__g")).limit(1)
      .select(col("__g").as("group_a"), col("__n").as("n_a"),
        col("__x").as("x_a"))
    val b = cg.orderBy(col("__g").desc).limit(1)
      .select(col("__g").as("group_b"), col("__n").as("n_b"),
        col("__x").as("x_b"))
    val aa = col("x_a").cast(dec)
    val bb = (col("n_a") - col("x_a")).cast(dec)
    val cc = col("x_b").cast(dec)
    val dd = (col("n_b") - col("x_b")).cast(dec)
    val num = (col("n_a") + col("n_b")).cast(dec) *
      (aa * dd - bb * cc) * (aa * dd - bb * cc)
    val den = (aa + bb) * (cc + dd) * (aa + cc) * (bb + dd)
    a.crossJoin(broadcast(b))
      .select(col("group_a"), col("group_b"),
        col("n_a"), col("x_a"), col("n_b"), col("x_b"),
        round(col("x_a").cast("double") / col("n_a").cast("double"), 6)
          .as("rate_a"),
        round(col("x_b").cast("double") / col("n_b").cast("double"), 6)
          .as("rate_b"),
        round(col("x_a").cast("double") / col("n_a").cast("double")
          - col("x_b").cast("double") / col("n_b").cast("double"), 6)
          .as("rate_diff"),
        when(den =!= lit(0).cast(dec),
          round((num.cast("double") / den.cast("double")), 6)).as("chi2"))
  }

  /** Exact Spearman rank correlation per group — the robust sibling of
    * q146's Pearson (monotone association, outlier-immune: one corrupt
    * price can't swing it) with TIE-EXACT fractional ranks: a value
    * tied m times gets the average of its rank block. Ranks are
    * DOUBLED to stay integral: over a value's [[rankRange]]
    * [lo, hi) the average 1-based rank is (lo + hi + 1)/2, so
    * r2 = lo + hi + 1, exact BIGINT at any group size. Spearman is then
    * Pearson over exact integers: DECIMAL(38,0) moments (HUGEINT in the
    * oracle), one IEEE sqrt/divide tree at the end (the q146
    * discipline; the doubling cancels in the ratio).
    *
    * Scale shape: each rank column is [[rankRange]] over a
    * per-(group, value) histogram (map-side combine; no group totals),
    * the rank tables rejoined merge-hinted (the r13 agg-rejoin lesson),
    * one moments aggregate. Rows with a null group/x/y drop (pairwise
    * deletion is Pearson's contract; Spearman ranks both columns over
    * the SAME row set, so deletion must precede ranking). Zero
    * variance in either rank column (all-tied) reads NULL.
    *
    * r21 tried and REVERTED by measurement: ranks as row-stream
    * windows (one group exchange, no joins, 1 scan) read 2.51 s vs
    * this shape's 1.56 BenchOne at sf0.1. With few groups the full row
    * stream serializes through per-group window tasks TWICE, while
    * here only the value histogram's ordered window is serial and the
    * rank rejoins sort in parallel. Don't re-derive (the r20 fan
    * rejection is the same lesson from the other side). */
  def spearman(df: DataFrame, groupCol: String, xCol: String,
      yCol: String): DataFrame = {
    val dec = DecimalType(38, 0)
    val base = df.filter(col(groupCol).isNotNull &&
        col(xCol).isNotNull && col(yCol).isNotNull)
      .select(col(groupCol).as("__g"), col(xCol).as("__x"),
        col(yCol).as("__y"))
    def ranks(vc: String, out: String): DataFrame =
      rankRange(base.groupBy(col("__g"), col(vc)).agg(count(lit(1)).as("__c")),
        "__g", vc, col("__c"), distinct = true, withTotal = false)
        .select(col("__g"), col(vc),
          (col("__lo") + col("__hi") + lit(1L)).as(out))
    val withR = base
      .join(ranks("__x", "__rx").hint("merge"), Seq("__g", "__x"))
      .join(ranks("__y", "__ry").hint("merge"), Seq("__g", "__y"))
    val rx = col("__rx").cast(dec)
    val ry = col("__ry").cast(dec)
    val m = withR.groupBy(col("__g")).agg(
      count(lit(1)).cast(dec).as("__n"),
      sum(rx).as("__sx"), sum(ry).as("__sy"),
      sum(rx * rx).as("__sxx"), sum(ry * ry).as("__syy"),
      sum(rx * ry).as("__sxy"))
    val n = col("__n")
    val num = n * col("__sxy") - col("__sx") * col("__sy")
    val da = n * col("__sxx") - col("__sx") * col("__sx")
    val db = n * col("__syy") - col("__sy") * col("__sy")
    m.select(col("__g").as(groupCol), n.cast("long").as("n"),
        when(da > 0 && db > 0,
          round(num.cast("double")
            / (sqrt(da.cast("double")) * sqrt(db.cast("double"))), 6))
          .as("spearman"))
      .orderBy(col(groupCol))
  }

  /** SCD type-2 dimension build — turn a change/event stream into
    * validity intervals: per key, consecutive runs of the SAME tracked
    * value collapse into one row (value, valid_from, valid_to,
    * n_rows), valid_to = the next run's start (exclusive, the
    * standard SCD2 convention) and NULL for the current run. The
    * dimension-table twin of q13's gaps-and-islands sessionization
    * (islands by VALUE CHANGE, not time gap) and q123's interval
    * merge (which consumes intervals; this PRODUCES them).
    *
    * Plan: one lag window per key (change flag), running cumsum
    * (island id), then the island groupBy — which adds NO exchange
    * after a window partitioned by the same key (the q123 rule) —
    * and one lead window over the per-key ISLAND frame (bounded by
    * value changes, not rows) for valid_to. Ties inside a timestamp
    * break by `tieCol` so the order is total. Null key/ts/tie rows
    * drop; a null tracked VALUE is a legal state (null-safe change
    * compare). */
  def scd2Build(df: DataFrame, keyCol: String, tsCol: String,
      tieCol: String, valueCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol), col(tieCol))
    val wc = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol), col(tieCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val islands = df
      .filter(col(keyCol).isNotNull && col(tsCol).isNotNull &&
        col(tieCol).isNotNull)
      .withColumn("__prev", lag(col(valueCol), 1).over(w))
      .withColumn("__first",
        when(row_number().over(w) === 1, 1).otherwise(0))
      .withColumn("__chg",
        when(col("__first") === 1 ||
          !(col(valueCol) <=> col("__prev")), 1L).otherwise(0L))
      .withColumn("__isl", sum(col("__chg")).over(wc))
    val runs = islands.groupBy(col(keyCol), col("__isl"))
      .agg(first(col(valueCol)).as(valueCol),
        min(col(tsCol)).as("valid_from"),
        count(lit(1)).as("n_rows"))
    val wi = Window.partitionBy(col(keyCol)).orderBy(col("__isl"))
    runs
      .withColumn("valid_to", lead(col("valid_from"), 1).over(wi))
      .select(col(keyCol), col("__isl").as("run_seq"), col(valueCol),
        col("valid_from"), col("valid_to"), col("n_rows"))
      .orderBy(col(keyCol), col("run_seq"))
  }

  /** Kaplan–Meier survival curve — the retention/churn estimator that
    * handles CENSORING, which q109/q157's retention matrices cannot: a
    * user still active at the observation horizon hasn't churned, they
    * are censored, and treating them as churned biases every lifetime
    * estimate downward. Per group: each user's lifetime in whole days
    * (first → last event, epoch-day DIV), death = last event at least
    * `censorDays` before the global horizon (the newest day anywhere),
    * else censored at their duration. At each distinct duration t:
    * n_risk (users with duration ≥ t), n_event (deaths at t), n_censor,
    * and S(t) = Π_{i≤t} (1 − d_i/n_i).
    *
    * Determinism: every count is exact BIGINT; each product factor
    * enters as the 6-dp-lifted ln of ONE IEEE division of exact longs
    * (the q122/q125/q142 discipline), the cumulative sum is exact long
    * arithmetic, and the single exp at the end is the q89/q132
    * cross-engine precedent. A time where everyone at risk dies sends
    * S to an EXACT 0.0 from that row on (the ln(0) row is excluded
    * from the lift, flagged through a windowed max).
    *
    * Scale: one per-(group, user) aggregate (map-side combine), one
    * tiny global-horizon cross join, then windows over the (group,
    * duration) frame — bounded by groups × distinct DAYS, not by
    * users. Null group/user/ts rows drop. */
  def kaplanMeier(df: DataFrame, groupCol: String, userCol: String,
      tsCol: String, censorDays: Int = 7): DataFrame = {
    require(censorDays >= 0, s"censorDays must be >= 0: $censorDays")
    val users = df
      .filter(col(groupCol).isNotNull && col(userCol).isNotNull &&
        col(tsCol).isNotNull)
      .select(col(groupCol).as("__g"), col(userCol).as("__u"),
        expr(s"unix_micros($tsCol) DIV 86400000000L").as("__d"))
      .groupBy(col("__g"), col("__u"))
      .agg(min(col("__d")).as("__f"), max(col("__d")).as("__l"))
    val horizon = users.agg(max(col("__l")).as("__h"))
    val byT = users.crossJoin(broadcast(horizon))
      .select(col("__g"), (col("__l") - col("__f")).as("__t"),
        when(col("__h") - col("__l") >= censorDays.toLong, 1L)
          .otherwise(0L).as("__ev"))
      .groupBy(col("__g"), col("__t"))
      .agg(count(lit(1)).as("__n_t"), sum(col("__ev")).as("__d_t"))
    val wAll = Window.partitionBy(col("__g"))
    val wCum = Window.partitionBy(col("__g")).orderBy(col("__t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byT
      .withColumn("__n_risk",
        sum(col("__n_t")).over(wAll) -
          (sum(col("__n_t")).over(wCum) - col("__n_t")))
      .withColumn("__lt",
        when(col("__d_t") < col("__n_risk"),
          lift6(log((col("__n_risk") - col("__d_t")).cast("double") /
            col("__n_risk").cast("double")))))
      .withColumn("__dead",
        max(when(col("__d_t") === col("__n_risk"), 1).otherwise(0))
          .over(wCum))
      .withColumn("__cumln", sum(col("__lt")).over(wCum))
      .select(col("__g").as(groupCol), col("__t").as("t_days"),
        col("__n_risk").as("n_risk"), col("__d_t").as("n_event"),
        (col("__n_t") - col("__d_t")).as("n_censor"),
        when(col("__dead") === 1, lit(0.0))
          .otherwise(round(exp(col("__cumln").cast("double") / lit(1e6)), 6))
          .as("survival"))
      .orderBy(col(groupCol), col("t_days"))
  }

  /** Referential-integrity audit — the pre-flight join-quality report
    * a pipeline reads before trusting an enrichment join: for each
    * declared FK edge (child.key → parent.key), the exact row count,
    * null-key count, orphan count (non-null child keys with no parent
    * row), and the orphan rate in exact parts-per-million (BIGINT DIV
    * — no float). The row-level complement of q145's cardinality
    * profile: q145 says how BIG the join output is, this says how
    * much of the child never joins at all.
    *
    * Plan per edge: the child collapses to a (key, count) aggregate
    * FIRST (map-side combine — the join input is distinct-key sized,
    * never row sized), the parent to distinct keys; one merge-hinted
    * left equi-join between the two aggregates (the r13 lesson: AQE's
    * broadcast estimate for a large aggregate side can OOM — never
    * leave an agg-join unhinted), then ONE aggregate folds rows /
    * nulls / orphans from the counts. Null child keys never match and
    * count as null, not orphan. Output is one row per edge — bounded
    * by the declared schema, flat at any N. */
  def integrityAudit(
      edges: Seq[(String, DataFrame, String, DataFrame, String)])
      : DataFrame = {
    require(edges.nonEmpty, "integrityAudit needs at least one FK edge")
    val rows = edges.map { case (name, child, ck, parent, pk) =>
      val ca = child.groupBy(col(ck).as("__k"))
        .agg(count(lit(1)).as("__c"))
      val pa = parent.select(col(pk).as("__k"))
        .filter(col("__k").isNotNull).distinct()
        .withColumn("__p", lit(1))
      ca.join(pa.hint("merge"), Seq("__k"), "left")
        .agg(
          coalesce(sum(col("__c")), lit(0L)).as("n_rows"),
          coalesce(sum(when(col("__k").isNull, col("__c"))), lit(0L))
            .as("n_nulls"),
          coalesce(sum(when(col("__k").isNotNull && col("__p").isNull,
            col("__c"))), lit(0L)).as("n_orphans"))
        .select(lit(name).as("fk"), col("n_rows"), col("n_nulls"),
          col("n_orphans"),
          when(col("n_rows") - col("n_nulls") > 0L,
            expr("n_orphans * 1000000L DIV (n_rows - n_nulls)"))
            .as("orphan_ppm"))
    }
    rows.reduce(_ union _).orderBy(col("fk"))
  }
}
