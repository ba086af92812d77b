package graft.ops

import graft.functions.TimeBucket
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Time-series operators re-expressing the reference's TimescaleDB
  * semantics Spark-first (SURVEY.md §2.4/§2.5/§2.8).
  *
  * All bucket math is explicit epoch-microsecond arithmetic so the
  * bucket origin is controlled by us, not by an engine default:
  * TimescaleDB aligns multi-day buckets to 2000-01-03 while Spark's
  * `window()` aligns to 1970-01-01 (reference
  * scripts/database/init/create.sql:105-223). Integer floor-division on
  * µs gives identical results in any engine, which is also what the
  * DuckDB oracles use.
  *
  * Scale note: `candleRollup` is a single hash-aggregate keyed on
  * (keys..., bucket) — one shuffle, map-side partial aggregation free
  * from Catalyst. At 100 TB the input should be partitioned by a date
  * column so the scan prunes, but the operator itself needs nothing
  * extra.
  */
object TimeSeries {
  /** OHLCV candle rollup — the reference workload's core operator
    * (SURVEY A1; reference schemas/aggregations.sql:11-22, the 8
    * continuous aggregates create.sql:105-223).
    *
    * Input must be unique per (keys..., timeCol) — the reference's PK
    * guarantees this; use [[graft.core.Tables.eventSeries]]-style dedup
    * first (SURVEY §7.4 risk 3). `min_by`/`max_by` give TimescaleDB
    * `first(x, time)`/`last(x, time)` semantics exactly.
    */
  def candleRollup(
      df: DataFrame,
      timeCol: Column,
      keys: Seq[Column],
      value: Column,
      widthSec: Long,
      originEpochSec: Long = 0L,
      volume: Option[Column] = None): DataFrame =
    df.groupBy((keys :+ TimeBucket.timeBucket(timeCol, widthSec, originEpochSec).as("bucket")): _*)
      .agg(
        min_by(value, timeCol).as("open"),
        max(value).as("high"),
        min(value).as("low"),
        max_by(value, timeCol).as("close"),
        sum(volume.getOrElse(value)).as("volume"),
        count(lit(1)).as("n"))

  /** As-of join: attach to each left row the right row with the
    * greatest `timeCol` ≤ the left row's `timeCol`, per key — the
    * trades-to-quotes / price-at-event lookup the reference serves by
    * point SELECTs against the latest candle (api/endpoints views of
    * the newest row per symbol; SURVEY §2.3 J-family) generalized to a
    * whole-table batch operator.
    *
    * Spark-first plan: NOT a range join (a `l.ts >= r.ts` theta-join
    * explodes to O(|L|·|R|) per key before the per-row max is taken —
    * unusable at 100 TB). Instead the two sides are tagged and
    * unioned, shuffled ONCE on the key, and sorted per key on
    * (time, side) so a running `last(value, ignoreNulls)` window
    * carries each right value forward to every later-or-equal left
    * row. Cost = one shuffle + one per-partition sort of |L|+|R| rows,
    * the same shape as any keyed window — no blow-up, AQE-splittable
    * if a key is hot.
    *
    * Right rows sort BEFORE left rows at an equal timestamp (side 0 <
    * side 1), making the match inclusive, matching DuckDB/kdb ASOF
    * `l.ts >= r.ts` semantics. `rightVals` must be non-null (a null
    * right value would read as "no match yet" and fall through to the
    * previous observation); `right` must be unique per (keys, time) —
    * pre-aggregate with max_by first (Tables.eventSeries-style),
    * otherwise which duplicate wins is engine-undefined.
    *
    * Output: every left column, plus for each right value column `c` a
    * column `c` holding the as-of value (null when no right row is at
    * or before the left time), plus `asof_<timeCol-name>` with the
    * matched right row's time.
    */
  def asofJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
               timeCol: String, rightVals: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val leftCols = left.columns.toSeq
    val asofTime = s"asof_$timeCol"
    // the full output-column guard: a chained as-of join (left already
    // carrying asof_<t> from a previous join on the same time column)
    // must fail HERE with a clear message, not downstream with an
    // ambiguous-reference error
    val reserved = Seq("__side", "__lrow", asofTime) ++ rightVals
    val clash = leftCols.intersect(reserved)
    require(clash.isEmpty,
      s"left columns ${clash.mkString(", ")} collide with asofJoin outputs " +
        s"($asofTime, right value columns) or internal tags — rename them first")
    val l = left.select(
      (keys.map(col) :+ col(timeCol) :+ lit(1).as("__side")) ++
        rightVals.map(c => lit(null).cast(right.schema(c).dataType).as(c)) :+
        lit(null).cast(right.schema(timeCol).dataType).as(asofTime) :+
        struct(leftCols.map(col): _*).as("__lrow"): _*)
    val r = right.select(
      (keys.map(col) :+ col(timeCol) :+ lit(0).as("__side")) ++
        rightVals.map(col) :+ col(timeCol).as(asofTime) :+
        lit(null).cast(l.schema("__lrow").dataType).as("__lrow"): _*)
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(timeCol), col("__side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = l.unionByName(r).select(
      (Seq(col("__lrow")) ++ (rightVals :+ asofTime).map(c =>
        last(col(c), ignoreNulls = true).over(w).as(c))): _*)
    carried.filter(col("__lrow").isNotNull)
      .select((leftCols.map(c => col(s"__lrow.$c").as(c)) ++
        (rightVals :+ asofTime).map(col)): _*)
  }

  /** M4 visual downsampling (Jugel, Markl et al., VLDB'14): per
    * (key, `widthUs` bucket) keep only the first, last, lowest, and
    * highest points — the 4-point-per-pixel-column reduction that
    * renders a line chart pixel-identically to the full series, the
    * standard server-side cut a chart endpoint (the reference's
    * ohlcvs read path feeding web/src/chart.js) serves instead of
    * raw rows. Input must be unique per (key, tus)
    * ([[graft.core.Tables.eventSeries]]-style dedup first).
    *
    * Two stages over ONE keyed exchange: a whole-bucket window pins
    * the four integer extremes (vmin/vmax/tf/tl), then an aggregate
    * on the same keys recovers each extreme's companion coordinate
    * with deterministic tie rules — a tied min/max VALUE yields its
    * EARLIEST point (min tus over c = vmin/vmax); the time extremes
    * are unique by the input contract. The result is the distinct
    * union of the four points (1–4 rows per bucket), every value an
    * exact integer — no floats anywhere, so the reduction is engine-
    * exact and composes with any downstream rounding. At 100 TB this
    * is a single partial-aggregable pass whose output is bounded by
    * 4·buckets·keys, independent of input row count.
    */
  def m4Downsample(df: DataFrame, key: Column, tus: Column,
                   valueCents: Column, widthUs: Long): DataFrame = {
    require(widthUs > 0, s"m4Downsample: width must be positive: $widthUs")
    val base = df.select(key.as("k"), tus.as("t"), valueCents.as("c"))
      .withColumn("b", col("t") - pmod(col("t"), lit(widthUs)))
    val pb = org.apache.spark.sql.expressions.Window.partitionBy(col("k"), col("b"))
    val w = base
      .withColumn("vmin", min(col("c")).over(pb))
      .withColumn("vmax", max(col("c")).over(pb))
      .withColumn("tf", min(col("t")).over(pb))
      .withColumn("tl", max(col("t")).over(pb))
    w.groupBy(col("k"), col("b"), col("vmin"), col("vmax"), col("tf"), col("tl"))
      .agg(
        min(when(col("t") === col("tf"), col("c"))).as("c_first"),
        min(when(col("t") === col("tl"), col("c"))).as("c_last"),
        min(when(col("c") === col("vmin"), col("t"))).as("t_min"),
        min(when(col("c") === col("vmax"), col("t"))).as("t_max"))
      .select(col("k"), col("b"),
        explode(array_distinct(array(
          struct(col("tf").as("t"), col("c_first").as("c")),
          struct(col("t_min").as("t"), col("vmin").as("c")),
          struct(col("t_max").as("t"), col("vmax").as("c")),
          struct(col("tl").as("t"), col("c_last").as("c"))))).as("p"))
      .select(col("k"), col("b"), col("p.t").as("t"), col("p.c").as("c"))
  }
}
