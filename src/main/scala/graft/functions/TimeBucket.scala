package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionDescription, Literal, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode}
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.types.{DataType, LongType, TimestampType}

/** Native Catalyst implementation of TimescaleDB's
  * `time_bucket(width, ts, origin)` (reference
  * scripts/database/init/create.sql:107,122,137; SURVEY F1/§2.10).
  *
  * `bucket = floorDiv(ts - origin, width) * width + origin`, all in
  * epoch microseconds. `Math.floorDiv` (not truncating division)
  * matches TimescaleDB/DuckDB semantics for timestamps BEFORE the
  * origin — truncation would round those toward the origin instead of
  * down, off by one bucket.
  *
  * Full codegen (`doGenCode`) keeps it inside WholeStageCodegen — no
  * UDF boundary, no boxing — so bucketing 100 TB of rows costs two
  * longs of arithmetic per row.
  */
@ExpressionDescription(
  usage = "time_bucket(ts, widthUs, originUs) - Tumbling bucket start aligned to origin.")
case class TimeBucket(time: Expression, widthUs: Expression, originUs: Expression)
    extends TernaryExpression {

  override def first: Expression = time
  override def second: Expression = widthUs
  override def third: Expression = originUs

  override def dataType: DataType = TimestampType
  override def nullable: Boolean = time.nullable || widthUs.nullable || originUs.nullable

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
    if (time.dataType != TimestampType)
      TypeCheckFailure(s"time_bucket: first argument must be TIMESTAMP, got ${time.dataType.sql}")
    else if (widthUs.dataType != LongType || originUs.dataType != LongType)
      TypeCheckFailure("time_bucket: width/origin must be BIGINT microseconds")
    else TypeCheckSuccess
  }

  override protected def nullSafeEval(t: Any, w: Any, o: Any): Any = {
    val us = t.asInstanceOf[Long]; val wu = w.asInstanceOf[Long]; val ou = o.asInstanceOf[Long]
    Math.floorDiv(us - ou, wu) * wu + ou
  }

  /** A constant width and origin are read from the plan's reference
    * objects into fields, not inlined as literals, so the generated code
    * is the same for every width: a job bucketing at several widths
    * (the 8 rollup refreshes) compiles each stage shape once and keeps
    * the codegen cache warm instead of evicting one width for another.
    */
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    def field(e: Expression, name: String): Option[String] = e match {
      case Literal(v: Long, LongType) =>
        val ref = ctx.addReferenceObj(name, v, "java.lang.Long")
        Some(ctx.addMutableState(CodeGenerator.JAVA_LONG, name, f => s"$f = $ref.longValue();"))
      case _ => None
    }
    val (wField, oField) = (field(widthUs, "bucketWidthUs"), field(originUs, "bucketOriginUs"))
    nullSafeCodeGen(ctx, ev, (t, wExpr, oExpr) => {
      val (w, o) = (wField.getOrElse(wExpr), oField.getOrElse(oExpr))
      s"${ev.value} = java.lang.Math.floorDiv($t - $o, $w) * $w + $o;"
    })
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(time = newFirst, widthUs = newSecond, originUs = newThird)
}

object TimeBucket {
  /** Column API: bucket `ts` into `widthSec` buckets aligned to
    * `originEpochSec` — TimescaleDB `time_bucket(width, ts, origin)`
    * (reference scripts/database/init/create.sql:107,122,137).
    */
  def timeBucket(ts: Column, widthSec: Long, originEpochSec: Long = 0L): Column =
    GraftBridge.column(TimeBucket(GraftBridge.expression(ts),
      org.apache.spark.sql.catalyst.expressions.Literal(widthSec * 1000000L),
      org.apache.spark.sql.catalyst.expressions.Literal(originEpochSec * 1000000L)))
}
