package graft.plans

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Registration surface for graft's custom Catalyst expressions.
  *
  * Two entry points:
  *  - build-time: the session builder's `withExtensions(new
  *    GraftExtensions)` — the standard extension hook;
  *  - in-session: [[GraftExtensions.register]] on a live session
  *    (temp-function registry), which is what SparkEntry's
  *    driver-provided sessions use.
  *
  * After either, `graft_dot(a, b)` is callable from SQL text as well
  * as through the typed [[DotProduct.dot]] Column API.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction(GraftExtensions.dotDescriptor)
    e.injectFunction(GraftExtensions.cosineDescriptor)
    e.injectFunction(GraftExtensions.drawDescriptor)
    e.injectFunction(GraftExtensions.zvalueDescriptor)
    e.injectFunction(GraftExtensions.redactDescriptor)
  }
}

object GraftExtensions {
  import org.apache.spark.sql.catalyst.expressions.{BitwiseAnd, BitwiseOr,
    Cast, Concat, Literal, Md5, ShiftLeft, Substring}
  import org.apache.spark.sql.types.{BinaryType, LongType, StringType}

  private def dotBuilder(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 2, "graft_dot takes exactly 2 arguments")
    DotProduct(exprs(0), exprs(1))
  }

  private def cosineBuilder(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 2, "graft_cosine takes exactly 2 arguments")
    CosineSim(exprs(0), exprs(1))
  }

  /** SQL face of [[graft.ops.Sampling.unitDraw]]: the 8-hex-char md5
    * fixed-point draw, built as the identical catalyst tree so SQL
    * users get byte-identical samples. graft_draw(key, salt). */
  private def drawBuilder(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 2, "graft_draw takes (key, salt)")
    Substring(
      Md5(Cast(Concat(Seq(Cast(exprs(1), StringType),
        Cast(exprs(0), StringType))), BinaryType)),
      Literal(1), Literal(8))
  }

  /** SQL face of [[graft.ops.Layout.zValue]]: the magic-mask Morton
    * interleave of two 16-bit keys. graft_zvalue(a, b). */
  private def zvalueBuilder(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 2, "graft_zvalue takes (a, b)")
    def spread(e: Expression): Expression = {
      def step(x: Expression, s: Int, m: Long): Expression =
        BitwiseAnd(BitwiseOr(x, ShiftLeft(x, Literal(s))), Literal(m))
      val v0 = BitwiseAnd(Cast(e, LongType), Literal(0xFFFFL))
      val v1 = step(v0, 8, 0x00FF00FFL)
      val v2 = step(v1, 4, 0x0F0F0F0FL)
      val v3 = step(v2, 2, 0x33333333L)
      step(v3, 1, 0x55555555L)
    }
    BitwiseOr(spread(exprs(0)), ShiftLeft(spread(exprs(1)), Literal(1)))
  }

  /** SQL face of [[graft.ops.Text.redactPii]]: the identical ordered
    * RegExpReplace chain, built from the same pattern list so the SQL
    * and Column faces cannot drift. graft_redact(text). */
  private def redactBuilder(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 1, "graft_redact takes (text)")
    import org.apache.spark.sql.catalyst.expressions.RegExpReplace
    graft.ops.Text.PiiPatterns.foldLeft(exprs.head) { case (e, (p, r)) =>
      RegExpReplace(e, Literal(p), Literal(r))
    }
  }

  val dotDescriptor: (FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_dot"),
    new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
    dotBuilder _)

  val cosineDescriptor: (FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_cosine"),
    new ExpressionInfo(classOf[CosineSim].getName, "graft_cosine"),
    cosineBuilder _)

  val drawDescriptor: (FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_draw"),
    new ExpressionInfo(classOf[Substring].getName, "graft_draw"),
    drawBuilder _)

  val zvalueDescriptor: (FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_zvalue"),
    new ExpressionInfo(classOf[BitwiseOr].getName, "graft_zvalue"),
    zvalueBuilder _)

  val redactDescriptor: (FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_redact"),
    new ExpressionInfo(
      classOf[org.apache.spark.sql.catalyst.expressions.RegExpReplace]
        .getName, "graft_redact"),
    redactBuilder _)

  /** Register on a live session's temp-function registry. */
  def register(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_dot", dotBuilder, "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_cosine", cosineBuilder, "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_draw", drawBuilder, "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_zvalue", zvalueBuilder, "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_redact", redactBuilder, "built-in")
  }
}
