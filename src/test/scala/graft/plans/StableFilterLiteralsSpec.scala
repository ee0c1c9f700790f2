package graft.plans

import graft.SparkFunSuite
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{Add, In, Like, Literal}
import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** [[StableFilterLiterals]] (installed by GraftExtensions) swaps the
  * numeric comparison constants of a filter for references. It must not
  * change a result, the printed plan, or what the scan pushes down. */
class StableFilterLiteralsSpec extends SparkFunSuite {

  private val types = Seq(ByteType, ShortType, IntegerType, LongType, FloatType, DoubleType)

  /** Column values per type: nulls, extremes, zeros, NaN and -0.0. */
  private def values(t: DataType): Seq[Any] = t match {
    case ByteType => Seq(null, Byte.MinValue, (-1).toByte, 0.toByte, 1.toByte, 7.toByte, Byte.MaxValue)
    case ShortType => Seq(null, Short.MinValue, (-1).toShort, 0.toShort, 1.toShort, 7.toShort, Short.MaxValue)
    case IntegerType => Seq(null, Int.MinValue, -1, 0, 1, 7, Int.MaxValue)
    case LongType => Seq(null, Long.MinValue, -1L, 0L, 1L, 7L, Long.MaxValue)
    case FloatType => Seq(null, Float.MinValue, Float.NegativeInfinity, -1f, -0.0f, 0.0f, 1f, 7f,
      Float.NaN, Float.MaxValue, Float.PositiveInfinity)
    case DoubleType => Seq(null, Double.MinValue, Double.NegativeInfinity, -1.0, -0.0, 0.0, 1.0, 7.0,
      Double.NaN, Double.MaxValue, Double.PositiveInfinity)
  }

  private lazy val store: String = {
    val n = types.map(values(_).size).max
    val rows = (0 until n * n).map { i =>
      Row.fromSeq(i +: types.map { t => val vs = values(t); vs((i * 7 + i / vs.size) % vs.size) })
    }
    val schema = StructType(StructField("id", IntegerType) +:
      types.map(t => StructField(t.typeName, t)))
    val dir = tmpDir("stablelits") + "/t"
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema).write.parquet(dir)
    dir
  }

  /** One query per (type, constant): a union of the seven comparisons,
    * each tagged with its operator, so every plan holds 7 filters. */
  private def comparisons(t: DataType, v: Any): DataFrame = {
    val c = col(t.typeName)
    val l = lit(v).cast(t)
    val ops: Seq[(String, Column)] = Seq("=" -> (c === l), "<=>" -> (c <=> l), "<" -> (c < l),
      "<=" -> (c <= l), ">" -> (c > l), ">=" -> (c >= l), "between" -> c.between(l, lit(7).cast(t)))
    ops.map { case (op, cond) =>
      spark.read.parquet(store).filter(cond).select(lit(op).as("op"), col("id"))
    }.reduce(_ union _)
  }

  /** Off: no whole-stage codegen, and filters evaluated interpreted. */
  private def withCodegen[T](on: Boolean)(f: => T): T = {
    val confs = Seq("spark.sql.codegen.wholeStage" -> "false", "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    if (!on) confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally if (!on) confs.foreach { case (k, _) => spark.conf.unset(k) }
  }

  private def stableLiterals(plan: SparkPlan): Seq[StableLiteral] =
    plan.collect { case f: FilterExec => f.condition.collect { case s: StableLiteral => s } }.flatten

  test("comparisons on every numeric type return the rows they return without codegen") {
    for (t <- types; v <- values(t) if v != null) {
      val q = comparisons(t, v)
      val plan = q.queryExecution.executedPlan
      assert(stableLiterals(plan).size == 8, s"$t $v:\n$plan")
      val got = withCodegen(on = true)(q.collect()).map(r => (r.getString(0), r.getInt(1))).sorted
      val want = withCodegen(on = false)(comparisons(t, v).collect()).map(r => (r.getString(0), r.getInt(1))).sorted
      assert(got.toSeq == want.toSeq, s"$t $v")
    }
    // a spot check against the values themselves
    val ge = comparisons(IntegerType, 1).filter(col("op") === ">=").count()
    assert(ge == spark.read.parquet(store).filter(col("integer") >= 1).count())
    assert(ge == spark.read.parquet(store).collect().count(r => !r.isNullAt(3) && r.getInt(3) >= 1))
  }

  test("plan text prints the constants, and the scan pushes them down") {
    val q = spark.read.parquet(store).filter(col("integer") >= 123457 && col("double") < -0.0)
    val plan = q.queryExecution.executedPlan
    assert(stableLiterals(plan).size == 2)
    val inlined = plan.transformAllExpressions { case s: StableLiteral => s.literal }
    assert(stableLiterals(inlined).isEmpty)
    assert(plan.treeString(verbose = true) == inlined.treeString(verbose = true))
    val filters = plan.collect { case f: FilterExec => f }
    val inlinedFilters = inlined.collect { case f: FilterExec => f }
    assert(filters.map(_.verboseStringWithOperatorId()) == inlinedFilters.map(_.verboseStringWithOperatorId()))
    assert(filters.map(_.condition.sql) == inlinedFilters.map(_.condition.sql))
    val text = q.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(text.contains("(integer#") && text.contains(">= 123457)") && text.contains("< -0.0)"), text)
    assert(text.contains("GreaterThanOrEqual(integer,123457)") && text.contains("LessThan(double,-0.0)"), text)
  }

  test("the generated code holds no rewritten constant, and two filters share one class") {
    import org.apache.spark.sql.execution.debug._
    def code(q: DataFrame): String = codegenStringSeq(q.queryExecution.executedPlan).map(_._2).mkString("\n")
    val a = spark.read.parquet(store).filter(col("long") > 918273645L).select("id")
    val b = spark.read.parquet(store).filter(col("long") > 546372819L).select("id")
    assert(!code(a).contains("918273645"))
    assert(code(a) == code(b))
  }

  test("constants under LIKE, IN and arithmetic stay inlined") {
    val q = spark.read.parquet(store)
      .filter(col("id").cast("string").like("1_%") && col("integer").isin(1, 7) &&
        (col("byte").cast("long") + 918273645L > 5L))
    val plan = q.queryExecution.executedPlan
    val cond = plan.collect { case f: FilterExec => f.condition }.head
    assert(cond.collect { case l: Like => l }.exists(_.right.isInstanceOf[Literal]))
    val ins = cond.collect { case i: In => i }
    assert(ins.nonEmpty && ins.forall(_.list.forall(_.isInstanceOf[Literal])))
    assert(cond.collect { case a: Add => a }.exists(_.right == Literal(918273645L)))
    // only the comparison's own operand is swapped
    assert(stableLiterals(plan).map(_.literal) == Seq(Literal(5L)))
    import org.apache.spark.sql.execution.debug._
    assert(codegenStringSeq(plan).map(_._2).mkString.contains("918273645"))
    val want = spark.read.parquet(store).collect().count { r =>
      r.getInt(0).toString.matches("1.+") && !r.isNullAt(3) && Set(1, 7)(r.getInt(3)) &&
        !r.isNullAt(1) && r.getByte(1) + 918273645L > 5L
    }
    assert(q.count() == want)
  }
}
