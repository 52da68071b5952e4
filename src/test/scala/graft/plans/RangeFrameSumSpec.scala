package graft.plans

import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => Check}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** [[GraftRangeFrameSumStrategy]] against stock Spark: every generated table
  * is summed once through the operator (`... AND CURRENT ROW`) and once
  * through `WindowExec` on the equivalent frame `... AND 0.0 FOLLOWING`,
  * which the strategy declines, and the two results must be equal row for
  * row. */
class RangeFrameSumSpec extends AnyFunSuite {

  private def session(ansi: Boolean): SparkSession = {
    val s = TestSpark.spark.newSession()
    s.conf.set("spark.sql.ansi.enabled", ansi.toString)
    s
  }
  private lazy val legacy = session(ansi = false)
  private lazy val ansi = session(ansi = true)

  private val schema = StructType(Seq(
    StructField("id", IntegerType, nullable = false),
    StructField("p", IntegerType),
    StructField("o", DoubleType),
    StructField("oi", IntegerType),
    StructField("od", DecimalType(10, 3)),
    StructField("xi", LongType),
    StructField("xd", DecimalType(27, 6))))

  // small pools so that order values tie and frames overlap
  private val genO: Gen[Any] = Gen.frequency(
    2 -> Gen.const(null),
    1 -> Gen.oneOf(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity, -0.0, 0.0),
    6 -> Gen.choose(-80, 80).map(_ * 0.25))
  private val genOi: Gen[Any] = Gen.frequency(
    2 -> Gen.const(null),
    1 -> Gen.oneOf(Int.MinValue, Int.MinValue + 5, Int.MaxValue - 3, Int.MaxValue),
    6 -> Gen.choose(-30, 30))
  private val genOd: Gen[Any] = Gen.frequency(
    2 -> Gen.const(null),
    6 -> Gen.choose(-4000, 4000).map(v => java.math.BigDecimal.valueOf(v.toLong, 2)))
  private val genXi: Gen[Any] = Gen.frequency(
    3 -> Gen.const(null),
    1 -> Gen.oneOf(Long.MaxValue, Long.MinValue),
    6 -> Gen.choose(-1000L, 1000L))
  private val genXd: Gen[Any] = Gen.frequency(
    3 -> Gen.const(null),
    6 -> Gen.choose(-5000000000L, 5000000000L).map(v => java.math.BigDecimal.valueOf(v, 6)))
  private val genP: Gen[Any] = Gen.frequency(1 -> Gen.const(null), 4 -> Gen.choose(0, 2))

  private val genTable: Gen[Seq[Row]] = for {
    n <- Gen.choose(0, 60)
    rows <- Gen.listOfN(n, for {
      p <- genP; o <- genO; oi <- genOi; od <- genOd; xi <- genXi; xd <- genXd
    } yield (p, o, oi, od, xi, xd))
  } yield rows.zipWithIndex.map { case ((p, o, oi, od, xi, xd), i) =>
    Row(i, p, o, oi, od, xi, xd)
  }

  private def table(s: SparkSession, rows: Seq[Row]): DataFrame =
    s.createDataFrame(s.sparkContext.parallelize(rows, 3), schema)

  /** (WindowExec, GraftRangeFrameSumExec) node counts in the physical plan
    * the planner strategies produced. */
  private def windowNodes(df: DataFrame): (Int, Int) = {
    val plan: SparkPlan = df.queryExecution.sparkPlan
    (plan.collect { case w: WindowExec => w }.size,
      plan.collect { case r: GraftRangeFrameSumExec => r }.size)
  }

  /** Every input column plus one `sum(column) OVER (...)` per `(column,
    * offset)` pair, with the frame's upper bound `upper`. */
  private def query(t: DataFrame, order: String, sums: Seq[(String, String)],
      upper: String): DataFrame =
    t.selectExpr(schema.fieldNames.toSeq ++ sums.zipWithIndex.map { case ((x, w), i) =>
      s"sum($x) OVER (PARTITION BY p ORDER BY $order " +
        s"RANGE BETWEEN $w PRECEDING AND $upper) AS s$i"
    }: _*)

  /** Runs the query through the operator and through WindowExec; both plan
    * shapes are asserted, then the rows are compared exactly. */
  private def sameAsWindow(s: SparkSession, rows: Seq[Row], order: String,
      sums: Seq[(String, String)]): Prop = {
    val t = table(s, rows)
    val ours = query(t, order, sums, "CURRENT ROW")
    val ref = query(t, order, sums, "0.0 FOLLOWING")
    val got = ours.collect().sortBy(_.getInt(0)).toSeq
    val want = ref.collect().sortBy(_.getInt(0)).toSeq
    val (oursWindows, oursNative) = windowNodes(ours)
    val (refWindows, refNative) = windowNodes(ref)
    (Prop(oursWindows == 0 && oursNative == 1) :|
      s"operator not planned:\n${ours.queryExecution.sparkPlan}") &&
      (Prop(refWindows == 1 && refNative == 0) :|
        s"reference not on WindowExec:\n${ref.queryExecution.sparkPlan}") &&
      (Prop(got == want) :| s"rows differ\nours: $got\nwant: $want")
  }

  private val params = Check.Parameters.default
    .withMinSuccessfulTests(25).withWorkers(1).withInitialSeed(Seed(20261017L))

  private def check(p: Prop): Unit = {
    val r = Check.check(params, p)
    assert(r.passed, org.scalacheck.util.Pretty.pretty(r))
  }

  private val offsets = Seq("0", "10.0", "0.25")

  test("double order key: decimal and integral sums equal WindowExec (LEGACY)") {
    check(Prop.forAllNoShrink(genTable) { rows =>
      sameAsWindow(legacy, rows, "o", offsets.flatMap(w => Seq("xd" -> w, "xi" -> w)))
    })
  }

  test("double order key: decimal sums equal WindowExec (ANSI)") {
    check(Prop.forAllNoShrink(genTable) { rows =>
      sameAsWindow(ansi, rows, "o", offsets.map("xd" -> _))
    })
  }

  test("integral order key with wrap-around bounds equals WindowExec (LEGACY)") {
    check(Prop.forAllNoShrink(genTable) { rows =>
      sameAsWindow(legacy, rows, "oi", Seq("xd" -> "0", "xi" -> "10", "xd" -> "10"))
    })
  }

  test("decimal order key equals WindowExec, NULLS LAST included") {
    check(Prop.forAllNoShrink(genTable) { rows =>
      sameAsWindow(ansi, rows, "od", offsets.map("xd" -> _)) &&
        sameAsWindow(ansi, rows, "od NULLS LAST", Seq("xd" -> "10.0"))
    })
  }

  test("a frame holding only null inputs sums to null") {
    val rows = Seq(
      Row(0, 1, 1.0, 1, null, null, null),
      Row(1, 1, 2.0, 2, null, 5L, java.math.BigDecimal.valueOf(5, 0)),
      Row(2, 1, 30.0, 30, null, null, null),
      Row(3, 1, 31.0, 31, null, null, null))
    val got = table(legacy, rows)
      .selectExpr("id", "sum(xd) OVER (PARTITION BY p ORDER BY o " +
        "RANGE BETWEEN 10.0 PRECEDING AND CURRENT ROW) AS s",
        "sum(xi) OVER (PARTITION BY p ORDER BY o " +
        "RANGE BETWEEN 10.0 PRECEDING AND CURRENT ROW) AS si")
    assert(windowNodes(got) == ((0, 1)))
    val byId = got.collect().map(r => r.getInt(0) -> ((r.get(1), r.get(2)))).toMap
    assert(byId(0) == ((null, null)))
    assert(byId(1) == ((new java.math.BigDecimal("5.000000"), 5L)))
    assert(byId(2) == ((null, null)) && byId(3) == ((null, null)))
  }

  test("ANSI decimal overflow raises the same error class as WindowExec") {
    val big = new java.math.BigDecimal("9" * 38)
    val rows = Seq(Row(0, 1, 1.0, big), Row(1, 1, 2.0, big))
    val t = ansi.createDataFrame(ansi.sparkContext.parallelize(rows, 1), StructType(Seq(
      StructField("id", IntegerType), StructField("p", IntegerType),
      StructField("o", DoubleType), StructField("x", DecimalType(38, 0)))))
    def condition(upper: String, native: Int): String = {
      val df = t.selectExpr("id",
        s"sum(x) OVER (PARTITION BY p ORDER BY o RANGE BETWEEN 10.0 PRECEDING AND $upper) AS s")
      assert(windowNodes(df)._2 == native, df.queryExecution.sparkPlan)
      val e = intercept[Exception](df.collect())
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).collectFirst {
        case st: SparkThrowable if st.getCondition != null => st.getCondition
      }.getOrElse(fail("no error condition", e))
    }
    val stock = condition("0.0 FOLLOWING", native = 0)
    assert(condition("CURRENT ROW", native = 1) == stock)
  }

  test("declines floating-point sums, ANSI integral sums and mixed windows") {
    val t = table(ansi, Seq(Row(0, 1, 1.0, 1, null, 1L, null)))
    def nodes(exprs: String*): (Int, Int) = windowNodes(t.selectExpr(exprs: _*))
    val frame = "OVER (PARTITION BY p ORDER BY o RANGE BETWEEN 10.0 PRECEDING AND CURRENT ROW)"
    assert(nodes("id", s"sum(o) $frame") == ((1, 0)))
    assert(nodes("id", s"sum(xi) $frame") == ((1, 0)))
    assert(nodes("id", s"sum(xd) $frame", s"count(xd) $frame") == ((1, 0)))
    assert(nodes("id", "sum(xd) OVER (PARTITION BY p ORDER BY o DESC " +
      "RANGE BETWEEN 10.0 PRECEDING AND CURRENT ROW)") == ((1, 0)))
    assert(nodes("id", "sum(xd) OVER (PARTITION BY p ORDER BY o " +
      "ROWS BETWEEN 10 PRECEDING AND CURRENT ROW)") == ((1, 0)))
    assert(nodes("id", s"sum(xd) $frame") == ((0, 1)))
  }
}
