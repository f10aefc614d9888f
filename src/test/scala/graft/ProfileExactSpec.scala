package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.ColumnNotFoundException
import graft.operators.Profiler

/** `Profiler.profileExact` (and `deadColumns`) read every statistic off
  * per-column value counts. Parity with a naive reference — one plain
  * query per column, `distinct().count()` and the exact decimal mean —
  * bit for bit, schema nullability included, over random typed frames
  * and the edge cases; plus job and plan pins. */
class ProfileExactSpec extends SparkSpec {

  private val profileSchema = StructType(Seq(
    StructField("column", StringType, nullable = false),
    StructField("n_non_null", LongType, nullable = false),
    StructField("n_null", LongType, nullable = false),
    StructField("n_distinct", LongType, nullable = false),
    StructField("min_val", DoubleType),
    StructField("max_val", DoubleType),
    StructField("mean_val", DoubleType)))

  private def reference(df: DataFrame, cols: Seq[String]): Seq[Row] = cols.map { c =>
    val v = col(c)
    val numeric = df.schema(c).dataType.isInstanceOf[NumericType]
    def num(stat: org.apache.spark.sql.Column) = if (numeric) stat else lit(null).cast("double")
    val a = df.agg(count(v), count(lit(1)), num(min(v).cast("double")), num(max(v).cast("double")),
      num(sum(v.cast("decimal(32,6)")).cast("double") / count(v))).head()
    val distinct = df.select(v).filter(v.isNotNull).distinct().count()
    Row(c, a.getLong(0), a.getLong(1) - a.getLong(0), distinct, a.get(2), a.get(3), a.get(4))
  }

  /** Row values with doubles as their raw bits: -0.0, NaN and 0.0 differ. */
  private def bits(rows: Seq[Row]): Seq[Seq[Any]] = rows.map(_.toSeq.map {
    case d: Double => java.lang.Double.doubleToRawLongBits(d)
    case x => x
  })

  private def assertParity(df: DataFrame, cols: Seq[String]): Unit = {
    val got = Profiler.profileExact(df, cols)
    assert(got.schema == profileSchema)
    assert(bits(got.collect().toSeq) == bits(reference(df, cols)))
  }

  private val typed = StructType(Seq(
    StructField("d", DoubleType), StructField("dec", DecimalType(10, 2)),
    StructField("i", IntegerType), StructField("s", StringType),
    StructField("dt", DateType), StructField("dead", DoubleType)))

  private def frame(schema: StructType, rows: Seq[Row], parts: Int = 1): DataFrame = {
    import scala.jdk.CollectionConverters._
    val df = spark.createDataFrame(rows.asJava, schema)
    if (parts == 1) df.coalesce(1) else df.repartition(parts)
  }

  /** `n` rows of repeated and fresh values, about 10 % nulls per column,
    * and an all-null column. */
  private def randomRows(seed: Long, n: Int): Seq[Row] = {
    val rnd = new scala.util.Random(seed)
    def maybe(v: => Any): Any = if (rnd.nextDouble() < 0.1) null else v
    Seq.fill(n)(Row(
      maybe(if (rnd.nextBoolean()) rnd.nextInt(40) * 0.37 - 5 else rnd.nextDouble() * 1e6),
      maybe(java.math.BigDecimal.valueOf(rnd.nextInt(100000) - 50000L, 2)),
      maybe(rnd.nextInt(100) - 50),
      maybe(s"s${rnd.nextInt(30)}"),
      maybe(java.sql.Date.valueOf(java.time.LocalDate.of(2020, 1, 1).plusDays(rnd.nextInt(400).toLong))),
      null))
  }

  test("random typed frames at 1, 7 and 64 partitions equal the reference bit for bit") {
    for ((parts, seed) <- Seq(1 -> 11L, 7 -> 12L, 64 -> 13L))
      withConfs("spark.sql.shuffle.partitions" -> parts.toString,
          "spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
        assertParity(frame(typed, randomRows(seed, 600), parts), typed.fieldNames.toSeq)
      }
  }

  test("an empty frame, an all-null column and a column listed twice") {
    val df = frame(typed, randomRows(21L, 200), 3)
    assertParity(df.filter(lit(false)), typed.fieldNames.toSeq)
    val twice = Seq("d", "s", "dead", "d")
    assertParity(df, twice)
    val rows = Profiler.profileExact(df, twice).collect()
    assert(rows(0) == rows(3) && rows(2).getLong(1) == 0 && rows(2).getLong(2) == 200)
  }

  test("signed zeros are one value; an extreme at zero reads +0.0") {
    val x = StructType(Seq(StructField("x", DoubleType)))
    assertParity(frame(x, Seq(-1.0, -0.0, 0.0, 1.0, null).map(Row(_))), Seq("x"))
    val r = Profiler.profileExact(frame(x, Seq(-0.0, 0.0, 2.0).map(Row(_))), Seq("x")).head()
    assert(r.getLong(3) == 2)
    assert(java.lang.Double.doubleToRawLongBits(r.getDouble(4)) == 0L)
  }

  test("NaN, infinities and a value beyond decimal(32,6) behave as the per-row formula, ANSI on and off") {
    def outcome(f: => Seq[Row]): Either[String, Seq[Seq[Any]]] =
      try Right(bits(f)) catch {
        case e: Throwable =>
          val conds = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
            .collect { case t: org.apache.spark.SparkThrowable if t.getCondition != null => t.getCondition }
          Left(conds.toSeq.lastOption.getOrElse(e.getClass.getName))
      }
    val x = StructType(Seq(StructField("x", DoubleType)))
    val cases = Seq(
      Seq(1.0, Double.NaN, Double.NaN, 2.5, null),
      Seq(Double.NegativeInfinity, 3.0, Double.PositiveInfinity, Double.NaN),
      Seq(1e30, 2.0, null))
    for (ansi <- Seq("true", "false"); vs <- cases) withConfs("spark.sql.ansi.enabled" -> ansi) {
      val df = frame(x, vs.map(Row(_)), 2)
      val got = outcome(Profiler.profileExact(df, Seq("x")).collect().toSeq)
      assert(got == outcome(reference(df, Seq("x"))), s"ansi=$ansi on $vs")
    }
  }

  test("64 and 70 columns: one grouping-set aggregate per 64, at most 3 jobs up to 64") {
    val w = 70
    val schema = StructType((0 until w).map(i => StructField(s"c$i", IntegerType)))
    val rnd = new scala.util.Random(31L)
    val rows = Seq.fill(40)(Row.fromSeq((0 until w).map(i =>
      if (rnd.nextInt(5) == 0) null else Integer.valueOf(rnd.nextInt(i + 2)))))
    val df = frame(schema, rows)
    val cols = schema.fieldNames.toSeq
    val ref = reference(df, cols)
    val wide = Profiler.profileExact(df, cols)
    assert(wide.schema == profileSchema)
    assert(bits(wide.collect().toSeq) == bits(ref))
    // a fresh frame each: a collected frame's second action reuses its
    // shuffle output. The former plan (repartition, then one distinct
    // Expand carrying all the per-column aggregates) ran 4 jobs for each
    var at64: Seq[Row] = Nil
    val jobs64 = jobsOf { at64 = Profiler.profileExact(df, cols.take(64)).collect().toSeq }
    assert(bits(at64) == bits(ref.take(64)))
    assert(jobs64 <= 3, s"profileExact over 64 columns ran $jobs64 jobs")
    val jobs6 = jobsOf(Profiler.profileExact(frame(typed, randomRows(32L, 300)), typed.fieldNames.toSeq).collect())
    assert(jobs6 <= 3, s"profileExact over 6 columns ran $jobs6 jobs")
  }

  test("the aggregate directly above the Expand holds only the value count") {
    import org.apache.spark.sql.catalyst.expressions.aggregate.Count
    import org.apache.spark.sql.execution.ExpandExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    val df = frame(typed, randomRows(41L, 100), 2)
    val plans = Seq(
      withConfs("spark.sql.adaptive.enabled" -> "false") {
        Profiler.profileExact(df, typed.fieldNames.toSeq).queryExecution.executedPlan
      },
      withConfs("spark.sql.adaptive.enabled" -> "false") {
        Profiler.deadColumns(df, typed.fieldNames.toSeq).queryExecution.executedPlan
      })
    for (plan <- plans) {
      val overExpand = plan.collect {
        case a: BaseAggregateExec if a.child.isInstanceOf[ExpandExec] => a
      }
      assert(overExpand.size == 1, plan.toString)
      assert(overExpand.head.aggregateExpressions.map(_.aggregateFunction) match {
        case Seq(_: Count) => true
        case _ => false
      }, plan.toString)
    }
  }

  test("deadColumns equals the per-column reference, an empty frame included") {
    def ref(df: DataFrame, cols: Seq[String]): Seq[Row] = cols.map { c =>
      val nNull = df.agg(sum(when(col(c).isNull, 1L).otherwise(0L))).head().get(0)
      val d = df.select(col(c)).filter(col(c).isNotNull).distinct().count()
      Row(c, nNull, d, if (d == 0) "all_null" else if (d == 1) "constant" else "live")
    }
    val df = frame(typed, randomRows(51L, 300), 4)
      .withColumn("one", when(col("i").isNotNull, lit("k")))
    val cols = typed.fieldNames.toSeq :+ "one"
    val schema = StructType(Seq(StructField("column", StringType), StructField("n_null", LongType),
      StructField("n_distinct", LongType), StructField("verdict", StringType, nullable = false)))
    for (f <- Seq(df, df.filter(lit(false)))) {
      val got = Profiler.deadColumns(f, cols)
      assert(got.schema == schema && got.queryExecution.executedPlan.schema == schema)
      assert(got.collect().toSeq == ref(f, cols))
    }
  }

  test("an empty column list or an unknown column fails with a descriptive error") {
    val df = frame(typed, randomRows(61L, 10))
    for (run <- Seq[Seq[String] => Any](Profiler.profileExact(df, _), Profiler.deadColumns(df, _))) {
      intercept[IllegalArgumentException](run(Nil))
      val e = intercept[ColumnNotFoundException](run(Seq("d", "nope", "gone", "nope")))
      assert(e.getMessage == "Columns not found: [nope, gone]")
    }
  }
}
