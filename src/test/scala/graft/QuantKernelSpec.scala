package graft

import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.HigherOrderFunction
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.{adc_sum, pq_assign, pq_lut, q6_dots, QuantOps}
import graft.similarity.{AnnIndex, Ivf, Pq}

/** The compiled IVF/PQ kernels (`q6_dots`, `pq_assign`, `pq_lut`,
  * `adc_sum`) against their higher-order-function reference
  * ([[QuantHof]]): identical values — nulls, NaN/±Inf, ties and wrapped
  * overflow included — with ANSI on and off, generated and interpreted;
  * identical errors where the reference throws. Kernel calls over equal
  * matrices are one common subexpression. And the ANN hot paths' executed
  * plans carry no higher-order function. */
class QuantKernelSpec extends SparkSpec {

  private val dim = 8
  private val rnd = new scala.util.Random(5)
  private def randVec(): Seq[Any] = Seq.fill(dim)((rnd.nextFloat() * 2 - 1): Any)

  // rows 0, 1 of the matrix are equal (every vector ties on them); row 4 is zero
  private val matrix: Array[Array[Long]] = {
    val r = Array.fill(5, dim)(rnd.nextInt(2000001).toLong - 1000000L)
    r(1) = r(0).clone(); r(4) = Array.fill(dim)(0L); r
  }
  // codes 1 and 2 of subspace 0 are equal (exact distance ties)
  private val books: Array[Array[Array[Long]]] = {
    val b = Array.fill(2, 4, dim / 2)(rnd.nextInt(2000001).toLong - 1000000L)
    b(0)(2) = b(0)(1).clone(); b
  }

  private def withV(xs: Any*): Seq[Any] = xs
  /** Vectors on which no kernel overflows. */
  private val safe: Seq[Seq[Any]] = Seq.fill(30)(randVec()) ++ Seq(
    Seq.fill(dim)(0f),                                        // ties on every row/code
    withV(0.5f, null, 0.25f, 0.1f, 0.2f, 0.3f, 0.4f, 0.6f),  // null element, subspace 0
    withV(0.5f, 0.1f, 0.25f, 0.1f, 0.2f, 0.3f, 0.4f, null),  // null element, last
    null,                                                     // null vector
    Seq.fill(dim - 1)(0.25f),                                 // too short
    Seq.fill(dim + 1)(0.25f),                                 // too long
    withV(Float.NaN, 0.1f, 0.2f, 0.3f, Float.NaN, 0.5f, 0.6f, 0.7f))
  /** Vectors whose products, differences or sums overflow a long. */
  private val risky: Seq[Seq[Any]] = Seq(
    withV(1e12f, 0.1f, 0.2f, 0.3f, 0.4f, 0.5f, 0.6f, 0.7f),  // q6 · 10 > 2^63
    withV(Float.PositiveInfinity, 0f, 0f, 0f, 0f, 0f, 0f, 0f),
    withV(0f, 0f, 0f, 0f, 0f, 0f, 0f, Float.NegativeInfinity),
    withV(1e7f, null, 0f, 0f, 0f, 0f, 0f, 0f))                // overflow past a null

  private val vecSchema = StructType(Seq(StructField("id", IntegerType),
    StructField("v", ArrayType(FloatType, containsNull = true))))

  /** A frame the optimizer cannot fold (an RDD, not a local relation),
    * so kernels run inside generated code when codegen is on. */
  private def frame(rows: Seq[Seq[Any]]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      rows.zipWithIndex.map { case (v, i) => Row(i, v) }, 2), vecSchema)

  /** Runs `body` under both ANSI settings × generated/interpreted eval;
    * columns are built inside, after the conf is set. */
  private def everyMode(body: String => Unit): Unit =
    for (ansi <- Seq("true", "false"); mode <- Seq("CODEGEN_ONLY", "NO_CODEGEN"))
      withConfs("spark.sql.ansi.enabled" -> ansi, "spark.sql.codegen.factoryMode" -> mode,
        "spark.sql.codegen.wholeStage" -> (mode == "CODEGEN_ONLY").toString) {
        body(s"ansi=$ansi $mode")
      }

  private def condition(t: Throwable): Option[String] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).collectFirst {
      case s: SparkThrowable if s.getCondition != null => s.getCondition
    }

  /** Kernel and reference columns agree on every row of `df`: equal
    * values, or — row by row — the same error condition. */
  private def assertParity(df: DataFrame, label: String)(pairs: (Column, Column)*): Unit = {
    val cols = pairs.flatMap { case (k, h) => Seq(k, h) }
    scala.util.Try(df.select(cols: _*).collect()) match {
      case scala.util.Success(rows) =>
        rows.foreach { r =>
          pairs.indices.foreach(i => assert(r.get(2 * i) == r.get(2 * i + 1), s"$label: $r"))
        }
      case scala.util.Failure(_) =>
        df.select("id").collect().map(_.getInt(0)).foreach { id =>
          val one = df.filter(col("id") === id)
          pairs.foreach { case (k, h) =>
            val got = scala.util.Try(one.select(k).collect().toSeq)
            val want = scala.util.Try(one.select(h).collect().toSeq)
            (got, want) match {
              case (scala.util.Success(a), scala.util.Success(b)) => assert(a == b, s"$label id $id")
              case (scala.util.Failure(a), scala.util.Failure(b)) =>
                assert(condition(a).isDefined && condition(a) == condition(b),
                  s"$label id $id: ${condition(a)} vs ${condition(b)}")
              case _ => fail(s"$label id $id: kernel $got, reference $want")
            }
          }
        }
    }
  }

  test("q6_dots and the IVF tie rules on top equal the HOF reference") {
    everyMode { label =>
      for (rows <- Seq(safe, risky)) {
        val k = q6_dots(col("v"), matrix)
        val h = QuantHof.dots(col("v"), matrix)
        assertParity(frame(rows), label)(
          k -> h,
          Ivf.firstMax(k) -> Ivf.firstMax(h),
          Ivf.probeOrder(k, matrix.length, 3) -> QuantHof.probeOrder(h, matrix.length, 3))
      }
    }
    // the safe rows never throw; the risky ones overflow under ANSI
    withConfs("spark.sql.ansi.enabled" -> "true") {
      assert(frame(safe).select(q6_dots(col("v"), matrix)).collect().length == safe.length)
      val e = intercept[Exception](frame(risky.take(1)).select(q6_dots(col("v"), matrix)).collect())
      assert(condition(e) == Some("ARITHMETIC_OVERFLOW"))
    }
    withConfs("spark.sql.ansi.enabled" -> "false") {
      val wrapped = frame(risky.take(1)).select(q6_dots(col("v"), matrix)).head().getSeq[Long](0)
      val q = risky.head.map(x => QuantOps.q6(x.asInstanceOf[Float]))
      assert(wrapped.head == q.zip(matrix(0)).map { case (a, b) => a * b }.sum)
    }
  }

  test("pq_assign, pq_lut and adc_sum equal the HOF reference") {
    everyMode { label =>
      for (rows <- Seq(safe, risky)) {
        assertParity(frame(rows), label)(
          pq_assign(col("v"), books) -> QuantHof.codes(col("v"), dim, books),
          pq_lut(col("v"), books) -> QuantHof.lut(col("v"), dim, books))
      }
      // ADC over every (codes, lut) pairing of the safe vectors, plus codes
      // with a null element, too few entries and an out-of-range code
      val enc = frame(safe).select(col("id"), pq_assign(col("v"), books).as("c"),
        pq_lut(col("v"), books).as("l")).collect()
      val odd = Seq(Seq(1, null), Seq(1), Seq(0, 3, 1))
      val adcRows = (for (a <- enc; b <- enc.take(6)) yield Row(a.get(1), b.get(2))) ++
        odd.map(c => Row(c, enc.head.get(2)))
      val schema = StructType(Seq(StructField("c", ArrayType(IntegerType)),
        StructField("l", ArrayType(ArrayType(LongType)))))
      val adcDf = spark.createDataFrame(spark.sparkContext.parallelize(
        adcRows.toSeq.zipWithIndex.map { case (r, i) => Row(i, r.get(0), r.get(1)) }, 2),
        StructType(StructField("id", IntegerType) +: schema.fields))
      assertParity(adcDf, label)(adc_sum(col("c"), col("l")) -> QuantHof.adc(col("c"), col("l")))
      val outOfRange = adcDf.filter(col("id") >= enc.length * 6)
        .select(adc_sum(col("c"), array(array(lit(1L)), array(lit(2L)))))
      if (label.startsWith("ansi=true"))
        assert(condition(intercept[Exception](outOfRange.collect()))
          == Some("INVALID_ARRAY_INDEX_IN_ELEMENT_AT"))
      else assert(outOfRange.collect().forall(_.isNullAt(0)))
    }
    withConfs("spark.sql.ansi.enabled" -> "true") {
      val e = intercept[Exception](frame(risky.take(1)).select(pq_assign(col("v"), books)).collect())
      assert(condition(e) == Some("ARITHMETIC_OVERFLOW"))
    }
  }

  test("a ragged matrix or codebook is rejected when the column is built") {
    // flattened, a short row would shift every later row's slice
    val ragged = matrix.updated(2, matrix(2).init)
    intercept[IllegalArgumentException](q6_dots(col("v"), ragged))
    intercept[IllegalArgumentException](q6_dots(col("v"), Array.empty[Array[Long]]))
    val shortCode = books.updated(1, books(1).updated(3, books(1)(3).init))
    val fewCodes = books.updated(1, books(1).init)
    for (b <- Seq(shortCode, fewCodes)) {
      intercept[IllegalArgumentException](pq_assign(col("v"), b))
      intercept[IllegalArgumentException](pq_lut(col("v"), b))
    }
  }

  test("kernel calls over equal matrices built apart are one subexpression, run once per row") {
    val twin = books.map(_.map(_.clone()))
    val df = frame(safe).select(pq_assign(col("v"), books).as("a"),
      pq_assign(col("v"), twin).as("b"), q6_dots(col("v"), matrix).as("c"),
      q6_dots(col("v"), matrix.map(_.clone())).as("d"))
    val calls = df.queryExecution.analyzed.expressions.flatMap(_.collect {
      case k: graft.functions.PqAssign => k
      case k: graft.functions.QuantizedDots => k
    })
    assert(calls.size == 4)
    assert(calls(0).semanticEquals(calls(1)) && calls(2).semanticEquals(calls(3)))
    assert(!calls(0).semanticEquals(calls(2)))
    val code = df.queryExecution.debug.codegenToSeq().map(_._2).mkString("\n")
    for (kernel <- Seq("pqAssign", "dots"))
      assert(s"QuantOps\\.$kernel\\(".r.findAllIn(code).size == 1,
        s"$kernel is not evaluated once per row:\n$code")
    assert(df.collect().forall(r => r.get(0) == r.get(1) && r.get(2) == r.get(3)))
  }

  test("kernels equal the HOF reference on the unit-norm fixture's trained quantizers") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id").cast("int").as("id"), col("embedding").as("v"))
    val coarse = Ivf.trainCentroidsQuantized(emb, "id", "v", dim = 64, nLists = 8)
    val cb = Pq.trainCodebooks(emb, "id", "v", dim = 64, m = 8, k = 16)
    everyMode { label =>
      val k = q6_dots(col("v"), coarse)
      val h = QuantHof.dots(col("v"), coarse)
      assertParity(emb.repartition(3), label)(
        k -> h,
        Ivf.firstMax(k) -> Ivf.firstMax(h),
        Ivf.probeOrder(k, 8, 6) -> QuantHof.probeOrder(h, 8, 6),
        pq_assign(col("v"), cb) -> QuantHof.codes(col("v"), 64, cb),
        pq_lut(col("v"), cb) -> QuantHof.lut(col("v"), 64, cb),
        adc_sum(pq_assign(col("v"), cb), pq_lut(col("v"), cb)) ->
          QuantHof.adc(QuantHof.codes(col("v"), 64, cb), QuantHof.lut(col("v"), 64, cb)))
    }
  }

  /** Executed plans of every query `body` runs (the listener bus is
    * flushed by a sentinel job, as in [[jobsOf]]). */
  private def plansOf(body: => Any): Seq[SparkPlan] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit = {
        plans.add(qe.executedPlan); ()
      }
      def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try jobsOf(body) finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    plans.asScala.toSeq
  }

  private object Walk extends AdaptiveSparkPlanHelper
  private def hofs(plans: Seq[SparkPlan]): Seq[String] =
    plans.flatMap(p => Walk.collectWithSubqueries(p) { case n => n }
      .flatMap(_.expressions.flatMap(_.collect { case h: HigherOrderFunction => h.prettyName })))

  test("plan pin: the ANN build, search and ivfPqTopK run no higher-order function") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 10)
    val path = "/tmp/graft_quant_plan_pin"
    // the pin can fail: a HOF projection in a write is found
    assert(hofs(plansOf(emb.select(QuantHof.q6(col("embedding")).as("q"))
      .write.mode("overwrite").parquet(path + "_hof"))).nonEmpty)
    var model: graft.similarity.PqIndexModel = null
    val build = plansOf { model = AnnIndex.buildIndex(emb, "vec_id", "embedding", path,
      dim = 64, nLists = 8, m = 8, kCodes = 16) }
    val search = plansOf(AnnIndex.searchIndex(spark, path, model, queries,
      "vec_id", "embedding", topK = 5, nProbe = 4, shortlist = 20).collect())
    val ivfPq = plansOf(Pq.ivfPqTopK(emb, queries, "vec_id", "embedding", dim = 64,
      nLists = 8, nProbe = 4).collect())
    for ((name, plans, kernels) <- Seq(("build", build, Seq("q6_dots", "pq_assign")),
        ("search", search, Seq("q6_dots", "pq_lut", "adc_sum")),
        ("ivfPqTopK", ivfPq, Seq("q6_dots", "pq_assign", "pq_lut", "adc_sum")))) {
      assert(plans.nonEmpty, name)
      assert(hofs(plans).isEmpty, s"$name runs higher-order functions: ${hofs(plans)}")
      val text = plans.map(_.toString).mkString("\n")
      kernels.foreach(kn => assert(text.contains(kn), s"$name plan lacks $kn"))
    }
  }
}
