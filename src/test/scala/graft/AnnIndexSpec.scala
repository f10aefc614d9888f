package graft

import org.apache.spark.sql.functions._
import graft.similarity.{AnnIndex, Ivf, Pq, Similarity}

/** The composed production ANN path (disk IVF code store + ADC shortlist +
  * exact re-rank): disk == in-memory twin, partition/column pruning reaches
  * the scans, frozen-model appends are one-shot-identical, the recall
  * floor of the shipped configuration holds, one shared sample trains both
  * quantizers, and build and search stay within their pinned job counts. */
class AnnIndexSpec extends SparkSpec {

  // correctness-gate data (sf0.01, like RecallFloorSpec): recall floors are
  // meaningless on the 50-vector sf0.001 fixture
  private lazy val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
  private lazy val queries = emb.filter(col("vec_id") < 10)
  // rows the index admits (valid 64-dim vectors) — the brute-force twin must
  // rank over the same universe
  private lazy val valid = emb.filter(col("embedding").isNotNull && size(col("embedding")) === 64)

  private def rmTree(p: String): Unit = {
    import scala.jdk.CollectionConverters._
    val f = java.nio.file.Paths.get(p)
    if (java.nio.file.Files.exists(f))
      java.nio.file.Files.walk(f).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.delete)
  }

  private def matchSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("disk search == in-memory ivfPqRerankTopK; scans are partition- and column-pruned") {
    val path = "/tmp/graft_ann_index_spec"
    rmTree(path)
    val model = AnnIndex.buildIndex(emb, "vec_id", "embedding", path,
      dim = 64, nLists = 16, m = 8, kCodes = 16)
    val disk = AnnIndex.searchIndex(spark, path, model, queries,
      "vec_id", "embedding", topK = 5, nProbe = 12, shortlist = 100)
    val mem = Pq.ivfPqRerankTopK(emb, queries, "vec_id", "embedding",
      dim = 64, nLists = 16, nProbe = 12, topK = 5, shortlist = 100)
    assert(disk.exceptAll(mem).isEmpty && mem.exceptAll(disk).isEmpty,
      "disk-index search must be row-identical to the in-memory twin")
    val plan = disk.queryExecution.executedPlan.toString
    // probed lists reach the scan as directory pruning
    assert(plan.contains("PartitionFilters: [list_id"),
      s"expected list_id partition pruning in:\n$plan")
    // the corpus-wide ADC pass must never read the raw vector column: one
    // scan reads (id, codes), only the bounded re-rank scan reads (id, v)
    val scanSchemas = "ReadSchema: [^\\n]+".r.findAllIn(plan).toSeq
      .filter(_.contains("struct"))
    assert(scanSchemas.exists(s => s.contains("codes") && !s.contains("\"v\"")),
      s"ADC scan must prune the vector column; scans:\n${scanSchemas.mkString("\n")}")
  }

  test("shipped config (nProbe=12/16, shortlist=100) recall@5 >= 0.90 vs brute force") {
    val path = "/tmp/graft_ann_index_recall"
    rmTree(path)
    val model = AnnIndex.buildIndex(emb, "vec_id", "embedding", path,
      dim = 64, nLists = 16, m = 8, kCodes = 16)
    val exact = matchSet(Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 5))
    def recallAt(nProbe: Int, shortlist: Int): Double = {
      val got = matchSet(AnnIndex.searchIndex(spark, path, model, queries,
        "vec_id", "embedding", topK = 5, nProbe = nProbe, shortlist = shortlist))
      got.intersect(exact).size.toDouble / exact.size
    }
    assert(exact.size == 50)
    val r8 = recallAt(8, 100)
    val r12 = recallAt(12, 100)
    val r16 = recallAt(16, 100)
    info(f"disk IVFADC-R recall@5: nProbe=8 $r8%.4f, nProbe=12 $r12%.4f, nProbe=16 $r16%.4f (shortlist=100)")
    assert(r12 >= r8 - 1e-9, "more probed lists must not lose recall")
    assert(r12 >= 0.90, f"shipped disk-ANN recall@5 $r12%.4f below floor 0.90")
  }

  test("frozen-model append: incrementally grown index == one-shot index") {
    val incPath = "/tmp/graft_ann_index_inc"
    val oncePath = "/tmp/graft_ann_index_once"
    rmTree(incPath); rmTree(oncePath)
    val half1 = emb.filter(col("vec_id") % 2 === 0)
    val half2 = emb.filter(col("vec_id") % 2 === 1)
    val model = AnnIndex.buildIndex(half1, "vec_id", "embedding", incPath,
      dim = 64, nLists = 16, m = 8, kCodes = 16)
    AnnIndex.appendToIndex(half2, "vec_id", "embedding", incPath, model)
    AnnIndex.appendToIndex(emb, "vec_id", "embedding", oncePath, model)
    val a = AnnIndex.searchIndex(spark, incPath, model, queries,
      "vec_id", "embedding", topK = 5, nProbe = 12, shortlist = 100)
    val b = AnnIndex.searchIndex(spark, oncePath, model, queries,
      "vec_id", "embedding", topK = 5, nProbe = 12, shortlist = 100)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
    // occupancy report of the grown store: every admitted vector counted
    // once, load ratios sum to nLists
    val stats = Ivf.indexStats(spark, incPath, nLists = 16).collect()
    assert(stats.map(_.getLong(1)).sum === valid.count())
    assert(math.abs(stats.map(_.getDouble(2)).sum - 16.0) < 1e-9)
  }

  test("model save/load round-trip: loaded model searches and appends identically") {
    val idxPath = "/tmp/graft_ann_model_idx"
    val modelPath = "/tmp/graft_ann_model_store"
    rmTree(idxPath); rmTree(modelPath)
    val model = AnnIndex.buildIndex(emb, "vec_id", "embedding", idxPath,
      dim = 64, nLists = 16, m = 8, kCodes = 16)
    AnnIndex.saveModel(spark, model, modelPath)
    val loaded = AnnIndex.loadModel(spark, modelPath)
    assert(loaded.dim == model.dim && loaded.m == model.m)
    assert(loaded.coarse.zip(model.coarse).forall { case (a, b) => a.sameElements(b) })
    assert(loaded.books.zip(model.books).forall { case (ba, bb) =>
      ba.zip(bb).forall { case (a, b) => a.sameElements(b) } })
    // a future session's search with the loaded model is row-identical
    val a = AnnIndex.searchIndex(spark, idxPath, model, queries,
      "vec_id", "embedding", topK = 5, nProbe = 12, shortlist = 100)
    val b = AnnIndex.searchIndex(spark, idxPath, loaded, queries,
      "vec_id", "embedding", topK = 5, nProbe = 12, shortlist = 100)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("tombstone deletes never surface; rebuild absorbs them physically") {
    val path = "/tmp/graft_ann_tomb"
    val cleanPath = "/tmp/graft_ann_tomb_clean"
    val rebuilt = "/tmp/graft_ann_tomb_rebuilt"
    Seq(path, cleanPath, rebuilt).foreach(rmTree)
    val model = AnnIndex.buildIndex(emb, "vec_id", "embedding", path,
      dim = 64, nLists = 16, m = 8, kCodes = 16)
    AnnIndex.deleteFromIndex(emb.filter(col("vec_id") % 7 === 0), "vec_id", path)
    val got = AnnIndex.searchIndex(spark, path, model, queries,
      "vec_id", "embedding", topK = 5, nProbe = 12, shortlist = 100)
    assert(got.filter(col("neighbor_id") % 7 === 0).count() === 0,
      "a deleted id surfaced in search results")
    // tombstoned search == search over an index of corpus-minus-deleted
    // built under the SAME frozen model
    AnnIndex.appendToIndex(emb.filter(col("vec_id") % 7 =!= 0),
      "vec_id", "embedding", cleanPath, model)
    val want = AnnIndex.searchIndex(spark, cleanPath, model, queries,
      "vec_id", "embedding", topK = 5, nProbe = 12, shortlist = 100)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    // rebuild: physical removal — same results, no tombstone log carried
    AnnIndex.rebuildIndex(spark, path, rebuilt)
    val after = AnnIndex.searchIndex(spark, rebuilt, model, queries,
      "vec_id", "embedding", topK = 5, nProbe = 12, shortlist = 100)
    assert(after.exceptAll(got).isEmpty && got.exceptAll(after).isEmpty)
    assert(AnnIndex.tombstones(spark, rebuilt).count() === 0)
  }

  test("probing every list with a corpus-sized shortlist degenerates to brute force") {
    val path = "/tmp/graft_ann_index_full"
    rmTree(path)
    val n = valid.count().toInt
    val model = AnnIndex.buildIndex(emb, "vec_id", "embedding", path,
      dim = 64, nLists = 8, m = 8, kCodes = 16)
    val full = AnnIndex.searchIndex(spark, path, model, queries,
      "vec_id", "embedding", topK = 5, nProbe = 8, shortlist = n)
    val bf = Similarity.bruteForceTopK(valid, queries, "vec_id", "embedding", 5)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("cosine"), 6).as("cosine")) // searchIndex rounds to 6 dp
    assert(full.exceptAll(bf).isEmpty && bf.exceptAll(full).isEmpty,
      "nProbe = nLists + shortlist = corpus must equal exact brute force")
  }

  test("null and wrong-length vectors are skipped by training: build and search equal the clean corpus's") {
    val s = spark
    import s.implicits._
    // the two lowest ids: a null embedding, then a 63-dim one
    val bad = Seq((-2L, null: Seq[Float], 0), (-1L, Seq.fill(63)(0.125f), 0))
      .toDF("vec_id", "embedding", "label")
    val dirty = bad.unionByName(emb.select("vec_id", "embedding", "label"))
    def built(corpus: org.apache.spark.sql.DataFrame, path: String) = {
      rmTree(path)
      val model = AnnIndex.buildIndex(corpus, "vec_id", "embedding", path,
        dim = 64, nLists = 16, m = 8, kCodes = 16)
      (model, AnnIndex.searchIndex(spark, path, model, queries,
        "vec_id", "embedding", topK = 5, nProbe = 12, shortlist = 100).collect().toSet)
    }
    val (cleanModel, cleanHits) = built(emb, "/tmp/graft_ann_index_clean")
    val (dirtyModel, dirtyHits) = built(dirty, "/tmp/graft_ann_index_dirty")
    assert(dirtyModel.coarse.map(_.toSeq).toSeq == cleanModel.coarse.map(_.toSeq).toSeq)
    assert(dirtyModel.books.map(_.map(_.toSeq).toSeq).toSeq ==
      cleanModel.books.map(_.map(_.toSeq).toSeq).toSeq)
    assert(dirtyHits == cleanHits && cleanHits.nonEmpty)
    // the in-memory exact IVF path: neither row is trained on or becomes a
    // candidate, whichever of the two leads the id order
    def exact(corpus: org.apache.spark.sql.DataFrame) =
      Ivf.ivfTopKExact(corpus, queries, "vec_id", "embedding", 64, 5).collect().toSet
    val cleanExact = exact(emb)
    assert(cleanExact.nonEmpty && exact(dirty) == cleanExact)
    val shortHead = bad.filter(col("vec_id") === -1L)
      .unionByName(emb.select("vec_id", "embedding", "label"))
    assert(exact(shortHead) == cleanExact)
  }

  // the two lowest ids: a null embedding, then a 63-dim one; under 447
  // clean rows they tip the automatic list count (suggestNLists 7, not 6)
  private lazy val dirtyHead = {
    val s = spark
    import s.implicits._
    Seq((-2L, null: Seq[Float], 0), (-1L, Seq.fill(63)(0.125f), 0))
      .toDF("vec_id", "embedding", "label")
      .unionByName(emb.filter(col("vec_id") < 447).select("vec_id", "embedding", "label"))
  }

  private def sameModel(a: graft.similarity.PqIndexModel,
      coarse: Array[Array[Long]], books: Array[Array[Array[Long]]]): Boolean =
    a.coarse.map(_.toSeq).toSeq == coarse.map(_.toSeq).toSeq &&
      a.books.map(_.map(_.toSeq).toSeq).toSeq == books.map(_.map(_.toSeq).toSeq).toSeq

  test("one shared training sample equals the two separate trainers' samples") {
    val path = "/tmp/graft_ann_shared_sample"
    for ((ivfSample, pqSample) <- Seq((300, 100), (100, 300), (200, 200))) {
      rmTree(path)
      val model = AnnIndex.buildIndex(dirtyHead, "vec_id", "embedding", path,
        dim = 64, nLists = 16, m = 8, kCodes = 16,
        ivfSample = ivfSample, pqSample = pqSample)
      val coarse = Ivf.trainCentroidsQuantized(dirtyHead, "vec_id", "embedding", 64, 16,
        sampleSize = ivfSample)
      val books = Pq.trainCodebooks(dirtyHead, "vec_id", "embedding", 64, 8, 16,
        sampleSize = pqSample)
      assert(sameModel(model, coarse, books), s"ivfSample=$ivfSample pqSample=$pqSample")
    }
  }

  test("automatic nLists counts every corpus row, null and wrong-length ones included") {
    val path = "/tmp/graft_ann_auto_lists"
    rmTree(path)
    val n = dirtyHead.count()
    assert(AnnIndex.suggestNLists(n) != AnnIndex.suggestNLists(n - 2), "fixture must tip the count")
    val model = AnnIndex.buildIndex(dirtyHead, "vec_id", "embedding", path, dim = 64)
    assert(model.coarse.length == AnnIndex.suggestNLists(n))
    // the count never exceeds the rows the IVF trainer receives: a 4-row
    // IVF sample trains 4 lists, not suggestNLists(n) = 7
    rmTree(path)
    val capped = AnnIndex.buildIndex(dirtyHead, "vec_id", "embedding", path, dim = 64,
      ivfSample = 4)
    assert(capped.coarse.length == 4)
    // an explicit count above the sample still fails descriptively
    val err = intercept[IllegalArgumentException](AnnIndex.buildIndex(dirtyHead,
      "vec_id", "embedding", path, dim = 64, nLists = 5, ivfSample = 4))
    assert(err.getMessage.contains("sample 4 < nLists 5"))
  }

  test("job pins: buildIndex reads a lazy corpus twice; searchIndex lists its store once") {
    // a lazy joined corpus, like a pipeline's `embeddings ⋈ keep`: each
    // evaluation re-runs the joins. Evaluated four times (count, IVF
    // sample, PQ sample, write), this build ran 23 jobs; the search below,
    // with a schema-inference read and a second listing of its 40-list
    // store, ran 11.
    val dropped = emb.filter(col("vec_id") % 10 === 3).select("vec_id").distinct()
    val keep = emb.select("vec_id").distinct().join(dropped, Seq("vec_id"), "left_anti")
    val corpus = emb.join(keep, Seq("vec_id"))
    val path = "/tmp/graft_ann_job_pins"
    rmTree(path)
    val build = jobsOf(AnnIndex.buildIndex(corpus, "vec_id", "embedding", path, dim = 64))
    assert(build <= 12, s"buildIndex ran $build jobs")
    rmTree(path)
    // more than 32 list directories: listing the store is a Spark job
    val wide = AnnIndex.buildIndex(corpus, "vec_id", "embedding", path, dim = 64, nLists = 40)
    val search = jobsOf(AnnIndex.searchIndex(spark, path, wide, queries,
      "vec_id", "embedding", topK = 5, nProbe = 10, shortlist = 50).collect())
    assert(search <= 9, s"searchIndex ran $search jobs")
  }

  test("pooled lifecycle actions run under the caller's job group, not the pool thread creator's") {
    // the first round creates the pool's threads outside any job group;
    // the second, under a fresh group, reuses them
    val base = "/tmp/graft_ann_lifecycle_group"
    rmTree(base)
    AnnIndex.buildVersioned(emb, "vec_id", "embedding", base, dim = 64, nLists = 8)
    def round(v: Int): Unit = {
      val model = AnnIndex.loadModel(spark, s"${AnnIndex.versionPath(base, v)}/_model")
      AnnIndex.saveModel(spark, model, s"$base/saved_$v")
      val res = AnnIndex.retrain(emb, "vec_id", "embedding", base, dim = 64,
        probeQueries = queries, nLists = 8, recallFloor = 0.0)
      assert(res.promoted && res.toVersion == v + 1)
    }
    round(1)
    val all = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (!Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
            .exists(_.endsWith("-end"))) { all.incrementAndGet(); () }
    }
    spark.sparkContext.addSparkListener(listener)
    val grouped = try jobsOf(round(2)) finally spark.sparkContext.removeSparkListener(listener)
    assert(grouped > 0 && grouped == all.get(),
      s"${all.get()} jobs ran, $grouped under the caller's job group")
  }

  test("a fresh store primes the schema cache with exactly the inferred schema") {
    val s = spark
    import s.implicits._
    for ((name, corpus) <- Seq(
        "long" -> emb,
        "string" -> emb.withColumn("vec_id", concat(lit("v"), col("vec_id"))))) {
      val path = s"/tmp/graft_ann_primed_$name"
      rmTree(path)
      val model = AnnIndex.buildIndex(corpus, "vec_id", "embedding", path,
        dim = 64, nLists = 16, m = 8, kCodes = 16)
      var held: org.apache.spark.sql.types.StructType = null
      assert(jobsOf { held = graft.sources.CachedParquet.schemaOf(spark, path) } == 0,
        s"$name: the first read after the build inferred its schema")
      assert(held == spark.read.parquet(path).schema, name)
      if (name == "string") {
        // tombstones take the id type from the held schema
        val hit = AnnIndex.searchIndex(spark, path, model, corpus.filter(col("vec_id") === "v3"),
          "vec_id", "embedding", topK = 5, nProbe = 16, shortlist = 50)
          .select("neighbor_id").as[String].collect().head
        AnnIndex.deleteFromIndex(Seq(hit).toDF("vec_id"), "vec_id", path)
        val after = AnnIndex.searchIndex(spark, path, model, corpus.filter(col("vec_id") === "v3"),
          "vec_id", "embedding", topK = 5, nProbe = 16, shortlist = 50)
          .select("neighbor_id").as[String].collect()
        assert(after.nonEmpty && !after.contains(hit), s"deleted id $hit surfaced")
      }
    }
  }
}
