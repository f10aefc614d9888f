package graft

import org.apache.spark.sql.functions._
import graft.similarity.{Ivf, Similarity}

class IvfSpec extends SparkSpec {

  private lazy val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
  private lazy val queries = emb.filter(col("vec_id") < 20)

  test("ivfTopK at nProbe = nLists equals brute force exactly") {
    val exact = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 5)
    val ivf = Ivf.ivfTopK(emb, queries, "vec_id", "embedding", 5, nLists = 8, nProbe = 8)
    assert(ivf.exceptAll(exact).isEmpty && exact.exceptAll(ivf).isEmpty)
  }

  test("ivfTopK recall@5 vs brute force is high at nProbe=4/16") {
    val exact = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 5)
      .select(col("query_id"), col("neighbor_id"))
    val ivf = Ivf.ivfTopK(emb, queries, "vec_id", "embedding", 5, nLists = 16, nProbe = 4)
      .select(col("query_id"), col("neighbor_id"))
    val hits = ivf.intersect(exact).count().toDouble
    val total = exact.count().toDouble
    val recall = hits / total
    assert(total > 0)
    assert(recall >= 0.5, s"recall@5 = $recall too low for nProbe=4/16")
  }

  test("disk index: search equals in-memory ivfTopK and the scan is partition-pruned") {
    val path = "/tmp/graft_ivf_index"
    val centroids = Ivf.buildIndex(emb, "vec_id", "embedding", path, nLists = 16)
    val fromDisk = Ivf.searchIndex(spark, path, centroids, queries,
      "vec_id", "embedding", k = 5, nProbe = 4)
    val inMem = Ivf.ivfTopK(emb, queries, "vec_id", "embedding", 5, nLists = 16, nProbe = 4)
    assert(fromDisk.exceptAll(inMem).isEmpty && inMem.exceptAll(fromDisk).isEmpty)
    // the probed-list filter must reach the scan as a partition filter
    val plan = fromDisk.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [list_id"),
      s"expected list_id partition pruning in:\n$plan")
  }

  test("distributed trainer == same ladder at nLists=16 on the real fixture") {
    // recall floor of the shipped config must hold under the distributed
    // trainer too (different init/means than the sample path, same contract)
    val exact = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 5)
      .select(col("query_id"), col("neighbor_id"))
    val ivf = Ivf.ivfTopK(emb, queries, "vec_id", "embedding", 5,
        nLists = 16, nProbe = 6, sampleSize = 0) // <= 0 -> distributed E/M
      .select(col("query_id"), col("neighbor_id"))
    val recall = ivf.intersect(exact).count().toDouble / exact.count().toDouble
    assert(recall >= 0.5, s"distributed-trained recall@5 = $recall too low for nProbe=7/16")
    // and at nProbe = nLists the result is exactly brute force, any trainer
    val full = Ivf.ivfTopK(emb, queries, "vec_id", "embedding", 5,
      nLists = 8, nProbe = 8, sampleSize = 0)
    val bf = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 5)
    assert(full.exceptAll(bf).isEmpty && bf.exceptAll(full).isEmpty)
  }

  test("distributed trainer scales the ladder to nLists=256 on a 6k-vector fixture") {
    import spark.implicits._
    // clustered synthetic corpus: 256 seed directions, 24 jittered copies
    // each -- the shape where a 2048-row sample cannot seed 256 lists well
    val rnd = new scala.util.Random(67)
    val dim = 16
    val seeds = Array.fill(256, dim)(rnd.nextGaussian().toFloat)
    val vecs = (0 until 6144).map { i =>
      val s = seeds(i % 256)
      (i.toLong, s.map(x => x + 0.05f * rnd.nextGaussian().toFloat).toSeq)
    }.toDF("vec_id", "embedding")
    val qs = vecs.filter(col("vec_id") < 10)
    val centroids = Ivf.trainCentroidsDistributed(vecs, "vec_id", "embedding",
      nLists = 256, iters = 3)
    assert(centroids.length === 256)
    assert(centroids.forall(c => math.abs(c.map(x => x.toDouble * x).sum - 1.0) < 1e-3),
      "centroids must be unit-norm")
    // training is deterministic: a second run yields identical centroids
    val again = Ivf.trainCentroidsDistributed(vecs, "vec_id", "embedding",
      nLists = 256, iters = 3)
    assert(centroids.zip(again).forall { case (a, b) => a.sameElements(b) })
    // recall ladder at scale: probing more lists is monotonically better,
    // and even a 16/256 probe finds most true neighbors in this geometry
    val exact = Similarity.bruteForceTopK(vecs, qs, "vec_id", "embedding", 5)
      .select(col("query_id"), col("neighbor_id"))
    def recallAt(nProbe: Int): Double = {
      val ivf = Ivf.ivfTopK(vecs, qs, "vec_id", "embedding", 5,
          nLists = 256, nProbe = nProbe, iters = 3, sampleSize = 0)
        .select(col("query_id"), col("neighbor_id"))
      ivf.intersect(exact).count().toDouble / exact.count().toDouble
    }
    val r16 = recallAt(16)
    assert(r16 >= 0.8, s"recall@5 with nProbe=16/256 = $r16 on clustered data")
  }

  test("ivfTopKExact: full probe equals brute force; shipped config keeps recall") {
    // the integer-exact (oracle-graduated) variant honors the same IVF
    // contract as the float path: probing every list IS brute force...
    val exact = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 5)
    val full = Ivf.ivfTopKExact(emb, queries, "vec_id", "embedding", 64, 5,
      nLists = 8, nProbe = 8, iters = 8)
    assert(full.exceptAll(exact).isEmpty && exact.exceptAll(full).isEmpty)
    // ...and the shipped q_ann_topk_ivf config (16 lists, 7 probes, 8
    // integer Lloyd iterations) holds the recall floor — quantization
    // moves centroids ≤ 1e-6 per component, not enough to change routing
    // quality
    val ship = Ivf.ivfTopKExact(emb, queries, "vec_id", "embedding", 64, 5,
        nLists = 16, nProbe = 7, iters = 8)
      .select(col("query_id"), col("neighbor_id"))
    val exactIds = exact.select(col("query_id"), col("neighbor_id"))
    val recall = ship.intersect(exactIds).count().toDouble / exactIds.count().toDouble
    assert(recall >= 0.5, s"quantized-trained recall@5 = $recall too low for nProbe=7/16")
  }

  test("ivfTopKExact training is deterministic and centroids are integer-exact") {
    val a = Ivf.trainCentroidsQuantized(emb, "vec_id", "embedding", 64, nLists = 16, iters = 8)
    val b = Ivf.trainCentroidsQuantized(emb, "vec_id", "embedding", 64, nLists = 16, iters = 8)
    assert(a.length === 16)
    assert(a.zip(b).forall { case (x, y) => x.sameElements(y) })
    // q6 components of unit-norm vectors: |c| ≤ 1e6 (the no-overflow bound
    // the long dot products rely on)
    assert(a.forall(_.forall(v => math.abs(v) <= 1000000L)))
  }

  test("incremental appendToIndex == one-shot index with the same centroids; stats balance") {
    import java.nio.file.Files
    import scala.jdk.CollectionConverters._
    def rmTree(p: String): Unit = {
      val f = java.nio.file.Paths.get(p)
      if (Files.exists(f))
        Files.walk(f).iterator().asScala.toSeq.reverse.foreach(Files.delete)
    }
    val incPath = "/tmp/graft_ivf_incremental"
    val oncePath = "/tmp/graft_ivf_oneshot"
    rmTree(incPath); rmTree(oncePath)
    val half1 = emb.filter(col("vec_id") % 2 === 0)
    val half2 = emb.filter(col("vec_id") % 2 === 1)
    // freeze the quantizer on day-0 data, then grow the index in batches
    val centroids = Ivf.buildIndex(half1, "vec_id", "embedding", incPath, nLists = 16)
    Ivf.appendToIndex(half2, "vec_id", "embedding", incPath, centroids)
    // one-shot twin: the SAME frozen centroids over the union
    Ivf.appendToIndex(emb, "vec_id", "embedding", oncePath, centroids)
    val a = Ivf.searchIndex(spark, incPath, centroids, queries,
      "vec_id", "embedding", k = 5, nProbe = 4)
    val b = Ivf.searchIndex(spark, oncePath, centroids, queries,
      "vec_id", "embedding", k = 5, nProbe = 4)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
    // occupancy report: every vector counted once, ratios sum to nLists
    val stats = Ivf.indexStats(spark, incPath, nLists = 16).collect()
    assert(stats.map(_.getLong(1)).sum === emb.count())
    assert(math.abs(stats.map(_.getDouble(2)).sum - 16.0) < 1e-9)
  }

  test("every corpus vector is assigned to exactly one list (partition of corpus)") {
    // at nProbe = nLists every query touches all lists, so candidate set per
    // query = corpus minus itself; k = corpus-1 returns every vector once
    val n = emb.count().toInt
    val one = emb.filter(col("vec_id") === 0)
    val all = Ivf.ivfTopK(emb, one, "vec_id", "embedding", k = n, nLists = 4, nProbe = 4)
    assert(all.count() === n - 1)
    assert(all.select("neighbor_id").distinct().count() === n - 1)
  }
}
