package graftbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.{DQManager, Pipeline}
import graft.checks._
import graft.core.SeverityLevel
import graft.dedup.Dedup
import graft.operators.{Graph, Profiler}
import graft.similarity.AnnIndex
import graft.sources.Tables

/** One timed user operation inside an iteration: an index build, a search
  * batch, or the whole pipeline for the batch workloads. */
final case class Op(kind: String, seconds: Double)

/** `answer` is what the iteration produced, reduced to JSON values that the
  * runner checks against the seed's reference; it is extracted after the
  * timed section. */
final case class IterResult(wallS: Double, ops: Seq[Op], answer: Map[String, Any])

trait Workload {
  def run(spark: SparkSession, t: Tracer, iter: Int): IterResult
}

object Workload {
  def apply(name: String, data: String, work: String): Workload = name match {
    case "dq_graph" => new DqGraph(data, work)
    case "curate_dedup_ann" => new CurateDedupAnn(data, work)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def delete(path: String): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
}

/** The reference's own surface: five checks through `DQManager`, their
  * metrics, the valid rows written to a parquet sink, the invalid union
  * counted, and an exact column profile. Then the graph fixpoints over the
  * same `lineitem`: the part co-purchase edge list, PageRank, connected
  * components and label propagation. */
final class DqGraph(dir: String, work: String) extends Workload {
  private val Sev = SeverityLevel.High

  def run(spark: SparkSession, t: Tracer, iter: Int): IterResult = {
    val sink = s"$work/valid-$iter"
    t.start()
    val (li, ord) = t.span("sources.scan") {
      val li = Tables.load(spark, dir, "lineitem")
      val ord = Tables.load(spark, dir, "orders")
      Seq(li, ord).foreach(_.write.format("noop").mode("overwrite").save())
      (li, ord)
    }
    val res = new DQManager(spark, "lineitem")
      .addCheck(new CompletenessColRatioCheck("lineitem", "bench", Sev, "complete_cols",
        Seq("l_orderkey", "l_partkey", "l_quantity", "l_shipdate"), 0.95))
      .addCheck(new CompletenessRawRatioCheck("lineitem", "bench", Sev, "complete_raw",
        Seq("l_extendedprice", "l_discount"), 0.95))
      .addCheck(new UniqueCheck("lineitem", "bench", Sev, "unique_key",
        Seq("l_orderkey", "l_linenumber")))
      .addCheck(new ValidityCheck("lineitem", "bench", Sev, "valid_domain",
        col("l_quantity").between(1, 50) && col("l_discount").between(0, 0.1), 0.99,
        Seq("l_quantity", "l_discount")))
      .addCheck(new ConsistencyCheck("lineitem", "bench", Sev, "fk_orders",
        Seq("l_orderkey"), ord, Seq("o_orderkey")))
      .setData(li)
      .run()
    val metrics = t.span("checks.metrics")(res.getMetricResults.collect())
    t.span("checks.valid_write")(res.getValidDf.write.mode("overwrite").parquet(sink))
    val invalid = t.span("checks.invalid_union")(res.getInvalidUnionDf().count())
    val profile = t.span("operators.profile") {
      Profiler.profileExact(li, Seq("l_quantity", "l_extendedprice", "l_returnflag", "l_shipdate"))
        .collect()
    }
    val edges = t.span("operators.graph_edges") {
      Graph.cooccurrenceEdges(li, "l_orderkey", "l_partkey").localCheckpoint()
    }
    val ranks = t.span("operators.pagerank") {
      Graph.pageRank(Graph.symmetrize(edges, "a", "b"), "u", "v", iters = 5)
    }
    val comps = t.span("dedup.components") {
      Dedup.connectedComponents(edges, "a", "b").localCheckpoint()
    }
    val labels = t.span("operators.lpa")(Graph.labelPropagation(edges, "a", "b", rounds = 3))
    val wall = t.stop()

    /** `value` of every node, in node order. */
    def byNode(df: org.apache.spark.sql.DataFrame, value: String): Seq[(Long, Long)] =
      df.select(col("node").cast("long"), col(value).cast("long")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1).toSeq
    val component = byNode(comps, "component")
    val rank = byNode(ranks, "rank")
    val label = byNode(labels, "label")
    val nodes = component.map(_._1)
    val graph = Map[String, Any](
      "edges" -> edges.count(),
      "nodes" -> nodes,
      "same_nodes" -> (rank.map(_._1) == nodes && label.map(_._1) == nodes),
      "components" -> component.map(_._2).distinct.size.toLong,
      "component" -> component.map(_._2),
      "pagerank" -> rank.map(_._2),
      "lpa" -> label.map(_._2))

    val back = spark.read.parquet(sink)
    val sums = back.agg(count(lit(1)),
      sum(xxhash64(back.columns.map(col): _*).cast("decimal(38,0)")).cast("string")).head()
    Workload.delete(sink)
    val answer = Map[String, Any](
      "metrics" -> metrics.map(r =>
        s"${r.getAs[String]("metric_name")}|${r.getAs[String]("column")}" ->
          r.getAs[java.lang.Double]("value_double")).toMap,
      "valid_rows" -> sums.getLong(0),
      "valid_digest" -> sums.getString(1),
      "invalid_union_rows" -> invalid,
      "profile" -> profile.map(r => r.getAs[String]("column") ->
        Seq("n_non_null", "n_null", "n_distinct", "min_val", "max_val", "mean_val")
          .map(c => r.getAs[Any](c))).toMap,
      "graph" -> graph)
    IterResult(wall, Seq(Op("iteration", wall)), answer)
  }
}

/** The composed curation pipeline: curation (quality gate, exact dedup,
  * decontamination against a 1 % eval split), near-duplicate clustering
  * of the curated corpus by word-3-gram Jaccard >= 0.8 within a language,
  * then an IVF-PQ index (automatic list count) over the embeddings of the
  * deduplicated corpus, searched with the whole query set as one batch,
  * top-10 with a 100-row shortlist. */
final class CurateDedupAnn(dir: String, work: String) extends Workload {
  def run(spark: SparkSession, t: Tracer, iter: Int): IterResult = {
    val path = s"$work/index-$iter"
    val t0 = System.nanoTime()
    t.start()
    val docs = Tables.load(spark, dir, "documents")
    val curated = t.span("pipeline.curate") {
      val cc = Pipeline.curateDetailed(docs.filter(col("doc_id") % 100 =!= 0),
        docs.filter(col("doc_id") % 100 === 0), "doc_id", "text")
      val out = cc.curated.select("doc_id", "split", "text").localCheckpoint()
      cc.unpersist()
      out
    }
    // the pair set is checkpointed so that pair finding and the component
    // fixpoint are timed apart; `Dedup.dedupClusters` composes the same two
    val pairs = t.span("dedup.pairs") {
      Dedup.ngramJaccardPairs(curated.join(docs.select("doc_id", "lang"), "doc_id"),
        "doc_id", "text", n = 3, threshold = 0.8, blockCols = Seq("lang")).localCheckpoint()
    }
    val comps = t.span("dedup.components") {
      Dedup.connectedComponents(pairs, "ida", "idb").localCheckpoint()
    }
    // one document per near-duplicate cluster goes into the index
    val keep = curated.select(col("doc_id").as("vec_id"))
      .join(comps.filter(col("node") =!= col("component")).select(col("node").as("vec_id")),
        Seq("vec_id"), "left_anti")
    val corpus = Tables.load(spark, dir, "embeddings").join(keep, Seq("vec_id"))
    val t1 = System.nanoTime()
    val model = t.span("similarity.build") {
      AnnIndex.buildIndex(corpus, "vec_id", "embedding", path, dim = 64)
    }
    val t2 = System.nanoTime()
    val nProbe = math.max(1, model.coarse.length / 4)
    val results = t.span("similarity.search") {
      AnnIndex.searchIndex(spark, path, model, Tables.load(spark, s"$dir/queries", "embeddings"),
        "vec_id", "embedding", topK = 10, nProbe = nProbe, shortlist = 100).collect()
    }
    val t3 = System.nanoTime()
    val wall = t.stop()

    Workload.delete(path)
    val ids = curated.select("doc_id", "split").collect()
    val answer = Map[String, Any](
      "curated_ids" -> ids.map(_.getLong(0)).sorted.toSeq,
      "splits" -> ids.groupBy(_.getString(1)).map { case (k, v) => k -> v.length.toLong },
      "pairs" -> pairs.count(),
      "clusters" -> comps.collect().map(r => Seq(r.getLong(0), r.getLong(1))).sortBy(_.head).toSeq,
      "n_lists" -> model.coarse.length.toLong,
      "n_probe" -> nProbe.toLong,
      "results" -> results.groupBy(r => r.getAs[Long]("query_id").toString).map { case (q, rs) =>
        q -> rs.sortBy(_.getAs[Int]("rank")).map(_.getAs[Long]("neighbor_id")).toSeq
      })
    IterResult(wall, Seq(Op("curate_dedup", (t1 - t0) / 1e9), Op("build", (t2 - t1) / 1e9),
      Op("search", (t3 - t2) / 1e9)), answer)
  }
}
