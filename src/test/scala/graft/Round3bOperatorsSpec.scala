package graft

import org.apache.spark.sql.functions._
import graft.dedup.Dedup
import graft.text.TextAnalysis

class Round3bOperatorsSpec extends SparkSpec {

  test("duplicatedSpans: cross-doc repeat merges into one maximal span with exact bounds") {
    import spark.implicits._
    // docs 1 and 2 share the 6-token run "a b c d e f" (positions 2-7 in
    // doc 1, 1-6 in doc 2); all other tokens are unique corpus-wide
    val docs = Seq(
      (1L, "u1 a b c d e f u2 u3"),
      (2L, "a b c d e f v1 v2 v3"),
      (3L, "w1 w2 w3 w4 w5 w6 w7 w8")
    ).toDF("doc_id", "text")
    val got = Dedup.duplicatedSpans(docs, "doc_id", "text", k = 4)
      .orderBy("doc_id", "span_start").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3))).toSeq
    // the shared run duplicates 3 constituent 4-grams per doc, which merge
    // back into the full 6-token span; doc 3 has no duplicated grams
    assert(got === Seq((1L, 2, 7, 6), (2L, 1, 6, 6)))
  }

  test("duplicatedSpans: within-doc repetition is flagged; spans never shorter than k") {
    import spark.implicits._
    val docs = Seq(
      (1L, "r1 r2 r3 r4 m1 m2 m3 r1 r2 r3 r4"), // "r1 r2 r3 r4" repeats in-doc
      (2L, "z1 z2 z3 z4 z5 z6 z7 z8")
    ).toDF("doc_id", "text")
    val got = Dedup.duplicatedSpans(docs, "doc_id", "text", k = 4)
      .orderBy("doc_id", "span_start").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3))).toSeq
    assert(got === Seq((1L, 1, 4, 4), (1L, 8, 11, 4)))
    assert(got.forall(_._4 >= 4))
  }

  test("duplicatedSpans: overlapping repeats from different sources merge (gaps-and-islands)") {
    import spark.implicits._
    // doc 1 positions 1-4 duplicate doc 2's gram, positions 3-6 duplicate
    // doc 3's gram: covered ranges [1,4] and [3,6] overlap -> one span [1,6]
    val docs = Seq(
      (1L, "a b c d e f t1 t2"),
      (2L, "a b c d x1 x2 x3 x4"),
      (3L, "c d e f y1 y2 y3 y4")
    ).toDF("doc_id", "text")
    val got = Dedup.duplicatedSpans(docs, "doc_id", "text", k = 4)
      .filter(col("doc_id") === 1L).orderBy("span_start").collect()
      .map(r => (r.getInt(1), r.getInt(2), r.getInt(3))).toSeq
    assert(got === Seq((1, 6, 6)))
  }

  test("unigramLogProb: hand-computed add-one scores; rare-token doc scores lower") {
    import spark.implicits._
    // corpus: "a" x3, "b" x2, "q" x1 -> N=6, V=3, denom=9
    val docs = Seq((1L, "a a b"), (2L, "a b q")).toDF("doc_id", "text")
    val got = TextAnalysis.unigramLogProb(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    def lp(c: Int): BigDecimal =
      BigDecimal(math.log((c + 1) / 9.0)).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    def doc(cs: Int*): Double =
      BigDecimal(cs.map(lp).sum.toDouble / cs.length)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got === Seq((1L, 3L, doc(3, 3, 2)), (2L, 3L, doc(3, 2, 1))))
    assert(got(0)._3 > got(1)._3) // the rare-token doc is the outlier
  }

  test("crossEmbeddingContamination: best match, tie-break to smaller eval id, hit counts") {
    import spark.implicits._
    val eval_ = Seq(
      (10L, Array(1.0f, 0.0f)), (20L, Array(0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val corpus = Seq(
      (1L, Array(1.0f, 0.0f)),   // cos 1.0 vs eval 10, 0.0 vs eval 20
      (2L, Array(1.0f, 1.0f)),   // cos ~0.7071 vs BOTH -> tie -> eval 10
      (3L, Array(-1.0f, -1.0f))  // negative vs both -> no hits
    ).toDF("vec_id", "embedding")
    val got = graft.dedup.Dedup.crossEmbeddingContamination(
        corpus, eval_, "vec_id", "embedding", threshold = 0.5)
      .orderBy("corpus_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq
    assert(got === Seq((1L, 10L, 1.0, 1L), (2L, 10L, 0.707107, 2L)))
  }

  test("ngramContainmentPairs: subset doc is caught at containment 1.0 where Jaccard misses it") {
    import spark.implicits._
    val small = "q1 q2 q3 q4 q5" // 3 trigrams, all inside doc 2
    val docs = Seq(
      (1L, small),
      (2L, small + " f1 f2 f3 f4 f5 f6 f7 f8 f9 f10 f11 f12 f13 f14 f15"),
      (3L, "z1 z2 z3 z4 z5 z6 z7 z8 z9 z10")
    ).toDF("doc_id", "text")
    val got = graft.dedup.Dedup.ngramContainmentPairs(
        docs, "doc_id", "text", n = 3, threshold = 0.9)
      .orderBy("ida", "idb").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got === Seq((1L, 2L, 1.0)))
    // and Jaccard at the same threshold does NOT pair them (3 shared of 18 union)
    val jac = graft.dedup.Dedup.ngramJaccardPairs(
      docs, "doc_id", "text", n = 3, threshold = 0.9)
    assert(jac.count() === 0L)
  }

  test("ngramContainmentPairs equals brute-force containment on random-ish docs") {
    import spark.implicits._
    // deterministic pseudo-random docs over a tiny vocab so overlaps occur
    val docs = (1L to 30L).map { i =>
      val toks = (0 until 20).map(j => "w" + (((i * 7 + j * 13) % 11)))
      (i, toks.mkString(" "))
    }.toDF("doc_id", "text")
    def trigramSet(text: String): Set[Seq[String]] = {
      val t = text.split("\\s+").toSeq
      t.sliding(3).filter(_.size == 3).toSet.map((s: Seq[String]) => s)
    }
    val sets = docs.collect().map(r => r.getLong(0) -> trigramSet(r.getString(1))).toMap
    val expected = (for {
      a <- sets.keys; b <- sets.keys if a < b
      m = (sets(a) intersect sets(b)).size
      mn = math.min(sets(a).size, sets(b).size)
      if mn > 0 && m.toDouble / mn >= 0.5
    } yield (a, b)).toSet
    val got = graft.dedup.Dedup.ngramContainmentPairs(
        docs, "doc_id", "text", n = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === expected)
  }

  test("incrementalNearDup: planted batch near-dup of a corpus doc is caught; corpus-internal dups are not reported") {
    import spark.implicits._
    val base = (1 to 30).map(j => "t" + ((j * 17) % 23)).mkString(" ")
    val corpus = Seq(
      (1L, base),
      (2L, base), // corpus-internal exact dup: must NOT appear (corpus never self-joins)
      (3L, (1 to 30).map(j => "u" + j).mkString(" "))
    ).toDF("doc_id", "text")
    val batch = Seq(
      (100L, base + " extra"),                      // near-dup of corpus docs 1 and 2
      (200L, (1 to 30).map(j => "v" + j).mkString(" ")) // unique
    ).toDF("doc_id", "text")
    val got = graft.dedup.Dedup.incrementalNearDup(corpus, batch, "doc_id", "text",
        shingleN = 3, threshold = 0.5)
      .orderBy("batch_id", "corpus_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), BigDecimal(r.getDouble(2))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)).toSeq
    // batch doc shares all of base's distinct trigrams and adds one
    // boundary trigram -> J = 23/24 vs both corpus copies
    assert(got.map(t3 => (t3._1, t3._2)) === Seq((100L, 1L), (100L, 2L)))
    assert(got.forall(_._3 > 0.85))
  }

  test("volumeAnomaly: hand-computed z-scores; short histories and zero variance give z = 0") {
    import spark.implicits._
    val H = 3600L * 1000 * 1000 * 1000
    // key "a": bucket counts 10,10,10,30 -> mean 15, sd 10 -> z = -0.5,-0.5,-0.5,1.5
    val a = (0 until 4).flatMap { b =>
      val n = if (b == 3) 30 else 10
      (0 until n).map(i => ("a", b * H + i * 1000L))
    }
    // key "b": only 2 buckets -> below minBuckets -> z = 0
    val b = (0 until 2).flatMap(bk => (0 until 5).map(i => ("b", bk * H + i * 1000L)))
    // key "c": constant volume -> zero variance -> z = 0
    val c = (0 until 4).flatMap(bk => (0 until 7).map(i => ("c", bk * H + i * 1000L)))
    val df = (a ++ b ++ c).toDF("event_type", "ts")
    val got = graft.operators.Profiler.volumeAnomaly(df, "ts", "event_type",
        minBuckets = 3, zThresh = 1.0)
      .orderBy("event_type", "bucket_id").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4)))
    val aRows = got.filter(_._1 == "a")
    assert(aRows.map(_._4).toSeq === Seq(-0.5, -0.5, -0.5, 1.5))
    assert(aRows.map(_._5).toSeq === Seq(false, false, false, true))
    assert(got.filter(_._1 == "b").forall(r => r._4 == 0.0 && !r._5))
    assert(got.filter(_._1 == "c").forall(r => r._4 == 0.0 && !r._5))
  }

  test("nullPatterns: correlated nulls surface as one combined pattern, not independent ones") {
    import spark.implicits._
    val df = Seq[(Option[String], Option[String], Option[String])](
      (Some("a"), Some("b"), Some("c")),
      (Some("a"), Some("b"), Some("c")),
      (None, None, Some("c")), // phone+address missing TOGETHER
      (None, None, Some("c")),
      (Some("a"), Some("b"), None)
    ).toDF("phone", "address", "segment")
    val got = graft.operators.Profiler.nullPatterns(df, Seq("phone", "address", "segment"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got === Seq(
      ("complete", 2L, 0.4),
      ("phone,address", 2L, 0.4),
      ("segment", 1L, 0.2)))
  }

  test("groupCompleteness: one bad stratum is visible while the table-level ratio looks healthy") {
    import spark.implicits._
    val df = Seq(
      ("good", Some("x"), Some("y")), ("good", Some("x"), Some("y")),
      ("good", Some("x"), Some("y")), ("good", Some("x"), Some("y")),
      ("bad", None, Some("y")), ("bad", Some("x"), None)
    ).toDF("seg", "a", "b")
    val got = graft.operators.Profiler.groupCompleteness(df, Seq("a", "b"), Seq("seg"))
      .orderBy("seg", "column").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(got === Seq(
      ("bad", "a", 2L, 0.5), ("bad", "b", 2L, 0.5),
      ("good", "a", 4L, 1.0), ("good", "b", 4L, 1.0)))
    // table-level ratio hides it: 5/6 = 0.83 for both columns
  }

  test("unigramLogProb: empty/whitespace docs are dropped, not scored") {
    import spark.implicits._
    val docs = Seq((1L, "a a"), (2L, "   "), (3L, "")).toDF("doc_id", "text")
    val got = TextAnalysis.unigramLogProb(docs, "doc_id", "text").collect()
    assert(got.map(_.getLong(0)).toSeq === Seq(1L))
  }
}
