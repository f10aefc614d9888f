package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{cosine_sim, dot_product, minhash_from_hashes, shingle_hashes, simhash64}
import graft.text.TextAnalysis

/** Deduplication operators for training-data pipelines (SURVEY.md §2c
  * north-star extension; `documents`/`embeddings` tables are the fixtures).
  *
  * Scale design (the point of each algorithm here is avoiding the O(n²)
  * all-pairs join at 100 TB):
  *  - exact: one hash-aggregate on a 128-bit content fingerprint — a single
  *    shuffle on the fingerprint, map-side combined.
  *  - MinHash-LSH: per-doc signature (narrow, codegen'd one-pass kernel) →
  *    explode b bands → shuffle on (band, bandHash) — candidate pairs only
  *    ever meet inside a bucket, so the join is |buckets|-local, never n².
  *    Hot buckets (degenerate shingles) are capped with `maxBucketSize`.
  *  - SimHash: 64-bit signature, 4×16-bit bands (any pair within Hamming
  *    distance 3 shares ≥1 band by pigeonhole) → same bucket-join shape.
  *  - embedding near-dup: random-hyperplane LSH sign-buckets then exact
  *    cosine verify inside buckets; brute-force variant kept for oracle
  *    checks and small inputs.
  */
object Dedup {

  /** Exact dedup: keep the smallest id per normalized-content fingerprint.
    * Returns (fingerprint, keep_id, dup_count). */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), TextAnalysis.fingerprint(col(textCol)).as("fingerprint"))
      .groupBy("fingerprint")
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_count"))

  /** Exact dedup, row-preserving: keeps one arbitrary row per fingerprint. */
  def exactDedup(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("__graft_fp", TextAnalysis.fingerprint(col(textCol)))
      .dropDuplicates("__graft_fp")
      .drop("__graft_fp")

  /** Span-level exact dedup with document reassembly — the C4/RefinedWeb
    * "remove repeated spans, keep the rest of the document" operator
    * (public recipe: Raffel et al. 2020 §2.2 dedup three-sentence spans;
    * reference repo has no span-level op — this is §2c pipeline surface).
    * Documents are segmented into fixed-width word blocks (`blockWords`;
    * the synthetic corpus carries no newline/sentence structure, so blocks
    * stand in for paragraphs — real corpora would pre-split on `\n\n` and
    * feed blocks directly). The globally FIRST occurrence of each distinct
    * block — ordered by (doc id, block index) — survives; later occurrences
    * are dropped, and each document is reassembled from its surviving
    * blocks in order. Fully-duplicated documents survive as empty text with
    * `n_kept = 0`, so the caller can count/drop them explicitly.
    *
    * Scale: two keyed exchanges, both linear in corpus size — one on the
    * block text for first-occurrence selection (block strings are short and
    * high-cardinality; no hot key can exceed its duplicate count), one on
    * the doc id for reassembly. No self-join, no all-pairs anything.
    *
    * Output: (idCol, text, n_blocks, n_kept) — one row per input document;
    * documents whose text is NULL, empty, or all-whitespace produce no
    * blocks and are absent from the output (nothing to deduplicate).
    */
  def paragraphDedup(
      df: DataFrame,
      idCol: String,
      textCol: String,
      blockWords: Int = 5
  ): DataFrame = {
    require(blockWords > 0, "blockWords > 0")
    import org.apache.spark.sql.expressions.Window
    val toks = TextAnalysis.tokens(col(textCol))
    // consecutive blockWords-word blocks; a short final block is kept as-is
    val blocks = filter(
      transform(
        // greatest(..., 0) keeps the empty-doc end at 0 — Spark's sequence
        // would otherwise step DOWNWARD to a negative index
        sequence(lit(0), greatest(
          floor((size(toks) + lit(blockWords - 1)) / lit(blockWords)).cast("int") - 1, lit(0))),
        i => array_join(slice(toks, i * blockWords + 1, lit(blockWords)), " ")),
      b => b =!= "")
    val exploded = df
      // repartition before the tokenize + block materialization — a
      // single-file source pins the per-doc pass to one scan task
      // (guide §2.5); dedup winners are (id, index)-ordered, not
      // partition-ordered, so results are unchanged
      .select(col(idCol), col(textCol))
      .repartition(df.sparkSession.sparkContext.defaultParallelism)
      .select(col(idCol), posexplode(blocks).as(Seq("__bidx", "__blk")))
    val firstWins = Window.partitionBy("__blk").orderBy(col(idCol), col("__bidx"))
    exploded
      .withColumn("__keep", row_number().over(firstWins) === 1)
      .groupBy(col(idCol))
      .agg(
        array_join(
          transform(
            array_sort(collect_list(when(col("__keep"),
              struct(col("__bidx").as("i"), col("__blk").as("b"))))),
            s => s.getField("b")),
          " ").as("text"),
        count(lit(1)).as("n_blocks"),
        sum(when(col("__keep"), 1L).otherwise(0L)).as("n_kept"))
  }

  /** Incremental (batch-vs-corpus) exact dedup — the shape every ingestion
    * pipeline runs: flag each NEW document whose normalized-content
    * fingerprint already exists in the accumulated corpus. One equi-join on
    * the 128-bit fingerprint: both sides reduce to (id, fp) projections, the
    * corpus side is `distinct()`-ed (map-side combined), and AQE broadcasts
    * it when small; otherwise the join co-partitions on `fp` — never a
    * cross product. Keep `is_dup = 0` rows to append to the corpus.
    *
    * Output: batch ids with (fingerprint, is_dup). */
  def incrementalDedup(corpus: DataFrame, batch: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val cf = corpus
      .select(TextAnalysis.fingerprint(col(textCol)).as("fingerprint")).distinct()
      .withColumn("__graft_hit", lit(1))
    batch
      .select(col(idCol), TextAnalysis.fingerprint(col(textCol)).as("fingerprint"))
      .join(cf, Seq("fingerprint"), "left_outer")
      .select(col(idCol), col("fingerprint"),
        when(col("__graft_hit").isNotNull, 1).otherwise(0).as("is_dup"))
  }

  /** The standing dedup CATALOG a daily ingest keeps between runs: one row
    * per distinct content fingerprint ever seen —
    * `(fingerprint, first_batch, first_id, n_seen)`. The three operators
    * below form a COMMUTATIVE MONOID over catalogs (spec-asserted):
    *
    *  - [[dedupCatalogOfBatch]]  — lift one batch into catalog form;
    *  - [[dedupCatalogMerge]]    — associative+commutative merge: first
    *    occurrence = lexicographic min over `(first_batch, first_id)`,
    *    `n_seen` sums. ONE keyed aggregation (map-side combined), so
    *    daily/shard states TREE-MERGE — compaction of a year of daily
    *    states is a balanced fold, not a 365-step serial replay;
    *  - [[dedupCatalogFlag]]     — the batch-vs-state probe
    *    ([[incrementalDedup]] against the catalog instead of re-scanning
    *    the whole corpus — the reason the state exists).
    *
    * Bounded-size invariant (spec-pinned): |merged catalog| equals the
    * number of DISTINCT fingerprints in the union of its inputs —
    * growth tracks novel content only, never batch count. That is the
    * compaction contract: merging k states never produces more rows than
    * the distinct-content size of their union. */
  def dedupCatalogOfBatch(batch: DataFrame, idCol: String, textCol: String,
      batchId: Long): DataFrame =
    batch
      .select(col(idCol).cast("long").as("__id"),
        TextAnalysis.fingerprint(col(textCol)).as("fingerprint"))
      .groupBy("fingerprint").agg(
        lit(batchId).as("first_batch"),
        min(col("__id")).as("first_id"),
        count(lit(1)).as("n_seen"))

  /** Merge any number of catalogs (see [[dedupCatalogOfBatch]]): one
    * union + one keyed aggregation regardless of input count.
    *
    * The `repartition` before the aggregation is a CORRECTNESS
    * workaround, not tuning: Spark 4.1.2 plans `groupBy` over a union of
    * identically-BUCKETED table scans with NO exchange (each child scan
    * reports HashPartitioning(key, n) and the requirement check lets the
    * union through, but `UnionExec` CONCATENATES partitions — the same
    * key lives in one partition per input table), silently emitting one
    * row per (key, input) instead of per key. Minimal repro: two
    * 16-bucket tables on `k`, `union.groupBy(k).count()` returns
    * |A|+|B| groups. The explicit repartition forces the real exchange;
    * for non-bucketed inputs it replaces the aggregation's own exchange,
    * so the shuffle count is unchanged.
    *
    * The partition COUNT is chosen against the union's CLAIMED physical
    * partitioning (round 11): a bare `repartition(col)` lands on
    * `spark.sql.shuffle.partitions`, and whenever that EQUALS the input
    * tables' bucket count the planner judges the shuffle redundant and
    * REMOVES it — silently reinstating the upstream bug (measured: with
    * 4-bucket inputs and 4 shuffle partitions the "worked-around" merge
    * still emitted one row per (key, table)). Probing
    * `sparkPlan.outputPartitioning` and bumping the count by one when it
    * matches makes the exchange impossible to elide in every
    * configuration; the Round11Spec canary pins both the upstream bug
    * and this hazard config. */
  def dedupCatalogMerge(catalogs: DataFrame*): DataFrame = {
    require(catalogs.nonEmpty, "dedupCatalogMerge: no catalogs")
    val u = catalogs.reduce(_ unionByName _)
    val defaultN = u.sparkSession.sessionState.conf.numShufflePartitions
    val claimedN = u.queryExecution.sparkPlan.outputPartitioning.numPartitions
    val n = if (claimedN == defaultN) defaultN + 1 else defaultN
    u.repartition(n, col("fingerprint"))
      .groupBy("fingerprint").agg(
        min(struct(col("first_batch"), col("first_id"))).as("__f"),
        sum(col("n_seen")).as("n_seen"))
      .select(col("fingerprint"),
        col("__f.first_batch").as("first_batch"),
        col("__f.first_id").as("first_id"),
        col("n_seen"))
  }

  /** Flag a new batch against the standing catalog: `(idCol, fingerprint,
    * is_dup)` with `is_dup = 1` iff the fingerprint is already cataloged.
    * Identical output contract to [[incrementalDedup]] — but the probe
    * side is the catalog (distinct-content-sized state), not a re-scan of
    * the full corpus, which is what makes daily incremental dedup O(new
    * data + state) instead of O(corpus). */
  def dedupCatalogFlag(catalog: DataFrame, batch: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val cf = catalog.select(col("fingerprint"))
      .withColumn("__graft_hit", lit(1))
    batch
      .select(col(idCol), TextAnalysis.fingerprint(col(textCol)).as("fingerprint"))
      .join(cf, Seq("fingerprint"), "left_outer")
      .select(col(idCol), col("fingerprint"),
        when(col("__graft_hit").isNotNull, 1).otherwise(0).as("is_dup"))
  }

  /** FORGET entries — the takedown/right-to-erasure half of the catalog
    * lifecycle (the dual of the ANN tombstone: there deleted vectors must
    * never SURFACE; here forgotten fingerprints must no longer SUPPRESS —
    * content removed from the corpus has to be re-admittable, else the
    * catalog silently censors future legitimate re-submissions): one
    * broadcast anti-join of the forget-set (takedown-request-sized)
    * against the standing state. Monoid-compatible: forgetting after a
    * merge equals merging pre-forgotten states minus the set. */
  def dedupCatalogForget(catalog: DataFrame, forget: DataFrame,
      fingerprintCol: String): DataFrame =
    catalog.join(
      broadcast(forget.select(col(fingerprintCol).as("fingerprint")).distinct()),
      Seq("fingerprint"), "left_anti")

  /** Persist a catalog state as a table BUCKETED BY FINGERPRINT — the
    * on-disk lifecycle the scaladoc above assumes ("the three states
    * arrive from disk"): the catalog is written pre-shuffled on its one
    * join/aggregation key, so every later [[dedupCatalogFlag]] probe and
    * every [[dedupCatalogCompact]] merge reads it ALREADY hash-partitioned
    * — zero exchange on the (large, corpus-distinct-sized) catalog side,
    * only the small daily batch shuffles (plan spec-asserted,
    * `Round10Spec`). Sorted within buckets so the merge join needs no
    * sort either. */
  def dedupCatalogWrite(catalog: DataFrame, table: String,
      numBuckets: Int = 16): Unit = {
    val spark = catalog.sparkSession
    // the write must never destroy data its own input still has to read:
    // a catalog whose lineage scans `table` (e.g. a compaction whose
    // output name collides with an input day table) would have its source
    // dropped/deleted below BEFORE being read — refuse loudly instead
    require(!planReadsTable(catalog, table),
      s"dedupCatalogWrite: the input plan reads the target table '$table' — " +
        "write to a different name (or use dedupCatalogWriteAtomic, which " +
        "stages the full write before touching the target)")
    // a crashed previous session can leave the managed location on disk
    // without a metastore entry, which makes the CREATE refuse
    // (LOCATION_ALREADY_EXISTS) — a standing daily job must be re-runnable.
    // The location is resolved through the SESSION CATALOG (current
    // database + catalog layout), never by string-concatenating
    // warehouse.dir, which would point at an unrelated default-db path
    // when the session's current database is non-default.
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(table)
    val loc = new org.apache.hadoop.fs.Path(
      spark.sessionState.catalog.defaultTablePath(ident))
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) { fs.delete(loc, true); () }
    graft.sources.Bucketing.writeBucketed(catalog, table,
      Seq("fingerprint"), numBuckets)
  }

  /** Whether `df`'s analyzed plan scans the catalog table `table`
    * (resolved against the session's CURRENT database when unqualified). */
  private def planReadsTable(df: DataFrame, table: String): Boolean = {
    val spark = df.sparkSession
    val target = spark.sessionState.sqlParser.parseTableIdentifier(table)
    val db = target.database
      .getOrElse(spark.sessionState.catalog.getCurrentDatabase)
    df.queryExecution.analyzed.collect {
      case r: org.apache.spark.sql.catalyst.catalog.HiveTableRelation =>
        r.tableMeta.identifier
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation
          if l.catalogTable.isDefined => l.catalogTable.get.identifier
    }.exists { id =>
      id.table.equalsIgnoreCase(target.table) &&
        id.database.forall(_.equalsIgnoreCase(db))
    }
  }

  /** CRASH-SAFE variant of [[dedupCatalogWrite]] for per-batch streaming
    * persistence: the new state is written COMPLETELY to a staging table
    * first, then swapped in (drop old + rename staging). At every instant
    * a complete state exists on disk — during the staging write the
    * previous `table` is untouched; once the swap starts, the staging
    * table is already complete — so a driver crash at ANY point leaves
    * [[dedupCatalogResume]] a full catalog to recover (write-in-place has
    * a drop→rewrite window with NO state at all, the round-10 advisor
    * finding). Staging also makes a lineage that reads `table` safe: the
    * read completes into the staging write before the old table drops. */
  def dedupCatalogWriteAtomic(catalog: DataFrame, table: String,
      numBuckets: Int = 16): Unit = {
    val spark = catalog.sparkSession
    val staging = table + "__staging"
    dedupCatalogWrite(catalog, staging, numBuckets)
    spark.sql(s"DROP TABLE IF EXISTS $table")
    spark.sql(s"ALTER TABLE $staging RENAME TO $table")
  }

  /** Recover the most recent complete catalog persisted by
    * [[dedupCatalogWriteAtomic]]: prefer `table` (normal case); fall back
    * to the staging table (crash happened between drop and rename — the
    * staging write was already complete); `None` when neither exists. */
  def dedupCatalogResume(spark: org.apache.spark.sql.SparkSession,
      table: String): Option[DataFrame] = {
    def exists(t: String) = spark.sessionState.catalog.tableExists(
      spark.sessionState.sqlParser.parseTableIdentifier(t))
    if (exists(table)) Some(spark.table(table))
    else if (exists(table + "__staging")) Some(spark.table(table + "__staging"))
    else None
  }

  /** Tree-merge compaction of PERSISTED daily catalog states: read the
    * bucketed day tables, fold them through ONE [[dedupCatalogMerge]]
    * (one union + one keyed aggregation however many days), and write the
    * compacted state back bucketed. The monoid laws make the fold order
    * irrelevant, so a year of daily states compacts as a balanced tree of
    * these calls — each level reads bucketed inputs and writes a bucketed
    * output, and the output is exactly distinct-content-sized (the
    * bounded-size invariant, spec-asserted at the sf1 replica). */
  def dedupCatalogCompact(spark: org.apache.spark.sql.SparkSession,
      dayTables: Seq[String], outTable: String, numBuckets: Int = 16): Unit = {
    require(dayTables.nonEmpty, "dedupCatalogCompact: no day tables")
    // compacting INTO one of the inputs would drop that input before the
    // merge reads it (dedupCatalogWrite's plan guard would also catch it,
    // but the explicit check names the actual mistake)
    require(!dayTables.exists(_.equalsIgnoreCase(outTable)),
      s"dedupCatalogCompact: outTable '$outTable' is one of the day tables")
    dedupCatalogWrite(dedupCatalogMerge(dayTables.map(spark.table): _*),
      outTable, numBuckets)
  }

  /** Per-example contamination SCORES (the GPT-3 appendix-C style audit,
    * complementing [[crossNgramContamination]]'s counts): for every eval
    * document, the single train document sharing the most distinct word
    * `n`-grams with it, and the overlap fraction
    * `n_shared / n_eval_grams` — the number an eval-hygiene report ranks
    * by before deciding what to strike. Same scale shape as the count
    * report: eval grams broadcast, the train corpus streams through one
    * narrow explode + broadcast join (never shuffled), and the per-pair
    * aggregation runs on MATCHES only; the best-match selection is a
    * rank-1 window over the match frame (`WindowGroupLimit` bounds it
    * before the exchange). Ties break to the smaller train id. Eval docs
    * with no overlap report `(null, 0, 0.0)` — absence is the healthy
    * signal and must be visible.
    *
    * Output: `(eval_id, best_train_id, n_shared, n_eval_grams,
    * overlap_frac)`. */
  def contaminationScores(
      train: DataFrame,
      eval_ : DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 8
  ): DataFrame = {
    def grams(df: DataFrame, as: String) = df.select(
      col(idCol).as(as),
      explode(graft.functions.shingle_hashes(
        TextAnalysis.tokens(col(textCol)), n)).as("g"))
    val eg = grams(eval_, "eval_id")
    val tg = grams(train, "train_id")
    val pairs = tg.join(broadcast(eg), Seq("g"))
      .groupBy(col("eval_id"), col("train_id"))
      .agg(count(lit(1)).as("n_shared")) // grams are distinct per doc side
    val w = org.apache.spark.sql.expressions.Window.partitionBy("eval_id")
      .orderBy(col("n_shared").desc, col("train_id").asc)
    val best = pairs.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
    // greatest(.., 0): size(null) is -1 with ANSI off, and a null-text eval
    // doc must report 0 grams (the oracle's CASE ... ELSE 0), not -1
    val evalGramCounts = eval_.select(col(idCol).as("eval_id"),
      greatest(size(graft.functions.shingle_hashes(
        TextAnalysis.tokens(col(textCol)), n)), lit(0)).cast("long").as("n_eval_grams"))
    evalGramCounts.join(best, Seq("eval_id"), "left_outer")
      .select(col("eval_id"), col("train_id").as("best_train_id"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        col("n_eval_grams"),
        round(coalesce(col("n_shared"), lit(0L)).cast("double") /
          greatest(col("n_eval_grams"), lit(1L)), 6).as("overlap_frac"))
  }

  /** SURGICAL span decontamination — remove the contaminated SPANS, not
    * the documents (the GPT-3 appendix-C remediation: docs sharing an
    * `n`-gram with an eval set lose the overlapping window, keeping the
    * rest of the document's signal; whole-doc dropping is the blunt
    * variant [[crossNgramContamination]] feeds): every train token
    * covered by ANY eval-matching `n`-gram window is cut, and the doc is
    * re-emitted with the surviving tokens.
    *
    * Scale shape: eval grams (md5 of the space-joined window) broadcast;
    * the train side explodes positional grams ONCE, the match join keeps
    * only hits, covered positions aggregate per doc (matches-only —
    * clean docs never shuffle their positions), and the final cut is a
    * row-local filter over the token array. Gram hashing is md5 so an
    * external engine replays the positions exactly.
    *
    * Output: `(idCol, n_tokens, n_removed, clean_md5)` — the md5 of the
    * space-rejoined surviving tokens (narrow, hash-checkable; emit the
    * cleaned text itself by adapting the last select). */
  def decontaminateSpans(
      train: DataFrame,
      eval_ : DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 8
  ): DataFrame = {
    val toks = TextAnalysis.tokens(col(textCol))
    // repartition both sides before the tokenize + per-gram md5 explode —
    // single-file sources pin those passes to one scan task (guide §2.5);
    // per-doc outputs and set aggregations are partition-order-independent
    val par = train.sparkSession.sparkContext.defaultParallelism
    val trainPar = train.select(col(idCol), col(textCol)).repartition(par)
    val evalPar = eval_.select(col(idCol), col(textCol)).repartition(par)
    def positionalGrams(df: DataFrame, as: String) = df
      .select(col(idCol).as(as), toks.as("__t"))
      .filter(size(col("__t")) >= n)
      .select(col(as), posexplode(transform(
        sequence(lit(1), size(col("__t")) - (n - 1)),
        i => md5(concat_ws(" ", slice(col("__t"), i, lit(n)))))).as(Seq("__p0", "g")))
      .select(col(as), (col("__p0") + 1).as("i"), col("g"))
    val evalGrams = positionalGrams(evalPar, "eval_id").select("g").distinct()
    val covered = positionalGrams(trainPar, "__id")
      .join(broadcast(evalGrams), Seq("g"))
      .select(col("__id"), explode(sequence(col("i"), col("i") + (n - 1))).as("ci"))
      .groupBy("__id").agg(collect_set(col("ci")).as("__cov"))
    trainPar
      .select(col(idCol), toks.as("__t"))
      .join(covered.withColumnRenamed("__id", idCol), Seq(idCol), "left_outer")
      .select(col(idCol),
        size(col("__t")).cast("long").as("n_tokens"),
        coalesce(size(col("__cov")), lit(0)).cast("long").as("n_removed"),
        md5(concat_ws(" ", filter(
          zip_with(col("__t"), sequence(lit(1), size(col("__t"))),
            (tk, ix) => struct(tk.as("tk"), ix.as("ix"))),
          e => !array_contains(coalesce(col("__cov"), typedLit(Seq.empty[Int])),
            e.getField("ix"))).getField("tk"))).as("clean_md5"))
  }

  /** Cross-dataset n-gram contamination report (train/eval decontamination —
    * the step that keeps benchmark text out of a training corpus). For every
    * eval document: how many train documents share at least one word n-gram
    * with it, and how many distinct eval n-grams are compromised.
    *
    * Scale shape: the EVAL side is small by construction (a benchmark, not a
    * corpus), so its exploded distinct n-grams are broadcast; the train
    * corpus streams through one narrow explode + broadcast-hash semi-ish
    * join — the 100 TB side is never shuffled. The aggregation then runs on
    * matches only (tiny). For eval sets too big to broadcast, drop the
    * `broadcast` hint and the same plan becomes a shuffled equi-join on the
    * gram (still linear). N-grams are joined as strings here (oracle-exact);
    * swap in [[graft.functions.shingle_hashes]] to shuffle 8 bytes per gram
    * at scale.
    *
    * Output: (eval_id, n_train_docs, n_shared_grams, n_eval_grams) for ALL
    * eval docs (zeros when clean). */
  def crossNgramContamination(
      train: DataFrame,
      eval_ : DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 8
  ): DataFrame = {
    // grams travel as 64-bit kernel hashes (graft.functions.shingle_hashes:
    // sorted distinct rolling n-gram hashes, one codegen pass) instead of
    // exploded strings — the interpreted wordNgrams lambda dominated this
    // query, and 8-byte join keys shrink the exchanged bytes ~5×. A cross-
    // engine match then means hash equality; collision odds are
    // |train grams|·|eval grams| / 2^64 (~1e-10 at bench scale).
    def grams(df: DataFrame, as: String) = df.select(
      col(idCol).as(as),
      explode(graft.functions.shingle_hashes(
        TextAnalysis.tokens(col(textCol)), n)).as("g"))
    val eg = grams(eval_, "eval_id")
    val tg = grams(train, "train_id")
    val hits = tg.join(broadcast(eg), Seq("g"))
      .groupBy(col("eval_id"))
      .agg(countDistinct(col("train_id")).as("n_train_docs"),
        countDistinct(col("g")).as("n_shared_grams"))
    // greatest(.., 0): null-text eval docs count 0 grams, not size(null) = -1
    val evalGramCounts = eval_.select(col(idCol).as("eval_id"),
      greatest(size(graft.functions.shingle_hashes(
        TextAnalysis.tokens(col(textCol)), n)), lit(0)).as("n_eval_grams"))
    evalGramCounts.join(hits, Seq("eval_id"), "left_outer")
      .select(col("eval_id"),
        coalesce(col("n_train_docs"), lit(0L)).as("n_train_docs"),
        coalesce(col("n_shared_grams"), lit(0L)).as("n_shared_grams"),
        col("n_eval_grams").cast("long").as("n_eval_grams"))
  }

  /** Per-document chunk-level novelty against a reference corpus — the
    * oracle-checkable BATCH twin of
    * [[graft.streaming.StreamingChunkDedup]]: cut both sides into
    * content-defined chunks ([[graft.text.TextAnalysis.cdcChunks]]),
    * digest the chunk texts, and report per incoming document how many
    * of its chunks already exist anywhere in the corpus. Re-crawls and
    * boilerplate assemblies score near zero `novelty`; genuinely new
    * text scores near one.
    *
    * Shape: the corpus reduces to DISTINCT chunk digests (one hash
    * aggregation, map-side combined) before the membership join — never
    * doc×doc pairs; the join is keyed on the digest (AQE-broadcast when
    * the corpus digest set is small). `novelty = n_new / n_chunks` is an
    * exact-long division — bit-identical in any engine, emitted raw. */
  def chunkNovelty(docs: DataFrame, corpus: DataFrame, idCol: String,
      textCol: String, w: Int = 16, d: Int = 64): DataFrame = {
    val dc = graft.text.TextAnalysis
      .cdcChunks(docs, idCol, textCol, w, d, emitText = true)
      .select(col(idCol), md5(col("chunk_text")).as("__h"))
    val seen = graft.text.TextAnalysis
      .cdcChunks(corpus, idCol, textCol, w, d, emitText = true)
      .select(md5(col("chunk_text")).as("__h")).distinct()
      .withColumn("__seen", lit(1L))
    dc.join(seen, Seq("__h"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_chunks"),
        sum(coalesce(col("__seen"), lit(0L))).as("n_seen"))
      .select(col(idCol), col("n_chunks"), col("n_seen"),
        ((col("n_chunks") - col("n_seen")).cast("double") / col("n_chunks"))
          .as("novelty"))
  }

  /** Embedding-space train/eval decontamination — the SEMANTIC twin of
    * [[crossNgramContamination]] (catches paraphrased benchmark leakage
    * that exact n-gram overlap misses): flags every corpus row whose
    * embedding has cosine ≥ `threshold` against ANY eval embedding,
    * reporting the best match (highest cosine, ties → smallest eval id)
    * and the hit count. Returns `(corpus_id, eval_id, cosine,
    * n_eval_hits)`.
    *
    * Scale shape: eval sets are benchmark-sized, so the eval side is
    * BROADCAST and the corpus NEVER shuffles — one scan computing
    * |eval| codegen'd kernel dot products per corpus row, then a map-side
    * combined argmax aggregate; embarrassingly parallel at 100 TB. For
    * eval sets too large to broadcast, run [[embeddingNearDupPairs]]'
    * sign-LSH bucketing across the two tables instead. */
  def crossEmbeddingContamination(
      corpus: DataFrame,
      eval_ : DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double
  ): DataFrame = {
    val c = corpus
      .repartition(corpus.sparkSession.sparkContext.defaultParallelism)
      .select(col(idCol).as("corpus_id"), col(vecCol).as("__cv"))
    val e = eval_.select(col(idCol).as("__eid"), col(vecCol).as("__ev"))
    c.crossJoin(broadcast(e))
      .select(col("corpus_id"), col("__eid"),
        round(cosine_sim(col("__cv"), col("__ev")), 6).as("__cs"))
      .filter(col("__cs") >= threshold)
      .groupBy(col("corpus_id"))
      .agg(max(struct(col("__cs"), (-col("__eid")).as("__neg"))).as("__best"),
        count(lit(1)).as("n_eval_hits"))
      .select(col("corpus_id"), (-col("__best.__neg")).as("eval_id"),
        col("__best.__cs").as("cosine"), col("n_eval_hits"))
  }

  /** n-gram CONTAINMENT near-dup pairs — the asymmetric set-similarity
    * join `|A∩B| / min(|A|,|B|) ≥ t`: catches subset duplication (one doc
    * quoting or embedding another) that Jaccard structurally misses (a
    * 100-gram doc containing all 10 grams of a smaller one has Jaccard
    * 0.1 but containment 1.0). Output `(ida, idb, containment)`,
    * `ida < idb`.
    *
    * Scale shape (prefix-filter asymmetry is the point): the containment
    * bound constrains only the SMALLER set of a pair — overlap ≥
    * ceil(t·min) means the smaller set's canonical-order prefix of length
    * `c − ceil(t·c) + 1` must contain a shared gram, while the shared gram
    * can sit anywhere in the larger set. So the inverted index holds FULL
    * gram postings, probed by prefix grams only, with the probe side
    * required to be the smaller of the pair (ties by id) — candidate
    * generation is ~(1−t) of the full self-join, and the verify step is
    * the same sorted-merge intersection kernel as the Jaccard join. Grams
    * travel as 64-bit hashes. Word n ≥ 3 keeps posting lists from
    * degenerating into stopword buckets. */
  def ngramContainmentPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      threshold: Double = 0.9,
      blockCols: Seq[String] = Seq.empty
  ): DataFrame = {
    val setCol = shingle_hashes(TextAnalysis.tokens(col(textCol)), n)
    val base = df
      .repartition(df.sparkSession.sparkContext.defaultParallelism)
      .select(col(idCol).as("id") +: setCol.as("sh") +: blockCols.map(col): _*)
      .filter(size(col("sh")) > 0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val prefLen = (size(col("sh")).cast("long") -
      ceil(lit(threshold) * size(col("sh")).cast("double") - lit(1e-9)) + 1).cast("int")
    val full = base.select(
      col("id").as("idx_id") +: size(col("sh")).as("idx_c") +:
        explode(col("sh")).as("g") +: blockCols.map(col): _*)
    val probe = base.select(
      col("id").as("pr_id") +: size(col("sh")).as("pr_c") +:
        explode(slice(col("sh"), lit(1), prefLen)).as("g") +: blockCols.map(col): _*)
    // probe side must be the smaller of the pair (the side the bound
    // constrains); ties broken by id so each pair is generated once
    val candidates = probe.join(full, blockCols :+ "g")
      .filter(col("pr_c") < col("idx_c") ||
        (col("pr_c") === col("idx_c") && col("pr_id") < col("idx_id")))
      .select(least(col("pr_id"), col("idx_id")).as("ida"),
        greatest(col("pr_id"), col("idx_id")).as("idb"))
      .distinct()
    val a = base.select(col("id").as("ida"), col("sh").as("sha"))
    val b = base.select(col("id").as("idb"), col("sh").as("shb"))
    val verified = candidates.join(a, Seq("ida")).join(b, Seq("idb"))
      .select(col("ida"), col("idb"),
        (graft.functions.sorted_intersection_count(col("sha"), col("shb")).cast("double") /
          least(size(col("sha")), size(col("shb"))).cast("double")).as("containment"))
      .filter(col("containment") >= threshold)
    finishPairs(verified, base)
  }

  /** LSH banding parameter PLANNER (the published S-curve analysis —
    * Leskovec/Rajaraman/Ullman, MMDS ch. 3): for every (bands, rows)
    * factorization of a `numHashes`-component MinHash signature, the
    * probability that a pair with true Jaccard `s` becomes a candidate is
    * `p(s) = 1 − (1 − s^r)^b`. Emits the full curve on the 5% grid — the
    * table that picks a banding BEFORE burning a corpus-scale pass: choose
    * the smallest `bands` whose `p` at your similarity threshold clears
    * your recall target (more bands = more recall, more candidate cost).
    *
    * Determinism discipline: the powers are computed as explicit LEFT
    * FOLDS of repeated multiplication (never `pow`, whose rounding is
    * libm-specific), so any engine replays every double bit-for-bit
    * (verified: 152/152 rows bit-identical vs DuckDB `list_reduce`);
    * rounding is decimal HALF_UP to match SQL `round`. Driver-side by
    * design — the frame is #divisors(numHashes) × 19 rows of arithmetic,
    * there is no data to distribute. */
  def lshParamPlan(spark: org.apache.spark.sql.SparkSession,
      numHashes: Int = 128): DataFrame = {
    require(numHashes >= 1)
    import spark.implicits._
    val rows = for {
      b <- (1 to numHashes).filter(numHashes % _ == 0)
      i <- 1 to 19
    } yield {
      val r = numHashes / b
      val s = i.toDouble / 20
      var sr = s; var k = 1
      while (k < r) { sr *= s; k += 1 }
      val q = 1.0 - sr
      var qb = q; k = 1
      while (k < b) { qb *= q; k += 1 }
      val p = BigDecimal(1.0 - qb)
        .setScale(6, scala.math.BigDecimal.RoundingMode.HALF_UP).toDouble
      (b, r, i * 5, p)
    }
    rows.toDF("bands", "rows_per_band", "s_pct", "p_candidate")
  }

  /** MinHash + banded LSH near-duplicate pairs, verified with exact Jaccard
    * over distinct word-n-gram shingles. Output: (ida, idb, jaccard) with
    * ida < idb, jaccard >= `threshold`. */
  def minHashLshPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      numHashes: Int = 128,
      bands: Int = 32,
      threshold: Double = 0.5,
      seed: Long = 42L,
      maxBucketSize: Int = 1000
  ): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    // sorted distinct SHINGLE HASHES, not shingle strings: one codegen'd
    // kernel per doc (hash each token once, fold n-windows, sort+dedupe
    // longs). Shingle strings would cost an interpreted lambda + two
    // allocations per shingle and then ride every downstream shuffle; the
    // hashes are 8 bytes each and the verify step merges them linearly.
    // Repartition first: a small/compacted source (one parquet file = one
    // partition) would otherwise run the whole signature pass on one core.
    // The frame is consumed three times (signature/banding + both sides of
    // the verify join), so it is cached MEMORY_AND_DISK (spills rather than
    // OOMs) until [[finishPairs]] has materialized the pair list.
    val base = df
      .repartition(df.sparkSession.sparkContext.defaultParallelism)
      .select(col(idCol).as("id"),
        shingle_hashes(TextAnalysis.tokens(col(textCol)), shingleN, seed).as("sh"))
      .filter(size(col("sh")) > 0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    val banded = base
      .select(col("id"), minhash_from_hashes(col("sh"), numHashes).as("sig"))
      .select(col("id"), posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => xxhash64(slice(col("sig"), b * r + 1, lit(r))))).as(Seq("band", "bucket")))

    // cap degenerate buckets: a bucket of size m yields m²/2 candidates
    val capped = banded
      .groupBy("band", "bucket").agg(collect_list(col("id")).as("ids"))
      .filter(size(col("ids")) > 1 && size(col("ids")) <= maxBucketSize)

    val candidates = capped
      .select(explode(col("ids")).as("ida"), col("ids"))
      .select(col("ida"), explode(col("ids")).as("idb"))
      .filter(col("ida") < col("idb"))
      .distinct()

    finishPairs(verifyJaccard(candidates, base, threshold), base)
  }

  /** Shard-routed twin of [[minHashLshPairs]]: the band buckets are routed
    * to `nShards` shards via rendezvous hashing on the BAND KEY
    * (`band:bucket` — [[graft.operators.Routing.rendezvousAssign]]), so
    * every bucket lands on exactly one shard and candidate pairs for equal
    * band keys are PROVABLY shard-local: a 100 TB corpus can run each
    * shard's banding→pairing→verify as an independent job (different
    * cluster, different day) and the union of shard outputs equals the
    * global [[minHashLshPairs]] output set exactly — equal band keys
    * co-shard by construction, so no cross-shard candidate is ever lost,
    * and the final pair-keyed distinct merges the (rare) same-pair-via-
    * different-band duplicates across shards. Rendezvous (not `mod`)
    * keeps re-sharding cheap: changing `nShards` by one moves ~1/n of the
    * buckets. In this single-job composition the shard id participates in
    * the bucket aggregation key (functionally dependent on it — same
    * groups, same cost) and is the routing key an external pipeline
    * splits the job on. Set-equality vs the unsharded path is spec-pinned
    * (`Round8Spec`) and oracle-gated (`q_dedup_sharded`). */
  def minHashLshPairsSharded(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      numHashes: Int = 128,
      bands: Int = 32,
      threshold: Double = 0.5,
      seed: Long = 42L,
      maxBucketSize: Int = 1000,
      nShards: Int = 16
  ): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    val base = df
      .repartition(df.sparkSession.sparkContext.defaultParallelism)
      .select(col(idCol).as("id"),
        shingle_hashes(TextAnalysis.tokens(col(textCol)), shingleN, seed).as("sh"))
      .filter(size(col("sh")) > 0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    val banded = base
      .select(col("id"), minhash_from_hashes(col("sh"), numHashes).as("sig"))
      .select(col("id"), posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => xxhash64(slice(col("sig"), b * r + 1, lit(r))))).as(Seq("band", "bucket")))
      .withColumn("__bk",
        concat(col("band").cast("string"), lit(":"), col("bucket").cast("string")))
    val sharded = graft.operators.Routing.rendezvousAssign(banded, "__bk", nShards)

    // bucket aggregation keyed under the shard route (shard is functionally
    // determined by the band key: identical groups to the global path)
    val capped = sharded
      .groupBy("shard", "band", "bucket").agg(collect_list(col("id")).as("ids"))
      .filter(size(col("ids")) > 1 && size(col("ids")) <= maxBucketSize)

    val candidates = capped
      .select(col("shard"), explode(col("ids")).as("ida"), col("ids"))
      .select(col("shard"), col("ida"), explode(col("ids")).as("idb"))
      .filter(col("ida") < col("idb"))
      // shard-local dedup first (what each independent shard job emits),
      // then the pair-keyed cross-shard merge
      .dropDuplicates("shard", "ida", "idb")
      .select("ida", "idb").distinct()

    finishPairs(verifyJaccard(candidates, base, threshold), base)
  }

  /** Incremental NEAR-dup: which docs in a new `batch` near-duplicate a
    * doc already in `corpus` (MinHash-LSH bucket join + exact Jaccard
    * verify) — the daily-crawl-vs-existing-corpus shape, the near-dup twin
    * of [[incrementalDedup]] (which catches only exact fingerprints).
    * Returns `(batch_id, corpus_id, jaccard)` with jaccard ≥ `threshold`;
    * a caller drops the flagged batch docs before appending.
    *
    * Scale shape: the corpus side is only ever SCANNED (signature pass +
    * verify join) — it never self-joins and is never cached; the
    * batch-side band table (bounded by |batch|·bands) is broadcast into
    * the bucket join, so the corpus's banded stream sheds non-matching
    * rows at scan speed. In a standing pipeline, materialize the corpus
    * band table once (same pattern as [[graft.similarity.AnnIndex.buildIndex]])
    * and this becomes a pure index probe. Recall: a true pair at J ≥ t
    * shares an LSH bucket with probability 1 − (1 − J^r)^bands — at the
    * default 64 bands of r = 2, misses at J ≥ 0.5 are ≤ 1e-8, so the
    * output is exact in expectation at oracle scale. */
  def incrementalNearDup(
      corpus: DataFrame,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      numHashes: Int = 128,
      bands: Int = 64,
      threshold: Double = 0.5,
      seed: Long = 42L
  ): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    def shingled(df: DataFrame, as: String) = df
      .repartition(df.sparkSession.sparkContext.defaultParallelism)
      .select(col(idCol).as(as),
        shingle_hashes(TextAnalysis.tokens(col(textCol)), shingleN, seed).as(s"sh_$as"))
      .filter(size(col(s"sh_$as")) > 0)
    def bandify(df: DataFrame, id: String) = df
      .select(col(id), minhash_from_hashes(col(s"sh_$id"), numHashes).as("sig"))
      .select(col(id), posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => xxhash64(slice(col("sig"), b * r + 1, lit(r))))).as(Seq("band", "bucket")))
    val c = shingled(corpus, "corpus_id")
    val b = shingled(batch, "batch_id")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val candidates = bandify(c, "corpus_id")
      .join(broadcast(bandify(b, "batch_id")), Seq("band", "bucket"))
      .select("batch_id", "corpus_id")
      .distinct()
    val verified = candidates
      .join(broadcast(b), Seq("batch_id"))
      .join(c, Seq("corpus_id"))
      // project m once so the merge kernel runs once per pair
      .select(col("batch_id"), col("corpus_id"),
        graft.functions.sorted_intersection_count(col("sh_batch_id"), col("sh_corpus_id"))
          .as("__m"),
        size(col("sh_batch_id")).as("__ca"), size(col("sh_corpus_id")).as("__cb"))
      .select(col("batch_id"), col("corpus_id"),
        (col("__m").cast("double") /
          (col("__ca") + col("__cb") - col("__m")).cast("double")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
    val out = verified.transform(graft.core.Checkpoints.truncate)
    b.unpersist()
    out
  }

  /** Materialize the (much smaller) verified pair list eagerly via
    * [[graft.core.Checkpoints.truncate]] (one job at call time) and
    * unpersist the cached shingle frame before returning: the persisted
    * corpus-sized frame would otherwise stay pinned in executor storage
    * for as long as the returned lazy plan lives (a storage leak in
    * long-running sessions). The
    * checkpoint also truncates lineage, so downstream iterative consumers
    * (connected components) never re-run the pair pipeline. On a real
    * cluster set `spark.graft.checkpointDir` and the truncation becomes a
    * RELIABLE checkpoint, survivable across executor loss. */
  private def finishPairs(pairs: DataFrame, cached: DataFrame): DataFrame = {
    val out = pairs.transform(graft.core.Checkpoints.truncate)
    cached.unpersist()
    out
  }

  /** Exact Jaccard verify over SORTED distinct sets: |A∩B| via linear merge,
    * |A∪B| = |A|+|B|−|A∩B|. Same values as array_intersect/array_union but
    * allocation-free per pair. */
  private def verifyJaccard(candidates: DataFrame, base: DataFrame, threshold: Double): DataFrame =
    candidates
      .join(base.select(col("id").as("ida"), col("sh").as("sha")), "ida")
      .join(base.select(col("id").as("idb"), col("sh").as("shb")), "idb")
      .withColumn("__inter", graft.functions.sorted_intersection_count(col("sha"), col("shb")))
      .withColumn("jaccard",
        col("__inter").cast("double") /
          (size(col("sha")) + size(col("shb")) - col("__inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("ida", "idb", "jaccard")

  /** SimHash near-dup pairs: 64-bit signature over tokens, 4×16-bit band
    * blocking, Hamming-distance verify. Any pair with distance <= 3 is
    * guaranteed caught (pigeonhole over 4 bands); with `probeBits = true`
    * the guarantee extends to distance <= 7 — see below. Output:
    * (ida, idb, hamming). */
  def simHashPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3,
      seed: Long = 0L,
      /** cap on bucket size: a bucket of m ids yields m²/2 candidates, so a
        * degenerate hot bucket (boilerplate-heavy corpora) can go quadratic
        * at scale. Capping SACRIFICES the pigeonhole guarantee for pairs
        * routed through dropped buckets — keep at MaxValue when exactness
        * within `maxHamming` matters more than the worst-case blowup. */
      maxBucketSize: Int = Int.MaxValue,
      /** Hamming-1 multi-probe: one side of the self-join also lands in the
        * 16 buckets one bit-flip away per band. Pigeonhole then guarantees
        * EVERY pair with distance <= 7 is caught (if all 4 bands differed
        * by >= 2 bits the total would be >= 8), so `maxHamming <= 7`
        * becomes LOSS-FREE — exact pair enumeration, not approximate
        * blocking. Cost: 17× the candidate rows on the probed side
        * (bounded-linear; the verify stays exact either way). */
      probeBits: Boolean = false,
      /** md5 token hashes instead of XXH64: same algorithm, ~5-10× hash
        * cost, but the signature is recomputable by any SQL engine with an
        * md5 builtin — the oracle path. `seed` is ignored when set. */
      md5TokenHash: Boolean = false
  ): DataFrame = {
    val sigExpr =
      if (md5TokenHash) graft.functions.simhash64_md5(col("toks"))
      else simhash64(col("toks"), seed)
    val sigs = df
      .repartition(df.sparkSession.sparkContext.defaultParallelism)
      .select(col(idCol).as("id"), TextAnalysis.tokens(col(textCol)).as("toks"))
      .filter(size(col("toks")) > 0)
      .select(col("id"), sigExpr.as("sig"), lit("").as("__blk"))
    bandedHammingPairs(sigs, maxHamming, maxBucketSize, probeBits)
      .select("ida", "idb", "hamming")
  }

  /** Shared SimHash banding/verify core over precomputed signatures:
    * `sigs` carries `(id, sig, __blk)` — pairs are enumerated only WITHIN
    * a block (`__blk` = "" for unblocked text; parsed media format for
    * [[graft.multimodal.Multimodal.mediaNearDupPairs]]), via the 4×16-bit
    * band buckets, then verified by exact Hamming distance. Same
    * pigeonhole contracts as [[simHashPairs]] (≤ 3 loss-free; ≤ 7 with
    * `probeBits`). Output: `(__blk, ida, idb, hamming)`. */
  private[graft] def bandedHammingPairs(
      sigs: DataFrame,
      maxHamming: Int,
      maxBucketSize: Int,
      probeBits: Boolean
  ): DataFrame = {
    val banded0 = sigs.select(col("__blk"), col("id"), col("sig"),
      posexplode(array((0 until 4).map(b =>
        shiftrightunsigned(col("sig"), b * 16).bitwiseAND(lit(0xFFFFL))): _*))
        .as(Seq("band", "bucket")))
    val banded =
      if (maxBucketSize == Int.MaxValue) banded0
      else {
        val w = org.apache.spark.sql.expressions.Window.partitionBy("__blk", "band", "bucket")
        banded0.withColumn("__bs", count(lit(1)).over(w))
          .filter(col("__bs") <= maxBucketSize).drop("__bs")
      }

    val l = banded.select(col("__blk"), col("id").as("ida"), col("sig").as("siga"),
      col("band"), col("bucket"))
    // probe side: exact bucket + (optionally) every hamming-1 neighbor
    // bucket. Probing ONE side suffices — bucket_a = bucket_b ^ bit means
    // a's exact bucket lands in b's probe set — and the pair `distinct`
    // below already absorbs the symmetric double-find.
    val rBase = banded.select(col("__blk"), col("id").as("idb"), col("sig").as("sigb"),
      col("band"), col("bucket"))
    val rt =
      if (!probeBits) rBase
      else rBase.withColumn("bucket",
        explode(array(col("bucket") +: (0 until 16).map(b =>
          col("bucket").bitwiseXOR(lit(1L << b))): _*)))
    l.join(rt, Seq("__blk", "band", "bucket"))
      .filter(col("ida") < col("idb"))
      .select(col("__blk"), col("ida"), col("idb"),
        bit_count(col("siga").bitwiseXOR(col("sigb"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Token-set (word n-gram) Jaccard pairs via prefix-filtered inverted
    * index + exact merge verify (use [[minHashLshPairs]] for probabilistic
    * blocking at lower thresholds).
    *
    * Prefix filter (AllPairs/PPJoin family, Bayardo et al., WWW'07 — public
    * result): under ANY global canonical order of grams (here: the 64-bit
    * gram hash order the sets are already sorted by), two sets with
    * `J(A,B) >= t` MUST share a gram within the first
    * `|A| - ceil(t*|A|) + 1` grams of A (resp. B). So only that prefix is
    * exploded into the inverted index — at t=0.9 that's ~10% of each set,
    * which cuts hot-gram bucket sizes ~10x and their pairwise blowup ~100x
    * versus indexing every gram. Candidates then get an exact
    * allocation-free linear-merge Jaccard verify, so output is IDENTICAL to
    * the brute-force definition — the filter only prunes work.
    */
  def ngramJaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 1,
      threshold: Double = 0.8,
      blockCols: Seq[String] = Seq.empty
  ): DataFrame = {
    // gram sets as sorted distinct 64-bit hashes (collision odds negligible;
    // the exploded index then moves 8-byte longs, not gram strings)
    val setCol = shingle_hashes(TextAnalysis.tokens(col(textCol)), n)
    // consumed thrice (prefix index + both verify sides)
    val base = df
      .repartition(df.sparkSession.sparkContext.defaultParallelism)
      .select(col(idCol).as("id") +: setCol.as("sh") +: blockCols.map(col): _*)
      .filter(size(col("sh")) > 0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // ceil(t*|A|) with a tiny slack so an off-by-one-ulp product can only
    // LENGTHEN the prefix (correctness is one-sided; extra grams cost only
    // a few more candidates)
    val prefLen = (size(col("sh")).cast("long") -
      ceil(lit(threshold) * size(col("sh")).cast("double") - lit(1e-9)) + 1).cast("int")
    val ex = base.select(
      col("id") +: size(col("sh")).as("c") +:
        posexplode(slice(col("sh"), lit(1), prefLen)).as(Seq("p", "g")) +: blockCols.map(col): _*)
    val l = ex.select(col("id").as("ida") +: col("c").as("ca") +: col("p").as("pa") +:
      col("g") +: blockCols.map(col): _*)
    val rt = ex.select(col("id").as("idb") +: col("c").as("cb") +: col("p").as("pb") +:
      col("g") +: blockCols.map(col): _*)
    // size filter (same bound family): J >= t forces t*|B| <= |A| — one int
    // compare per matched posting pair, BEFORE the pair shuffle
    val postings = l.join(rt, blockCols :+ "g")
      .filter(col("ida") < col("idb") &&
        col("ca").cast("double") >= lit(threshold) * col("cb").cast("double") &&
        col("cb").cast("double") >= lit(threshold) * col("ca").cast("double"))
    // positional filter (PPJoin): by the canonical-order argument, no
    // shared gram precedes the EARLIEST prefix-matched position, so
    // overlap <= |A| - min(pa) (0-based) and likewise for B — i.e. the
    // per-side bound is max(ca - pa), NOT min (min would take the worst
    // matched gram and over-prune). Required overlap for J >= t is
    // t/(1+t) * (|A|+|B|); pairs that cannot reach it never hit the
    // verify join. Exact — both bounds are one-sided.
    val alpha = threshold / (1.0 + threshold)
    val candidates = postings
      .groupBy("ida", "idb")
      .agg(max(col("ca") - col("pa")).as("ba"), max(col("cb") - col("pb")).as("bb"),
        first(col("ca")).as("ca"), first(col("cb")).as("cb"))
      .filter(least(col("ba"), col("bb")).cast("double") >=
        lit(alpha) * (col("ca") + col("cb")).cast("double") - lit(1e-9))
      .select("ida", "idb")
    finishPairs(verifyJaccard(candidates, base.select("id", "sh"), threshold),
      base)
  }

  /** Connected components over an undirected edge list by iterative
    * min-label propagation — turns near-dup PAIRS into dedup CLUSTERS
    * ("keep one doc per component"), the form a training-data pipeline
    * actually consumes. Returns (node, component) where component = the
    * smallest node id reachable from `node`; only nodes that appear in an
    * edge are returned (singletons are trivially their own component).
    * Rows with a null endpoint are dropped, like [[graft.operators.Graph]]'s
    * iterative operators do.
    *
    * Cost model: min-label propagation (the MapReduce-CC shape of Rastogi
    * et al., "Finding Connected Components in Map-Reduce", ICDE'13) as
    * [[graft.core.Superstep]] rounds. After one shuffle of the edge list
    * into co-partitioned CSR blocks, each round is one Spark job with ONE
    * message shuffle and per-partition state of O((V+E)/p) longs. Only
    * nodes whose label changed last round send (DELTA propagation: min is
    * monotone, so earlier pushes were already absorbed), and messages to
    * one node are pre-combined by min on the sending side. Rounds needed
    * = graph diameter + 1 (the last confirms the fixpoint); past
    * `maxIter + 1` rounds it fails rather than return partial labels.
    */
  def connectedComponents(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      maxIter: Int = 20
  ): DataFrame = {
    val run = graft.core.Superstep.run(
      edges.select(col(srcCol).cast("long"), col(dstCol).cast("long")),
      undirected = true, simple = false, maxRounds = maxIter + 1)(_ => MinLabel)
    if (run.lastChanged > 0) {
      run.release()
      throw new IllegalStateException(
        s"connectedComponents did not reach a fixpoint in $maxIter rounds " +
          "(graph diameter exceeds maxIter); returning partial labels would " +
          "silently mislabel long-chain components - raise maxIter")
    }
    import org.apache.spark.sql.types._
    run.frame(StructType(Seq(StructField("node", LongType, nullable = false),
      StructField("component", LongType, nullable = true))))
  }

  /** Connected components' round: keep the smallest label seen. */
  private object MinLabel extends graft.core.Superstep.Program {
    def init(id: Long): Long = id
    def message(label: Long, outDegree: Int): Long = label
    override def deltaOnly: Boolean = true
    override val combiner: (Long, Long) => Long = math.min(_: Long, _: Long)
    def update(id: Long, label: Long, msgs: Array[Long], from: Int, until: Int): Long = {
      var m = label
      var i = from
      while (i < until) { if (msgs(i) < m) m = msgs(i); i += 1 }
      m
    }
  }

  /** INCREMENTAL connected components — the standing-pipeline form of
    * [[connectedComponents]]: fold new near-dup pairs into an EXISTING
    * cluster assignment without replaying the pair history. The previous
    * assignment `(node, component)` is itself a STAR FOREST whose
    * connectivity equals the accumulated graph's (every node wired to its
    * component's min id), so CC over (star edges ∪ new edges) equals CC
    * over the full edge log (spec-asserted fold == one-shot,
    * `Round10Spec`) while each step costs O(active nodes + new pairs) —
    * the pair log itself is never re-read, and labels stay stable: a
    * component's id is its min node id, which only decreases when a
    * genuinely new merge happens. Day-0 bootstrap: pass [[emptyAssignment]]. */
  def incrementalComponents(
      prevAssign: DataFrame,
      newEdges: DataFrame,
      srcCol: String,
      dstCol: String,
      maxIter: Int = 20
  ): DataFrame =
    connectedComponents(
      prevAssign.select(col("node").cast("long").as("__a"),
          col("component").cast("long").as("__b"))
        .unionByName(newEdges.select(col(srcCol).cast("long").as("__a"),
          col(dstCol).cast("long").as("__b"))),
      "__a", "__b", maxIter)

  /** Empty cluster assignment (day-0 bootstrap for [[incrementalComponents]]). */
  def emptyAssignment(spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import org.apache.spark.sql.types._
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("node", LongType, nullable = false),
        StructField("component", LongType, nullable = false))))
  }

  /** End-to-end fuzzy dedup clustering: near-dup pairs (prefix-filtered
    * exact Jaccard) → connected components → (doc_id, cluster_rep) with
    * cluster_rep = smallest doc_id of the cluster. Docs with no near-dup
    * are omitted (they are their own cluster). */
  def dedupClusters(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 1,
      threshold: Double = 0.9,
      blockCols: Seq[String] = Seq.empty
  ): DataFrame =
    connectedComponents(
      ngramJaccardPairs(df, idCol, textCol, n, threshold, blockCols), "ida", "idb")
      .select(col("node").as(idCol), col("component").as("cluster_rep"))

  /** Cluster-representative selection by SCORE: same connected components
    * as [[dedupClusters]], but each cluster's representative is its
    * highest-`scoreCol` member (ties → smallest id) instead of the smallest
    * id — "keep the best copy", the curation-correct policy when near-dups
    * differ in quality. `scored` must carry one row per id in `pairs`.
    *
    * One extra keyed join + a per-component window over cluster members
    * (components are small by construction — near-dup clusters, not the
    * corpus). */
  def clusterBest(pairs: DataFrame, scored: DataFrame, idCol: String,
      scoreCol: String): DataFrame = {
    val labels = connectedComponents(pairs, "ida", "idb")
    val withScore = labels.join(
      scored.select(col(idCol).cast("long").as("node"), col(scoreCol).as("__score")),
      "node")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("component").orderBy(col("__score").desc, col("node").asc)
    val best = withScore.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("component"), col("node").as("cluster_rep"))
    labels.join(best, "component")
      .select(col("node").as(idCol), col("cluster_rep"))
  }

  /** Deterministic random hyperplanes for sign-LSH (driver-side, seeded). */
  private[graft] def hyperplanes(nPlanes: Int, dim: Int, seed: Long): Seq[Seq[Float]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(nPlanes)(Seq.fill(dim)((rnd.nextGaussian()).toFloat))
  }

  /** Sign-LSH signature: bit p set iff vec · plane_p > 0. */
  private[graft] def signBits(vec: Column, planes: Seq[Seq[Float]]): Column =
    planes.zipWithIndex.map { case (p, i) =>
      when(dot_product(vec, typedLit(p)) > 0.0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Embedding near-dup pairs via random-hyperplane LSH buckets + exact
    * cosine verify. nPlanes sign bits, banded into `bands` groups — a pair
    * is a candidate if any band matches. Output: (ida, idb, cosine).
    *
    * `probes` adds hamming-1 multi-probe on one side of the self-join
    * (first `probes` bit flips per band, 0..bitsPerBand): a pair is then
    * caught when some band differs by ≤1 probed bit instead of requiring
    * an exact band match — pigeonhole makes signature distance
    * ≤ 2·bands−1 loss-free at probes = bitsPerBand. Unlike
    * [[simHashPairs]] the sign-signature distance only CORRELATES with
    * cosine (planes are random), so this raises recall rather than
    * making the cosine threshold exact — measured 0.714 → 1.0 on the
    * sf0.01 fixtures at probes=4 (`RecallFloorSpec`). Candidate rows
    * grow ×(1+probes) on the probed side; the exact verify is
    * unchanged. */
  def embeddingNearDupPairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      threshold: Double = 0.45,
      nPlanes: Int = 16,
      bands: Int = 4,
      seed: Long = 7L,
      /** hot-bucket cap (see [[simHashPairs]]): trade recall through
        * dropped degenerate buckets for bounded worst-case candidates. */
      maxBucketSize: Int = Int.MaxValue,
      probes: Int = 0
  ): DataFrame = {
    require(nPlanes % bands == 0)
    val bitsPerBand = nPlanes / bands
    require(probes >= 0 && probes <= bitsPerBand)
    val mask = (1L << bitsPerBand) - 1
    val planes = hyperplanes(nPlanes, dim, seed)
    val base = df.repartition(df.sparkSession.sparkContext.defaultParallelism)
      .select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("sig", signBits(col("v"), planes))
    val banded0 = base.select(col("id"), col("v"),
      posexplode(array((0 until bands).map(b =>
        shiftrightunsigned(col("sig"), b * bitsPerBand).bitwiseAND(lit(mask))): _*))
        .as(Seq("band", "bucket")))
    val banded =
      if (maxBucketSize == Int.MaxValue) banded0
      else {
        val w = org.apache.spark.sql.expressions.Window.partitionBy("band", "bucket")
        banded0.withColumn("__bs", count(lit(1)).over(w))
          .filter(col("__bs") <= maxBucketSize).drop("__bs")
      }
    val l = banded.select(col("id").as("ida"), col("v").as("va"), col("band"), col("bucket"))
    val rBase = banded.select(col("id").as("idb"), col("v").as("vb"), col("band"), col("bucket"))
    val rt =
      if (probes == 0) rBase
      else rBase.withColumn("bucket",
        explode(array(col("bucket") +: (0 until probes).map(b =>
          col("bucket").bitwiseXOR(lit(1L << b))): _*)))
    l.join(rt, Seq("band", "bucket"))
      .filter(col("ida") < col("idb"))
      .select(col("ida"), col("idb"), cosine_sim(col("va"), col("vb")).as("cosine"))
      .distinct()
      .filter(col("cosine") >= threshold)
  }

  /** LSH bucket-skew profile — the scale-safety audit for the sign-LSH
    * banding: per band, how many buckets are occupied, how big the hottest
    * bucket is, and how many candidate pairs (`Σ s(s−1)/2`) the band
    * generates. At 100 TB this is the number that decides whether a
    * banding config is runnable (one degenerate bucket = one quadratic
    * straggler — the `maxBucketSize` cap exists exactly for what this
    * profile surfaces). Same signature/banding as
    * [[embeddingNearDupPairs]]; pure integer outputs. Returns one row per
    * band: `(band, n_vectors, n_buckets, max_bucket, candidate_pairs)`. */
  def lshBucketProfile(df: DataFrame, idCol: String, vecCol: String, dim: Int,
      nPlanes: Int = 16, bands: Int = 4, seed: Long = 7L): DataFrame = {
    require(nPlanes % bands == 0)
    val bitsPerBand = nPlanes / bands
    val mask = (1L << bitsPerBand) - 1
    val planes = hyperplanes(nPlanes, dim, seed)
    val banded = df
      .select(col(idCol).as("id"), signBits(col(vecCol), planes).as("sig"))
      .select(col("id"), posexplode(array((0 until bands).map(b =>
        shiftrightunsigned(col("sig"), b * bitsPerBand).bitwiseAND(lit(mask))): _*))
        .as(Seq("band", "bucket")))
    banded.groupBy("band", "bucket").agg(count(lit(1)).as("__s"))
      .groupBy("band")
      .agg(sum(col("__s")).as("n_vectors"),
        count(lit(1)).as("n_buckets"),
        max(col("__s")).as("max_bucket"),
        sum(expr("__s * (__s - 1) div 2")).as("candidate_pairs"))
      .orderBy("band")
  }

  /** Exact duplicated-SUBSTRING span detection — the Spark-shaped analogue
    * of suffix-array substring dedup (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better"): any k-token gram that
    * occurs at more than one (doc, position) in the corpus — across docs OR
    * repeated within one doc — marks its positions duplicated, and
    * duplicated grams whose covered token ranges overlap or touch merge
    * into maximal spans. Returns one row per span:
    * `(idCol, span_start, span_end, span_tokens)` with 1-based inclusive
    * token offsets and `span_tokens >= k`; a caller removes or trims these
    * spans from the training corpus.
    *
    * Scale shape: positions travel as (doc, pos, 64-bit gram hash) — one
    * row per corpus token (same cardinality as any explode-based text op),
    * with the gram hashed by the one-pass positional kernel, never
    * materialized as a string. Two shuffles total: a window count over the
    * gram hash (uniform 8-byte keys — no skew) marks duplicated positions,
    * then one shuffle on the doc id merges positions into spans via a
    * gaps-and-islands window. Collisions of XXH64-folded grams (~1e-14
    * within any realistic corpus slice) can only add a span, never drop
    * one. A suffix array finds duplicates of EVERY length ≥ k; this
    * fixed-k formulation finds exactly the same spans for duplicates of
    * length ≥ k (a repeat of length L ≥ k duplicates all its L−k+1
    * constituent k-grams, which merge back into the full span) — what it
    * gives up is sub-k repeats, which substring dedup deliberately ignores
    * anyway. */
  def duplicatedSpans(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 8,
      minOccurrences: Int = 2
  ): DataFrame = {
    require(k > 0 && minOccurrences >= 2, "k > 0, minOccurrences >= 2")
    import org.apache.spark.sql.expressions.Window
    val pos = df.select(col(idCol),
        posexplode(graft.functions.positional_shingle_hashes(
          TextAnalysis.tokens(col(textCol)), k)).as(Seq("__p0", "__h")))
      .select(col(idCol), (col("__p0") + 1).as("__pos"), col("__h"))
    val dup = pos
      .withColumn("__c", count(lit(1)).over(Window.partitionBy("__h")))
      .filter(col("__c") >= minOccurrences)
      .select(col(idCol), col("__pos"))
    val byDoc = Window.partitionBy(idCol).orderBy("__pos")
    val prevEnd = max(col("__pos") + lit(k - 1))
      .over(byDoc.rowsBetween(Window.unboundedPreceding, -1))
    dup
      .withColumn("__st", when(prevEnd.isNull || col("__pos") > prevEnd + 1, 1).otherwise(0))
      .withColumn("__gid", sum("__st").over(byDoc))
      .groupBy(col(idCol), col("__gid"))
      .agg(min("__pos").as("span_start"), (max("__pos") + lit(k - 1)).as("span_end"))
      .select(col(idCol), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_tokens"))
  }

  /** Exact-substring REMOVAL (Lee et al., "Deduplicating Training Data
    * Makes Language Models Better", arXiv:2107.06499 — the ExactSubstr
    * pass, re-expressed Spark-first): cut every CHARACTER span covered by
    * a k-byte gram occurring ≥ `minOccurrences` times corpus-wide, and
    * return the cleaned documents. The character-granular removal twin of
    * [[duplicatedSpans]] (which reports token spans).
    *
    * The paper builds one corpus-wide suffix array — a single-machine
    * construction. Here the same cover falls out of relational pieces:
    * positional XXH64 byte-gram hashes (one codegen pass per doc,
    * [[graft.functions.SpanOps.charGramHashes]]) → ONE corpus-wide
    * shuffle keyed by the 8-byte gram hash (map-side combined) → dup
    * start positions collected per doc (sorted array, bounded by doc
    * length) → spans merged and cut row-locally by the
    * [[graft.functions.SpanOps.cutSpans]] kernel. A repeat of length
    * L ≥ k duplicates all its L−k+1 constituent k-grams, which merge
    * back into the full span — so the removed cover equals the union of
    * all length-≥k repeats, exactly what the suffix array finds; sub-k
    * repeats are ignored by construction (the paper's own threshold).
    * All copies of a repeat are removed, as in the paper. Hash collisions
    * (~1e-14 per corpus slice) can only add a span, never drop one. Byte
    * positions equal char positions on ASCII (documented approximation,
    * as with winnowing/CDC).
    *
    * Returns (id, clean_text, n_spans, n_removed), one row per input doc. */
  def removeDuplicatedSpans(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 40,
      minOccurrences: Int = 2,
      seed: Long = 42L
  ): DataFrame = {
    require(k > 0 && minOccurrences >= 2, "k > 0, minOccurrences >= 2")
    import org.apache.spark.sql.expressions.Window
    // repartition before the per-char gram hashing and again for the
    // per-row cut_spans — a single-file source pins both to one scan task
    // (guide §2.5); hashes, counts, and the per-row cut are all
    // partition-order-independent
    val base = df.select(col(idCol), col(textCol))
      .repartition(df.sparkSession.sparkContext.defaultParallelism)
    val pos = base.select(col(idCol),
      posexplode(graft.functions.char_gram_hashes(col(textCol), k, seed))
        .as(Seq("__p0", "__h")))
    val dupStarts = pos
      .withColumn("__c", count(lit(1)).over(Window.partitionBy("__h")))
      .filter(col("__c") >= minOccurrences)
      .groupBy(idCol)
      .agg(sort_array(collect_list(col("__p0").cast("long"))).as("__starts"))
    base.join(dupStarts, Seq(idCol), "left")
      .select(col(idCol),
        graft.functions.cut_spans(col(textCol),
          coalesce(col("__starts"), array().cast("array<bigint>")), k).as("__cut"))
      .select(col(idCol), col("__cut.clean_text").as("clean_text"),
        col("__cut.n_spans").as("n_spans"), col("__cut.n_removed").as("n_removed"))
  }

  /** Brute-force cosine pairs (oracle/baseline; O(n²) — small inputs only). */
  def embeddingNearDupBrute(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double
  ): DataFrame = {
    // left side repartitioned so the nested-loop pair scan parallelizes even
    // when the source is a single parquet file
    val l = df.repartition(df.sparkSession.sparkContext.defaultParallelism)
      .select(col(idCol).as("ida"), col(vecCol).as("va"))
    val rt = df.select(col(idCol).as("idb"), col(vecCol).as("vb"))
    l.crossJoin(rt)
      .filter(col("ida") < col("idb"))
      .select(col("ida"), col("idb"), cosine_sim(col("va"), col("vb")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup at the
    * CLUSTER level — pairwise cosine is computed only WITHIN each cluster
    * of a prior partitioning (k-means assignment, or any label column), so
    * the quadratic term is bounded per cluster instead of corpus-wide. A
    * vector is a duplicate iff some same-cluster vector with a smaller id
    * sits within `tau` cosine of it (the paper's keep-one-representative
    * greedy, made deterministic by the id order).
    *
    * Scale shape: one keyed self-join on the cluster id — each cluster's
    * pairs are generated inside its own shuffle partition, never across.
    * At 100 TB the operator's contract is that k grows with the corpus
    * (SemDeDup uses ~100k clusters for LAION-scale) so per-cluster
    * membership stays bounded; the cluster assignment itself is
    * [[graft.similarity.Similarity.kmeansAssign]]'s broadcast-centroid
    * map pass. Output: every input id with its cluster, an `is_dup` flag,
    * and `nn_id` — the smallest-id retained neighbor that shadows it
    * (null for keepers). */
  def semanticDedup(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      clusterCol: String,
      tau: Double
  ): DataFrame = {
    val a = emb.select(col(clusterCol).as("__ca"), col(idCol).as("ida"), col(vecCol).as("va"))
    val b = emb.select(col(clusterCol).as("__cb"), col(idCol).as("idb"), col(vecCol).as("vb"))
    val shadowed = a.join(b, col("__ca") === col("__cb") && col("ida") < col("idb"))
      .filter(cosine_sim(col("va"), col("vb")) >= tau)
      .groupBy(col("idb").as("__vid"))
      .agg(min(col("ida")).as("nn_id"))
    emb.select(col(idCol), col(clusterCol).as("cluster"))
      .join(shadowed, col(idCol) === col("__vid"), "left_outer")
      .select(col(idCol), col("cluster"), col("nn_id").isNotNull.as("is_dup"), col("nn_id"))
  }
}
