package graft.core

import scala.reflect.ClassTag

import org.apache.spark.rdd.RDD
import org.apache.spark.storage.StorageLevel

/** Distributed exclusive prefix scan over a range-sorted RDD (Blelloch
  * 1990): the ordered pass behind graft's running statistics, so none of
  * them needs a single-partition window on its ordering axis.
  *
  * Sweep 1 reduces each partition to a summary `S` in ONE job; `collect`
  * returns them in partition order, which for a range-sorted RDD is key
  * order, and only #partitions summaries reach the driver. The driver
  * folds them with the associative `combine` into each partition's
  * carry-in (`zero` for the first). Sweep 2 streams every partition once
  * from its carry-in: a lazy [[map]] for row outputs, an eager [[fold]]
  * for scalars, or [[find]] for the one partition a rank selection needs.
  * `summarize` of an empty iterator must be an identity of `combine`, so
  * an empty partition passes its carry through; then the result does not
  * depend on the range split as long as sweep 2 continues from its
  * carry-in as it would from the previous row.
  *
  * [[apply]] never persists: sweep 2 re-reads `rdd`, which for a sort
  * lineage reuses the sort's shuffle output. [[eager]] persists `rdd` for
  * both sweeps and releases it on every exit path. */
final class OrderedScan[T, S] private (rdd: RDD[T], prefix: Array[S]) {

  val total: S = prefix.last

  /** Sweep 2 as a lazy per-partition map from each carry-in. */
  def map[U: ClassTag](f: (S, Iterator[T]) => Iterator[U]): RDD[U] = {
    val c = prefix
    rdd.mapPartitionsWithIndex((i, it) => f(c(i), it))
  }

  /** Sweep 2 as ONE job on ONE partition, the first whose carry-out
    * satisfies `past` (monotone along the prefix); the driver picks it,
    * so no other partition is read. */
  def find[R: ClassTag](past: S => Boolean)(f: (S, Iterator[T]) => R): Option[R] =
    Some(prefix.indexWhere(past, 1) - 1).filter(_ >= 0).map { p =>
      val c = prefix(p)
      rdd.sparkContext.runJob(rdd, (it: Iterator[T]) => f(c, it), Seq(p)).head
    }

  /** Sweep 2 as ONE job: each partition reduces to an `R` from its
    * carry-in, folded on the driver in partition order. */
  def fold[R: ClassTag](zero: R)(f: (S, Iterator[T]) => R)(op: (R, R) => R): R =
    map((s, it) => Iterator.single(f(s, it))).collect().foldLeft(zero)(op)
}

object OrderedScan {

  /** Sweep 1 and the driver prefix; [[OrderedScan.total]] combines every
    * summary. */
  def apply[T, S: ClassTag](rdd: RDD[T], zero: S)(summarize: Iterator[T] => S)(
      combine: (S, S) => S): OrderedScan[T, S] =
    new OrderedScan(rdd, rdd.mapPartitions(it => Iterator.single(summarize(it)))
      .collect().scanLeft(zero)(combine))

  /** [[apply]] with `rdd` persisted (`MEMORY_AND_DISK`) until `body`
    * returns or throws; `body` must not return anything reading `rdd`
    * lazily. */
  def eager[T, S: ClassTag, R](rdd: RDD[T], zero: S)(summarize: Iterator[T] => S)(
      combine: (S, S) => S)(body: OrderedScan[T, S] => R): R = {
    rdd.persist(StorageLevel.MEMORY_AND_DISK)
    try body(apply(rdd, zero)(summarize)(combine))
    finally rdd.unpersist()
  }
}
