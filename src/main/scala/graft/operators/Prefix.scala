package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, GenericInternalRow, JoinedRow,
  RowOrdering, UnsafeProjection}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.core.OrderedScan

/** Distributed running (prefix) sums over a totally-ordered axis.
  *
  * `sum(x).over(Window.orderBy(k))` with no partition key collapses the
  * whole relation into ONE task — fine on five rows, a straggler on a
  * 100 TB batch axis. Here the range-sorted rows go through
  * [[graft.core.OrderedScan]] with per-partition column sums as the
  * summary. Long addition is associative and exact, so the result is
  * bit-identical to the single-partition window for any range split.
  *
  * Both sweeps run on the query's own INTERNAL rows
  * (`queryExecution.toRdd`), so no field is boxed; sweep 2 appends the
  * running columns with a `JoinedRow` + one `UnsafeProjection` — a
  * single compact copy per row.
  */
object Prefix {

  /** Appends running-total columns `outNames` (running sums of the
    * LongType columns `valueCols`, ordered by `orderCol`, current row
    * inclusive). Contract: `orderCol` values are distinct (a grouped
    * axis) and `valueCols` are non-null LongType; a duplicate `orderCol`
    * value fails the query, since the running total of tied rows would
    * depend on their order. */
  def cumSumLongs(df: DataFrame, orderCol: String, valueCols: Seq[String],
      outNames: Seq[String]): DataFrame = {
    require(valueCols.length == outNames.length,
      s"valueCols(${valueCols.length}) != outNames(${outNames.length})")
    val sorted = df.repartitionByRange(col(orderCol))
      .sortWithinPartitions(orderCol)
    val schema = sorted.schema
    val vIdx = valueCols.map { c =>
      val i = schema.fieldIndex(c)
      require(schema(i).dataType == LongType,
        s"cumSumLongs needs LongType, got ${schema(i).dataType} for $c")
      i
    }.toArray
    val key = BoundReference(schema.fieldIndex(orderCol), schema(orderCol).dataType,
      nullable = true)
    val scan = OrderedScan(sorted.queryExecution.toRdd, new Array[Long](vIdx.length)) { it =>
      // range partitioning keeps equal keys in one partition and the sort
      // makes them adjacent, so comparing neighbours finds every duplicate;
      // two projections take turns, so the previous key stays in the
      // other's buffer and no row is copied
      val keyOf = Array.fill(2)(UnsafeProjection.create(Seq(key)))
      val ord = RowOrdering.createNaturalAscendingOrdering(Seq(key.dataType))
      var prev: InternalRow = null
      var turn = 0
      val s = new Array[Long](vIdx.length)
      it.foreach { r =>
        val k0 = keyOf(turn)(r)
        require(prev == null || ord.compare(prev, k0) != 0,
          s"cumSumLongs: duplicate $orderCol value ${k0.get(0, key.dataType)}; " +
            "orderCol values must be distinct")
        prev = k0
        turn ^= 1
        var k = 0
        while (k < vIdx.length) { s(k) += r.getLong(vIdx(k)); k += 1 }
      }
      s
    }((a, b) => Array.tabulate(a.length)(k => a(k) + b(k)))
    val outSchema = StructType(schema.fields ++
      outNames.map(n => StructField(n, LongType, nullable = false)))
    val out = scan.map { (carry, it) =>
      val run = carry.clone()
      val extra = new GenericInternalRow(vIdx.length)
      val joined = new JoinedRow
      val proj = UnsafeProjection.create(outSchema)
      it.map { r =>
        var k = 0
        while (k < vIdx.length) {
          run(k) += r.getLong(vIdx(k))
          extra.update(k, run(k))
          k += 1
        }
        // the projection copies into its own buffer; downstream operators
        // that buffer rows copy again by the iterator contract
        proj(joined(r, extra)): InternalRow
      }
    }
    org.apache.spark.sql.graft.Bridge.internalCreateDataFrame(df.sparkSession, out, outSchema)
  }
}
