package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The higher-order-function formulation of the IVF/PQ quantization
  * arithmetic — `transform` / `zip_with` / `aggregate` / `array_sort`,
  * which Spark evaluates as interpreted lambdas. Kept as the parity
  * reference of the compiled kernels in `graft.functions` (as
  * `cosine_sim_hof` is for `cosine_sim`). */
object QuantHof {

  /** `floor(x·1e6)` per component, as a long. */
  def q6(vec: Column): Column =
    transform(vec, x => floor(x.cast("double") * lit(1000000.0)))

  /** Long dot products of `q6(vec)` with every matrix row. */
  def dots(vec: Column, matrix: Array[Array[Long]]): Column =
    array(matrix.toIndexedSeq.map(row =>
      aggregate(zip_with(q6(vec), typedLit(row.toSeq), (a, b) => a * b),
        lit(0L), (acc, x) => acc + x)): _*)

  /** The `nProbe` best `(s, i)` structs, ties to the higher index. */
  def probeOrder(scores: Column, nLists: Int, nProbe: Int): Column =
    slice(reverse(array_sort(zip_with(scores, sequence(lit(0), lit(nLists - 1)),
      (s, i) => struct(s.as("s"), i.as("i"))))), 1, nProbe)

  private def subDist(sv: Column, cb: Column): Column =
    aggregate(zip_with(sv, cb, (a, b) => (a - b) * (a - b)), lit(0L), (acc, x) => acc + x)

  private def subVectors(vec: Column, dim: Int, m: Int): Seq[Column] =
    (0 until m).map(sub => slice(q6(vec), sub * (dim / m) + 1, dim / m))

  /** Nearest code per subspace: lexicographic `(d, c)` struct-min. */
  def codes(vec: Column, dim: Int, books: Array[Array[Array[Long]]]): Column = {
    val m = books.length
    val books3d = typedLit(books.map(_.map(_.toIndexedSeq).toIndexedSeq).toIndexedSeq)
    zip_with(array(subVectors(vec, dim, m): _*), sequence(lit(0), lit(m - 1)),
      (sv, sub) => array_min(transform(element_at(books3d, sub + 1),
        (cb, c) => struct(subDist(sv, cb).as("d"), c.as("c")))).getField("c").cast("int"))
  }

  /** Lookup table `lut[sub][code]`. */
  def lut(vec: Column, dim: Int, books: Array[Array[Array[Long]]]): Column =
    array(subVectors(vec, dim, books.length).zip(books).map { case (sv, book) =>
      array(book.toIndexedSeq.map(cv => subDist(sv, typedLit(cv.toSeq))): _*)
    }: _*)

  /** ADC distance `Σ_sub lut[sub][codes[sub]]`. */
  def adc(codes: Column, lut: Column): Column =
    aggregate(zip_with(codes, lut, (c, l) => element_at(l, c + 1)),
      lit(0L), (acc, x) => acc + x)
}
