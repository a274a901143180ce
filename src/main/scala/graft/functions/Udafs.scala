package graft.functions

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** Typed Aggregators (SURVEY.md §2.10) for element-wise array reduction —
  * the operations Spark's built-in aggregates can't express without an
  * explode→groupBy→re-collect round trip. One pass, map-side partial
  * aggregation for free (Aggregator reduce/merge), so a 64-wide MinHash
  * signature per document costs one shuffle of 64 longs per group
  * instead of 64 shuffled rows — the difference between workable and
  * not at 100 TB.
  */
object Udafs {

  private implicit val longArrayEnc: Encoder[Array[Long]] = ExpressionEncoder()
  private implicit val doubleArrayEnc: Encoder[Array[Double]] = ExpressionEncoder()
  private implicit val floatSeqEnc: Encoder[Seq[Float]] = ExpressionEncoder()
  private implicit val longSeqEnc: Encoder[Seq[Long]] = ExpressionEncoder()

  /** Element-wise min over Array[Long] — the MinHash signature combiner. */
  object ArrayMinAgg extends Aggregator[Seq[Long], Array[Long], Seq[Long]] {
    def zero: Array[Long] = Array.empty
    def reduce(buf: Array[Long], in: Seq[Long]): Array[Long] =
      if (buf.isEmpty) in.toArray
      else { var i = 0; while (i < buf.length) { if (in(i) < buf(i)) buf(i) = in(i); i += 1 }; buf }
    def merge(a: Array[Long], b: Array[Long]): Array[Long] =
      if (a.isEmpty) b else if (b.isEmpty) a
      else { var i = 0; while (i < a.length) { if (b(i) < a(i)) a(i) = b(i); i += 1 }; a }
    def finish(buf: Array[Long]): Seq[Long] = buf.toSeq
    def bufferEncoder: Encoder[Array[Long]] = longArrayEnc
    def outputEncoder: Encoder[Seq[Long]] = longSeqEnc
  }

  /** Element-wise sum of Float arrays in double precision — the vector
    * centroid numerator (divide by count afterwards). */
  object VecSumAgg extends Aggregator[Seq[Float], Array[Double], Seq[Double]] {
    def zero: Array[Double] = Array.empty
    def reduce(buf: Array[Double], in: Seq[Float]): Array[Double] = {
      val b = if (buf.isEmpty) new Array[Double](in.length) else buf
      var i = 0; while (i < b.length) { b(i) += in(i); i += 1 }; b
    }
    def merge(a: Array[Double], b: Array[Double]): Array[Double] =
      if (a.isEmpty) b else if (b.isEmpty) a
      else { var i = 0; while (i < a.length) { a(i) += b(i); i += 1 }; a }
    def finish(buf: Array[Double]): Seq[Double] = buf.toSeq
    def bufferEncoder: Encoder[Array[Double]] = doubleArrayEnc
    def outputEncoder: Encoder[Seq[Double]] = ExpressionEncoder()
  }

  val arrayMin: org.apache.spark.sql.expressions.UserDefinedFunction = udaf(ArrayMinAgg)
  val vecSum: org.apache.spark.sql.expressions.UserDefinedFunction = udaf(VecSumAgg)

  def arrayMinCol(c: Column): Column = arrayMin(c)
  def vecSumCol(c: Column): Column = vecSum(c)
}
