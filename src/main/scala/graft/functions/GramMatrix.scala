package graft.functions

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.expressions.Aggregator

/** Partial-Gram aggregator for distributed covariance / PCA (q147's
  * scan kernel): fold every int-quantized vector's full second-moment
  * contribution into ONE flat buffer per partition, so the shuffle
  * carries a single d(d+1)/2 + d + 1 long array per map partition —
  * the textbook distributed-PCA layout — instead of d²/2 exploded rows
  * per input row through a generator.
  *
  * Buffer layout (flat Array[Long], merged by ObjectHashAggregate
  * without boxing, exactly like [[CountMinSketch]]):
  *
  *   [0]                    n        (vector count)
  *   [1 .. d]               s_i      (per-dimension sums)
  *   [1+d .. end]           gram(i,j) for i <= j, row-major upper
  *                          triangle at offset 1 + d + i*d - i(i-1)/2
  *                          + (j - i)
  *
  * Every accumulation is integer addition — associative and
  * order-independent, so the result is bit-identical under any
  * partitioning (the hash-exactness the oracle compare needs). The
  * measured effect at sf0.1 is recorded in BASELINE.md.
  */
object GramMatrix {

  /** Buffer length for dimension d. */
  def bufLen(d: Int): Int = 1 + d + d * (d + 1) / 2

  /** Aggregator over int-quantized embedding arrays. The dimension is
    * fixed per corpus; a row with a different length fails loudly
    * rather than silently mis-indexing. */
  final class Agg(d: Int) extends Aggregator[Array[Int], Array[Long], Array[Long]] {
    override def zero: Array[Long] = new Array[Long](bufLen(d))

    override def reduce(buf: Array[Long], q: Array[Int]): Array[Long] = {
      require(q.length == d,
        s"GramMatrix.Agg: expected dimension $d, got ${q.length}")
      buf(0) += 1L
      var i = 0
      var off = 1 + d
      while (i < d) {
        val qi = q(i).toLong
        buf(1 + i) += qi
        var j = i
        while (j < d) {
          buf(off) += qi * q(j)
          off += 1
          j += 1
        }
        i += 1
      }
      buf
    }

    override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var k = 0
      while (k < a.length) { a(k) += b(k); k += 1 }
      a
    }

    override def finish(buf: Array[Long]): Array[Long] = buf

    override def bufferEncoder: Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
    override def outputEncoder: Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
  }
}
