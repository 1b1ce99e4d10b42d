package graft.scale

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator

/** Sketch aggregators for near-dup detection, as typed Aggregators
  * (usable via `functions.udaf` in untyped groupBy). Test-side parity
  * references: SketchExprSpec checks the `MinHashSig` and `SimHashSig`
  * expressions the dedup queries use against these UDAFs.
  *
  * Why not N separate agg expressions: a 64-permutation MinHash as 64
  * `min(pmod(...))` columns evaluates 64 Catalyst expression trees per
  * input row; as one Aggregator the update is a single JIT'd loop over
  * a primitive buffer (~5x on the signature stage), while remaining
  * map-side combinable (unlike a mapGroups rewrite, which would ship
  * every raw row through the shuffle).
  */
object Sketches {

  private val P = 2147483647L // 2^31 - 1

  /** MinHash over pre-hashed shingle values. Buffer: the running
    * per-permutation minima. Permutation parameters are INDEPENDENT
    * seeded draws — see DedupPack/BASELINE on the structured-family
    * recall bug. */
  class MinHashAgg(numPerms: Int, seed: Long)
      extends Aggregator[Long, Array[Long], Seq[Long]] with Serializable {

    // regenerated per task from the seed; @transient keeps the closure small
    @transient private lazy val perms: (Array[Long], Array[Long]) = {
      val rng = new scala.util.Random(seed)
      val as = Array.fill(numPerms)(1L + math.floorMod(rng.nextLong(), P - 1))
      val bs = Array.fill(numPerms)(math.floorMod(rng.nextLong(), P))
      (as, bs)
    }

    override def zero: Array[Long] = Array.fill(numPerms)(Long.MaxValue)

    override def reduce(buf: Array[Long], h64: Long): Array[Long] = {
      val (as, bs) = perms
      val h = math.floorMod(h64, P)
      var i = 0
      while (i < numPerms) {
        val v = math.floorMod(h * as(i) + bs(i), P)
        if (v < buf(i)) buf(i) = v
        i += 1
      }
      buf
    }

    override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var i = 0
      while (i < numPerms) { if (b(i) < a(i)) a(i) = b(i); i += 1 }
      a
    }

    override def finish(r: Array[Long]): Seq[Long] = r.toSeq
    override def bufferEncoder: Encoder[Array[Long]] =
      ExpressionEncoder[Array[Long]]()
    override def outputEncoder: Encoder[Seq[Long]] =
      ExpressionEncoder[Seq[Long]]()
  }

  /** SimHash over pre-hashed feature values: per-bit +-1 votes,
    * finished into the packed 64-bit signature. */
  object SimHashAgg extends Aggregator[Long, Array[Int], Long]
      with Serializable {

    override def zero: Array[Int] = new Array[Int](64)

    override def reduce(buf: Array[Int], h: Long): Array[Int] = {
      var i = 0
      while (i < 64) {
        if (((h >>> i) & 1L) == 1L) buf(i) += 1 else buf(i) -= 1
        i += 1
      }
      buf
    }

    override def merge(a: Array[Int], b: Array[Int]): Array[Int] = {
      var i = 0
      while (i < 64) { a(i) += b(i); i += 1 }
      a
    }

    override def finish(r: Array[Int]): Long = {
      var sig = 0L
      var i = 0
      while (i < 64) { if (r(i) > 0) sig |= (1L << i); i += 1 }
      sig
    }

    override def bufferEncoder: Encoder[Array[Int]] =
      ExpressionEncoder[Array[Int]]()
    override def outputEncoder: Encoder[Long] = ExpressionEncoder[Long]()
  }
}
