package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Semantic laws of `d_semdedup_scoped` (cluster-scoped SemDeDup) vs
  * the exact census `d_semdedup`, on top of the per-engine hash gate:
  * the scoped variant verifies cosine only WITHIN Lloyd clusters, so
  * the ONLY divergence it is allowed from the exact census is a
  * missed cross-cluster pair — it may keep more documents, never drop
  * more, and never invent a duplicate relation the exact census does
  * not have. */
class ScopedSemDedupSpec extends SparkSpec {

  private val dir = sf("sf0.001")

  test("scoped drops a subset of the exact census's drops") {
    val exact = DedupPack.queries("d_semdedup")(spark, dir)
      .select(col("vec_id"), col("rep_id"), col("is_kept"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    graft.scale.CacheRegistry.drain()
    val scoped = DedupPack.queries("d_semdedup_scoped")(spark, dir)
      .select(col("vec_id"), col("rep_id"), col("is_kept"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))

    // same census universe, one row per vector
    assert(exact.map(_._1).toSeq == scoped.map(_._1).toSeq)

    val exactDropped = exact.filter(!_._3).map(_._1).toSet
    val scopedDropped = scoped.filter(!_._3).map(_._1).toSet
    // subset law: a scoped drop implies an exact drop (every
    // within-cluster cos>=0.95 pair is also an all-pairs pair);
    // the reverse may not hold (cross-cluster pairs are missed)
    assert(scopedDropped.subsetOf(exactDropped),
      s"scoped dropped ${scopedDropped.diff(exactDropped)} that the exact census keeps")

    // every non-trivial scoped relation exists in the exact census:
    // vec -> rep implies the exact census groups them together
    val exactRep = exact.map(t => t._1 -> t._2).toMap
    scoped.filter(t => t._2 != t._1).foreach { case (v, rep, _) =>
      assert(exactRep(v) == exactRep(rep),
        s"scoped relates $v -> $rep but exact puts them in different groups")
    }

    // and on this fixture the planted twins DO co-cluster, so the
    // scoped census must find real work (not vacuously all-kept)
    assert(scopedDropped.nonEmpty, "scoped census found no duplicates at all")
  }

  test("scoped census is deterministic across runs") {
    def run() =
      try DedupPack.queries("d_semdedup_scoped")(spark, dir).collect().map(_.toString).toSeq
      finally graft.scale.CacheRegistry.drain()
    assert(run() == run())
  }
}
