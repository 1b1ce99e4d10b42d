package graft

class EntrySpec extends SparkSpec {

  test("flagship entry returns rows on sf0.001 (driver t1 smoke)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracleSql key has a matching queries entry") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracleSql without queries: $orphans")
  }

  test("query names are unique across packs (flatMap.toMap would shadow)") {
    // the production pack list itself — a spec-local copy would drift
    // every time a pack is added (it did: LayoutPack, round 3)
    val all = SparkEntry.packs.flatMap(_.queries.keys)
    val dups = all.groupBy(identity).filter(_._2.size > 1).keys
    assert(dups.isEmpty, s"duplicate query names across packs: $dups")
    assert(SparkEntry.queries.size == all.size)
  }

  test("every query runs and returns a non-degenerate schema at sf0.001") {
    val dir = "/root/testdata/sf0.001"
    SparkEntry.queries.foreach { case (name, fn) =>
      // release each row's tracked persists before the next row, as
      // Bench and Verify do
      try assert(fn(spark, dir).columns.nonEmpty, s"$name has no columns")
      finally graft.scale.CacheRegistry.drain()
    }
  }
}
