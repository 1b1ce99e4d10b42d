package graft.streaming

import graft.SparkSpec

/** Pins the r14 one-pass staging rewrite's contract:
  *
  *  - the shared staged dir holds exactly k DATA slice files (b…) and
  *    2 SENTINEL files (s…), with the fixed ascending-mtime ordering
  *    the file source's batch order rests on;
  *  - the CDC row's sentinel-free glob really skips the sentinel
  *    batches: its StreamExecution executes exactly k data batches
  *    (it ran k + 2 before the rewrite, paying full micro-batch
  *    machinery for two 1-row far-future files its NoTimeout state
  *    could never use).
  */
class StagingContractSpec extends SparkSpec {

  private val k = StreamExec.StreamSlices

  test("staged dir: k data slices (b*) + 2 sentinels (s*), mtime-ordered") {
    val dir = StreamExec.stagedDir(spark, sf("sf0.001"))
    val files = dir.toFile.listFiles().toSeq.sortBy(_.getName)
    val data = files.filter(_.getName.startsWith("b"))
    val sent = files.filter(_.getName.startsWith("s"))
    assert(data.size == k, s"expected $k data slices, got ${data.map(_.getName)}")
    assert(sent.size == 2, s"expected 2 sentinels, got ${sent.map(_.getName)}")
    // mtimes strictly ascending in slice order across data THEN sentinels
    val ordered = (data ++ sent).map(_.lastModified())
    assert(ordered == ordered.sorted && ordered.distinct.size == ordered.size,
      s"staged mtimes not strictly ascending: $ordered")
  }

  test("cdcViaStream runs exactly the k data batches (sentinels globbed away)") {
    StreamExec.cdcViaStream(spark, sf("sf0.001")).collect()
    val batches = StreamExec.last.get().batchDurations
    assert(batches.size == k,
      s"expected $k data micro-batches for the $k-slice staging, " +
        s"got ${batches.size}: $batches")
    // and every batch carried real input (no empty sentinel batches)
    assert(batches.forall(_._2 > 0),
      s"a sentinel batch slipped through the b* glob: $batches")
  }
}
