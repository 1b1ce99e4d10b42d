package graft.imdb

import graft.SparkSpec

class MetadataSpec extends SparkSpec {

  test("topEntityPerMovie: picks most frequent, deterministic tie-break") {
    import spark.implicits._
    // w1 appears 2x globally, w2 2x, w3 1x. m1 has {w1, w3}: w1 wins.
    // m2 has {w1, w2} -> tie on count 2 -> lexicographic asc -> w1.
    val pairs = Seq(
      ("m1", "w1"), ("m1", "w3"),
      ("m2", "w1"), ("m2", "w2"),
      ("m3", "w2")).toDF("movie", "writer")
    val top = Metadata.topEntityPerMovie(pairs, "writer")
      .select("movie", "writer", "writer_count")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    assert(top == Seq(("m1", "w1", 2L), ("m2", "w1", 2L), ("m3", "w2", 2L)))
  }

  test("topEntityPerMovie: null entities never count or win; ties go to the smaller name") {
    import spark.implicits._
    // the null writer is the most frequent value but is no entity: m1
    // gets w2, m2 (only nulls) gets no row. m3's and m4's candidates
    // tie on count (wb 2x, wa 2x; wc 1x, wd 1x): the smaller name wins
    val pairs = Seq[(String, String)](
      ("m1", null), ("m1", null), ("m1", "w2"), ("m2", null), ("m2", null),
      ("m3", "wb"), ("m3", "wa"), ("m5", "wb"), ("m5", "wa"),
      ("m4", "wd"), ("m4", "wc")).toDF("movie", "writer")
    val top = Metadata.topEntityPerMovie(pairs, "writer")
    assert(top.columns.toSeq == Seq("movie", "writer", "writer_count"))
    val rows = top.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    assert(rows == Seq(("m1", "w2", 1L), ("m3", "wa", 2L), ("m4", "wc", 1L), ("m5", "wa", 2L)))
  }

  test("mergeMetadata: left joins keep all movies, null -> 'unknown'") {
    import spark.implicits._
    val movies = Seq(("tt1", "A"), ("tt2", "B")).toDF("tconst", "title")
    val writing = Seq(("tt1", "w1")).toDF("movie", "writer")
    val directing = Seq(("tt1", "d1")).toDF("movie", "director")
    val out = Metadata.mergeMetadata(movies, writing, directing)
      .select("tconst", "writer", "director")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
      .sortBy(_._1).toSeq
    assert(out == Seq(("tt1", "w1", "d1"), ("tt2", "unknown", "unknown")))
  }
}
