package graft.imdb

import graft.SparkSpec
import java.util.concurrent.atomic.AtomicInteger

class EnrichmentSpec extends SparkSpec {

  private def movies(ids: String*) = {
    import spark.implicits._
    ids.map(id => (id, Some("T"): Option[String], Some("O"): Option[String],
      Some(2000): Option[Int], Some(90.0): Option[Double],
      Some(10.0): Option[Double]))
      .toDF("tconst", "primaryTitle", "originalTitle", "startYear",
        "runtimeMinutes", "numVotes")
  }

  test("warm cache: anti-join finds nothing, predictor never called") {
    import spark.implicits._
    val cache = Seq(("tt1", "Drama"), ("tt2", "War")).toDF("tconst", "genre")
    object ExplodingPredictor extends Enrichment.GenrePredictor {
      override def predictBatch(b: Seq[Enrichment.MovieMeta]) =
        throw new IllegalStateException("predictor called with warm cache")
    }
    val (genres, fresh) =
      Enrichment.enrich(spark, movies("tt1", "tt2"), cache, ExplodingPredictor)
    assert(fresh.count() == 0)
    assert(genres.count() == 2)
  }

  test("cold ids get predicted, cached ids are never re-queried") {
    import spark.implicits._
    val cache = Seq(("tt1", "Drama")).toDF("tconst", "genre")
    val (genres, fresh) = Enrichment.enrich(
      spark, movies("tt1", "tt2", "tt3"), cache, Enrichment.StubPredictor)
    val freshIds = fresh.select("tconst").as[String].collect().toSet
    assert(freshIds == Set("tt2", "tt3"))
    assert(genres.count() == 3)
  }

  test("a repeated missing id is predicted once and reaches fresh once") {
    import spark.implicits._
    CountingPredictor.calls.set(0)
    val cache = Seq(("tt1", "Drama")).toDF("tconst", "genre")
    val (genres, fresh) = Enrichment.enrich(spark,
      movies("tt1", "tt2", "tt2", "tt3", "tt2", "tt3", "tt1"), cache, new CountingPredictor)
    assert(fresh.select("tconst").as[String].collect().sorted.toSeq == Seq("tt2", "tt3"))
    assert(CountingPredictor.calls.get == 2)
    assert(genres.count() == 3)
  }

  test("stub predictor is deterministic and whitelist-valid") {
    val metas = (1 to 50).map(i => Enrichment.MovieMeta(
      s"tt$i", None, None, None, None, None))
    val a = Enrichment.StubPredictor.predictBatch(metas)
    val b = Enrichment.StubPredictor.predictBatch(metas)
    assert(a == b)
    assert(a.forall { case (_, g) => Enrichment.MovieGenres.contains(g) })
  }

  test("out-of-whitelist responses are rewritten to 'unknown'") {
    import spark.implicits._
    object JunkPredictor extends Enrichment.GenrePredictor {
      override def predictBatch(b: Seq[Enrichment.MovieMeta]) =
        b.map(m => m.tconst -> "NotAGenre")
    }
    val cache = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], Schemas.genreCache)
    val (_, fresh) = Enrichment.enrich(spark, movies("tt9"), cache, JunkPredictor)
    assert(fresh.select("genre").as[String].collect().toSeq == Seq("unknown"))
  }
}

/** The stub, counting each movie it predicts. Tasks run in this JVM
  * (local master), so the count is one shared counter. */
class CountingPredictor extends Enrichment.GenrePredictor {
  override def predictBatch(b: Seq[Enrichment.MovieMeta]): Seq[(String, String)] = {
    CountingPredictor.calls.addAndGet(b.size)
    Enrichment.StubPredictor.predictBatch(b)
  }
}

object CountingPredictor {
  val calls = new AtomicInteger()
}
