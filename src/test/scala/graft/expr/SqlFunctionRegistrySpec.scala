package graft.expr

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The SQL front door of the custom-expression surface: after
  * GraftFunctions.register (which GraftExtensions.install runs),
  * every graft expression resolves from SQL TEXT and returns exactly
  * what the Column API returns — a spark.sql user is not a
  * second-class consumer of the extension surface. */
class SqlFunctionRegistrySpec extends SparkSpec {

  private def sqlOne(q: String) = {
    GraftFunctions.register(spark)
    spark.sql(q).first()
  }

  test("accent_fold and py_title_case resolve in SQL text") {
    val r = sqlOne(
      "SELECT accent_fold('Déstiny çafé') AS a, py_title_case('2x the fun') AS t")
    assert(r.getString(0) == "Destiny cafe")
    assert(r.getString(1) == PyTitleCase.title("2x the fun"))
  }

  test("char_fingerprint from SQL == Column API") {
    GraftFunctions.register(spark)
    import spark.implicits._
    val df = Seq("alpha beta", "gamma").toDF("s")
    val viaSql = df.selectExpr("char_fingerprint(s) AS fp").collect().map(_.getLong(0))
    val viaCol = df.select(CharFingerprint(col("s")).as("fp")).collect().map(_.getLong(0))
    assert(viaSql.toSeq == viaCol.toSeq)
  }

  test("shingle_hashes/minhash_sig/simhash_sig compose in SQL text") {
    GraftFunctions.register(spark)
    import spark.implicits._
    val df = Seq("a b c d e f g").toDF("s")
    val viaSql = df.selectExpr(
      "simhash_sig(shingle_hashes(s, 3)) AS sim",
      "minhash_sig(shingle_hashes(s, 3), 16, 42L) AS mh").first()
    val viaCol = df.select(
      SimHashSig(ShingleHashes(col("s"), 3)).as("sim"),
      MinHashSig(ShingleHashes(col("s"), 3), 16, 42L).as("mh")).first()
    assert(viaSql.getLong(0) == viaCol.getLong(0))
    assert(viaSql.getSeq[Long](1) == viaCol.getSeq[Long](1))
  }

  test("sign_bits_sig from SQL == Column API") {
    GraftFunctions.register(spark)
    import spark.implicits._
    val df = Seq(Seq(0.5, -1.25, 2.0, 0.75)).toDF("v")
    val viaSql = df.selectExpr("sign_bits_sig(v, 16, 4, 7L) AS s").first().getLong(0)
    val viaCol = df.select(SignBitsSig(col("v"), 16, 4, 7L).as("s")).first().getLong(0)
    assert(viaSql == viaCol)
  }

  test("dot_product in SQL == oracle-order fold") {
    val r = sqlOne(
      "SELECT dot_product(array(1.0D, 2.0D, 3.0D), array(4.0D, 5.0D, 6.0D)) AS d")
    assert(r.getDouble(0) == 32.0)
  }

  test("non-literal shingle width fails analysis with a clear error") {
    GraftFunctions.register(spark)
    import spark.implicits._
    val df = Seq(("a b c", 2)).toDF("s", "n")
    val e = intercept[Exception](df.selectExpr("shingle_hashes(s, n)").collect())
    assert(e.getMessage.contains("literal"))
  }

  test("a second register keeps every function's first registration") {
    // a replace would log "replaced a previously registered function"
    // on every call; ImdbPipeline.run and the specs call it repeatedly
    val registry = spark.sessionState.functionRegistry
    def infos = GraftFunctions.descriptors.map { case (id, _, _) =>
      id.funcName -> registry.lookupFunction(id).getOrElse(fail(s"${id.funcName} not registered"))
    }
    GraftFunctions.register(spark)
    val first = infos
    GraftFunctions.register(spark)
    val replaced = first.zip(infos).collect { case ((n, a), (_, b)) if !(a eq b) => n }
    assert(replaced.isEmpty, s"a second register replaced: ${replaced.mkString(", ")}")
  }
}
