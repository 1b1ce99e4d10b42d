package graft.expr

import graft.SparkSpec
import graft.io.Tables
import graft.text.TextFeaturesRef
import org.apache.spark.sql.functions._

class TextExprSpec extends SparkSpec {

  test("PyTitleCase matches Python str.title incl. the initcap delta") {
    // cases where Python title() and initcap disagree
    assert(PyTitleCase.title("2x faster") == "2X Faster")
    assert(PyTitleCase.title("it's fine") == "It'S Fine") // Python quirk kept
    assert(PyTitleCase.title("foo-bar") == "Foo-Bar")
    assert(PyTitleCase.title("HELLO world") == "Hello World")
    assert(PyTitleCase.title("") == "")
    import spark.implicits._
    val out = Seq("2x the fun", "der müde tod").toDF("t")
      .select(PyTitleCase($"t").as("p"), initcap($"t").as("ic"))
      .collect()
    assert(out(0).getString(0) == "2X The Fun")
    assert(out(0).getString(1) == "2x The Fun") // the documented delta
    assert(out(1).getString(0) == "Der Müde Tod")
  }

  test("CharFingerprint expression == HOF formulation (oracle parity)") {
    val docs = Tables(spark, sf("sf0.001"), "documents")
    val both = docs.select(
      CharFingerprint(col("text")).as("a"),
      TextFeaturesRef.charFingerprint("text").as("b"))
      .collect()
    assert(both.nonEmpty)
    both.foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }
}
