package graft.imdb

import graft.SparkSpec
import graft.expr.GraftFunctions
import org.apache.spark.sql.functions._

class CleaningSpec extends SparkSpec {

  test("normalizeTitle: fold + strip + titlecase + blank-to-null") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val out = Seq(
      Some("  Déstiny!!  "), Some("der müde  Tod"), Some("***"), None)
      .toDF("t")
      .select(Cleaning.normalizeTitle($"t").as("n"))
      .collect().map(r => Option(r.getString(0)))
    assert(out.toSeq == Seq(Some("Destiny"), Some("Der Mude  Tod"), None, None))
  }

  test("normalizeTitle runs on a session with no graft SQL function registered") {
    val fresh = spark.newSession()
    import fresh.implicits._
    val out = Seq("Déstiny çafé!").toDF("t")
      .select(Cleaning.normalizeTitle($"t")).as[String].collect()
    assert(out.toSeq == Seq("Destiny Cafe"))
  }

  test("property: normalizeTitle == the initcap chain, with ICU case mappings on and off") {
    import spark.implicits._
    GraftFunctions.register(spark)
    // what a title can hold: ASCII letters and digits, runs of spaces,
    // tabs and newlines, punctuation, accented Latin, combining marks,
    // ligatures and fullwidth forms (NFKD folds them to ASCII), Greek,
    // Cyrillic and CJK (dropped by the fold), and the Turkish dotted I
    val pools: Seq[IndexedSeq[String]] = Seq(
      ('a' to 'z') ++ ('A' to 'Z'), ('0' to '9'), Seq(' ', ' ', '\t', '\n'),
      "!?.,'-:&()".toSeq, "éÉüÜçÇñÑøÆåß".toSeq, Seq('\u0301', '\u0308', '\u0327'),
      Seq('\ufb01', '\uff21', '\uff41', '\u0130', '\u0131'),
      "αΩжЖ".toSeq, ('\u4e00' to '\u4e40')).map(_.map(_.toString).toIndexedSeq)
    val rnd = new scala.util.Random(20261019L)
    val titles: Seq[Option[String]] = (1 to 3000).map { i =>
      if (i % 97 == 0) None
      else Some((0 until rnd.nextInt(24)).map { _ =>
        val pool = pools(rnd.nextInt(pools.size))
        pool(rnd.nextInt(pool.size))
      }.mkString)
    }
    def initcapChain(c: org.apache.spark.sql.Column) = {
      val cased = initcap(trim(regexp_replace(call_function("accent_fold", c),
        "[^a-zA-Z0-9\\s]", "")))
      when(cased === "" || c.isNull, lit(null)).otherwise(cased)
    }
    val key = "spark.sql.icu.caseMappings.enabled"
    val before = spark.conf.getOption(key)
    try Seq("true", "false").foreach { icu =>
      spark.conf.set(key, icu)
      // a local relation is evaluated by the optimizer (interpreted);
      // an RDD scan runs the generated code
      Seq(titles.toDF("t"), spark.sparkContext.parallelize(titles, 4).toDF("t"))
        .foreach { df =>
          val bad = df.select($"t", Cleaning.normalizeTitle($"t").as("n"),
              initcapChain($"t").as("ic"))
            .filter(not($"n" <=> $"ic")).collect()
          assert(bad.isEmpty, s"$key=$icu: ${bad.take(5).mkString("; ")}")
        }
    } finally before match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("repairYears truth table (classifier_pipeline.py:198-204)") {
    import spark.implicits._
    val df = Seq(
      (Some(1990), Some(1985)), // end < start -> repaired to start
      (Some(1990), None),       // null end -> start
      (None, Some(1980)),       // null start -> end
      (None, None)              // both null stay null
    ).toDF("startYear", "endYear")
    val out = Cleaning.repairYears(df)
      .collect().map(r => (Option(r.get(0)), Option(r.get(1)))).toSeq
    assert(out == Seq(
      (Some(1990), Some(1990)),
      (Some(1990), Some(1990)),
      (Some(1980), Some(1980)),
      (None, None)))
    // invariant: endYear' >= startYear' whenever both defined
    assert(out.forall {
      case (Some(s: Int), Some(e: Int)) => e >= s
      case _ => true
    })
  }

  test("columnMeans: one pass, null column falls back to 1.0") {
    import spark.implicits._
    val df = Seq((Some(2.0), None: Option[Double]), (Some(4.0), None))
      .toDF("a", "b")
    val m = Cleaning.columnMeans(df, Seq("a", "b"))
    assert(m("a") == 3.0 && m("b") == 1.0)
  }

  test("patchWithMean patches ONLY nulls (classifier_pipeline.py:197-199)") {
    import spark.implicits._
    val df = Seq(Some(5.0), Some(0.0), Some(-1.0), None).toDF("a")
    val out = Cleaning.patchWithMean(df, Map("a" -> 9.0))
      .collect().map(_.getDouble(0)).toSeq
    // zero and negative pass through — the reference injects means into
    // NULL fields only
    assert(out == Seq(5.0, 0.0, -1.0, 9.0))
  }

  test("nonZeroMeans: per-column non-zero mean, single pass, 1.0 fallback") {
    import spark.implicits._
    val df = Seq(
      (Some(10.0), Some(0.0)),
      (Some(0.0), Some(0.0)),
      (Some(20.0), None: Option[Double]),
      (None: Option[Double], Some(0.0))).toDF("budget", "revenue")
    val m = Cleaning.nonZeroMeans(df, Seq("budget", "revenue"))
    assert(m("budget") == 15.0, "mean over >0 rows only")
    assert(m("revenue") == 1.0, "all-zero column falls back to 1.0")
  }

  test("patchNullOrZero patches null AND zero (classifier_pipeline.py:354-360)") {
    import spark.implicits._
    val df = Seq(Some(5.0), Some(0.0), Some(-1.0), None).toDF("a")
    val out = Cleaning.patchNullOrZero(df, Map("a" -> 9.0))
      .collect().map(_.getDouble(0)).toSeq
    assert(out == Seq(5.0, 9.0, -1.0, 9.0))
  }

  test("fillTitles: cross-column coalesce both directions") {
    import spark.implicits._
    val df = Seq((Some("P"), None: Option[String]), (None: Option[String], Some("O")),
      (Some("P2"), Some("O2"))).toDF("primaryTitle", "originalTitle")
    val out = Cleaning.fillTitles(df).collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    assert(out == Seq(("P", "P"), ("O", "O"), ("P2", "O2")))
  }
}
