package graft.io

import java.nio.file.{Files, Paths}

import graft.SparkSpec
import graft.expr.{CollapseAccentFold, GraftExtensions}
import graft.plans.{AsOfJoinStrategy, RunningSumStrategy, Top1WindowToMaxBy}
import org.apache.spark.sql.internal.SQLConf

import scala.jdk.CollectionConverters._

/** The harness session is the one configuration every main and every
  * suite plans and runs under. */
class SessionsSpec extends SparkSpec {

  private def scalaFiles(root: String): List[java.nio.file.Path] = {
    val w = Files.walk(Paths.get(root))
    try w.iterator().asScala.toList finally w.close()
  }.filter(_.toString.endsWith(".scala"))

  private def isComment(l: String) = Seq("//", "/*", "*").exists(l.trim.startsWith)

  /** Every code line of src/main and perfbench/src, trailing comments cut. */
  private lazy val codeLines: Seq[String] =
    (scalaFiles("src/main/scala") ++ scalaFiles("perfbench/src")).flatMap(p =>
      Files.readAllLines(p).asScala.filterNot(isComment).map(_.replaceAll("\\s//.*", "")))

  private val mainObjects = Set("graft.Bench", "graft.Verify", "graft.imdb.RunImdb",
    "graft.tools.Explain", "graft.tools.ScaleUp")

  test("harness session: UTC, nanosAsLong, graft rules once, both strategies, SQL functions") {
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    // parallelism-first coalescing on, SMJ->SHJ rewrite off: the
    // measured choices the Sessions scaladoc records
    val conf = spark.sessionState.conf
    assert(conf.getConf(SQLConf.COALESCE_PARTITIONS_PARALLELISM_FIRST))
    assert(conf.getConf(SQLConf.ADAPTIVE_MAX_SHUFFLE_HASH_JOIN_LOCAL_MAP_THRESHOLD) == 0L)
    // cached frames coalesce to AQE's data-proportional width
    assert(spark.conf.get("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning") == "true")

    GraftExtensions.install(spark) // a second install adds nothing
    val rules = spark.experimental.extraOptimizations
    assert(rules.count(_ == Top1WindowToMaxBy) == 1, s"rules: $rules")
    assert(rules.count(_ == CollapseAccentFold) == 1, s"rules: $rules")
    val strategies = spark.experimental.extraStrategies
    assert(strategies.count(_ == AsOfJoinStrategy) == 1, s"strategies: $strategies")
    assert(strategies.count(_ == RunningSumStrategy) == 1, s"strategies: $strategies")

    assert(spark.sql("SELECT accent_fold('Déstiny') AS t").first().getString(0) == "Destiny")
  }

  test("stream session clone: no no-data batches or checksum sidecars, parent's provider") {
    val provider = "spark.sql.streaming.stateStore.providerClass"
    val rocks = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    val parent = spark.newSession()
    parent.conf.set(provider, rocks)
    val clone = graft.streaming.StreamExec.streamSession(parent)
    assert(clone.conf.get("spark.sql.streaming.noDataMicroBatches.enabled") == "false")
    assert(clone.conf.get("spark.sql.streaming.checkpoint.fileChecksum.enabled") == "false")
    assert(clone.conf.get("spark.sql.shuffle.partitions") == "8")
    assert(clone.conf.get(provider) == rocks)
  }

  test("source guard: one code line starts a stream query (StreamExec.start)") {
    // every stream-exec row starts its query through StreamExec.start,
    // the one place that sets output mode, checkpoint dir and the
    // AvailableNow trigger
    val starts = codeLines.filter(_.contains(".writeStream"))
    assert(starts.size == 1, s"start stream queries through StreamExec.start: ${starts.map(_.trim)}")
  }

  test("source guard: only io/Sessions.scala builds a SparkSession") {
    val call = "SparkSession" + ".builder"
    val offenders = Seq("src/main/scala", "src/test/scala").flatMap(scalaFiles)
      .filterNot(_.endsWith(Paths.get("graft", "io", "Sessions.scala")))
      .filter(p => Files.readString(p).contains(call))
    assert(offenders.isEmpty,
      s"build sessions through graft.io.Sessions.harness, not in: ${offenders.mkString(", ")}")
  }

  test("source guard: the five mains, the two tools scripts and the five knobs") {
    // a new main or tools script needs a tier-1 spec (or perfbench or
    // selfcheck.py) that runs it, and a line here; bench_compare.py is
    // run by none of them and is kept as the by-hand reader of Bench's
    // side files
    val mains = scalaFiles("src/main/scala").flatMap { p =>
      val src = Files.readString(p)
      val pkg = "(?m)^package ([\\w.]+)".r.findFirstMatchIn(src).map(_.group(1))
      "def main\\(".r.findAllMatchIn(src).map { m =>
        val obj = "object (\\w+)".r.findAllMatchIn(src.take(m.start)).toSeq.last.group(1)
        (pkg.toSeq :+ obj).mkString(".")
      }
    }.toSet
    assert(mains == mainObjects, mains)
    val scripts = {
      val l = Files.list(Paths.get("tools"))
      try l.iterator().asScala.map(_.getFileName.toString).filter(_.endsWith(".py")).toSet
      finally l.close()
    }
    assert(scripts == Set("selfcheck.py", "bench_compare.py"), scripts)
    assert(Knobs.snapshot.size == 5, Knobs.snapshot.keys)
    // a behaviour switch is a constant next to its measurement or a
    // Spark conf, never a new env variable
    val named = Seq("src/main/scala", "src/test/scala").flatMap(scalaFiles)
      .flatMap(p => "SPARK_GRAFT_[A-Z_0-9]+".r.findAllIn(Files.readString(p))).toSet
    assert(named == Knobs.snapshot.keySet, named -- Knobs.snapshot.keySet)
  }

  test("source guard: every top-level src/main type is named outside its declaration") {
    // a top-level object, class or trait that no code line of src/main
    // or perfbench/src names is reached by no main, query row, pipeline
    // step or perfbench: delete it, or move it to src/test if a spec
    // needs it (the -Wunused lint keeps private dead code out)
    val exempt = mainObjects.map(_.split('.').last) +
      "OllamaPredictor" // unwired; ROADMAP item 5 decides: wire it into RunImdb or delete it
    val decl = ("^(?:(?:final|sealed|abstract|case|implicit|private(?:\\[\\w+\\])?)\\s+)*" +
      "(?:object|class|trait)\\s+(\\w+)").r
    val declared = scalaFiles("src/main/scala").flatMap(p =>
      Files.readAllLines(p).asScala.flatMap(decl.findPrefixMatchOf(_)).map(_.group(1))).toSet
    assert(declared.size > 50, declared)
    val unreached = (declared -- exempt).filterNot { name =>
      val word = s"\\b$name\\b".r
      codeLines.exists(l => word.findFirstIn(l).isDefined && decl.findPrefixMatchOf(l)
        .forall(_.group(1) != name))
    }
    assert(unreached.isEmpty, s"named by no code line outside its declaration: ${unreached.toSeq.sorted}")
  }

  test("source guard: every public object member in src/main is named by other code") {
    // a public member only specs call keeps a code path alive for them
    // alone: delete it, or move it to a test-side object (SpecStreams,
    // TextFeaturesRef). Members sit at two-space indent; private,
    // protected and override members never match `member`
    val obj = "^(?:case\\s+)?object\\s+(\\w+)".r
    val member = ("^  (?:(?:final|lazy|implicit|case|sealed|abstract)\\s+)*" +
      "(?:def|val|var|object|class|trait|type)\\s+(\\w+)").r
    val declared = scalaFiles("src/main/scala").flatMap { p =>
      var owner: Option[String] = None
      Files.readAllLines(p).asScala.flatMap { l =>
        obj.findPrefixMatchOf(l) match {
          case Some(m) => owner = Some(m.group(1)); None
          case None =>
            if (l.startsWith("}")) owner = None
            owner.flatMap(o => member.findPrefixMatchOf(l).map(m => (o, m.group(1), l)))
        }
      }
    }
    assert(declared.size > 150, declared.size)
    val exempt: ((String, String)) => Boolean = {
      case (_, "main") | ("SparkEntry", "entry") | ("OllamaPredictor", _) => true
      case _ => false
    }
    val unreached = declared.filterNot { case (o, name, _) => exempt((o, name)) }
      .filterNot { case (_, name, line) =>
        val word = s"\\b$name\\b".r
        codeLines.exists(l => l != line && word.findFirstIn(l).isDefined)
      }.map { case (o, name, _) => s"$o.$name" }
    assert(unreached.isEmpty, s"public members named by no other code line: ${unreached.sorted}")
  }
}
