package graft.tools

import java.nio.file.{Files, Paths}

import graft.SparkEntry
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

/** Plan-audit tool: `explain("formatted")` for the named queries (or
  * all) on the harness session Bench and Verify run, so shuffle counts,
  * pushed filters, and codegen spans can be reviewed per operator. Dev
  * tool — part of the perf workflow, not the query surface.
  *
  * Prints to stdout, or with `--out <dir> <suffix>` writes each plan to
  * `<dir>/<name>_<suffix>.txt` — the optimization round's plan-evidence
  * artifact (plans/r14/<query>_{before,after}.txt). A query that fails
  * to build or plan is reported and the rest still run.
  * Streaming-exec rows (st_*_stream_exec) are best left out: their
  * construction RUNS the stream and the resulting batch plan is a
  * LocalRelation, so a formatted plan carries no information about
  * the stream.
  *
  * Usage: runMain graft.tools.Explain <sfDir> [--out <dir> <suffix>]
  *          [queryName ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val spark = graft.io.Sessions.harness()
    try run(spark, args) finally spark.stop()
  }

  /** Explains the queries `args` name on `spark`; an unknown or failing
    * name is reported on stderr. Leaves the session running. */
  def run(spark: SparkSession, args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val (out, rest) = args.drop(1) match {
      case Array("--out", dir, suffix, names @ _*) => (Some((dir, suffix)), names)
      case names => (None, names.toSeq)
    }
    val names = if (rest.nonEmpty) rest else SparkEntry.queries.keys.toSeq.sorted
    out.foreach { case (dir, _) => Files.createDirectories(Paths.get(dir)) }
    names.foreach { name =>
      SparkEntry.queries.get(name) match {
        case None => Console.err.println(s"[explain] unknown query: $name")
        case Some(fn) =>
          try {
            val plan = fn(spark, sfDir).queryExecution.explainString(FormattedMode)
            out match {
              case None => println(s"\n========== $name ==========\n$plan")
              case Some((dir, suffix)) =>
                Files.writeString(Paths.get(dir, s"${name}_$suffix.txt"), plan)
                println(s"[explain] wrote $name ($suffix)")
            }
          } catch {
            case e: Throwable =>
              Console.err.println(s"[explain] $name FAILED: ${e.getMessage}")
          } finally graft.scale.CacheRegistry.drain()
      }
    }
  }
}
