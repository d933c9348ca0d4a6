package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One timed unit of a workload: a query that is built and then
  * executed. `family` names the operator layer it belongs to and
  * `samples` is the input size it is declared to process.
  */
final case class Step(name: String, family: String, samples: Long,
                      build: SparkSession => DataFrame)

/** One execution of a unit inside a pass. */
final case class Exec(unit: String, samples: Long, buildS: Double, execS: Double,
                      ok: Boolean) {
  def seconds: Double = buildS + execS
}

object Workload {
  /** Executes a built frame to completion on the no-op sink: every output
    * column is computed and rows are discarded executor-side.
    */
  def execute(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def run(u: Step, trace: Trace, id: String): Exec = {
    val spark = SparkSession.active
    var buildS = 0.0
    var execS = 0.0
    val ok = try {
      trace.span(if (u.family.nonEmpty) s"operators.${u.family}" else "query", id) {
        val t0 = System.nanoTime()
        val df = trace.span("queries.build")(u.build(spark))
        if (trace.on) trace.add("plan.analysis_ms",
          df.queryExecution.tracker.phases.get("analysis").map(_.durationMs.toDouble).getOrElse(0.0))
        val t1 = System.nanoTime()
        buildS = (t1 - t0) / 1e9
        trace.span("queries.exec")(execute(df))
        execS = (System.nanoTime() - t1) / 1e9
      }
      true
    } catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] ${u.name} failed: ${e.getMessage}")
        false
    } finally spark.catalog.clearCache()
    Exec(u.name, u.samples, buildS, execS, ok)
  }

  /** events as the signal queries see them: one series per user. */
  def events(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.load(spark, dir, "events")
      .select(col("user_id"),
        (expr("ts div 1000").cast("double") / lit(1e6)).as("t"), col("value"))

  def copyTree(from: java.nio.file.Path, to: java.nio.file.Path): Unit = {
    deleteTree(to)
    java.nio.file.Files.createDirectories(to)
    // fresh mtimes: every copy has its own fingerprint, so the program's
    // path-and-mtime keyed materializations rebuild from it
    val now = System.currentTimeMillis()
    val files = java.nio.file.Files.list(from)
    try files.forEach { f =>
      val t = to.resolve(f.getFileName)
      java.nio.file.Files.copy(f, t)
      t.toFile.setLastModified(now)
    } finally files.close()
  }

  def deleteTree(p: java.nio.file.Path): Unit = {
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory && !java.nio.file.Files.isSymbolicLink(f.toPath))
        Option(f.listFiles).foreach(_.foreach(rm))
      f.delete(): Unit
    }
    rm(p.toFile)
  }
}
