package perfbench

import java.nio.file.{Path, Paths}

import scala.util.Try

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A workload: a fixed subset of the declared queries
  * (`graft.SparkEntry.queries`) over a benchmark-owned copy of a testdata
  * scale factor. `picks` maps each query to the table it is declared to
  * read; that table's row count is the query's input size. Outputs are
  * checked against the queries' DuckDB oracles by the launcher.
  */
final class Suite(val spark: SparkSession, source: Path, data: Path,
                  picks: Seq[(String, String)], val streaming: Boolean) {
  private val declared = graft.SparkEntry.queries
  picks.foreach { case (q, _) => require(declared.contains(q), s"unknown query $q") }

  val dataDir: String = data.toAbsolutePath.toString
  /** Tables the read-edge probe loads and scans. */
  val tables: Seq[String] = picks.map(_._2).distinct.sorted
  private var rows = Map.empty[String, Long]

  /** One set-up on a fresh copy of the inputs, ending ready to read. */
  def setup(): Unit = {
    Workload.copyTree(source, data)
    rows = tables.map(t => t -> graft.Tables.load(spark, dataDir, t).count()).toMap
  }

  def units: Seq[Step] = picks.map { case (q, t) =>
    val family = q.takeWhile(_ != '_')
    Step(q, if (Metrics.operatorFamilies.contains(family)) family else "", rows(t),
      (s: SparkSession) => declared(q)(s, dataDir))
  }

  /** The cold pass: every query once, in declared order, built and
    * executed on the no-op sink as the timed region runs it; the first
    * builds make the program's materializations. Returns the seconds
    * that took and each query's result frame, or why it failed.
    */
  def coldPass(): (Double, Seq[(String, Try[DataFrame])]) = {
    val t0 = System.nanoTime()
    val built = units.map { u =>
      try u.name -> Try { val df = u.build(spark); Workload.execute(df); df }
      finally spark.catalog.clearCache()
    }
    ((System.nanoTime() - t0) / 1e9, built)
  }

  /** Writes each cold-pass result under `outDir` for the check (a
    * stream query's frame reads its sink, a batch query's runs again);
    * returns the queries that failed, with the reason.
    */
  def writeOutputs(outDir: String, built: Seq[(String, Try[DataFrame])]): Seq[String] =
    built.flatMap { case (q, df) =>
      df.map(_.coalesce(1).write.mode("overwrite").parquet(Paths.get(outDir, q).toString))
        .failed.toOption.map(e => s"$q: ${e.getMessage}")
    }

  /** Long-format series input the assembly and kernel probes run on. */
  def series: DataFrame = Workload.events(spark, dataDir)
  def seriesKeys: Seq[String] = Seq("user_id")
}
