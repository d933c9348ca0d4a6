package graft.streaming

import org.apache.spark.sql.functions.col

import graft.{SparkEntry, SparkTestBase}

/** The declared stream queries that run through the shared stream
  * harness in `graft.queries.Stream` (run scope, crash-and-replay,
  * ledger reader, paced triggers), driven end to end at sf0.001
  * through `SparkEntry.queries`. Each must complete, return rows and
  * leave the session's shuffle width as it found it (the harness runs
  * streams at its own state width and restores the session's).
  */
class StreamQueriesSpec extends SparkTestBase {
  /** The sf0.001 fixture directory, as TESTDATA.md records it. */
  private val dir = scala.util.Using.resource(
      scala.io.Source.fromFile("TESTDATA.md", "UTF-8")) {
    _.getLines().collectFirst { case l if l.startsWith("| 0.001 |") =>
      l.split('`')(1).stripSuffix("/") }.get
  }

  for (name <- Seq("stream_sosfilt", "stream_exactly_once",
      "stream_ledger_exactly_once", "stream_manifest_sink",
      "stream_manifest_merge_sink", "stream_manifest_source",
      "stream_manifest_cdc"))
    test(s"$name completes, returns rows and restores the shuffle width") {
      val key = "spark.sql.shuffle.partitions"
      val prev = spark.conf.get(key)
      val rows = SparkEntry.queries(name)(spark, dir).count()
      assert(rows > 0, s"$name returned no rows")
      assert(spark.conf.get(key) == prev,
        s"$name left $key at ${spark.conf.get(key)}, was $prev")
      // row counts that follow from the input alone
      val events = spark.read.parquet(s"$dir/events.parquet")
      name match {
        case "stream_sosfilt" => // one filtered sample per event
          assert(rows == events.count())
        case "stream_manifest_merge_sink" => // one latest-ts winner per user
          assert(rows == events.select(col("user_id")).distinct().count())
        case _ =>
      }
    }
}
