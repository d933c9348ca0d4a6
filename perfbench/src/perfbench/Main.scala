package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** Benchmark harness JVM: sets a workload up, runs closed-loop passes over
  * its fixed queries for the requested time, and writes every metric it
  * measured to `<work>/result.json`. Started by `perfbench/run.py`, which
  * also builds the classes and checks query outputs.
  *
  * Arguments (all `--key value`): workload, seed, seconds, trace (0|1),
  * setups, work (scratch directory), source (testdata directory),
  * queries (`name=table,...`) and streaming (0|1).
  */
object Main {
  final case class Pass(traced: Boolean, startNs: Long, endNs: Long,
                        execs: Seq[Exec], heapMb: Double)

  private val t0 = System.nanoTime()
  private def log(msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - t0) / 1e9}%6.1fs $msg")

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val work = Paths.get(opt("work")).toAbsolutePath
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // graft's SQL functions, registered up front as a deployment does
    // (sig_rfft_pregrouped resolves them but does not register them)
    graft.functions.Functions.install(spark)
    spark.sparkContext.addSparkListener(Events.Scheduler)
    spark.streams.addListener(Events.Streams)
    if (traced) spark.listenerManager.register(Events.Planner)
    val trace = new Trace(traced)
    log("session up")

    val picks = opt("queries").split(",").toSeq.map { p =>
      val Array(q, t) = p.split("="); q -> t
    }
    val wl = new Suite(spark, Paths.get(opt("source")), work.resolve("data"), picks,
      streaming = opt("streaming") == "1")

    // Set-up: a fresh copy of the inputs made ready to read, repeated on
    // fresh copies (the median counts), then the cold pass, which builds
    // every materialization of the last copy. Writing the outputs for the
    // check and the oracle SQL comes after and is not set-up time.
    val rounds = (0 until opt("setups").toInt).map { _ =>
      val t0 = System.nanoTime()
      wl.setup()
      (System.nanoTime() - t0) / 1e9
    }
    log("set up")
    val (coldS, built) = wl.coldPass()
    log("cold pass done")
    val checkDir = Files.createDirectories(work.resolve("check")).toString
    val checkFailed = wl.writeOutputs(checkDir, built)
    graft.Verify.writeOracleJson(checkDir)
    log("outputs written")
    // Timed region: closed loop, one unit at a time, whole passes in a
    // seed-permuted order until the time is up and at least two passes
    // ran: a query's first runs are far slower while the JIT compiles
    // what they make hot, so one pass alone reads unsteadily. A traced
    // run alternates untraced and traced passes, an odd number of at
    // least three so that each traced pass sits between two untraced
    // ones; their difference is the tracing overhead.
    val rng = new scala.util.Random(seed)
    val passes = ArrayBuffer[Pass]()
    val start = System.nanoTime()
    def more = (System.nanoTime() - start) / 1e9 < seconds ||
      (if (traced) passes.size < 3 || passes.size % 2 == 0 else passes.size < 2)
    while (more) {
      val on = traced && passes.size % 2 == 1
      val t = if (on) trace else Trace.off
      val order = rng.shuffle(wl.units)
      val p0 = System.nanoTime()
      val execs = t.span("pass") {
        order.map(u => Workload.run(u, t, s"${u.name}#${passes.size}"))
      }
      val p1 = System.nanoTime()
      passes += Pass(on, p0, p1, execs, Heap.oldGenAfterGcMb())
    }
    log("timed passes done")
    if (traced) trace.span("probes")(Probes.run(wl, trace))

    spark.streams.active.foreach(q => try q.stop() catch { case _: Throwable => () })
    try org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    catch { case _: Throwable => () }
    spark.stop() // drains the listener bus: every event is in Events now

    log("session stopped")
    val plain = passes.filterNot(_.traced).toSeq
    val metrics = Metrics.endToEnd(wl.streaming, Metrics.median(rounds) + coldS, plain) ++
      (if (traced) Metrics.perLayer(passes.filter(_.traced).toSeq, plain, trace, cores)
       else Map.empty)
    val execs = plain.flatMap(_.execs)
    if (traced)
      trace.write(work.resolve("spans.jsonl"))
    val result = Json.obj(
      "workload" -> opt("workload"), "seed" -> seed, "cores" -> cores,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "setup_rounds_s" -> rounds, "cold_pass_s" -> coldS, "passes" -> plain.size,
      "traced_passes" -> passes.count(_.traced),
      "pass_s" -> plain.map(p => (p.endNs - p.startNs) / 1e9),
      "attempted" -> execs.size, "failed_execs" -> execs.count(!_.ok),
      "check_failed" -> checkFailed,
      "units" -> wl.units.map(_.name),
      "exec_s" -> execs.groupBy(_.unit).map { case (k, v) => k -> v.map(_.seconds) },
      "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) })
    Files.writeString(work.resolve("result.json"), result + "\n")
    System.exit(0)
  }
}

object Heap {
  /** Old-generation occupancy right after a full collection, in MB. The
    * first collection lets Spark's context cleaner release the state of
    * unreachable broadcasts, shuffles and cached blocks; the second
    * collects what that freed.
    */
  def oldGenAfterGcMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    import scala.jdk.CollectionConverters._
    val pools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == java.lang.management.MemoryType.HEAP &&
        (p.getName.contains("Old") || p.getName.contains("Tenured")))
    pools.map(_.getUsage.getUsed).sum / 1048576.0
  }
}
