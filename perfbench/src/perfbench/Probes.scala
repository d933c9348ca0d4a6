package perfbench

import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.dsp.Filt
import graft.functions.Functions.dsl.sosfiltC
import graft.operators.Signal

/** Traced-run calls into single layers, on the workload's own inputs:
  * the read edge (`graft.Tables`), series assembly (`Signal.seriesify`
  * and `Signal.explodeSeries`), the kernel expression
  * (`graft.functions`) over a cached series frame, and the `graft.dsp`
  * kernel on the collected arrays, one thread.
  */
object Probes {
  private val sos = graft.dsp.Design.butterSos(4, 0.1)

  def run(wl: Suite, trace: Trace): Unit = {
    val spark = wl.spark
    wl.tables.foreach { t =>
      val df = trace.span("tables.load", t)(graft.Tables.load(spark, wl.dataDir, t))
      trace.span("tables.scan", t)(Workload.execute(df))
    }

    val keys = wl.seriesKeys
    val long = wl.series
    trace.counts("series.rows") = long.count().toDouble
    val sdf = trace.span("signal.seriesify") {
      val s = Signal.seriesify(long, keys, "t", Seq("value"))
        .persist(StorageLevel.MEMORY_ONLY)
      s.count()
      s
    }
    trace.span("signal.explode") {
      Workload.execute(Signal.explodeSeries(sdf, keys,
        Seq("t" -> col("coords"), "value" -> col("value"))))
    }
    trace.span("functions.kernel_expr") {
      Workload.execute(sdf.select(
        (keys.map(col) :+ sosfiltC(typedLit(sos), col("value")).as("out")): _*))
    }
    val arrays = sdf.select("value").collect().map(_.getSeq[Double](0).toArray)
    sdf.unpersist(true)
    trace.counts("dsp.samples") = arrays.map(_.length.toLong).sum.toDouble
    // one sweep over every series, repeated until the span is long
    // enough to time; the metric is per sweep
    var sweeps = 0
    val t0 = System.nanoTime()
    trace.span("dsp.kernel") {
      while (sweeps == 0 || System.nanoTime() - t0 < 200000000L) {
        arrays.foreach(x => Filt.sosfilt(sos, x))
        sweeps += 1
      }
    }
    trace.counts("dsp.sweeps") = sweeps.toDouble
  }
}
