package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** What Spark's public listeners report, kept as plain records with
  * wall-clock (epoch ms) stamps so they can be matched to the
  * benchmark's own time windows afterwards. All three listener kinds
  * are delivered asynchronously on the listener bus; `SparkSession.stop`
  * drains the bus, so the buffers are read only after the session stops.
  */
object Events {
  final case class Job(id: Int, startMs: Long, var endMs: Long,
                       stageIds: Seq[Int], rangeSample: Boolean)
  final case class Stage(id: Int, tasks: Int, runMs: Long, cpuNs: Long, gcMs: Long,
                         shuffleWrite: Long, shuffleRead: Long, spill: Long)
  final case class Batch(startMs: Long, durations: Map[String, Long],
                         inputRows: Long, stateCommitMs: Long,
                         stateRows: Long, stateMem: Long)
  final case class Plan(startMs: Long, analysisMs: Long,
                        optimizationMs: Long, planningMs: Long)

  val jobs = ArrayBuffer[Job]()
  val stages = ArrayBuffer[Stage]()
  val batches = ArrayBuffer[Batch]()
  val plans = ArrayBuffer[Plan]()

  /** A range partitioner's sample job. Its final stage recomputes the
    * exchange's input and sketches the sort keys, adding two RDDs to the
    * one an exchange's map stage has, all three in the exchange's scope.
    * (Call sites do not tell: adaptive execution submits every job of a
    * query stage from the same pooled thread.)
    */
  private def isRangeSample(finalStage: StageInfo): Boolean =
    finalStage.rddInfos.count(_.scope.exists(_.name == "Exchange")) >= 3

  object Scheduler extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobs += Job(e.jobId, e.time, -1L, e.stageIds,
        e.stageInfos.nonEmpty && isRangeSample(e.stageInfos.maxBy(_.stageId)))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.find(_.id == e.jobId).foreach(_.endMs = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val si = e.stageInfo
      val m = si.taskMetrics
      if (m != null) stages += Stage(si.stageId,
        si.numTasks, m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  object Streams extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
      val p = e.progress
      val ops = p.stateOperators.toSeq
      batches += Batch(java.time.Instant.parse(p.timestamp).toEpochMilli,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        p.numInputRows, ops.map(_.commitTimeMs).sum,
        ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum)
    }
  }

  object Planner extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      synchronized {
        val ph = qe.tracker.phases
        def d(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
        val start = ph.values.map(_.startTimeMs).reduceOption(_ min _).getOrElse(0L)
        plans += Plan(start, d("analysis"), d("optimization"), d("planning"))
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }
}
