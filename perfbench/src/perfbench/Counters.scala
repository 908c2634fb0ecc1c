package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

final case class TaskRec(stage: Int, attempt: Int, runMs: Long, cpuNs: Long, gcMs: Long,
    shuffleWrite: Long, shuffleRead: Long, spill: Long)
final case class SqlExec(id: Long, startMs: Long, var endMs: Long = -1)
final case class BatchRec(queryId: String, durations: Map[String, Long],
    stateRows: Long, stateCommitMs: Long)

/** Spark and streaming counters, recorded by listeners that live in the
  * benchmark. Events land in append-only buffers; a [[Counters.Mark]]
  * taken before a phase selects the events of that phase.
  */
final class Counters extends SparkListener {
  val tasks = ArrayBuffer.empty[TaskRec]
  val sqlExecs = ArrayBuffer.empty[SqlExec]
  val batches = ArrayBuffer.empty[BatchRec]
  @volatile var jobs = 0
  @volatile var stages = 0

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized { stages += 1 }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) tasks += TaskRec(e.stageId, e.stageAttemptId, m.executorRunTime,
      m.executorCpuTime, m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
      m.shuffleReadMetrics.totalBytesRead, m.memoryBytesSpilled + m.diskBytesSpilled)
  }
  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        sqlExecs += SqlExec(s.executionId, s.time)
      case s: SparkListenerSQLExecutionEnd =>
        sqlExecs.find(_.id == s.executionId).foreach(_.endMs = s.time)
      case _ =>
    }
  }

  val streaming: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Counters.this.synchronized {
        val p = e.progress
        batches += BatchRec(p.runId.toString,
          p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
          p.stateOperators.map(_.numRowsTotal).sum,
          p.stateOperators.map(_.commitTimeMs).sum)
      }
  }

  def mark(): Counters.Mark = synchronized {
    Counters.Mark(tasks.length, sqlExecs.length, batches.length, jobs, stages, System.nanoTime())
  }

  /** Engine counters over the windows `ws` on `cores` cores. */
  def sparkMetrics(ws: Seq[Counters.Window], cores: Int): Map[String, Double] = synchronized {
    val ts = ws.flatMap(w => tasks.slice(w.from.tasks, w.to.tasks))
    val wallS = ws.map(w => w.to.nanos - w.from.nanos).sum / 1e9
    val runS = ts.map(_.runMs).sum / 1e3
    val skew = ts.groupBy(t => (t.stage, t.attempt)).values
      .filter(_.length >= cores)
      .map { g =>
        val sorted = g.map(_.runMs.toDouble).toSeq.sorted
        sorted.last / math.max(1.0, Stats.median(sorted))
      }.toSeq
    Map(
      "spark.jobs" -> ws.map(w => w.to.jobs - w.from.jobs).sum.toDouble,
      "spark.stages" -> ws.map(w => w.to.stages - w.from.stages).sum.toDouble,
      "spark.tasks" -> ts.length.toDouble,
      "spark.exec_run_s" -> runS,
      "spark.exec_cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
      "spark.gc_s" -> ts.map(_.gcMs).sum / 1e3,
      "spark.shuffle_write_bytes" -> ts.map(_.shuffleWrite).sum.toDouble,
      "spark.shuffle_read_bytes" -> ts.map(_.shuffleRead).sum.toDouble,
      "spark.spill_bytes" -> ts.map(_.spill).sum.toDouble,
      "spark.task_max_over_median" -> (if (skew.isEmpty) 1.0 else Stats.median(skew)),
      "spark.idle_core_share" -> math.max(0.0, 1.0 - runS / (wallS * cores)))
  }

  /** Executor run seconds of the tasks in `w`. */
  def execRunSeconds(w: Counters.Window): Double = synchronized {
    tasks.slice(w.from.tasks, w.to.tasks).map(_.runMs).sum / 1e3
  }

  def sqlIn(w: Counters.Window): Seq[SqlExec] = synchronized { sqlExecs.slice(w.from.sql, w.to.sql).toSeq }

  /** Micro-batch counters over the windows `ws`: the durationMs breakdown
    * summed, state rows as the final state size of each query run.
    */
  def streamingMetrics(ws: Seq[Counters.Window]): Map[String, Double] = synchronized {
    val bs = ws.flatMap(w => batches.slice(w.from.batches, w.to.batches))
    def sum(k: String) = bs.map(_.durations.getOrElse(k, 0L)).sum.toDouble
    Map(
      "streaming.batches" -> bs.length.toDouble,
      "streaming.add_batch_ms" -> sum("addBatch"),
      "streaming.query_planning_ms" -> sum("queryPlanning"),
      "streaming.wal_commit_ms" -> sum("walCommit"),
      "streaming.commit_offsets_ms" -> sum("commitOffsets"),
      "streaming.latest_offset_ms" -> sum("latestOffset"),
      "streaming.state_rows" -> bs.groupBy(_.queryId).values.map(_.last.stateRows).sum.toDouble,
      "streaming.state_commit_ms" -> bs.map(_.stateCommitMs).sum.toDouble)
  }
}

object Counters {
  final case class Mark(tasks: Int, sql: Int, batches: Int, jobs: Int, stages: Int, nanos: Long)
  final case class Window(from: Mark, to: Mark)

  private var installed: Option[(org.apache.spark.SparkContext, Counters)] = None

  /** Registers the listeners once per SparkContext; later calls return
    * the installed instance.
    */
  def install(spark: SparkSession): Counters = synchronized {
    installed match {
      case Some((sc, c)) if sc eq spark.sparkContext => c
      case _ =>
        val c = new Counters
        spark.sparkContext.addSparkListener(c)
        spark.streams.addListener(c.streaming)
        installed = Some((spark.sparkContext, c))
        c
    }
  }
}

/** Heap retained after collections: the largest sum over pools of
  * post-GC usage seen by GC notifications.
  */
object HeapPeak {
  @volatile private var peak = 0L
  private var started = false

  def start(): Unit = synchronized {
    if (!started) {
      started = true
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
        case emitter: javax.management.NotificationEmitter =>
          emitter.addNotificationListener((n: javax.management.Notification, _: Any) => {
            if (n.getType == com.sun.management.GarbageCollectionNotificationInfo
                .GARBAGE_COLLECTION_NOTIFICATION) {
              val info = com.sun.management.GarbageCollectionNotificationInfo.from(
                n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
              val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.values.map(_.getUsed).sum
              if (used > peak) peak = used
            }
          }, null, null)
        case _ =>
      }
    }
  }

  def mb: Double = peak / 1048576.0
}

/** Host memory-bandwidth probe, the method of graft.tools.MemBandwidth
  * at a smaller size: each thread stream-sums a private array; returns
  * the best aggregate GB/s of `reps` passes.
  */
object MemProbe {
  def gbps(threads: Int, mbPerThread: Int = 32, reps: Int = 3): Double = {
    val arrays = Array.fill(threads)(Array.tabulate[Long](mbPerThread * 131072)(_.toLong))
    val sink = new java.util.concurrent.atomic.AtomicLong()
    (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      val ts = arrays.map { a =>
        val t = new Thread(() => {
          var s = 0L
          var p = 0
          while (p < 2) { var i = 0; while (i < a.length) { s += a(i); i += 1 }; p += 1 }
          sink.addAndGet(s)
          ()
        })
        t.start(); t
      }
      ts.foreach(_.join())
      threads.toLong * mbPerThread * 1048576L * 2 / ((System.nanoTime() - t0) / 1e9) / 1e9
    }.max
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (q in [0, 1]). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(s.length - 1, lo + 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}
