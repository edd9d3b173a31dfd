package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import scala.jdk.CollectionConverters._

/** One timed call into the library: which layer (module) it was charged
  * to, what kind of operation it was, and its wall-clock interval. */
final case class Call(layer: String, kind: String, pass: Int, startMs: Long,
    endMs: Long, nanos: Long) {
  def ms: Double = nanos / 1e6
}

/** Times calls and counts outcomes. Every workload routes each library
  * call through `op`, in timed and traced runs alike, so the traced run
  * differs from the timed one only by the listeners. */
final class Recorder {
  val calls = scala.collection.mutable.ArrayBuffer[Call]()
  var attempted = 0L
  var failed = 0L
  val failures = scala.collection.mutable.ArrayBuffer[String]()
  /** The iteration the next calls belong to (set by the runner). */
  var pass = 0

  /** Time `f` as one call of `kind`, charged to `layer`. A throw is
    * counted as a failed attempt and surfaces as `None`. */
  def op[T](layer: String, kind: String)(f: => T): Option[T] = {
    attempted += 1
    val ms0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try {
      val r = f
      calls += Call(layer, kind, pass, ms0, System.currentTimeMillis(), System.nanoTime() - t0)
      Some(r)
    } catch {
      case e: Exception =>
        fail(s"$kind: ${e.getClass.getSimpleName}: ${e.getMessage}")
        None
    }
  }

  /** The output of an attempt `op` already counted did not hold. */
  def fail(msg: String): Unit = {
    failed += 1
    if (failures.size < 50) failures += msg.take(300)
  }

  /** A check with no timed call of its own (e.g. a replay that must be
    * rejected): one more attempt, failed unless `ok`. */
  def check(ok: Boolean, msg: => String): Unit = {
    attempted += 1
    if (!ok) fail(msg)
  }

  def of(kinds: String*): Seq[Call] = calls.filter(c => kinds.contains(c.kind)).toSeq
}

/** Stage and job records collected by the traced run's listener. */
final case class StageRec(submitMs: Long, doneMs: Long, tasks: Int, cpuNs: Long,
    gcMs: Long, inputBytes: Long, shuffleWriteBytes: Long, spillBytes: Long)

final class StageLog extends SparkListener {
  val jobStarts = new ConcurrentLinkedQueue[Long]()
  val stages = new ConcurrentLinkedQueue[StageRec]()
  override def onJobStart(e: SparkListenerJobStart): Unit = jobStarts.add(e.time)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val m = si.taskMetrics
    if (m != null && si.submissionTime.isDefined)
      stages.add(StageRec(si.submissionTime.get,
        si.completionTime.getOrElse(si.submissionTime.get), si.numTasks,
        m.executorCpuTime, m.jvmGCTime, m.inputMetrics.bytesRead,
        m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled))
  }
}

final class StreamLog extends StreamingQueryListener {
  /** (rows, batch duration ms) of every micro-batch that read input. */
  val batches = new ConcurrentLinkedQueue[(Long, Long)]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    if (p.numInputRows > 0) batches.add((p.numInputRows, p.batchDuration))
  }
}

/** The traced run's listeners, registered on the benchmark's own
  * session. Jobs and stages are charged to the call whose wall-clock
  * interval contains their start: the client is single-threaded, so at
  * most one call is open at any time, and this also catches jobs the
  * library launches from its own threads (broadcasts, futures, stream
  * micro-batches). */
final class Tracer(spark: SparkSession) {
  val stageLog = new StageLog
  val streamLog = new StreamLog
  var drainTimeouts = 0

  def start(): Unit = {
    spark.sparkContext.addSparkListener(stageLog)
    spark.streams.addListener(streamLog)
  }

  def stop(): Unit = {
    if (!org.apache.spark.perfbench.Bus.drain(spark.sparkContext, 30000L)) drainTimeouts += 1
    spark.sparkContext.removeSparkListener(stageLog)
    spark.streams.removeListener(streamLog)
  }

  private def owner(calls: IndexedSeq[Call], t: Long): Int = {
    var lo = 0
    var hi = calls.length - 1
    var best = -1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      if (calls(mid).startMs <= t) { best = mid; lo = mid + 1 } else hi = mid - 1
    }
    if (best >= 0 && t <= calls(best).endMs) best else -1
  }

  /** Counters per call index: jobs, stages and stage records. */
  def attribute(calls: IndexedSeq[Call]): (Array[Int], Array[Vector[StageRec]]) = {
    val jobs = new Array[Int](calls.length)
    val stg = Array.fill(calls.length)(Vector.empty[StageRec])
    stageLog.jobStarts.asScala.foreach { t =>
      val i = owner(calls, t); if (i >= 0) jobs(i) += 1
    }
    stageLog.stages.asScala.foreach { s =>
      val i = owner(calls, s.submitMs); if (i >= 0) stg(i) :+= s
    }
    (jobs, stg)
  }
}

object Layers {
  val Counters: Seq[(String, String)] = Seq(
    "wall_s" -> "s", "jobs" -> "count", "stages" -> "count", "tasks" -> "count",
    "executor_cpu_s" -> "s", "gc_s" -> "s", "input_mb" -> "MB",
    "shuffle_write_mb" -> "MB", "spill_mb" -> "MB", "driver_gap_s" -> "s")

  private val MB = 1024.0 * 1024.0

  /** Wall time of [start, end] that no stage's [submit, done] covers. */
  def gapMs(c: Call, stages: Seq[StageRec]): Long = {
    val iv = stages.map(s => (math.max(s.submitMs, c.startMs), math.min(s.doneMs, c.endMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    covered += curB - curA
    math.max(0L, (c.endMs - c.startMs) - covered)
  }

  /** The ten counters of one layer, summed over its calls. */
  def counters(calls: IndexedSeq[Call], jobs: Array[Int], stages: Array[Vector[StageRec]],
      layer: String): Map[String, Double] = {
    val idx = calls.indices.filter(i => calls(i).layer == layer)
    val st = idx.flatMap(stages(_))
    Map(
      "wall_s" -> idx.map(calls(_).nanos).sum / 1e9,
      "jobs" -> idx.map(jobs(_)).sum.toDouble,
      "stages" -> st.size.toDouble,
      "tasks" -> st.map(_.tasks.toLong).sum.toDouble,
      "executor_cpu_s" -> st.map(_.cpuNs).sum / 1e9,
      "gc_s" -> st.map(_.gcMs).sum / 1e3,
      "input_mb" -> st.map(_.inputBytes).sum / MB,
      "shuffle_write_mb" -> st.map(_.shuffleWriteBytes).sum / MB,
      "spill_mb" -> st.map(_.spillBytes).sum / MB,
      "driver_gap_s" -> idx.map(i => gapMs(calls(i), stages(i))).sum / 1e3)
  }
}

object Stats {
  /** Nearest-rank percentile (p in 0..100) of a non-empty sample. */
  def pct(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    s(math.min(s.length - 1, math.max(0, math.ceil(p / 100.0 * s.length).toInt - 1)))
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2.0
  }

  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.length)
}
