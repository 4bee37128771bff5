package graftbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._

/** Attributes Spark's job, task and shuffle events to the benchmark span
  * that caused them. A span sets the [[Tracer.Prop]] local property on the
  * calling thread; Spark copies local properties into every job (and the
  * broadcast threads it spawns), so each job and its stages carry the key.
  */
final class Tracer extends SparkListener {
  import Tracer._

  private val accs = new ConcurrentHashMap[String, Acc]()
  private val stageSpan = new ConcurrentHashMap[Int, String]()

  private def acc(key: String): Acc =
    accs.computeIfAbsent(key, _ => new Acc)

  private def keyOf(p: java.util.Properties): Option[String] =
    Option(p).flatMap(x => Option(x.getProperty(Prop)))

  override def onJobStart(e: SparkListenerJobStart): Unit =
    keyOf(e.properties).foreach { k =>
      val a = acc(k)
      a.synchronized { a.jobs += 1 }
      e.stageIds.foreach(s => stageSpan.put(s, k))
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    keyOf(e.properties).foreach(k => stageSpan.put(e.stageInfo.stageId, k))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val k = stageSpan.get(e.stageId)
    val m = e.taskMetrics
    if (k != null && m != null) {
      val a = acc(k)
      val info = e.taskInfo
      a.synchronized {
        a.taskCpuNs += m.executorCpuTime
        a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
        a.spillBytes += m.diskBytesSpilled
        a.intervals += ((info.launchTime, info.finishTime))
        a.stageTasks.getOrElseUpdate(e.stageId, ArrayBuffer()) +=
          info.duration
      }
    }
  }

  /** Counts for one span; `startMs`/`endMs` bound its wall interval. */
  def metrics(key: String, startMs: Long, endMs: Long,
      outRows: Long): Map[String, Double] = {
    val a = Option(accs.get(key)).getOrElse(new Acc)
    a.synchronized {
      val wall = (endMs - startMs).toDouble
      val busy = unionMs(a.intervals.toSeq, startMs, endMs)
      val biggest = a.stageTasks.values.maxByOption(_.sum)
      val skew = biggest.map { ts =>
        val s = ts.sorted
        s.last.toDouble / math.max(1L, s(s.length / 2))
      }.getOrElse(0.0)
      Map(
        "wall_ms" -> wall,
        "jobs" -> a.jobs.toDouble,
        "task_cpu_ms" -> a.taskCpuNs / 1e6,
        "driver_ms" -> math.max(0.0, wall - busy),
        "shuffle_write_mb" -> a.shuffleWriteBytes / 1048576.0,
        "spill_mb" -> a.spillBytes / 1048576.0,
        "task_skew" -> skew,
        "shuffle_recs_per_out_row" ->
          a.shuffleRecords.toDouble / math.max(1L, outRows))
    }
  }
}

object Tracer {
  val Prop = "graftbench.span"

  final class Acc {
    var jobs = 0L
    var taskCpuNs = 0L
    var shuffleWriteBytes = 0L
    var shuffleRecords = 0L
    var spillBytes = 0L
    val intervals = ArrayBuffer[(Long, Long)]()
    val stageTasks = scala.collection.mutable.Map[Int, ArrayBuffer[Long]]()
  }

  /** Length of the union of `iv` clipped to [lo, hi]: the time at least
    * one task of the span was running.
    */
  def unionMs(iv: Seq[(Long, Long)], lo: Long, hi: Long): Double = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (s > curE) {
          if (curE > curS) total += curE - curS
          curS = s; curE = e
        } else curE = math.max(curE, e)
      }
    if (curE > curS) total += curE - curS
    total.toDouble
  }
}
