package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark counters per traced span, kept in memory and read once at the end.
  *
  * A span is a label set as the `perfbench.span` local property around a
  * call into the program; every job started under it, and every stage and
  * task of those jobs, is charged to that label. Only the benchmark
  * registers this listener, and only in traced runs.
  */
final class Tracer extends SparkListener {
  import Tracer._

  final class Counts {
    var jobs, stages, tasks, cpuNs, gcMs, maxTaskMs, shuffleBytes, spillBytes = 0L
  }

  private val stageSpan = new ConcurrentHashMap[Int, String]()
  private val counts = mutable.HashMap.empty[String, Counts]
  @volatile private var flushedJobs = 0L

  private def of(span: String): Counts = synchronized(counts.getOrElseUpdate(span, new Counts))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Key))).getOrElse("untraced")
    e.stageInfos.foreach(s => stageSpan.put(s.stageId, span))
    synchronized(of(span).jobs += 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized(flushedJobs += 1)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized(of(stageSpan.getOrDefault(e.stageInfo.stageId, "untraced")).stages += 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = of(stageSpan.getOrDefault(e.stageId, "untraced"))
    c.tasks += 1
    c.maxTaskMs = math.max(c.maxTaskMs, e.taskInfo.duration)
    val m = e.taskMetrics
    if (m != null) {
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.diskBytesSpilled
    }
  }

  /** Blocks until every event posted so far has been handled: runs one
    * marker job and waits for the bus to deliver its end event.
    */
  def drain(sc: SparkContext): Unit = {
    val before = synchronized(flushedJobs)
    sc.setLocalProperty(Key, "drain")
    sc.parallelize(Seq(1), 1).count()
    sc.setLocalProperty(Key, null)
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (synchronized(flushedJobs) <= before && System.nanoTime() < deadline) Thread.sleep(5)
  }

  /** Counters summed over `spans` (max for the longest task), as metrics
    * named `<prefix>.<counter>`.
    */
  def metrics(spans: Seq[String], prefix: String): Seq[(String, Double)] = synchronized {
    val cs = spans.flatMap(counts.get)
    def sum(f: Counts => Long): Double = cs.map(f).sum.toDouble
    Seq(s"$prefix.jobs" -> sum(_.jobs), s"$prefix.stages" -> sum(_.stages),
      s"$prefix.tasks" -> sum(_.tasks), s"$prefix.task_cpu_s" -> sum(_.cpuNs) / 1e9,
      s"$prefix.gc_s" -> sum(_.gcMs) / 1e3,
      s"$prefix.max_task_s" -> cs.map(_.maxTaskMs).foldLeft(0L)(math.max) / 1e3,
      s"$prefix.shuffle_bytes" -> sum(_.shuffleBytes),
      s"$prefix.spill_bytes" -> sum(_.spillBytes))
  }

  def cpuSeconds(span: String): Double = synchronized(counts.get(span).map(_.cpuNs / 1e9).getOrElse(0.0))
}

object Tracer {
  val Key = "perfbench.span"

  /** Runs `body` under span `name` and returns its value with its wall seconds. */
  def span[A](sc: SparkContext, name: String)(body: => A): (A, Double) = {
    sc.setLocalProperty(Key, name)
    val t0 = System.nanoTime()
    try {
      val r = body
      (r, (System.nanoTime() - t0) / 1e9)
    } finally sc.setLocalProperty(Key, null)
  }
}
