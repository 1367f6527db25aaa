package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.jdk.CollectionConverters._

/** A timed interval around one call into a layer, tagged with the batch (or
  * runbook op) that caused it. Times are epoch milliseconds as fractions,
  * so spans line up with Spark's task launch/finish stamps. */
final case class Span(name: String, batch: String, startMs: Double, endMs: Double) {
  def ms: Double = endMs - startMs
}

/** Per-job and per-task records collected by [[Trace.listener]]. */
final case class JobRec(jobId: Int, batch: String, submitMs: Long)
final case class TaskRec(jobId: Int, launchMs: Long, finishMs: Long,
                         runMs: Long, deserMs: Long, resultBytes: Long)

/** Spans and Spark events recorded from the benchmark's side of each public
  * call. Recording happens only while a batch key is set on the calling
  * thread, so untraced batches pay one thread-local read per span. */
final class Trace(sc: SparkContext) {
  private val clock0Ms = System.currentTimeMillis().toDouble
  private val clock0Ns = System.nanoTime()
  def nowMs: Double = clock0Ms + (System.nanoTime() - clock0Ns) / 1e6

  /** The current batch key; inherited by the stripe threads a serving call
    * starts after it is set. */
  private val current = new InheritableThreadLocal[String]
  val spans = new ConcurrentLinkedQueue[Span]
  val jobs = new ConcurrentLinkedQueue[JobRec]
  val tasks = new ConcurrentLinkedQueue[TaskRec]
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]
  @volatile private var sentinelSeen = false
  private val Prop = "perfbench.batch"

  def span[T](name: String)(body: => T): T = {
    val b = current.get
    if (b == null) body
    else {
      val t0 = nowMs
      try body finally spans.add(Span(name, b, t0, nowMs))
    }
  }

  /** Run `body` as batch `key`: spans and Spark jobs it causes are keyed to
    * it. `key == null` runs it untraced. */
  def batch[T](key: String)(body: => T): T = {
    current.set(key)
    sc.setLocalProperty(Prop, key)
    try body finally { current.set(null); sc.setLocalProperty(Prop, null) }
  }

  val listener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val key = Option(e.properties).flatMap(p => Option(p.getProperty(Prop))).orNull
      if (key == "sentinel") sentinelSeen = true
      else if (key != null) {
        e.stageIds.foreach(s => stageJob.put(s, e.jobId))
        jobs.add(JobRec(e.jobId, key, e.time))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      if (stageJob.containsKey(e.stageId) && e.taskMetrics != null) {
        val m = e.taskMetrics
        tasks.add(TaskRec(stageJob.get(e.stageId), e.taskInfo.launchTime, e.taskInfo.finishTime,
          m.executorRunTime, m.executorDeserializeTime, m.resultSize))
      }
    }
  }

  /** Wait until the listener has seen every event posted so far: a job
    * posted after them is delivered after them. */
  def drain(): Unit = {
    batch("sentinel")(sc.parallelize(Seq(1), 1).count())
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (!sentinelSeen && System.nanoTime() < deadline) Thread.sleep(5)
    require(sentinelSeen, "Spark listener did not drain within 30 s")
  }

  def spansOf(batch: String): Seq[Span] = spans.asScala.filter(_.batch == batch).toSeq
  def jobsOf(batch: String): Seq[JobRec] = jobs.asScala.filter(_.batch == batch).toSeq
  def tasksOf(jobIds: Set[Int]): Seq[TaskRec] = tasks.asScala.filter(t => jobIds(t.jobId)).toSeq
}

object Trace {
  /** Length of the union of `[a, b)` intervals clipped to `[lo, hi)`. */
  def covered(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curB.isNaN || a > curB) {
        if (!curB.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curB.isNaN) total += curB - curA
    total
  }

  def gcMs(): Long = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum
}
