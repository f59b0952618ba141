package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder
import scala.jdk.CollectionConverters._

/** The traced run's observer: a `SparkListener` for job, stage, task and
  * shuffle counters, plus named timers around the benchmark's calls into
  * the library. Jobs are attributed to the span that launched them through
  * the `perfbench.tag` local property, which [[tagged]] sets on the calling
  * thread. An untraced run never creates one: [[Observer.off]] times
  * nothing and registers nothing. */
final class Observer(sc: Option[SparkContext]) extends SparkListener {
  private def adder(): LongAdder = new LongAdder
  val jobs, stages, tasks, taskRunMs, taskCpuNs, gcMs, shuffleWrite, shuffleRead,
      spill, fetchWaitMs = adder()
  private val stageTag = new ConcurrentHashMap[Int, String]()
  private val jobsByTag = new ConcurrentHashMap[String, LongAdder]()
  private val tasksByTag = new ConcurrentHashMap[String, LongAdder]()
  private val shuffleByTag = new ConcurrentHashMap[String, LongAdder]()
  /** Tags that ran at least one job with a shuffle (more than one stage). */
  private val shuffledTags = ConcurrentHashMap.newKeySet[String]()
  private val spanNs = new ConcurrentHashMap[String, LongAdder]()

  val enabled: Boolean = sc.isDefined
  sc.foreach(_.addSparkListener(this))

  def detach(): Unit = sc.foreach(_.removeSparkListener(this))

  private def bump(m: ConcurrentHashMap[String, LongAdder], k: String, v: Long): Unit =
    m.computeIfAbsent(k, _ => new LongAdder).add(v)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(Observer.TagKey))).getOrElse("")
    jobs.increment()
    bump(jobsByTag, tag, 1)
    e.stageIds.foreach(id => stageTag.put(id, tag))
    if (e.stageIds.size > 1) shuffledTags.add(tag)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.increment()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      tasks.increment()
      taskRunMs.add(m.executorRunTime)
      taskCpuNs.add(m.executorCpuTime)
      gcMs.add(m.jvmGCTime)
      shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
      shuffleRead.add(m.shuffleReadMetrics.totalBytesRead)
      spill.add(m.memoryBytesSpilled + m.diskBytesSpilled)
      fetchWaitMs.add(m.shuffleReadMetrics.fetchWaitTime)
      val tag = stageTag.getOrDefault(e.stageId, "")
      bump(tasksByTag, tag, 1)
      bump(shuffleByTag, tag, m.shuffleWriteMetrics.bytesWritten)
    }
  }

  /** Runs `f` with every job it launches on this thread tagged `tag`. */
  def tagged[A](tag: String)(f: => A): A = sc match {
    case None => f
    case Some(c) =>
      val prev = c.getLocalProperty(Observer.TagKey)
      c.setLocalProperty(Observer.TagKey, tag)
      try f finally c.setLocalProperty(Observer.TagKey, prev)
  }

  /** Times `f` into span `name` (and tags its jobs with it). */
  def span[A](name: String)(f: => A): A =
    if (!enabled) f
    else {
      val t0 = System.nanoTime()
      try tagged(name)(f)
      finally bump(spanNs, name, System.nanoTime() - t0)
    }

  def spanMs(name: String): Double = Option(spanNs.get(name)).map(_.sum / 1e6).getOrElse(0.0)

  private def sumWhere(m: ConcurrentHashMap[String, LongAdder], p: String => Boolean): Long =
    m.asScala.iterator.collect { case (k, v) if p(k) => v.sum }.sum

  def jobsWhere(p: String => Boolean): Long = sumWhere(jobsByTag, p)
  def tasksWhere(p: String => Boolean): Long = sumWhere(tasksByTag, p)
  def shuffleWhere(p: String => Boolean): Long = sumWhere(shuffleByTag, p)
  def shuffledTagCount(p: String => Boolean): Long = shuffledTags.asScala.count(p).toLong

  /** The `spark.*` per-layer metrics over a window of `wallMs` at `cores`. */
  def sparkMetrics(wallMs: Double, cores: Int): Seq[(String, Double)] = Seq(
    "spark.jobs" -> jobs.sum.toDouble,
    "spark.stages" -> stages.sum.toDouble,
    "spark.tasks" -> tasks.sum.toDouble,
    "spark.task_cpu_ms" -> taskCpuNs.sum / 1e6,
    "spark.gc_ms" -> gcMs.sum.toDouble,
    "spark.shuffle_write_bytes" -> shuffleWrite.sum.toDouble,
    "spark.shuffle_read_bytes" -> shuffleRead.sum.toDouble,
    "spark.spill_bytes" -> spill.sum.toDouble,
    "spark.fetch_wait_ms" -> fetchWaitMs.sum.toDouble,
    "spark.idle_core_frac" ->
      (if (wallMs <= 0) 0.0 else math.max(0.0, 1.0 - taskRunMs.sum / (wallMs * cores))))
}

object Observer {
  val TagKey = "perfbench.tag"
  def off: Observer = new Observer(None)
}
