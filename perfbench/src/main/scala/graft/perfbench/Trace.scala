package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One closed interval of the client thread, named `layer.op`. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long,
                      endNs: Long) {
  def layer: String = name.takeWhile(_ != '.')
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans and counters of the traced half of a run. While off, `span` only
  * runs its body. While on, each span also names the Spark job group, so
  * [[RuntimeListener]] can attribute jobs, stages and tasks to the layer
  * whose call started them. Spans stay in memory until the run ends. */
final class Tracer(spark: SparkSession) {
  @volatile var on = false
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0
  val counts = mutable.LinkedHashMap.empty[String, Double]

  def add(name: String, v: Double): Unit =
    if (on) counts(name) = counts.getOrElse(name, 0.0) + v

  def span[A](name: String)(body: => A): A =
    if (!on) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      val sc = spark.sparkContext
      val outer = Option(sc.getLocalProperty("spark.jobGroup.id"))
      sc.setJobGroup(name, name)
      stack ::= id
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        spans += Span(id, parent, name, t0, t1)
        outer match {
          case Some(g) => sc.setJobGroup(g, g)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Self time per layer: each span's duration minus its children's. */
  def selfSeconds: Map[String, Double] = {
    val child = spans.groupBy(_.parent).view.mapValues(_.map(_.seconds).sum).toMap
    spans.groupBy(_.layer).view.mapValues(
      _.map(s => s.seconds - child.getOrElse(s.id, 0.0)).sum).toMap
  }

  def spanSeconds(name: String): Double =
    spans.filter(_.name == name).map(_.seconds).sum

  def spanCount(name: String): Int = spans.count(_.name == name)

  def toJson(runId: String): String = spans.map(s =>
    s"""{"run":"$runId","id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""").mkString("[", ",\n", "]")
}

/** Scheduler and executor totals per job group, from Spark's listener bus.
  * Events arrive asynchronously; [[settle]] waits for every started job's
  * end event before totals are read. */
final class RuntimeListener extends SparkListener {
  final class Acc {
    var jobs, stages, tasks = 0L
    var runS, gcS, schedS = 0.0
    var shufW, shufR, spill = 0L
    val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  }
  private val groups = new ConcurrentHashMap[String, Acc]
  private val stageGroup = new ConcurrentHashMap[Int, String]
  private val jobStart = new ConcurrentHashMap[Int, (String, Long)]
  @volatile private var started, ended = 0L

  private def acc(g: String): Acc = groups.computeIfAbsent(g, _ => new Acc)
  private def groupOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).getOrElse("none")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = groupOf(e.properties)
    acc(g).jobs += 1
    jobStart.put(e.jobId, (g, e.time))
    e.stageIds.foreach(stageGroup.put(_, g))
    started += 1
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    Option(jobStart.remove(e.jobId)).foreach { case (g, t0) =>
      acc(g).jobSpans += ((t0, e.time))
    }
    ended += 1
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    acc(stageGroup.getOrDefault(e.stageInfo.stageId, "none")).stages += 1
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = acc(stageGroup.getOrDefault(e.stageId, "none"))
    a.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      a.runS += m.executorRunTime / 1e3
      a.gcS += m.jvmGCTime / 1e3
      val i = e.taskInfo
      a.schedS += math.max(0L, i.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime -
        i.gettingResultTime) / 1e3
      a.shufW += m.shuffleWriteMetrics.bytesWritten
      a.shufR += m.shuffleReadMetrics.totalBytesRead
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  def settle(): Unit = {
    val deadline = System.currentTimeMillis() + 10000
    while (synchronized(ended < started) && System.currentTimeMillis() < deadline)
      Thread.sleep(20)
    Thread.sleep(100) // task-end events of the last stage trail its job end
  }

  /** Totals of one layer's job groups; of all but the benchmark's own
    * (its output checks and input staging) when `layer` is None. */
  def sum[A](layer: Option[String])(f: Acc => A)(implicit n: Numeric[A]): A =
    synchronized {
      groups.asScala.collect {
        case (g, a) if layer.fold(!g.startsWith("bench."))(l => g.takeWhile(_ != '.') == l) =>
          f(a)
      }.sum
    }

  /** Seconds of a layer's spans during which none of its jobs ran. */
  def driverSeconds(layer: String, spans: Seq[Span]): Double = synchronized {
    val jobs = groups.asScala.collect {
      case (g, a) if g.takeWhile(_ != '.') == layer => a.jobSpans
    }.flatten.toSeq.sortBy(_._1)
    val covered = mutable.ArrayBuffer.empty[(Long, Long)]
    jobs.foreach { case (s, e) =>
      if (covered.nonEmpty && s <= covered.last._2)
        covered(covered.size - 1) = (covered.last._1, math.max(covered.last._2, e))
      else covered += ((s, e))
    }
    val busyMs = covered.map { case (s, e) => e - s }.sum
    val spanS = spans.filter(_.layer == layer).map(_.seconds).sum
    math.max(0.0, spanS - busyMs / 1e3)
  }
}

/** Per-query streaming trigger phases, from `durationMs` of each progress
  * event that carried input rows. */
final class StreamListener extends StreamingQueryListener {
  final class Acc {
    var triggers = 0L
    val phaseMs = mutable.Map.empty[String, Long].withDefaultValue(0L)
  }
  private val byName = new ConcurrentHashMap[String, Acc]

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized {
      val p = e.progress
      if (p.numInputRows > 0) {
        val a = byName.computeIfAbsent(String.valueOf(p.name), _ => new Acc)
        a.triggers += 1
          p.durationMs.asScala.foreach { case (k, v) => a.phaseMs(k) += v.longValue }
      }
    }

  def get(name: String): Option[Acc] = synchronized(Option(byName.get(name)))

  def all: Seq[Acc] = synchronized {
    byName.values.asScala.toSeq
  }
}

/** Peak live heap: heap in use right after a full collection, sampled at
  * the end of every pass of the timed region. */
final class HeapMonitor {
  private val mem = java.lang.management.ManagementFactory.getMemoryMXBean
  private var peak = 0L
  def sample(): Unit = {
    // the second collection frees what Spark's cleaner released after the
    // first one (unpersisted blocks of collected datasets)
    System.gc()
    Thread.sleep(100)
    System.gc()
    peak = math.max(peak, mem.getHeapMemoryUsage.getUsed)
  }
  def peakMb: Double = peak / (1024.0 * 1024.0)
}
