package graftbench

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Task-metric totals for one attribution bucket. */
final class Totals {
  private var cpuNs = 0L
  private var shuffleWriteBytes = 0L
  private var spillBytes = 0L

  def add(m: org.apache.spark.executor.TaskMetrics): Unit = synchronized {
    cpuNs += m.executorCpuTime
    shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
    spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
  }

  /** (executor CPU ns, shuffle bytes written, bytes spilled) */
  def snapshot: (Long, Long, Long) = synchronized {
    (cpuNs, shuffleWriteBytes, spillBytes)
  }
}

/** Listens on the Spark bus, never inside the engine: sums task metrics
  * for the whole application and per job group, and tracks the bytes held
  * in Spark's block cache (RDD blocks, memory plus disk).
  *
  * Events arrive asynchronously, so readers call [[flush]] first: it runs
  * a one-task marker job and waits until the listener has seen that job
  * end, which orders it after every earlier task-end event.
  */
final class MetricsListener extends SparkListener {
  val total = new Totals
  private val byGroup = new ConcurrentHashMap[String, Totals]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val jobGroup = new ConcurrentHashMap[Int, String]()
  private val markers = new ConcurrentHashMap[String, CountDownLatch]()

  private val blockBytes = mutable.HashMap.empty[String, Long]
  private var cachedBytes = 0L
  private var peakBytes = 0L

  @volatile private var jobCount = 0L

  /** Jobs started so far. */
  def jobs: Long = jobCount

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobCount += 1
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty(MetricsListener.JobGroupKey)))
    g.foreach { group =>
      jobGroup.put(e.jobId, group)
      e.stageIds.foreach(s => stageGroup.put(s, group))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobGroup.remove(e.jobId)).flatMap(g => Option(markers.get(g)))
      .foreach(_.countDown())

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      total.add(m)
      Option(stageGroup.get(e.stageId)).foreach(g =>
        byGroup.computeIfAbsent(g, _ => new Totals).add(m))
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) synchronized {
      val key = info.blockId.name
      val now =
        if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      cachedBytes += now - blockBytes.getOrElse(key, 0L)
      if (now == 0L) blockBytes.remove(key) else blockBytes(key) = now
      if (cachedBytes > peakBytes) peakBytes = cachedBytes
    }
  }

  // an unpersisted RDD's blocks are dropped without block-update events
  override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = synchronized {
    val prefix = s"rdd_${e.rddId}_"
    blockBytes.keys.filter(_.startsWith(prefix)).toSeq.foreach { k =>
      cachedBytes -= blockBytes.remove(k).getOrElse(0L)
    }
  }

  /** Bytes cached right now. */
  def cached: Long = synchronized(cachedBytes)

  /** Peak cached bytes since the last [[resetPeak]]. */
  def peak: Long = synchronized(peakBytes)

  def resetPeak(): Unit = synchronized { peakBytes = cachedBytes }

  def group(g: String): (Long, Long, Long) =
    Option(byGroup.get(g)).map(_.snapshot).getOrElse((0L, 0L, 0L))

  private var flushes = 0

  /** Wait until every event posted before this call has been handled. */
  def flush(sc: SparkContext): Unit = {
    flushes += 1
    val marker = s"linkbench.flush.$flushes"
    val latch = new CountDownLatch(1)
    markers.put(marker, latch)
    val saved = sc.getLocalProperty(MetricsListener.JobGroupKey)
    sc.setJobGroup(marker, "listener flush")
    try sc.parallelize(Seq(1), 1).count()
    finally restoreGroup(sc, saved)
    if (!latch.await(60, TimeUnit.SECONDS))
      throw new IllegalStateException("listener bus did not drain within 60 s")
    markers.remove(marker)
  }

  private def restoreGroup(sc: SparkContext, g: String): Unit =
    if (g == null) sc.clearJobGroup() else sc.setJobGroup(g, "")
}

object MetricsListener {
  /** The local property Spark stores the job group under. */
  val JobGroupKey = "spark.jobGroup.id"
}

/** One closed span: a layer call made by the benchmark. */
final case class Span(id: Int, name: String, parent: Int, runId: String,
    startNs: Long, endNs: Long, rowsOut: Long) {
  def wallS: Double = (endNs - startNs) / 1e9
}

/** Records spans around layer calls. Each span runs under its own Spark job
  * group, so the listener attributes every task to the innermost open span.
  * Spans stay in memory until the caller writes them out.
  */
final class Tracer(sc: SparkContext, val runId: String) {
  private val closed = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0

  def groupOf(id: Int): String = s"linkbench/$runId/$id"

  /** Run `body` as span `name`. The body materialises its output inside
    * the span and returns it with its row count. */
  def span[T](name: String)(body: => (T, Long)): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    sc.setJobGroup(groupOf(id), name)
    val t0 = System.nanoTime()
    try {
      val (out, rows) = body
      closed += Span(id, name, parent, runId, t0, System.nanoTime(), rows)
      out
    } finally {
      stack = stack.tail
      stack.headOption match {
        case Some(p) => sc.setJobGroup(groupOf(p), "")
        case None => sc.clearJobGroup()
      }
    }
  }

  def spans: Seq[Span] = closed.toSeq
}

/** Per-name layer figures from one traced run. Task metrics are attributed
  * to the innermost span, so `cpuS`, `shuffleMb` and `spillMb` are self
  * figures; `coresBusy` divides them by self time.
  */
final case class LayerStats(name: String, calls: Int, wallS: Double,
    selfS: Double, cpuS: Double, shuffleMb: Double, spillMb: Double,
    rowsOut: Long) {
  def coresBusy: Double = if (selfS > 0) cpuS / selfS else 0.0
}

object LayerStats {
  val Mb = 1e6

  def of(spans: Seq[Span], tracer: Tracer,
      listener: MetricsListener): Seq[LayerStats] = {
    val childWall = spans.filter(_.parent >= 0).groupBy(_.parent)
      .map { case (p, cs) => p -> cs.map(_.wallS).sum }
    spans.groupBy(_.name).toSeq.sortBy(_._1).map { case (name, ss) =>
      val metrics = ss.map(s => listener.group(tracer.groupOf(s.id)))
      LayerStats(name, ss.size,
        wallS = ss.map(_.wallS).sum,
        selfS = ss.map(s => s.wallS - childWall.getOrElse(s.id, 0.0)).sum,
        cpuS = metrics.map(_._1).sum / 1e9,
        shuffleMb = metrics.map(_._2).sum / Mb,
        spillMb = metrics.map(_._3).sum / Mb,
        rowsOut = ss.map(_.rowsOut).sum)
    }
  }

  /** Wall time of the spans that have no parent: the traced run's layer
    * time, without double counting nested spans. */
  def topLevelWall(spans: Seq[Span]): Double =
    spans.filter(_.parent < 0).map(_.wallS).sum

  def spansJson(spans: Seq[Span]): java.util.List[java.util.Map[String, Any]] =
    spans.map { s =>
      Map[String, Any]("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "run_id" -> s.runId, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
        "wall_s" -> s.wallS, "rows_out" -> s.rowsOut).asJava
    }.asJava
}
