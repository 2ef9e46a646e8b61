package graftbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** One untraced run: its figures and its verdict. A run that threw or
  * failed its check keeps `error` and never enters a timing statistic.
  * `stealS` is the CPU time the hypervisor gave to other guests during the
  * run; a run that lost more than [[Bench.MaxStealShare]] of the machine
  * to them is `disturbed`. */
final case class RunSample(index: Int, wallS: Double, jobs: Long, shuffleMb: Double,
    spillMb: Double, cachePeakMb: Double, cacheLeftMb: Double,
    loadBefore: Double, loadAfter: Double, stealS: Double, disturbed: Boolean,
    error: Option[String]) {
  def ok: Boolean = error.isEmpty
}

/** Untraced runs of one invocation. Runs 0 and 1 warm Spark's generated
  * code and the JIT and are not timed: run 0 at the reduced warm-up shape,
  * run 1 at full size. Both are checked in full against the oracle; every
  * later run must reproduce run 1's digest. */
final case class Measurement(runs: Seq[RunSample], digest: Option[String],
    plan: Option[String], checkS: Double) {
  /** Full-size runs that passed, warm or not: the sample for byte counts,
    * which do not depend on how warm the JIT is. */
  def sized: Seq[RunSample] = runs.filter(r => r.index >= 1 && r.ok)

  /** The timed runs that passed, less the disturbed ones when any other
    * passed; all of them otherwise. The sample for times. */
  def timed: Seq[RunSample] = {
    val passed = runs.filter(r => r.index >= Bench.WarmupRuns && r.ok)
    val calm = passed.filterNot(_.disturbed)
    if (calm.nonEmpty) calm else passed
  }
}

final case class TraceResult(spans: Seq[Span], layers: Seq[LayerStats],
    counts: Counts, runS: Double, error: Option[String])

object Bench {
  val Mb = 1e6

  /** Session confs as LinkJob.main sets them, with Spark's scratch space
    * kept inside the benchmark's work directory. */
  def startSession(cores: Int, work: File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-linkbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The warm-up job counted in set-up: one shuffle over every core. */
  def warmUp(spark: SparkSession): Unit =
    spark.range(0, 200000, 1, spark.sparkContext.defaultParallelism)
      .selectExpr("id % 101 AS k").groupBy("k").count().collect()

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Share of the machine's CPU time (wall x cores) that the hypervisor
    * may give to other guests during a run before the run is disturbed.
    * On the shared four-vCPU host this was measured on, calm minutes show
    * no steal at all, while bursts of 15-20% steal lasting minutes slowed
    * whole invocations by up to 70%. */
  val MaxStealShare = 0.03

  /** Timed runs keep going past `seconds`, up to this many times
    * `seconds`, while every timed run so far was disturbed. */
  val MaxStretch = 3

  /** CPU seconds stolen from this machine so far, summed over its CPUs:
    * the `steal` column of /proc/stat in 1/100 s; 0 where unavailable. */
  def stealS(): Double =
    try {
      val f = new String(Files.readAllBytes(new File("/proc/stat").toPath), UTF_8)
        .linesIterator.next().trim.split("\\s+")
      if (f(0) == "cpu" && f.length > 8) f(8).toDouble / 100 else 0.0
    } catch { case NonFatal(_) => 0.0 }

  def loadavg(): Double =
    try new String(Files.readAllBytes(new File("/proc/loadavg").toPath), UTF_8)
      .split(" ")(0).toDouble
    catch { case NonFatal(_) => -1.0 }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** Drop every cached frame and RDD, so each run starts from an empty
    * block cache and its peak and leftover bytes are its own. */
  def clearCaches(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  private def freshDirs(in: File, root: File): RunDirs = {
    deleteTree(root)
    val d = RunDirs(in, new File(root, "out"), new File(root, "scratch"))
    d.scratch.mkdirs()
    d
  }

  /** Plan text without expression ids, lambda class names and run paths,
    * so that equal plans of different runs read equal. */
  def planText(df: DataFrame, paths: Seq[File]): String = {
    val text = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExtendedMode)
    val noPaths = paths.foldLeft(text)((s, p) => s.replace(p.getAbsolutePath, "<dir>")
      .replace(p.toURI.toString.stripSuffix("/"), "<dir>"))
    noPaths.replaceAll("#\\d+L?", "#").replaceAll("plan_id=\\d+", "")
      .replaceAll("Lambda\\$\\d+/0x[0-9a-f]+@[0-9a-f]+", "Lambda")
  }

  /** Generated inputs of (workload, seed), made once and reused; returns
    * the input directory and the seconds spent generating (0 on reuse). */
  def inputs(spark: SparkSession, w: Workload, seed: Long, data: File): (File, Double) = {
    val dir = new File(data, s"${w.name}/seed-$seed")
    val done = new File(dir, "_DONE")
    if (done.exists()) return (dir, 0.0)
    deleteTree(dir)
    dir.mkdirs()
    val t0 = System.nanoTime()
    w.generate(spark, seed, dir)
    Files.write(done.toPath, Array.emptyByteArray)
    // keep the inputs of the few most recent seeds only
    Option(dir.getParentFile.listFiles()).getOrElse(Array.empty[File])
      .sortBy(-_.lastModified()).drop(4).foreach(deleteTree)
    (dir, (System.nanoTime() - t0) / 1e9)
  }

  /** Untimed runs before the timed ones. Measured on four cores, the first
    * full-size run of a fresh JVM takes about twice the steady time and
    * the second still a fifth more. A first run at a twentieth of the
    * shape warms nearly as well for much less: the full-size run after it
    * is within a few percent of the runs that follow. */
  val WarmupRuns = 2
  val WarmupDiv = 20
  val WarmupSeed = 0L

  def warmup(w: Workload): Workload = w.withShape(w.shape.scaled(WarmupDiv))

  /** The warm-up runs, then timed runs until `seconds` have passed, or
    * longer while no timed run was calm (see [[MaxStretch]]).
    * `warmIn` holds the inputs of [[warmup]]`(w)` for [[WarmupSeed]].
    * `tamper` lets the self-tests corrupt run i's output before its check. */
  def measure(spark: SparkSession, listener: MetricsListener, w: Workload,
      seed: Long, in: File, warmIn: File, runs: File, seconds: Double,
      tamper: (Int, File) => Unit = (_, _) => ()): Measurement = {
    val sc = spark.sparkContext
    var reference: Option[String] = None
    var plan: Option[String] = None
    var checkS = 0.0

    def once(i: Int): RunSample = {
      val (wl, wlSeed, input) =
        if (i == 0) (warmup(w), WarmupSeed, warmIn) else (w, seed, in)
      val d = freshDirs(input, new File(runs, s"run-$i"))
      clearCaches(spark)
      val load0 = loadavg()
      val steal0 = stealS()
      listener.flush(sc)
      val (_, shuffle0, spill0) = listener.total.snapshot
      val jobs0 = listener.jobs
      listener.resetPeak()
      val t0 = System.nanoTime()
      val result =
        try Right(wl.run(spark, d))
        catch { case NonFatal(e) => Left(s"run threw: $e") }
      val wall = (System.nanoTime() - t0) / 1e9
      listener.flush(sc)
      val (_, shuffle1, spill1) = listener.total.snapshot
      val jobs = listener.jobs - jobs0 - 1 // less the flush marker
      val (peak, left) = (listener.peak, listener.cached)
      val load1 = loadavg()
      val stolen = stealS() - steal0
      tamper(i, d.out)
      val verdict = result.flatMap { df =>
        if (i < WarmupRuns) {
          val c0 = System.nanoTime()
          val v = wl.check(spark, wlSeed, d)
          if (i == 1) checkS = (System.nanoTime() - c0) / 1e9
          v.map { _ =>
            if (i == 1) {
              reference = Some(w.digest(spark, d.out))
              plan = Some(planText(df, Seq(d.out, d.scratch, in)))
            }
          }
        } else reference match {
          case None => Left("no checked reference output (run 1 failed)")
          case Some(ref) =>
            if (w.digest(spark, d.out) == ref) Right(())
            else Left("output digest differs from the checked run 1")
        }
      }
      verdict.left.foreach(e => System.err.println(s"[linkbench] ${w.name} run $i FAILED: $e"))
      deleteTree(new File(runs, s"run-$i"))
      RunSample(i, wall, jobs, (shuffle1 - shuffle0) / Mb, (spill1 - spill0) / Mb,
        peak / Mb, left / Mb, load0, load1, stolen,
        stolen > MaxStealShare * wall * sc.defaultParallelism, verdict.left.toOption)
    }

    val samples = mutable.ArrayBuffer.tabulate(WarmupRuns)(once)
    val loopStart = System.nanoTime()
    def elapsed = (System.nanoTime() - loopStart) / 1e9
    def calm = samples.exists(r => r.index >= WarmupRuns && r.ok && !r.disturbed)
    do samples += once(samples.size)
    while (elapsed < seconds || (!calm && elapsed < MaxStretch * seconds))
    Measurement(samples.toSeq, reference, plan, checkS)
  }

  /** One traced run; its output must reproduce the untraced digest. */
  def trace(spark: SparkSession, listener: MetricsListener, w: Workload,
      in: File, runs: File, reference: Option[String]): TraceResult = {
    val d = freshDirs(in, new File(runs, "traced"))
    clearCaches(spark)
    val tracer = new Tracer(spark.sparkContext, s"${w.name}-traced")
    val t0 = System.nanoTime()
    val counts =
      try Right(w.traced(spark, d, tracer))
      catch { case NonFatal(e) => Left(s"traced run threw: $e") }
    val runS = (System.nanoTime() - t0) / 1e9
    listener.flush(spark.sparkContext)
    val verdict = counts.flatMap { _ =>
      if (reference.contains(w.digest(spark, d.out))) Right(())
      else Left("traced output digest differs from the untraced run")
    }
    verdict.left.foreach(e => System.err.println(s"[linkbench] ${w.name} traced FAILED: $e"))
    deleteTree(d.out.getParentFile)
    TraceResult(tracer.spans, LayerStats.of(tracer.spans, tracer, listener),
      counts.getOrElse(Counts(0, 0, 0, 0, 0, 0)), runS, verdict.left.toOption)
  }
}

/** Command line: --workload NAME --seed N --seconds S --trace 0|1
  * --work DIR [--source ID]. Prints one JSON result as its last stdout
  * line; writes the full report and the spans under DIR/reports. */
object Main {

  /** The layer spans, named after module and public call. */
  val SpanNames: Seq[String] = Seq("ingest.read", "ingest.encode_block",
    "io.checkpoint", "link.count_candidates", "link.score", "cluster.solve",
    "cluster.permute", "io.export")

  /** Session starts measured; set-up time is their median. */
  val SetupReps = 3

  private val json = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = opts.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    val w = Workload(need("workload"))
    val seed = need("seed").toLong
    val seconds = need("seconds").toDouble
    val traced = need("trace") match {
      case "0" => false
      case "1" => true
      case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, not $t")
    }
    val work = new File(need("work")).getAbsoluteFile
    val cores = Runtime.getRuntime.availableProcessors()

    val setups = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (r <- 1 to SetupReps) {
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = Bench.startSession(cores, work)
      Bench.warmUp(spark)
      setups += (System.nanoTime() - t0) / 1e9
    }
    val listener = new MetricsListener
    spark.sparkContext.addSparkListener(listener)
    try {
      val (in, genS) = Bench.inputs(spark, w, seed, new File(work, "data"))
      val (warmIn, _) = Bench.inputs(spark, Bench.warmup(w), Bench.WarmupSeed,
        new File(work, "data-warmup"))
      val runs = new File(work, "runs")
      val m = Bench.measure(spark, listener, w, seed, in, warmIn, runs, seconds)
      val tr = if (traced) Some(Bench.trace(spark, listener, w, in, runs, m.digest)) else None
      report(w, seed, cores, opts.getOrElse("source", "unknown"), spark, setups.toSeq,
        genS, m, tr, new File(work, s"reports/${w.name}-seed$seed-trace${if (traced) 1 else 0}.json"))
    } finally spark.stop()
  }

  private def metric(v: Double, unit: String) =
    Map[String, Any]("value" -> v, "unit" -> unit).asJava

  private def metricsJson(ms: Seq[(String, Double, String)]) = {
    val out = new java.util.LinkedHashMap[String, Any]()
    ms.foreach { case (n, v, u) => out.put(n, metric(v, u)) }
    out
  }

  def e2eMetrics(w: Workload, setups: Seq[Double], m: Measurement): Seq[(String, Double, String)] = {
    val t = m.timed
    val runS = Bench.median(t.map(_.wallS))
    Seq(
      ("run_s", runS, "s"),
      ("records_per_s", w.shape.records / runS, "1/s"),
      ("setup_s", Bench.median(setups), "s"),
      ("shuffle_mb", Bench.median(m.sized.map(_.shuffleMb)), "MB"),
      ("cache_peak_mb", Bench.median(m.sized.map(_.cachePeakMb)), "MB"))
  }

  def layerMetrics(m: Measurement, tr: TraceResult): Seq[(String, Double, String)] = {
    val t = m.timed
    val byName = tr.layers.map(l => l.name -> l).toMap
    val spans = SpanNames.flatMap { n =>
      val l = byName.getOrElse(n, LayerStats(n, 0, 0, 0, 0, 0, 0, 0))
      Seq((s"$n.wall_s", l.wallS, "s"), (s"$n.self_s", l.selfS, "s"),
        (s"$n.cpu_s", l.cpuS, "s"), (s"$n.cores_busy", l.coresBusy, "cores"),
        (s"$n.shuffle_mb", l.shuffleMb, "MB"), (s"$n.spill_mb", l.spillMb, "MB"),
        (s"$n.rows_out", l.rowsOut.toDouble, "rows"))
    }
    val c = tr.counts
    val scoreWall = byName.get("link.score").map(_.wallS).getOrElse(0.0)
    val untracedRunS = Bench.median(t.map(_.wallS))
    spans ++ Seq(
      ("ingest.records", c.records.toDouble, "count"),
      ("ingest.block_rows", c.blockRows.toDouble, "count"),
      ("link.candidates", c.candidates.toDouble, "count"),
      ("link.edges", c.edges.toDouble, "count"),
      ("link.kept_ratio", if (c.candidates > 0) c.edges.toDouble / c.candidates else 0.0, "ratio"),
      ("link.pairs_per_s", if (scoreWall > 0) c.candidates / scoreWall else 0.0, "1/s"),
      ("cluster.groups", c.groups.toDouble, "count"),
      ("cluster.grouped_records", c.groupedRecords.toDouble, "count"),
      ("trace.overhead_s", LayerStats.topLevelWall(tr.spans) - untracedRunS, "s"),
      ("spill_mb", Bench.median(m.sized.map(_.spillMb)), "MB"),
      ("cache_left_mb", Bench.median(m.sized.map(_.cacheLeftMb)), "MB"),
      ("failed_frac", m.runs.count(!_.ok).toDouble / m.runs.size, "ratio"),
      ("run_samples", t.size.toDouble, "count"),
      ("run_disturbed", m.runs.count(r => r.index >= Bench.WarmupRuns && r.disturbed).toDouble,
        "count"))
  }

  private def report(w: Workload, seed: Long, cores: Int, source: String,
      spark: SparkSession, setups: Seq[Double], genS: Double, m: Measurement,
      tr: Option[TraceResult], file: File): Unit = {
    val attempted = m.runs.size + tr.size
    val failed = m.runs.count(!_.ok) + tr.count(_.error.nonEmpty)
    if (m.timed.isEmpty)
      throw new IllegalStateException(s"${w.name}: no timed run passed its check")
    val metrics = tr match {
      case None => e2eMetrics(w, setups, m)
      case Some(t) => layerMetrics(m, t)
    }
    val volatile = "(?i).*(\\.id|time|port|host|dir)$".r
    val conf = spark.sparkContext.getConf.getAll
      .filterNot { case (k, _) => volatile.matches(k) }.sorted
    val context = Map[String, Any](
      "workload" -> w.name, "seed" -> seed, "nproc" -> cores,
      "jdk" -> System.getProperty("java.version"), "spark" -> spark.version,
      "source" -> source,
      "conf_fingerprint" -> Oracles.sha256(conf.map { case (k, v) => s"$k=$v" }.mkString("\n")),
      "plan_hash" -> m.plan.map(Oracles.sha256).getOrElse(""),
      "plan" -> m.plan.getOrElse(""),
      "input_records" -> w.shape.records,
      "gen_s" -> genS, "check_s" -> m.checkS,
      "setup_samples_s" -> setups.asJava)
    val runs = m.runs.map(r => Map[String, Any]("index" -> r.index, "wall_s" -> r.wallS,
      "spark_jobs" -> r.jobs,
      "shuffle_mb" -> r.shuffleMb, "spill_mb" -> r.spillMb,
      "cache_peak_mb" -> r.cachePeakMb, "cache_left_mb" -> r.cacheLeftMb,
      "loadavg_before" -> r.loadBefore, "loadavg_after" -> r.loadAfter,
      "steal_s" -> r.stealS, "disturbed" -> r.disturbed,
      "error" -> r.error.orNull).asJava)
    val full = mutable.LinkedHashMap[String, Any]("context" -> context.asJava,
      "runs" -> runs.asJava,
      "metrics" -> metricsJson(metrics))
    tr.foreach { t =>
      full("trace") = Map[String, Any]("run_s" -> t.runS,
        "span_wall_s" -> LayerStats.topLevelWall(t.spans),
        "untraced_run_s" -> Bench.median(m.timed.map(_.wallS)),
        "error" -> t.error.orNull,
        "spans" -> LayerStats.spansJson(t.spans)).asJava
    }
    file.getParentFile.mkdirs()
    json.writerWithDefaultPrettyPrinter().writeValue(file, full.asJava)

    System.err.println(s"[linkbench] ${w.name} seed=$seed nproc=$cores jdk=${context("jdk")} " +
      s"spark=${spark.version} source=$source plan=${context("plan_hash")}")
    System.err.println(s"[linkbench] run walls s: ${m.runs.map(r => f"${r.wallS}%.3f" +
      (if (r.ok) "" else "!") + (if (r.disturbed) "~" else "")).mkString(" ")}")
    System.err.println(f"[linkbench] runs: ${m.timed.size} timed of ${m.runs.size}, " +
      f"setup ${setups.map(s => f"$s%.3f").mkString("/")} s, gen $genS%.1f s, check ${m.checkS}%.1f s")
    tr.foreach { t =>
      System.err.println(f"[linkbench] trace: layer spans sum to ${LayerStats.topLevelWall(t.spans)}%.3f s, " +
        f"traced run ${t.runS}%.3f s, untraced median ${Bench.median(m.timed.map(_.wallS))}%.3f s")
      t.layers.foreach(l => System.err.println(f"[linkbench]   ${l.name}%-22s x${l.calls} " +
        f"wall ${l.wallS}%.3f self ${l.selfS}%.3f cpu ${l.cpuS}%.3f busy ${l.coresBusy}%.2f " +
        f"shuffle ${l.shuffleMb}%.2f MB rows ${l.rowsOut}"))
    }
    System.err.println(s"[linkbench] report: $file")
    val line = mutable.LinkedHashMap[String, Any]("correct" -> (failed == 0),
      "attempted" -> attempted, "failed" -> failed,
      "metrics" -> metricsJson(metrics))
    println(json.writeValueAsString(line.asJava))
  }
}
