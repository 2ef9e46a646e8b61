package graftbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's own tests: every workload at a tiny shape through the
  * same code path, corrupted outputs caught and never timed, and traced
  * runs reproducing the untraced output. */
class LinkbenchSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val work = new File("target/selftest-work").getAbsoluteFile
  private lazy val spark: SparkSession = Bench.startSession(2, work)
  private val listener = new MetricsListener
  private val seed = 7L

  override def beforeAll(): Unit = {
    Bench.deleteTree(work)
    spark.sparkContext.addSparkListener(listener)
  }

  override def afterAll(): Unit = {
    spark.stop()
    Bench.deleteTree(work)
  }

  private def tiny(name: String): Workload = {
    val w = Workload(name)
    w.withShape(w.shape.scaled(50))
  }

  private def measure(w: Workload, tamper: (Int, File) => Unit = (_, _) => ()) = {
    val (in, _) = Bench.inputs(spark, w, seed, new File(work, "data"))
    (Bench.measure(spark, listener, w, seed, in, warmInputs(w), new File(work, "runs"),
      seconds = 0, tamper), in)
  }

  private def warmInputs(w: Workload) =
    Bench.inputs(spark, Bench.warmup(w), Bench.WarmupSeed, new File(work, "data-warmup"))._1

  private def lines(f: File) =
    new String(Files.readAllBytes(f.toPath), UTF_8).linesIterator.toSeq

  /** Rewrite a text output without its first line that matches `drop`. */
  private def dropLine(out: File)(drop: String => Boolean): Unit = {
    val f = out.listFiles().filter(_.getName.startsWith("part-")).sortBy(_.getName)
      .find(lines(_).exists(drop)).get
    val kept = lines(f).patch(lines(f).indexWhere(drop), Nil, 1)
    Files.write(f.toPath, kept.map(_ + "\n").mkString.getBytes(UTF_8))
  }

  for (name <- Workload.Names) test(s"$name: tiny shape passes its oracle and repeats its digest") {
    val (m, _) = measure(tiny(name))
    assert(m.runs.map(_.index) == Seq(0, 1, 2))
    assert(m.runs.forall(_.ok), m.runs.flatMap(_.error))
    assert(m.timed.map(_.index) == Seq(2))
    assert(m.digest.nonEmpty && m.plan.nonEmpty)
  }

  test("a dropped score in the checked sample fails the oracle; nothing is timed") {
    val w = tiny("clk_allpairs_scores").asInstanceOf[ClkAllPairsScores]
    val n = w.shape.sizes.head
    val sample = Oracles.sample(n, w.SampleEvery, seed)
    val (m, _) = measure(w, (i, out) =>
      if (i == 1) dropLine(out)(l => sample(l.split(',')(0).toInt)))
    assert(m.runs(1).error.get.contains("sampled scores"))
    // without a checked reference no later run can pass either
    assert(m.runs.drop(1).forall(!_.ok) && m.timed.isEmpty)
  }

  test("a dropped group fails the oracle; a changed later run fails its digest") {
    val w = tiny("multiparty_blocked_groups")
    val (first, _) = measure(w, (i, out) => if (i == 1) dropLine(out)(_ => true))
    assert(first.runs(1).error.get.contains("groups"))
    val (later, _) = measure(w, (i, out) => if (i == 2) dropLine(out)(_ => true))
    assert(later.runs.take(2).forall(_.ok))
    assert(later.runs(2).error.get.contains("digest"))
    assert(later.timed.isEmpty)
  }

  test("a swapped permutation slot fails the oracle; nothing is timed") {
    val session = spark
    import session.implicits._
    val w = tiny("pages_blocked_perm")
    val (m, _) = measure(w, (i, out) => if (i == 1) {
      val dir = new File(out, "perm").getPath
      val perm = spark.read.parquet(dir).as[(Int, Long, Long)].collect()
      val mask = spark.read.parquet(new File(out, "mask").getPath)
        .select($"slot", $"bit").as[(Long, Int)].collect()
      // move a matched row of provider 0 onto an unmatched slot
      val set = mask.filter(_._2 == 1).map(_._1).toSet
      val a = perm.find(p => p._1 == 0 && set(p._3)).get
      val b = perm.find(p => p._1 == 0 && !set(p._3)).get
      val swapped = perm.map {
        case p if p == a => a.copy(_3 = b._3)
        case p if p == b => b.copy(_3 = a._3)
        case p => p
      }
      swapped.toSeq.toDF("dp", "row_index", "slot").write.mode("overwrite").parquet(dir + "-swapped")
      Bench.deleteTree(new File(dir))
      new File(dir + "-swapped").renameTo(new File(dir))
    })
    assert(m.runs(1).error.get.contains("matched pairs"))
    assert(m.timed.isEmpty)
  }

  test("a run that throws is counted as failed and never timed") {
    val w = tiny("clk_allpairs_scores")
    val empty = new File(work, "no-inputs")
    empty.mkdirs()
    val m = Bench.measure(spark, listener, w, seed, empty, warmInputs(w),
      new File(work, "runs"), seconds = 0)
    assert(m.runs.head.ok)
    assert(m.runs.tail.forall(_.error.exists(_.contains("threw"))))
    assert(m.timed.isEmpty)
  }

  test("disturbed runs leave the timing unless no calm run passed") {
    def run(i: Int, disturbed: Boolean, error: Option[String] = None) =
      RunSample(i, wallS = i, jobs = 1, shuffleMb = 0, spillMb = 0, cachePeakMb = 0,
        cacheLeftMb = 0, loadBefore = 0, loadAfter = 0, stealS = 0, disturbed, error)
    def timed(rs: RunSample*) = Measurement(rs, None, None, 0).timed.map(_.index)
    assert(timed(run(0, false), run(1, false), run(2, true), run(3, false)) == Seq(3))
    assert(timed(run(0, false), run(1, false), run(2, true), run(3, true)) == Seq(2, 3))
    assert(timed(run(0, false), run(1, false), run(2, true), run(3, false, Some("bad"))) == Seq(2))
  }

  private val expectedSpans = Map(
    "pages_blocked_perm" -> Set("ingest.read", "ingest.encode_block", "io.checkpoint",
      "link.score", "link.count_candidates", "cluster.solve", "cluster.permute", "io.export"),
    "clk_allpairs_scores" -> Set("ingest.read", "link.score", "io.export"),
    "multiparty_blocked_groups" -> Set("ingest.read", "link.score", "cluster.solve", "io.export"))

  for (name <- Workload.Names) test(s"$name: traced run reproduces the untraced digest") {
    val w = tiny(name)
    val (m, in) = measure(w)
    val t = Bench.trace(spark, listener, w, in, new File(work, "runs"), m.digest)
    assert(t.error.isEmpty, t.error)
    assert(t.spans.map(_.name).toSet == expectedSpans(name))
    assert(t.counts.records == w.shape.records)
    assert(t.counts.edges > 0 && t.counts.candidates >= t.counts.edges)
    val score = t.layers.find(_.name == "link.score").get
    assert(score.cpuS > 0 && score.rowsOut == t.counts.edges)
    // checkpoint commits of the pages run nest the candidate count
    if (name == "pages_blocked_perm") {
      val ckpt = t.layers.find(_.name == "io.checkpoint").get
      assert(ckpt.calls == 3 && ckpt.selfS < ckpt.wallS)
    }
  }
}
