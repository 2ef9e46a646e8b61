package graftbench

import java.io.File
import java.nio.file.{Files, StandardOpenOption}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.cluster.{Permutation, Solver}
import graft.core.{ClusterMember, Edge, LinkConfig}
import graft.ingest.{ClkIO, Ingest, Page, PagesSynth}
import graft.io.{Checkpoint, Export}
import graft.jobs.LinkJob
import graft.link.{Linker, Pipeline}
import scala.util.hashing.MurmurHash3

/** Input shape of a workload: records per provider, the share of provider
  * 0's entities each other provider also holds, per-token noise of those
  * copies, and the run's similarity threshold. */
final case class Shape(sizes: Seq[Int], overlap: Double, noise: Double,
    threshold: Double) {
  def records: Long = sizes.map(_.toLong).sum
  def cfg: LinkConfig = LinkConfig(threshold)
  def scaled(div: Int): Shape = copy(sizes = sizes.map(n => math.max(n / div, 20)))
}

/** Directories of one run: generated inputs (shared by all runs of a seed),
  * the run's result, and the run's private scratch space. */
final case class RunDirs(in: File, out: File, scratch: File)

/** Counts a traced run measures at layer boundaries. */
final case class Counts(records: Long, blockRows: Long, candidates: Long,
    edges: Long, groups: Long, groupedRecords: Long)

/** One linkage run shape. `run` is the untraced run: exactly the public
  * calls a user makes, input files to written result. `traced` makes the
  * same calls in the same order, each over the persisted output of the one
  * before and materialised inside its span. */
sealed trait Workload {
  def name: String
  def shape: Shape
  def withShape(s: Shape): Workload
  def generate(spark: SparkSession, seed: Long, in: File): Unit
  /** @return the result frame, for the plan fingerprint */
  def run(spark: SparkSession, d: RunDirs): DataFrame
  def traced(spark: SparkSession, d: RunDirs, t: Tracer): Counts
  /** Full check against the benchmark's own oracle; Left names the fault. */
  def check(spark: SparkSession, seed: Long, d: RunDirs): Either[String, Unit]
  def digest(spark: SparkSession, out: File): String
}

object Workload {
  val Names: Seq[String] =
    Seq("pages_blocked_perm", "clk_allpairs_scores", "multiparty_blocked_groups")

  /** Shapes are reduced from the reference's (10K x 100K blocked, 2 x 60K
    * all-pairs) so that one run takes a few seconds on four cores and one
    * invocation, warm-up included, stays well under a minute; each keeps
    * the property that makes its workload stress its layers. The
    * multiparty threshold is 0.8 because unrelated pages already score a
    * mean Dice of 0.685 on these CLKs. */
  def apply(name: String): Workload = name match {
    case "pages_blocked_perm" =>
      PagesBlockedPerm(Shape(Seq(1000, 10000), overlap = 0.2, noise = 0.05, threshold = 0.8))
    case "clk_allpairs_scores" =>
      ClkAllPairsScores(Shape(Seq(10000, 10000), overlap = 0.5, noise = 0.05, threshold = 0.9))
    case "multiparty_blocked_groups" =>
      MultipartyBlockedGroups(Shape(Seq.fill(5)(3000), overlap = 0.75, noise = 0.1, threshold = 0.8))
    case other =>
      throw new IllegalArgumentException(
        s"unknown workload '$other'; expected one of ${Names.mkString(", ")}")
  }

  private[graftbench] def pages(spark: SparkSession, s: Shape, seed: Long): Dataset[Page] =
    PagesSynth.pages(spark, s.sizes, s.overlap, s.noise, seed)

  /** Encoded records of a seeded page corpus, collected per provider in
    * entity order: (entity_id, clk, text). */
  private[graftbench] def encoded(spark: SparkSession, s: Shape,
      seed: Long): Map[Int, Array[(Long, Array[Byte], String)]] = {
    import spark.implicits._
    Ingest.encodePages(pages(spark, s, seed))
      .select($"dp", $"entity_id", $"clk", $"text")
      .as[(Int, Long, Array[Byte], String)].collect()
      .groupBy(_._1).map { case (dp, rs) =>
        dp -> rs.sortBy(_._2).map(r => (r._2, r._3, r._4))
      }
  }

  private[graftbench] def persistCount[T](ds: Dataset[T]): (Dataset[T], Long) = {
    val p = ds.persist()
    (p, p.count())
  }
}

/** pages parquet (2 providers) -> LinkJob.run (fresh checkpoint root) ->
  * Permutation.permuteAndMask -> permutations and mask written as parquet. */
final case class PagesBlockedPerm(shape: Shape) extends Workload {
  def withShape(s: Shape): Workload = copy(shape = s)
  val name = "pages_blocked_perm"
  private def n0 = shape.sizes(0).toLong
  private def n1 = shape.sizes(1).toLong

  def generate(spark: SparkSession, seed: Long, in: File): Unit =
    Workload.pages(spark, shape, seed).write.parquet(new File(in, "pages").getPath)

  private def readPages(spark: SparkSession, d: RunDirs): Dataset[Page] = {
    import spark.implicits._
    spark.read.parquet(new File(d.in, "pages").getPath).as[Page]
  }

  def run(spark: SparkSession, d: RunDirs): DataFrame = {
    import spark.implicits._
    val clusters = LinkJob.run(spark, readPages(spark, d), shape.cfg,
      new File(d.scratch, "checkpoint").getPath)
    val (perm, mask) = Permutation.permuteAndMask(clusters.as[ClusterMember], n0, n1)
    perm.write.parquet(new File(d.out, "perm").getPath)
    mask.write.parquet(new File(d.out, "mask").getPath)
    perm
  }

  /** Replays LinkJob.run's stage graph (blocked -> edges -> clusters, each
    * committed through Checkpoint.stage) from its public parts. */
  def traced(spark: SparkSession, d: RunDirs, t: Tracer): Counts = {
    import spark.implicits._
    val cfg = shape.cfg
    val root = new File(d.scratch, "checkpoint").getPath
    def commit(stage: String, df: DataFrame,
        counters: DataFrame => Map[String, Long] = _ => Map.empty): DataFrame =
      t.span("io.checkpoint") {
        val r = Checkpoint.stage(spark, root, stage, counters)(df)
        (r.df, r.rows)
      }

    val (pages, records) = t.span("ingest.read") {
      val (p, n) = Workload.persistCount(readPages(spark, d))
      ((p, n), n)
    }
    val (blocked0, blockRows) = t.span("ingest.encode_block") {
      val (b, n) = Workload.persistCount(Ingest.encodeAndBlock(pages))
      ((b, n), n)
    }
    val blocked = commit("blocked", blocked0)
    val edges0 = t.span("link.score") {
      Workload.persistCount(Linker.scoreCandidates(blocked, cfg).toDF())
    }
    var candidates = 0L
    val edges = commit("edges", edges0, written => {
      candidates = t.span("link.count_candidates") {
        val n = Linker.totalComparisons(blocked)
        (n, 1L)
      }
      Map("pairs_generated" -> candidates, "pairs_scored" -> candidates,
        "edges_kept" -> written.count())
    })
    val nEdges = edges.count()
    require(nEdges <= cfg.maxScoredPairs && nEdges <= cfg.maxSolverPairs)
    val clusters0 = t.span("cluster.solve") {
      Workload.persistCount(Solver.solve(edges.as[Edge], cfg).toDF())
    }
    val clusters = commit("clusters", clusters0)
    val (perm, mask, permRows) = t.span("cluster.permute") {
      val (p, m) = Permutation.permuteAndMask(clusters.as[ClusterMember], n0, n1)
      val (pp, np) = Workload.persistCount(p)
      val (mm, nm) = Workload.persistCount(m)
      ((pp, mm, np + nm), np + nm)
    }
    t.span("io.export") {
      perm.write.parquet(new File(d.out, "perm").getPath)
      mask.write.parquet(new File(d.out, "mask").getPath)
      ((), permRows)
    }
    val grouped = clusters.count()
    val groups = clusters.select("clusterId").distinct().count()
    Seq(pages, blocked0, edges0, clusters0, perm, mask).foreach(_.unpersist())
    Counts(records, blockRows, candidates, nEdges, groups, grouped)
  }

  def check(spark: SparkSession, seed: Long, d: RunDirs): Either[String, Unit] = {
    import spark.implicits._
    val pages = readPages(spark, d).select($"dp", $"entity_id", $"text")
      .as[(Int, Long, String)].collect()
    val perm = spark.read.parquet(new File(d.out, "perm").getPath)
      .select($"dp", $"row_index", $"slot").as[(Int, Long, Long)].collect()
    val mask = spark.read.parquet(new File(d.out, "mask").getPath)
      .select($"slot", $"bit").as[(Long, Int)].collect()
    Oracles.checkPermutation(pages, perm, mask, n0, n1, shape.threshold)
  }

  def digest(spark: SparkSession, out: File): String = {
    import spark.implicits._
    val perm = spark.read.parquet(new File(out, "perm").getPath)
      .select($"dp", $"row_index", $"slot").as[(Int, Long, Long)].collect().sorted
    val mask = spark.read.parquet(new File(out, "mask").getPath)
      .select($"slot", $"bit").as[(Long, Int)].collect().sorted
    Oracles.sha256((perm.map(_.toString) ++ mask.map(_.toString)).mkString("\n"))
  }
}

/** Two raw binary CLK files -> default block -> Linker.scoreCandidates ->
  * Export.writeScoresCsv: the all-pairs `similarity_scores` shape. */
final case class ClkAllPairsScores(shape: Shape) extends Workload {
  def withShape(s: Shape): Workload = copy(shape = s)
  val name = "clk_allpairs_scores"
  /** One in `SampleEvery` left records is brute-forced by the oracle. */
  val SampleEvery = 8

  private def bin(in: File, dp: Int) = new File(in, s"dp$dp.bin")

  def generate(spark: SparkSession, seed: Long, in: File): Unit =
    Workload.encoded(spark, shape, seed).foreach { case (dp, rs) =>
      val out = Files.newOutputStream(bin(in, dp).toPath, StandardOpenOption.CREATE_NEW)
      try rs.foreach(r => out.write(r._2)) finally out.close()
    }

  /** Bytes per CLK, as the encoder wrote them. */
  private def encodingSize(in: File) = (bin(in, 0).length / shape.sizes.head).toInt

  private def read(spark: SparkSession, d: RunDirs) =
    shape.sizes.indices.map(dp =>
      ClkIO.readBinary(spark, bin(d.in, dp).getPath, dp, encodingSize(d.in))).reduce(_ union _)

  def run(spark: SparkSession, d: RunDirs): DataFrame = {
    val edges = Linker.scoreCandidates(Pipeline.defaultBlock(read(spark, d)), shape.cfg)
    Export.writeScoresCsv(edges, d.out.getPath)
    Export.scoresFrame(edges)
  }

  def traced(spark: SparkSession, d: RunDirs, t: Tracer): Counts = {
    val (records, n) = t.span("ingest.read") {
      val r = Workload.persistCount(read(spark, d))
      (r, r._2)
    }
    val blocked = Pipeline.defaultBlock(records)
    val (edges, nEdges) = t.span("link.score") {
      val r = Workload.persistCount(Linker.scoreCandidates(blocked, shape.cfg))
      (r, r._2)
    }
    t.span("io.export") {
      Export.writeScoresCsv(edges, d.out.getPath)
      ((), nEdges)
    }
    val candidates = Linker.totalComparisons(blocked)
    records.unpersist(); edges.unpersist()
    Counts(n, n, candidates, nEdges, 0L, 0L)
  }

  def check(spark: SparkSession, seed: Long, d: RunDirs): Either[String, Unit] = {
    val clks = shape.sizes.indices.map(dp =>
      Oracles.readFixedWidth(bin(d.in, dp), encodingSize(d.in)))
    val sample = Oracles.sample(clks(0).length, SampleEvery, seed)
    Oracles.checkScores(Oracles.partLines(d.out), clks(0), clks(1), sample,
      shape.threshold)
  }

  def digest(spark: SparkSession, out: File): String =
    Oracles.sha256(Oracles.partLines(out).mkString("\n"))
}

/** Five `clknblocks` JSON uploads with provider-supplied LSH block labels
  * -> Linker.scoreCandidates -> Solver.solve -> Export.writeGroupsJson. */
final case class MultipartyBlockedGroups(shape: Shape) extends Workload {
  def withShape(s: Shape): Workload = copy(shape = s)
  val name = "multiparty_blocked_groups"
  /** Label scheme of the providers: per band, the page's least token hash
    * (single-row MinHash) folded into `LabelBuckets` values. Folding makes
    * each band value common to many pages, so nearly every block holds
    * records of several providers, and a true match sharing several bands
    * meets in several blocks. */
  val LabelBands = 4
  val LabelBuckets = 1500

  private def labels(text: String): Seq[String] = {
    val tokens = text.split(' ').filter(_.nonEmpty)
    (0 until LabelBands).map { b =>
      val least = tokens.map(t => MurmurHash3.stringHash(t, 0x5eed + b)).minOption.getOrElse(0)
      s"b$b:${Math.floorMod(least, LabelBuckets)}"
    }
  }

  private def json(in: File, dp: Int) = new File(in, s"dp$dp.json")

  def generate(spark: SparkSession, seed: Long, in: File): Unit = {
    val enc = java.util.Base64.getEncoder
    Workload.encoded(spark, shape, seed).foreach { case (dp, rs) =>
      val rows = rs.map { case (_, clk, text) =>
        (enc.encodeToString(clk) +: labels(text))
          .map(s => "\"" + s + "\"").mkString("[", ",", "]")
      }
      Files.write(json(in, dp).toPath,
        rows.mkString("{\"clknblocks\":[", ",\n", "]}\n").getBytes("UTF-8"),
        StandardOpenOption.CREATE_NEW)
    }
  }

  private def readBlocked(spark: SparkSession, d: RunDirs): DataFrame =
    shape.sizes.indices.map(dp => ClkIO.readJson(spark, json(d.in, dp).getPath, dp))
      .reduce(_ union _)
      .select(col("dp"), col("entity_id"), col("clk"), col("popcount"),
        explode(col("blocks")).as("block_key"))

  def run(spark: SparkSession, d: RunDirs): DataFrame = {
    val edges = Linker.scoreCandidates(readBlocked(spark, d), shape.cfg)
    val clusters = Solver.solve(edges, shape.cfg)
    Export.writeGroupsJson(clusters, d.out.getPath)
    Export.groupsFrame(clusters)
  }

  def traced(spark: SparkSession, d: RunDirs, t: Tracer): Counts = {
    val (blocked, blockRows) = t.span("ingest.read") {
      val r = Workload.persistCount(readBlocked(spark, d))
      (r, r._2)
    }
    val (edges, nEdges) = t.span("link.score") {
      val r = Workload.persistCount(Linker.scoreCandidates(blocked, shape.cfg))
      (r, r._2)
    }
    val (clusters, grouped) = t.span("cluster.solve") {
      val r = Workload.persistCount(Solver.solve(edges, shape.cfg))
      (r, r._2)
    }
    t.span("io.export") {
      Export.writeGroupsJson(clusters, d.out.getPath)
      ((), grouped)
    }
    val records = blocked.select("dp", "entity_id").distinct().count()
    val candidates = Linker.totalComparisons(blocked)
    val groups = clusters.select("clusterId").distinct().count()
    blocked.unpersist(); edges.unpersist(); clusters.unpersist()
    Counts(records, blockRows, candidates, nEdges, groups, grouped)
  }

  def check(spark: SparkSession, seed: Long, d: RunDirs): Either[String, Unit] = {
    val uploads = shape.sizes.indices.map(dp => Oracles.readClknblocks(json(d.in, dp)))
    Oracles.checkGroups(Oracles.partLines(d.out), uploads, shape.threshold)
  }

  def digest(spark: SparkSession, out: File): String =
    Oracles.sha256(Oracles.partLines(out).sorted.mkString("\n"))
}
