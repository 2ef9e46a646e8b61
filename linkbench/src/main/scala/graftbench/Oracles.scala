package graftbench

import java.io.File
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import com.fasterxml.jackson.databind.ObjectMapper
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Output oracles written apart from the engine: they read the benchmark's
  * input files and the run's written result with plain JVM code and
  * recompute the expected result by brute force. The one engine call they
  * share is the per-record encoder and LSH key function for pages (the
  * pages corpus arrives as text); everything after encoding (blocking,
  * scoring, dedup, solving, permutation) is recomputed here.
  */
object Oracles {

  type Node = (Int, Long)

  private val json = new ObjectMapper()

  def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(s.getBytes(UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString

  /** Lines of a Spark text output directory, part files in name order. */
  def partLines(dir: File): Seq[String] = {
    val parts = Option(dir.listFiles()).getOrElse(Array.empty[File])
      .filter(f => f.getName.startsWith("part-")).sortBy(_.getName)
    parts.toSeq.flatMap(f => Files.readAllLines(f.toPath, UTF_8).asScala)
      .filter(_.nonEmpty)
  }

  /** A CLK as 64-bit words (byte order is irrelevant to AND-popcount). */
  def words(clk: Array[Byte]): Array[Long] = {
    require(clk.length % 8 == 0, s"CLK of ${clk.length} bytes is not a multiple of 8")
    val b = ByteBuffer.wrap(clk)
    Array.fill(clk.length / 8)(b.getLong)
  }

  def popcount(w: Array[Long]): Int = w.map(java.lang.Long.bitCount).sum

  /** Sørensen–Dice coefficient 2|a∧b| / (|a| + |b|). */
  def dice(a: Array[Long], b: Array[Long]): Double = dice(a, popcount(a), b, popcount(b))

  def dice(a: Array[Long], pa: Int, b: Array[Long], pb: Int): Double = {
    var inter = 0
    var i = 0
    while (i < a.length) { inter += java.lang.Long.bitCount(a(i) & b(i)); i += 1 }
    if (pa + pb == 0) 0.0 else 2.0 * inter / (pa + pb)
  }

  /** Records of a raw fixed-width CLK file, entity id = position. */
  def readFixedWidth(f: File, size: Int): Array[Array[Long]] = {
    val bytes = Files.readAllBytes(f.toPath)
    require(bytes.length % size == 0, s"$f: ${bytes.length} bytes is not a multiple of $size")
    Array.tabulate(bytes.length / size)(i =>
      words(java.util.Arrays.copyOfRange(bytes, i * size, (i + 1) * size)))
  }

  /** A `clknblocks` upload: per record, its CLK and block labels. */
  def readClknblocks(f: File): Array[(Array[Long], Seq[String])] = {
    val dec = java.util.Base64.getDecoder
    json.readTree(f).get("clknblocks").elements().asScala.map { rec =>
      val fields = rec.elements().asScala.map(_.asText()).toSeq
      (words(dec.decode(fields.head)), fields.tail)
    }.toArray
  }

  /** A seeded sample of `n / every` distinct indices below `n`. */
  def sample(n: Int, every: Int, seed: Long): Set[Int] =
    new scala.util.Random(seed).shuffle((0 until n).toVector).take(math.max(1, n / every)).toSet

  /** Brute force over every cross-provider pair that shares a block:
    * deduplicated edges (sim, lower node, higher node) with sim >= t. */
  def inBlockEdges(records: Map[Node, (Array[Long], Seq[String])],
      t: Double): Seq[(Double, Node, Node)] = {
    val blocks = mutable.HashMap.empty[String, mutable.ArrayBuffer[Node]]
    records.foreach { case (n, (_, keys)) =>
      keys.distinct.foreach(k => blocks.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += n)
    }
    val edges = mutable.HashMap.empty[(Node, Node), Double]
    blocks.valuesIterator.foreach { members =>
      for (i <- members.indices; j <- members.indices) {
        val (u, v) = (members(i), members(j))
        if (u._1 < v._1 && !edges.contains((u, v))) {
          val s = dice(records(u)._1, records(v)._1)
          if (s >= t) edges((u, v)) = s
        }
      }
    }
    edges.toSeq.map { case ((u, v), s) => (s, u, v) }
  }

  /** Wire order of the solvers: similarity descending, then node ids. */
  private def greedyOrder(edges: Seq[(Double, Node, Node)]) =
    edges.sortBy { case (s, u, v) => (-s, u._1, u._2, v._1, v._2) }

  /** Greedy 2-party matching: accept a pair iff both ends are unmatched. */
  def greedyMatching(edges: Seq[(Double, Node, Node)]): Set[(Long, Long)] = {
    val used = mutable.HashSet.empty[Node]
    greedyOrder(edges).collect {
      case (_, u, v) if !used(u) && !used(v) =>
        used += u; used += v
        (u._2, v._2)
    }.toSet
  }

  /** Greedy multi-party groups: pairs in wire order; two groups (or a
    * group and a record) join only when every cross pair between them is
    * itself a candidate pair. */
  def greedyGroups(edges: Seq[(Double, Node, Node)]): Set[Set[Node]] = {
    def key(a: Node, b: Node) = if (Ordering[Node].lteq(a, b)) (a, b) else (b, a)
    val candidate = edges.map(e => key(e._2, e._3)).toSet
    val groupOf = mutable.HashMap.empty[Node, mutable.Set[Node]]
    def compatible(g: Iterable[Node], h: Iterable[Node]) =
      g.forall(x => h.forall(y => candidate(key(x, y))))
    greedyOrder(edges).foreach { case (_, u, v) =>
      (groupOf.get(u), groupOf.get(v)) match {
        case (None, None) =>
          val g = mutable.Set(u, v)
          groupOf(u) = g; groupOf(v) = g
        case (Some(g), None) if compatible(g, Seq(v)) =>
          g += v; groupOf(v) = g
        case (None, Some(h)) if compatible(Seq(u), h) =>
          h += u; groupOf(u) = h
        case (Some(g), Some(h)) if (g ne h) && compatible(g, h) =>
          g ++= h; h.foreach(groupOf(_) = g)
        case _ =>
      }
    }
    groupOf.values.map(_.toSet).toSet
  }

  private def diff[T](what: String, got: Set[T], want: Set[T]): Either[String, Unit] =
    if (got == want) Right(())
    else Left(s"$what: ${got.size} in output, ${want.size} expected; " +
      s"missing e.g. ${(want -- got).take(3).mkString(" ")}; " +
      s"unexpected e.g. ${(got -- want).take(3).mkString(" ")}")

  /** Scores CSV (`rec0,rec1,sim`): wire order non-increasing in sim, every
    * sim at or above t, no pair twice, and for the sampled left records the
    * exact (rec0, rec1, sim) set of an all-pairs brute force. */
  def checkScores(lines: Seq[String], left: Array[Array[Long]],
      right: Array[Array[Long]], sample: Set[Int], t: Double): Either[String, Unit] = {
    val rows = lines.map(_.split(',')).map {
      case Array(a, b, s) => (a.toLong, b.toLong, s.toDouble)
      case f => return Left(s"malformed scores line '${f.mkString(",")}'")
    }
    val orderFault = rows.indices.drop(1).find(i => rows(i)._3 > rows(i - 1)._3)
    if (orderFault.nonEmpty)
      return Left(s"wire order rises at line ${orderFault.get}")
    rows.find(r => r._3 < t || r._1 < 0 || r._1 >= left.length || r._2 < 0 || r._2 >= right.length)
      .foreach(r => return Left(s"row out of range or below threshold: $r"))
    if (rows.map(r => (r._1, r._2)).distinct.size != rows.size)
      return Left("a pair appears twice")
    val rightPc = right.map(popcount)
    val want = sample.toSeq.flatMap { a =>
      val pa = popcount(left(a))
      right.indices.iterator.map(b => (a.toLong, b.toLong, dice(left(a), pa, right(b), rightPc(b))))
        .filter(_._3 >= t)
    }.toSet
    diff("sampled scores", rows.filter(r => sample(r._1.toInt)).toSet, want)
  }

  /** Groups JSON lines against in-block brute force plus greedy solve. */
  def checkGroups(lines: Seq[String], uploads: Seq[Array[(Array[Long], Seq[String])]],
      t: Double): Either[String, Unit] = {
    val got = lines.map { l =>
      json.readTree(l).get("group").elements().asScala
        .map(m => (m.get(0).asInt(), m.get(1).asLong())).toSet
    }
    if (got.toSet.size != got.size) return Left("a group appears twice")
    val records = (for {
      (recs, dp) <- uploads.zipWithIndex
      (r, id) <- recs.zipWithIndex
    } yield (dp, id.toLong) -> r).toMap
    diff("groups", got.toSet, greedyGroups(inBlockEdges(records, t)))
  }

  /** Permutations and mask: each permutation a bijection on its provider's
    * rows, the mask as long as the smaller provider with one set bit per
    * match, and the pairs sharing a set slot equal to a greedy 2-party
    * matching over in-block brute force. Pages are encoded and LSH-keyed
    * with the engine's per-record functions and default parameters. */
  def checkPermutation(pages: Seq[(Int, Long, String)], perm: Seq[(Int, Long, Long)],
      mask: Seq[(Long, Int)], n0: Long, n1: Long, t: Double): Either[String, Unit] = {
    for ((dp, n) <- Seq(0 -> n0, 1 -> n1)) {
      val side = perm.filter(_._1 == dp)
      val rowsOk = side.map(_._2).toSet == (0L until n).toSet && side.size == n
      val slotsOk = side.map(_._3).toSet == (0L until n).toSet
      if (!rowsOk || !slotsOk) return Left(s"permutation of provider $dp is not a bijection on [0, $n)")
    }
    val smaller = math.min(n0, n1)
    if (mask.map(_._1).toSet != (0L until smaller).toSet || mask.size != smaller ||
        mask.exists(m => m._2 != 0 && m._2 != 1))
      return Left(s"mask is not a 0/1 vector over [0, $smaller)")
    val keyed = new Array[(Node, (Array[Long], Seq[String]))](pages.size)
    java.util.stream.IntStream.range(0, pages.size).parallel().forEach { i =>
      val (dp, id, text) = pages(i)
      keyed(i) = (dp, id) -> (words(graft.ingest.ClkEncoder.encode(text)),
        graft.ingest.Blocking.lshKeys(text).toSeq)
    }
    val records = keyed.toMap
    val want = greedyMatching(inBlockEdges(records, t))
    val slotOf = perm.map(p => (p._1, p._3) -> p._2).toMap
    val got = mask.filter(_._2 == 1).map(m => (slotOf((0, m._1)), slotOf((1, m._1))))
    if (got.size != want.size)
      return Left(s"mask has ${got.size} set bits for ${want.size} matches")
    diff("matched pairs", got.toSet, want)
  }
}
