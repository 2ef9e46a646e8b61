package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.GraftSqlBridge

/** Column-level entry points for the custom Catalyst expressions. */
package object expr {
  private def col(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    GraftSqlBridge.column(e)
  private def ex(c: Column) = GraftSqlBridge.expression(c)

  /** Set-bit count of a binary column. */
  def popcount(c: Column): Column = col(Popcount(ex(c)))

  /** `c`, wrapped so a filter on it stays ABOVE the projection computing
    * it: PushDownPredicates only pushes a filter through an
    * all-deterministic projection, and without the wrapper Catalyst
    * substitutes the expression into the filter and evaluates it twice
    * per row. The wrapper is a value-preserving nondeterministic branch —
    * the condition is always true and the value is bit-identical. */
  def pinAbove(c: Column): Column = {
    import org.apache.spark.sql.functions.{monotonically_increasing_id, when}
    when(monotonically_increasing_id() >= 0, c)
  }

  /** Dice coefficient of two binary columns. */
  def dice(a: Column, b: Column): Column = col(DiceSimilarity(ex(a), ex(b)))

  /** Dice with precomputed popcount-sum column (hot-join form). */
  def dicePre(a: Column, b: Column, pcSum: Column): Column =
    col(DiceSimilarityPre(ex(a), ex(b), ex(pcSum)))

  /** Allocation-free dot product of two array<double> columns. */
  def dotProduct(a: Column, b: Column): Column = col(DotProduct(ex(a), ex(b)))

  /** Merge-scan intersection size of two sorted array<long> columns. */
  def sortedIntersectCount(a: Column, b: Column): Column =
    col(SortedIntersectCount(ex(a), ex(b)))

  /** Sorted distinct 64-bit hashes of a text's character n-grams. */
  def hashedCharNgrams(text: Column, n: Int): Column =
    col(HashedCharNgrams(ex(text),
      ex(org.apache.spark.sql.functions.lit(n))))

  /** L2 norm of an array<double> column. */
  def vectorNorm(a: Column): Column = col(VectorNorm(ex(a)))

  /** Jaro-Winkler similarity of two string columns. */
  def jaroWinkler(a: Column, b: Column): Column =
    col(JaroWinklerSimilarity(ex(a), ex(b)))

  /** Fused SoftTF-IDF contribution sum of two array<struct<t,w>> weight
    * lists (packed JW argmax, exact fixed point — see SoftTfidfSum). */
  def softTfidfSum6(wl0: Column, wl1: Column, theta6: Long): Column =
    col(SoftTfidfSum(ex(wl0), ex(wl1), theta6))

  /** Shared-key min-sum of two string->long tf map columns (the
    * weighted-Jaccard numerator; see TfMinSumShared). */
  def tfMinSumShared(a: Column, b: Column): Column =
    col(TfMinSumShared(ex(a), ex(b)))

  /** Banded Levenshtein (Spark built-in `levenshtein(l, r, k)` semantics:
    * exact distance when <= k, else -1) — fast ASCII band kernel. */
  def levenshteinBand(a: Column, b: Column, k: Int): Column =
    col(LevenshteinBand(ex(a), ex(b), k))

  /** True Damerau-Levenshtein distance of two string columns. */
  def damerauLevenshtein(a: Column, b: Column): Column =
    col(DamerauLevenshtein(ex(a), ex(b)))

  /** 16-bit Morton code of two pre-quantized 8-bit int columns. */
  def morton16(x: Column, y: Column): Column =
    col(MortonInterleave(ex(x), ex(y)))

  /** Hamming bit-sampling LSH band keys of a packed array<long> CLK. */
  def hammingLshKeys(words: Column, bands: Int, bitsPerBand: Int,
      nBits: Int = 1024): Column =
    col(HammingLshKeys(ex(words), bands, bitsPerBand, nBits))

  /** Bloom build side: k probe positions of a long hash column. */
  def bloomPositions(h: Column, k: Int, mBits: Long): Column =
    col(BloomPositions(ex(h), k, mBits))

  /** Bloom probe side: membership of a long hash column in driver-built
    * filter words (false = definitely absent). */
  def bloomMightContain(h: Column, bits: Array[Long], k: Int,
      mBits: Long): Column =
    col(BloomMightContain(ex(h), bits, k, mBits))

  /** Register all SQL names on a live session (same surface as
    * [[GraftExtensions]] gives a session built `.withExtensions`). */
  def registerAll(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction("popcount", es => Popcount(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("dice", es => DiceSimilarity(es(0), es(1)), "scala_udf")
    reg.createOrReplaceTempFunction("dice_pre", es => DiceSimilarityPre(es(0), es(1), es(2)), "scala_udf")
    reg.createOrReplaceTempFunction("dot_product", es => DotProduct(es(0), es(1)), "scala_udf")
    reg.createOrReplaceTempFunction("vector_norm", es => VectorNorm(es.head), "scala_udf")
    reg.createOrReplaceTempFunction("sorted_intersect_count",
      es => SortedIntersectCount(es(0), es(1)), "scala_udf")
    reg.createOrReplaceTempFunction("hashed_char_ngrams",
      es => HashedCharNgrams(es(0), es(1)), "scala_udf")
    reg.createOrReplaceTempFunction("jaro_winkler",
      es => JaroWinklerSimilarity(es(0), es(1)), "scala_udf")
    reg.createOrReplaceTempFunction("damerau_levenshtein",
      es => DamerauLevenshtein(es(0), es(1)), "scala_udf")
  }
}
