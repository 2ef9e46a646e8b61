package graft.link

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The salting decision of every pair generator: the linkage chunker
  * (graft.link.Linker) and the generic dedup pair generator
  * (graft.dedup.Dedup.saltedSelfPairs) both size, assign and join their
  * salts here — the reference's square work packages
  * (`comparing.py:102-170`) as two-sided salting.
  *
  * A block/bucket of n rows needs fan-out needK = ceil(n / sqrt(aim)) so
  * that one chunk pair carries at most ~aim comparisons. A single salt
  * digit was previously capped at 4096 — a 10^9-row block needs
  * needK ~ 62500, so the cap silently under-split and one task carried
  * ~250x the aim. The fan-out is now COMPOSITE: two digits
  * (k1 = min(needK, maxK), k2 = ceil(needK / k1), each <= maxK,
  * effective k = k1*k2 >= needK up to maxK^2 = 16.7M ~ 10^13-row blocks),
  * materialized as two chained explodes so no row ever builds a
  * sequence array longer than maxK. k2 = 1 for every block below the
  * old cap — the normal path is unchanged.
  */
object Salting {

  /** Floor of [[adaptiveAim]]: stops small jobs from over-salting (a 100K
    * floor was measured to slow the FS family ~1 s: 16 salt cells per
    * uniform 800-row bucket, 4x join-input replication for nothing). */
  private val MinAim: Long = 1000000L

  /** Per-task comparison aim adapted to the job size: when the WHOLE job
    * (`totalPairs`, an upper bound on Σ n² over the buckets) is smaller
    * than aim·parallelism, a fixed aim leaves the comparison work in a
    * handful of bucket-keyed tasks — measured round 6: 25 brand buckets
    * hashed into 32 partitions put 2-3 buckets on one core while half
    * the box idled. Effective tasks ~= totalPairs/(2·aim) (one
    * orientation of the k² chunk pairs survives) -> divisor 6 targets ~3
    * waves per core; big jobs (totalPairs >= 6·parallelism·aim) keep the
    * caller's aim, so scale behavior and shuffle replication are
    * unchanged where they matter. Integer arithmetic on a long column: a
    * literal for a driver-side total, or a plan-side scalar. */
  def adaptiveAim(spark: SparkSession, totalPairs: Column, aim: Long): Column = {
    val parallelism = math.max(spark.sparkContext.defaultParallelism, 1)
    greatest(lit(MinAim),
      least(lit(aim), call_function("div", totalPairs, lit(6L * parallelism)) + 1))
  }

  /** (k1, k2) fan-out columns from a bucket-size column `n`. The aim is a
    * column so a pair generator can derive it from job-size statistics
    * inside the plan (scalar-broadcast total) instead of a driver action;
    * with a literal aim it constant-folds to the same IEEE sqrt / ceil as
    * [[fanoutScala]]. */
  def fanout(n: Column, aim: Column, maxK: Int): (Column, Column) = {
    val needK = greatest(ceil(n.cast("double") / sqrt(aim.cast("double"))),
      lit(1L))
    val k1 = least(needK, lit(maxK.toLong)).cast("int")
    val k2 = least(ceil(needK.cast("double") / k1), lit(maxK.toLong)).cast("int")
    (k1, k2)
  }

  /** Scala mirror of [[fanout]] for property tests. */
  def fanoutScala(n: Long, aim: Long, maxK: Int): (Int, Int) = {
    val needK = math.max(math.ceil(n / math.sqrt(aim.toDouble)).toLong, 1L)
    val k1 = math.min(needK, maxK.toLong).toInt
    val k2 = math.min(math.ceil(needK.toDouble / k1).toLong, maxK.toLong).toInt
    (k1, k2)
  }

  /** Salts `df` for [[pairJoin]]: the per-bucket fan-out comes from
    * `stats` (columns `key`, `n`, plus whatever `aim` reads) and each row
    * gets k1, k2 and s = hash(hashed) mod k1·k2. Only SKEWED buckets
    * (k > 1 — typically few) ride the broadcast; bucket-key cardinality
    * can be O(rows) at scale (exploded LSH bands), so normal buckets
    * default to k = 1 via the left join. */
  def salt(df: DataFrame, stats: DataFrame, key: String, aim: Column,
      maxK: Int, hashed: Column*): DataFrame = {
    val (k1, k2) = fanout(col("n"), aim, maxK)
    val skewed = stats.select(col(key), k1.as("k1"), k2.as("k2"))
      .where(col("k1") > 1 || col("k2") > 1)
    df.join(broadcast(skewed), Seq(key), "left")
      .withColumn("k1", coalesce(col("k1"), lit(1)))
      .withColumn("k2", coalesce(col("k2"), lit(1)))
      .withColumn("s",
        pmod(xxhash64(hashed: _*), (col("k1") * col("k2")).cast("long")).cast("int"))
  }

  /** Two-sided replicate-and-join. Input: (key, s, k1, k2, payload...),
    * s in [0, k1·k2). The left side replicates over the right salt range
    * and vice versa — two chained explodes, each bounded by maxK, with
    * the composite digit recombined as ta + k1·tb (one sequence(0,
    * k1·k2-1) without ever materializing a k1·k2-long array) — and the
    * equi-join on (key, salt0, salt1) meets every row pair of a bucket
    * exactly once, in both orientations; callers keep one with their own
    * filter. Output: key, payload suffixed 0, payload suffixed 1. */
  def pairJoin(salted: DataFrame, key: String): DataFrame = {
    val payload = salted.columns.filterNot(Set(key, "s", "k1", "k2"))
    def side(own: String, other: String, sfx: String) =
      salted.select(Seq(col(key), col("s").as(own),
          explode(sequence(lit(0), col("k1") - 1)).as("ta"),
          col("k1"), col("k2")) ++
          payload.map(c => col(c).as(c + sfx)): _*)
        .withColumn("tb", explode(sequence(lit(0), col("k2") - 1)))
        .withColumn(other, col("ta") + col("k1") * col("tb"))
        .drop("ta", "tb", "k1", "k2")
    side("salt0", "salt1", "0")
      .join(side("salt1", "salt0", "1"), Seq(key, "salt0", "salt1"))
      .drop("salt0", "salt1")
  }
}
