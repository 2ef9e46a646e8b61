package graft.link

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** One field comparator of a Fellegi–Sunter-style linkage rule: an
  * agreement predicate over the left/right values and the integer weight
  * an agreement contributes to the pair score. */
case class FieldRule(field: String, weight: Long,
    agree: (Column, Column) => Column)

/** Fellegi–Sunter-style multi-field agreement scoring over blocked
  * candidate pairs — the plaintext counterpart of the CLK Dice kernel for
  * parties that can share selected fields directly. The reference's
  * linkage schema is exactly a list of per-field features with weights
  * that the CLK encoder folds into one bitvector
  * (`docs/concepts.rst` "comparison techniques"; clkhash schema `k` per
  * feature); here the same per-field weighting is scored explicitly.
  *
  * Integer agreement weights keep the score EXACT at any parallelism
  * (no float summation order) and SQL-replayable. Candidate generation
  * routes through the two-level-salted self-pair generator
  * ([[graft.dedup.Dedup.saltedSelfPairs]]), so a hot block becomes
  * well-sized salted tasks instead of a quadratic straggler — the same
  * 100-TB shape as every other pair path in this engine.
  */
object FieldMatch {

  /** Self-match within one table: candidates share `blockCol` (must be
    * single-valued per record — use the salted generator directly for
    * multi-block records), each [[FieldRule]] contributes its weight
    * where its agreement predicate holds, and pairs scoring below
    * `minScore` are dropped before the result shuffle.
    *
    * Output: (id0, id1, agree_<field>... , score), one row per unordered
    * candidate pair.
    */
  def selfScore(df: DataFrame, id: String, blockCol: Column,
      rules: Seq[FieldRule], minScore: Long): DataFrame = {
    require(rules.nonEmpty, "at least one field rule")
    require(rules.map(_.field).distinct.size == rules.size,
      "one rule per field (agreement columns are named agree_<field>)")
    val fields = rules.map(_.field)
    val base = df.select(
      Seq(col(id).cast("long").as("id"), blockCol.as("bk")) ++
        fields.map(col): _*)
    val pairs = graft.dedup.Dedup.saltedSelfPairs(base)
    // guard projection (scoreAndFilter's trick): PushDownPredicates would
    // otherwise substitute the agree expressions into the join condition
    // AND keep them in the projection, evaluating every comparator (incl.
    // the banded Levenshtein) twice per pair — seen in the round-6
    // q_multifield_match plan dump. pinAbove keeps the minScore filter
    // above this projection.
    val flagged = rules.foldLeft(pairs) { (d, r) =>
      d.withColumn(s"agree_${r.field}",
        graft.expr.pinAbove(
          coalesce(r.agree(col(r.field + "0"), col(r.field + "1"))
            .cast("long"), lit(0L))))
    }
    val score = rules.map(r => col(s"agree_${r.field}") * lit(r.weight))
      .reduce(_ + _)
    flagged
      .withColumn("score", score)
      .where(col("score") >= minScore)
      .select(Seq(col("id0"), col("id1")) ++
        rules.map(r => col(s"agree_${r.field}")) :+ col("score"): _*)
  }

  /** Frequency-based (value-specific) agreement weights — Winkler's
    * refinement of Fellegi–Sunter: agreeing on a RARE value is stronger
    * evidence than agreeing on a common one (two records sharing
    * nationality "Nauru" are far likelier the same entity than two
    * sharing "China"). Each field's agreement contributes the fixed-
    * point rarity ratio `(n_rows·scale) DIV freq(value)` instead of a
    * constant — exact integers, so the score is bit-stable and
    * SQL-replayable; nulls never agree.
    *
    * Shape: one hash agg + one key join PER FIELD on the RECORD table
    * (never on the quadratic pair set) to attach each record's
    * would-be weight, then the usual salted pair generation; the pair
    * stage just multiplies flags by pre-joined weights.
    * Output: (id0, id1, w_<field>..., score). */
  def selfScoreFrequency(df: DataFrame, id: String, blockCol: Column,
      fields: Seq[String], scale: Long = 1000L,
      minScore: Long = 1L): DataFrame = {
    require(fields.nonEmpty && fields.distinct.size == fields.size, "fields")
    val base = df.select(
      Seq(col(id).cast("long").as("id"), blockCol.as("bk")) ++
        fields.map(col): _*)
    val n = base.count()
    val enriched = fields.foldLeft(base) { (d, f) =>
      val freq = base.groupBy(col(f)).agg(count(lit(1)).as(s"__c_$f"))
      d.join(freq, Seq(f), "left")
        .withColumn(s"w_$f",
          expr(s"CAST((${n}L * ${scale}L) DIV __c_$f AS BIGINT)"))
        .drop(s"__c_$f")
    }
    val pairs = graft.dedup.Dedup.saltedSelfPairs(enriched)
    val terms = fields.map { f =>
      when(col(f + "0").isNotNull && col(f + "0") === col(f + "1"),
        col(s"w_${f}0")).otherwise(lit(0L)).as(s"w_$f")
    }
    pairs.select(Seq(col("id0"), col("id1")) ++ terms: _*)
      .withColumn("score", fields.map(f => col(s"w_$f")).reduce(_ + _))
      .where(col("score") >= minScore)
  }
}
