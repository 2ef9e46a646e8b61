package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel
import scala.util.control.NonFatal

/** Named one-frame cache slots. A subtree read by several branches of one
  * plan (a signature table feeding a pair join, the linkage chunk table
  * feeding both join sides) is recomputed per branch without persist:
  * AQE compiles the branches as separate stages with no exchange reuse.
  * The frames these helpers return are lazy, so the earliest safe
  * unpersist point for one call's cache is the NEXT call on its slot —
  * each slot holds exactly one cached frame per JVM.
  *
  * CONTRACT: at most ONE in-flight query per slot. A second call on the
  * same slot unpersists the previous DataFrame immediately, so two
  * concurrent jobs sharing a slot (e.g. two minhashLshPairs actions in
  * one session) stay CORRECT but the earlier one silently loses its
  * cache and recomputes its subtree. Callers needing concurrent runs
  * should manage persistence explicitly.
  */
object CacheSlots {

  private val slots = scala.collection.mutable.Map.empty[String, DataFrame]

  /** Persists `df` (MEMORY_AND_DISK) as the slot's frame and returns it.
    * The previous frame is unpersisted FIRST: Spark matches cache entries
    * by plan equality (`sameResult`), so unpersisting it after persisting
    * a plan-equal `df` would drop the entry `df` was just registered
    * under. */
  def persistLatest(slot: String, df: DataFrame): DataFrame = slots.synchronized {
    slots.get(slot).filterNot(_ eq df).foreach { prev =>
      // the previous frame may belong to an already-stopped session
      try if (!prev.sparkSession.sparkContext.isStopped) prev.unpersist(false)
      catch { case NonFatal(_) => () }
    }
    slots(slot) = df.persist(StorageLevel.MEMORY_AND_DISK)
    df
  }
}
