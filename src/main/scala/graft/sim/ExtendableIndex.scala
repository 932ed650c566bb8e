package graft.sim

import org.apache.spark.sql.Row

/** Rebuild-trigger bookkeeping shared by the three extendable indexes
  * (`Dedup.MinHashIndexModel`, [[Similarity.IvfIndexModel]],
  * [[Similarity.PqIndexModel]]): a build pins `builtN`, every
  * no-retrain extend adds the rows it admitted to `extendedN`, and
  * [[needsRebuild]] flips once the extends outgrow the build.
  */
trait ExtendableIndex {
  def builtN: Long
  def extendedN: Long

  /** Rebuild recommendation: true once no-retrain adds have grown the
    * index past its build-time size (extended > built). An ingestion
    * loop checks it after each extend and schedules a fresh build. A
    * conservative threshold, not a cliff. An index loaded from a save
    * that carries no build size (builtN −1) never flips. */
  def needsRebuild: Boolean = builtN >= 0 && extendedN > builtN
}

object ExtendableIndex {

  /** `extendedN` after an extend that admitted `admitted` rows. The
    * count is O(delta) and runs only for an index with a build size;
    * the extend that first crosses it logs `advice` once. */
  def extendedAfter(op: String, index: ExtendableIndex,
                    admitted: => Long, advice: String): Long =
    if (index.builtN < 0) index.extendedN
    else {
      val extended = index.extendedN + admitted
      if (extended > index.builtN && index.extendedN <= index.builtN)
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"$op: index has grown past its build-time size " +
            s"($extended extended vs ${index.builtN} built) — $advice " +
            "(needsRebuild = true)")
      extended
    }

  /** (builtN, extendedN) of a saved index's meta row. Saves made
    * before the rebuild trigger existed carry neither column and load
    * as (−1, 0): no baseline, so needsRebuild stays false. */
  def sizesOf(meta: Row): (Long, Long) = {
    def field(name: String, absent: Long): Long =
      if (meta.schema.fieldNames.contains(name)) meta.getAs[Long](name)
      else absent
    (field("built_n", -1L), field("extended_n", 0L))
  }
}
