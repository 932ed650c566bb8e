package graft.sim

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.lit

/** Rebuild-trigger bookkeeping and the at-rest format shared by the
  * three extendable indexes (`Dedup.MinHashIndexModel` and
  * [[Similarity.IvfIndexModel]], flat or PQ): a build pins `builtN`,
  * every no-retrain extend adds the rows it admitted to `extendedN`,
  * and [[needsRebuild]] flips once the extends outgrow the build.
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

  /** Write `index` at rest under `path`: each named frame as parquet
    * in `path/<name>`, and one meta row — the `meta` columns plus
    * `built_n`/`extended_n` — as a one-file parquet in `path/meta`
    * (nested arrays, no side-format parser). */
  def save(path: String, index: ExtendableIndex,
           frames: Seq[(String, DataFrame)], meta: Column*): Unit = {
    frames.foreach { case (name, df) =>
      df.write.mode("overwrite").parquet(s"$path/$name")
    }
    frames.head._2.sparkSession.range(1)
      .select(meta :+ lit(index.builtN).as("built_n") :+
        lit(index.extendedN).as("extended_n"): _*)
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
  }

  /** An index read back from [[save]]: its meta row and its frames. */
  final class Saved(spark: SparkSession, path: String) {
    val meta: Row = spark.read.parquet(s"$path/meta").head()
    def has(field: String): Boolean = meta.schema.fieldNames.contains(field)
    def apply[T](field: String): T = meta.getAs[T](field)
    def frame(name: String): DataFrame = spark.read.parquet(s"$path/$name")
    /** The build size and extends. Saves made before the rebuild
      * trigger existed carry neither column and load as (−1, 0): no
      * baseline, so needsRebuild stays false. */
    def builtN: Long = if (has("built_n")) apply[Long]("built_n") else -1L
    def extendedN: Long = if (has("extended_n")) apply[Long]("extended_n") else 0L
  }

  def load(spark: SparkSession, path: String): Saved = new Saved(spark, path)
}
