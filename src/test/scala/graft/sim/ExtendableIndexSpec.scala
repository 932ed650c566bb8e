package graft.sim

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.dedup.Dedup
import graft.ops.Scratch

/** The pre-trigger load fallback every extendable index shares: a save
  * whose meta carries no `built_n`/`extended_n` columns loads as
  * builtN −1 and extendedN 0 and never asks for a rebuild, however much
  * it is extended afterwards. */
class ExtendableIndexSpec extends SparkSuite {

  private def vecs(lo: Long, n: Long): DataFrame =
    spark.range(lo, lo + n).select(col("id").as("vec_id"),
      array((0 until 8).map(j =>
        (pmod(xxhash64(col("id"), lit(j)), lit(1000)).cast("double")
          / 500.0 - 1.0).cast("float")): _*).as("embedding"))

  private def docs(lo: Long, n: Long): DataFrame =
    spark.range(lo, lo + n).select(col("id").as("doc_id"),
      concat_ws(" ", lit("document"), col("id").cast("string"),
        lit("carries enough distinct words to shingle"),
        (col("id") * 7).cast("string")).as("text"))

  /** Save with `save`, strip the trigger columns from the meta as a
    * pre-trigger save lacks them, load with `load` and hand the loaded
    * index to `check` while its files still exist. */
  private def withPreTriggerLoad[M](save: String => Unit,
                                    load: String => M)(check: M => Unit): Unit =
    Scratch.withDir("pre_trigger_idx") { dir =>
      save(dir)
      spark.read.parquet(s"$dir/meta").drop("built_n", "extended_n")
        .coalesce(1).write.parquet(s"$dir/meta_old")
      val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new Path(s"$dir/meta"), true)
      assert(fs.rename(new Path(s"$dir/meta_old"), new Path(s"$dir/meta")))
      assert(!spark.read.parquet(s"$dir/meta").columns.contains("built_n"))
      check(load(dir))
    }

  private def assertNoBaseline(index: ExtendableIndex): Unit =
    assert(index.builtN === -1L && index.extendedN === 0L &&
      !index.needsRebuild, (index.builtN, index.extendedN))

  test("ivfLoad of a pre-trigger save: no baseline, even after an extend") {
    withPreTriggerLoad(
      Similarity.ivfSave(Similarity.ivfBuild(vecs(0, 40), k = 4, dim = 8), _),
      Similarity.ivfLoad(spark, _)) { loaded =>
      assertNoBaseline(loaded)
      // 100 admitted rows would outgrow the 40-row build, but a
      // pre-trigger save has no build size to outgrow
      val extended = Similarity.ivfExtend(loaded, vecs(1000, 100))
      assert(extended.indexed.count() === 140L)
      assertNoBaseline(extended)
    }
  }

  test("pqLoad of a pre-trigger save: no baseline, even after an extend") {
    withPreTriggerLoad(
      Similarity.pqSave(Similarity.pqBuild(vecs(0, 40), cells = 4,
        nprobe = 4, m = 2, k = 8, shortlist = 16, dim = 8), _),
      Similarity.pqLoad(spark, _)) { loaded =>
      assertNoBaseline(loaded)
      val extended = Similarity.pqExtend(loaded, vecs(1000, 100))
      assert(extended.indexed.count() === 140L)
      assertNoBaseline(extended)
    }
  }

  test("minhashLoad of a pre-trigger save: no baseline, even after an " +
    "extend") {
    withPreTriggerLoad(
      Dedup.minhashSave(Dedup.minhashBuild(docs(0, 20), "doc_id", "text",
        numHashes = 16, bands = 4), _),
      Dedup.minhashLoad(spark, _)) { loaded =>
      assertNoBaseline(loaded)
      val extended = Dedup.minhashExtend(loaded, docs(1000, 50),
        "doc_id", "text")
      assert(extended.sets.count() === 70L)
      assertNoBaseline(extended)
    }
  }
}
