package graft.sim

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.dedup.Dedup
import graft.ops.Scratch

/** The at-rest format every extendable index shares. A save whose
  * meta carries no `built_n`/`extended_n` columns loads as builtN −1
  * and extendedN 0 and never asks for a rebuild, however much it is
  * extended afterwards; a save in the layout written before the IVF
  * and IVF-PQ indexes shared one model still loads and searches
  * exactly like the build it came from. */
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
      Similarity.ivfSave(Similarity.ivfBuild(vecs(0, 40), k = 4), _),
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
      Similarity.ivfSave(Similarity.pqBuild(vecs(0, 40), cells = 4,
        nprobe = 4, m = 2, k = 8, shortlist = 16), _),
      Similarity.ivfLoad(spark, _)) { loaded =>
      assertNoBaseline(loaded)
      val extended = Similarity.ivfExtend(loaded, vecs(1000, 100))
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

  /** Write `frames` and a one-row `meta` as an index saved before the
    * shared at-rest layout, load it with `load` and hand it to `check`
    * while its files still exist. */
  private def withOlderSave[M](frames: Seq[(String, DataFrame)], meta: DataFrame,
                               load: String => M)(check: M => Unit): Unit =
    Scratch.withDir("older_idx") { dir =>
      frames.foreach { case (name, df) => df.write.parquet(s"$dir/$name") }
      meta.coalesce(1).write.parquet(s"$dir/meta")
      check(load(dir))
    }

  private def ann(m: Similarity.IvfIndexModel, bulk: Boolean) =
    Similarity.ivfSearch(m, vecs(0, 5), topK = 3, broadcastProbes = !bulk)
      .collect().map(r => (r.getAs[Long]("probe_id"),
        r.getAs[Long]("neighbor_id"), r.getAs[Double]("cos"))).toSet

  test("ivfLoad reads the older IVF layout (dim column, vector before " +
    "cell): searches equal the original build, cos included") {
    val s = spark
    import s.implicits._
    val model = Similarity.ivfBuild(vecs(0, 200), k = 4)
    withOlderSave(
      Seq("index" -> model.indexed.select("neighbor_id", "cv", "cell")),
      Seq((model.cells, model.nprobe, 8, model.centroids.map(_.toSeq).toSeq,
          model.idCol, model.vecCol, model.builtN, model.extendedN))
        .toDF("cells", "nprobe", "dim", "centroids", "id_col", "vec_col",
          "built_n", "extended_n"),
      Similarity.ivfLoad(spark, _)) { loaded =>
      assert(loaded.pq.isEmpty && loaded.builtN === 200L)
      for (bulk <- Seq(false, true)) {
        val want = ann(model, bulk)
        assert(want.size === 15)
        assert(ann(loaded, bulk) === want)
      }
    }
  }

  test("ivfLoad reads the older IVF-PQ layout (dim column, `coarse` " +
    "centroids): searches equal the original build, cos included") {
    val s = spark
    import s.implicits._
    val model = Similarity.pqBuild(vecs(0, 200), cells = 4, nprobe = 4,
      m = 2, k = 8, shortlist = 16)
    val pq = model.pq.get
    withOlderSave(
      Seq("index" -> model.indexed, "corpus" -> pq.corpus2),
      Seq((model.cells, model.nprobe, pq.m, pq.k, 8, pq.shortlist,
          model.centroids.map(_.toSeq).toSeq,
          pq.books.map(_.map(_.toSeq).toSeq).toSeq,
          model.idCol, model.vecCol, model.builtN, model.extendedN))
        .toDF("cells", "nprobe", "m", "k", "dim", "shortlist", "coarse",
          "books", "id_col", "vec_col", "built_n", "extended_n"),
      Similarity.ivfLoad(spark, _)) { loaded =>
      assert(loaded.pq.map(_.shortlist) === Some(16) && loaded.builtN === 200L)
      for (bulk <- Seq(false, true)) {
        val want = ann(model, bulk)
        assert(want.size === 15)
        assert(ann(loaded, bulk) === want)
      }
    }
  }

  test("minhashLoad reads the older MinHash layout: delta pairs equal " +
    "the original build's") {
    val s = spark
    import s.implicits._
    val model = Dedup.minhashBuild(docs(0, 20), "doc_id", "text",
      numHashes = 16, bands = 4)
    // Copies of ten indexed docs under new ids: exact near-dups.
    val delta = docs(0, 10).select((col("doc_id") + 1000).as("doc_id"),
      col("text"))
    def pairs(m: Dedup.MinHashIndexModel) =
      Dedup.minhashDeltaPairs(m, delta, "doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    withOlderSave(
      Seq("buckets" -> model.buckets, "sets" -> model.sets),
      Seq((model.numHashes, model.bands, model.shingleK, model.idCol,
          model.builtN, model.extendedN))
        .toDF("num_hashes", "bands", "shingle_k", "id_col", "built_n",
          "extended_n"),
      Dedup.minhashLoad(spark, _)) { loaded =>
      assert(loaded.builtN === 20L)
      val want = pairs(model)
      assert(want.size >= 10)
      assert(pairs(loaded) === want)
    }
  }
}
