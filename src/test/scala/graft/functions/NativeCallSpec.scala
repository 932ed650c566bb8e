package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Every native expression reaches its kernel through one
  * `StaticInvoke` ([[NativeCall]]). Whole-stage codegen emits it as a
  * Java call; the interpreted path looks the method up by reflection,
  * so a kernel signature that does not match the arguments fails only
  * there. Each case runs one projection both ways, over inputs with
  * NULL values and NULL elements, and the rows must be identical. */
class NativeCallSpec extends SparkSuite {

  /** A scanned frame: a local relation would be folded by the
    * optimizer and never reach either evaluation path. */
  private def frame(sql: String): DataFrame = spark.sql(sql).localCheckpoint()

  private def rows(input: DataFrame, out: Column): (String, Seq[String]) = {
    val q = input.select(out.as("out"))
    (q.queryExecution.executedPlan.toString, q.collect().map(_.toString).toSeq)
  }

  private def interpreted[T](body: => T): T = {
    val confs = Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    val before = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def kernelCase(name: String, viaKernel: Boolean = true)(
      input: => DataFrame, out: => Column): Unit =
    test(s"$name: identical rows with whole-stage codegen and interpreted") {
      val (genPlan, gen) = rows(input, out)
      assert(genPlan.matches("(?s).*\\*\\(\\d+\\) Project .*"), genPlan)
      if (viaKernel) assert(genPlan.contains("static_invoke(graft.functions.Native"), genPlan)
      val (intPlan, interp) = interpreted(rows(input, out))
      assert(!intPlan.contains("*("), intPlan)
      assert(gen.size == input.count())
      assert(interp == gen)
    }

  private lazy val vecs = frame("""SELECT * FROM VALUES
    (array(0.5F, -1F, 2F), array(1D, 0D, 2D)),
    (array(0.5F, CAST(NULL AS FLOAT), 2F), array(1D, 1D, 1D)),
    (array(0F, 0F, 0F), array(1D, 2D, 3D)),
    (array(1F, 2F), array(1D, CAST(NULL AS DOUBLE), 3D)),
    (CAST(NULL AS ARRAY<FLOAT>), CAST(NULL AS ARRAY<DOUBLE>))
    AS t(f, d)""")
  private val m = Array(Array(1.0, -0.5, 0.25), Array(-1.0, 2.0, 0.5), Array(0.3, 0.3, -0.9))

  kernelCase("cosine_sim")(vecs, CosineSimExpr(col("f"), col("d")))
  kernelCase("l2_normalize")(vecs, L2NormalizeExpr(col("f")))
  kernelCase("int8_quantize")(vecs, Int8QuantizeExpr(col("d")))
  kernelCase("int8_scale")(vecs, Int8ScaleExpr(col("f")))
  kernelCase("matvec_dots")(vecs, MatVecDotsExpr(col("f"), m))
  kernelCase("hyperplane_bucket")(vecs, HyperplaneBucketExpr(col("d"), m))
  kernelCase("argmax_dot")(vecs, ArgMaxDotExpr(col("f"), m))

  private lazy val adc = frame("""SELECT * FROM VALUES
    (array(0, 1), array(array(0.5D, 1.5D), array(2D, -1D))),
    (array(0, CAST(NULL AS INT)), array(array(0.5D, 1.5D), array(2D, -1D))),
    (array(0, 5), array(array(0.5D, 1.5D), array(2D, -1D))),
    (array(1, 0), array(array(0.5D, CAST(NULL AS DOUBLE)), array(2D, -1D))),
    (array(0, 1), array(array(0.5D, 1.5D), CAST(NULL AS ARRAY<DOUBLE>))),
    (CAST(NULL AS ARRAY<INT>), array(array(0.5D, 1.5D), array(2D, -1D)))
    AS t(codes, dtable)""")

  kernelCase("adc_sum")(adc, AdcSumExpr(col("codes"), col("dtable")))

  private lazy val cells = frame("""SELECT t.*, c.cells FROM VALUES
    (1L, array(1F, 0F)), (2L, CAST(NULL AS ARRAY<FLOAT>)),
    (CAST(NULL AS BIGINT), array(1F, 0F)), (3L, array(0F, 0F)),
    (4L, array(0.5F, CAST(NULL AS FLOAT))) AS t(pid, pv)
    CROSS JOIN (SELECT array(
      named_struct('neighbor_id', 1L, 'cv', array(1F, 0F)),
      named_struct('neighbor_id', 2L, 'cv', array(0.5F, 0.5F)),
      named_struct('neighbor_id', 3L, 'cv', array(0F, 1F)),
      named_struct('neighbor_id', 4L, 'cv', array(1F, CAST(NULL AS FLOAT))),
      named_struct('neighbor_id', 5L, 'cv', CAST(NULL AS ARRAY<FLOAT>)),
      CAST(NULL AS STRUCT<neighbor_id: BIGINT, cv: ARRAY<FLOAT>>)) AS cells) c""")

  kernelCase("topk_cell_cos")(cells,
    TopKCellCosExpr(col("pid"), col("pv"), col("cells"), 2))
  kernelCase("topk_cell_cos, double vectors")(cells,
    TopKCellCosExpr(col("pid"), col("pv").cast("array<double>"),
      col("cells").cast("array<struct<neighbor_id: bigint, cv: array<double>>>"), 3))

  private lazy val adcCells = frame("""SELECT t.*, c.cells FROM VALUES
    (1L, array(array(0.5D, 1.5D), array(2D, -1D))),
    (2L, array(array(0.5D, CAST(NULL AS DOUBLE)), array(2D, -1D))),
    (CAST(NULL AS BIGINT), array(array(0.5D, 1.5D), array(2D, -1D))),
    (3L, CAST(NULL AS ARRAY<ARRAY<DOUBLE>>)) AS t(pid, dtable)
    CROSS JOIN (SELECT array(
      named_struct('neighbor_id', 1L, 'codes', array(0, 1)),
      named_struct('neighbor_id', 2L, 'codes', array(1, 0)),
      named_struct('neighbor_id', 3L, 'codes', array(1, 1)),
      named_struct('neighbor_id', 4L, 'codes', array(0, CAST(NULL AS INT))),
      named_struct('neighbor_id', 5L, 'codes', array(7, 0)),
      named_struct('neighbor_id', 6L, 'codes', CAST(NULL AS ARRAY<INT>)),
      CAST(NULL AS STRUCT<neighbor_id: BIGINT, codes: ARRAY<INT>>)) AS cells) c""")

  kernelCase("adc_top_s")(adcCells,
    AdcTopSExpr(col("pid"), col("dtable"), col("cells"), 2))

  private lazy val shortlists = frame("""SELECT * FROM VALUES
    (array(
      array(named_struct('neighbor_id', 1L, 'adc', 0.9D),
        named_struct('neighbor_id', 4L, 'adc', 0.2D)),
      array(named_struct('neighbor_id', 2L, 'adc', 0.9D),
        named_struct('neighbor_id', 3L, 'adc', 0.5D)))),
    (array(CAST(array() AS ARRAY<STRUCT<neighbor_id: BIGINT, adc: DOUBLE>>))),
    (array(
      array(named_struct('neighbor_id', 7L, 'adc', 0.4D)),
      CAST(NULL AS ARRAY<STRUCT<neighbor_id: BIGINT, adc: DOUBLE>>))),
    (CAST(NULL AS ARRAY<ARRAY<STRUCT<neighbor_id: BIGINT, adc: DOUBLE>>>))
    AS t(arrs)""")

  kernelCase("merge_top_s")(shortlists, MergeTopSExpr(col("arrs"), 3))

  private lazy val hashes = frame("""SELECT * FROM VALUES
    (array(11L, -3L, 42L)), (array(7L, CAST(NULL AS BIGINT))),
    (CAST(array() AS ARRAY<BIGINT>)), (CAST(NULL AS ARRAY<BIGINT>)) AS t(h)""")

  kernelCase("minhash_signature")(hashes, MinHashSignatureExpr(col("h"), 8))

  private lazy val texts = frame("""SELECT * FROM VALUES
    ('the quick brown fox'), ('a'), (''), (CAST(NULL AS STRING)) AS t(norm)""")

  kernelCase("gram_hashes")(texts, GramHashesExpr(col("norm"), 2))
  kernelCase("shingle_hashes")(texts, ShingleHashesExpr(col("norm"), 2))

  private lazy val clips = frame("""SELECT * FROM VALUES
    ('Keep THIS, drop that one.', array(named_struct('span_start', 1L, 'span_end', 2L))),
    (CAST(NULL AS STRING), array(named_struct('span_start', 0L, 'span_end', 0L))),
    ('İstanbul K x y', CAST(NULL AS ARRAY<STRUCT<span_start: BIGINT, span_end: BIGINT>>)),
    ('a b c', CAST(array() AS ARRAY<STRUCT<span_start: BIGINT, span_end: BIGINT>>)),
    ('İstanbul K x y', array(named_struct('span_start', 2L, 'span_end', 2L),
      named_struct('span_start', 0L, 'span_end', 0L))),
    (CAST(NULL AS STRING), CAST(NULL AS ARRAY<STRUCT<span_start: BIGINT, span_end: BIGINT>>))
    AS t(text, spans)""")

  kernelCase("clip_runs")(clips, ClipRunsExpr(col("text"), col("spans")))
  kernelCase("clip_runs, NULL literal spans", viaKernel = false)(
    clips, ClipRunsExpr(col("text"), lit(null)))
  kernelCase("token_run_count")(clips, TokenRunCountExpr(col("text")))

  private lazy val durations = {
    val s = spark
    import s.implicits._
    Seq("PT1H2M3S", "-P1DT0.5S", "P3Y2M", "PT1.S", "P.5D", "P", "nope", null)
      .toDF("d").localCheckpoint()
  }

  kernelCase("iso_duration_seconds")(durations, IsoDurationSecondsExpr(col("d")))

  test("two signatures of one size over one input have the same result") {
    def sig(n: Int) = hashes.select(MinHashSignatureExpr(col("h"), n).as("sig"))
    val (a, b) = (sig(64), sig(64))
    assert(a.queryExecution.analyzed.sameResult(b.queryExecution.analyzed))
    assert(a.queryExecution.executedPlan.sameResult(b.queryExecution.executedPlan))
    assert(!a.queryExecution.analyzed.sameResult(sig(32).queryExecution.analyzed))
  }
}
