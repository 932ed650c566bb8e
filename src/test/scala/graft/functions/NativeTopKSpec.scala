package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkSuite

/** The per-cell top-k kernel must return EXACTLY the rows the composed
  * explode → cosine → rank-window form it replaces would keep for
  * finite-cosine candidates — the bulk IVF search's identity with the
  * broadcast path rests on it ([[graft.sim.Similarity.ivfSearch]]).
  * The single documented divergence: zero-norm (NULL-cosine) entries
  * are omitted rather than ranked NULLS-LAST behind every finite
  * candidate. */
class NativeTopKSpec extends SparkSuite {
  import spark.implicits._

  private val dim = 8

  /** (probe_id, pv, mat) rows: each probe faces one synthetic cell of
    * `cellN` random vectors whose ids start at 1000·(probe+1). */
  private def rows(nProbes: Int, cellN: Int, seed: Long): DataFrame = {
    val r = new scala.util.Random(seed)
    def vec() = Array.fill(dim)(r.nextFloat() * 2f - 1f)
    Seq.tabulate(nProbes) { p =>
      (p.toLong, vec(),
        Seq.tabulate(cellN)(i => (1000L * (p + 1) + i, vec())))
    }.toDF("probe_id", "pv", "mat")
      .withColumn("mat", col("mat").cast(
        "array<struct<neighbor_id: bigint, cv: array<float>>>"))
  }

  private def kernel(df: DataFrame, k: Int): Set[(Long, Long, Double)] =
    df.select(col("probe_id"),
        explode(TopKCellCosExpr(col("probe_id"), col("pv"), col("mat"), k)).as("e"))
      .select(col("probe_id"), col("e.neighbor_id"), col("e.cos"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  /** The composed form the r15 bulk path evaluated row-at-a-time. */
  private def composed(df: DataFrame, k: Int): Set[(Long, Long, Double)] = {
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    df.select(col("probe_id"), col("pv"), explode(col("mat")).as("c"))
      .filter(col("probe_id") =!= col("c.neighbor_id"))
      .select(col("probe_id"), col("c.neighbor_id").as("neighbor_id"),
        graft.sim.Similarity.cosine(col("pv"), col("c.cv")).as("cos"))
      .filter(col("cos").isNotNull)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
  }

  test("kernel is bit-identical to the composed explode+cosine+window form") {
    val df = rows(nProbes = 40, cellN = 50, seed = 1).localCheckpoint()
    for (k <- Seq(1, 3, 7)) assert(kernel(df, k) === composed(df, k))
  }

  test("ties rank by ascending neighbor_id, matching the merge window's order") {
    // Three candidates with IDENTICAL vectors (cos ties exactly);
    // ids deliberately out of storage order.
    val v = Array.tabulate(dim)(_.toFloat + 1f)
    val df = Seq((0L, v, Seq((9L, v), (3L, v), (7L, v), (1L, v.map(-_)))))
      .toDF("probe_id", "pv", "mat")
      .withColumn("mat", col("mat").cast(
        "array<struct<neighbor_id: bigint, cv: array<float>>>"))
    val got = df.select(
        TopKCellCosExpr(col("probe_id"), col("pv"), col("mat"), 2).as("t"))
      .select(col("t.neighbor_id")).as[Seq[Long]].head()
    assert(got === Seq(3L, 7L)) // cos=1 ties broken by id asc; 9 evicted
    assert(kernel(df, 2) === composed(df, 2))
  }

  test("self-id is excluded and zero-norm entries are skipped, not ranked") {
    val v = Array.tabulate(dim)(_.toFloat + 1f)
    val zero = Array.fill(dim)(0f)
    val df = Seq((5L, v, Seq((5L, v), (8L, zero), (2L, v.map(_ * 2f)))))
      .toDF("probe_id", "pv", "mat")
      .withColumn("mat", col("mat").cast(
        "array<struct<neighbor_id: bigint, cv: array<float>>>"))
    // k=3 but only id 2 is admissible: 5 is the probe itself, 8 has a
    // NULL cosine (zero norm) and must be OMITTED (the window form
    // would rank it last; the kernel's contract drops it).
    assert(kernel(df, 3).map(_._2) === Set(2L))
  }

  test("NaN cosines are skipped, never poison the insertion buffer") {
    val v = Array.tabulate(dim)(_.toFloat + 1f)
    val nan = v.updated(0, Float.NaN)
    // Storage order plants the poison scenario the fix exists for:
    // a weak finite candidate (id 1), then the NaN entry (id 2) —
    // pre-fix it parked at the buffer tail while size < k, and once
    // size == k every later candidate compared against NaN (all
    // comparisons false) and was REJECTED, dropping the true top-2
    // (ids 3 and 4).
    val w = Array.tabulate(dim)(i => if (i == 0) 1f else -0.1f * i)
    val df = Seq((0L, v, Seq((1L, w), (2L, nan), (3L, v), (4L, v.map(_ * 2f)))))
      .toDF("probe_id", "pv", "mat")
      .withColumn("mat", col("mat").cast(
        "array<struct<neighbor_id: bigint, cv: array<float>>>"))
    val got = kernel(df, 2)
    assert(got.map(_._2) === Set(3L, 4L), s"finite top-2 dropped: $got")
    assert(got.forall(e => !e._3.isNaN))
    // Documented DIVERGENCE from the window form, which ranks NaN
    // ABOVE every finite cosine (Spark NaN ordering) and keeps it.
    assert(composed(df, 2).map(_._2) === Set(2L, 3L))
  }

  test("returns fewer than k when the cell is small, never more than k") {
    val df = rows(nProbes = 5, cellN = 4, seed = 2).localCheckpoint()
    val perProbe = df.select(col("probe_id"),
        size(TopKCellCosExpr(col("probe_id"), col("pv"), col("mat"), 10)).as("n"))
      .as[(Long, Int)].collect().toMap
    assert(perProbe.values.forall(_ === 4))
    assert(kernel(df, 10) === composed(df, 10))
  }

  // --- PQ siblings: AdcTopSExpr + MergeTopSExpr ------------------------

  /** (probe_id, dtable, cells) rows — `m` subspaces × `k` codes. */
  private def adcRows(nProbes: Int, cellN: Int, m: Int, k: Int,
                      seed: Long): DataFrame = {
    val r = new scala.util.Random(seed)
    Seq.tabulate(nProbes) { p =>
      (p.toLong, Array.fill(m, k)(r.nextGaussian()),
        Seq.tabulate(cellN)(i => (1000L * (p + 1) + i,
          Array.fill(m)(r.nextInt(k)))))
    }.toDF("probe_id", "dtable", "cells")
      .withColumn("cells", col("cells").cast(
        "array<struct<neighbor_id: bigint, codes: array<int>>>"))
  }

  private def adcKernel(df: DataFrame, s: Int): Map[Long, Seq[Long]] =
    df.select(col("probe_id"),
        AdcTopSExpr(col("probe_id"), col("dtable"), col("cells"), s).as("arr"))
      .select(col("probe_id"), col("arr.neighbor_id").as("ids"))
      .as[(Long, Seq[Long])].collect().toMap

  /** The shortlist the composed window form keeps, in rank order. */
  private def adcComposed(df: DataFrame, s: Int): Map[Long, Seq[Long]] = {
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("adc").desc, col("neighbor_id"))
    df.select(col("probe_id"), col("dtable"), explode(col("cells")).as("c"))
      .filter(col("probe_id") =!= col("c.neighbor_id"))
      .select(col("probe_id"), col("c.neighbor_id").as("neighbor_id"),
        AdcSumExpr(col("c.codes"), col("dtable")).as("adc"))
      .filter(col("adc").isNotNull)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= s)
      .orderBy(col("probe_id"), col("rank"))
      .select(col("probe_id"), col("neighbor_id"))
      .as[(Long, Long)].collect().toSeq
      .groupBy(_._1).map { case (p, xs) => p -> xs.map(_._2) }
  }

  test("AdcTopSExpr keeps exactly the composed ADC window's shortlist, in order") {
    val df = adcRows(nProbes = 30, cellN = 40, m = 4, k = 8, seed = 11)
      .localCheckpoint()
    for (s <- Seq(1, 5, 40, 100)) assert(adcKernel(df, s) === adcComposed(df, s))
  }

  test("AdcTopSExpr excludes the probe's own id and breaks ADC ties by id asc") {
    // Identical codes ⇒ identical ADC: pure tie-break ordering.
    val codes = Array(0, 1)
    val df = Seq((7L, Array.fill(2, 4)(1.0),
        Seq((9L, codes), (7L, codes), (3L, codes))))
      .toDF("probe_id", "dtable", "cells")
      .withColumn("cells", col("cells").cast(
        "array<struct<neighbor_id: bigint, codes: array<int>>>"))
    assert(adcKernel(df, 5) === Map(7L -> Seq(3L, 9L)))
  }

  test("a dtable with null elements: hits skip, others score") {
    val df = spark.sql(
      """SELECT CAST(7 AS BIGINT) AS probe_id,
        |  array(array(1.0D, CAST(NULL AS DOUBLE)), array(2.0D, 3.0D)) AS dtable,
        |  CAST(array(
        |    named_struct('neighbor_id', 1, 'codes', array(0, 0)),
        |    named_struct('neighbor_id', 2, 'codes', array(1, 0)),
        |    named_struct('neighbor_id', 3, 'codes', array(0, 1))
        |  ) AS array<struct<neighbor_id: bigint, codes: array<int>>>) AS cells
        |""".stripMargin)
    // id 2's code 1 in subspace 0 hits the NULL entry -> skipped; ids
    // 1 (1+2=3) and 3 (1+3=4) score and rank by adc desc.
    assert(adcKernel(df, 5) === Map(7L -> Seq(3L, 1L)))
    assert(adcKernel(df, 5) === adcComposed(df, 5))
  }

  test("MergeTopSExpr merges sorted per-cell arrays into the exact global top-s") {
    // Split one probe's candidates across 3 "cells", kernel per cell,
    // merge — must equal the single-cell kernel over the union.
    val df = adcRows(nProbes = 20, cellN = 60, m = 4, k = 8, seed = 12)
      .localCheckpoint()
    val whole = adcKernel(df, 10)
    val split = df
      .select(col("probe_id"), col("dtable"),
        posexplode(col("cells")).as(Seq("i", "c")))
      .groupBy(col("probe_id"), col("dtable"), pmod(col("i"), lit(3)).as("part"))
      .agg(collect_list(col("c")).as("cells"))
      .select(col("probe_id"),
        AdcTopSExpr(col("probe_id"), col("dtable"), col("cells"), 10).as("arr"))
      .groupBy(col("probe_id")).agg(collect_list(col("arr")).as("arrs"))
      .select(col("probe_id"), MergeTopSExpr(col("arrs"), 10).as("ids"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(split === whole)
  }

  test("double-typed cell vectors are accepted; wrong id type fails analysis") {
    val df = rows(nProbes = 6, cellN = 12, seed = 3)
      .withColumn("mat", col("mat").cast(
        "array<struct<neighbor_id: bigint, cv: array<double>>>"))
      .withColumn("pv", col("pv").cast("array<double>"))
      .localCheckpoint()
    assert(kernel(df, 3) === composed(df, 3))
    val bad = df.withColumn("probe_id", col("probe_id").cast("int"))
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      bad.select(TopKCellCosExpr(col("probe_id"), col("pv"), col("mat"), 3))
        .collect()
    }
    assert(e.getMessage.contains("BIGINT probe id"))
  }
}
