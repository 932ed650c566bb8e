package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.sim.Similarity

/** The native vector kernels must be bit-identical to the composed
  * higher-order forms they replace — any drift would silently move the
  * ANN oracle hashes. */
class NativeVectorSpec extends SparkSuite {
  import spark.implicits._

  private val dim = 16
  private def randVecs(n: Int, seed: Long) = {
    val r = new scala.util.Random(seed)
    Seq.tabulate(n)(i => (i.toLong, Array.fill(dim)(r.nextFloat() * 2f - 1f)))
      .toDF("id", "v")
  }

  private def randMatrix(rows: Int, seed: Long): Array[Array[Double]] = {
    val r = new scala.util.Random(seed)
    Array.fill(rows, dim)(r.nextGaussian())
  }

  test("CosineSimExpr is bit-identical to the composed dot/norm form") {
    val a = randVecs(200, 1).withColumnRenamed("v", "a")
    val b = randVecs(200, 2).withColumnRenamed("v", "b")
    val both = a.join(b, "id")
    val diff = both
      .select(CosineSimExpr(col("a"), col("b")).as("native"),
        Similarity.cosineComposed(col("a"), col("b")).as("composed"))
      .filter(col("native") =!= col("composed")) // exact double equality
      .count()
    assert(diff === 0)
  }

  test("HyperplaneBucketExpr matches the composed sign-bit fold") {
    val hp = randMatrix(8, 3)
    val composed = hp.zipWithIndex.map { case (w, i) =>
      val wLit = array(w.map(lit): _*)
      when(Similarity.dot(col("v"), wLit) > 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce((x, y) => x.bitwiseOR(y))
    val diff = randVecs(200, 4)
      .select(HyperplaneBucketExpr(col("v"), hp).as("native"), composed.as("c"))
      .filter(col("native") =!= col("c")).count()
    assert(diff === 0)
  }

  test("ArgMaxDotExpr matches the composed array_position(array_max) pick") {
    val m = randMatrix(6, 5)
    val dots = array(m.map(w => Similarity.dot(col("v"), array(w.map(lit): _*))): _*)
    val composed = (array_position(dots, array_max(dots)) - 1).cast("int")
    val diff = randVecs(200, 6)
      .select(ArgMaxDotExpr(col("v"), m).as("native"), composed.as("c"))
      .filter(col("native") =!= col("c")).count()
    assert(diff === 0)
  }

  test("MatVecDotsExpr matches per-row composed dots") {
    val m = randMatrix(5, 7)
    val dots = array(m.map(w => Similarity.dot(col("v"), array(w.map(lit): _*))): _*)
    val diff = randVecs(200, 8)
      .select(MatVecDotsExpr(col("v"), m).as("native"), dots.as("c"))
      .filter(to_json(col("native")) =!= to_json(col("c"))).count()
    assert(diff === 0)
  }

  test("AdcSumExpr is bit-identical to the composed aggregate∘zip_with " +
    "lookup-sum") {
    val r = new scala.util.Random(42)
    val m = 8; val k = 16
    val df = Seq.tabulate(300) { i =>
      (i.toLong, Array.fill(m)(r.nextInt(k)),
        Array.fill(m, k)(r.nextGaussian()))
    }.toDF("id", "codes", "dtable")
    val composed = aggregate(
      zip_with(col("codes"), col("dtable"),
        (c, row) => element_at(row, c + 1)),
      lit(0.0), (acc, v) => acc + v)
    val diff = df
      .select(AdcSumExpr(col("codes"), col("dtable")).as("native"),
        composed.as("c"))
      .filter(col("native") =!= col("c")) // exact double equality
      .count()
    assert(diff === 0)
  }

  test("AdcSumExpr null/shape edges yield null") {
    val df = Seq(
      (1L, Array(0, 1), Array(Array(1.0, 2.0), Array(3.0, 4.0))),
      (2L, Array(0, 1), Array(Array(1.0, 2.0))), // length mismatch
      (3L, Array(0, 5), Array(Array(1.0, 2.0), Array(3.0, 4.0))) // oob code
    ).toDF("id", "codes", "dtable")
    val out = df.select(col("id"), AdcSumExpr(col("codes"), col("dtable")).as("s"))
      .collect().map(rw => rw.getLong(0) ->
        (if (rw.isNullAt(1)) None else Some(rw.getDouble(1)))).toMap
    assert(out(1L) === Some(1.0 + 4.0))
    assert(out(2L) === None)
    assert(out(3L) === None)
  }

  test("null and shape edge cases yield null") {
    val m = Array(Array(1.0, 2.0))
    val rows = Seq(
      (1L, Some(Array(1f, 2f))),   // ok: dot = 5
      (2L, None),                  // null vector
      (3L, Some(Array(1f)))        // dim mismatch vs matrix
    ).toDF("id", "v")
    val got = rows.select(col("id"), MatVecDotsExpr(col("v"), m).as("d"))
      .as[(Long, Option[Seq[Double]])].collect().toMap
    assert(got(1L) === Some(Seq(5.0)))
    assert(got(2L) === None)
    assert(got(3L) === None)
    // cosine with a null element
    val withNullElem = Seq(1L).toDF("id")
      .select(array(lit(1.0f), lit(null).cast("float")).as("a"),
        array(lit(1.0f), lit(2.0f)).as("b"))
    assert(withNullElem.select(CosineSimExpr(col("a"), col("b"))).head().isNullAt(0))
    // zero-norm vector: Spark's Divide yields NULL on a 0.0 divisor, so
    // the kernel must too (not Java's NaN)
    val zeroNorm = Seq(1L).toDF("id")
      .select(array(lit(0.0f), lit(0.0f)).as("a"),
        array(lit(1.0f), lit(2.0f)).as("b"))
    assert(zeroNorm.select(CosineSimExpr(col("a"), col("b"))).head().isNullAt(0))
    assert(zeroNorm.select(CosineSimExpr(col("b"), col("a"))).head().isNullAt(0))
  }

  test("kernels run inside whole-stage codegen (no fallback)") {
    // If the kernel call failed to compile, Spark silently falls back to interpreted
    // eval; assert the generated plan keeps the project in a codegen
    // stage. A local Seq would constant-fold to LocalTableScan, so the
    // vectors are derived from a range (a real codegen source).
    val df = spark.range(10)
      .select(transform(sequence(lit(0), lit(dim - 1)),
        i => pmod(col("id") * 31 + i, lit(97)).cast("float")).as("v"))
      .select(CosineSimExpr(col("v"), col("v")).as("c"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1)"), s"no whole-stage codegen span:\n$plan")
    assert(df.filter(abs(col("c") - 1.0) < 1e-9).count() === 10)
  }
}
