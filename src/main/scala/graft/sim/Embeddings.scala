package graft.sim

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Embedding-column maintenance operators: L2 normalization and int8
  * scalar quantization — the storage/compute prep steps of an
  * embedding corpus (normalize before cosine ANN so dot = cosine;
  * quantize to shrink a 100 TB vector store 4× before indexing).
  *
  * Both are single-scan column transforms — no shuffle, no UDFs. Per
  * the repo-wide higher-order-function rule (TextFunctions,
  * Similarity), every lambda references a materialized column: the
  * norm/scale is computed into its own column first, NEVER re-expanded
  * inside the per-element lambda (which would multiply the interpreted
  * cost by the vector dimension).
  *
  * Quantization is defined as `floor(x·scale + 0.5)` with
  * `scale = 127 / max|x|` — explicitly, not via `round()`, because
  * round's half-case tie-breaking differs across engines while floor
  * is engine-neutral (the DuckDB oracle states the identical formula).
  */
object Embeddings {

  /** Add `unit` = the L2-normalized vector (array<double>). Zero
    * vectors normalize to null (0/0 would be NaN). Runs on the native
    * one-pass kernel ([[graft.functions.L2NormalizeExpr]]) — the
    * composed form below is the definitional twin it is asserted
    * bit-identical to (EmbeddingsSpec). */
  def withL2Normalized(df: DataFrame, vecCol: String): DataFrame =
    df.withColumn("unit", graft.functions.L2NormalizeExpr(col(vecCol)))

  /** The composed-HOF definition of [[withL2Normalized]] — kept as the
    * spec reference. NOT the hot path: CollapseProject inlines the
    * multi-referenced `__n` column into the per-element lambda,
    * re-deriving the interpreted norm once per element (a dim×
    * blow-up; 72 s of task time to normalize the 90× corpus vs ~1 s
    * native). */
  private[graft] def withL2NormalizedComposed(df: DataFrame, vecCol: String): DataFrame =
    df.withColumn("__n", Similarity.norm(col(vecCol)))
      .withColumn("unit",
        when(col("__n") > 0.0,
          transform(col(vecCol), x => x.cast("double") / col("__n"))))
      .drop("__n")

  /** Add `q` = int8-range quantized vector (array<int> in
    * [-127, 127]) and `q_scale` = the per-vector scale, so
    * `q / q_scale` dequantizes. Native one-pass kernels
    * ([[graft.functions.Int8QuantizeExpr]] /
    * [[graft.functions.Int8ScaleExpr]]) — the composed form below is
    * the spec-asserted definitional twin, subject to the same
    * CollapseProject per-element re-derivation as the normalize. */
  def withInt8Quantized(df: DataFrame, vecCol: String): DataFrame =
    df.withColumn("q_scale", graft.functions.Int8ScaleExpr(col(vecCol)))
      .withColumn("q", graft.functions.Int8QuantizeExpr(col(vecCol)))

  /** Composed-HOF definition of [[withInt8Quantized]] (spec
    * reference; not the hot path — see [[withL2NormalizedComposed]]). */
  private[graft] def withInt8QuantizedComposed(df: DataFrame, vecCol: String): DataFrame =
    df.withColumn("__maxabs",
      array_max(transform(col(vecCol), x => abs(x.cast("double")))))
      .withColumn("q_scale",
        when(col("__maxabs") > 0.0, lit(127.0) / col("__maxabs")))
      .withColumn("q",
        when(col("q_scale").isNotNull,
          transform(col(vecCol),
            x => floor(x.cast("double") * col("q_scale") + 0.5).cast("int"))))
      .drop("__maxabs")
}
