package graft.temporal

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}

/** Time-series joins Spark lacks as built-ins, in their shuffle-minimal
  * forms (absent in the reference — its only temporal op is the
  * `?since` cutoff filter, av-audio.sparql:220; added as first-class
  * operators a large-scale event/training-data pipeline needs).
  *
  * Both deliberately avoid the naive theta-join formulation: Spark
  * plans an inequality join as BroadcastNestedLoop or a cartesian
  * product, which is quadratic and dead at any real scale. The shapes
  * here are the ones that survive 100 TB:
  *
  *  - [[asOfJoin]]: union + one window pass — ONE shuffle on the key,
  *    one sort, zero fan-out, regardless of how many right rows precede
  *    each left row.
  *  - [[rangeJoin]]: bucketed equi-join — interval fan-out is bounded
  *    by `ceil(len/bucket)+1` rows per interval, and each qualifying
  *    pair is produced exactly once (a point lives in exactly one
  *    bucket), so no dedup pass is needed.
  */
object TemporalJoins {

  /** Backward as-of join: append to each left row the latest right row
    * with `right.timeCol <= left.timeCol` on the same key (inclusive),
    * or nulls when none qualifies.
    *
    * Semantics (the classic merge_asof/ASOF JOIN, made fully
    * deterministic): ties among right rows at the same instant are
    * broken by the greatest `tieCol`; `toleranceUs` (same unit as the
    * time columns) drops matches older than `left.t - tolerance` —
    * since the candidate is the *latest* right row at-or-before t, if
    * it misses the tolerance every earlier one does too, so post-pick
    * filtering is exact.
    *
    * Plan shape: tag both sides, union, one window
    * (`partitionBy(key).orderBy(t, side, tie)` with `last(_, ignoreNulls)`
    * over the unbounded-preceding frame), filter back to left rows.
    * Right rows sort before left rows at an equal instant, which is
    * what makes the join inclusive. One hash shuffle on `key` + one
    * sort — the same cost as a single window aggregate, with no
    * per-pair fan-out; a skewed key degrades to a big sort partition,
    * which AQE handles like any other window skew.
    *
    * @param left      probe side; all its columns are preserved
    * @param right     build side
    * @param key       equi-key column name present on both sides
    * @param leftTime  long (µs) event-time column on `left`
    * @param rightTime long (µs) event-time column on `right`
    * @param tieCol    right-side column breaking equal-instant ties
    *                  (greatest wins); must cast to long
    * @param valueCols right-side columns to append to matched left rows
    *
    * The output column `asof_t` carries the matched right row's time
    * (null when unmatched).
    */
  def asOfJoin(left: DataFrame, right: DataFrame, key: String,
               leftTime: String, rightTime: String, tieCol: String,
               valueCols: Seq[String],
               toleranceUs: Option[Long] = None): DataFrame = {
    val matchedTimeCol = "asof_t"
    val leftCarry = left.columns.filterNot(_ == key).toSeq
    // Null literals of the exact struct types, so both union arms line
    // up without resolving columns across frames.
    val lrowType = StructType(left.schema.fields.filterNot(_.name == key))
    val rvType = StructType(
      StructField(matchedTimeCol, right.schema(rightTime).dataType, nullable = true) +:
        valueCols.map(c => right.schema(c).copy(nullable = true)))

    // A NULL-timestamped right row has no position in the as-of order
    // but would SORT FIRST under the window's ascending ordering
    // (NULLS FIRST) and become the "most recent" match for every left
    // row before the first real right row — and, tie-breaking by
    // __side, even for a NULL-timestamped left row. It can never be
    // a correct match, so it is excluded up front; NULL-timestamped
    // LEFT rows stay (they sort before every surviving right row and
    // get the no-match NULL struct).
    val r = right.filter(col(rightTime).isNotNull).select(
      col(key), col(rightTime).as("__t"), lit(0).as("__side"),
      col(tieCol).cast("long").as("__tie"),
      struct((col(rightTime).as(matchedTimeCol) +: valueCols.map(col)): _*).as("__rv"),
      lit(null).cast(lrowType).as("__lrow"))
    val l = left.select(
      col(key), col(leftTime).as("__t"), lit(1).as("__side"),
      lit(null).cast("long").as("__tie"),
      lit(null).cast(rvType).as("__rv"),
      struct(leftCarry.map(col): _*).as("__lrow"))

    val w = Window.partitionBy(col(key))
      .orderBy(col("__t"), col("__side"), col("__tie"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val matchedRaw = last(col("__rv"), ignoreNulls = true).over(w)
    val inTol: Column => Column = m => toleranceUs match {
      case Some(tol) => m.isNotNull && (col("__t") - m(matchedTimeCol) <= tol)
      case None      => m.isNotNull
    }
    r.unionByName(l)
      .select(col(key), col("__t"), col("__side"), col("__lrow"),
        when(inTol(matchedRaw), matchedRaw).as("__m"))
      .filter(col("__side") === 1)
      .select(
        (col(key) +: leftCarry.map(c => col(s"__lrow.$c").as(c))) ++
          (col(s"__m.$matchedTimeCol").as(matchedTimeCol) +:
            valueCols.map(c => col(s"__m.$c").as(c))): _*)
  }

  /** Point-in-interval range join: every (point, interval) pair with
    * `startCol <= pointTime <= endCol` (inclusive both ends), as an
    * inner join carrying all columns of both inputs. No equi-key is
    * required — this is the keyless case that a theta-join would turn
    * into a cartesian product.
    *
    * Plan shape: time is cut into fixed `bucketUs` buckets; each
    * interval explodes to the buckets it overlaps, each point maps to
    * its single bucket, and the candidate set is the bucket equi-join
    * refined by the exact containment predicate. A pair can only meet
    * in the point's unique bucket, so pairs are emitted exactly once —
    * no dedup shuffle. Cost is linear: points + Σ(interval span /
    * bucket) rows through one hash shuffle.
    *
    * Pick `bucketUs` near the typical interval length: too small
    * multiplies interval fan-out, too large widens the candidate set
    * the residual predicate must discard. Malformed intervals
    * (end < start) match nothing and are dropped up front. Columns must
    * not collide — alias the inputs before calling. Times must be
    * non-negative (µs epochs are), so truncating division == floor.
    *
    * Fan-out is guarded: one interval spanning more than
    * `maxBucketsPerInterval` buckets (a whole-axis interval against a
    * fine bucket) fails the job with a diagnostic instead of silently
    * exploding into millions of rows — the error is raised inside the
    * scan, before any explode output exists.
    */
  def rangeJoin(points: DataFrame, intervals: DataFrame,
                pointTime: String, startCol: String, endCol: String,
                bucketUs: Long,
                maxBucketsPerInterval: Int = 1 << 20): DataFrame = {
    require(bucketUs > 0, "bucketUs must be positive")
    // Double division then truncate: IEEE rounding and truncation are
    // both monotonic, and routing only needs bucketOf(a) <= bucketOf(t)
    // <= bucketOf(b) for a <= t <= b — exact membership is decided by
    // the containment filter, never by the bucket id.
    def bucketOf(c: Column): Column = (c.cast("long") / bucketUs).cast("long")
    val fan = bucketOf(col(endCol)) - bucketOf(col(startCol)) + 1
    val iv = intervals
      .filter(col(startCol) <= col(endCol))
      // filter (not a pruneable projection) so the guard always runs
      .filter(when(fan > maxBucketsPerInterval,
        raise_error(concat(
          lit("rangeJoin: an interval spans "), fan.cast("string"),
          lit(s" buckets of $bucketUs — over the $maxBucketsPerInterval" +
            " fan-out guard; widen bucketUs, split the interval, or raise" +
            " maxBucketsPerInterval"))))
        .otherwise(lit(true)))
      .withColumn("__b", explode(sequence(bucketOf(col(startCol)), bucketOf(col(endCol)))))
    val pt = points.withColumn("__b", bucketOf(col(pointTime)))
    pt.join(iv, Seq("__b"))
      .filter(col(pointTime) >= col(startCol) && col(pointTime) <= col(endCol))
      .drop("__b")
  }
}
