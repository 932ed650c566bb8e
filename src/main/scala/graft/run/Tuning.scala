package graft.run

/** Data-derived session sizing.
  *
  * AQE's `initialPartitionNum` must track DATA, not core count: the
  * melt-heavy pipelines expand compressed parquet 30-50x into shuffle
  * state, and a constant width that fits one scale factor starves the
  * next (measured: 256 partitions fit <=30x the sf0.1 corpus on a 12g
  * heap; the 90x entity pipeline needed 1024 or it died with
  * AGGREGATE_OUT_OF_MEMORY). A real cluster derives width from executor
  * count; a local harness must derive it from input size. One initial
  * partition per MB of compressed input covers both measured points
  * (sf0.1 ~= 17 MB -> floor 256; 90x ~= 1.5 GB -> ~1530 >= the 1024
  * that was needed), and AQE coalesces the small stages back down so
  * over-width costs nothing but scheduler overhead.
  */
object Tuning {

  /** Total bytes under a testdata directory (flat parquet files). */
  def inputBytes(sfDir: String): Long = {
    def size(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(size).sum).getOrElse(0L)
      else f.length()
    size(new java.io.File(sfDir))
  }

  /** ~1 initial shuffle partition per MB of compressed input, clamped
    * to [256, 16384]. */
  def initialPartitions(sfDir: String): Int =
    math.min(16384L, math.max(256L, inputBytes(sfDir) >> 20)).toInt
}
