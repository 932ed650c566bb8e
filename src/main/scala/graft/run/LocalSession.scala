package graft.run

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one local battery session: Bench, Verify, ScaleUp and the
  * inspection tool all run on this configuration, so a plan printed or
  * a profile taken is the plan Bench times, and every entry point frees
  * a query's storage the same way.
  */
object LocalSession {

  /** Testdata directory the battery runs on unless told otherwise. */
  def defaultSfDir: String =
    sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  /** `local[SPARK_GRAFT_CPUS]` (else `defaultCpus`) sized for the data
    * under `sfDir`. `extra` adds per-caller settings on top (Bench's
    * `spark.local.dir`). */
  def build(defaultCpus: Int, sfDir: String,
            extra: Map[String, String] = Map.empty): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      // Partition count must track DATA, not core count (measured:
      // AGGREGATE_OUT_OF_MEMORY at sf1 with 32). Width is derived from
      // the input size (see Tuning.initialPartitions) so scale runs no
      // longer need hand knobs; AQE coalesces small stages back down.
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        Tuning.initialPartitions(sfDir).toString)
      // Execution-heavy battery: checkpointed pipeline inputs should
      // yield to aggregation/sort memory instead of pinning half the
      // unified pool (they spill to disk gracefully; an aggregation
      // that cannot get pages dies). Default 0.5 protected storage
      // starved 32 concurrent agg tasks at sf1.
      .config("spark.memory.storageFraction", "0.2")
      // ContextCleaner frees checkpoint/broadcast blocks only on GC; a
      // big-heap JVM may not GC for the whole battery, so stale blocks
      // squeeze execution memory (observed: one query 4.9s standalone →
      // 134s mid-battery). The explicit System.gc() calls (Bench's
      // settle(), release()) cover between-run frees; the periodic one
      // is a backstop only — at 30s it fired MID-RUN and a full pause
      // on a 12g heap showed up as sporadic 12-21s outliers on 4s
      // queries.
      .config("spark.cleaner.periodicGC.interval", "5min")
      // The generated-class cache defaults to 100 entries; a 100+-query
      // battery holds far more codegen stages, and eviction forces the
      // widest plan (~40 stages) to recompile on every run — measured
      // 4.9s standalone vs 85s mid-battery for the same query. Static
      // conf, so it must be set before the session exists.
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.sql.session.timeZone", "UTC")
      // legacy testdata compat: ns-encoded events.ts surfaces as LONG nanos
      // (a no-op on the current TIMESTAMP_MICROS testdata — Td.tsUs adapts).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config(extra)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Run `df` to completion without collecting it; returns the wall
    * seconds from building `df` (by-name, so plan construction counts)
    * to the end of the run. A `noop`-format write, not `count()`: count
    * lets Catalyst prune unreferenced projections, so a scalar-heavy
    * query would run as a column-pruned scan instead of the operator. */
  def force(df: => DataFrame): Double = {
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  /** Free everything a query left in the session, so the next one
    * starts from the same footprint:
    *  - cached pipeline inputs (ensurePersisted's default mode);
    *  - persistent RDDs — localCheckpoint blocks that would otherwise
    *    wait for a GC-driven ContextCleaner pass;
    *  - temp views, e.g. memory-sink views from streaming replays,
    *    which pin their full result rows in driver heap via the
    *    catalog.
    * The closing GC lets the ContextCleaner drop unreferenced
    * checkpoint and broadcast blocks now rather than mid-next-query. */
  def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
    spark.catalog.listTables().collect()
      .filter(_.isTemporary)
      .foreach(t => spark.catalog.dropTempView(t.name))
    System.gc()
  }
}
