package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

import graft.source.QuadSource

/** One registered correctness/bench query.
  *
  * `run` builds the DataFrame over the testdata directory `dir`;
  * `oracle` is the equivalent DuckDB SQL over the same tables (None for
  * operators that are not SQL-expressible — the driver then records a
  * weaker rows-only check).
  *
  * Column names are aliased identically on both sides because the
  * driver's comparator sorts columns by name before hashing values.
  */
final case class Q(
    name: String,
    oracle: Option[String],
    run: (SparkSession, String) => DataFrame
)

/** Per-JVM cache of deterministic streaming feed directories.
  *
  * The streaming replay queries build their file-source feeds from the
  * testdata alone, so the feed for a given (query, sfDir) pair is
  * byte-identical across invocations — but the bench re-runs each query
  * 4x (warm-up + timed) and was paying the slice-writing jobs every
  * time, measuring feed construction instead of the operator. Caching
  * the built feed keeps the timed runs on the streaming machinery
  * itself and stops per-run temp directories from accumulating.
  * (Per-run state — checkpoint dirs, output tables, memory sinks —
  * stays per-run; only the immutable input feed is shared.)
  *
  * Key discipline: the key must encode EVERY feed-defining parameter
  * (subsample modulus, slice boundaries, sentinel offsets, …), not
  * just query-name + sfDir — otherwise a slicing change landing
  * without a key bump makes a long-lived JVM silently serve the stale
  * pre-change feed, and the resulting oracle mismatch gets
  * misattributed to the operator under test. Callers spell the
  * parameters out in the key string so a change to either is visible
  * in the same diff hunk.
  */
object FeedCache {
  private val dirs = new java.util.concurrent.ConcurrentHashMap[String, String]()
  def apply(key: String)(build: String => Unit): String =
    dirs.computeIfAbsent(key, _ => {
      val dir = java.nio.file.Files.createTempDirectory("graft_feed").toString
      build(dir)
      dir
    })
}

/** Scoped scratch directories for gates that exercise an at-rest
  * round trip (index save/load): the body must leave nothing lazy
  * that still reads `dir` — persist gates eagerly materialize the
  * loaded-index result (`localCheckpoint`) before returning — because
  * the directory is deleted on exit. Without this, every bench
  * iteration leaked a full saved index (normalized corpus included)
  * into `java.io.tmpdir` — often tmpfs on the bench boxes. */
object Scratch {
  def withDir[A](prefix: String)(body: String => A): A = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    try body(dir.toString)
    finally {
      import java.nio.file.{Files, Path}
      import java.util.Comparator
      val s = Files.walk(dir)
      try s.sorted(Comparator.reverseOrder[Path]())
        .forEach(p => Files.deleteIfExists(p))
      finally s.close()
    }
  }
}

/** View-shaped quads melted from relational testdata rows. Every
  * quad-path gate builds its feed the same way: one `quad` per
  * statement, exploded per row by `explode` — a narrow transformation,
  * no shuffle. */
object Quads {
  private val NoStr = lit(null).cast("string")

  /** One statement of a melted row. The object is cast to string at
    * the melt; datatype and graph are NULL. */
  final case class Quad(subject: Column, predicate: String, obj: Column,
                        lang: Option[String])

  def quad(subject: Column, predicate: String, obj: Column,
           lang: Option[String] = None): Quad = Quad(subject, predicate, obj, lang)

  /** Each row of `rows` melted into its `quads`, in `QuadSource.schema`
    * form. A quad whose object is NULL is dropped: an absent optional
    * value melts to no quad. When all quads share one subject it stays
    * a row column, so a consumer's filter on it (a join's inferred
    * `isnotnull`) is pushed below the explode onto the scan, and the
    * subject is computed only for the quads that pass the consumer's
    * filters. Otherwise each distinct subject is evaluated once per row
    * before the explode, and each quad's struct carries all six
    * fields. */
  def frame(rows: DataFrame, quads: Quad*): DataFrame = {
    val subjects = quads.map(_.subject).distinct
    def po(q: Quad): Seq[Column] = Seq(lit(q.predicate).as("predicate"),
      q.obj.cast("string").as("obj"), q.lang.fold(NoStr)(lit).as("lang"))
    if (subjects.size == 1)
      rows.select(subjects.head.as("subject"),
          explode(array(quads.map(q => struct(po(q): _*)): _*)).as("t"))
        .filter(col("t.obj").isNotNull)
        .select(col("subject"), col("t.predicate").as("predicate"),
          col("t.obj").as("obj"), col("t.lang").as("lang"),
          NoStr.as("datatype"), NoStr.as("graph"))
    else
      rows.select(col("*") +: subjects.indices.map(i => subjects(i).as(s"__s$i")): _*)
        .select(explode(array(quads.map(q => struct(
          col(s"__s${subjects.indexOf(q.subject)}").as("subject") +: po(q) :+
            NoStr.as("datatype") :+ NoStr.as("graph"): _*)): _*)).as("t"))
        .filter(col("t.obj").isNotNull)
        .select(QuadSource.schema.fieldNames.map(f => col(s"t.$f").as(f)).toSeq: _*)
  }
}

/** Deterministic file-feed replay for the streaming gates.
  *
  *  - batch ORDER is pinned by explicit file modification times (the
  *    file source triggers oldest-first), so the replay is
  *    reproducible run over run;
  *  - `drain` reads one file per micro-batch and runs the query to
  *    exhaustion (`AvailableNow`) into a memory sink.
  */
object Replay {

  /** Run `body` with session conf `key` set to `value`, restoring the
    * previous value afterwards — Verify/Bench share one session across
    * the battery. */
  def withConf[A](s: SparkSession, key: String, value: String)(body: => A): A = {
    val prev = s.conf.getOption(key)
    s.conf.set(key, value)
    try body
    finally prev match {
      case Some(v) => s.conf.set(key, v)
      case None    => s.conf.unset(key)
    }
  }

  /** Run `body` with `spark.sql.shuffle.partitions` pinned to `n`,
    * restoring the previous value afterwards. The replay feeds are
    * deliberately tiny (the gates prove STATE CONTRACTS — watermark
    * eviction, cross-batch state, topo-ordered merges — not volume),
    * but every stateful operator opens a state-store instance PER
    * SHUFFLE PARTITION per micro-batch: at the battery's 32
    * partitions, the 4-batch outer join opened ~hundreds of store
    * instances to shuffle a few thousand rows, and that store churn —
    * not the operators — dominated ~31 s of battery time (r13 verdict
    * #2). Partition count is a volume dial, not a semantics dial:
    * state contracts are per-key and every gate orderBy's its result,
    * so the oracle hash is invariant. A real deployment sizes shuffle
    * partitions to its stream volume exactly the same way. */
  def withShufflePartitions[A](s: SparkSession, n: Int)(body: => A): A =
    withConf(s, "spark.sql.shuffle.partitions", n.toString)(body)

  /** Run `body` with the RocksDB state store provider — the provider a
    * full-corpus deployment uses (state no longer bounded by executor
    * heap; see EventTimeOps scaladoc). Gating the custom-state queries
    * on it proves the sessionize/dedup state contracts are not
    * HDFSBackedStateStore-only: same oracle hashes either way.
    * `GRAFT_STATE_STORE=hdfs` opts out (e.g. a platform without the
    * rocksdbjni native lib). */
  private def withRocksDb[A](s: SparkSession)(body: => A): A =
    if (sys.env.get("GRAFT_STATE_STORE").contains("hdfs")) body
    else withConf(s, "spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state." +
        "RocksDBStateStoreProvider")(body)

  /** Bytes of the files directly under `dir` (0 when unreadable). */
  def dirBytes(s: SparkSession, dir: String): Long =
    try {
      val p = new Path(dir)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.listStatus(p).filter(_.isFile).map(_.getLen).sum
    } catch { case _: Exception => 0L }

  /** Data-derived shuffle width for a replay feed: ~1 MB of feed
    * parquet per partition, floored at 4 and capped at the session's
    * core count. At sf0.1 every feed is well under 4 MB → width 4; at
    * 90× the same feeds carry 90× the rows and derive back up to the
    * full width — a fixed width would either pay store churn at sf
    * scale or starve the 90× replay (both measured; see
    * withShufflePartitions). */
  def replayPartitions(s: SparkSession, feedDir: String): Int = {
    val bytes = dirBytes(s, feedDir)
    math.max(4, math.min(s.sparkContext.defaultParallelism, (bytes >> 20).toInt))
  }

  /** Append `df` to the feed `dir` as its slice `seq` (one file), and
    * pin the batch order by modification time. */
  def writeSlice(df: DataFrame, dir: String, seq: Int): Unit = {
    val spark = df.sparkSession
    df.coalesce(1).write.mode("append").parquet(dir)
    // pin the batch order: the file source sorts by modification time
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val status = fs.listStatus(new Path(dir))
      .filter(f => f.getPath.getName.startsWith("part-"))
      .sortBy(_.getModificationTime)
    status.zipWithIndex.foreach { case (f, i) =>
      fs.setTimes(f.getPath, 1000000000000L + i * 10000L, -1)
    }
    require(status.length == seq + 1, s"expected ${seq + 1} slice files")
  }

  /** Write `ev` as `n` ascending event-time slices (slices 0 until n)
    * of equal time span, cut on the millisecond grid of its `ts`
    * column. Ascending order means no slice can fall behind the
    * watermark. Returns the last event's epoch-millis, from which
    * callers place their sentinels. */
  def writeTimeSlices(ev: DataFrame, n: Int, dir: String): Long = {
    val mm = ev.agg(unix_millis(min(col("ts"))), unix_millis(max(col("ts")))).head()
    val (lo, hi) = (mm.getLong(0), mm.getLong(1))
    val ms = unix_millis(col("ts"))
    val cuts = (1 until n).map(k => lo + k * ((hi - lo) / n))
    for (i <- 0 until n) {
      val after = if (i == 0) lit(true) else ms >= cuts(i - 1)
      val before = if (i == n - 1) lit(true) else ms < cuts(i)
      writeSlice(ev.filter(after && before), dir, i)
    }
    hi
  }

  /** The feed `feed` (rows of `schema`) as a file-source stream of one
    * file per micro-batch, oldest first. */
  def source(s: SparkSession, feed: String, schema: StructType): DataFrame =
    s.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(feed)

  /** Replay `feed` (rows of `schema`) one file per micro-batch through
    * `query` into a uniquely named memory sink, under `AvailableNow`,
    * and return the sink's table. `query` receives the feed's source
    * and may open it more than once (one stream per join side). The
    * shuffle width derives from the feed (`replayPartitions`); `rocksDb`
    * selects the RocksDB state store. Both settings are restored on
    * return and on failure, and a failed query's exception propagates. */
  def drain(s: SparkSession, feed: String, schema: StructType,
            rocksDb: Boolean = false)(
      query: (() => DataFrame) => Dataset[_]): DataFrame =
    withShufflePartitions(s, replayPartitions(s, feed)) {
      def run: DataFrame = {
        val name = s"graft_drain_${System.nanoTime()}"
        val q = query(() => source(s, feed, schema))
          .writeStream.format("memory").queryName(name)
          .trigger(Trigger.AvailableNow())
          .outputMode("append").start()
        try q.awaitTermination() finally q.stop()
        s.table(name)
      }
      if (rocksDb) withRocksDb(s)(run) else run
    }
}

/** Testdata table loader (TESTDATA.md: one parquet file per table). */
object Td {
  def apply(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Event-time accessors, adaptive to the physical type the parquet
    * writer chose for `events.ts`. The testdata has shipped it two
    * ways so far: TIMESTAMP(NANOS) surfaced as nanos-since-epoch LONG
    * (under `spark.sql.legacy.parquet.nanosAsLong=true`), and — since
    * the round-9 regeneration — TIMESTAMP_MICROS with
    * isAdjustedToUTC=0, which Spark reads as TIMESTAMP_NTZ. A real
    * user's parquet (Spark's, DuckDB's, pandas' default writers) is
    * the MICROS form. Resolving the type from the DataFrame schema at
    * plan-build time keeps every battery green on either encoding and
    * costs nothing at run time.
    *
    * All three accessors agree with the DuckDB oracle exactly:
    * `tsUs` is integer µs identical to `epoch_us(ts)` (DuckDB reads
    * ns-parquet at µs precision too, so µs is the common grid), and
    * sessions run with `spark.sql.session.timeZone=UTC`, making the
    * NTZ→instant cast the identity the oracle's naive-as-UTC reading
    * implies.
    */
  def tsUs(df: DataFrame, name: String = "ts"): Column =
    df.schema(name).dataType match {
      case TimestampType    => unix_micros(col(name))
      case TimestampNTZType => unix_micros(col(name).cast(TimestampType))
      // legacy nanos-as-long: exact integer FLOOR division (the time-
      // grid convention everywhere — `unix_millis`/`unix_micros` floor,
      // DuckDB's `//` floors; plain `div` truncates toward zero and
      // would disagree one grid cell on pre-epoch instants). Stays in
      // integer arithmetic: ns magnitudes ~1.7e18 overflow double's
      // 2^53 exact range.
      case LongType         => floorDiv(name, 1000L)
      case other => throw new IllegalArgumentException(
        s"unsupported event-time type for `$name`: $other " +
          "(expected timestamp, timestamp_ntz, or nanos-as-long)")
    }

  /** Exact integer floor division of a LONG column: subtract the
    * (always non-negative) `pmod` remainder first, so `div` acts on an
    * exact multiple where truncation and floor coincide. All-integer —
    * a double detour would lose ns-magnitude (~2^63) exactness.
    * `div` has no Column-API form, so the name is backtick-quoted into
    * the SQL fragment (doubled backticks escape) — a column named with
    * spaces/dots/hyphens binds correctly instead of failing to parse. */
  private def floorDiv(name: String, k: Long): Column = {
    val q = "`" + name.replace("`", "``") + "`"
    expr(s"($q - pmod($q, ${k}L)) div ${k}L")
  }

  /** Event-time as a µs-precision `TimestampType` column (for
    * `window()` / `session_window()` / watermark feeds). */
  def tsStamp(df: DataFrame, name: String = "ts"): Column =
    df.schema(name).dataType match {
      case TimestampType    => col(name)
      case TimestampNTZType => col(name).cast(TimestampType)
      case LongType         => timestamp_micros(floorDiv(name, 1000L))
      case other => throw new IllegalArgumentException(
        s"unsupported event-time type for `$name`: $other")
    }

  /** Event-time truncated to integer epoch-millis (the streaming
    * state grid — matches the oracle's `epoch_us(ts) // 1000`). */
  def tsMs(df: DataFrame, name: String = "ts"): Column =
    df.schema(name).dataType match {
      case TimestampType    => unix_millis(col(name))
      case TimestampNTZType => unix_millis(col(name).cast(TimestampType))
      case LongType         => floorDiv(name, 1000000L)
      case other => throw new IllegalArgumentException(
        s"unsupported event-time type for `$name`: $other")
    }
}
