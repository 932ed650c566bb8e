package graft.view

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.model.Ns

/** Graph-pattern primitives — the Spark re-expression of SPARQL WHERE
  * machinery (SURVEY.md §2.2 #10, §2.3 #18-25).
  *
  * A triple pattern `?s <p> ?o` is a predicate-filtered slice of the quad
  * table; shared variables between patterns become equi-joins. Each slice
  * carries (s, o, lang) under caller-chosen aliases so multi-pattern
  * pipelines read like the SPARQL they implement.
  *
  * Scale notes: every `po` slice pushes `predicate = <iri>` into the
  * Parquet scan; pattern joins shuffle on the join variable. Star joins
  * around one entity variable co-partition on `s` after the first
  * shuffle, so Catalyst reuses the exchange across patterns of the same
  * subject.
  */
object Patterns {

  /** Construct pipelines slice their quad input 10-25× — one
    * predicate-filtered scan per pattern. When the input is a derived
    * frame (a melt, an NT/Turtle parse, a filtered slice) every slice
    * would recompute the whole upstream tree, so pipelines materialize
    * their input on entry.
    *
    * Materialization is `persist` (serialized compressed columnar, at
    * [[adaptiveLevel]]): measured faster than `localCheckpoint` at sf0.1
    * (entity pipeline 9.4 → 7.9 s, families 17.4 → 14.3 s) and the only
    * mode that survives 10× data on the same heap — checkpoint stores
    * DESERIALIZED rows, and a 69M-quad melt OOMs a 12 GiB driver
    * (AGGREGATE_OUT_OF_MEMORY) where the columnar cache of the same
    * frame fits in ~1/10th the bytes and evicts to disk under pressure.
    * Lifetime: CacheManager keys entries by canonicalized plan, so
    * re-invoking the same pipeline REUSES one entry (no per-invocation
    * leak); distinct inputs add entries that spill/evict LRU rather
    * than pinning heap. (An earlier measurement blaming persist for
    * 8 s → 46 s degradation over repeated runs was re-traced to JIT
    * code-cache exhaustion, fixed in build.sbt since round 6.)
    * A caller that already persisted its input is left untouched. At
    * 100 TB the pipeline input is the graph-pruned org slice, not the
    * full corpus — that is the frame being materialized. */
  def ensurePersisted(df: DataFrame,
                      inflation: Long = CacheInflation): DataFrame =
    if (df.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
      df.persist(adaptiveLevel(df, inflation))
    else df

  /** Leaf parquet bytes of a plan, or None when any leaf lacks real
    * size statistics (e.g. a LogicalRDD from a localCheckpoint'd
    * upstream reports spark.sql.defaultSizeInBytes = Long.MaxValue —
    * unknown means unknown, not infinite; r13 advice). */
  private[graft] def leafParquetBytes(df: DataFrame): Option[BigInt] = {
    val unknownFloor =
      try BigInt(df.sparkSession.sessionState.conf.defaultSizeInBytes)
      catch { case _: Exception => BigInt(Long.MaxValue) }
    val leafSizes =
      try df.queryExecution.optimizedPlan.collectLeaves().map(_.stats.sizeInBytes)
      catch { case _: Exception => Seq(BigInt(-1)) }
    if (leafSizes.exists(s => s < 0 || s >= unknownFloor)) None
    else Some(leafSizes.sum)
  }

  /** Width to repartition a NARROW frame to before materializing or
    * running per-row kernels over it — or None when the scan is
    * already wide enough to feed the cluster.
    *
    * Rationale (r19 profile): a parquet scan parallelizes by ROW
    * GROUPS, and small-to-medium inputs are routinely a single row
    * group — every downstream map-side kernel (normalize/shingle/
    * minhash, melt explodes, branch aggregations over a cached melt)
    * then runs in ONE task while the other cores idle (measured:
    * q_entity_families' branch stages at task_s ≈ wall_s, 5-6 s each
    * on a 32-core box). The scan-side estimate is leaf parquet bytes
    * over `spark.sql.files.maxPartitionBytes` — when that reaches the
    * session's core count the scan feeds every core by itself and a
    * repartition would only add an exchange (at 100 TB this derivation
    * always returns None); when it does not, spread to
    * max(defaultParallelism, inflatedBytes/64 MB) so the frame also
    * lands in sanely-sized partitions at mid scales. Derived from data
    * size and core count — no constant tuned to either local mode or a
    * cluster.
    */
  private[graft] def spreadWidth(df: DataFrame, inflation: Long): Option[Int] = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    leafParquetBytes(df).flatMap { leafBytes =>
      val maxSplit =
        try df.sparkSession.sessionState.conf.filesMaxPartitionBytes
        catch { case _: Exception => 128L << 20 }
      val scanSplits = (leafBytes / BigInt(math.max(1L, maxSplit))).toLong + 1
      if (scanSplits >= par) None
      else {
        val target = 64L << 20
        val byBytes = (leafBytes * inflation / target).toLong + 1
        Some(math.min(16384L, math.max(par.toLong, byBytes)).toInt)
      }
    }
  }

  /** Round-robin repartition of a narrow input per [[spreadWidth]];
    * identity when the scan is already wide or stats are unknown.
    * Row order is not part of any declared result (oracle gates sort;
    * aggregations are order-free), so the spread is result-identical.
    */
  private[graft] def spreadNarrow(df: DataFrame,
                                  inflation: Long = CacheInflation): DataFrame = {
    // A plan that already carries a repartition (an operator spread its
    // own input upstream of its kernels, e.g. Dedup.sigProjection) is
    // already wide — a second exchange here would shuffle the computed
    // rows again for nothing.
    val alreadySpread =
      try df.queryExecution.logical.exists {
        case _: org.apache.spark.sql.catalyst.plans.logical.Repartition => true
        case _: org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression => true
        case _ => false
      } catch { case _: Exception => false }
    if (alreadySpread) df
    else spreadWidth(df, inflation).map(df.repartition).getOrElse(df)
  }

  /** Storage level derived from the input's size relative to the heap
    * (round-12 verdict task 3). MEMORY_AND_DISK spills gracefully once
    * built, but BUILDING a cache bigger than the heap competes with
    * execution memory for unroll space — at 90× data the entity melt's
    * cache build storage-starved a 12 GiB driver into MemoryStore
    * reserve failures and context shutdown, and the documented fix was
    * a hand knob (SPARK_DRIVER_MEM=24g). Instead, route inputs that
    * cannot plausibly fit in memory straight to DISK_ONLY: batches are
    * written out as they are built, storage never competes with the
    * aggregations running over them, and the round-11 A/B already
    * showed the disk path is only ~1.5-2× on shuffle-heavy work — a
    * price, not a death.
    *
    * The estimate is the sum of LEAF relation sizes (parquet bytes —
    * accurate and join-free; mid-plan stats after joins multiply into
    * nonsense) times [[CacheInflation]], the parquet→columnar cache
    * blow-up calibrated to the heaviest observed melt (the entity
    * pipelines explode ~30 urn-string quads per orders row). With the
    * default 12 GiB heap the 90× entity melt (~230 MB of orders
    * parquet → ~11 GB estimated cache) trips the gate; sf0.1 (~3 MB)
    * stays in memory, and the r12 workaround's 24 GiB heap keeps the
    * 90× melt in memory — matching what each was measured to
    * survive. */
  private[graft] def adaptiveLevel(df: DataFrame,
      inflation: Long = CacheInflation): org.apache.spark.storage.StorageLevel = {
    // Unknown leaf stats (see leafParquetBytes) keep the graceful
    // MEMORY_AND_DISK default: treating defaultSizeInBytes as a size
    // would silently force EVERY such input to DISK_ONLY (r13 advice).
    leafParquetBytes(df) match {
      case None =>
        System.err.println(
          "[graft.view] pipeline input has leaves without real size stats — keeping MEMORY_AND_DISK")
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      case Some(leafBytes) =>
        val level = chooseLevel(leafBytes, Runtime.getRuntime.maxMemory, inflation)
        if (level == org.apache.spark.storage.StorageLevel.DISK_ONLY)
          System.err.println(
            f"[graft.view] pipeline input est ${leafBytes.toDouble * inflation / 1e9}%.1f GB cached vs ${Runtime.getRuntime.maxMemory / 1e9}%.1f GB heap — persisting DISK_ONLY")
        level
    }
  }

  /** Inflation from parquet bytes to columnar-cache bytes for the
    * melted quad feeds this path materializes (dictionary+snappy
    * parquet vs lz4 cached batches of ~30× exploded urn-string rows).
    * Deliberately sized to the WORST materialized frame: overestimating
    * only moves a borderline cache to disk (a ~1.5-2× cost on the
    * queries over it), underestimating re-opens the 90× OOM. */
  private[graft] val CacheInflation = 50L

  /** Inflation hint for plain text/document frames (shingle sets,
    * posting frames, signature tables): their parquet→columnar-cache
    * blow-up is ~2-4×, not the melt's 50× — charging them the melt
    * rate would push comfortably-fitting caches onto the 1.5-2×
    * DISK_ONLY path at scale (r13 advice). Callers materializing
    * text-shaped inputs pass this to [[ensurePersisted]]. */
  val TextInflation = 4L

  /** Pure dispatch rule, spec-pinnable: DISK_ONLY once the estimated
    * cached bytes exceed half the heap. */
  private[graft] def chooseLevel(leafBytes: BigInt, maxHeap: Long,
      inflation: Long = CacheInflation): org.apache.spark.storage.StorageLevel =
    if (leafBytes * inflation > BigInt(maxHeap / 2))
      org.apache.spark.storage.StorageLevel.DISK_ONLY
    else org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

  /** `?s <pred> ?o` → DataFrame(s, value, value_lang). */
  def po(quads: DataFrame, pred: String, as: String): DataFrame =
    quads.filter(col("predicate") === pred)
      .select(col("subject").as("s"), col("obj").as(as), col("lang").as(s"${as}_lang"))

  /** `?s rdf:type <cls>` → DataFrame(s). */
  def typed(quads: DataFrame, cls: String): DataFrame =
    quads.filter(col("predicate") === Ns.RdfType && col("obj") === cls)
      .select(col("subject").as("s"))

  /** Property path `/` (sequence): `?s <p1>/<p2> ?o` through an anonymous
    * mid-node (reference: typescript/queries/organization.sparql:106
    * `org:hasSite/org:siteAddress`; av-audio.sparql:253).
    *
    * Cardinality caveat: RDF quads are a SET; this join assumes the
    * input honors that. A synthetic/melted feed that repeats the same
    * second-hop statement per referring row fans the join out by the
    * repeat count — when the hop ends in a single value per mid (label
    * lookups), aggregate the second hop BEFORE joining instead (see
    * EntityPipeline's hop2, where the raw form measured a
    * billion-row spill on a shared-thesauri-node feed). */
  def seqPath(quads: DataFrame, p1: String, p2: String, as: String): DataFrame = {
    val a = po(quads, p1, "mid")
    val b = po(quads, p2, as)
    a.join(b, a("mid") === b("s"))
      .select(a("s").as("s"), b(as), b(s"${as}_lang"))
  }

  /** Property path `|` (alternative): union of both predicate branches
    * (reference: typescript/queries/person.sparql:55
    * `schema:license|(rel:isp/schema:license)`). */
  def altPath(quads: DataFrame, p1: String, p2: String, as: String): DataFrame =
    po(quads, p1, as).unionByName(po(quads, p2, as))

  /** Property path `^` (inverse): subject/object roles swapped
    * (reference: typescript/queries/person.sparql:77 `^schema:mentions`;
    * iiif.sparql:96). */
  def invPath(quads: DataFrame, pred: String, as: String): DataFrame =
    quads.filter(col("predicate") === pred)
      .select(col("obj").as("s"), col("subject").as(as), lit(null).cast("string").as(s"${as}_lang"))

  /** N `OPTIONAL { ?s <pred> ?o }` single-value binds in ONE
    * aggregation pass, one row per s, for left-joining onto a base
    * match (reference: organization.sparql:69-126 OPTIONAL blocks
    * feeding single columns). Each spec is a conditional
    * `langPreferredFirst` (the nl-preferred rule, stream.ts:97-103)
    * over one multi-predicate slice, so N scalar OPTIONALs cost one
    * scan + one groupBy shuffle + one left join instead of N of each.
    * Null-value rows are excluded per aggregate (the `when` yields null
    * for other predicates), so each column sees only its own
    * predicate. A `langFilter` models `FILTER langMatches(lang(?o),
    * "nl")` inside the OPTIONAL (av-audio.sparql:277-283). Specs:
    * (predicate, outputCol, langFilter).
    *
    * Plan note: min-of-struct buffers are not UnsafeRow-mutable, so
    * this (like ANY string-valued min/max in Spark, measured
    * identically) plans as SortAggregate — the sorts are
    * partition-local, sized by the predicate-pruned slice, and
    * unavoidable without changing the deterministic
    * lexicographic-min-tie-break semantics the oracles state. */
  def optionalSingles(quads: DataFrame,
                      specs: Seq[(String, String, Option[String])]): DataFrame = {
    val preds = specs.map(_._1).distinct
    val aggs = singleAggs(specs)
    quads.filter(col("predicate").isin(preds: _*))
      .groupBy(col("subject"))
      .agg(aggs.head, aggs.tail: _*)
      .withColumnRenamed("subject", "s")
  }

  /** One conditional `langPreferredFirst` per (predicate, outputCol,
    * langFilter) spec over a multi-predicate quad slice: the value is
    * null on other predicates' rows, so each aggregate sees only its
    * own predicate. */
  private def singleAggs(specs: Seq[(String, String, Option[String])]) =
    specs.map { case (pred, as, langF) =>
      val v = langF match {
        case Some(l) =>
          when(col("predicate") === pred && col("lang").startsWith(l), col("obj"))
        case None => when(col("predicate") === pred, col("obj"))
      }
      graft.functions.Functions.langPreferredFirst(v, col("lang")).as(as)
    }

  /** `?s a <cls>` + N scalar binds on the SAME node in ONE aggregation
    * pass — the fused form of `typed(quads, cls).distinct + N
    * single-value binds + joins` (one scan + one shuffle instead of 1+N of
    * each). The type row is a `bool_or` flag over the same grouped
    * slice, so only `cls`-typed subjects survive; the distinct is free
    * (groupBy). Scalar semantics are optionalSingles': null when the
    * predicate is absent — callers modelling MANDATORY patterns filter
    * the null out (equivalent to the inner join of the unfused form). */
  def typedWithSingles(quads: DataFrame, cls: String,
                       specs: Seq[(String, String, Option[String])]): DataFrame = {
    val preds = specs.map(_._1).distinct
    val aggs = singleAggs(specs)
    quads.filter((col("predicate") === Ns.RdfType && col("obj") === cls) ||
        col("predicate").isin(preds: _*))
      .groupBy(col("subject"))
      .agg(bool_or(col("predicate") === Ns.RdfType && col("obj") === cls)
        .as("__typed"), aggs: _*)
      .filter(col("__typed")).drop("__typed")
      .withColumnRenamed("subject", "s")
  }

  /** `EXISTS { ?s <p1>/<p2> <obj> }` → DataFrame(s, <as>=true): one row
    * per subject where the two-hop path reaches `obj` — for left-joining
    * a boolean bind onto a base match (reference: av-audio.sparql:392-394
    * `BIND(EXISTS { ?pc ebucore:hasCaptioning/rdf:type
    * ebucore:OpenCaptions } AS ?car_ebucore_has_captioning)`). Both hops
    * are predicate-pushed scans; the semi-join keeps only reachable
    * subjects, and `distinct` guarantees at most one row per s. */
  def existsFlag(quads: DataFrame, p1: String, p2: String, obj: String,
                 as: String): DataFrame = {
    val hits = quads.filter(col("predicate") === p2 && col("obj") === obj)
      .select(col("subject").as("mid"))
    po(quads, p1, "mid").select(col("s"), col("mid"))
      .join(hits, Seq("mid"), "left_semi")
      .select(col("s")).distinct()
      .withColumn(as, lit(true))
  }
}
