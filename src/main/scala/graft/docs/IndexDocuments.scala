package graft.docs

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sink.Upsert

/** Index-document builder — the composed denormalization job
  * (reference: flows/queries/update_partition.sql: doc assembly :6-49,
  * aggregating laterals :76-357, window pick :136-151, partitioned
  * upsert :362-366; orchestration arc_db_load_index_tables_flow.py:229-282).
  *
  * The reference runs one ~360-line SQL statement *per organization
  * partition* in a Python loop. Spark-first shape: build every document
  * in ONE job — each correlated lateral becomes a decorrelated
  * `groupBy(entity).agg(...)` joined back (aggregate-before-join: the
  * shuffle moves one row per entity, not the child fan-out), the
  * priority pick is a window, and the partition loop disappears into
  * `partitionBy(index)` at write time.
  *
  * Exercised over the testdata star schema (customer = root entity,
  * orders = children): the composition — multi-lateral + window + JSON
  * doc + partition key — is the operator under test; JSON field types
  * are strings/ints/bools only, because float formatting inside JSON
  * diverges across engines.
  */
object IndexDocuments {

  private val RightsInC = "https://rightsstatements.org/vocab/InC/1.0/"
  private val RightsPD = "https://creativecommons.org/publicdomain/mark/1.0/"

  /** One document row per root entity:
    * (id, index, document, n_children, any_flag, duration_sec).
    *
    * The reference composes ~20 correlated laterals per document
    * (update_partition.sql:76-357). Spark-first those collapse into
    * THREE shuffle stages — every single-level child aggregate AND both
    * ordered picks ride ONE window shuffle (the window's hash
    * partitioning satisfies the groupBy's distribution, so the child
    * aggregates need no second exchange), the two-level roles object is
    * its own two-phase aggregate, and the grandchild (two-hop) laterals
    * ride one join+groupBy — then one multi-way left join assembles the
    * document. Aggregates run BEFORE the joins, so each join moves one
    * row per entity, never the child fan-out.
    *
    * Lateral shapes covered (reference lines in update_partition.sql):
    *  - sorted identifier jsonb_agg (:313-323 family)    → collect_list
    *  - count(*) + bool_or is_deleted (:339-345)         → one agg pass
    *  - MAX over UNION ALL duration (:84-102)            → decimal max
    *  - rights when-chain over agg set (:263-273)        → has_urgent
    *  - jsonb_agg(json_build_object(type, value)) (:76-81 premis ids)
    *      → sorted entry structs → array of 1-key maps
    *  - min/max date range (:84-102 date laterals)       → min/max
    *  - cover pick, latest child (:136-151)              → window rn=1
    *  - priority-format pick, ORDER BY CASE LIMIT 1 (:61-74)
    *      → second window over the SAME partition key (one shuffle)
    *  - roles two-level jsonb_object_agg of array_agg (:155-169,313-323)
    *      → two-phase groupBy → map<type, sorted names>
    *  - ordered transcript string_agg (:347-357)         → two-hop sort
    *  - distinct thumbnail jsonb_agg (:104-134)          → collect_set
    *  - fragment-children count, LIKE filter (:330-337)  → cond. count
    *  - rights-statement CASE over ANY(array_agg) (:246-252) → when over
    *      the distinct two-hop set
    *  - reuse categories over UNION ALL of two sources (:286-296)
    *      → unionByName feeding one distinct-set agg
    *  - location via the collection side-table (:298 RIGHT JOIN
    *      collections; standalone right-join semantics gated by
    *      q_right_outer) → two-hop scalar with an absent branch
    */
  def build(customer: DataFrame, orders: DataFrame, lineitem: DataFrame,
            nation: DataFrame): DataFrame = {
    // Stages 1+3 FUSED on one shuffle (round-10 profile: the 30→90×
    // exponent 1.25 traced to back-to-back full-row stages over the
    // same key): the ordered picks' window shuffle already moves every
    // child row hash-partitioned by the entity key, and
    // HashPartitioning(o_custkey) satisfies the subsequent groupBy's
    // ClusteredDistribution — so every single-level child lateral runs
    // directly on the window output with NO second exchange and the
    // perKey↔picks join disappears. Both ordered picks (cover = latest
    // child, format = priority CASE LIMIT 1) ride the same shuffle as
    // two orderings, folded by conditional aggs.
    // Duration stays DECIMAL so the arithmetic is engine-exact.
    val wCover = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
    val wFormat = Window.partitionBy(col("o_custkey"))
      .orderBy(
        when(col("o_orderpriority") === "1-URGENT", 1)
          .when(col("o_orderpriority") === "2-HIGH", 2).otherwise(3),
        col("o_orderkey"))
    val perKey = orders
      .withColumn("rn_cover", row_number().over(wCover))
      .withColumn("rn_format", row_number().over(wFormat))
      .groupBy(col("o_custkey")).agg(
      sort_array(collect_list(col("o_orderkey").cast("string"))).as("identifiers"),
      count(lit(1)).as("n_children"),
      bool_or(col("o_orderstatus") === "F").as("any_flag"),
      round(max(col("o_totalprice").cast("decimal(18,4)") *
        lit(new java.math.BigDecimal("0.1"))), 2).cast("double").as("duration_sec"),
      bool_or(col("o_orderpriority") === "1-URGENT").as("has_urgent"),
      // jsonb_agg(json_build_object(type, value)): dynamic-key 1-entry
      // objects, sorted by (type, value) for cross-engine determinism.
      transform(
        array_sort(collect_list(struct(col("o_orderstatus").as("k"),
          col("o_orderkey").cast("string").as("v")))),
        s => map(s.getField("k"), s.getField("v"))).as("premis"),
      date_format(min(col("o_orderdate")), "yyyy-MM-dd").as("date_min"),
      date_format(max(col("o_orderdate")), "yyyy-MM-dd").as("date_max"),
      max(when(col("rn_cover") === 1, col("o_orderkey").cast("string")))
        .as("cover_id"),
      max(when(col("rn_format") === 1, col("o_orderstatus"))).as("top_format"),
      // Roles (two-level jsonb_object_agg) FOLDED into this same pass
      // (r20, guide §2.4): the former separate groupBy(custkey, status)
      // → groupBy(custkey) subquery re-shuffled the whole child table a
      // second time and joined it back. The distinct (status, priority)
      // pair set per entity is tiny (statuses × priorities, both
      // single-digit), so collect it here and regroup per-row with
      // higher-order functions — same sorted keys, same sorted distinct
      // names, zero extra exchanges and one less join.
      sort_array(collect_set(struct(col("o_orderstatus").as("k"),
        col("o_orderpriority").as("v")))).as("role_pairs"),
      // Reuse-category arm 1 (fulfilled orders → priority class) folded
      // the same way; collect_set skips the non-matching rows' nulls.
      sort_array(collect_set(when(col("o_orderstatus") === "F",
        concat(lit("prio:"), col("o_orderpriority"))))).as("prio_cats"))

    // Stage 2 (roles) now rides stage 1's shuffle: build the
    // {type: sorted distinct names} map from the collected pair set.
    // Keys ascend (pairs are sorted, array_distinct keeps first
    // occurrence) and each key's values ascend (filter preserves the
    // sorted pair order) — byte-identical JSON to the two-level
    // aggregate it replaces.
    val rolesFromPairs = map_from_entries(transform(
      array_distinct(transform(col("role_pairs"), p => p.getField("k"))),
      k => struct(k.as("k"),
        transform(filter(col("role_pairs"), p => p.getField("k") === k),
          p => p.getField("v")).as("v"))))

    // Stage 4: grandchild (two-hop) laterals — transcript string_agg
    // ordered by child position, distinct thumbnail set, fragment count.
    // Join BEFORE grouping so the shuffle key is the root entity.
    val li = lineitem
      .join(orders.select(col("o_orderkey").as("l_orderkey"), col("o_custkey")),
        Seq("l_orderkey"))
      .groupBy(col("o_custkey"))
      .agg(
        array_join(
          transform(
            array_sort(collect_list(struct(col("l_orderkey"), col("l_linenumber"),
              col("l_partkey").cast("string").as("t")))),
            s => s.getField("t")),
          "\n").as("transcript"),
        sort_array(collect_set(col("l_returnflag"))).as("thumbs"),
        count(when(col("l_returnflag") === "R", 1)).as("n_fragments"),
        // Reuse-category arm 2 (returned lineitems → ship mode) FOLDED
        // into this pass (r20, guide §2.4): the former UNION ALL
        // subquery re-joined lineitem⋈orders a second time and
        // re-shuffled both sources. The two arms' category sets are
        // disjoint by prefix ('prio:' vs 'mode:'), so the final frame
        // concatenates the two per-side distinct sets and sorts — the
        // same sorted distinct union, minus one lineitem scan, one
        // orders scan, one join, one shuffle and one final-frame join.
        sort_array(collect_set(when(col("l_returnflag") === "R",
          concat(lit("mode:"), col("l_linestatus"))))).as("mode_cats"))

    // Location lateral (:298): the collection side-table with an
    // absent branch — only low-key nations carry location data, so the
    // doc's coalesce('unknown') path is exercised on real rows.
    val location = customer.select(col("c_custkey").as("k"), col("c_nationkey"))
      .join(nation.filter(col("n_nationkey") < 20)
        .select(col("n_nationkey").as("c_nationkey"), col("n_name")), Seq("c_nationkey"), "left")
      .select(col("k"), col("n_name").as("location"))

    customer
      .join(perKey, col("c_custkey") === perKey("o_custkey"), "left")
      .drop(perKey("o_custkey"))
      .join(li, col("c_custkey") === li("o_custkey"), "left")
      .drop(li("o_custkey"))
      .join(location, col("c_custkey") === location("k"), "left")
      .drop(location("k"))
      .select(
        col("c_custkey").as("id"),
        // LIST partition key: lower(org_identifier)
        // (arc_db_load_index_tables_flow.py:39-40)
        lower(col("c_mktsegment")).as("index"),
        // Every field coalesced: Spark's to_json drops null fields while
        // DuckDB keeps them, so the doc must be null-free to hash-match.
        to_json(struct(
          concat(lit("urn:c/"), col("c_custkey")).as("iri"),
          col("c_name").as("schema_name"),
          coalesce(col("identifiers"), array().cast("array<string>")).as("identifiers"),
          coalesce(col("n_children"), lit(0L)).as("children"),
          coalesce(col("any_flag"), lit(false)).as("is_flagged"),
          coalesce(col("cover_id"), lit("none")).as("cover"),
          when(coalesce(col("has_urgent"), lit(false)), RightsInC)
            .otherwise(RightsPD).as("rights"),
          coalesce(col("top_format"), lit("none")).as("format"),
          coalesce(col("premis"), array().cast("array<map<string,string>>")).as("premis"),
          coalesce(rolesFromPairs,
            typedLit(Map.empty[String, Seq[String]])).as("roles"),
          coalesce(col("thumbs"), array().cast("array<string>")).as("thumbs"),
          coalesce(col("transcript"), lit("")).as("transcript"),
          coalesce(col("n_fragments"), lit(0L)).as("n_fragments"),
          when(array_contains(coalesce(col("thumbs"), array().cast("array<string>")), "R"),
            RightsInC)
            .when(array_contains(coalesce(col("thumbs"), array().cast("array<string>")), "A"),
              RightsPD)
            .otherwise("none").as("rights_statement"),
          coalesce(col("date_min"), lit("none")).as("date_created_min"),
          coalesce(col("date_max"), lit("none")).as("date_created_max"),
          // sorted distinct union of the two folded category sets
          // (disjoint by prefix, each side already distinct)
          sort_array(concat(
            coalesce(col("prio_cats"), array().cast("array<string>")),
            coalesce(col("mode_cats"), array().cast("array<string>"))))
            .as("reuse"),
          coalesce(col("location"), lit("unknown")).as("location")
        )).as("document"),
        coalesce(col("n_children"), lit(0L)).as("n_children"),
        coalesce(col("any_flag"), lit(false)).as("any_flag"),
        coalesce(col("duration_sec"), lit(0.0)).as("duration_sec"))
  }

  /** Full partitioned write (LIST partition per org,
    * arc_db_load_index_tables_flow.py:70-74 → `partitionBy("index")`).
    * The job writes a snapshot beside `path` that [[Upsert.swapIn]]
    * puts in place, as `Upsert`'s full sync does: a write that fails
    * leaves the previous documents as they were, where a static
    * overwrite would delete them before its job runs. */
  def writePartitioned(docs: DataFrame, path: String): Unit = {
    val tmp = new Path(path + "__tmp")
    docs.write.mode("overwrite").partitionBy("index").parquet(tmp.toString)
    Upsert.swapIn(tmp.getFileSystem(docs.sparkSession.sparkContext.hadoopConfiguration),
      tmp, new Path(path))
  }

  /** Partition-scoped refresh (SURVEY.md §2.9 #79): dynamic partition
    * overwrite rewrites ONLY the partitions present in `docs` — the
    * Spark form of the reference's per-org partition truncate+rebuild
    * (arc_db_load_index_tables_flow.py:77-112). Other orgs' partitions
    * are untouched. */
  def overwriteTouchedPartitions(docs: DataFrame, path: String): Unit =
    docs.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("index")
      .parquet(path)

  /** Drop partitions for orgs with no remaining records — the delete
    * flow's empty-partition cleanup (arc_db_delete_flow.py:97-130). */
  def dropPartitions(spark: org.apache.spark.sql.SparkSession, path: String,
                     indexes: Seq[String]): Unit = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    indexes.foreach(idx => fs.delete(new Path(s"$path/index=$idx"), true))
  }
}
