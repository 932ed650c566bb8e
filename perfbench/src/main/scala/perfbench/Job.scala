package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.delete.DeleteFlow
import graft.docs.IndexDocuments
import graft.model.{ColType, TableSpec, Tables}
import graft.pivot.SubjectPivot
import graft.run.Runner
import graft.run.Runner.RunParams
import graft.sink.Upsert
import graft.source.QuadSource
import graft.view._

/** Target tables of the reference job. View outputs merge under the
  * registry's specs where the registry has one; the rest are child
  * tables keyed by their entity. The four document-builder tables arrive
  * as view-shaped quads and go through the subject pivot. */
object Specs {
  import ColType._

  private def child(name: String, key: String = "intellectual_entity_id",
                    deps: Seq[String] = Seq("graph.intellectual_entity")) =
    TableSpec(name, Nil, pk = Nil, entityKey = Some(key), deps = deps)

  val collection = TableSpec("graph.collection", Nil)

  /** The view tables the job merges: at least one per view, and every
    * table the document builder, the delete flow or the output check
    * reads. The views emit more; unmerged tables are never computed. */
  val viewTables: Seq[TableSpec] = Seq(
    Tables.organization, Tables.intellectualEntity, Tables.schemaLicense,
    Tables.mhFragmentIdentifier, child("graph.schema_keywords"), collection,
    child("graph.schema_is_part_of",
      deps = Seq("graph.intellectual_entity", "graph.collection")),
    child("graph.schema_mentions"), child("graph.iiif"))

  val customer = TableSpec("bench.customer", Seq("c_custkey" -> Str,
    "c_name" -> Str, "c_nationkey" -> IntT, "c_mktsegment" -> Str),
    pk = Seq("subject"))
  val orders = TableSpec("bench.orders", Seq("o_orderkey" -> IntT,
    "o_custkey" -> Str, "o_orderstatus" -> Str, "o_totalprice" -> DoubleT,
    "o_orderdate" -> DateT, "o_orderpriority" -> Str),
    pk = Nil, entityKey = Some("o_custkey"), deps = Seq("bench.customer"))
  val lineitem = TableSpec("bench.lineitem", Seq("l_orderkey" -> IntT,
    "l_linenumber" -> IntT, "l_partkey" -> IntT, "l_returnflag" -> Str,
    "l_linestatus" -> Str, "l_custkey" -> Str),
    pk = Nil, entityKey = Some("l_custkey"), deps = Seq("bench.orders"))
  val nation = TableSpec("bench.nation", Seq("n_nationkey" -> IntT,
    "n_name" -> Str), pk = Seq("subject"))
  val docTables: Seq[TableSpec] = Seq(customer, orders, lineitem, nation)

  val all: Seq[TableSpec] = viewTables ++ docTables

  /** Every table holding rows of an entity, with the column naming it:
    * the delete flow removes a flagged entity from all of them (the
    * reference's two DELETEs plus the FK cascade of its target schema). */
  val deleteKeys: Seq[(String, String)] = Seq(
    "graph.schema_license" -> "intellectual_entity_id",
    "graph.schema_keywords" -> "intellectual_entity_id",
    "graph.schema_is_part_of" -> "intellectual_entity_id",
    "graph.schema_mentions" -> "intellectual_entity_id",
    "graph.iiif" -> "intellectual_entity_id",
    "graph.mh_fragment_identifier" -> "intellectual_entity_id",
    "graph.intellectual_entity" -> "id",
    "bench.customer" -> "c_custkey",
    "bench.orders" -> "o_custkey",
    "bench.lineitem" -> "l_custkey")
}

/** The reference job (SURVEY.md §3.1 `main_flow`), driven from outside
  * the engine through each layer's public functions: files → views →
  * pivot → merge → documents → deletes. Every layer call runs inside a
  * span. View and pivot outputs are staged before the merge, as the
  * reference stages them; with `traced`, the parsed source is also
  * materialized so that parsing gets its own time. */
final class Job(spark: SparkSession, tr: Tracer, traced: Boolean,
                targetDir: String, docsDir: String, buckets: Int) {

  val EntityPrefix = "https://data.hetarchief.be/id/entity/"

  private val held = mutable.ArrayBuffer.empty[DataFrame]
  var flaggedRows = 0L
  var bucketsTouched = 0L
  var bucketsTotal = 0L
  var partitionsTouched = 0L
  var partitionsTotal = 0L
  var viewInputCacheMb = 0.0

  def path(table: String): String = s"$targetDir/${table.replace('.', '_')}"
  def read(table: String): DataFrame =
    spark.read.parquet(path(table)).drop(Upsert.BucketCol)

  /** Source boundary: materialized in traced runs only, so parsing gets
    * its own time; untraced, the views persist their input themselves. */
  private def boundary(df: DataFrame): DataFrame =
    if (!traced) df
    else { val m = df.persist(); m.count(); held += m; m }

  /** The reference stages every view and pivot output in a temp table
    * before merging it; the engine's analogue is `Upsert.stage`, a
    * lineage-cut snapshot. Staging inside the producing layer's span
    * gives view and pivot their own time in every run. */
  private def staged(df: DataFrame): DataFrame = Upsert.stage(df)

  private def release(): Unit = { held.foreach(_.unpersist()); held.clear() }

  private def listDirs(dir: String, prefix: String): Map[String, Set[String]] = {
    val d = new java.io.File(dir)
    Option(d.listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(f => f.isDirectory && f.getName.startsWith(prefix))
      .map(f => f.getName -> Option(f.list()).map(_.toSet).getOrElse(Set.empty[String]))
      .toMap
  }

  /** Counts rewritten partition directories (traced runs only: listing
    * is not free). */
  private def rewritten(before: Map[String, Set[String]],
                        after: Map[String, Set[String]]): (Long, Long) = {
    val keys = before.keySet ++ after.keySet
    (keys.count(k => before.get(k) != after.get(k)).toLong, keys.size.toLong)
  }

  def source(kgDir: String, viewQuads: String): (DataFrame, DataFrame) =
    tr.span("source") {
      val kg = QuadSource.turtle(spark, kgDir)
      val vq = QuadSource.ntriples(spark, viewQuads)
      (boundary(kg), boundary(vq))
    }

  /** The eight construct views, each output table staged; tables several
    * views emit are unioned (RDF set semantics: duplicates collapse). */
  def views(kg: DataFrame, params: RunParams): Map[String, DataFrame] = {
    val out = tr.span("view") {
      val p = ViewParams(since = params.effectiveSince, orIds = params.orIds)
      val entity = Seq(EntityPipeline.avAudio, EntityPipeline.avVideo,
        EntityPipeline.avComplex, EntityPipeline.newspaper).map(EntityPipeline(kg, _, p))
      val coll = CollectionPipeline(kg, p)
      val outs: Seq[Map[String, DataFrame]] = Seq(OrganizationPipeline(kg, p)) ++
        entity.map(_ -- coll.keySet) ++
        Seq(PersonPipeline(kg, p), coll, Map("graph.iiif" -> IiifPipeline(kg, p)))
      Specs.viewTables.map { spec =>
        val parts = outs.flatMap(_.get(spec.name))
        val df =
          if (parts.size == 1) parts.head
          else parts.reduce(_.unionByName(_, allowMissingColumns = true)).distinct()
        spec.name -> tr.span("view", spec.name)(staged(df))
      }.toMap
    }
    if (traced) viewInputCacheMb = math.max(viewInputCacheMb,
      spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0)
    out
  }

  def pivot(viewQuads: DataFrame): Map[String, DataFrame] = tr.span("pivot") {
    // pivotAll plans one scan per table over the same input; its
    // contract asks the caller to persist that input first
    val q = viewQuads.persist()
    held += q
    SubjectPivot.pivotAll(q, Specs.docTables).map { case (k, v) =>
      k -> tr.span("pivot", k)(staged(v))
    }
  }

  def sink(staged: Map[String, DataFrame], specs: Seq[TableSpec],
           params: RunParams): Unit = tr.span("sink") {
    Tables.topoOrder(specs).foreach { spec =>
      staged.get(spec.name).foreach { df =>
        val before = if (traced) listDirs(path(spec.name), Upsert.BucketCol) else Map.empty[String, Set[String]]
        tr.span("sink", spec.name) {
          Upsert.mergeAndWrite(spark, path(spec.name), df, spec,
            params.effectiveFullSync, buckets)
        }
        if (traced && !params.effectiveFullSync) {
          val (t, n) = rewritten(before, listDirs(path(spec.name), Upsert.BucketCol))
          bucketsTouched += t; bucketsTotal += n
        }
      }
    }
  }

  private def orgIndex(): DataFrame =
    read("graph.organization").select(lower(col("org_identifier")).as("index"),
      col("skos_pref_label").as("__maintainer"))

  /** The doc builder's document carries no maintainer object; the
    * reference's does, and org-rename detection reads its name
    * (`$.schema_maintainer.schema_name`). Splice it in from the org
    * dimension. */
  private def withMaintainer(docs: DataFrame): DataFrame =
    docs.join(orgIndex(), Seq("index"), "left")
      .withColumn("document", concat(
        expr("substring(document, 1, length(document) - 1)"),
        lit(",\"schema_maintainer\":"),
        to_json(struct(col("__maintainer").as("schema_name"))), lit("}")))
      .drop("__maintainer")

  private def docInputs(indexes: Option[Seq[String]]): (DataFrame, DataFrame, DataFrame) = {
    val cust = indexes match {
      case Some(idx) => read("bench.customer").filter(lower(col("c_mktsegment")).isin(idx: _*))
      case None      => read("bench.customer")
    }
    indexes match {
      case None => (cust, read("bench.orders"), read("bench.lineitem"))
      case Some(_) =>
        val keys = cust.select(col("c_custkey"))
        (cust,
          read("bench.orders").join(keys.withColumnRenamed("c_custkey", "o_custkey"),
            Seq("o_custkey"), "left_semi"),
          read("bench.lineitem").join(keys.withColumnRenamed("c_custkey", "l_custkey"),
            Seq("l_custkey"), "left_semi"))
    }
  }

  def docsFull(): Unit = tr.span("docs") {
    val (c, o, l) = docInputs(None)
    IndexDocuments.writePartitioned(
      withMaintainer(IndexDocuments.build(c, o, l, read("bench.nation"))), docsDir)
  }

  /** Partition-scoped refresh: rebuild the partitions of every org a
    * staged customer belongs to, plus renamed orgs. */
  def docsRefresh(stagedCustomer: DataFrame): Unit = tr.span("docs") {
    val touched = stagedCustomer.select(lower(col("c_mktsegment"))).distinct()
      .collect().map(_.getString(0)).toSeq
    val renamed = Runner.renamedOrgs(read("graph.organization"),
      spark.read.parquet(docsDir))
    val idx = (touched ++ renamed).distinct.sorted
    if (idx.nonEmpty) {
      val before = if (traced) listDirs(docsDir, "index=") else Map.empty[String, Set[String]]
      val (c, o, l) = docInputs(Some(idx))
      IndexDocuments.overwriteTouchedPartitions(
        withMaintainer(IndexDocuments.build(c, o, l, read("bench.nation"))), docsDir)
      if (traced) {
        val (t, n) = rewritten(before, listDirs(docsDir, "index="))
        partitionsTouched += t; partitionsTotal += n
      }
    }
  }

  /** Delete flow (the ninth reference query): flag, then remove flagged
    * entities with their fragments, the FK-cascaded children and the
    * document-builder rows; then delete their documents and drop
    * partitions left empty. A no-op without `since`. */
  def deletes(kg: DataFrame, params: RunParams): Unit = tr.span("delete") {
    val flags = DeleteFlow.flagDeletes(kg, params.effectiveSince, EntityPrefix)
    if (params.effectiveSince.isDefined) {
      val f = flags.persist()
      held += f
      val deadIds = f.select(col("intellectual_entity_id")).distinct()
        .collect().map(_.getString(0)).toSeq
      flaggedRows += deadIds.size
      if (deadIds.nonEmpty) {
        val dead = f.select(col("intellectual_entity_id").as("id")).distinct()
        val affected = read("bench.customer").filter(col("c_custkey").isin(deadIds: _*))
          .select(lower(col("c_mktsegment"))).distinct().collect().map(_.getString(0)).toSeq
        // DeleteFlow.applyDeletes' fragment side is the anti-join on the
        // entity key; every table goes through it under that column name
        val k = "intellectual_entity_id"
        val noEntities = f.select(col(k).as("id"))
        val specs = Specs.all.map(s => s.name -> s).toMap
        Specs.deleteKeys.foreach { case (t, key) =>
          val df = read(t)
          val kept = DeleteFlow.applyDeletes(noEntities,
            if (key == k) df else df.withColumn(k, col(key)), f)._2
          tr.span("delete", t) {
            Upsert.mergeAndWrite(spark, path(t), if (key == k) kept else kept.drop(k),
              specs(t), fullSync = true, buckets)
          }
        }
        tr.span("docs") {
          val kept = Upsert.stage(spark.read.parquet(docsDir)
            .filter(col("index").isin(affected: _*))
            .join(dead, Seq("id"), "left_anti"))
          IndexDocuments.overwriteTouchedPartitions(kept, docsDir)
          val remaining = kept.select(col("index")).distinct().collect().map(_.getString(0)).toSet
          IndexDocuments.dropPartitions(spark, docsDir, affected.filterNot(remaining))
        }
      }
    }
  }

  /** Full sync: files → views → pivot → snapshot targets → documents;
    * deletes are a no-op because `since` is unbound. */
  def fullSync(kgDir: String, viewQuads: String): Unit = tr.span("batch") {
    val params = RunParams(fullSync = true)
    val (kg, vq) = source(kgDir, viewQuads)
    val viewOut = views(kg, params)
    val staged = pivot(vq)
    sink(viewOut ++ staged, Specs.all, params)
    docsFull()
    deletes(kg, params)
    release()
  }

  /** One incremental `since` batch against the current targets. */
  def incremental(kgDir: String, viewQuads: String, since: String): Unit =
    tr.span("batch") {
      val params = RunParams(since = Some(since))
      val (kg, vq) = source(kgDir, viewQuads)
      val viewOut = views(kg, params)
      val staged = pivot(vq)
      sink(viewOut ++ staged, Specs.all, params)
      docsRefresh(staged("bench.customer"))
      deletes(kg, params)
      release()
    }
}
