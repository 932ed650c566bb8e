package graft.delete

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

import graft.SparkSuite
import graft.model.Quad
import graft.run.Checkpoints

/** Delete-flag synthesis: both UNION branches + the bound-since guard
  * (reference: deletes.sparql:27-79, arc_db_delete_flow.py:27-61). */
class DeleteFlowSpec extends SparkSuite {
  import DeleteFlow.V

  private val prefix = "urn:ie/"
  private def t(s: String, p: String, o: String): Quad = Quad(s, p, o, null, null, null)

  // frag1: tombstoned (branch a). frag2: entity lost its license (branch b).
  // frag3: modified but licensed → survives. frag4: tombstoned but stale.
  private val fixture = Seq(
    t("frag1", V.Modified, "2024-02-01"),
    t("frag1", V.DateDeleted, "2024-02-01"),
    t("frag1", V.Pid, "pid-one"),
    t("frag2", V.Modified, "2024-02-02"),
    t("frag2", V.DerivedFrom, "urn:ie/two"),
    t("frag3", V.Modified, "2024-02-03"),
    t("frag3", V.DerivedFrom, "urn:ie/three"),
    t("urn:ie/three", V.License, "VIAA-PUBLIEK-METADATA-ALL"),
    t("frag4", V.Modified, "2023-01-01"),
    t("frag4", V.DateDeleted, "2023-01-01"),
    t("frag4", V.Pid, "pid-stale"))

  private def quads: DataFrame = {
    val s = spark
    import s.implicits._
    fixture.toDF()
  }

  test("unbound since → no flags (deletes are incremental-only)") {
    assert(DeleteFlow.flagDeletes(quads, None, prefix).count() == 0)
  }

  test("branch a: tombstoned fragment flags entity via synthesized key") {
    val flags = DeleteFlow.flagDeletes(quads, Some("2024-01-01"), prefix)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(flags.contains(("urn:ie/pid-one", "frag1"))) // iri(concat(prefix, pid))
    assert(!flags.exists(_._2 == "frag4")) // stale modification not re-flagged
  }

  test("branch b: NOT EXISTS allowed license flags the derived entity") {
    val flags = DeleteFlow.flagDeletes(quads, Some("2024-01-01"), prefix)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(flags.contains(("urn:ie/two", "frag2")))
    assert(!flags.exists(_._1 == "urn:ie/three")) // licensed entity survives
  }

  private def entities: DataFrame = {
    val s = spark
    import s.implicits._
    Seq("urn:ie/pid-one", "urn:ie/two", "urn:ie/three").toDF("id")
  }

  private def fragments: DataFrame = {
    val s = spark
    import s.implicits._
    Seq(("urn:ie/pid-one", "frag1"), ("urn:ie/two", "frag2"),
      ("urn:ie/two", "frag2b"), ("urn:ie/three", "frag3"))
      .toDF("intellectual_entity_id", "mh_fragment_identifier")
  }

  test("applyDeletes removes flagged entities and their fragment rows") {
    val flags = DeleteFlow.flagDeletes(quads, Some("2024-01-01"), prefix)
    val (e2, f2) = DeleteFlow.applyDeletes(entities, fragments, flags)
    assert(e2.collect().map(_.getString(0)).toSet == Set("urn:ie/three"))
    // ALL fragments of a flagged entity go, not only the flagged row
    assert(f2.collect().map(_.getString(1)).toSet == Set("frag3"))
  }

  test("applyDeletes: a flag set naming one entity twice keeps the same " +
    "rows as the deduplicated set") {
    val s = spark
    import s.implicits._
    def flags(rows: (String, String)*): DataFrame =
      rows.map { case (ie, frag) => (ie, frag, true) }
        .toDF("intellectual_entity_id", "mh_fragment_identifier", "is_deleted")
    def kept(f: DataFrame): (Set[String], Set[String]) = {
      val (e, fr) = DeleteFlow.applyDeletes(entities, fragments, f)
      (e.collect().map(_.getString(0)).toSet, fr.collect().map(_.getString(1)).toSet)
    }
    val once = kept(flags(("urn:ie/two", "frag2")))
    assert(kept(flags(("urn:ie/two", "frag2"), ("urn:ie/two", "frag2b"))) === once)
    assert(once === (Set("urn:ie/pid-one", "urn:ie/three"), Set("frag1", "frag3")))
  }

  test("flags persisted as a caller persists them scan in at most " +
    "defaultParallelism partitions, whatever the initial shuffle width") {
    val key = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, "64")
    try {
      val flags = DeleteFlow.flagDeletes(quads, Some("2024-01-01"), prefix)
      val persisted = flags.persist()
      try assert(persisted.rdd.getNumPartitions <= spark.sparkContext.defaultParallelism)
      finally { persisted.unpersist(); Checkpoints.free(flags) }
    } finally prior match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("flagDeletes over an unpersisted input leaves exactly one more " +
    "persistent RDD: the staged flags") {
    val sc = spark.sparkContext
    val in = quads
    assert(in.storageLevel == StorageLevel.NONE)
    val before = sc.getPersistentRDDs.keySet
    val flags = DeleteFlow.flagDeletes(in, Some("2024-01-01"), prefix)
    assert((sc.getPersistentRDDs.keySet -- before).size === 1)
    assert(in.storageLevel == StorageLevel.NONE, "the input persist was not freed")
    Checkpoints.free(flags)
    assert(sc.getPersistentRDDs.keySet === before)
  }
}
