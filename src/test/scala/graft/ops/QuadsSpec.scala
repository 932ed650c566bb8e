package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.model.{ColType, Ns, TableSpec}
import graft.pivot.SubjectPivot
import graft.source.QuadSource

/** The gates' shared feed builders: `Quads` melts relational rows into
  * `QuadSource.schema` quads, and `Replay.drain` runs a streaming query
  * over a file feed into a memory sink. */
class QuadsSpec extends SparkSuite {
  import Quads.quad

  private def rows = {
    val s = spark
    import s.implicits._
    Seq((1L, "Anna", Some(30L)), (2L, "Bert", None)).toDF("k", "name", "age")
  }

  private def melt = {
    val subj = concat(lit("urn:p/"), col("k"))
    Quads.frame(rows,
      quad(subj, Ns.TableName, lit("graph.person_mini")),
      quad(subj, Ns.KgToPostgres + "name", col("name")),
      quad(subj, Ns.KgToPostgres + "name", upper(col("name")), Some("nl")),
      quad(subj, Ns.KgToPostgres + "age", col("age")))
  }

  test("Quads.frame has QuadSource.schema's names and types, in order") {
    val got = melt.schema.fields.map(f => f.name -> f.dataType).toSeq
    val want = QuadSource.schema.fields.map(f => f.name -> f.dataType).toSeq
    assert(got === want)
  }

  test("a quad with a NULL object is dropped; the melt pivots back to its rows") {
    val quads = melt
    // Bert has no age: 3 + 4 quads, not 8
    assert(quads.count() == 7)
    assert(quads.filter(col("obj").isNull).isEmpty)
    val spec = TableSpec("graph.person_mini",
      Seq("name" -> ColType.Str, "age" -> ColType.IntT))
    val out = SubjectPivot.pivotTable(quads, spec)
      .orderBy("subject").collect()
      .map(r => (r.getAs[String]("subject"), r.getAs[String]("name"),
        Option(r.getAs[Any]("age")).map(_.toString)))
      .toSeq
    // the nl-tagged upper-case name wins the pivot's nl-override
    assert(out === Seq(("urn:p/1", "ANNA", Some("30")), ("urn:p/2", "BERT", None)))
  }

  test("a query failing inside Replay.drain propagates, and the session's " +
    "shuffle width and state store are restored") {
    val s = spark
    import s.implicits._
    val shuffleKey = "spark.sql.shuffle.partitions"
    val storeKey = "spark.sql.streaming.stateStore.providerClass"
    val before = (s.conf.getOption(shuffleKey), s.conf.getOption(storeKey))
    Scratch.withDir("graft_drain_spec") { feed =>
      Replay.writeSlice(Seq(1L, 2L).toDF("x"), feed, 0)
      val err = intercept[Exception] {
        Replay.drain(s, feed, Seq(1L).toDF("x").schema, rocksDb = true) { src =>
          src().select(assert_true(col("x") < 0, lit("drain fault")).as("y"))
        }
      }
      val messages = Iterator.iterate[Throwable](err)(_.getCause)
        .takeWhile(_ != null).map(e => String.valueOf(e.getMessage))
      assert(messages.exists(_.contains("drain fault")), err)
      assert(s.streams.active.isEmpty)
    }
    assert((s.conf.getOption(shuffleKey), s.conf.getOption(storeKey)) == before)
  }
}
