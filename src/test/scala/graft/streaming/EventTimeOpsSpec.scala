package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, count, lit, session_window}

import graft.SparkSuite
import EventTimeOps.{Doc, Ev, Session}

/** Event-time semantics: timeout-closed sessions and first-seen dedup
  * under MemoryStream, and the inclusive gap of the built-in
  * `session_window` that q_session_window runs. */
class EventTimeOpsSpec extends SparkSuite {

  private def ts(hhmm: String): java.sql.Timestamp =
    java.sql.Timestamp.valueOf(s"2024-01-01 $hhmm:00")

  test("stateful sessionize closes on gap and on event-time timeout") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext

    val input = MemoryStream[Ev]
    val q = EventTimeOps.sessionize(input.toDS(), gapMinutes = 30,
      watermarkDelay = "10 minutes")
      .writeStream.format("memory").queryName("sess")
      .outputMode("append").start()
    try {
      // session 1: two events 5 min apart
      input.addData(Ev(1, ts("10:00")), Ev(1, ts("10:05")))
      q.processAllAvailable()
      // 12:00 is > 30 min after 10:05 → session 1 can only merge with
      // events in (10:05, 10:35], so once the watermark passes 10:35 it
      // is final; this batch also advances wm to 11:50 for the next one
      input.addData(Ev(1, ts("12:00")))
      q.processAllAvailable()
      // wm 11:50 > 10:35 → session 1 emitted via timeout; wm after this
      // batch = 13:30 - 10 min = 13:20 > 12:30 so session 2 expires next
      input.addData(Ev(2, ts("13:30")))
      q.processAllAvailable()
      input.addData(Ev(2, ts("13:31")))
      q.processAllAvailable()
      val out = spark.table("sess").as[Session].collect()
      val u1 = out.filter(_.user_id == 1L).sortBy(_.session_start.getTime)
      assert(u1.length == 2)
      assert(u1(0) == Session(1L, ts("10:00"), ts("10:05"), 2))
      assert(u1(1) == Session(1L, ts("12:00"), ts("12:00"), 1))
    } finally q.stop()
  }

  test("out-of-order within-watermark events lower session_start; " +
    "stragglers older than the gap form their own session") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext

    val input = MemoryStream[Ev]
    // generous watermark delay so cross-batch out-of-order events are
    // admitted rather than dropped at the watermark
    val q = EventTimeOps.sessionize(input.toDS(), gapMinutes = 30,
      watermarkDelay = "2 hours")
      .writeStream.format("memory").queryName("sess_ooo")
      .outputMode("append").start()
    try {
      input.addData(Ev(1, ts("11:00")))
      q.processAllAvailable()
      // 10:55 precedes the open session's start but is within the gap →
      // merges AND lowers session_start; 10:00 is > gap older than the
      // (lowered) start → its own singleton session
      input.addData(Ev(1, ts("10:55")), Ev(1, ts("10:00")))
      q.processAllAvailable()
      // advance the watermark (to 12:00, then past it) so both early
      // sessions become final and emit — emission is watermark-driven,
      // never inline-speculative
      input.addData(Ev(1, ts("14:00")))
      q.processAllAvailable()
      input.addData(Ev(1, ts("16:00")))
      q.processAllAvailable()
      val out = spark.table("sess_ooo").as[Session].collect()
        .filter(_.user_id == 1L).sortBy(_.session_start.getTime)
      assert(out.contains(Session(1L, ts("10:00"), ts("10:00"), 1)))
      assert(out.contains(Session(1L, ts("10:55"), ts("11:00"), 2)))
    } finally q.stop()
  }

  test("multiple stragglers within one gap merge into ONE earlier session") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext

    val input = MemoryStream[Ev]
    val q = EventTimeOps.sessionize(input.toDS(), gapMinutes = 30,
      watermarkDelay = "2 hours")
      .writeStream.format("memory").queryName("sess_two_stragglers")
      .outputMode("append").start()
    try {
      input.addData(Ev(1, ts("11:30")))
      q.processAllAvailable()
      // two old events 1 min apart: one merged session, not two singletons
      input.addData(Ev(1, ts("10:00")), Ev(1, ts("10:01")))
      q.processAllAvailable()
      input.addData(Ev(1, ts("15:00")))
      q.processAllAvailable()
      // wm is now 13:00 — past both early sessions' end+gap → they emit
      input.addData(Ev(1, ts("17:00")))
      q.processAllAvailable()
      val out = spark.table("sess_two_stragglers").as[Session].collect()
        .filter(_.user_id == 1L).toSet
      assert(out.contains(Session(1L, ts("10:00"), ts("10:01"), 2)))
      assert(out.contains(Session(1L, ts("11:30"), ts("11:30"), 1)))
    } finally q.stop()
  }

  test("a cross-batch straggler merges into a still-open earlier session " +
    "instead of splitting it") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext

    val input = MemoryStream[Ev]
    val q = EventTimeOps.sessionize(input.toDS(), gapMinutes = 30,
      watermarkDelay = "2 hours")
      .writeStream.format("memory").queryName("sess_cross_batch")
      .outputMode("append").start()
    try {
      input.addData(Ev(1, ts("10:00")))
      q.processAllAvailable()
      // a newer event — a speculative engine would close [10:00] here
      // even though the watermark (8:00 → 10:00) hasn't passed 10:30
      input.addData(Ev(1, ts("12:00")))
      q.processAllAvailable()
      // the straggler: within the gap of 10:00 and within the watermark
      // → must EXTEND that session, not become its own split/overlap row
      input.addData(Ev(1, ts("10:20")))
      q.processAllAvailable()
      input.addData(Ev(1, ts("15:00")))
      q.processAllAvailable()
      // wm now 13:00 — both early sessions final
      input.addData(Ev(1, ts("18:00")))
      q.processAllAvailable()
      val out = spark.table("sess_cross_batch").as[Session].collect()
        .filter(_.user_id == 1L)
      assert(out.contains(Session(1L, ts("10:00"), ts("10:20"), 2)))
      assert(out.contains(Session(1L, ts("12:00"), ts("12:00"), 1)))
      // no split: the straggler never appears as a session of its own
      assert(!out.exists(se => se.session_start == ts("10:20")))
    } finally q.stop()
  }

  test("streaming exact dedup keeps the first-seen doc per content hash " +
    "across micro-batches") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext

    val input = MemoryStream[Doc]
    val q = EventTimeOps.streamingExactDedup(input.toDS())
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    try {
      // within one batch: min id wins regardless of arrival order
      input.addData(Doc(7L, "h1"), Doc(3L, "h1"), Doc(10L, "h2"))
      q.processAllAvailable()
      // later batches: duplicates of an already-seen hash are dropped;
      // NULL hashes are singleton pass-throughs (the batch family's
      // NULL contract) — both NULL docs survive, across batches, and
      // never collapse into one first-seen keeper
      input.addData(Doc(1L, "h1"), Doc(20L, "h2"), Doc(30L, "h3"),
        Doc(40L, null))
      q.processAllAvailable()
      input.addData(Doc(41L, null))
      q.processAllAvailable()
      val out = spark.table("dedup_stream").as[Doc].collect().toSet
      assert(out == Set(Doc(3L, "h1"), Doc(10L, "h2"), Doc(30L, "h3"),
        Doc(40L, null), Doc(41L, null)))
    } finally q.stop()
  }

  test("declarative session_window merges on overlap and emits past the watermark") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext

    // The q_session_window form: the built-in session_window, here fed
    // from a stream behind a watermark so sessions emit in append mode.
    val input = MemoryStream[Ev]
    val q = input.toDF()
      .withWatermark("ts", "10 minutes")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_window.start"), col("n_events"))
      .writeStream.format("memory").queryName("sess_win")
      .outputMode("append").start()
    try {
      // 10:00 and 10:20 merge; 10:50 sits EXACTLY at 10:20's window end
      // (10:20 + 30m) — the merge bound is INCLUSIVE, so it extends the
      // session; 11:21 is past 10:50's end → a new session
      input.addData(Ev(1, ts("10:00")), Ev(1, ts("10:20")), Ev(1, ts("10:50")),
        Ev(1, ts("11:21")))
      q.processAllAvailable()
      // push the watermark far past both sessions' ends
      input.addData(Ev(2, ts("14:00")))
      q.processAllAvailable()
      input.addData(Ev(2, ts("14:01")))
      q.processAllAvailable()
      val out = spark.table("sess_win").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2)))
      assert(out.contains((1L, ts("10:00"), 3L)))
      assert(out.contains((1L, ts("11:21"), 1L)))
    } finally q.stop()
  }
}
