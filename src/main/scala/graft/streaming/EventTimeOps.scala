package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Event-time streaming operators (SURVEY.md §2.10 #86 — absent in the
  * reference, which is a bounded single-pass pipeline; added as the
  * Structured-Streaming-native layer a continuously-fed corpus needs).
  *
  * Watermarked windows and session windows are Spark built-ins
  * (`window`, `session_window`); the gates call them directly
  * (`q_event_window`, `q_session_window`). This object holds the two
  * custom-state forms, both on `flatMapGroupsWithState`:
  *  - gap sessionization (the streaming sibling of the batch
  *    `q_sessionize` window query): sessions close either when a new
  *    event arrives past the gap or when the event-time timeout fires,
  *    so idle keys cannot accumulate state forever;
  *  - first-seen-wins exact dedup across micro-batches.
  */
object EventTimeOps {

  /** One event of the streaming feed (events.parquet shape, with ts as
    * a real timestamp — the batch table's nanos-long is cast at the
    * ingest edge). */
  final case class Ev(user_id: Long, ts: java.sql.Timestamp)

  /** One closed session. */
  final case class Session(user_id: Long, session_start: java.sql.Timestamp,
                           session_end: java.sql.Timestamp, n_events: Long)

  /** Internal session accumulator — public because encoder-generated
    * code constructs it reflectively. */
  final case class SessState(start: Long, last: Long, n: Long)

  /** Open (not yet watermark-expired) sessions of one key, sorted by
    * start. Public for the same reflective-encoder reason. */
  final case class OpenSessions(intervals: Seq[SessState])

  /** One document of a streaming corpus feed. */
  final case class Doc(doc_id: Long, content_hash: String)

  /** Streaming exact dedup: first-seen-wins across micro-batches, keyed
    * by content hash — the continuous sibling of the batch
    * [[graft.dedup.Dedup.exact]]. State per distinct hash is one long
    * (the keeper id); `mapGroupsWithState` emits only never-before-seen
    * documents downstream. State grows with the number of DISTINCT
    * documents — the honest cost of exact streaming dedup; bound it
    * upstream by routing only a rolling corpus window through the
    * stream, or accept the one-long-per-distinct-doc footprint (8 GB
    * per billion distinct docs — fine on any real cluster).
    *
    * NULL content hashes (NULL content) follow the batch family's
    * shared contract ([[graft.dedup.Dedup.exact]]): every NULL-hash
    * doc passes through as its own singleton keeper — never
    * first-seen-wins-collapsed into one, and never parked in state. */
  def streamingExactDedup(docs: Dataset[Doc]): Dataset[Doc] = {
    import docs.sparkSession.implicits._
    docs
      .groupByKey(_.content_hash)
      .flatMapGroupsWithState[Long, Doc](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (hash: String, ds: Iterator[Doc], state: GroupState[Long]) =>
          if (hash == null) ds
          else if (state.exists) Iterator.empty
          else {
            // min id within the batch is the keeper — deterministic
            // regardless of arrival order inside the micro-batch
            val keeper = ds.minBy(_.doc_id)
            state.update(keeper.doc_id)
            Iterator.single(keeper)
          }
      }
  }

  /** Gap-based streaming sessionization: per user, a session closes
    * after `gapMinutes` of event-time silence.
    *
    * Emission rule — watermark-final, never speculative: a session is
    * emitted only once the watermark has passed its `end + gap`. Until
    * then it stays in state, because an admitted event (which by the
    * watermark contract has `ts >= watermark`) could still land inside
    * `(end, end + gap]` in a LATER micro-batch and merge into it; once
    * `end + gap <= watermark`, every future admitted event is past the
    * gap by construction, so the session can never change again. This
    * is what makes cross-batch stragglers safe: an event that belongs
    * to an earlier still-open session merges into it in state instead
    * of finding it already (wrongly) emitted. State per key is the list
    * of still-mergeable sessions — bounded by watermark delay / gap + 1,
    * since older intervals expire as the watermark advances. */
  def sessionize(events: Dataset[Ev], gapMinutes: Int = 30,
                 watermarkDelay: String = "10 minutes"): Dataset[Session] = {
    import events.sparkSession.implicits._
    val gapMs = gapMinutes * 60L * 1000L

    def close(key: Long, st: SessState): Session =
      Session(key, new java.sql.Timestamp(st.start),
        new java.sql.Timestamp(st.last), st.n)

    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenSessions, Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key: Long, evs: Iterator[Ev], state: GroupState[OpenSessions]) =>
          val wm = state.getCurrentWatermarkMs()

          // Split into watermark-final (emit) and still-open (hold);
          // re-arm the timeout at the earliest open expiry so idle keys
          // drain on watermark advance alone.
          def settle(intervals: Seq[SessState]): Iterator[Session] = {
            val (expired, open) = intervals.partition(_.last + gapMs <= wm)
            if (open.isEmpty) state.remove()
            else {
              state.update(OpenSessions(open))
              state.setTimeoutTimestamp(open.map(_.last + gapMs).min)
            }
            expired.iterator.map(close(key, _))
          }

          if (state.hasTimedOut) settle(state.get.intervals)
          else {
            // Re-sessionize the open intervals PLUS the batch as one
            // sorted interval merge: iterator order is arrival order,
            // and out-of-order (within-watermark) events may precede
            // any open session — including stragglers that must merge
            // with EACH OTHER into their own earlier sessions, lower an
            // open session's start, or bridge two open sessions into
            // one. Sorting by start and folding with the gap rule
            // handles every case uniformly.
            val intervals =
              (state.getOption.map(_.intervals).getOrElse(Seq.empty) ++
                evs.map(e => SessState(e.ts.getTime, e.ts.getTime, 1)))
                .sortBy(_.start)
            var merged = List.empty[SessState]
            intervals.foreach { iv =>
              merged = merged match {
                case c :: rest if iv.start - c.last <= gapMs =>
                  SessState(c.start, math.max(c.last, iv.last), c.n + iv.n) :: rest
                case _ => iv :: merged
              }
            }
            settle(merged.reverse)
          }
      }
  }
}
