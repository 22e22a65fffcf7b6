package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming prewrite/commit matcher
  * (ref: pump/storage/sorter.go:100-239 — pairs a Prewrite with its
  * Commit/Rollback by startTS; an unmatched Prewrite beyond the timeout is
  * escalated to the TiKV lock resolver, storage.go:431-559).
  *
  * Spark twin: `flatMapGroupsWithState` keyed by the transaction's startTs.
  * State holds the pending prewrite; a later commit (or rollback) emits the
  * matched pair and clears state; a processing-time timeout emits an
  * `unresolved` marker — the hook where a real deployment would consult the
  * upstream resolver. State is per-key and partitioned by Spark's shuffle,
  * so matching scales horizontally with no global ordering requirement.
  * One matcher serves one query.
  */
final class PcMatcher(timeoutMs: Long = 600000L) extends Serializable {
  import PcMatcher._

  private val vacated = new org.apache.spark.util.LongAccumulator

  /** Timed-out keys whose state was already gone (see [[matchFn]]), read
    * during or after the query. */
  def vacatedTimeouts: Long = vacated.value

  def matchFn(startTs: Long, events: Iterator[PcEvent],
      state: GroupState[Pending]): Iterator[Matched] = {
    if (state.hasTimedOut) {
      // getOption, not get: a failed task attempt may have removed the
      // state before the retry re-processes the timed-out key (observed
      // under the RocksDB provider) — an already-vacated key is simply done.
      // The count makes that path OBSERVABLE: a retry-vacated key is
      // benign, but a key vacated because a removal committed while its
      // `unresolved` output was discarded is an at-most-once drop; a
      // nonzero count tells the operator to audit, instead of losing the
      // record silently.
      val p = state.getOption
      if (p.isEmpty) vacated.add(1L)
      state.remove()
      p.iterator.map(pp => Matched(startTs, pp.prewriteTs, -1L, "unresolved"))
    } else {
      val out = scala.collection.mutable.ArrayBuffer.empty[Matched]
      events.toSeq.sortBy(_.payloadTs).foreach { e =>
        e.kind match {
          case "P" =>
            state.update(Pending(e.payloadTs))
          case "C" =>
            if (state.exists) {
              out += Matched(startTs, state.get.prewriteTs, e.payloadTs, "matched")
              state.remove()
            } else out += Matched(startTs, -1L, e.payloadTs, "orphan_commit")
          case "R" =>
            if (state.exists) {
              out += Matched(startTs, state.get.prewriteTs, e.payloadTs, "rolled_back")
              state.remove()
            }
          case _ =>
        }
      }
      // (re)arm AFTER the event loop: GroupState clears the stored timeout
      // on EVERY function invocation, so any batch touching this key — in
      // particular one carrying only an unrecognized kind from a newer
      // producer — must re-set the timer while a prewrite is still
      // pending. Arming only inside the "P" case would let such a batch
      // silently DISARM the escalation: the pending entry never times out,
      // `unresolved` never fires, and the state row leaks forever. (The
      // timer restarting from the key's last activity is the semantics the
      // reference's resolver escalation has too.)
      if (state.exists) state.setTimeoutDuration(timeoutMs)
      out.iterator
    }
  }

  /** Wire the matcher over a stream (or batch Dataset in tests via
    * `groupByKey.flatMapGroupsWithState`). */
  def matched(events: Dataset[PcEvent]): Dataset[Matched] = {
    import events.sparkSession.implicits._
    if (!vacated.isRegistered) events.sparkSession.sparkContext.register(vacated)
    events.groupByKey(_.startTs)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.ProcessingTimeTimeout)(
        matchFn _)
  }
}

object PcMatcher {
  /** kind: P (prewrite), C (commit), R (rollback). */
  case class PcEvent(startTs: Long, kind: String, payloadTs: Long)

  case class Pending(prewriteTs: Long)

  /** status: matched | rolled_back | orphan_commit | unresolved(timeout). */
  case class Matched(startTs: Long, prewriteTs: Long, commitTs: Long, status: String)
}
