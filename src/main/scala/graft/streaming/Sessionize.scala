package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}

/** Stateful sessionization (SURVEY §2b S2): `mapGroupsWithState` over
  * per-user event streams, counting sessions split by a 30-minute gap —
  * the streaming form of verify query q16's lag-window batch analog.
  * State is one (count, lastSeen) pair per user: bounded, and evictable
  * via processing-time timeout in production. */
object Sessionize {

  final case class Event(user_id: Long, ts_us: Long)
  final case class SessionState(sessions: Long, events: Long, lastUs: Long)
  final case class UserSessions(user_id: Long, sessions: Long, events: Long)

  val GapUs: Long = 1800L * 1000000L

  def updateState(userId: Long, batch: Iterator[Event],
                  state: GroupState[SessionState]): UserSessions = {
    val prev = state.getOption.getOrElse(SessionState(0L, 0L, Long.MinValue))
    val sorted = batch.toSeq.sortBy(_.ts_us)
    val next = sorted.foldLeft(prev) { (s, e) =>
      val newSession = s.lastUs == Long.MinValue || e.ts_us - s.lastUs > GapUs
      SessionState(s.sessions + (if (newSession) 1 else 0), s.events + 1, e.ts_us)
    }
    state.update(next)
    UserSessions(userId, next.sessions, next.events)
  }

  /** Streaming (or batch) Dataset[Event] → running per-user session counts. */
  def sessionCounts(events: Dataset[Event]): Dataset[UserSessions] = {
    implicit val enc = Encoders.product[UserSessions]
    implicit val stateEnc = Encoders.product[SessionState]
    events.groupByKey(_.user_id)(Encoders.scalaLong)
      .mapGroupsWithState[SessionState, UserSessions](GroupStateTimeout.NoTimeout)(updateState)
  }
}
