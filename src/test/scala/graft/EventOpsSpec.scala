package graft

import java.sql.Timestamp

import graft.events.EventOps

class EventOpsSpec extends SparkTestBase {
  import spark.implicits._

  def ts(min: Long): Timestamp = new Timestamp(1704067200000L + min * 60000L)

  val ev = Seq(
    // user 1: events at 0, 10, 20 min (one session), then 120 min (new session)
    (1L, 1L, ts(0), "click", 1.0),
    (2L, 1L, ts(10), "click", 2.0),
    (3L, 1L, ts(20), "buy", 3.0),
    (4L, 1L, ts(120), "click", 4.0),
    // user 2: single event
    (5L, 2L, ts(5), "click", 5.0)
  ).toDF("event_id", "user_id", "ts", "event_type", "value")

  test("sessionize splits on gap > 30min") {
    val got = EventOps.sessions(ev).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(4), r.getDouble(5))).toMap
    assert(got((1L, 1L)) == (3L, 6.0))
    assert(got((1L, 2L)) == (1L, 4.0))
    assert(got((2L, 1L)) == (1L, 5.0))
  }

  test("top users ranking is deterministic") {
    val got = EventOps.topUsers(ev, 2).collect().map(r => (r.getLong(0), r.getLong(3)))
    assert(got.toSeq == Seq((1L, 1L), (2L, 2L)))
  }
}
