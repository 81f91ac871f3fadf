package graft

import graft.operators.Sessionization

import org.apache.spark.sql.functions.col

class SessionizationSpec extends SparkSpec {
  import spark.implicits._

  test("pathTrigrams: session gaps break paths; ties order by the tie column") {
    // user 1 session A: view click buy (one trigram); after a 1-hour
    // gap session B: view view (too short -> whole-session gram);
    // a tied timestamp orders by event_id (click before buy)
    val ev = Seq(
      (1L, 1L, 0L, "view"), (1L, 2L, 100L, "click"), (1L, 3L, 100L, "buy"),
      (1L, 4L, 7300L, "view"), (1L, 5L, 7310L, "view"),
      (2L, 6L, 0L, "view"), (2L, 7L, 10L, "click"), (2L, 8L, 20L, "buy"))
      .toDF("user_id", "event_id", "t", "event_type")
    val got = Sessionization
      .pathTrigrams(ev, Seq("user_id"), col("t"), col("event_id"),
        col("event_type"), gapSeconds = 1800L, k = 10)
      .as[(String, Long)].collect().toSeq
    assert(got == Seq(("view click buy", 2L), ("view view", 1L)), s"got $got")
  }
}
