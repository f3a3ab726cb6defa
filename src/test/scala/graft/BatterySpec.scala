package graft

import com.fasterxml.jackson.databind.ObjectMapper

/** The shared query-battery loop behind Bench, Verify and Explain. The
  * suite's session is shared, so recycling is exercised only at 0. */
class BatterySpec extends SparkSpec {
  test("json escapes quote, backslash and control chars, and round-trips") {
    val raw = "a\"b\\c\nd\te\u0001f"
    assert(Battery.json(raw) == "\"a\\\"b\\\\c\\nd\\te\\u0001f\"")
    assert(new ObjectMapper().readValue(Battery.json(raw), classOf[String]) == raw)
    assert(Battery.json("q1_agg") == "\"q1_agg\"")
  }

  test("select rejects an unknown query name and keeps known ones sorted") {
    val e = intercept[IllegalArgumentException](
      Battery.select(Seq("q1_agg", "q_no_such_query")))
    assert(e.getMessage.contains("q_no_such_query"))
    assert(Battery.select(Seq("q_join_enrich", "q1_agg")).map(_._1) ==
      Seq("q1_agg", "q_join_enrich"))
    assert(Battery.select(Nil).size == SparkEntry.queries.size)
  }

  test("hygiene drops a checkpointing query's blocks; recycle 0 keeps the session") {
    // Battery's session builder re-applies its runtime SQL confs to the
    // shared session; put the suite's partition count back afterwards
    val partitions = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      val battery = new Battery("graft-spec", recycleEvery = 0)
      val Seq((_, fn)) = Battery.select(Seq("q_dedup_clusters"))
      val s = battery.next()
      assert(s.sparkContext eq spark.sparkContext)
      assert(fn(s, sf).count() > 0)
      assert(s.sparkContext.getPersistentRDDs.nonEmpty,
        "q_dedup_clusters no longer localCheckpoints; pick another query")
      assert(battery.next() eq s)
      assert(s.sparkContext.getPersistentRDDs.isEmpty)
      assert(!s.sparkContext.isStopped)
    } finally spark.conf.set("spark.sql.shuffle.partitions", partitions)
  }
}
