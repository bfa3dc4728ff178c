package graft

import org.apache.spark.sql.functions._
import graft.plans.AsOfJoin

/** The custom-Catalyst as-of join: semantics ≡ the driver-side brute
  * force (SparkSpec.asOfBruteForce), and the plan-shape claims
  * (exchanges only when needed) hold. */
class PlansSpec extends SparkSpec {
  import spark.implicits._

  private def left = Seq(
    (1L, "2024-01-05", "e1"), (1L, "2024-01-10", "e2"),
    (1L, "2024-01-10", "e3"), // equal left times share the match
    (2L, "2024-01-01", "e4"), // before any right row → nulls
    (3L, "2024-01-07", "e5"), // key absent on the right → nulls
    (4L, "2024-01-07", "e6"))
    .toDF("k", "lt", "tag").withColumn("lt", to_timestamp($"lt"))

  private def right = Seq(
    (1L, "2024-01-03", 10.0, 100L), (1L, "2024-01-05", 11.0, 101L),
    (1L, "2024-01-05", 12.0, 102L), // tie at (key, time): greatest tuple wins
    (1L, "2024-01-12", 13.0, 103L), // after every left row → never picked
    (2L, "2024-01-02", 20.0, 200L),
    (4L, "2024-01-07", 40.0, 400L)) // equal time: inclusive ≤ matches
    .toDF("k", "rt", "v", "seq").withColumn("rt", to_timestamp($"rt"))

  private def canon(df: org.apache.spark.sql.DataFrame): Seq[String] = {
    val cols = df.columns.sorted
    rows(df.select(cols.map(col).toIndexedSeq: _*)).map(_.toString).sorted
  }

  test("planned as-of join ≡ brute force, incl. ties and misses") {
    val planned = AsOfJoin(left, right, Seq("k"), "lt", "rt")
    assert(canon(planned) ==
      canon(asOfBruteForce(left, right, Seq("k"), "lt", "rt")))
    // spot-check semantics directly
    val byTag = rows(planned).map(r =>
      r.getString(planned.columns.indexOf("tag")) ->
        Option(r.get(planned.columns.indexOf("asof_seq")))).toMap
    assert(byTag("e1") == Some(102L)) // tie at 01-05 → greatest (v, seq) tuple
    assert(byTag("e2") == Some(102L)) // 01-12 is in the future
    assert(byTag("e3") == Some(102L))
    assert(byTag("e4") == None)       // right rows all later
    assert(byTag("e5") == None)       // no such key
    assert(byTag("e6") == Some(400L)) // inclusive ≤ at equal timestamps
  }

  test("null keys and null right times never match, as in SQL's = and <=") {
    val l = Seq[(Option[Long], Option[String], String)](
      (Some(1L), Some("2024-01-03"), "n1"), // only candidates: null time, later
      (Some(1L), None, "n2"),               // null left time
      (Some(2L), Some("2024-01-10"), "n3"), // only candidate has a null time
      (None, Some("2024-01-10"), "n4"),     // null key on both sides
      (Some(1L), Some("2024-01-06"), "n5")) // the one real match
      .toDF("k", "lt", "tag").withColumn("lt", to_timestamp($"lt"))
    val r = Seq[(Option[Long], Option[String], Long)](
      (Some(1L), None, 100L), (Some(1L), Some("2024-01-05"), 101L),
      (Some(2L), None, 200L), (None, Some("2024-01-01"), 300L))
      .toDF("k", "rt", "seq").withColumn("rt", to_timestamp($"rt"))
    val planned = AsOfJoin(l, r, Seq("k"), "lt", "rt")
    val byTag = rows(planned).map(x => x.getAs[String]("tag") ->
      Option(x.getAs[Any]("asof_seq"))).toMap
    assert(byTag == Map("n1" -> None, "n2" -> None, "n3" -> None,
      "n4" -> None, "n5" -> Some(101L)), byTag)
    assert(canon(planned) == canon(asOfBruteForce(l, r, Seq("k"), "lt", "rt")))
  }

  test("unpartitioned inputs plan one exchange per side; exec node present") {
    val planned = AsOfJoin(left, right, Seq("k"), "lt", "rt")
    val plan = planned.queryExecution.executedPlan.toString
    assert(plan.contains("AsOfJoin"), s"exec node missing:\n$plan")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 2, s"expected 2 exchanges, got $exchanges:\n$plan")
  }

  test("bucketed inputs satisfy the declared distribution: zero exchanges") {
    try {
      graft.operators.Export.writeBucketed(left, "b_asof_l", Seq("k"), 4)
      graft.operators.Export.writeBucketed(right, "b_asof_r", Seq("k"), 4)
      val planned = AsOfJoin(spark.table("b_asof_l"), spark.table("b_asof_r"),
        Seq("k"), "lt", "rt")
      val plan = planned.queryExecution.executedPlan.toString
      assert(plan.contains("AsOfJoin"), s"exec node missing:\n$plan")
      assert(!plan.contains("Exchange hashpartitioning"),
        s"unexpected shuffle on bucketed inputs:\n$plan")
      assert(canon(planned) ==
        canon(asOfBruteForce(left, right, Seq("k"), "lt", "rt")))
    } finally {
      spark.sql("DROP TABLE IF EXISTS b_asof_l")
      spark.sql("DROP TABLE IF EXISTS b_asof_r")
    }
  }

  test("pushdown rule: left filters reach both scans, asof_ filters stay put") {
    val dir = "/root/testdata/sf0.001"
    val ev = graft.sources.Tables.events(spark, dir)
      .select($"event_id", $"user_id", $"ts")
    val ord = graft.sources.Tables.orders(spark, dir)
      .select($"o_custkey".as("user_id"), $"o_orderdate", $"o_orderkey")
    val joined = AsOfJoin(ev, ord, Seq("user_id"), "ts", "o_orderdate")
    val filtered = joined.where($"user_id" < 50 && $"event_id" % 2 === 0)
    val opt = filtered.queryExecution.optimizedPlan.toString
    // both conjuncts left the post-join position…
    val aboveJoin = opt.linesIterator.takeWhile(!_.contains("AsOfJoin")).mkString("\n")
    assert(!aboveJoin.contains("Filter"), s"filter not pushed:\n$opt")
    // …and the key predicate reached BOTH parquet scans as a pushed filter
    val exec = filtered.queryExecution.executedPlan.toString
    val pushed = "PushedFilters: \\[[^\\]]*LessThan".r.findAllIn(exec).size
    assert(pushed == 2, s"expected key filter pushed to both scans:\n$exec")
    // results are unchanged by the rewrite
    val expect = asOfBruteForce(ev, ord, Seq("user_id"), "ts", "o_orderdate")
      .where($"user_id" < 50 && $"event_id" % 2 === 0)
    assert(canon(filtered) == canon(expect))
    // a predicate over an asof_ (right result) column must NOT push below
    val onRight = joined.where($"asof_o_orderkey".isNotNull)
    val opt2 = onRight.queryExecution.optimizedPlan.toString
    assert(opt2.linesIterator.next().trim.startsWith("Filter") ||
      opt2.linesIterator.next().trim.startsWith("Project"),
      s"asof_ filter moved unexpectedly:\n$opt2")
  }

  test("planned as-of ≡ brute force on the events×orders corpus slice") {
    val dir = "/root/testdata/sf0.001"
    val ev = graft.sources.Tables.events(spark, dir)
      .select($"event_id", $"user_id", $"ts")
    val ord = graft.sources.Tables.orders(spark, dir)
      .select($"o_custkey".as("user_id"), $"o_orderdate", $"o_orderkey",
        $"o_totalprice")
    val planned = AsOfJoin(ev, ord, Seq("user_id"), "ts", "o_orderdate")
    assert(canon(planned) ==
      canon(asOfBruteForce(ev, ord, Seq("user_id"), "ts", "o_orderdate")))
    assert(planned.count() == ev.count())
  }
}
