package graft

import org.apache.spark.sql.functions._
import graft.sources.{ChainJson, VolatilityHtml, WeekliesCsv}
import graft.plans.ChainPipeline

/** Domain sources against golden fixtures (FIXTURES.md §A): chain JSON
  * unpivot + missing-side drop, volatility HTML positional extraction +
  * sentinel pages, weeklies CSV remap + last-wins, and the full E2
  * selection pipeline. */
class SourcesSpec extends SparkSpec {
  import spark.implicits._

  private lazy val chainDir = res("chain/2024-01-15")
  private val day = java.sql.Date.valueOf("2024-01-15")

  test("chain json: straddle unpivot, missing side dropped, trunc scale") {
    val chain = ChainJson.toOptionChain(ChainJson.readDay(spark, chainDir), day)
    // AAA has 5 straddles, one missing call side → 4 × 2 rows; BBB 2 × 2
    assert(chain.count() == 12)
    assert(chain.where($"act_symbol" === "AAA").count() == 8)
    val r = rows(chain.where($"act_symbol" === "AAA" &&
      $"strike" === lit(BigDecimal(100)) && $"call_put" === "Call" &&
      $"expiration" === lit(d("2024-01-26"))))
    assert(r.length == 1)
    val row = r.head
    // vol = ivint 24.8 / 100 trunc 4 = 0.2480
    assertDecEq(row.getAs[java.math.BigDecimal]("vol"), "0.248")
    // model_value passes through untruncated
    assertDecEq(row.getAs[java.math.BigDecimal]("model_value"), "2.9012")
  }

  test("chain pipeline: near-the-money selection + PK dedup + idempotence") {
    val prices = Seq(("AAA", "2024-01-12", 101.0), ("AAA", "2024-01-20", 150.0),
      ("BBB", "2024-01-10", 6.0))
      .toDF("act_symbol", "ds", "close").withColumn("date", to_date($"ds"))
    val out = ChainPipeline.loadDay(spark, chainDir, prices, day)
    val got = rows(out.select("act_symbol", "expiration", "strike", "call_put"))
      .map(r => (r.getString(0), r.getDate(1).toString,
        r.getDecimal(2).stripTrailingZeros.toPlainString, r.getString(3)))
    // AAA mark=101 (as-of skips the 2024-01-20 price):
    //   t_exp 01-29→sel 01-26, 02-12→01-26(17d)<02-23(11d)? |01-26−02-12|=17,
    //   |02-23−02-12|=11 → 02-23; 02-26→02-23; 03-11→03-22(11d)<02-23(17d)
    //   strikes at 01-26: {95,100} (105 row was dropped — missing call);
    //   targets 70.7..131.3 → nearest ∈ {95,100} both selected
    //   at 02-23 and 03-22 only strike 100 exists
    // BBB mark=6: strikes {5, 7.5} both selected at 02-16
    val aaaExps = got.filter(_._1 == "AAA").map(_._2).distinct.sorted
    assert(aaaExps == Seq("2024-01-26", "2024-02-23", "2024-03-22"))
    val aaa0126 = got.filter(t => t._1 == "AAA" && t._2 == "2024-01-26")
    assert(aaa0126.map(_._3).distinct.sorted == Seq("100", "95"))
    assert(got.filter(t => t._1 == "BBB").map(_._3).distinct.sorted ==
      Seq("5", "7.5"))
    // both sides present wherever selected
    assert(aaa0126.count(_._4 == "Call") == aaa0126.count(_._4 == "Put"))
    // PK-dedup: no duplicate PKs even though multiple targets select the
    // same (expiration, strike)
    assert(got.distinct.length == got.length)
    // idempotence: re-running the pipeline yields identical output
    val again = ChainPipeline.loadDay(spark, chainDir, prices, day)
    assert(rows(again).toString == rows(out).toString)
  }

  test("chain html: positional call/put projection + OCC onmouseover decode") {
    val opts = graft.sources.ChainHtml.toOptions(
      graft.sources.ChainHtml.readDay(spark, res("chainhtml/2024-01-15")), day)
    // 2 expirations × (call + put); header/nav rows carry no OCC → dropped
    assert(opts.count() == 4)
    val call = rows(opts.where($"call_put" === "Call" &&
      $"expiration" === lit(d("2024-01-26")))).head
    assert(call.getAs[String]("act_symbol") == "AAA")
    assertDecEq(call.getAs[java.math.BigDecimal]("strike"), "95")
    assertDecEq(call.getAs[java.math.BigDecimal]("bid"), "6.10")
    assertDecEq(call.getAs[java.math.BigDecimal]("ask"), "6.30")
    // 25.50% → 0.2550 (no truncation in the HTML era)
    assertDecEq(call.getAs[java.math.BigDecimal]("vol"), "0.255")
    assertDecEq(call.getAs[java.math.BigDecimal]("theta"), "-0.045")
    // put rows read one td to the LEFT (offset −1)
    val put = rows(opts.where($"call_put" === "Put" &&
      $"expiration" === lit(d("2024-02-23")))).head
    assertDecEq(put.getAs[java.math.BigDecimal]("strike"), "100.5")
    assertDecEq(put.getAs[java.math.BigDecimal]("bid"), "3.90")
    assertDecEq(put.getAs[java.math.BigDecimal]("delta"), "-0.47")
    // number-or-false: 'N/A' rho → NULL, not an error
    assert(put.isNullAt(put.fieldIndex("rho")))
  }

  test("volatility html: positional extraction, sentinels, year attach") {
    val pages = VolatilityHtml.readDay(spark, res("vol"))
    val (good, bad) = VolatilityHtml.partitionSentinels(pages)
    assert(bad.count() == 1) // BAD.html
    val hist = VolatilityHtml.toHistory(good, day)
    val r = rows(hist).head
    assert(r.getAs[String]("act_symbol") == "AAA")
    assertDecEq(r.getAs[java.math.BigDecimal]("hv_current"), "0.2861")
    assertDecEq(r.getAs[java.math.BigDecimal]("hv_week_ago"), "0.2915")
    assertDecEq(r.getAs[java.math.BigDecimal]("hv_year_high"), "0.624")
    assert(r.getAs[java.sql.Date]("hv_year_high_date") == d("2023-03-05"))
    assertDecEq(r.getAs[java.math.BigDecimal]("hv_year_low"), "0.182")
    // 29-Feb coerced to 28-Feb, bound to prior year
    assert(r.getAs[java.sql.Date]("hv_year_low_date") == d("2023-02-28"))
    // comma-grouped percent
    assertDecEq(r.getAs[java.math.BigDecimal]("iv_current"), "12.3456")
    assert(r.getAs[java.math.BigDecimal]("iv_week_ago") == null)
    assert(r.getAs[java.math.BigDecimal]("iv_year_high") == null)
    assert(r.getAs[java.sql.Date]("iv_year_high_date") == null)
    assert(r.getAs[java.math.BigDecimal]("iv_year_low") == null)
    assert(r.getAs[java.sql.Date]("iv_year_low_date") == null)
    assert(r.getAs[java.math.BigDecimal]("hv_month_ago") == null)
  }

  test("weeklies csv: trim+remap, bad rows dropped, last-wins roster") {
    val f = WeekliesCsv.readFile(spark,
      res("weeklies/weeklyoptions.2024-01-15.csv"), day)
    // header row and bad-date row dropped; AAPL appears twice
    assert(f.count() == 4)
    assert(rows(f.where($"act_symbol" === "BRK.B")).nonEmpty)
    assert(rows(f.where($"act_symbol" === "RDS.A")).nonEmpty)
    val existing = Seq(("AAPL", "2023-12-01", "2023-12-01"), ("OLD", "2023-01-01", "2023-01-01"))
      .toDF("s", "e", "l")
      .select($"s".as("act_symbol"), to_date($"e").as("effective_date"),
        to_date($"l").as("last_seen"))
    val roster = WeekliesCsv.upsertRoster(existing, f)
    val aapl = rows(roster.where($"act_symbol" === "AAPL")).head
    // incoming wins; within the file the later effective date wins
    assert(aapl.getAs[java.sql.Date]("effective_date") == d("2024-01-13"))
    assert(aapl.getAs[java.sql.Date]("last_seen") == day)
    assert(roster.count() == 4) // AAPL, BRK.B, RDS.A, OLD (XYZ row dropped)
  }
}
