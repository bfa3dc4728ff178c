package graft

import org.apache.spark.sql.functions.col

import graft.ingest.RateLimitedScheduler
import graft.sources.VolatilityHtml

/** SQL function registration, the rate-limited ingestion scheduler, and
  * the A7 load report. */
class ExtensionsSpec extends SparkSpec {

  test("graft_* functions are callable from SQL after register") {
    GraftExtensions.register(spark)
    val dot = spark.sql(
      "SELECT graft_dot_product(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d")
      .collect()(0).getDouble(0)
    assert(dot == 11.0)
    val sh = spark.sql(
      "SELECT graft_shingles(array('a','b','c','d'), 3) AS s")
      .collect()(0).getSeq[String](0)
    assert(sh == Seq("a b c", "b c d"))
    val mh = spark.sql(
      "SELECT size(graft_minhash_signature(array(1L, 2L, 3L), 16)) AS n")
      .collect()(0).getInt(0)
    assert(mh == 16)
    // the SQL hash is bit-identical to the Column-API sampling hash
    val sqlBuckets = spark.sql(
      "SELECT id, graft_hash_bucket(id, 1000) AS b FROM range(0, 500)")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val colBuckets = rows(spark.range(0, 500).toDF("id")
      .select(col("id"), graft.ext.Sampling.hashBucket(col("id"), 1000).as("b")))
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sqlBuckets == colBuckets)
    assert(spark.sql("SELECT graft_hash_value(1001)").collect()(0).getLong(0)
      == (1001L * 654435747L) % 1000000007L)
    // extension path constructs without error
    new GraftExtensions().apply(new org.apache.spark.sql.SparkSessionExtensions)
  }

  test("GraftExtensions injects the as-of strategy and pushdown rule; " +
      "register adds them once") {
    import org.apache.spark.sql.graft.{Bridge, ExtensionsProbe}
    import graft.plans.{AsOfJoinPushdown, AsOfJoinStrategy}
    val e = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(e)
    assert(ExtensionsProbe.strategies(e, spark) == Seq(AsOfJoinStrategy))
    assert(ExtensionsProbe.optimizerRules(e, spark) == Seq(AsOfJoinPushdown))
    // the shared session is built with the extension; registering on top
    // of it must not plan the operator twice
    GraftExtensions.register(spark)
    GraftExtensions.register(spark)
    assert(Bridge.plannerStrategies(spark).count(_ == AsOfJoinStrategy) == 1)
  }

  test("AsOfJoin on a session without GraftExtensions fails before " +
      "planning, naming it; register installs the hooks") {
    val bare = org.apache.spark.sql.graft.ExtensionsProbe.withoutExtensions(spark)
    bare.conf.set("spark.sql.shuffle.partitions", "4")
    val l = bare.range(3).selectExpr("id AS k", "id AS t")
    val r = bare.range(3).selectExpr("id AS k", "id AS t", "id * 10 AS v")
    val e = intercept[IllegalArgumentException](
      graft.plans.AsOfJoin(l, r, Seq("k"), "t", "t"))
    assert(e.getMessage.contains("GraftExtensions"), e.getMessage)
    GraftExtensions.register(bare)
    assert(rows(graft.plans.AsOfJoin(l, r, Seq("k"), "t", "t").orderBy("k")
      .select("asof_v")).map(_.getLong(0)) == Seq(0L, 10L, 20L))
  }

  test("graft_media_meta parses headers from SQL; agrees with decodeMeta") {
    GraftExtensions.register(spark)
    // PNG 16x32 (FIXTURES.md §C byte layout)
    val png = spark.sql(
      """SELECT graft_media_meta(unhex(
        |'89504E470D0A1A0A0000000D4948445200000010000000200806000000')) AS m
        |""".stripMargin).selectExpr("m.format", "m.width", "m.height")
      .collect()(0)
    assert(png.getString(0) == "png" && png.getInt(1) == 16 &&
      png.getInt(2) == 32)
    // WAV 44.1 kHz stereo (FIXTURES.md §C, minus the JUNK chunk); a NULL
    // payload classifies as "unknown", never a null struct
    val r = spark.sql(
      """SELECT graft_media_meta(CAST(NULL AS BINARY)).format AS f,
        |  graft_media_meta(unhex(concat(
        |    '524946462400000057415645',
        |    '666D74201000000001000200', '44AC0000', '10B1020004001000'
        |  ))).sample_rate AS sr,
        |  graft_media_meta(unhex('DEADBEEF')).format AS g
        |""".stripMargin).collect()(0)
    assert(r.getString(0) == "unknown")
    assert(r.getInt(1) == 44100)
    assert(r.getString(2) == "unknown")
  }

  test("scheduler: 20s spacing, 1800s refresh cadence, failure isolation") {
    var now = 0L
    val sleeps = scala.collection.mutable.ArrayBuffer.empty[Long]
    var refreshes = 0
    val sched = new RateLimitedScheduler(20000, 1800000,
      clock = () => now, sleep = ms => { sleeps += ms; now += ms })
    val symbols = (0 until 120).map(i => s"S$i") // 120 × 20 s = 40 min
    val results = sched.run(symbols, () => refreshes += 1, { s =>
      if (s == "S5") throw new RuntimeException("boom") else s.toLowerCase
    })
    assert(sleeps.forall(_ == 20000)) // politeness spacing
    assert(refreshes == 2)            // t=0 and the 30-min boundary
    assert(results.count(_.outcome.isLeft) == 1)
    assert(results.find(_.symbol == "S5").get.outcome.isLeft)
    assert(results.find(_.symbol == "S6").get.outcome == Right("s6"))
  }

  test("volatility load report counts sentinels as failures") {
    val (hist, report) = VolatilityHtml.loadWithReport(spark, res("vol"),
      d("2024-01-15"))
    assert(report == VolatilityHtml.LoadReport(2, 1, 1))
    assert(hist.count() == 1)
  }
}
