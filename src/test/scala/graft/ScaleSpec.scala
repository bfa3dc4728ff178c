package graft

import org.apache.spark.sql.functions._
import graft.ext.Multimodal
import graft.operators.Skew
import graft.sources.ChainJson

/** Scale-path pieces: typed parse layer, salted aggregation equivalence,
  * streaming chain ingestion ≡ batch, multimodal batch feature
  * extraction. */
class ScaleSpec extends SparkSpec {
  import spark.implicits._

  test("typed parse layer: Dataset[OptionQuote] view of the chain load") {
    val ds = ChainJson.toOptionQuotes(
      ChainJson.readDay(spark, res("chain/2024-01-15")), d("2024-01-15"))
    val quotes = ds.collect()
    assert(quotes.length == 12)
    val q = quotes.find(q => q.act_symbol == "AAA" &&
      q.strike == BigDecimal(100) && q.call_put == "Call" &&
      q.expiration == d("2024-01-26")).get
    assert(q.vol == BigDecimal("0.248"))
    // typed filter/map compiles and runs
    assert(ds.filter(_.call_put == "Call").count() == 6)
  }

  test("salted aggregation equals direct aggregation") {
    val df = Tables("lineitem")
    val direct = df.groupBy("l_returnflag")
      .agg(sum($"l_quantity").as("s"), count(lit(1)).as("n"))
    val salted = Skew.saltedAgg(df, Seq("l_returnflag"), 8, Seq(
      ($"l_quantity", (c: org.apache.spark.sql.Column) => sum(c),
        (c: org.apache.spark.sql.Column) => sum(c), "s"),
      (lit(1), (c: org.apache.spark.sql.Column) => count(c),
        (c: org.apache.spark.sql.Column) => sum(c), "n")))
    val a = direct.orderBy("l_returnflag").collect().map(r =>
      (r.getString(0), math.round(r.getDouble(1) * 100), r.getLong(2))).toSeq
    val b = salted.orderBy("l_returnflag").collect().map(r =>
      (r.getString(0), math.round(r.getDouble(1) * 100), r.getLong(2))).toSeq
    assert(a == b)
  }

  private def Tables(name: String) =
    graft.sources.Tables.read(spark, "/root/testdata/sf0.001", name)

  test("salted join equals plain join for inner and left, nulls preserved") {
    import org.apache.spark.sql.functions._
    val fact = Seq((1L, 10.0), (1L, 20.0), (1L, 30.0), (2L, 5.0), (9L, 7.0))
      .toDF("k", "v") // key 1 is "hot"; key 9 has no dim row
    val dim = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "name")
    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
      rows(df.select($"k", $"v", $"name")).map(_.toString).sorted
    val si = graft.operators.Skew.saltedJoin(fact, dim, Seq("k"), 4)
    assert(canon(si) == canon(fact.join(dim, Seq("k"))))
    val sl = graft.operators.Skew.saltedJoin(fact, dim, Seq("k"), 4, "left")
    assert(canon(sl) == canon(fact.join(dim, Seq("k"), "left")))
    assert(canon(sl).exists(_.contains("null"))) // key 9 survives with null
    intercept[IllegalArgumentException] {
      graft.operators.Skew.saltedJoin(fact, dim, Seq("k"), 4, "right")
    }
  }

  test("saltOn spreads a duplicate-heavy hot key the content salt cannot") {
    // the degenerate salted-agg input: counting (key, 1) event rows —
    // every row of the hot key is IDENTICAL, so the content-derived salt
    // (a pure function of row content) collapses them into one bucket
    val dup = Seq.fill(64)(("hot", 1L)).toDF("k", "v")
    val defaultSalts = dup.select(
      Skew.saltFor(dup, 8, Nil).as("s")).distinct().count()
    assert(defaultSalts == 1L, "identical rows must share a content salt")
    // with a stable unique id passed via saltOn, the same hot key spreads
    val withId = (1L to 64L).map(i => ("hot", 1L, i)).toDF("k", "v", "id")
    val idSalts = withId.select(
      Skew.saltFor(withId, 8, Seq($"id")).as("s")).distinct().count()
    assert(idSalts > 1L, "id-salted hot key must occupy >1 salt bucket")
    // and the aggregate stays exact
    val salted = Skew.saltedAgg(withId, Seq("k"), 8, Seq(
      ($"v", (c: org.apache.spark.sql.Column) => sum(c),
        (c: org.apache.spark.sql.Column) => sum(c), "s"),
      (lit(1), (c: org.apache.spark.sql.Column) => count(c),
        (c: org.apache.spark.sql.Column) => sum(c), "n")),
      saltOn = Seq($"id"))
    val r = salted.collect()
    assert(r.length == 1 && r(0).getLong(1) == 64L && r(0).getLong(2) == 64L)
    // saltedJoin accepts the same explicit salt and stays exact
    val dim = Seq(("hot", "x")).toDF("k", "name")
    val sj = Skew.saltedJoin(withId, dim, Seq("k"), 4, "inner", Seq($"id"))
    assert(sj.count() == 64L)
  }

  test("streaming chain ingestion produces the batch result") {
    val dir = res("chain/2024-01-15")
    val stream = spark.readStream
      .schema(graft.model.Schemas.chainStraddleRow)
      .option("multiLine", "true")
      .json(s"$dir/*.json")
      .withColumn("act_symbol",
        regexp_extract(input_file_name(), "([^/]+)\\.json$", 1))
    val out = ChainJson.toOptionChain(stream, d("2024-01-15"))
    val q = out.writeStream.format("memory").queryName("chain_stream")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.sql(
      "select act_symbol, expiration, strike, call_put from chain_stream")
      .collect().map(_.toString).sorted.toSeq
    val batch = ChainJson.toOptionChain(
      ChainJson.readDay(spark, dir), d("2024-01-15"))
      .select("act_symbol", "expiration", "strike", "call_put")
      .collect().map(_.toString).sorted.toSeq
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("bucketed tables join without a shuffle on either side") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      graft.operators.Export.writeBucketed(
        Tables("orders").select($"o_orderkey", $"o_custkey"),
        "b_orders", Seq("o_orderkey"), 4)
      graft.operators.Export.writeBucketed(
        Tables("lineitem").select($"l_orderkey", $"l_quantity"),
        "b_lineitem", Seq("l_orderkey"), 4)
      val joined = spark.table("b_lineitem").join(spark.table("b_orders"),
        $"l_orderkey" === $"o_orderkey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"unexpected shuffle in bucketed join:\n$plan")
      assert(joined.count() > 0)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_lineitem")
    }
  }

  test("MediaCodec: golden header fixtures parse; malformed bytes degrade, never throw") {
    import Multimodal.{MediaCodec, MediaMeta}
    def bytes(hex: String): Array[Byte] =
      hex.replaceAll("\\s", "").grouped(2)
        .map(Integer.parseInt(_, 16).toByte).toArray
    // golden fixtures (also recorded in FIXTURES.md §C)
    val png = bytes("89504E470D0A1A0A 0000000D 49484452 00000280 000001E0 08 06 000000")
    assert(MediaCodec.parseHeader(png) ==
      MediaMeta("png", Some(640), Some(480), None, None))
    // JPEG: APP0 (JFIF) and a COM segment BEFORE the SOF0 — the scan
    // must skip both by their length fields
    val jpeg = bytes("FFD8" +
      "FFE0 0010 4A46494600 0101 00 0001 0001 00 00" +
      "FFFE 0004 4142" +
      "FFC0 000B 08 0040 0080 01 01 11 00" +
      "FFD9")
    assert(MediaCodec.parseHeader(jpeg) ==
      MediaMeta("jpeg", Some(128), Some(64), None, None))
    val gif = bytes("474946383961 8002 E001 F7 00 00") // 640x480 le
    assert(MediaCodec.parseHeader(gif) ==
      MediaMeta("gif", Some(640), Some(480), None, None))
    // WAV: a JUNK chunk before fmt — the chunk scan must skip it
    val wav = bytes("52494646 24000000 57415645" +
      "4A554E4B 04000000 DEADBEEF" +
      "666D7420 10000000 0100 0200 44AC0000 10B10200 0400 1000")
    assert(MediaCodec.parseHeader(wav) ==
      MediaMeta("wav", None, None, Some(44100), Some(2)))
    // degradation: matched magic but truncated/absent detail → nulls
    assert(MediaCodec.parseHeader(bytes("89504E470D0A1A0A")) ==
      MediaMeta("png", None, None, None, None))
    assert(MediaCodec.parseHeader(bytes("FFD8FFD9")) ==
      MediaMeta("jpeg", None, None, None, None))
    assert(MediaCodec.parseHeader(bytes("474946383961")) ==
      MediaMeta("gif", None, None, None, None))
    assert(MediaCodec.parseHeader(bytes("52494646240000005741564500")) ==
      MediaMeta("wav", None, None, None, None))
    // garbage / empty / non-media
    assert(MediaCodec.parseHeader(bytes("DEADBEEF")).format == "unknown")
    assert(MediaCodec.parseHeader(Array.emptyByteArray).format == "unknown")
    assert(MediaCodec.parseHeader("plain text".getBytes).format == "unknown")
    // adversarial: JPEG whose segment length overruns the buffer
    assert(MediaCodec.parseHeader(bytes("FFD8 FFE0 FFFF 00")) ==
      MediaMeta("jpeg", None, None, None, None))
  }

  test("decodeMeta: distributed parse incl. null payloads") {
    val df = Seq(
      (1L, "89504E470D0A1A0A0000000D49484452000000100000002008060000000000"),
      (2L, "474946383961100020000000"),
      (3L, null.asInstanceOf[String]),
      (4L, "00"))
      .toDF("media_id", "hexp")
      .select($"media_id", unhex($"hexp").as("payload"))
      .repartition(2)
    val got = rows(Multimodal.decodeMeta(df, "media_id", "payload")
      .orderBy("media_id")).map(r => (r.getLong(0), r.getString(1),
        Option(r.get(2)), Option(r.get(3))))
    assert(got == Seq(
      (1L, "png", Some(16), Some(32)),
      (2L, "gif", Some(16), Some(32)),
      (3L, "unknown", None, None),
      (4L, "unknown", None, None)))
  }

  test("auto-sized quantizer holds cell size constant as the corpus grows 10x") {
    import graft.ext.{Ivf, Similarity}
    // deterministic synthetic embeddings: 8 dims of sin-scrambled id
    def corpus(n: Int) = spark.range(n).selectExpr("id AS vec_id",
      "transform(sequence(1, 8), j -> CAST(sin(id * j * 0.7 + j) AS FLOAT)) AS embedding")
    def statsAuto(n: Int): Similarity.CellStats = {
      val df = corpus(n)
      val k = Similarity.autoNCells(n, targetCellSize = 32)
      Similarity.cellStats(
        Ivf.assignWith(df, "vec_id", "embedding",
          Ivf.train(df, "vec_id", "embedding", k)), "cid")
    }
    val small = statsAuto(2000)
    val big = statsAuto(20000)
    // candidate work per row = sumSqOcc / rows ≈ expected cell size;
    // auto sizing must keep it BOUNDED as rows grow 10x (the fixed-k
    // analog grows ~10x). Seed cells are unbalanced on purpose — allow
    // a generous constant, but not a linear one.
    val perRowSmall = small.sumSqOcc.toDouble / small.rows
    val perRowBig = big.sumSqOcc.toDouble / big.rows
    assert(big.cells >= small.cells * 8, s"cells did not grow: $small -> $big")
    assert(perRowBig <= perRowSmall * 3.0,
      s"per-row candidate work grew super-linearly: $perRowSmall -> $perRowBig")
    // the FIXED-k contrast on the same data: per-row work ~10x
    def statsFixed(n: Int): Similarity.CellStats = {
      val df = corpus(n)
      Similarity.cellStats(
        Ivf.assignWith(df, "vec_id", "embedding",
          Ivf.train(df, "vec_id", "embedding", 16)), "cid")
    }
    val fs = statsFixed(2000); val fb = statsFixed(20000)
    val fixedGrowth = (fb.sumSqOcc.toDouble / fb.rows) /
      (fs.sumSqOcc.toDouble / fs.rows)
    assert(fixedGrowth >= 5.0,
      s"expected the fixed-k control to grow ~10x, got $fixedGrowth")
  }

  test("cellStats: exact values on a known occupancy distribution") {
    import graft.ext.Similarity
    // cells with occupancies 1..5 (15 rows, sumSq=55); discrete
    // inverse-CDF: p50 at rank ceil(0.5*5)=3 -> occ 3, p99 at rank 5 -> 5
    val assigned = (1 to 5).flatMap(c => Seq.fill(c)(c)).toDF("cid")
    val s = Similarity.cellStats(assigned, "cid")
    assert(s == Similarity.CellStats(5, 15, 3, 5, 5, 55))
    // occupancy-sorted ranks are value-deterministic under ties
    val tied = Seq(1, 1, 2, 2, 3, 3).toDF("cid") // three cells of 2
    assert(Similarity.cellStats(tied, "cid") ==
      Similarity.CellStats(3, 6, 2, 2, 2, 12))
    // autoNCells: 10x rows -> ~10x cells, clamped at the extremes
    assert(Similarity.autoNCells(1, 128) == 1)
    assert(Similarity.autoNCells(1280, 128) == 10)
    assert(Similarity.autoNCells(12800, 128) == 100)
    assert(Similarity.autoNCells(Long.MaxValue, 128) == Similarity.MaxAutoCells)
    // ceil-div near Long.MaxValue must not wrap (n + d - 1 overflows)
    assert(Similarity.autoBitsPerBand(Long.MaxValue, 16) == 30)
  }

  test("auto path escalates past maxPlanCells to fine-as-data instead of clamping") {
    import graft.ext.{Ivf, Similarity}
    def corpus(n: Int) = spark.range(n).selectExpr("id AS vec_id",
      "transform(sequence(1, 8), j -> CAST(sin(id * j * 0.7 + j) AS FLOAT)) AS embedding")
    val n = 4096
    val df = corpus(n)
    // k = 256 target cells with tiny tier limits: flat stops at 8,
    // plan-constant two-level at 64 — the auto model MUST take the
    // fine-as-data tier (before this round it clamped to maxPlanCells
    // and let cell size drift upward)
    val m = Similarity.autoModel(df, "vec_id", "embedding", k = 256,
      flatLimit = 8, maxPlanCells = 64)
    assert(m.isInstanceOf[Ivf.TwoLevelData], s"wrong tier: ${m.getClass}")
    val assigned = Ivf.assignModel(df, "vec_id", "embedding", m)
    val stats = Similarity.cellStats(assigned, "cid")
    // unclamped: the model offers ~256 cells, far beyond the 64-cell
    // plan budget — occupied-cell count must cross it decisively
    assert(stats.rows == n)
    assert(stats.cells > 64,
      s"still clamped to the plan budget: ${stats.cells} cells")
    // expected cell size stays at ~n/k = 16 (seeds are unbalanced, so
    // bound the mean, not the max)
    assert(stats.rows / stats.cells <= 16 * 3,
      s"cell size drifted: ${stats.rows / stats.cells}")
    // the fine level is DATA: the executed plan joins on ccid instead
    // of embedding a K-sized constant
    val plan = assigned.queryExecution.executedPlan.toString
    assert(plan.contains("ccid"), "no ccid join in the as-data plan:\n" +
      plan.take(600))
    // and the whole composition still plugs into semanticDedup: the
    // auto path (forced to the as-data tier) equals the explicit
    // assignment form
    val viaAuto = rows(Similarity.semanticDedup(df.limit(512), "vec_id",
        "embedding", threshold = 0.95, targetCellSize = 16,
        flatAutoCells = 8, maxPlanCells = 16))
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val mSmall = Similarity.autoModel(df.limit(512), "vec_id", "embedding",
      k = 32, flatLimit = 8, maxPlanCells = 16)
    assert(mSmall.isInstanceOf[Ivf.TwoLevelData])
    val viaAssign = rows(Similarity.semanticDedup(df.limit(512), "vec_id",
        "embedding", threshold = 0.95, assignment = Some(
          Ivf.assignModel(df.limit(512), "vec_id", "embedding", mSmall)
            .select(col("neighbor_id").as("id"), col("cid")))))
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaAuto == viaAssign)
  }

  test("adaptive LSH: clustered-corpus candidate volume collapses toward the uniform baseline") {
    import graft.ext.Similarity
    val n = 16384
    val target = 16L
    // uniform control: iid per-(id, dim) hash noise — actually uniform
    // in sign space (the sin-scramble correlates dims and trips the hot
    // cut on its own)
    // 512 dims: at low dimension the random planes correlate (pairwise
    // cos ~ 1/sqrt(d)) and bucket masses are unequal even for uniform
    // data — 8- and 32-dim controls tripped the hot cut on their own.
    // At 512 the planes are near-orthogonal and the uniform control
    // behaves like its expectation.
    def uniform(rows: Int) = spark.range(rows).selectExpr("id AS vec_id",
      "transform(sequence(1, 512), j -> CAST(pmod(xxhash64(id, j), 2000) " +
        "/ 1000.0 - 1.0 AS FLOAT)) AS embedding")
    // clustered: 8 well-separated centers (one dominant dimension each,
    // magnitude ~1.7x the iid jitter norm) — members mostly share base
    // band keys (the skew) while straddling enough extra hyperplanes
    // to sub-bucket
    def clustered(rows: Int) = spark.range(rows).selectExpr("id AS vec_id",
      "transform(sequence(1, 512), j -> CAST((CASE WHEN j - 1 = id % 8 " +
        "THEN 16.0 ELSE 0.0 END) + 0.8 * (pmod(xxhash64(id, j), 2000) " +
        "/ 1000.0 - 1.0) AS FLOAT)) AS embedding")
    val bits = Similarity.autoBitsPerBand(n, target)
    def fullStats(keyed: org.apache.spark.sql.DataFrame) =
      Similarity.cellStats(
        keyed.withColumn("ck", struct(col("bkey"), col("ext"))), "ck")
    def perRow(keyed: org.apache.spark.sql.DataFrame): Double = {
      val s = fullStats(keyed)
      s.sumSqOcc.toDouble / s.rows
    }
    val (uniKeys, _, uniEngaged) = Similarity.adaptiveBandKeys(uniform(n),
      "vec_id", "embedding", 4, bits, 512, target, 8L, 16)
    val (cluKeys, cluBits, cluEngaged) = Similarity.adaptiveBandKeys(
      clustered(n), "vec_id", "embedding", 4, bits, 512, target, 8L, 16)
    // naive = the same corpus under base keys only (ext pinned cold)
    val naive = Similarity.bandKeysFor(clustered(n), "vec_id", "embedding",
      4, bits, 512).withColumn("ext", lit(-1L))
    val (u, c, nv) = (perRow(uniKeys), perRow(cluKeys), perRow(naive))
    info(f"per-row candidate volume: uniform=$u%.1f adaptive=$c%.1f " +
      f"naive=$nv%.1f extraBits=$cluBits engaged=$cluEngaged")
    info(s"uniform stats: ${fullStats(uniKeys)}")
    info(s"naive clustered stats: ${fullStats(naive)}")
    // the failure is real: expectation-sized keys on clustered data
    // carry several times the uniform candidate bill
    assert(!uniEngaged, "uniform corpus should not trip the hot cut")
    assert(cluEngaged, "clustered corpus must trip the hot cut")
    assert(nv >= u * 3.0, f"clustered naive $nv%.1f not skewed vs uniform $u%.1f")
    // ...and the adaptive keys act on the measurement: within ~3x of
    // the uniform bill where the naive keys measurably are not
    assert(c <= u * 3.0, f"adaptive $c%.1f above 3x uniform $u%.1f")
    // recall: on a corpus small enough to compare, the adaptive pairs
    // recover near-all of the base-LSH pairs (probing absorbs the
    // extra-bit disagreements) — precision is exact on both sides
    val small = 2048
    val bitsS = Similarity.autoBitsPerBand(small, target)
    // pairwise cosine inside a blob sits around 0.75 (center² over
    // center² + jitter²), so 0.7 is the regime with real pairs
    def pairs(df: org.apache.spark.sql.DataFrame,
        f: (org.apache.spark.sql.DataFrame, String, String, Double) =>
          org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      rows(f(df, "vec_id", "embedding", 0.7))
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val base = pairs(clustered(small), (d, i, v, t) =>
      Similarity.lshNearDupPairs(d, i, v, t, bands = 4,
        bitsPerBand = Some(bitsS)))
    val adapt = pairs(clustered(small), (d, i, v, t) =>
      Similarity.lshNearDupPairsAdaptive(d, i, v, t, bands = 4,
        bitsPerBand = Some(bitsS)))
    info(s"recall check: base=${base.size} adaptive=${adapt.size} " +
      s"common=${(base & adapt).size}")
    assert(base.nonEmpty)
    // measured trade on this corpus: ~7x less candidate volume for
    // ~0.89 of the base pairs retained (probing absorbs single extra-
    // bit disagreements; deeper disagreement is the split working).
    // `bands` stays the recall knob, unchanged by adaptation.
    assert((base & adapt).size.toDouble / base.size >= 0.85,
      s"adaptive recall ${(base & adapt).size}/${base.size} below 0.85")
    // probeRadius is the recall knob: radius-2 probes are a superset of
    // radius-1's, so the pair set can only grow — and on this corpus it
    // measurably buys back the pairs radius 1 dropped
    val adapt2 = pairs(clustered(small), (d, i, v, t) =>
      Similarity.lshNearDupPairsAdaptive(d, i, v, t, bands = 4,
        bitsPerBand = Some(bitsS), probeRadius = 2))
    val (r1, r2) = ((base & adapt).size.toDouble / base.size,
      (base & adapt2).size.toDouble / base.size)
    info(f"probe-radius recall: r=1 $r1%.3f  r=2 $r2%.3f " +
      s"(pairs ${adapt.size} -> ${adapt2.size})")
    assert(adapt.subsetOf(adapt2),
      "radius-2 pair set must contain the radius-1 set")
    assert(r2 >= r1, "recall must be monotone in probe radius")
    assert(r2 >= 0.95,
      f"radius-2 recall $r2%.3f below 0.95 on the clustered corpus")
  }

  test("splitHotCells: fixpoint bounds occupancy on a clustered corpus, cold cells untouched") {
    import graft.ext.{Ivf, Similarity}
    val n = 4096
    val target = 16L
    // seeds (ids 0-7) cover eight distinct blobs, but 6/8 of the
    // REMAINING rows pile into blob 0 — cell 0 becomes a giant hot
    // cell, cells 1-5 near-empty (the cold control), 6/7 mid-sized
    val emb = spark.range(n).selectExpr("id AS vec_id",
      "transform(sequence(1, 64), j -> CAST((CASE WHEN j - 1 = " +
        "(CASE WHEN id < 8 THEN id " +
        "WHEN id % 8 < 6 THEN 0 ELSE id % 8 END) " +
        "THEN 16.0 ELSE 0.0 END) + 0.8 * (pmod(xxhash64(id, j), 2000) " +
        "/ 1000.0 - 1.0) AS FLOAT)) AS embedding")
    val assigned = Ivf.assignWith(emb, "vec_id", "embedding",
      Ivf.train(emb, "vec_id", "embedding", nlist = 8))
      .localCheckpoint()
    val naive = Similarity.cellStats(assigned, "cid")
    val out = Ivf.splitHotCells(assigned, target, hotFactor = 8L,
      maxSubCells = 8).localCheckpoint()
    val refined = Similarity.cellStats(
      out.withColumn("ck", struct(col("cid"), col("sub"))), "ck")
    info(s"naive: $naive refined: $refined")
    // the fixture is genuinely skewed, and the fixpoint leaves nothing
    // above the hot cut
    assert(naive.maxOcc > 8L * target, "fixture must be skewed")
    assert(refined.maxOcc <= 8L * target)
    // the within-cell candidate bill collapses by >= an order of
    // magnitude (giant cells carried almost all of Sum occ^2)
    assert(refined.sumSqOcc * 10 <= naive.sumSqOcc,
      s"refined ${refined.sumSqOcc} not << naive ${naive.sumSqOcc}")
    // refinement PARTITIONS the original cells: cid never changes and
    // no row is lost or duplicated
    assert(out.count() == n)
    assert(out.join(assigned.select(col("neighbor_id"),
        col("cid").as("cid0")), "neighbor_id")
      .where(col("cid") =!= col("cid0")).isEmpty)
    // cold cells ride through with sub = -1 as entire cells
    val coldCids = rows(out.where(col("sub") === -1L)
      .select(col("cid")).distinct()).map(_.getLong(0)).toSet
    val occ0 = rows(assigned.groupBy("cid").count())
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(coldCids.forall(c => occ0(c) <= 8L * target))
    // deterministic: the oracle-pinned one-round form reruns bitwise
    def r1() = rows(Ivf.splitHotCells(assigned, target, hotFactor = 8L,
        maxSubCells = 8, maxRounds = 1)
      .select(col("neighbor_id"), col("cid"), col("sub"))
      .orderBy("neighbor_id"))
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(r1() == r1())
    // and composes with semanticDedup as a (cid, sub) struct key
    val dd = graft.ext.Similarity.semanticDedup(emb, "vec_id",
      "embedding", threshold = 0.9, assignment = Some(out.select(
        col("neighbor_id").as("id"),
        struct(col("cid"), col("sub")).as("cid"))))
    assert(dd.count() == n)
    // the one-call adaptive form (hotFactor option) IS that
    // composition: same quantizer, default split, identical output
    val oneCall = rows(Similarity.semanticDedup(emb, "vec_id",
      "embedding", threshold = 0.9, nCells = Some(8),
      targetCellSize = 16, hotFactor = Some(8L)).orderBy("id"))
      .map(r => (r.getLong(0), r.getLong(1)))
    val manual = rows(Similarity.semanticDedup(emb, "vec_id",
      "embedding", threshold = 0.9, assignment = Some(
        Ivf.splitHotCells(assigned, 16, 8L)
          .select(col("neighbor_id").as("id"),
            struct(col("cid"), col("sub")).as("cid")))).orderBy("id"))
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(oneCall == manual)
    // hotFactor with a precomputed assignment is refused loudly
    intercept[IllegalArgumentException] {
      Similarity.semanticDedup(emb, "vec_id", "embedding",
        threshold = 0.9, assignment = Some(out.select(
          col("neighbor_id").as("id"), col("cid"))),
        hotFactor = Some(8L))
    }
  }

  test("retrieval family plans: chunking is exchange-free, top-k lists truncate via TakeOrdered, bm25 stats broadcast") {
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val embeds = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    // x79 shape: one scan + generator, NO exchange anywhere — the plan
    // that stays linear at 100 TB
    val chunkPlan = graft.ext.TextAnalysis.chunkTokens(docs, "doc_id",
      "text", 64, 48).queryExecution.executedPlan.toString
    assert(!chunkPlan.contains("Exchange"),
      "chunkTokens shuffled:\n" + chunkPlan.take(600))
    // x77 shape: both per-retriever cuts are TakeOrderedAndProject
    // (per-partition heaps), never a global Sort over the corpus
    val rrfPlan = graft.ext.Retrieval.hybridRrfTopK(docs, embeds,
        "doc_id", "text", "vec_id", "embedding",
        terms = Seq("spark", "join"), queryVecId = 0L)
      .queryExecution.executedPlan.toString
    assert(rrfPlan.contains("TakeOrderedAndProject"),
      "no TakeOrderedAndProject in the RRF plan:\n" + rrfPlan.take(600))
    assert(!rrfPlan.contains("Sort [bm25"),
      "global sort on bm25 leaked into the RRF plan")
    // x76 shape: the corpus stats come back as ONE broadcast row
    val bm25Plan = graft.ext.Retrieval.bm25Score(docs, "doc_id", "text",
      Seq("spark")).queryExecution.executedPlan.toString
    assert(bm25Plan.contains("BroadcastNestedLoopJoin") ||
      bm25Plan.contains("BroadcastExchange"),
      "bm25 stats are not broadcast:\n" + bm25Plan.take(600))
    // x86 shape: the serving cut is TakeOrderedAndProject too — never
    // a global corpus sort
    val topkPlan = graft.ext.Retrieval.bm25TopK(docs, "doc_id", "text",
      Seq("spark", "join"), k = 10).queryExecution.executedPlan.toString
    assert(topkPlan.contains("TakeOrderedAndProject"),
      "no TakeOrderedAndProject in the bm25TopK plan:\n" +
        topkPlan.take(600))
    assert(!topkPlan.contains("Sort [bm25"),
      "global sort on bm25 leaked into the bm25TopK plan")
    // x169 shape: BOTH rank windows of the table-driven nDCG (top-k by
    // quantized score, ideal by gain) cut at literals -> group limits
    val gridPlan = graft.ext.Retrieval.ndcgEvalQrels(docs, "doc_id",
        "text",
        graft.ext.Retrieval.sourceQueries(docs, "doc_id", "text",
          "source", 3), k = 10)
      .queryExecution.executedPlan.toString
    assert(gridPlan.sliding("WindowGroupLimit".length)
        .count(_ == "WindowGroupLimit") >= 2,
      "ndcgEvalQrels rank windows did not ride WindowGroupLimit:\n" +
        gridPlan.take(800))
  }

  test("x229/x234 ES06 rank cuts ride WindowGroupLimit — each map " +
      "task ships <= k rows, never the corpus") {
    // the only global rank windows in src/main without a plan
    // assertion until now: the row_number() <= n cut must rewrite to
    // a per-map-task partial top-k (WindowGroupLimit) so the exchange
    // under the sample carries n rows per task, not every weighted row
    val docs = graft.sources.Tables.documents(spark,
      "/root/testdata/sf0.001")
      .select($"doc_id", $"source",
        graft.ext.TextAnalysis.tokenCount($"text").as("nt"))
    val topPlan = graft.ext.Sampling.weightedTopSample(docs, $"doc_id",
        $"nt", n = 25)
      .queryExecution.executedPlan.toString
    // the GLOBAL (unpartitioned) cut rewrites even further than
    // WindowGroupLimit: LimitPushDown turns it into a
    // TakeOrderedAndProject(limit=n) — per-task partial top-n with NO
    // shuffle at all; either marker proves the map-side bound
    assert(topPlan.contains("TakeOrderedAndProject") ||
        topPlan.contains("WindowGroupLimit"),
      "weightedTopSample's global rank cut did not ride " +
        "TakeOrderedAndProject/WindowGroupLimit:\n" + topPlan.take(800))
    val stratPlan = graft.ext.Sampling.weightedStratifiedSample(docs,
        $"source", $"doc_id", $"nt", k = 3)
      .queryExecution.executedPlan.toString
    assert(stratPlan.contains("WindowGroupLimit"),
      "weightedStratifiedSample's per-stratum rank cut did not ride " +
        "WindowGroupLimit:\n" + stratPlan.take(800))
  }

  test("x205 prfExpand: every broadcast side is bounded — no " +
      "vocabulary-sized df table ships whole") {
    // The regression this guards: prfExpand once did
    // broadcast(dfT) where dfT = tfAll.groupBy(term).count() — a
    // vocabulary-sized (10⁸⁺ terms at corpus scale) executor-OOM
    // broadcast. Because dfT is localCheckpoint-ed, the aggregate
    // hides behind a Scan ExistingRDD, so this test requires every
    // BroadcastExchange subtree to carry a POSITIVE bounding mark:
    // a Join (restriction to a bounded set), a Limit /
    // TakeOrderedAndProject cut, a literal LocalTableScan, or a
    // keys=[] one-row aggregate. A bare checkpointed-frame broadcast
    // has none and fails. autoBroadcastJoinThreshold=-1 so only
    // hint-forced broadcasts appear.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val docs = graft.sources.Tables.documents(spark,
        "/root/testdata/sf0.001")
      val plan = graft.ext.Retrieval.prfExpand(docs, "doc_id", "text",
          Seq("spark", "data"), poolK = 5, expandK = 3, k = 10)
        .queryExecution.executedPlan.toString
      val lines = plan.linesIterator.toVector
      def ind(l: String): Int = {
        val i = l.indexWhere(c => !" :+-".contains(c))
        if (i < 0) Int.MaxValue else i
      }
      val offending = lines.indices.filter { i =>
        lines(i).contains("BroadcastExchange") && {
          val d = ind(lines(i))
          val subLines = lines.drop(i + 1).takeWhile(ind(_) > d)
          val sub = subLines.mkString("\n")
          val oneRowAgg = subLines.find(_.contains("Aggregate(keys=["))
            .exists(_.contains("Aggregate(keys=[]"))
          !(sub.contains("Join") || sub.contains("Limit") ||
            sub.contains("TakeOrderedAndProject") ||
            sub.contains("LocalTableScan") || oneRowAgg)
        }
      }
      assert(offending.isEmpty,
        "prfExpand broadcast side with no bounding construct:\n" +
          offending.map(i => lines(i).trim).mkString("\n"))
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("multimodal: per-partition feature extraction, deterministic stub") {
    implicit val s = spark
    val recs = Seq(
      Multimodal.MediaRecord(1L, "image", "fake-png-bytes".getBytes, 4, 4),
      Multimodal.MediaRecord(2L, "audio", "fake-wav".getBytes, 0, 0),
      Multimodal.MediaRecord(3L, "image", "fake-png-bytes".getBytes, 4, 4))
      .toDS().repartition(2)
    val feats = Multimodal.extractFeatures(recs, dim = 8).collect()
      .sortBy(_.media_id)
    assert(feats.length == 3)
    assert(feats(0).n_bytes == 14 && feats(0).features.length == 8)
    // deterministic: same payload → same digest and features
    assert(feats(0).digest == feats(2).digest)
    assert(feats(0).features.toSeq == feats(2).features.toSeq)
    assert(feats(0).digest != feats(1).digest)
  }

  test("round-10 operator plans: broadcast plan join, scan-composed predicates, no stray wide joins") {
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    import org.apache.spark.sql.functions._
    // x104 shape: the allocation table joins as a BROADCAST — a
    // sort-merge join against a 20-row plan would be a planning bug
    val samplePlan = graft.ext.Sampling.unimaxSample(
        docs.select(col("doc_id"), col("source"),
          graft.ext.TextAnalysis.tokenCount(col("text")).as("n_tokens")),
        col("doc_id"), col("source"), col("n_tokens"), budget = 5000L)
      .queryExecution.executedPlan.toString
    assert(samplePlan.contains("BroadcastHashJoin") ||
      samplePlan.contains("BroadcastExchange"),
      "unimax plan not broadcast:\n" + samplePlan.take(600))
    assert(!samplePlan.contains("SortMergeJoin"),
      "unimax sample picked a sort-merge join:\n" + samplePlan.take(600))
    // x102 shape: char entropy is two aggs — no join at all
    val entPlan = graft.ext.TextAnalysis.charEntropy(docs, "doc_id",
      "text").queryExecution.executedPlan.toString
    assert(!entPlan.contains("SortMergeJoin") ||
      entPlan.contains("BroadcastHashJoin"),
      "charEntropy joined wide:\n" + entPlan.take(600))
    // x97 shape: the sparse triples are ONE partial-aggregated groupBy
    val fhPlan = graft.ext.TextAnalysis.featureHashTf(docs, "doc_id",
      "text", 64).queryExecution.executedPlan.toString
    assert(fhPlan.contains("HashAggregate"),
      "featureHashTf lost its partial agg:\n" + fhPlan.take(600))
    assert(!fhPlan.contains("Join"),
      "featureHashTf grew a join:\n" + fhPlan.take(600))
  }

  test("plan shapes: more-like-this cuts with TakeOrdered and " +
      "broadcasts the query vector; funnel builds no Window") {
    import graft.ext.{EventWindows, Retrieval}
    val docs = Tables("documents")
    val (p, d) = Retrieval.buildPostings(docs, "doc_id", "text")
    val mltPlan = Retrieval.moreLikeThis(p, d, queryId = 0L, k = 5)
      .queryExecution.executedPlan.toString
    assert(mltPlan.contains("TakeOrderedAndProject"),
      "MLT cut is not TakeOrdered:\n" + mltPlan.take(800))
    assert(mltPlan.contains("BroadcastExchange"),
      "MLT query vector not broadcast:\n" + mltPlan.take(800))
    val ev = Tables("events")
    val funnelPlan = EventWindows.funnel(ev, col("ts"), col("user_id"),
        col("event_type"), Seq("view", "click", "purchase"))
      .queryExecution.executedPlan.toString
    assert(!funnelPlan.contains("Window"),
      "funnel grew a per-key window sort:\n" + funnelPlan.take(800))
  }

  test("second-restart operator plans: scan-speed readability, " +
      "broadcast stats joins, no cartesian in the drift tail") {
    val dir = "/root/testdata/sf0.001"
    val docs = graft.sources.Tables.documents(spark, dir)
    val emb = graft.sources.Tables.embeddings(spark, dir)
    // x144: pure per-row projection — no join, no window, no aggregate
    val rPlan = graft.ext.TextAnalysis.readability(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!rPlan.contains("Join") && !rPlan.contains("Window") &&
      !rPlan.contains("HashAggregate"),
      "readability plan grew beyond a scan:\n" + rPlan.take(600))
    // x151: the 64-row per-dim stats join must ride a broadcast
    val qPlan = graft.ext.Quantize.reconstructionError(emb, "vec_id",
        "embedding", docs, "doc_id", "source")
      .queryExecution.executedPlan.toString
    assert(qPlan.contains("BroadcastHashJoin") ||
      qPlan.contains("BroadcastExchange"),
      "reconstructionError stats join not broadcast:\n" + qPlan.take(600))
    // x143: the 1-row global-count frame rides a broadcast nested loop;
    // nothing in the drift tail may degrade to a cartesian product
    val dPlan = graft.ext.Similarity.centroidShardDrift(emb, "vec_id",
        "embedding", 4)
      .queryExecution.executedPlan.toString
    assert(!dPlan.contains("CartesianProduct"),
      "drift tail degraded to a cartesian product:\n" + dPlan.take(600))
    assert(dPlan.contains("BroadcastExchange"),
      "drift per-shard/global frames not broadcast:\n" + dPlan.take(600))
  }

  test("pointer doubling: a 24-chain converges within 6 rounds; " +
      "clusters() escalates to the same fixpoint; fixpoints agree") {
    import graft.ext.Dedup
    val pairs = (0L until 23L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    // doubling squares reach per round: chain-24 needs ~5 rounds
    val fast = Dedup.clustersDoubling(pairs, maxIters = 6).collect()
    assert(fast.forall(_.getLong(1) == 0L),
      "doubling did not converge in 6 rounds")
    // plain propagation reaches ~1 hop per round, so 6 rounds of it
    // cannot close a 24-chain (the sf0.1 x96 winnow graph hit exactly
    // this under-merge); clusters() is union-find and reads no round
    // budget, so it must deliver the fixpoint whatever maxIters says
    val slow = Dedup.clusters(pairs, maxIters = 6).collect()
    assert(slow.forall(_.getLong(1) == 0L),
      "clusters() returned an under-merged chain — escalation broken")
    // and at full convergence the two algorithms agree label for label
    val a = Dedup.clusters(pairs, maxIters = 40).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    val b = Dedup.clustersDoubling(pairs, maxIters = 40).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(a == b)
    // star + random blobs: same labels both ways
    val mixed = (Seq((100L, 101L), (100L, 102L), (100L, 103L)) ++
      Seq((200L, 201L), (201L, 202L), (200L, 203L), (203L, 204L)))
      .toDF("id_a", "id_b")
    val am = Dedup.clusters(mixed, maxIters = 20).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    val bm = Dedup.clustersDoubling(mixed, maxIters = 20).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(am == bm)
  }

  test("clusters(): escalation contraction matches a driver union-find " +
      "on random graphs with cliques and chains") {
    import graft.ext.Dedup
    val rnd = new scala.util.Random(11)
    for (_ <- 1 to 3) {
      val n = 60
      val base = (1 to 70).map(_ =>
        (rnd.nextLong(n.toLong), rnd.nextLong(n.toLong)))
        .filter { case (a, b) => a != b }
      // a dense clique (the contraction's target shape) + a long chain
      // (forces escalation past the 4-round plain tier)
      val clique = for (i <- 40L to 48L; j <- (i + 1) to 48L) yield (i, j)
      val chain = (60L until 90L).map(i => (i, i + 1))
      val all = (base ++ clique ++ chain).distinct
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      all.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val truth = all.flatMap { case (a, b) => Seq(a, b) }.distinct
        .map(v => (v, find(v))).sortBy(_._1)
      val got = Dedup.clusters(all.toDF("id_a", "id_b"), maxIters = 20)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
      assert(got == truth,
        s"clusters() diverged from union-find ground truth")
    }
  }

  test("no single-partition Window over per-document rows in the " +
      "shard-plan / export / vocabulary-growth paths") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val dir = "/root/testdata/sf0.001"
    val docs = graft.sources.Tables.documents(spark, dir)
    def assertPartitioned(df: org.apache.spark.sql.DataFrame,
        what: String): Unit = {
      val wins = df.queryExecution.optimizedPlan.collect {
        case w: LWindow => w }
      assert(wins.nonEmpty, s"$what: expected window nodes in the plan")
      wins.foreach(w => assert(w.partitionSpec.nonEmpty,
        s"unpartitioned Window in $what plan:\n$w"))
    }
    val d = docs.select(col("doc_id"),
      graft.ext.TextAnalysis.tokenCount(col("text")).as("nt"))
    assertPartitioned(graft.ext.Sampling.shardPlan(
      d, col("doc_id"), col("nt"), 2000L), "shardPlan")
    assertPartitioned(graft.ext.TextAnalysis.vocabularyGrowth(
      docs, "doc_id", "text", 5), "vocabularyGrowth")
    // the full x120 manifest query (the x142 export path runs the
    // same shardPlan windows before its write)
    assertPartitioned(Queries.x120ShardPlan(spark, dir), "x120")
  }
}
