package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.functions.{Cleansing, Occ, YearAttach}
import graft.operators.Upsert

/** Property-style tests (SURVEY §5.2): randomized cases generated with a
  * fixed seed, each property checked over the whole batch in ONE Spark
  * job (no per-case round trips).
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private val rnd = new scala.util.Random(42)

  test("property: OCC encode/decode round-trips") {
    val cases = (1 to 200).map { _ =>
      val und = (1 to (1 + rnd.nextInt(5)))
        .map(_ => ('A' + rnd.nextInt(26)).toChar).mkString
      val y = 24 + rnd.nextInt(6)
      val m = 1 + rnd.nextInt(12)
      val d = 1 + rnd.nextInt(28)
      val side = if (rnd.nextBoolean()) "C" else "P"
      val strikeThousandths = 500 + rnd.nextInt(5000000)
      val code = s"$und " + f"$y%02d$m%02d$d%02d" + side +
        f"$strikeThousandths%08d"
      (code, und, f"20$y%02d-$m%02d-$d%02d", side, strikeThousandths.toLong)
    }
    val df = cases.toDF("code", "und", "expiry", "side", "thousandths")
      .select($"und", $"expiry", $"side", $"thousandths",
        Occ.underlying($"code").as("g_und"),
        Occ.expiration($"code").cast("string").as("g_expiry"),
        Occ.side($"code").as("g_side"),
        (Occ.strike($"code") * 1000).cast("long").as("g_thousandths"))
    val bad = df.where($"g_und" =!= $"und" || $"g_expiry" =!= $"expiry" ||
      $"g_side" =!= (when($"side" === "C", "Call").otherwise("Put")) ||
      $"g_thousandths" =!= $"thousandths")
    assert(bad.count() == 0, bad.take(3).mkString("; "))
  }

  test("property: truncTo is toward-zero, bounded, idempotent") {
    val cases = (1 to 300).map { _ =>
      val v = BigDecimal(rnd.nextLong() % 100000000L, 6) // scale 6
      v.toString
    }
    val df = cases.toDF("s")
      .select($"s".cast(DecimalType(28, 6)).as("x"))
      .select($"x", Cleansing.truncTo($"x", 4).cast(DecimalType(28, 6)).as("t"))
      .select($"x", $"t",
        Cleansing.truncTo($"t", 4).cast(DecimalType(28, 6)).as("tt"))
    val bad = df.where(
      abs($"t") > abs($"x") ||                 // magnitude never grows
      abs($"x" - $"t") >= lit(BigDecimal("0.0001")) || // within one ulp(4)
      ($"x" > 0 && $"t" < 0) || ($"x" < 0 && $"t" > 0) || // sign preserved
      $"tt" =!= $"t")                          // idempotent
    assert(bad.count() == 0, bad.take(3).mkString("; "))
  }

  test("property: keepFirst keeps exactly one minimal row per PK; " +
      "load∘load = load") {
    val rows0 = (1 to 500).map { _ =>
      (rnd.nextInt(40), rnd.nextInt(40), rnd.nextInt(1000), rnd.nextInt(1000))
    }
    val df = rows0.toDF("pk1", "pk2", "ord", "payload")
    val once = Upsert.keepFirst(df, Seq("pk1", "pk2"),
      Seq(col("ord"), col("payload")))
    // one row per PK
    assert(once.groupBy("pk1", "pk2").count().where($"count" > 1).count() == 0)
    // each kept row carries its group's minimal (ord, payload)
    val mins = df.groupBy("pk1", "pk2")
      .agg(min(struct($"ord", $"payload")).as("m"))
    val joined = once.join(mins, Seq("pk1", "pk2"))
      .where(struct($"ord", $"payload") =!= $"m")
    assert(joined.count() == 0)
    // idempotence
    val twice = Upsert.keepFirst(once, Seq("pk1", "pk2"),
      Seq(col("ord"), col("payload")))
    assert(twice.exceptAll(once).count() == 0 &&
      once.exceptAll(twice).count() == 0)
  }

  test("property: nearest-select winner has minimal distance in its group") {
    val rows0 = (1 to 400).map { _ =>
      (rnd.nextInt(20), rnd.nextDouble() * 1000, rnd.nextInt(100000))
    }
    val df = rows0.toDF("grp", "x", "id")
    val targets = Seq(250.0, 750.0).toDF("target")
    val got = graft.operators.NearestSelect.nearest(df, Seq("grp"), targets,
      abs(col("x") - col("target")), Seq(col("id")))
    val minDist = df.crossJoin(targets).groupBy("grp", "target")
      .agg(min(abs($"x" - $"target")).as("md"))
    val bad = got.join(minDist, Seq("grp", "target"))
      .where(abs($"x" - $"target") =!= $"md")
    assert(bad.count() == 0)

    // the top-1 primitive under it against a driver-side pick: few `a`
    // values and some nulls so ties are common, `b` unique so each
    // order is total
    val r2 = new scala.util.Random(7)
    val recs = (1 to 300).map { b =>
      (r2.nextInt(12), if (r2.nextInt(5) == 0) None else Some(r2.nextInt(4)),
        b)
    }
    val rdf = recs.toDF("k", "a", "b")
    type R = (Int, Option[Int], Int)
    val orders: Seq[(Seq[org.apache.spark.sql.Column], R => (Int, Int))] =
      Seq(
        // ASC puts nulls first, DESC puts them last
        Seq($"a".asc, $"b".asc) -> (r => (r._2.getOrElse(Int.MinValue), r._3)),
        Seq($"a".desc, $"b".asc) -> (r => (r._2.fold(Int.MaxValue)(-_), r._3)),
        Seq($"a".asc_nulls_last, $"b".desc) ->
          (r => (r._2.getOrElse(Int.MaxValue), -r._3)))
    orders.foreach { case (order, key) =>
      val want = recs.groupBy(_._1).map { case (k, rs) => k -> rs.minBy(key)._3 }
      val picked = rows(Upsert.firstPerKey(rdf, Seq($"k"), order))
        .map(r => r.getInt(0) -> r.getInt(2))
      assert(picked.size == want.size && picked.toMap == want, order)
    }
  }

  test("property: selectNearTheMoney equals a driver-side fold of the " +
      "reference's closest-expiration / closest-strike selection") {
    val day = java.time.LocalDate.of(2024, 1, 15)
    val r2 = new scala.util.Random(11)
    // (symbol, mark, expiration day offsets, listed strikes); marks have
    // 2 decimals so every mark × multiplier target is exact
    val syms = (1 to 25).map { i =>
      (s"S$i", Option(BigDecimal(2000 + r2.nextInt(18000)) / 100),
        Seq.fill(2 + r2.nextInt(6))(1 + r2.nextInt(80)).distinct,
        Seq.fill(4 + r2.nextInt(12))(BigDecimal(20 + r2.nextInt(500)) / 2)
          .distinct)
    } ++ Seq(
      // the 8-week target (day+56) is equidistant from +53 and +59, and
      // the 1.30 target (130) from strikes 129 and 131; no other target
      // picks +59 or 131, so either shows only if the larger won the tie
      ("TIE", Some(BigDecimal(100)), Seq(53, 59),
        Seq(80, 100, 129, 131).map(BigDecimal(_))),
      ("NOMARK", None, Seq(14), Seq(BigDecimal(10))))
    // random symbols list each strike at some expirations only, and one
    // or both sides
    val chain = for {
      (s, _, exps, strikes) <- syms; e <- exps; k <- strikes
      if s == "TIE" || r2.nextInt(4) > 0
      side <- Seq("Call", "Put") if side == "Call" || r2.nextInt(3) > 0
    } yield (s, day.plusDays(e.toLong), k, side)
    // nulls are no candidates: NULLEXP's null-expiration row and NULLK's
    // null-strike row must not hide their symbol's real picks, and
    // NULLCLOSE (an as-of close that is null) selects nothing
    val nullSyms = Seq(("NULLEXP", Option(BigDecimal(100)), Seq(14), Seq(BigDecimal(100))),
      ("NULLK", Some(BigDecimal(100)), Seq(14), Seq(BigDecimal(100))),
      ("NULLCLOSE", None, Seq(14), Seq(BigDecimal(100))))
    val nullChain = nullSyms.flatMap { case (s, _, exps, ks) =>
      for (e <- exps; k <- ks; side <- Seq("Call", "Put"))
        yield (s, day.plusDays(e.toLong), k, side)
    } ++ Seq(("NULLEXP", null, BigDecimal(100), "Put"),
      ("NULLK", day.plusDays(14), null, "Call"))
    val allChain = chain ++ nullChain

    val want = (syms ++ nullSyms).flatMap { case (s, mark, _, _) =>
      val mine = allChain.filter(_._1 == s)
      val listed = mine.map(_._2).filter(_ != null).distinct
      val exps = Seq(2, 4, 6, 8).map(w => day.plusDays(7L * w)).map { t =>
        listed.minBy(e => (math.abs(e.toEpochDay - t.toEpochDay), e.toEpochDay))
      }.distinct
      val picks = for {
        m <- mark.toSeq; e <- exps
        ks = mine.filter(_._2 == e).map(_._3).filter(_ != null).distinct
        k <- graft.operators.NearestSelect.strikeMultipliers
          .map(mu => ks.minBy(k => ((k - m * mu).abs, k))).distinct
      } yield (e, k)
      mine.filter(r => picks.contains((r._2, r._3)))
    }

    def show(s: String, e: java.time.LocalDate, k: BigDecimal, side: String) =
      s"$s|$e|${k.setScale(4)}|$side"
    val chainDf = allChain
      .map { case (s, e, k, side) =>
        (s, Option(e).map(java.sql.Date.valueOf).orNull, k, side) }
      .toDF("act_symbol", "expiration", "strike", "call_put")
      .withColumn("strike", $"strike".cast(graft.model.Schemas.Dec))
    val marks = ((syms ++ nullSyms).flatMap { case (s, m, _, _) => m.map(s -> _) } :+
        ("NULLCLOSE" -> null))
      .toDF("act_symbol", "mark")
      .withColumn("mark", $"mark".cast(graft.model.Schemas.Dec))
    val got = rows(graft.plans.ChainPipeline.selectNearTheMoney(chainDf, marks,
        java.sql.Date.valueOf(day)))
      .map(r => show(r.getString(0), r.getDate(1).toLocalDate,
        BigDecimal(r.getDecimal(2)), r.getString(3))).sorted
    assert(got == want.map((show _).tupled).sorted)
    val tie = got.filter(_.startsWith("TIE|"))
    assert(tie.nonEmpty && tie.forall(_.startsWith(s"TIE|${day.plusDays(53)}|")) &&
      !tie.exists(_.contains("|131.0000|")), tie)
    assert(Seq("NULLEXP", "NULLK").forall(s => got.count(_.startsWith(s + "|")) == 2) &&
      !got.exists(_.startsWith("NULLCLOSE|")), got.filter(_.startsWith("NULL")))
  }

  test("property: loadDay equals a driver-side fold of the reference's " +
      "daily job: as-of close, closest expirations, closest strikes, " +
      "keep-first PK with bid NULLS LAST") {
    val day = java.time.LocalDate.of(2024, 1, 15)
    val r3 = new scala.util.Random(23)
    // one straddle row: (expiration offset, strike, call bid, put bid,
    // both option symbols present); non-null bids are all distinct, so
    // the kept (bid, ask) of a PK is unique, and a bid may be null
    case class Straddle(e: Int, k: BigDecimal, cb: Option[BigDecimal],
        pb: Option[BigDecimal], whole: Boolean)
    var nextBid = 0
    def bid(): Option[BigDecimal] =
      if (r3.nextInt(8) == 0) None
      else { nextBid += 1; Some(BigDecimal(nextBid) / 100) }
    def straddles(exps: Seq[Int], ks: Seq[BigDecimal]): Seq[Straddle] = for {
      e <- exps; k <- ks if r3.nextInt(4) > 0
    } yield Straddle(e, k, bid(), bid(), r3.nextInt(15) > 0)
    def listing() = (Seq.fill(2 + r3.nextInt(6))(1 + r3.nextInt(80)).distinct,
      Seq.fill(4 + r3.nextInt(12))(BigDecimal(20 + r3.nextInt(500)) / 2).distinct)
    // (symbol, straddles, prices as (day offset, close in cents))
    val random = (1 to 20).map { i =>
      val (exps, ks) = listing()
      val px = Seq.fill(1 + r3.nextInt(4))(
        (-r3.nextInt(12), Option(2000 + r3.nextInt(18000)))).distinctBy(_._1)
      (s"S$i", straddles(exps, ks), px)
    }
    val (exps, ks) = (Seq(10, 20, 30, 40, 50), (20 to 60).map(k => BigDecimal(k * 5)))
    val special = Seq(
      // a price after the folder date is ignored: the mark is 100
      ("FUTURE", Seq((-2, Some(10000)), (3, Some(20000)))),
      // no price on the folder date: the as-of walks back to day − 5
      ("GAP", Seq((-10, Some(5000)), (-5, Some(15000)))),
      // the latest close ≤ folder date is null: nothing is selected,
      // even though an earlier close exists
      ("NULLCLOSE", Seq((-3, Some(10000)), (-1, None))),
      // only later prices, or none at all: nothing is selected
      ("NOPRICE", Seq((1, Some(10000)))),
      ("NOPX", Seq.empty[(Int, Option[Int])]))
      .map { case (s, px) => (s, straddles(exps, ks), px) }
    // duplicate straddle rows: each (expiration, strike) listed 3 times,
    // the lowest non-null bid of each side must win
    val dupBase = straddles(Seq(14, 28), Seq(95, 100, 105).map(BigDecimal(_)))
      .map(_.copy(whole = true))
    val dup = ("DUP", dupBase ++ dupBase.map(s => s.copy(cb = bid(), pb = bid())) ++
      dupBase.map(s => s.copy(cb = None, pb = bid())), Seq((0, Some(10000))))
    val syms = random ++ special :+ dup

    val dir = java.nio.file.Files.createTempDirectory("graft_loadday")
    def num(x: Option[BigDecimal]) = x.map(_.toString).getOrElse("null")
    syms.foreach { case (s, sts, _) =>
      val objs = sts.map { st =>
        val exp = day.plusDays(st.e.toLong)
        def side(p: String, b: Option[BigDecimal], present: Boolean) = {
          val occ = if (present) "\"" + s"$s $p$exp" + "\"" else "null"
          s""""${p}_optionsymbol": $occ, "${p}_bid": ${num(b)}, """ +
            s""""${p}_ask": ${num(b.map(_ + 1))}, "${p}_ivint": 20.5"""
        }
        s"""{"expirationdate": "$exp", "strike": ${st.k}, """ +
          side("call", st.cb, true) + ", " + side("put", st.pb, st.whole) + "}"
      }
      java.nio.file.Files.writeString(dir.resolve(s"$s.json"),
        objs.mkString("[\n", ",\n", "\n]"))
    }
    val prices = syms.flatMap { case (s, _, px) =>
      px.map { case (o, c) =>
        (s, java.sql.Date.valueOf(day.plusDays(o.toLong)),
          c.map(_.toDouble / 100)) }
    }.toDF("act_symbol", "date", "close")

    // the driver-side fold
    val want = syms.flatMap { case (s, sts, px) =>
      val mark = px.filter(_._1 <= 0).sortBy(_._1).lastOption
        .flatMap(_._2).map(BigDecimal(_) / 100)
      val rowsOf = sts.filter(_.whole).flatMap { st =>
        Seq((st.e, st.k, "Call", st.cb), (st.e, st.k, "Put", st.pb)) }
      val listed = rowsOf.map(_._1).distinct
      val pickedExps = Seq(14, 28, 42, 56).map(t =>
        listed.minBy(e => (math.abs(e - t), e))).distinct
      val picks = for {
        m <- mark.toSeq; e <- pickedExps
        at = rowsOf.filter(_._1 == e).map(_._2).distinct
        k <- graft.operators.NearestSelect.strikeMultipliers
          .map(mu => at.minBy(k => ((k - m * mu).abs, k))).distinct
      } yield (e, k)
      rowsOf.filter(r => picks.contains((r._1, r._2)))
        .groupBy(r => (r._1, r._2, r._3)).values
        .map(_.minBy(_._4.map(b => (0, b)).getOrElse((1, BigDecimal(0)))))
        .map { case (e, k, side, b) =>
          s"$s|${day.plusDays(e.toLong)}|${k.setScale(4)}|$side|" +
            b.map(_.setScale(4).toString).getOrElse("null") + "|" +
            b.map(x => (x + 1).setScale(4).toString).getOrElse("null") }
    }.sorted

    val out = graft.plans.ChainPipeline.loadDay(spark, dir.toString, prices,
      java.sql.Date.valueOf(day))
    assert(out.columns.toSeq == graft.model.Schemas.optionChain.fieldNames.toSeq)
    val got = rows(out).map { r =>
      assert(r.getDate(0).toLocalDate == day)
      Seq(r.getString(1), r.getDate(2).toString,
        r.getDecimal(3).toString, r.getString(4),
        String.valueOf(r.getDecimal(5)), String.valueOf(r.getDecimal(6)))
        .mkString("|")
    }.sorted
    assert(got == want, got.diff(want).take(5) -> want.diff(got).take(5))
    // every special case is exercised: the as-of mark decides FUTURE's
    // and GAP's picks, the unpriced symbols select nothing, and DUP's
    // duplicates collapse to one row per PK
    def of(s: String) = got.filter(_.startsWith(s + "|"))
    assert(Seq("FUTURE", "GAP", "DUP").forall(of(_).nonEmpty), got.take(3))
    assert(Seq("NULLCLOSE", "NOPRICE", "NOPX").forall(of(_).isEmpty))
    assert(of("DUP").map(_.split('|').take(4).toSeq).distinct.size == of("DUP").size)
  }

  test("property: as-of join equals a brute force, random keys with ties") {
    // a few null keys and times; a narrow time range makes equal
    // (k, rt) pairs common, and values repeat so whole tuples tie too
    def some(p: Int, v: Int) = if (rnd.nextInt(20) < p) None else Some(v)
    val left = (1 to 300).map { i =>
      (some(1, rnd.nextInt(15)), some(1, 1000 + rnd.nextInt(300)), s"L$i")
    }.toDF("k", "lt", "payload")
    val right = (1 to 200).map { _ =>
      (some(1, rnd.nextInt(15)), some(1, 1000 + rnd.nextInt(300)),
        rnd.nextInt(4).toDouble)
    }.toDF("k", "rt", "v")
    def show(df: org.apache.spark.sql.DataFrame) =
      df.select($"k", $"lt", $"payload", $"asof_rt", $"asof_v")
        .collect().map(_.toString).sorted.toSeq
    val got = show(graft.plans.AsOfJoin(left, right, Seq("k"), "lt", "rt"))
    assert(got.count(!_.endsWith(",null,null]")) > 100, got.take(5))
    assert(got == show(asOfBruteForce(left, right, Seq("k"), "lt", "rt")))
  }

  test("property: discrete quantiles equal the sorted-seq rank definition") {
    val groups = (1 to 12).map { g =>
      g.toString -> (1 to (1 + rnd.nextInt(400)))
        .map(_ => rnd.nextInt(1000).toLong)
    }
    val df = groups.flatMap { case (g, vs) => vs.map(g -> _) }.toDF("g", "v")
    val ps = Seq((1, 2, "p50"), (9, 10, "p90"), (99, 100, "p99"))
    val got = rows(graft.ext.Quantiles.discrete(df, Seq("g"), col("v"), ps))
      .map(r => r.getAs[String]("g") ->
        (r.getAs[Long]("p50"), r.getAs[Long]("p90"), r.getAs[Long]("p99"),
          r.getAs[Long]("n"))).toMap
    groups.foreach { case (g, vs) =>
      val sorted = vs.sorted
      def rank(num: Int, den: Int): Long =
        sorted(math.max(1, (num.toLong * vs.size + den - 1) / den).toInt - 1)
      assert(got(g) == (rank(1, 2), rank(9, 10), rank(99, 100),
        vs.size.toLong), s"group $g")
    }
  }

  test("property: space-saving invariants over random skewed streams") {
    val toks = (1 to 3000).map { _ =>
      // zipf-ish: small ids are hot
      ("t" + (math.pow(rnd.nextDouble(), 3) * 50).toInt.toString)
    }
    val ds = spark.createDataset(toks)(org.apache.spark.sql.Encoders.STRING)
      .repartition(5)
    val truth = toks.groupBy(identity).view.mapValues(_.size.toLong).toMap
    for (cap <- Seq(4, 16, 64)) {
      val got = ds.select(
        new graft.ext.SpaceSavingAggregator(cap).toColumn).collect().head
      assert(got.size <= cap)
      got.foreach { case (t, c, e) =>
        val tc = truth.getOrElse(t, 0L)
        assert(c >= tc && c - tc <= e, s"cap=$cap $t est=$c true=$tc err=$e")
      }
    }
    // exact regime: capacity above distinct count reproduces exact counts
    val exact = ds.select(
      new graft.ext.SpaceSavingAggregator(512).toColumn).collect().head
    assert(exact.map(t => t._1 -> t._2).toMap == truth)
    assert(exact.forall(_._3 == 0L))
  }

  test("property: weightedSample rates nest monotonically") {
    val ids = (1 to 500).map(_ => rnd.nextLong() % 1000000).filter(_ >= 0)
      .distinct.toDF("id")
    val kept = Seq(100, 400, 700, 1000).map { rate =>
      rate -> rows(graft.ext.Sampling.weightedSample(ids, col("id"), lit(rate)))
        .map(_.getLong(0)).toSet
    }
    kept.sliding(2).foreach { case Seq((r1, s1), (r2, s2)) =>
      assert(s1.subsetOf(s2), s"rate $r1 not nested in $r2")
    }
    assert(kept.last._2.size == ids.count())
  }

  test("property: stratified samples nest as k grows") {
    val ids = (1 to 400).map(_ => rnd.nextLong() % 100000).filter(_ >= 0)
      .distinct.map(i => (if (i % 2 == 0) "a" else "b", i))
      .toDF("stratum", "id")
    val samples = Seq(3, 10, 40).map { k =>
      k -> rows(graft.ext.Sampling.stratifiedSample(
          ids, Seq(col("stratum")), col("id"), k).select(col("id")))
        .map(_.getLong(0)).toSet
    }
    samples.sliding(2).foreach { case Seq((k1, s1), (k2, s2)) =>
      assert(s1.subsetOf(s2), s"sample(k=$k1) not nested in sample(k=$k2)")
    }
  }

  test("property: token-budget keeps nest as the budget grows") {
    val docs = (1 to 300).map { i =>
      (s"g${i % 4}", i.toLong, 5L + (i % 11))
    }.toDF("g", "id", "n")
    val kept = Seq(0L, 50L, 200L, 100000L).map { b =>
      b -> rows(graft.ext.Sampling.tokenBudget(docs, col("g"), col("id"),
          col("n"), lit(b)).select(col("id")))
        .map(_.getLong(0)).toSet
    }
    kept.sliding(2).foreach { case Seq((b1, s1), (b2, s2)) =>
      assert(s1.subsetOf(s2), s"budget $b1 not nested in $b2")
    }
    assert(kept.head._2.isEmpty && kept.last._2.size == 300)
  }

  test("property: hashBucket period is the prime, not the bucket count") {
    // ids congruent mod 1000 but different mod P must be able to land in
    // different buckets — a single-step ((id mod m)·A) mod m hash would
    // make the two ranges below bucket-identical (period m = 1000), so a
    // corpus whose ids carry mod-1000 structure (striped blocks,
    // round-robin shards) would get a systematically biased split
    def buckets(lo: Long): Seq[Long] = rows(
      (lo until lo + 1000L).toDF("id")
        .select(col("id"), graft.ext.Sampling.hashBucket(col("id"), 1000).as("b"))
        .orderBy("id")
    ).map(_.getLong(1))
    val b0 = buckets(0L)
    val b1 = buckets(1000L)
    val differing = b0.zip(b1).count { case (a, b) => a != b }
    assert(differing > 900, s"only $differing/1000 shifted ids re-bucketed")
    // spot-check the concrete pair from the design note: 1 vs 1001
    assert(b0(1) == 654435747L % 1000000007L % 1000L)
    assert(b0(1) != b1(1))
  }

  test("property: idOrderedPrefix == single-window prefix on random " +
      "id sets across bucket counts") {
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col("id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    for (trial <- 1 to 5) {
      // random distinct ids (positive and negative), random weights
      val ids = Seq.fill(200)(rnd.nextLong() % 100000L).distinct
      val data = ids.map(id => (id, math.abs(rnd.nextLong() % 1000L)))
      val df = data.toDF("doc_id", "nt").repartition(5)
      val exp = rows(df.select(col("doc_id").as("id"), col("nt").as("n"))
        .withColumn("cum_prev", coalesce(sum(col("n")).over(w), lit(0L)))
        .orderBy("id")).map(r => (r.getLong(0), r.getLong(2)))
      for (nb <- Seq(1, 7, 64, 1024)) {
        val got = rows(graft.ext.Sampling.idOrderedPrefix(df,
            col("doc_id"), col("nt"), nb).orderBy("id"))
          .map(r => (r.getLong(0), r.getLong(2)))
        assert(got == exp, s"trial=$trial nBuckets=$nb")
      }
    }
  }

  test("property: containmentPairs under a finite maxDocFreq cap returns " +
      "every accepted pair that shares a non-hot shingle") {
    import graft.ext.{Dedup, TextAnalysis}
    // a 6-word boilerplate vocabulary makes hot shingles common to most
    // documents, a 40-word content vocabulary gives each its rarer ones,
    // and 30 more documents each quote a slice of one of those between
    // boilerplate words (high containment, low Jaccard)
    val r4 = new scala.util.Random(31)
    val base = (1 to 30).map { _ =>
      r4.shuffle(Seq.fill(2 + r4.nextInt(10))(s"b${r4.nextInt(6)}") ++
        Seq.fill(1 + r4.nextInt(8))(s"w${r4.nextInt(40)}"))
    }
    val quotes = (1 to 30).map { _ =>
      val src = base(r4.nextInt(base.size))
      val from = r4.nextInt(src.size)
      Seq.fill(r4.nextInt(3))(s"b${r4.nextInt(6)}") ++
        src.slice(from, from + 3 + r4.nextInt(8)) ++
        Seq.fill(r4.nextInt(3))(s"b${r4.nextInt(6)}")
    }
    val docs = (base ++ quotes).zipWithIndex
      .map { case (ws, i) => (i.toLong + 1, ws.mkString(" ")) }
    val sh = docs.toDF("doc_id", "text")
      .select($"doc_id", TextAnalysis.shingles($"text", 2).as("sh"))
    val hs = rows(sh.select($"doc_id", Dedup.hashedShingles($"sh").as("hs")))
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    val df = hs.values.toSeq.flatten.groupBy(identity).map { case (h, o) => h -> o.size }
    for (cap <- Seq(3L, 8L); t <- Seq(0.5, 0.8)) {
      val hot = df.collect { case (h, n) if n > cap => h }.toSet
      assert(hot.nonEmpty && hot.size < df.size, s"cap=$cap")
      val accepted = (for {
        (a, ha) <- hs.toSeq; (b, hb) <- hs.toSeq if a < b
        shared = (ha & hb).size.toDouble
        if math.max(shared / ha.size, shared / hb.size) >= t
      } yield (a, b) -> ((ha & hb) -- hot).nonEmpty).toMap
      val got = rows(Dedup.containmentPairs(sh, "doc_id", "sh", t, cap))
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      // exact verification: nothing outside the accepted set comes back
      assert(got.subsetOf(accepted.keySet), s"cap=$cap t=$t: ${got -- accepted.keySet}")
      val must = accepted.collect { case (p, true) => p }.toSet
      assert(must.size > 5, s"cap=$cap t=$t: too few pairs to test")
      assert(must.subsetOf(got), s"cap=$cap t=$t missed: ${must -- got}")
    }
  }

  test("Memo.cached computes once per (session, key) and returns the " +
      "materialized frame verbatim") {
    var computes = 0
    def build(): org.apache.spark.sql.DataFrame = {
      computes += 1
      Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    }
    val k = s"memo-spec-${System.nanoTime()}"
    val a = graft.ext.Memo.cached(spark, k)(build())
    val b = graft.ext.Memo.cached(spark, k)(build())
    assert(computes == 1, s"computed $computes times")
    assert(a eq b)
    assert(rows(b.orderBy("id")).map(_.getLong(0)) == Seq(1L, 2L))
    // a different key computes independently
    graft.ext.Memo.cached(spark, k + "-2")(build())
    assert(computes == 2)
  }

  test("Memo.cached cold-key race: both threads compute, one result " +
      "wins, and the loser's checkpoint blocks are unpersisted") {
    import java.util.concurrent.CyclicBarrier
    val k = s"memo-race-${System.nanoTime()}"
    // hold BOTH threads inside compute until both have entered, so
    // both localCheckpoint and exactly one putIfAbsent wins
    val barrier = new CyclicBarrier(2)
    val results =
      new java.util.concurrent.ConcurrentLinkedQueue[
        org.apache.spark.sql.DataFrame]()
    def work(): Unit = {
      val df = graft.ext.Memo.cached(spark, k) {
        barrier.await()
        Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      }
      results.add(df)
    }
    val idsBefore = spark.sparkContext.getPersistentRDDs.keySet
    val t1 = new Thread(() => work()); val t2 = new Thread(() => work())
    t1.start(); t2.start(); t1.join(30000); t2.join(30000)
    val got = results.toArray(Array.empty[org.apache.spark.sql.DataFrame])
    assert(got.length == 2)
    // both callers see the SAME winning frame
    assert(got(0) eq got(1))
    assert(rows(got(0).orderBy("id")).map(_.getLong(0)) == Seq(1L, 2L))
    // the loser's checkpointed RDD must have been unpersisted: the SET
    // of newly persisted RDD ids is exactly the winner's checkpoint
    // RDD — a lingering loser would show as a second new id. Asserted
    // as a set difference against the winner's concrete id (not an
    // exact size delta) so concurrent cleanup of UNRELATED persisted
    // RDDs from earlier tests cannot flake this (unpersist is
    // non-blocking — registry removal is synchronous, block deletion
    // async).
    val winnerId = got(0).queryExecution.analyzed.collectLeaves()
      .collectFirst {
        case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
      }
    assert(winnerId.nonEmpty, "winner frame has no LogicalRDD leaf")
    val newIds = spark.sparkContext.getPersistentRDDs.keySet -- idsBefore
    assert(newIds == Set(winnerId.get),
      s"new persistent RDD ids $newIds != Set(${winnerId.get}) — " +
        "the race loser's checkpoint blocks were not unpersisted")
  }

  test("property: year attachment lands in (target−1y, target]") {
    val cases = (1 to 200).map { _ =>
      val d = 1 + rnd.nextInt(28)
      val mon = Seq("Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul", "Aug",
        "Sep", "Oct", "Nov", "Dec")(rnd.nextInt(12))
      val ty = 2020 + rnd.nextInt(8)
      val tm = 1 + rnd.nextInt(12)
      val td = 1 + rnd.nextInt(28)
      (f"$d%02d-$mon", f"$ty-$tm%02d-$td%02d")
    }
    val df = cases.toDF("dm", "ts")
      .select($"dm", to_date($"ts").as("target"))
      .select($"dm", $"target", YearAttach.attachYear($"dm", $"target").as("r"))
    val bad = df.where($"r".isNull || $"r" > $"target" ||
      $"r" <= add_months($"target", -12))
    assert(bad.count() == 0, bad.take(3).mkString("; "))
  }

  test("property: rocAuc in [0,1] and = the brute pairwise AUC on " +
      "random labeled scores") {
    import graft.ext.Stats
    for (_ <- 1 to 10) {
      val units = (1 to 60).map(_ =>
        (rnd.nextInt(8).toLong, rnd.nextBoolean()))
      val pos = units.filter(_._2).map(_._1)
      val neg = units.filterNot(_._2).map(_._1)
      val r = Stats.rocAuc(units.toDF("s", "y"), $"s", $"y").head()
      if (pos.isEmpty || neg.isEmpty) assert(r.isNullAt(2))
      else {
        val brute = (for (p <- pos; n <- neg)
          yield if (p > n) 1.0 else if (p == n) 0.5 else 0.0).sum /
          (pos.size.toDouble * neg.size)
        assert(r.getDouble(2) >= 0.0 && r.getDouble(2) <= 1.0)
        assert(math.abs(r.getDouble(2) - brute) < 1e-12,
          s"auc=${r.getDouble(2)} brute=$brute")
      }
    }
  }

  test("property: thresholdSweep recall/fpr are nonincreasing in the " +
      "threshold and tp+fn / fp+tn are the class totals on every row") {
    import graft.ext.Stats
    val units = (1 to 80).map(_ =>
      (rnd.nextInt(12).toLong, rnd.nextBoolean()))
    val np = units.count(_._2); val nn = units.size - np
    val got = rows(Stats.thresholdSweep(units.toDF("s", "y"), $"s", $"y")
      .orderBy("threshold"))
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(got.forall { case (_, tp, fp, fn, tn) =>
      tp + fn == np && fp + tn == nn })
    // ordered by ascending threshold, tp and fp are NONINCREASING
    assert(got.map(_._2).sliding(2).forall(w =>
      w.size < 2 || w(0) >= w(1)))
    assert(got.map(_._3).sliding(2).forall(w =>
      w.size < 2 || w(0) >= w(1)))
  }

  test("property: cohenKappa <= 1, = 1 only on perfect agreement, and " +
      "invariant under swapping the raters") {
    import graft.ext.Stats
    for (_ <- 1 to 10) {
      val units = (1 to 50).map(_ =>
        (rnd.nextInt(3).toString, rnd.nextInt(3).toString))
      val r = Stats.cohenKappa(units.toDF("a", "b"), $"a", $"b").head()
      val s = Stats.cohenKappa(units.toDF("a", "b"), $"b", $"a").head()
      if (!r.isNullAt(4)) {
        assert(r.getDouble(4) <= 1.0 + 1e-15)
        assert((r.getDouble(4) == 1.0) == units.forall(u => u._1 == u._2))
        assert(!s.isNullAt(4) && math.abs(r.getDouble(4) -
          s.getDouble(4)) < 1e-15)
      } else assert(s.isNullAt(4))
    }
  }

  test("property: AUC, AP and the DeLong z are BIT-identical under " +
      "strictly monotone integer score transforms (rank statistics " +
      "on exact count grids)") {
    import graft.ext.Stats
    for (_ <- 1 to 3) {
      val cases = (1 to 60).map(i => (i.toLong, rnd.nextInt(30).toLong,
        rnd.nextInt(25).toLong, rnd.nextBoolean()))
      val df = cases.toDF("id", "a", "b", "y")
      // v -> 3v + 100 preserves order and integrality: the count
      // grids are isomorphic, so every downstream integer and every
      // fixed-order double chain is literally the same computation
      val tdf = df.select($"id", ($"a" * 3 + 100).as("a"),
        ($"b" * 3 + 100).as("b"), $"y")
      assert(rows(Stats.rocAuc(df, $"a", $"y")).map(_.toString) ==
        rows(Stats.rocAuc(tdf, $"a", $"y")).map(_.toString))
      assert(rows(Stats.averagePrecision(df, $"a", $"y"))
          .map(_.toString) ==
        rows(Stats.averagePrecision(tdf, $"a", $"y")).map(_.toString))
      assert(rows(Stats.deLongTest(df, $"a", $"b", $"y"))
          .map(_.toString) ==
        rows(Stats.deLongTest(tdf, $"a", $"b", $"y")).map(_.toString))
    }
  }

  test("property: each classifier metric's ByGroup row is BIT-identical " +
      "to its pooled form run on that group's rows alone (AUC, AP, " +
      "threshold sweep, calibration bins, Brier)") {
    import graft.ext.Stats
    import org.apache.spark.sql.{DataFrame, Row}
    val r = new scala.util.Random(11)
    def bits(rs: Seq[Row]): Seq[Seq[Any]] = rs.map(_.toSeq.map {
      case x: Double => java.lang.Double.doubleToRawLongBits(x)
      case o => o
    })
    for (_ <- 1 to 3) {
      // ppm scores on a 9-point grid, so values tie within and across
      // classes; g4 holds only positives, g5 only negatives
      val cells = for {
        g <- 0 until 6
        v <- 0 to 8 by (1 + r.nextInt(3))
        y <- Seq(true, false)
        if !(g == 4 && !y) && !(g == 5 && y) && r.nextInt(3) > 0
      } yield (s"g$g", v * 125000L, y, 1L + r.nextInt(4))
      val counts = cells.toDF("g", "v", "y", "c")
      val units = cells.flatMap { case (g, v, y, c) =>
        Seq.fill(c.toInt)((g, v, y)) }.toDF("g", "v", "y")
      val groups = cells.map(_._1).distinct
      def check(name: String, src: DataFrame, byGroup: DataFrame,
          pooled: DataFrame => DataFrame, order: String*): Unit = {
        val alone = groups.map(g =>
            pooled(src.where($"g" === g).drop("g"))
              .select(lit(g).as("group"), col("*")))
          .reduce(_ union _)
        val by = ("group" +: order).map(col)
        assert(bits(rows(byGroup.orderBy(by: _*))) ==
          bits(rows(alone.orderBy(by: _*))), name)
      }
      check("auc", counts, Stats.rocAucByGroupFromCounts(counts),
        Stats.rocAucFromCounts(_))
      check("ap", counts, Stats.averagePrecisionByGroupFromCounts(counts),
        Stats.averagePrecisionFromCounts(_))
      check("sweep", counts, Stats.thresholdSweepByGroupFromCounts(counts),
        Stats.thresholdSweepFromCounts(_), "threshold")
      check("calibration", counts,
        Stats.calibrationBinsByGroupFromCounts(counts),
        Stats.calibrationBinsFromCounts(_), "bin")
      check("brier", units, Stats.brierByGroup(units, $"g", $"v", $"y"),
        Stats.brierScore(_, $"v", $"y"))
    }
  }

  test("property: the rocAuc/thresholdSweep grid guard trips on every " +
      "unquantized random score batch and admits its quantized form") {
    import graft.ext.Stats
    for (_ <- 1 to 5) {
      val cases = (1 to 300).map(_ =>
        (rnd.nextDouble() * 1000, rnd.nextBoolean()))
      val df = cases.toDF("s", "y")
      // a continuous score's grid is ~row-sized — must fail loudly
      intercept[IllegalArgumentException](
        Stats.rocAuc(df, $"s", $"y", maxGridValues = 64L))
      intercept[IllegalArgumentException](
        Stats.thresholdSweep(df, $"s", $"y", maxGridValues = 64L))
      // bucketing restores the discrete contract under the same bound
      val q = df.select(floor($"s" / 100).cast("long").as("s"), $"y")
      val r = Stats.rocAuc(q, $"s", $"y", maxGridValues = 64L).head()
      assert(!r.isNullAt(2) &&
        r.getDouble(2) >= 0.0 && r.getDouble(2) <= 1.0)
    }
  }

  test("property: Dedup.clusters equals a driver-side union-find on " +
      "random graphs over 1 to 16 partitions") {
    import graft.ext.Dedup
    val g = new scala.util.Random(13)
    def graph(): Seq[(Long, Long)] = {
      // ids drawn from a shuffled pool, so no shape's minimum sits where
      // it was built from
      val ids = g.shuffle((1L to 2000L).toVector).iterator
      val clique = { val v = Vector.fill(3 + g.nextInt(8))(ids.next())
        for (i <- v.indices; j <- v.indices if i < j) yield (v(i), v(j)) }
      val chain = Vector.fill(31 + g.nextInt(30))(ids.next()).sliding(2)
        .map(p => (p(0), p(1))).toSeq
      val star = { val c = ids.next(); Seq.fill(5 + g.nextInt(20))(c -> ids.next()) }
      val pool = Vector.fill(60)(ids.next())
      val sparse = Seq.fill(50)((pool(g.nextInt(60)), pool(g.nextInt(60))))
      val es = Seq(clique, chain, star, sparse).flatMap(g.shuffle(_))
      val again = es.filter(_ => g.nextInt(10) == 0)
      g.shuffle(es ++ again ++ again.map(_.swap))
    }
    def unionFind(es: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      es.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      parent.keys.toList.map(v => v -> find(v)).toMap
    }
    def labels(df: org.apache.spark.sql.DataFrame) = {
      val got = rows(df).map(r => r.getLong(0) -> r.getLong(1))
      assert(got.map(_._1).distinct.size == got.size, "duplicate id rows")
      got.toMap
    }
    val jobsBy = for (_ <- 1 to 4; parts <- Seq(1, 2, 4, 8, 16)) yield {
      val es = graph()
      val truth = unionFind(es)
      val df = es.toDF("id_a", "id_b")
      val pairs = if (parts == 1) df.coalesce(1) else df.repartition(parts)
      val (got, jobs) = jobsIn(labels(Dedup.clusters(pairs)))
      assert(got == truth, s"clusters() differs from union-find over " +
        s"$parts partitions")
      parts -> jobs
    }
    // one partition always takes the one-pass path; sixteen split the
    // chain, so the quotient edges and the one-task finish ran too (the
    // repartition shuffle is a job of its own)
    assert(jobsBy.filter(_._1 == 1).forall(_._2 <= 3), jobsBy)
    assert(jobsBy.filter(_._1 == 16).forall(_._2 > 4), jobsBy)
  }

  test("property: Dedup.clusters keeps its edge rules: a null endpoint " +
      "gives one (null, null) row, a self-loop a singleton, INT ids stay INT") {
    import graft.ext.Dedup
    // a chain 4 … 12 beside them, so that over 4 partitions the labels
    // split and the quotient finish runs with the null row present
    val nullable = (Seq[(Option[Long], Option[Long])](
      (Some(1L), None), (None, Some(2L)), (None, None), (Some(3L), Some(3L))) ++
      (4L until 12L).map(i => (Some(i), Some(i + 1)))).toDF("id_a", "id_b")
    val want = (Seq[(Option[Any], Option[Any])]((None, None)) ++
      (1L to 3L).map(i => (Some(i), Some(i))) ++
      (4L to 12L).map(i => (Some(i), Some(4L)))).sortBy(_.toString)
    for (parts <- Seq(1, 4)) {
      val pairs = if (parts == 1) nullable.coalesce(1) else nullable.repartition(parts)
      val (got, jobs) = jobsIn(rows(Dedup.clusters(pairs)))
      assert(got.map(r => Option(r.get(0)) -> Option(r.get(1)))
        .sortBy(_.toString) == want, got)
      assert(parts == 1 || jobs > 4, s"$jobs jobs: the labels did not split")
    }
    val ints = Dedup.clusters(Seq((1, 2), (2, 3), (7, 9)).toDF("id_a", "id_b"))
    assert(ints.schema.simpleString == "struct<id:int,cluster:int>")
    assert(rows(ints).map(r => r.getInt(0) -> r.getInt(1)).toMap ==
      Map(1 -> 1, 2 -> 1, 3 -> 1, 7 -> 7, 9 -> 7))
  }

  test("property: codegen polyHash / polyHashReversed are BIT-identical " +
      "to the HOF fold on adversarial unicode (the r16 contract: the " +
      "expression replaced the engine-portable reference, so the DuckDB " +
      "oracle recipe must keep recomputing it exactly)") {
    import graft.ext.Dedup
    // deterministic adversarial corpus: ASCII, 2/3/4-byte UTF-8
    // (codepoints above the BMP exercise the surrogate-pair path of
    // ascii()'s codePointAt), combining marks, boundary codepoints,
    // empties and single chars of every width, plus random mixtures
    val pool: Array[String] = Array(
      "", "a", "Z", "~", "\u0000", "\u007f",          // 1-byte edges
      "", "é", "߿",                    // 2-byte edges
      "ࠀ", "€", "�", "￿",          // 3-byte edges
      new String(Character.toChars(0x10000)),          // 4-byte low edge
      new String(Character.toChars(0x1F600)),          // emoji
      new String(Character.toChars(0x10FFFF)),         // max codepoint
      "é",                                       // combining mark
      "café touché", "naïve",
      "世界 you 世界",
      "mixed €é" + new String(Character.toChars(0x1F680)))
    val cases = pool.toIndexedSeq ++ (1 to 400).map { _ =>
      val n = rnd.nextInt(12)
      (1 to n).map(_ => pool(rnd.nextInt(pool.length))).mkString
    } ++ (1 to 100).map { _ =>
      // fully random valid codepoints (surrogates excluded)
      val n = 1 + rnd.nextInt(8)
      (1 to n).map { _ =>
        var cp = rnd.nextInt(0x110000)
        while (cp >= 0xD800 && cp <= 0xDFFF) cp = rnd.nextInt(0x110000)
        new String(Character.toChars(cp))
      }.mkString
    }
    val df = cases.toDF("s")
    val bad = df.select($"s",
        Dedup.polyHash($"s").as("cg"),
        Dedup.polyHashHof($"s").as("hof"),
        Dedup.polyHashReversed($"s").as("cgr"),
        Dedup.polyHashHof(reverse($"s")).as("hofr"))
      .where($"cg" =!= $"hof" || $"cgr" =!= $"hofr" ||
        $"cg".isNull =!= $"hof".isNull || $"cgr".isNull =!= $"hofr".isNull)
    assert(bad.count() == 0, bad.take(5).mkString("; "))
    // null propagates like the HOF chain
    val nr = Seq(Option.empty[String]).toDF("s")
      .select(Dedup.polyHash($"s"), Dedup.polyHashReversed($"s")).head()
    assert(nr.isNullAt(0) && nr.isNullAt(1))
    // and the interpreted path (eval without codegen) agrees with the
    // codegen path: force interpreted eval through a LOCAL relation
    // filter that Catalyst constant-folds at optimization time
    val lit0 = rows(spark.range(1).select(
      Dedup.polyHash(lit("café €" +
        new String(Character.toChars(0x1F600)))).as("h")))
      .head.getLong(0)
    val hof0 = rows(spark.range(1).select(
      Dedup.polyHashHof(lit("café €" +
        new String(Character.toChars(0x1F600)))).as("h")))
      .head.getLong(0)
    assert(lit0 == hof0)
  }

  test("PolyHashImpl.hashReversed on malformed UTF-8: a truncated " +
      "trailing multibyte sequence folds as one U+FFFD (pinned)") {
    import graft.functions.expressions.PolyHashImpl
    import org.apache.spark.unsafe.types.UTF8String
    // "ab" + the first two bytes of the 3-byte "€" (E2 82 AC): the last
    // character's stride overruns the buffer and the JDK decoder turns
    // the 2-byte remainder into U+FFFD (65533); folded back-to-front
    val s = UTF8String.fromBytes(Array('a'.toByte, 'b'.toByte,
      0xE2.toByte, 0x82.toByte))
    assert(PolyHashImpl.hashReversed(s) == (65533L * 31 + 'b') * 31 + 'a')
  }

}
