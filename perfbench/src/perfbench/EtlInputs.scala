package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.time.{DayOfWeek, LocalDate}
import java.time.format.DateTimeFormatter
import java.util.{Locale, SplittableRandom}

/** The daily job's inputs for one seed, written with plain file I/O so the
  * bytes depend on the seed alone:
  *
  *  - `chain/<day>/<SYMBOL>.json`: one option-chain document per
  *    symbol-day, an array of straddle rows (FIXTURES.md §A1) — weekly
  *    and monthly expirations, strikes around the day's price, a few rows
  *    without an option symbol and a few quotes without a bid;
  *  - `prices.csv`: daily closes from three days before the first day, with
  *    some symbol-days missing so the as-of price walks back;
  *  - `weeklies/weeklyoptions.<day>.csv`: one weeklies roster per day with
  *    a header and one malformed row (FIXTURES.md §A4).
  */
final case class EtlInputs(days: Seq[LocalDate], symbols: Seq[String],
    dir: Path) {
  def dayDir(d: LocalDate): Path = dir.resolve("chain").resolve(d.toString)
  def roster(d: LocalDate): Path =
    dir.resolve("weeklies").resolve(s"weeklyoptions.$d.csv")
  def prices: Path = dir.resolve("prices.csv")
}

object EtlInputs {

  private def rng(seed: Long, a: Long, b: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + a * 1000003L + b)

  private def weekdays(from: LocalDate, n: Int): Seq[LocalDate] =
    Iterator.iterate(from)(_.plusDays(1))
      .filter(d => d.getDayOfWeek != DayOfWeek.SATURDAY &&
        d.getDayOfWeek != DayOfWeek.SUNDAY).take(n).toSeq

  private def fmt(x: Double, digits: Int): String =
    String.format(Locale.ROOT, s"%.${digits}f", Double.box(x))

  /** Standard normal CDF (Abramowitz–Stegun 7.1.26). */
  private def phi(x: Double): Double = {
    val t = 1 / (1 + 0.3275911 * math.abs(x) / math.sqrt(2))
    val y = 1 - (((((1.061405429 * t - 1.453152027) * t) + 1.421413741) * t -
      0.284496736) * t + 0.254829592) * t * math.exp(-x * x / 2)
    if (x >= 0) 0.5 * (1 + y) else 0.5 * (1 - y)
  }
  private def pdf(x: Double): Double = math.exp(-x * x / 2) / math.sqrt(2 * math.Pi)

  def generate(seed: Long, dir: Path, nSymbols: Int, nDays: Int): EtlInputs = {
    val r0 = rng(seed, 0, 0)
    val symbols = Iterator.continually {
      val len = 3 + r0.nextInt(2)
      (1 to len).map(_ => ('A' + r0.nextInt(26)).toChar).mkString
    }.distinct.take(nSymbols).toSeq.sorted
    val first = LocalDate.of(2024, 1, 8).plusWeeks(r0.nextInt(40).toLong)
    val history = weekdays(first.minusDays(5), 3 + nDays + 2)
      .filter(_.isBefore(first)).takeRight(3)
    val days = weekdays(first, nDays)
    val in = EtlInputs(days, symbols, dir)

    // daily closes: a geometric random walk per symbol
    val closes: Map[String, Seq[(LocalDate, Double)]] =
      symbols.zipWithIndex.map { case (s, i) =>
        val r = rng(seed, 1, i)
        val p0 = math.exp(math.log(8) + r.nextDouble() * math.log(60))
        val walk = (history ++ days).scanLeft((LocalDate.MIN, p0)) {
          case ((_, p), d) => (d, p * math.exp(0.02 * (r.nextDouble() - 0.5) * 3.4))
        }.tail
        s -> walk
      }.toMap
    Files.createDirectories(dir)
    val prices = new StringBuilder("act_symbol,date,close\n")
    symbols.zipWithIndex.foreach { case (s, i) =>
      val r = rng(seed, 2, i)
      closes(s).foreach { case (d, p) =>
        if (d.isBefore(first) || r.nextDouble() >= 0.1)
          prices ++= s"$s,$d,${fmt(p, 2)}\n"
      }
    }
    Files.write(in.prices, prices.toString.getBytes(UTF_8))

    days.zipWithIndex.foreach { case (day, di) =>
      Files.createDirectories(in.dayDir(day))
      symbols.zipWithIndex.foreach { case (s, si) =>
        val mark = closes(s).find(_._1 == day).get._2
        Files.write(in.dayDir(day).resolve(s"$s.json"),
          chainDocument(rng(seed, 3 + di, si), s, day, mark).getBytes(UTF_8))
      }
      Files.createDirectories(in.roster(day).getParent)
      val r = rng(seed, 100 + di, 0)
      val roster = new StringBuilder("Symbol,Name,Date\n")
      symbols.foreach { s =>
        if (r.nextDouble() < 0.4)
          roster ++= s"$s , $s Holdings , ${day.minusDays(r.nextInt(30).toLong)}\n"
      }
      roster ++= "XYZ , Broken Row , not-a-date\n"
      Files.write(in.roster(day), roster.toString.getBytes(UTF_8))
    }
    in
  }

  private val Yymmdd = DateTimeFormatter.ofPattern("yyMMdd")

  /** Expirations listed on `day`: the next nine Fridays, then the third
    * Friday of each of the eight following months. */
  private def expirations(day: LocalDate): Seq[LocalDate] = {
    val weekly = Iterator.iterate(day.plusDays(1))(_.plusDays(1))
      .filter(_.getDayOfWeek == DayOfWeek.FRIDAY).take(9).toSeq
    val monthly = (1 to 8).map { m =>
      val first = weekly.last.withDayOfMonth(1).plusMonths(m.toLong)
      Iterator.iterate(first)(_.plusDays(1))
        .filter(_.getDayOfWeek == DayOfWeek.FRIDAY).drop(2).next()
    }
    weekly ++ monthly
  }

  /** Strikes listed per expiration, centred on the day's price. */
  private val StrikesPerExpiration = 35

  private def chainDocument(r: SplittableRandom, sym: String, day: LocalDate,
      mark: Double): String = {
    val step = if (mark < 25) 0.5 else if (mark < 100) 1.0
      else if (mark < 200) 2.5 else 5.0
    val baseVol = 0.15 + 0.45 * r.nextDouble()
    val sb = new StringBuilder("[\n")
    var firstRow = true
    expirations(day).foreach { exp =>
      val t = math.max(1L, exp.toEpochDay - day.toEpochDay) / 365.0
      val centre = math.round(mark / step)
      val lo = math.max(1L, centre - StrikesPerExpiration / 2)
      (lo until lo + StrikesPerExpiration).foreach { k =>
        val strike = k * step
        val iv = baseVol + 0.2 * math.abs(math.log(strike / mark))
        val sd = iv * math.sqrt(t)
        val d1 = (math.log(mark / strike) + 0.5 * sd * sd) / sd
        val d2 = d1 - sd
        val call = mark * phi(d1) - strike * phi(d2)
        val put = call - mark + strike
        val gamma = pdf(d1) / (mark * sd)
        val vega = mark * pdf(d1) * math.sqrt(t) / 100
        val theta = -mark * pdf(d1) * iv / (2 * math.sqrt(t)) / 365
        def side(p: String, theo: Double, delta: Double, rho: Double): String = {
          val spread = 0.02 + 0.03 * theo
          val cents = (strike * 1000).round
          val occ = f"$sym%-6s${exp.format(Yymmdd)}${p.head.toUpper}$cents%08d"
          val sym0 = if (r.nextDouble() < 0.01) "null" else s""""$occ""""
          val bid = if (theo < 0.05 && r.nextDouble() < 0.5) "null"
            else fmt(math.max(0, theo - spread / 2), 2)
          s""""${p}_optionsymbol": $sym0, "${p}_bid": $bid, """ +
            s""""${p}_ask": ${fmt(theo + spread / 2, 2)}, """ +
            s""""${p}_theoprice": ${fmt(theo, 4)}, """ +
            s""""${p}_ivint": ${fmt(iv * 100, 2)}, """ +
            s""""${p}_delta": ${fmt(delta, 6)}, "${p}_gamma": ${fmt(gamma, 6)}, """ +
            s""""${p}_theta": ${fmt(theta, 6)}, "${p}_vega": ${fmt(vega, 6)}, """ +
            s""""${p}_rho": ${fmt(rho, 6)}"""
        }
        if (!firstRow) sb ++= ",\n"
        firstRow = false
        sb ++= s"""  {"expirationdate": "$exp", "strike": ${fmt(strike, 2)},\n   """
        sb ++= side("call", math.max(call, 0.0), phi(d1), strike * t * phi(d2) / 100)
        sb ++= ",\n   "
        sb ++= side("put", math.max(put, 0.0), phi(d1) - 1, -strike * t * phi(-d2) / 100)
        sb ++= "}"
      }
    }
    sb ++= "\n]\n"
    sb.toString
  }
}
