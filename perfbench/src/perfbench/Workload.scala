package perfbench

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One operation of a pass — a query, a day, a micro-batch (`kind` "op")
  * — or an auxiliary step ("aux") or output check ("check"), which are
  * attempted and checked but left out of latency statistics. `parts`
  * splits `wall` by layer (e.g. build / plan / exec) where it can. */
final case class Op(name: String, wall: Double, ok: Boolean,
    note: String = "", kind: String = "op",
    parts: Map[String, Double] = Map.empty)

/** A pass: `wall` is the user-visible time of the pass, with output checks
  * excluded. */
final case class PassResult(wall: Double, ops: Seq[Op])

/** What a workload run can use: the session, the seed, the generated
  * tables and a private scratch directory. */
final class Ctx(val spark: SparkSession, val seed: Long, val tables: Path,
    val work: Path, val tracer: Tracer, val goldens: Path)

trait Workload {
  /** Generate this seed's inputs; returns a fingerprint of them. */
  def prepare(): String
  /** Run pass `i` (0 is the cold pass). */
  def pass(i: Int): PassResult
  /** Most passes a run may make. */
  def maxPasses: Int = Int.MaxValue
  /** Checks after the last pass. */
  def finish(): Seq[Op] = Nil
  /** Per-layer metrics of the traced run, measured after the passes. */
  def layers(passes: Seq[PassResult]): Map[String, Double]
}

object Workload {
  /** Materialize every column of `df` into the no-op sink. */
  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Run `body`, turning an exception into a failed op. */
  def attempt(name: String)(body: => Op): Op =
    try body
    catch {
      case e: Throwable if scala.util.control.NonFatal(e) =>
        Op(name, 0, ok = false, note = s"${e.getClass.getSimpleName}: " +
          String.valueOf(e.getMessage).linesIterator.take(1).mkString.take(200))
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted.toIndexedSeq
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def sha256(files: Seq[Path]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    files.foreach { f =>
      md.update(f.getFileName.toString.getBytes("UTF-8"))
      md.update(java.nio.file.Files.readAllBytes(f))
    }
    md.digest().map(b => f"$b%02x").mkString
  }

  def deleteTree(p: Path): Unit = {
    val s = java.nio.file.Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(java.nio.file.Files.delete(_))
    finally s.close()
  }

  def filesUnder(dir: Path): Seq[Path] = {
    val s = java.nio.file.Files.walk(dir)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .toSeq.sortBy(p => dir.relativize(p).toString)
    } finally s.close()
  }
}
