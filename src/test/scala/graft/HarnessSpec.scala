package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The shared session and the Verify entry point the mains are built on. */
class HarnessSpec extends SparkSpec {

  test("Verify.run with query names dumps exactly those queries and " +
      "restricts oracle_sql.json to them") {
    val out = Files.createTempDirectory("verify-run")
    val names = Set("q19_agg", "q20_join_agg")
    Verify.run(spark, "/root/testdata/sf0.001", out.toString, Some(names))
    val dumps = Files.list(out).iterator.asScala
      .filter(Files.isDirectory(_)).map(_.getFileName.toString).toSet
    assert(dumps == names)
    names.foreach(n => assert(spark.read.parquet(s"$out/$n").count() > 0, n))
    val keys = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(out.resolve("oracle_sql.json").toFile)
      .fieldNames.asScala.toSet
    assert(keys.nonEmpty && keys.subsetOf(names), keys)
  }

  test("SparkSession.builder occurs once under src/main/scala: every " +
      "main runs on Harness.session") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), root.toAbsolutePath)
    val hits = Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap(p => "SparkSession\\.builder".r
        .findAllIn(Files.readString(p)).map(_ => p.getFileName.toString))
      .toSeq
    assert(hits == Seq("Harness.scala"), hits)
  }

  test(".writeStream occurs once in code under src/main/scala: every " +
      "sink runs through Streams.eachBatch") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), root.toAbsolutePath)
    val hits = Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap(p => Files.readAllLines(p).asScala
        .map(_.trim)
        .filterNot(l => l.startsWith("*") || l.startsWith("/*") ||
          l.startsWith("//"))
        .filter(_.contains(".writeStream"))
        .map(_ => p.getFileName.toString))
      .toSeq
    assert(hits == Seq("Streams.scala"), hits)
  }

  test(".experimental occurs only in GraftExtensions.scala: the planner " +
      "hooks register through the session extension") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), root.toAbsolutePath)
    val hits = Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .filter(p => Files.readString(p).contains(".experimental"))
      .map(_.getFileName.toString)
      .toSeq
    assert(hits == Seq("GraftExtensions.scala"), hits)
  }

  test("a row_number top-1 filter occurs once in code under " +
      "src/main/scala: every keep-the-first-row pick runs through " +
      "Upsert.firstPerKey") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), root.toAbsolutePath)
    val ranked = """withColumn\("(\w+)",\s*row_number\(\)""".r
    val hits = Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap { p =>
        val code = Files.readAllLines(p).asScala.map(_.trim)
          .filterNot(l => l.startsWith("*") || l.startsWith("/*") ||
            l.startsWith("//"))
          .mkString("\n")
        ranked.findAllMatchIn(code).map(_.group(1)).toSeq.distinct
          .flatMap(c => raw"""col\("$c"\)\s*===\s*1\b""".r.findAllIn(code))
          .map(_ => p.getFileName.toString)
      }
      .toSeq
    assert(hits == Seq("Upsert.scala"), hits)
  }
}
