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
}
