package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** Benchmark JVM. Modes (first argument):
  *
  *  - `run --workload W --seed N --seconds S --trace 0|1 --tables DIR
  *    --goldens DIR --work DIR --out DIR`: one measured run; the last
  *    stdout line is the result JSON;
  *  - `tables --tables DIR`: generate the corpus tables;
  *  - `goldens --workload W ...`: write the goldens of a corpus workload;
  *  - `selftest ...`: check the output checks and the generators.
  */
object Main {
  val Cores = 4

  val Workloads: Seq[String] = Seq("etl_chain", "corpus", "stream_ledger")

  /** Fixed sizes of each workload (the seed varies content, not size). */
  def workload(name: String, ctx: Ctx): Workload = name match {
    case "etl_chain" => new EtlChain(ctx, symbols = 4, days = 2)
    case "corpus" => new Corpus(ctx, name, Corpus.Queries)
    case "stream_ledger" => new StreamLedger(ctx, batches = 3, redeliveries = 1, perPass = 1)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  val EndToEnd: Seq[(String, String)] = Seq("setup_s" -> "s", "cold_s" -> "s",
    "warm_s" -> "s", "op_p50_s" -> "s")

  val PerLayer: Seq[(String, String)] = Seq(
    "sources.scan_s" -> "s", "sources.input_mb" -> "MB",
    "sources.input_rows" -> "count", "sources.json_day_s" -> "s",
    "queries.build_s" -> "s", "plans.plan_s" -> "s", "plans.select_s" -> "s",
    "exec.run_s" -> "s", "exec.task_run_s" -> "s", "exec.task_cpu_s" -> "s",
    "exec.gc_s" -> "s", "exec.jobs" -> "count", "exec.stages" -> "count",
    "exec.tasks" -> "count", "exec.busy_frac" -> "frac",
    "exec.shuffle_write_mb" -> "MB", "exec.shuffle_read_mb" -> "MB",
    "exec.spill_mb" -> "MB", "exec.peak_task_mem_mb" -> "MB",
    "operators.upsert_s" -> "s", "operators.roster_s" -> "s",
    "operators.export_s" -> "s", "operators.restore_s" -> "s",
    "operators.rows_inserted" -> "count", "storage.pinned_rdds" -> "count",
    "storage.pinned_mb" -> "MB", "ext.cold_gap_s" -> "s",
    "expr.poly_hash_s" -> "s", "expr.simhash64_s" -> "s",
    "expr.dot_product_s" -> "s", "streaming.batch_s" -> "s",
    "streaming.view_s" -> "s", "streaming.ledger_files" -> "count",
    "streaming.sink_rows_inserted" -> "count",
    "streaming.freshness_p50_s" -> "s", "streaming.freshness_p90_s" -> "s",
    "trace.cold_s" -> "s", "trace.overhead_frac" -> "frac",
    "jvm.peak_rss_mb" -> "MB", "jvm.retained_heap_mb" -> "MB",
    "fail_frac" -> "frac")

  private def opts(args: Seq[String]): Map[String, String] =
    args.grouped(2).map {
      case Seq(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: $other")
    }.toMap

  def session(o: Map[String, String]): SparkSession = {
    val work = Paths.get(o("work")).toAbsolutePath
    val spark = SparkSession.builder().master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Session, graft functions, and a warm-up: one code-generated
    * aggregation job, so the cold pass does not absorb starting the
    * executor threads and the code generator. */
  def setUp(o: Map[String, String]): SparkSession = {
    val spark = session(o)
    graft.GraftExtensions.register(spark)
    spark.range(1000000).selectExpr("sum(id)").collect()
    spark
  }

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("")
    val o = opts(args.toSeq.drop(1))
    mode match {
      case "run" => run(o)
      case "tables" =>
        val spark = session(o)
        val dir = Paths.get(o("tables"))
        Files.createDirectories(dir)
        Tables.generate(spark, dir)
        spark.stop()
      case "goldens" => GoldenWriter.write(o)
      case "selftest" => SelfTest.run(o)
      case other =>
        System.err.println(s"unknown mode '$other'")
        sys.exit(2)
    }
  }

  private def peakRssMb(): Double = {
    val status = Paths.get("/proc/self/status")
    if (!Files.exists(status)) 0.0
    else Files.readAllLines(status).toArray(Array.empty[String])
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(0.0)
  }

  /** Heap still in use after a full collection: what the session keeps
    * (memos, broadcasts, cached plans and blocks). */
  private def retainedHeapMb(): Double = {
    System.gc(); System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }

  private def storage(spark: SparkSession): (Int, Long) = {
    val sc = spark.sparkContext
    (sc.getPersistentRDDs.size,
      sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum)
  }

  def run(o: Map[String, String]): Unit = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val name = o("workload")
    require(Workloads.contains(name), s"unknown workload $name")
    val seed = o("seed").toLong
    val seconds = o("seconds").toDouble
    val traced = o("trace") == "1"
    val spark = setUp(o)
    val setupS = (System.currentTimeMillis() - jvmStart) / 1e3

    val work = Paths.get(o("work"))
    val runId = f"$name-$seed-${System.currentTimeMillis()}%x"
    val tracer = new Tracer(spark, traced)
    val ctx = new Ctx(spark, seed, Paths.get(o("tables")), work.resolve(name),
      tracer, Paths.get(o("goldens")))
    val w = workload(name, ctx)
    val (prepareS, inputs) = Clock.timed(w.prepare())
    println(s"perfbench workload=$name seed=$seed trace=${if (traced) 1 else 0} " +
      f"run_id=$runId prepare_s=$prepareS%.3f inputs=${inputs.take(120)}")

    val passes = ArrayBuffer[PassResult]()
    val execs = ArrayBuffer[Exec]()
    val before = storage(spark)
    var afterCold = before
    val t0 = Clock.now()
    def onePass(): Unit = {
      tracer.resetPeak()
      val e0 = tracer.exec()
      val p = tracer.span(s"pass.${passes.size}")(w.pass(passes.size))
      execs += tracer.exec() - e0
      passes += p
      if (passes.size == 1) afterCold = storage(spark)
      println(f"perfbench pass=${passes.size - 1} wall_s=${p.wall}%.3f " +
        s"ops=${p.ops.count(_.kind == "op")} failed=${p.ops.count(!_.ok)}")
    }
    onePass()
    if (traced) {
      // warm passes traced (the layer metrics), untraced, traced: the
      // tracing overhead compares the last two, both past the first warm
      // pass's remaining JIT work
      onePass()
      tracer.suspend()
      onePass()
      tracer.resume()
      onePass()
    } else {
      do onePass() while (Clock.now() - t0 < seconds && passes.size < w.maxPasses)
    }

    val (finishS, finalOps) = Clock.timed(w.finish())
    val all = passes.flatMap(_.ops) ++ finalOps
    println(f"perfbench finish_s=$finishS%.3f")
    val failed = all.count(!_.ok)
    all.filter(!_.ok).take(5).foreach(op =>
      println(s"perfbench FAILED ${op.name}: ${op.note.take(300)}"))
    val warmOps = passes.tail.flatMap(_.ops).filter(_.kind == "op").map(_.wall).toSeq
    val metrics: Seq[(String, Double, String)] =
      if (!traced) {
        val m = Map("setup_s" -> setupS, "cold_s" -> passes.head.wall,
          "warm_s" -> Workload.median(passes.tail.map(_.wall).toSeq),
          "op_p50_s" -> Workload.median(warmOps))
        EndToEnd.map { case (k, u) => (k, m(k), u) }
      } else {
        val warm = passes(1)
        val execRun = {
          val parts = warm.ops.flatMap(_.parts.get("exec"))
          if (parts.nonEmpty) parts.sum else warm.wall
        }
        val m = w.layers(passes.toSeq) ++
          execs(1).layers(execRun, Cores) ++ Map(
          "sources.input_mb" -> execs(1).inputBytes / 1e6,
          "sources.input_rows" -> execs(1).inputRecords.toDouble,
          "storage.pinned_rdds" -> (afterCold._1 - before._1).toDouble,
          "storage.pinned_mb" -> (afterCold._2 - before._2) / 1e6,
          "trace.cold_s" -> passes.head.wall,
          "jvm.peak_rss_mb" -> peakRssMb(),
          "jvm.retained_heap_mb" -> retainedHeapMb(),
          "trace.overhead_frac" -> (passes(3).wall / passes(2).wall - 1),
          "fail_frac" -> failed.toDouble / all.size)
        PerLayer.map { case (k, u) => (k, m.getOrElse(k, 0.0), u) }
      }
    tracer.close()
    Record.write(Paths.get(o("out")), name, seed, traced, runId, inputs,
      setupS, passes.toSeq, metrics, tracer.recorded)
    spark.stop()
    val ms = metrics.map { case (k, v, u) =>
      s""""$k": {"value": ${Record.num(v)}, "unit": "$u"}""" }.mkString(", ")
    println(s"""{"correct": ${failed == 0}, "attempted": ${all.size}, """ +
      s""""failed": $failed, "metrics": {$ms}}""")
  }
}

/** The per-run record: inputs, metrics, every op, and the spans. */
object Record {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else BigDecimal(v).bigDecimal.toPlainString

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def write(dir: Path, name: String, seed: Long, traced: Boolean,
      runId: String, inputs: String, setupS: Double, passes: Seq[PassResult],
      metrics: Seq[(String, Double, String)], spans: Seq[Span]): Unit = {
    Files.createDirectories(dir)
    val opsJson = passes.zipWithIndex.flatMap { case (p, i) =>
      p.ops.map { op =>
        val parts = op.parts.map { case (k, v) => s"${str(k)}: ${num(v)}" }
          .mkString("{", ", ", "}")
        s"""    {"pass": $i, "name": ${str(op.name)}, "kind": ${str(op.kind)}, """ +
          s""""wall_s": ${num(op.wall)}, "ok": ${op.ok}, "note": ${str(op.note)}, """ +
          s""""parts": $parts}"""
      }
    }
    // per-operation table: cold and first-warm wall, and the cold split
    val table = passes.head.ops.map { op =>
      val warm = passes.lift(1).flatMap(_.ops.find(_.name == op.name))
      val p = op.parts
      s"""    {"name": ${str(op.name)}, "cold_s": ${num(op.wall)}, """ +
        s""""warm_s": ${num(warm.map(_.wall).getOrElse(0.0))}, """ +
        s""""build_s": ${num(p.getOrElse("build", 0.0))}, """ +
        s""""plan_s": ${num(p.getOrElse("plan", 0.0))}, """ +
        s""""exec_s": ${num(p.getOrElse("exec", 0.0))}}"""
    }
    val spansJson = spans.map(s =>
      s"""    {"id": ${s.id}, "parent": ${s.parent}, "name": ${str(s.name)}, """ +
        s""""start_ms": ${num(s.startMs)}, "end_ms": ${num(s.endMs)}}""")
    val m = metrics.map { case (k, v, u) =>
      s"""    ${str(k)}: {"value": ${num(v)}, "unit": ${str(u)}}""" }
    val json =
      s"""{"workload": ${str(name)}, "seed": $seed, "trace": ${if (traced) 1 else 0},
         |  "run_id": ${str(runId)}, "inputs": ${str(inputs)},
         |  "setup_s": ${num(setupS)},
         |  "pass_wall_s": [${passes.map(p => num(p.wall)).mkString(", ")}],
         |  "metrics": {
         |${m.mkString(",\n")}
         |  },
         |  "op_table": [
         |${table.mkString(",\n")}
         |  ],
         |  "ops": [
         |${opsJson.mkString(",\n")}
         |  ],
         |  "spans": [
         |${spansJson.mkString(",\n")}
         |  ]
         |}
         |""".stripMargin
    Files.write(dir.resolve(s"$name-seed$seed-trace${if (traced) 1 else 0}.json"),
      json.getBytes(UTF_8))
  }
}
