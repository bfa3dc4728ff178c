package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (one JVM-wide session via getOrCreate). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Fixture path, materialized from the main-resources bundle (a stale
    * test-classes directory can shadow the classpath resource, so resolve
    * through Fixtures rather than getResource). */
  def res(path: String): String = graft.sources.Fixtures.path(path)

  def d(s: String): java.sql.Date = java.sql.Date.valueOf(s)

  def dec(s: String): java.math.BigDecimal = new java.math.BigDecimal(s)

  def assertDecEq(got: java.math.BigDecimal, exp: String): Unit = {
    assert(got != null && got.compareTo(dec(exp)) == 0,
      s"expected $exp, got $got")
  }

  def rows(df: DataFrame): Seq[org.apache.spark.sql.Row] =
    df.collect().toSeq

  /** `body`'s result and the number of Spark jobs it started, counted by
    * a listener on the jobs carrying a job group of its own (the bus is
    * drained first, so every start event of `body`'s jobs is in). */
  def jobsIn[T](body: => T): (T, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val group = s"graft-jobs-${java.util.UUID.randomUUID()}"
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties)
            .exists(_.getProperty("spark.jobGroup.id") == group))
          n.incrementAndGet()
    }
    sc.addSparkListener(l)
    sc.setJobGroup(group, "counted")
    try { val r = body; (r, { org.apache.spark.graft.TestListenerBus.drain(sc); n.get }) }
    finally { sc.clearJobGroup(); sc.removeSparkListener(l) }
  }

  /** Driver-side reference for [[graft.plans.AsOfJoin]]: for each left row,
    * among right rows with an equal non-null key and a non-null time ≤ the
    * left time, the greatest (time, remaining right columns) tuple wins,
    * nulls ordering first. Right non-key columns come back `prefix`ed, null
    * when nothing matches. Values compare through `Comparable`. */
  def asOfBruteForce(left: DataFrame, right: DataFrame, keys: Seq[String],
      leftTime: String, rightTime: String, prefix: String = "asof_")
      : DataFrame = {
    import org.apache.spark.sql.Row
    def cmp(a: Any, b: Any): Int = (a, b) match {
      case (null, null) => 0
      case (null, _) => -1
      case (_, null) => 1
      case (x: Comparable[_], y) => x.asInstanceOf[Comparable[Any]].compareTo(y)
    }
    val rest = right.columns.filterNot(keys.contains).toSeq
    val tuple = rightTime +: rest.filterNot(_ == rightTime)
    def tupleCmp(a: Row, b: Row): Int = tuple.iterator
      .map(c => cmp(a.getAs[Any](c), b.getAs[Any](c))).find(_ != 0).getOrElse(0)
    val byKey = rows(right)
      .filter(r => (keys :+ rightTime).forall(c => r.getAs[Any](c) != null))
      .groupBy(r => keys.map(r.getAs[Any]))
    val joined = rows(left).map { l =>
      val t = l.getAs[Any](leftTime)
      val best = byKey.getOrElse(keys.map(l.getAs[Any]), Nil)
        .filter(r => t != null && cmp(r.getAs[Any](rightTime), t) <= 0)
        .reduceOption((a, b) => if (tupleCmp(a, b) >= 0) a else b)
      Row.fromSeq(l.toSeq ++ rest.map(c => best.map(_.getAs[Any](c)).orNull))
    }
    val schema = org.apache.spark.sql.types.StructType(left.schema.fields ++
      rest.map(c => right.schema(c).copy(name = prefix + c, nullable = true)))
    spark.createDataFrame(spark.sparkContext.parallelize(joined, 1), schema)
  }
}
