package graft

import org.apache.spark.sql.SparkSession

/** Shared test SparkSession — one JVM-wide session for all suites (sbt
  * forks one test JVM; suites reuse the session via getOrCreate).
  */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  /** Runs `body` and returns its value with the stage count of every
    * Spark job it started, in start order.
    */
  def jobStages[T](body: => T): (T, Seq[Int]) = {
    val sc = spark.sparkContext
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[Integer]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        stages.add(js.stageInfos.size)
    }
    MetricsListener.drain(sc)
    sc.addSparkListener(listener)
    try {
      val out = body
      MetricsListener.drain(sc)
      (out, stages.toArray(Array.empty[Integer]).toSeq.map(_.intValue))
    } finally sc.removeSparkListener(listener)
  }
  /** Smallest fixture dir — tests are correctness, not scale. */
  val sfDir = "/root/testdata/sf0.001"
}
