package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all Spark-backed suites. */
object SparkTestBase {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The call sites of the Spark jobs `body` starts, seen by a listener:
    * `body` runs with a local property that its jobs carry, and a marker
    * job run after it says when the listener has seen them all (listener
    * events arrive in order). */
  def jobsDuring(body: => Unit): Seq[String] = {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val (key, id) = ("graft.jobsDuring", java.util.UUID.randomUUID().toString)
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]() // (tag, call site)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = if (e.properties != null)
        seen.add((e.properties.getProperty(key), e.stageInfos.maxBy(_.stageId).name))
    }
    def tagged(tag: String)(run: => Unit): Unit = {
      sc.setLocalProperty(key, tag)
      try run finally sc.setLocalProperty(key, null)
    }
    sc.addSparkListener(listener)
    try {
      tagged(id)(body)
      tagged(id + "-marker")(sc.parallelize(Seq(1), 1).count())
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!seen.asScala.exists(_._1 == id + "-marker")) {
        assert(System.nanoTime() < deadline, "no marker job seen")
        Thread.sleep(10)
      }
      seen.asScala.toSeq.collect { case (`id`, site) => site }
    } finally sc.removeSparkListener(listener)
  }

  def tempDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString
}
