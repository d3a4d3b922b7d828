package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites, built the way every
  * deployment builds its session: through [[GraftSession.create]].
  */
trait SparkSpec {
  lazy val spark: SparkSession = SparkSpec.session

  /** `body`'s result and the number of Spark jobs it started on this
    * thread (they carry this thread's job group). A flush job in a
    * second group, seen by the same listener, proves every earlier job
    * event has been delivered before the count is read.
    */
  def jobsDuring[A](body: => A): (A, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val group = s"jobs-during-${java.util.UUID.randomUUID}"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      val out = try body finally sc.clearJobGroup()
      sc.setJobGroup(s"$group-flush", "flush")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!seen.contains(s"$group-flush") && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(seen.contains(s"$group-flush"), "listener never saw the flush job")
      import scala.jdk.CollectionConverters._
      (out, seen.asScala.count(_ == group))
    } finally sc.removeSparkListener(listener)
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    // a spark.* system property reaches the session's SparkConf; the
    // forked test JVM already disables the UI the same way (build.sbt)
    System.setProperty("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("spark-warehouse").toString)
    val s = GraftSession.create("local[4]", "graft-spec", 4)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
