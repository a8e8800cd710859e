package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session per suite; UI off, tiny shuffle width. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName(getClass.getSimpleName)
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.sparkContext.setLogLevel("ERROR")
  }

  /** `body`'s result and the number of Spark jobs it started: jobs are
    * tagged by a local property of this thread and counted once the
    * listener bus has delivered every event posted so far. */
  def jobsDuring[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val tag = s"jobs-during-${java.util.UUID.randomUUID()}"
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("graft.test.jobTag") == tag)
          n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty("graft.test.jobTag", tag)
      val a = try body finally sc.setLocalProperty("graft.test.jobTag", null)
      org.apache.spark.sql.GraftSqlBridge.drainListenerBus(sc)
      (a, n.get)
    } finally sc.removeSparkListener(listener)
  }

  private val tmpDirs = scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]

  def tmpDir(prefix: String): java.nio.file.Path = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    tmpDirs.synchronized { tmpDirs += p }
    p
  }

  /** deleteOnExit cannot remove non-empty directories — sweep suite temp
    * dirs recursively so repeated sbt test runs don't litter /tmp. */
  override def afterAll(): Unit = {
    tmpDirs.synchronized(tmpDirs.toList).foreach { p =>
      try graft.channel.Channel.deleteRecursively(p)
      catch { case _: java.io.IOException => () }
    }
    super.afterAll()
  }
}
