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
