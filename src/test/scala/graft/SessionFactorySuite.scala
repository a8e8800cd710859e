package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** Session contracts: graft's mains share one session factory, and
  * `SparkEntry.entry` works on a session graft did not configure. */
class SessionFactorySuite extends SparkSpec {

  test("SparkEntry.entry runs on a vanilla session (no graft confs)") {
    val vanilla = spark.newSession()
    assert(vanilla.conf.getOption("spark.sql.legacy.parquet.nanosAsLong")
      .forall(_ == "false"), "fresh session already carries graft's confs")
    assert(SparkEntry.entry(vanilla).count() > 0)
  }

  test("SparkSession.builder appears in src/main only in Tables.localSession") {
    val root = Paths.get("src/main/scala")
    val walk = Files.walk(root)
    val builders =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala"))
        .map(p => root.relativize(p).toString ->
          "SparkSession.builder".r.findAllIn(Files.readString(p)).size)
        .filter(_._2 > 0).toMap
      finally walk.close()
    assert(builders == Map("graft/Tables.scala" -> 1),
      s"build sessions with Tables.localSession(), not SparkSession.builder: $builders")
  }
}
