package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Paths, Path => JPath}

import scala.jdk.CollectionConverters._

import graft.channel.ChannelRegistry
import graft.fs.SpawnFreeRawLocalFileSystem
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** The spawn-free `file:` filesystem: the same modes and statuses as the
  * stock `RawLocalFileSystem`, and no OS process for a channel append or
  * a stateful stream's checkpoint. */
class LocalFsSuite extends SparkSpec {

  private def init[F <: RawLocalFileSystem](fs: F): F = {
    fs.initialize(URI.create("file:///"), new Configuration())
    fs
  }
  private lazy val stock = init(new RawLocalFileSystem)
  private lazy val spawnFree = init(new SpawnFreeRawLocalFileSystem)

  private def mode(p: JPath): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  test("setPermission leaves the stock mode for every mode 0000-0777") {
    val dir = tmpDir("localfs_mode")
    val a = Files.createFile(dir.resolve("stock"))
    val b = Files.createFile(dir.resolve("spawn_free"))
    val differ = (0 to 0x1ff).filter { m =>
      stock.setPermission(new Path(a.toString), new FsPermission(m.toShort))
      spawnFree.setPermission(new Path(b.toString), new FsPermission(m.toShort))
      mode(a) != m || mode(b) != mode(a)
    }
    assert(differ.isEmpty, s"modes that differ: ${differ.map(_.toOctalString)}")
  }

  test("a sticky-bit mode takes the stock path") {
    val dir = tmpDir("localfs_sticky")
    val a = Files.createDirectory(dir.resolve("stock"))
    val b = Files.createDirectory(dir.resolve("spawn_free"))
    stock.setPermission(new Path(a.toString), new FsPermission(0x3ff.toShort))
    spawnFree.setPermission(new Path(b.toString), new FsPermission(0x3ff.toShort))
    // NIO cannot set the sticky bit, so only the stock chmod leaves it
    assert(mode(a) == 0x3ff && mode(b) == 0x3ff, s"${mode(a).toOctalString} ${mode(b).toOctalString}")
  }

  private def fields(s: FileStatus) =
    (s.getPath, s.getLen, s.isDirectory, s.isSymlink, s.getModificationTime,
      s.getPermission, s.getOwner, s.getGroup)

  test("getFileLinkStatus: a symlink gets the stock result") {
    val dir = tmpDir("localfs_link")
    val target = Files.writeString(dir.resolve("target"), "x")
    val link = Files.createSymbolicLink(dir.resolve("link"), target)
    val p = new Path(link.toString)
    val (a, b) = (stock.getFileLinkStatus(p), spawnFree.getFileLinkStatus(p))
    assert(b.isSymlink && a.isSymlink)
    assert(b.getSymlink == a.getSymlink && b.getSymlink.toUri.getPath == target.toString)
    assert(fields(b) == fields(a))
  }

  test("getFileLinkStatus: a regular file is its getFileStatus; a missing path throws") {
    val dir = tmpDir("localfs_file")
    val f = new Path(Files.writeString(dir.resolve("f"), "abc").toString)
    val s = spawnFree.getFileLinkStatus(f)
    assert(fields(s) == fields(spawnFree.getFileStatus(f)))
    assert(fields(s) == fields(stock.getFileLinkStatus(f)))
    assert(!s.isSymlink && s.getLen == 3)
    intercept[FileNotFoundException](spawnFree.getFileLinkStatus(new Path(dir.resolve("nope").toString)))
  }

  /** Commands of the processes the JVM starts while `body` runs. */
  private def processStarts(body: => Unit): Seq[String] = {
    val rec = new Recording()
    try {
      rec.enable("jdk.ProcessStart")
      rec.start()
      body
      rec.stop()
      val out = Files.createTempFile("localfs", ".jfr")
      try {
        rec.dump(out)
        RecordingFile.readAllEvents(out).asScala.toSeq
          .filter(_.getEventType.getName == "jdk.ProcessStart").map(_.getString("command"))
      } finally Files.deleteIfExists(out)
    } finally rec.close()
  }

  test("a channel append and a stateful stream's checkpoint start no process") {
    val s = spark.newSession()
    Tables.ensureConf(s)
    import s.implicits._
    val dir = tmpDir("localfs_guard").toRealPath()
    val control = tmpDir("localfs_control").toRealPath()
    val commands = processStarts {
      // the recorder sees a stock chmod
      stock.setPermission(new Path(Files.createFile(control.resolve("f")).toString),
        new FsPermission(0x1a4.toShort))
      val ch = new ChannelRegistry(s, dir.resolve("topics"))
        .create("t", StructType(Seq(StructField("v", LongType))))
      ch.write(Seq(1L, 2L, 3L).toDF("v"), writerId = 1)
      implicit val ctx = s.sqlContext
      val input = MemoryStream[Long]
      val q = input.toDF().groupBy($"value" % 3).count()
        .writeStream.outputMode("update").format("noop")
        .option("checkpointLocation", s"file:${dir.resolve("ckpt")}").start()
      try (1 to 3).foreach { i =>
        input.addData(i.toLong, i * 10L)
        q.processAllAvailable()
      } finally q.stop()
      assert(q.lastProgress.batchId == 2 && q.exception.isEmpty)
    }
    assert(commands.exists(_.contains(control.toString)), s"recorder saw no control chmod: $commands")
    val spawned = commands.filter(_.contains(dir.toString))
    assert(spawned.isEmpty, s"${spawned.size} processes named the test dir: ${spawned.take(5)}")
  }

  test("the file: implementation keys are set only under graft/fs") {
    val root = Paths.get("src/main/scala")
    val walk = Files.walk(root)
    val users =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala"))
        .map(p => root.relativize(p).toString ->
          """fs\.(AbstractFileSystem\.)?file\.impl""".r.findAllIn(Files.readString(p)).size)
        .filter(_._2 > 0).toMap
      finally walk.close()
    assert(users.nonEmpty && users.keys.forall(_.startsWith("graft/fs/")),
      s"name the file: implementation keys only in graft.fs.LocalFs: $users")
  }
}
