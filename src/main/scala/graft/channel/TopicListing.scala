package graft.channel

import java.nio.file.{Files, Path}

import scala.collection.immutable.SortedSet
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.types.{DataType, StructType}

/** One listing of a topic directory, every entry name parsed once — the
  * one owner of the directory's grammar (`<seq>` is a 12-digit
  * zero-padded sequence number):
  *
  *  - `batch_<seq>_w<writer>_<unique>`: a data dir holding the frames of
  *    seq `<seq>`. `<unique>` is `e<epoch>` for a [[Channel.writeEpoch]]
  *    and `u<hex>` for a plain [[Channel.write]]. The dir is committed
  *    once it holds `_SUCCESS`; its parquet part files are its data.
  *  - `compact_<seq>`: a compaction's output. It holds every frame with a
  *    seq below `<seq>` and supersedes every data dir below its seq; seq
  *    `<seq>` itself holds no data. Its `_EPOCHS` file lists the
  *    `w<writer>_e<epoch>` tags of the sink writes it absorbed.
  *  - `_res_<seq>`: a writer's claim on `<seq>`, made under the topic lock
  *    before its batch dir exists and released only after the dir commits
  *    or the seq is tombstoned ([[Channel.reserveSeq]]).
  *  - `_abort_<seq>`: a tombstone — `<seq>` was claimed and holds no data.
  *  - `_rdr_<reader>`: a registered reader's head (its next unread seq).
  *  - `_DRAINED`, `_TERMINATED`: the lifecycle flags.
  *  - `_SCHEMA`: the topic's settings ([[TopicMeta]]); a dir holding it
  *    is a topic.
  *  - `_LOCK`: the topic lock's file. Every seq claim and every cursor
  *    raise runs holding a `FileLock` on it.
  *  - `_HEAD` (the published `strict weak` cursor), `_PRUNED` (the pruned
  *    floor), the cursor writer's `<cursor>.tmp` files, and the
  *    `_rdr_*.lock` and `_head*.tmp` files older topics hold carry no seq.
  *
  * A listing is one moment of a directory that other handles and JVMs
  * write concurrently, so it is never kept across calls: each step of the
  * reservation protocol takes its own. */
private[graft] final class TopicListing private (
    val dir: Path,
    /** Every `batch_*` and `compact_*` dir, in seq order. */
    val dirs: Vector[TopicListing.DataDir],
    val reservations: SortedSet[Long],
    val aborts: SortedSet[Long],
    /** Registered readers' head files, by reader name. */
    val readers: Map[String, Path],
    val drained: Boolean,
    val terminated: Boolean) {
  import TopicListing.committed

  /** The `batch_*` dirs grouped by seq, ascending — what a subscription
    * reads (compacted content was already delivered as its originals). */
  lazy val batches: Vector[(Long, Seq[Path])] =
    dirs.filterNot(_.compact).groupBy(_.seq).toVector.sortBy(_._1)
      .map { case (s, ds) => (s, ds.map(_.path)) }

  private lazy val batchAt: Map[Long, Seq[Path]] = batches.toMap

  /** Seqs consumed by `compact_*` dirs: holes, not loss. */
  lazy val compactSeqs: Set[Long] = dirs.filter(_.compact).map(_.seq).toSet

  /** Live data dirs in seq order: a `compact_N` supersedes every dir below
    * N, so the leftovers of a compaction interrupted between its move and
    * its deletes are never read twice. */
  lazy val live: Vector[TopicListing.DataDir] =
    compactSeqs.maxOption.fold(dirs)(c => dirs.filter(_.seq >= c))

  /** One past the highest seq any data dir holds or consumed. */
  def nextSeq: Long = dirs.lastOption.fold(0L)(_.seq + 1)

  /** The lowest seq no dir, reservation or tombstone has used or passed. */
  def nextFree: Long =
    (Iterator(nextSeq) ++ reservations.lastOption.map(_ + 1) ++
      aborts.lastOption.map(_ + 1)).max

  private def done(s: Long): Boolean = batchAt.get(s).exists(_.forall(committed))

  /** The committed head `(strictEnd, weakEnd)`. `weakEnd` is one past the
    * highest seq whose every dir is committed; gaps (evicted, aborted or
    * in-flight seqs) below it do not hold it back. `strictEnd` also parks
    * at the lowest reservation whose seq is not committed yet: an
    * in-flight or crashed write, whose dir may not exist yet.
    *
    * Both ends are monotone across listings. An uncommitted dir parks only
    * the strict end: its rival at a higher seq may commit first, and a weak
    * end that stopped at it would fall back when it appeared. With no
    * committed seq at all, the end is the lowest trace of an unresolved
    * writer, dir or bare reservation, because every new trace lands above
    * all existing ones (the floor of [[Channel.reserveSeq]] spans dirs,
    * reservations, tombstones and the published head). `_SUCCESS` is
    * checked from the highest seq down, so a write stats O(1) dirs. */
  def committedEnds: (Long, Long) = {
    val end = batches.reverseIterator
      .collectFirst { case (s, ds) if ds.forall(committed) => s + 1 }
      .getOrElse((batches.headOption.map(_._1) ++ reservations.headOption)
        .minOption.getOrElse(nextSeq))
    val strict = reservations.find(s => !done(s)).fold(end)(math.min(end, _))
    (strict, end)
  }

  /** The lowest seq in `[from, end)` a write still holds in flight: a
    * batch dir without `_SUCCESS`, or a reservation whose seq has no
    * committed dir (a marker outlives its commit briefly). A tombstoned
    * seq is resolved even while a failed write's partial dir remains. */
  def firstInFlight(from: Long, end: Long): Option[Long] = {
    val partial = batches.iterator.dropWhile(_._1 < from).takeWhile(_._1 < end)
      .collectFirst { case (s, ds) if !aborts(s) && !ds.forall(committed) => s }
    val pending = reservations.range(from, end).find(s => !aborts(s) && !done(s))
    (partial ++ pending).minOption
  }
}

private[graft] object TopicListing {
  private val BatchPrefix = "batch_"
  private val CompactPrefix = "compact_"
  private val ResPrefix = "_res_"
  private val AbortPrefix = "_abort_"
  private val ReaderPrefix = "_rdr_"
  private[channel] val DrainedFlag = "_DRAINED"
  private[channel] val TerminatedFlag = "_TERMINATED"
  private[channel] val LockFile = "_LOCK"
  private val EpochTag = """w\d+_e\d+""".r
  private val SchemaFile = "_SCHEMA"

  /** A topic's `_SCHEMA` file: the schema's JSON, its
    * [[SchemaRegistry.hash]], the capacity in bytes, the drop mode and
    * the partition count, one per line. */
  final case class TopicMeta(schema: StructType, hash: String, capacityBytes: Long,
                             dropMode: Boolean, partitions: Int)

  def isTopic(dir: Path): Boolean = Files.exists(dir.resolve(SchemaFile))

  def writeMeta(dir: Path, m: TopicMeta): Unit =
    Files.writeString(dir.resolve(SchemaFile), Seq(m.schema.json, m.hash,
      m.capacityBytes, m.dropMode, m.partitions).mkString("\n"))

  def readMeta(dir: Path): TopicMeta = {
    require(isTopic(dir), s"not a channel topic (no $SchemaFile): $dir")
    val Array(json, h, cap, drop, parts) = Files.readString(dir.resolve(SchemaFile)).split("\n")
    TopicMeta(DataType.fromJson(json).asInstanceOf[StructType], h, cap.toLong,
      drop.toBoolean, parts.toInt)
  }

  /** A `batch_*` or `compact_*` dir. `tag` is a batch dir's
    * `w<writer>_<unique>` suffix, empty for a compact dir. */
  final case class DataDir(seq: Long, path: Path, compact: Boolean, tag: String) {
    /** One past the seqs this dir holds (a `compact_N` holds those < N). */
    def end: Long = if (compact) seq else seq + 1
    def committed: Boolean = TopicListing.committed(path)
    /** The `w<writer>_e<epoch>` tag of a sink write's batch dir. */
    def epochTag: Option[String] = Some(tag).filter(EpochTag.matches)
  }

  /** List `dir` once and parse every entry. A missing dir lists empty;
    * names outside the grammar are ignored. */
  def of(dir: Path): TopicListing = {
    Channel.listDirCalls.incrementAndGet()
    val dirs = Vector.newBuilder[DataDir]
    val res, aborts = SortedSet.newBuilder[Long]
    val readers = Map.newBuilder[String, Path]
    var drained, terminated = false
    val names = try entries(dir) catch { case _: java.nio.file.NoSuchFileException => Nil }
    names.foreach { p =>
      val n = p.getFileName.toString
      def seq(prefix: String): Option[(Long, String)] = {
        val rest = n.substring(prefix.length)
        val digits = rest.takeWhile(_.isDigit)
        digits.toLongOption.map(_ -> rest.drop(digits.length).stripPrefix("_"))
      }
      if (n.startsWith(BatchPrefix))
        seq(BatchPrefix).foreach { case (s, tag) => dirs += DataDir(s, p, compact = false, tag) }
      else if (n.startsWith(CompactPrefix))
        seq(CompactPrefix).foreach { case (s, _) => dirs += DataDir(s, p, compact = true, "") }
      else if (n.startsWith(ResPrefix)) seq(ResPrefix).foreach(res += _._1)
      else if (n.startsWith(AbortPrefix)) seq(AbortPrefix).foreach(aborts += _._1)
      else if (n.startsWith(ReaderPrefix)) {
        if (!n.endsWith(".tmp") && !n.endsWith(".lock"))
          readers += n.stripPrefix(ReaderPrefix) -> p
      }
      else if (n == DrainedFlag) drained = true
      else if (n == TerminatedFlag) terminated = true
    }
    new TopicListing(dir, dirs.result().sortBy(_.seq), res.result(), aborts.result(),
      readers.result(), drained, terminated)
  }

  def batchPath(dir: Path, seq: Long, writerId: Int, unique: String): Path =
    dir.resolve(f"$BatchPrefix$seq%012d" + s"_w${writerId}_$unique")
  def compactPath(dir: Path, seq: Long): Path = dir.resolve(f"$CompactPrefix$seq%012d")
  def resPath(dir: Path, seq: Long): Path = dir.resolve(f"$ResPrefix$seq%012d")
  def abortPath(dir: Path, seq: Long): Path = dir.resolve(f"$AbortPrefix$seq%012d")
  def readerPath(dir: Path, reader: String): Path = dir.resolve(ReaderPrefix + reader)

  def committed(dataDir: Path): Boolean = Files.exists(dataDir.resolve("_SUCCESS"))

  /** Parquet data files of one data dir, in name order (part order is
    * write order within a batch). */
  def dataFiles(dataDir: Path): Seq[Path] =
    entries(dataDir)
      .filter { p =>
        val n = p.getFileName.toString
        n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")
      }
      .sortBy(_.getFileName.toString)

  /** Files.list with the stream closed (consuming only the iterator
    * would leak a directory handle per call until GC). */
  private def entries(d: Path): Seq[Path] = {
    val s = Files.list(d)
    try s.iterator().asScala.toSeq finally s.close()
  }
}
