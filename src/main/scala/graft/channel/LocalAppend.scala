package graft.channel

import java.nio.file.Path

import graft.fs.LocalFs

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{JoinedRow, SpecificInternalRow}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Project}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

/** The job-free append path of [[Channel.write]]: a batch whose rows are
  * already on the driver (see [[rowsOf]] — a `Switchboard` publish built
  * from a local `Seq`; an ingress flush hands its serialized rows to
  * [[Channel.writeLocal]]) is written by the
  * driver itself with Spark's own parquet `OutputWriter`
  * (`ParquetFileFormat.prepareWrite`, the writer a write task uses),
  * through the session's Hadoop `FileSystem`. No Spark job, no output
  * committer.
  *
  * The on-disk result is the job path's: a `part-*.parquet` file with
  * the same schema (metadata columns non-nullable, as the job path's
  * literal/id columns are) and `_offset` = 0..n-1 in row order (what
  * `monotonically_increasing_id` yields over a local relation), then
  * `_SUCCESS`. It is one file even on a multi-partition topic, where the
  * job path may write several; readers take any number. The part file is written under a hidden `_` name and
  * renamed into place, so a concurrent batch scan of the topic never
  * opens a half-written file. Thread-safe: every call builds its own
  * Hadoop configuration, job and writer. The configuration takes the
  * spawn-free `file:` filesystem ([[LocalFs]]) past the JVM-wide
  * FileSystem cache, which may hold a stock instance in a session graft
  * did not build; the call closes the filesystem it opens. */
private[channel] object LocalAppend {

  /** The rows of `df` when they are already on the driver: its plan is
    * a `LocalRelation`, or a projection of one (`Seq(…).toDF("a", "b")`
    * renames), which the optimizer folds into one. A frame that carries
    * its own metadata columns takes the job path. */
  def rowsOf(df: DataFrame): Option[Seq[InternalRow]] = {
    val local = GraftSqlBridge.planOf(df) match {
      case l: LocalRelation => Some(l)
      case Project(_, _: LocalRelation) =>
        Some(df.queryExecution.optimizedPlan).collect { case l: LocalRelation => l }
      case _ => None
    }
    local.filter(l => !l.isStreaming && l.schema == df.schema &&
        !df.columns.exists(Set(Channel.WriterIdCol, Channel.SeqCol, Channel.OffsetCol)))
      .map(_.data)
  }

  /** Write `rows` (laid out as `payload`) into the batch dir `target`,
    * stamped with `writerId`, `seq` and their row offset; `_SUCCESS`
    * last. */
  def write(spark: SparkSession, target: Path, payload: StructType,
            rows: Seq[InternalRow], writerId: Int, seq: Long): Unit = {
    val schema = StructType(payload.fields ++ Seq(
      StructField(Channel.WriterIdCol, IntegerType, nullable = false),
      StructField(Channel.SeqCol, LongType, nullable = false),
      StructField(Channel.OffsetCol, LongType, nullable = false)))
    val conf = GraftSqlBridge.newHadoopConf(spark)
    LocalFs.applyTo(conf.set, bypassCache = true)
    val job = Job.getInstance(conf)
    val factory = new ParquetFileFormat().prepareWrite(spark, job, Map.empty, schema)
    val ctx = new TaskAttemptContextImpl(job.getConfiguration, new TaskAttemptID())
    val dir = new HPath(target.toUri)
    val name = s"part-00000-${java.util.UUID.randomUUID()}-c000${factory.getFileExtension(ctx)}"
    val hidden = new HPath(dir, "_" + name)
    val out = factory.newInstance(hidden.toString, schema, ctx)
    try {
      val meta = new SpecificInternalRow(Seq(IntegerType, LongType, LongType))
      meta.setInt(0, writerId)
      meta.setLong(1, seq)
      val row = new JoinedRow()
      var offset = 0L
      rows.foreach { r =>
        meta.setLong(2, offset)
        out.write(row(r, meta))
        offset += 1
      }
    } finally out.close()
    val fs = dir.getFileSystem(job.getConfiguration)
    try {
      if (!fs.rename(hidden, new HPath(dir, name)))
        throw new java.io.IOException(s"could not publish $name in $target")
      fs.create(new HPath(dir, "_SUCCESS")).close()
    } finally fs.close()
  }
}
