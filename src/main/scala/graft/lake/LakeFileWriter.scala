package graft.lake

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.{Base64, UUID}

import scala.collection.mutable.ArrayBuffer

import org.apache.datasketches.hll.{HllSketch, TgtHllType, Union}
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.util.CollationFactory
import org.apache.spark.sql.connector.write.{DataWriter, DataWriterFactory, WriterCommitMessage}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbridge.LakeWriteBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One data file a [[LakeFileWriter]] task wrote: the task that wrote
  * it (the bucket id of a bucketed stage), its exact partition-column
  * values (external Scala values, null for a null partition) and its
  * manifest entry — rows, min/max, null counts and HLL sketches,
  * computed while writing — named as in the staging directory until
  * [[LakeFileWriter.moveIn]] renames it.
  */
private[lake] case class LakeWrittenFile(task: Int, partition: Seq[Any],
    entry: FileEntry)

/** A task's commit message: the files it wrote, in write order. */
private[lake] case class LakeWriteMessage(files: Seq[LakeWrittenFile])
    extends WriterCommitMessage

/** Executor-shippable factory of [[LakeFileWriter]]s — the one writer
  * behind every lake data file: [[LakeTable]]'s staging and the native
  * v2 dynamic-overwrite BatchWrite.
  */
private[lake] class LakeFileWriterFactory(stagingDir: String,
    parquet: LakeWriteBridge.Factory, schema: StructType,
    statsCols: Seq[String], partitionBy: Seq[String])
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): LakeFileWriter =
    new LakeFileWriter(stagingDir, parquet, schema, statsCols, partitionBy,
      partitionId, taskId)

  /** Drive one writer over a partition's rows, the way Spark's v2
    * write task does: commit on success, abort (delete its files) on
    * failure.
    */
  private[lake] def runTask(partitionId: Int, rows: Iterator[InternalRow]): LakeWriteMessage = {
    val w = createWriter(partitionId, TaskContext.get().taskAttemptId())
    try {
      rows.foreach(w.write)
      w.commit()
    } catch { case t: Throwable =>
      w.abort()
      throw t
    } finally w.close()
  }

  /** Drop the Hadoop conf broadcast the tasks read; call once the
    * job that writes with this factory has ended.
    */
  private[lake] def release(): Unit = parquet.release()
}

/** One task's writer. Rows go to a parquet file through
  * [[LakeWriteBridge]]; with partition columns (rows arrive sorted by
  * them) a new file starts whenever the partition value changes, so
  * every file carries exactly one value per partition column. A task
  * with no rows writes no file. Each file's stats are those the stats
  * aggregate `min`/`max`/null count/`hll_sketch_agg` over the file
  * would give — see [[LakeFileWriter.ColumnStats]].
  */
private[lake] class LakeFileWriter(stagingDir: String,
    parquet: LakeWriteBridge.Factory, schema: StructType,
    statsCols: Seq[String], partitionBy: Seq[String],
    partitionId: Int, taskId: Long) extends DataWriter[InternalRow] {
  import LakeFileWriter.ColumnStats

  private def ordinals(cols: Seq[String]) =
    cols.map(c => (schema.fieldIndex(c), schema(c).dataType)).toIndexedSeq
  private val statOrdinals = ordinals(statsCols)
  private val partOrdinals = ordinals(partitionBy)
  private val done = ArrayBuffer.empty[LakeWrittenFile]
  private var out: LakeWriteBridge.ParquetWriter = _
  private var file: String = _
  private var part: Array[Any] = _
  private var rows = 0L
  private var stats: Seq[ColumnStats] = Nil

  override def write(row: InternalRow): Unit = {
    if (out != null && partOrdinals.nonEmpty && !samePartition(row)) closeFile()
    if (out == null) openFile(row)
    out.write(row)
    rows += 1
    stats.foreach(_.update(row))
  }

  private def samePartition(row: InternalRow): Boolean =
    partOrdinals.indices.forall { i =>
      val (o, t) = partOrdinals(i)
      if (row.isNullAt(o)) part(i) == null
      else part(i) != null && part(i) == row.get(o, t)
    }

  private def openFile(row: InternalRow): Unit = {
    file = f"$partitionId%05d-$taskId-${done.size}%05d.parquet"
    out = parquet.newWriter(s"$stagingDir/$file")
    // row buffers are reused: keep copies of the partition values
    part = partOrdinals.map { case (o, t) =>
      if (row.isNullAt(o)) null else InternalRow.copyValue(row.get(o, t))
    }.toArray
    rows = 0L
    stats = statOrdinals.map { case (o, t) => new ColumnStats(o, t) }
  }

  private def closeFile(): Unit = {
    out.close()
    out = null
    val tuple = partOrdinals.zip(part).map { case ((_, t), v) =>
      CatalystTypeConverters.convertToScala(v, t)
    }
    done += LakeWrittenFile(partitionId, tuple,
      LakeFileWriter.entry(file, rows, statsCols.zip(stats)))
  }

  override def commit(): LakeWriteMessage = {
    if (out != null) closeFile()
    LakeWriteMessage(done.toSeq)
  }

  override def abort(): Unit = {
    if (out != null) {
      try out.close() catch { case scala.util.control.NonFatal(_) => () }
      out = null
      Files.deleteIfExists(Paths.get(stagingDir, file))
    }
    done.foreach(f => Files.deleteIfExists(Paths.get(stagingDir, f.entry.name)))
  }

  override def close(): Unit = ()
}

private[lake] object LakeFileWriter {

  /** One column's row count, null count and [min,max] over the rows it
    * is updated with, as the stats record them: integrals, dates (epoch
    * days) and timestamps (epoch micros) widened to the long that
    * [[LakeTable.statLong]] encodes, strings in the column's collation
    * order. Serializable: a task's partial range [[merge]]s into the
    * driver's ([[LakeTable.keyRangeOf]]).
    */
  private[lake] class ColumnRange(ordinal: Int, t: DataType) extends Serializable {
    @transient protected lazy val collation = t match {
      case s: StringType => CollationFactory.fetchCollation(s.collationId)
      case _ => null
    }
    @transient private lazy val asLong: InternalRow => Long = t match {
      case ByteType => _.getByte(ordinal).toLong
      case ShortType => _.getShort(ordinal).toLong
      case IntegerType | DateType => _.getInt(ordinal).toLong
      case _ => _.getLong(ordinal)
    }
    var rows = 0L
    var nulls = 0L
    var lo = Long.MaxValue
    var hi = Long.MinValue
    // copies: the row's UTF8String points into a reused buffer
    var strLo: UTF8String = _
    var strHi: UTF8String = _

    def update(row: InternalRow): Unit = {
      rows += 1
      if (row.isNullAt(ordinal)) nulls += 1
      else if (collation == null) addLong(asLong(row))
      else addString(row.getUTF8String(ordinal))
    }

    protected def addLong(v: Long): Unit = {
      if (v < lo) lo = v
      if (v > hi) hi = v
    }

    protected def addString(s: UTF8String): Unit = {
      if (strLo == null || collation.comparator.compare(s, strLo) < 0) strLo = s.clone()
      if (strHi == null || collation.comparator.compare(s, strHi) > 0) strHi = s.clone()
    }

    /** This range widened by `o`'s (same column), in place. */
    def merge(o: ColumnRange): ColumnRange = {
      rows += o.rows
      nulls += o.nulls
      lo = math.min(lo, o.lo)
      hi = math.max(hi, o.hi)
      if (o.strLo != null) addString(o.strLo)
      if (o.strHi != null) addString(o.strHi)
      this
    }

    def isString: Boolean = collation != null
  }

  /** One file's stats for one column, updated per row: its
    * [[ColumnRange]] plus an HLL sketch. They equal what `min`, `max`,
    * the null count and `hll_sketch_agg(_, HllLgK)` over the file's
    * rows give, sketch bytes included:
    *  - the sketch takes `update(long)` of a long-encoded value;
    *  - for strings it skips empty strings and takes each other value's
    *    collation sort key, as `hll_sketch_agg` does;
    *  - it is an HLL_8 sketch of lgK [[LakeTable.HllLgK]], finished the
    *    way the aggregate's final merge finishes its one partial buffer:
    *    a `Union` of an empty sketch and it, read out as HLL_8 with
    *    `toUpdatableByteArray`.
    */
  private[lake] final class ColumnStats(ordinal: Int, t: DataType)
      extends ColumnRange(ordinal, t) {
    private val sketch = new HllSketch(LakeTable.HllLgK, TgtHllType.HLL_8)

    override protected def addLong(v: Long): Unit = {
      super.addLong(v)
      sketch.update(v)
    }

    override protected def addString(s: UTF8String): Unit = {
      super.addString(s)
      if (!collation.equalsFunction.apply(s, UTF8String.EMPTY_UTF8))
        sketch.update(collation.sortKeyFunction.apply(s))
    }

    def hllBytes: Array[Byte] = {
      val u = new Union(LakeTable.HllLgK)
      u.update(new HllSketch(LakeTable.HllLgK, TgtHllType.HLL_8))
      u.update(sketch)
      u.getResult(TgtHllType.HLL_8).toUpdatableByteArray
    }
  }

  /** The manifest entry of a file of `rows` (> 0) rows: [min,max] for
    * columns holding a non-null value (strings truncated, see
    * [[LakeTable.truncMin]]/[[LakeTable.truncMax]]), and a null count
    * and an HLL sketch for every stats column. `bytes` is filled in
    * once the file sits in the table root.
    */
  private def entry(name: String, rows: Long,
      cols: Seq[(String, ColumnStats)]): FileEntry = {
    val (strs, longs) = cols.partition(_._2.isString)
    FileEntry(name, rows,
      longs.collect { case (c, s) if s.nulls < rows => c -> ((s.lo, s.hi)) }.toMap,
      strStats = strs.collect { case (c, s) if s.strLo != null =>
        c -> ((LakeTable.truncMin(s.strLo.toString), LakeTable.truncMax(s.strHi.toString)))
      }.toMap,
      nulls = cols.map { case (c, s) => c -> s.nulls }.toMap,
      hll = cols.map { case (c, s) =>
        c -> Base64.getEncoder.encodeToString(s.hllBytes)
      }.toMap)
  }

  def newJob(): String = UUID.randomUUID().toString.replace("-", "").take(12)

  /** Prepare the writer factory for `schema` rows staged into
    * `stagingDir` (which this creates).
    */
  def factory(spark: SparkSession, stagingDir: Path, schema: StructType,
      statsCols: Seq[String], partitionBy: Seq[String]): LakeFileWriterFactory = {
    Files.createDirectories(stagingDir)
    new LakeFileWriterFactory(stagingDir.toString,
      LakeWriteBridge.prepare(spark, schema), schema, statsCols, partitionBy)
  }

  /** Stage `df` as immutable parquet files in the table root at `path`
    * and return one stats-complete manifest entry per file: one Spark
    * job of writer tasks writes the files into a scratch directory and
    * computes each file's stats as it writes them; the driver moves the
    * files in under job-unique names. No reread, no commit protocol.
    * Runs BEFORE the manifest commit: a crash leaves orphans the next
    * vacuum collects, never a corrupt snapshot.
    *
    * With `partitionBy`, each task sorts its rows by the partition
    * columns (the sort Spark's partitioned write plans) and starts a
    * new file per value, so every file carries exactly one value per
    * partition column; the columns stay stored in the data files and
    * the files land flat in the table root like any other (the
    * manifest, not a directory tree, is the index). With `bucketBy`,
    * `repartition(buckets, cols)` is Spark's own bucket distribution
    * (HashPartitioning), so task i writes exactly bucket i's rows, and
    * its files carry the bucket suffix the reader parses.
    */
  def stage(spark: SparkSession, path: String, df: DataFrame,
      statsCols: Seq[String], partitionBy: Seq[String] = Nil,
      bucketBy: Seq[String] = Nil, buckets: Int = 0): Seq[FileEntry] = {
    val laidOut =
      if (bucketBy.nonEmpty) df.repartition(buckets, bucketBy.map(col): _*)
      else if (partitionBy.nonEmpty) df.sortWithinPartitions(partitionBy.map(col): _*)
      else df
    val job = newJob()
    val staging = Paths.get(path, s"_staging_$job")
    try {
      val f = factory(spark, staging, laidOut.schema, statsCols, partitionBy)
      val messages =
        try LakeTable.taskResults(laidOut, "lake write")(f.runTask)
        finally f.release()
      moveIn(path, staging, job, messages.toSeq, bucketBy.nonEmpty).map(_.entry)
    } finally graft.deleteRecursively(staging)
  }

  /** Move every file the messages name from `staging` into the table
    * root under `part-<job>-<i>` names, in task order, with the bucket
    * suffix `_<task>` (what the reader's bucket-id parser expects) when
    * `bucketed`; returns them with their final names and sizes.
    */
  def moveIn(path: String, staging: Path, job: String,
      messages: Seq[LakeWriteMessage], bucketed: Boolean): Seq[LakeWrittenFile] =
    messages.flatMap(_.files).sortBy(_.task).zipWithIndex.map { case (f, i) =>
      val target =
        if (bucketed) f"part-$job-$i%05d_${f.task}%05d.parquet"
        else f"part-$job-$i%05d.parquet"
      val to = Paths.get(path, target)
      Files.move(staging.resolve(f.entry.name), to, StandardCopyOption.ATOMIC_MOVE)
      f.copy(entry = f.entry.copy(name = target, bytes = Files.size(to)))
    }
}
