package org.apache.spark.sql.graftbridge

import java.util.UUID

import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

/** Write-side bridge for graft.lake's one file writer,
  * `graft.lake.LakeFileWriter` (same private[sql] access rationale as
  * [[LakeReadBridge]]): exposes Spark's OWN parquet [[OutputWriter]] —
  * the exact write support, compression codec, and schema conversion a
  * DataFrame write would configure via `ParquetFileFormat.prepareWrite`
  * — so the writer's files are what `df.write.parquet` writes, readable
  * by the vectorized scan, with zero hand-rolled parquet plumbing.
  * All private[sql]/private[spark] types stay inside this object; the
  * lake side sees only the serializable opaque factory below.
  */
object LakeWriteBridge {

  /** One per-task parquet writer (opaque handle over [[OutputWriter]]). */
  final class ParquetWriter private[LakeWriteBridge] (w: OutputWriter) {
    def write(row: InternalRow): Unit = w.write(row)
    def close(): Unit = w.close()
  }

  /** Serializable, executor-shippable writer factory: carries the
    * prepared [[OutputWriterFactory]] plus a broadcast of the job
    * configuration `prepareWrite` populated (write support class,
    * schema, codec), so a task closure carries no `Configuration`.
    */
  final class Factory private[LakeWriteBridge] (
      factory: OutputWriterFactory, conf: Broadcast[SerializableConfiguration],
      schema: StructType) extends Serializable {
    def newWriter(path: String): ParquetWriter = {
      val attempt = new TaskAttemptID(
        new TaskID(new JobID(UUID.randomUUID().toString.take(8), 0),
          TaskType.MAP, 0), 0)
      // the task context copies the conf: writers never share one
      new ParquetWriter(factory.newInstance(path, schema,
        new TaskAttemptContextImpl(conf.value.value, attempt)))
    }

    /** Destroy the conf broadcast, on the driver and every executor,
      * once the job writing with this factory has ended. Idempotent.
      */
    def release(): Unit = if (conf.isValid) conf.destroy()
  }

  /** Driver-side: prepare a parquet write of `schema` with the
    * session's hadoop/SQL configuration. The factory's own copy of that
    * configuration opens files through `graft.streaming.NioLocalFs`,
    * uncached: without libhadoop the stock local filesystem forks a
    * `chmod` for every file it creates. The session and the JVM-wide
    * `FileSystem` cache are left as they are. The copy ships as one
    * broadcast (a task fetches it once per executor, not once per task
    * closure), which lives until [[Factory.release]].
    */
  def prepare(spark: SparkSession, schema: StructType): Factory = {
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    job.getConfiguration.set("fs.file.impl", classOf[graft.streaming.NioLocalFs].getName)
    job.getConfiguration.setBoolean("fs.file.impl.disable.cache", true)
    val factory = new ParquetFileFormat()
      .prepareWrite(spark, job, Map.empty, schema)
    new Factory(factory,
      spark.sparkContext.broadcast(new SerializableConfiguration(job.getConfiguration)),
      schema)
  }
}
