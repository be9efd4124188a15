package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Centralized table loading for all graft queries.
  *
  * Every query function receives `(spark, sfDir)` and must load inputs
  * through here so that per-table quirks are fixed in exactly one place.
  *
  * Scale notes (100 TB design): loaders return plain scans — no caching,
  * no repartition — so Catalyst keeps full freedom to push predicates and
  * prune columns into the parquet reader. Callers `.select(...)` early.
  */
object Tables {

  /** Footer-schema memo for the base tables, keyed on the file's
    * identity (path + size + mtime). A bare `spark.read.parquet(path)`
    * re-infers the schema on EVERY call — a driver-side footer job
    * worth ~50-70 ms here (measured, SchemaMicro) and far more on a
    * 100 TB table with thousands of footers; production catalogs serve
    * the schema from the metastore instead. This memo is that catalog:
    * metadata only, never data, and a restaged file (new size/mtime)
    * re-infers. Safe across sessions in one JVM — the schema is a pure
    * function of the file bytes (events' loader sets nanosAsLong before
    * the first read whenever the footer stores NANOS).
    */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.types.StructType]()

  private def fingerprint(path: String): String = {
    val f = new java.io.File(path)
    if (f.isDirectory) {
      // recursive: hive-partitioned staging dirs keep their part files
      // one directory level down (col=value/part-*.parquet)
      def walk(d: java.io.File, prefix: String): Seq[String] =
        Option(d.listFiles()).getOrElse(Array.empty[java.io.File]).toSeq.flatMap {
          case x if x.isDirectory => walk(x, s"$prefix${x.getName}/")
          case x if x.getName.endsWith(".parquet") =>
            Seq(s"$prefix${x.getName}:${x.length}:${x.lastModified}")
          case _ => Nil
        }
      s"$path|${walk(f, "").sorted.mkString(",")}"
    } else s"$path|${f.length}:${f.lastModified}"
  }

  /** Parquet scan with the footer schema served from the memo above —
    * the shared loader for the base tables AND the per-(JVM, sfDir)
    * staged artifacts (component frames, edge lists, split events),
    * all immutable while their fingerprint stands.
    */
  def parquetCached(s: SparkSession, path: String): DataFrame = {
    val schema = schemaCache.computeIfAbsent(fingerprint(path),
      _ => s.read.parquet(path).schema)
    s.read.schema(schema).parquet(path)
  }

  private def pq(s: SparkSession, path: String): DataFrame = parquetCached(s, path)

  /** What the footers of an immutable parquet table say: its exact row
    * count (block row counts) and the top-level columns stored as
    * INT64 TIMESTAMP(NANOS).
    */
  private case class FooterFacts(rows: Long, nanosColumns: Set[String])

  private val footerCache = new java.util.concurrent.ConcurrentHashMap[String, FooterFacts]()

  /** [[FooterFacts]] of `path`, memoized on the same fingerprint as the
    * schema: metadata only — a restaged file re-reads.
    */
  private def footerFacts(s: SparkSession, path: String): FooterFacts =
    footerCache.computeIfAbsent(fingerprint(path), { _ =>
      import org.apache.parquet.schema.LogicalTypeAnnotation.{TimestampLogicalTypeAnnotation, TimeUnit}
      val conf = s.sparkContext.hadoopConfiguration
      val f = new java.io.File(path)
      val files: Seq[java.io.File] =
        if (f.isDirectory) {
          def walk(d: java.io.File): Seq[java.io.File] =
            Option(d.listFiles()).getOrElse(Array.empty[java.io.File]).toSeq.flatMap {
              case x if x.isDirectory => walk(x)
              case x if x.getName.endsWith(".parquet") => Seq(x)
              case _ => Nil
            }
          walk(f)
        } else Seq(f)
      files.map { file =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(file.getAbsolutePath), conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try {
          import scala.jdk.CollectionConverters._
          val nanos = r.getFooter.getFileMetaData.getSchema.getFields.asScala
            .map(c => (c.getName, c.getLogicalTypeAnnotation)).collect {
              case (n, t: TimestampLogicalTypeAnnotation) if t.getUnit == TimeUnit.NANOS => n
            }.toSet
          FooterFacts(r.getRecordCount, nanos)
        } finally r.close()
      }.foldLeft(FooterFacts(0L, Set.empty)) { (a, b) =>
        FooterFacts(a.rows + b.rows, a.nanosColumns ++ b.nanosColumns)
      }
    })

  /** Exact row count of an immutable parquet table from FOOTER metadata
    * (block row counts), memoized on the same fingerprint as the schema.
    * This is the manifest-stats pattern (LakeTable.statsReport serves the
    * same number at zero file I/O): several queries need the corpus size
    * only to pick a sampling prefix length, and a full `df.count()` job
    * per query re-derives a constant the footers already store. Metadata
    * only — a restaged file re-reads; parquet footer counts are exact.
    */
  def rowCountCached(s: SparkSession, path: String): Long = footerFacts(s, path).rows

  def region(s: SparkSession, dir: String): DataFrame   = pq(s, s"$dir/region.parquet")
  def nation(s: SparkSession, dir: String): DataFrame   = pq(s, s"$dir/nation.parquet")
  def customer(s: SparkSession, dir: String): DataFrame = pq(s, s"$dir/customer.parquet")
  def supplier(s: SparkSession, dir: String): DataFrame = pq(s, s"$dir/supplier.parquet")
  def part(s: SparkSession, dir: String): DataFrame     = pq(s, s"$dir/part.parquet")
  def orders(s: SparkSession, dir: String): DataFrame   = pq(s, s"$dir/orders.parquet")
  def lineitem(s: SparkSession, dir: String): DataFrame = pq(s, s"$dir/lineitem.parquet")
  def documents(s: SparkSession, dir: String): DataFrame = pq(s, s"$dir/documents.parquet")
  def embeddings(s: SparkSession, dir: String): DataFrame = pq(s, s"$dir/embeddings.parquet")

  /** The on-disk encoding of `events.ts` has changed across testdata
    * regenerations (INT64 TIMESTAMP(NANOS) → plain timestamp[us] on
    * 2026-08-13), so the loader is schema-adaptive: it inspects the
    * footer-derived type and normalizes to a session-TZ (UTC)
    * TimestampType with microsecond values either way. Only a footer
    * that stores `ts` as NANOS needs nanosAsLong, and only then is it
    * set on the session (the scan reads with it); a timestamp[us] file
    * leaves the session conf untouched.
    */
  def events(s: SparkSession, dir: String): DataFrame = {
    val path = s"$dir/events.parquet"
    if (footerFacts(s, path).nanosColumns("ts"))
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeEventsTs(pq(s, path))
  }

  /** Hash-repartition `df` to `defaultParallelism` — but ONLY when its
    * current plan yields fewer partitions than that. Heavy per-row map
    * work (tokenize/shingle/hash/sort, MinHash, image codecs) placed
    * directly over a scan inherits the SCAN's parallelism, and a small
    * single-row-group parquet file is ONE task however many cores exist
    * (guide §2.5 input skew: repartition right after the read). On a
    * production table the scan is already wide, the guard sees
    * partitions >= cores, and this is a no-op — the exchange is never
    * paid where it cannot help. Hash (not round-robin) on `key` keeps
    * the row→partition mapping deterministic under retries.
    */
  def fanOutIfNarrow(df: DataFrame, key: String): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < target) df.repartition(target, col(key))
    else df
  }

  /** Normalize an events-shaped frame so `ts` is TimestampType (µs,
    * session TZ = UTC) regardless of how the parquet encoded it:
    *  - LongType      → raw ns read under nanosAsLong; integer DIV 1000
    *    (not `/`: ns exceed double's 53-bit mantissa, float division is
    *    off by ±1µs on some rows vs DuckDB's truncation) → µs timestamp.
    *  - TimestampNTZType → µs wall-clock; with the session TZ pinned to
    *    UTC the cast to TimestampType preserves the stored micros.
    *  - TimestampType → already what we want.
    * Shared by the batch loader and the streaming source so a future
    * re-encoding is fixed in exactly one place.
    */
  def normalizeEventsTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types._
    df.schema("ts").dataType match {
      case LongType         => df.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType    => df
      case other => throw new IllegalStateException(
        s"events.ts has unsupported parquet-derived type $other — " +
          "extend Tables.normalizeEventsTs for the new encoding")
    }
  }

  /** Exact-decimal money arithmetic. All money/quantity columns in the
    * testdata carry ≤2 decimals (verified), so this cast is lossless and
    * sums/products computed in DecimalType are bit-identical between Spark
    * and DuckDB — immune to double summation-order and round-half ties.
    * Cast aggregate results back to double for a stable output type.
    */
  def dec2(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    c.cast("decimal(18,2)")
}
