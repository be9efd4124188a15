package graft.lake

import java.io.File

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, Cast,
  EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, LessThan,
  LessThanOrEqual, Literal, StartsWith}
import org.apache.spark.sql.execution.datasources.{FileIndex,
  HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{ByteType, DataType, DateType, IntegerType,
  LongType, ShortType, StringType, StructType, TimestampType}

/** Catalyst-integrated scan path for [[LakeTable]]: a
  * [[org.apache.spark.sql.execution.datasources.FileIndex]] whose
  * `listFiles` prunes the manifest's file list with the per-file
  * [min,max] column stats — so a plain `.filter()` on a scan skips
  * non-overlapping files INSIDE the planner, with no special read API.
  *
  * This is the piece that turns the manual `prunedRead(col, lo, hi)`
  * contract into ordinary Spark: `FileSourceScanExec` hands every scan's
  * pushed data filters to its FileIndex before planning splits, we
  * translate the integral-comparison conjuncts into per-column bounds
  * and drop manifest entries that cannot overlap. Pruning is
  * conservative (unsupported predicates / columns without stats keep
  * the file) and purely I/O-level — Spark still evaluates the full
  * residual filter on the rows that are read, and the parquet reader
  * still gets the same predicates for row-group pushdown, so answers
  * are exact by construction. At 100 TB the win is the usual lakehouse
  * one: a point/range query opens the overlapping handful of files,
  * driven entirely by manifest metadata (no footer reads, no listing),
  * and split planning uses the manifest-recorded byte sizes so the
  * driver never stats data files.
  */
class LakeFileIndex private[lake] (sparkSession: SparkSession,
    private[lake] val tablePath: String, m: Manifest) extends FileIndex {

  /** The planned snapshot's manifest — read by [[LakeCboStatsRule]] to
    * surface rowCount and per-column bounds to the optimizer.
    */
  private[lake] def manifestSnapshot: Manifest = m

  // the index plans what the FILES store: PHYSICAL field names (stable
  // across renames under column mapping); [[LakeTable.rowsOf]] aliases
  // the logical names on top. Stats are keyed physically too,
  // so pushed filters (which reference the relation's physical attrs)
  // line up with the bounds with no translation.
  private val schema: StructType = m.physSchema
  private val statsCols: Set[String] = m.statsCols.map(m.physOf).toSet

  override def rootPaths: Seq[Path] = Seq(new Path(tablePath))

  override def partitionSchema: StructType = StructType(Nil)

  /** Manifest-recorded sizes; a 0 (pre-upgrade entry) falls back to a
    * one-time local stat.
    */
  override def sizeInBytes: Long = m.files.map(sizeOf).sum

  override def inputFiles: Array[String] =
    m.files.map(f => s"$tablePath/${f.name}").toArray

  override def refresh(): Unit = ()

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val bounds = LakeFileIndex.boundsOf(dataFilters, statsCols)
    val strBounds = LakeFileIndex.strBoundsOf(dataFilters, statsCols)
    val kept =
      if (bounds.isEmpty && strBounds.isEmpty) m.files
      else m.files.filter { f =>
        bounds.forall { case (c, (lo, hi)) => f.overlaps(c, lo, hi) } &&
          strBounds.forall { case (c, (lo, hi)) => f.strOverlaps(c, lo, hi) }
      }
    Seq(PartitionDirectory(InternalRow.empty, kept.map(status).toArray))
  }

  private def sizeOf(f: FileEntry): Long =
    if (f.bytes > 0) f.bytes else new File(tablePath, f.name).length()

  private def status(f: FileEntry): FileStatus =
    new FileStatus(sizeOf(f), false, 1, 128L * 1024 * 1024, 0L,
      new Path(s"$tablePath/${f.name}"))

  /** The snapshot as a Spark-plannable relation over this index. For a
    * bucketed table the relation carries the manifest's BucketSpec (the
    * files follow Spark's bucket naming and hash, enforced at staging),
    * so scans report HashPartitioning(bucketBy, n): equal-bucketed
    * joins plan with NO exchange and bucket-column filters prune
    * buckets inside the scan.
    */
  private[lake] def relation: HadoopFsRelation =
    HadoopFsRelation(
      location = this,
      partitionSchema = StructType(Nil),
      dataSchema = schema,
      bucketSpec =
        if (m.bucketBy.isEmpty) None
        else Some(org.apache.spark.sql.catalyst.catalog.BucketSpec(
          m.buckets, m.bucketBy.map(m.physOf), Nil)),
      fileFormat = new ParquetFileFormat,
      options = Map.empty)(sparkSession)

  /** The snapshot as a DataFrame planned through this index. Every
    * column reads as nullable, as Spark's own file reads do: the
    * manifest schema's NOT NULL is not enforced on the rows the files
    * hold (an append or merge of a nullable frame can carry NULLs into
    * such a column), so the optimizer must not fold null checks away.
    */
  private[lake] def toDataFrame: DataFrame =
    sparkSession.baseRelationToDataFrame(relation.copy(dataSchema =
      StructType(schema.fields.map(_.copy(nullable = true))))(sparkSession))
}

private[lake] object LakeFileIndex {

  /** Resolve a user-facing Column predicate to a catalyst Expression by
    * analyzing a throwaway `filter` over `df` (planning only — nothing
    * runs). Needed because Spark 4 Columns carry ColumnNode trees, not
    * catalyst expressions, until the analyzer touches them.
    */
  def resolvedCondition(df: DataFrame,
      cond: org.apache.spark.sql.Column): Option[Expression] =
    df.filter(cond).queryExecution.analyzed.collectFirst {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
        f.condition
    }

  /** Per-column inclusive [lo, hi] bounds implied by the conjunction of
    * `filters`, restricted to bare (or integrally-cast) attributes with
    * manifest stats compared against integral literals. Anything else
    * contributes no bound — pruning stays conservative. Strict
    * comparisons are widened to inclusive bounds; [[FileEntry.overlaps]]
    * is inclusive anyway and the residual filter restores exactness.
    */
  def boundsOf(filters: Seq[Expression],
      statsCols: Set[String]): Map[String, (Long, Long)] = {
    val perCol = filters.flatMap(conjuncts).flatMap(boundOf(_, statsCols))
    perCol.groupBy(_._1).map { case (c, bs) =>
      val los = bs.map(_._2._1)
      val his = bs.map(_._2._2)
      c -> (los.max, his.min)
    }
  }

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case other => Seq(other)
  }

  /** String twin of [[boundsOf]]: per-column [lo, hi] bounds (either
    * side optional = unbounded) in UTF-8 binary order, from string
    * comparison conjuncts over stats columns. `col LIKE 'p%'`
    * (StartsWith) becomes the range [p, bump(p)) — the prefix scan the
    * doc-id/source/lang filters of a corpus pipeline actually issue.
    */
  def strBoundsOf(filters: Seq[Expression], statsCols: Set[String])
      : Map[String, (Option[String], Option[String])] = {
    val perCol = filters.flatMap(conjuncts).flatMap(strBoundOf(_, statsCols))
    perCol.groupBy(_._1).map { case (c, bs) =>
      val los = bs.flatMap(_._2._1)
      val his = bs.flatMap(_._2._2)
      c -> ((if (los.isEmpty) None else Some(los.max(utf8Ord)),
        if (his.isEmpty) None else Some(his.min(utf8Ord))))
    }
  }

  private val utf8Ord: Ordering[String] =
    (a: String, b: String) => LakeTable.utf8Cmp(a, b)

  private def strBoundOf(e: Expression, statsCols: Set[String])
      : Option[(String, (Option[String], Option[String]))] = {
    val SA = new StrStatsAttr(statsCols)
    e match {
      case EqualTo(SA(c), StringLit(v)) => Some(c -> ((Some(v), Some(v))))
      case EqualTo(StringLit(v), SA(c)) => Some(c -> ((Some(v), Some(v))))
      case GreaterThan(SA(c), StringLit(v)) => Some(c -> ((Some(v), None)))
      case GreaterThanOrEqual(SA(c), StringLit(v)) => Some(c -> ((Some(v), None)))
      case LessThan(SA(c), StringLit(v)) => Some(c -> ((None, Some(v))))
      case LessThanOrEqual(SA(c), StringLit(v)) => Some(c -> ((None, Some(v))))
      case GreaterThan(StringLit(v), SA(c)) => Some(c -> ((None, Some(v))))
      case GreaterThanOrEqual(StringLit(v), SA(c)) => Some(c -> ((None, Some(v))))
      case LessThan(StringLit(v), SA(c)) => Some(c -> ((Some(v), None)))
      case LessThanOrEqual(StringLit(v), SA(c)) => Some(c -> ((Some(v), None)))
      case StartsWith(SA(c), StringLit(v)) =>
        Some(c -> ((Some(v), LakeTable.prefixUpper(v))))
      case In(SA(c), vs) if vs.nonEmpty =>
        val strs = vs.map {
          case StringLit(v) => v
          case _ => return None
        }
        Some(c -> ((Some(strs.min(utf8Ord)), Some(strs.max(utf8Ord)))))
      case _ => None
    }
  }

  /** Bare string attribute whose name has manifest stats — no cast
    * stripping here: any cast around a string column changes the value
    * domain, so bounds only derive from direct comparisons.
    */
  private class StrStatsAttr(statsCols: Set[String]) {
    def unapply(e: Expression): Option[String] = e match {
      case a: Attribute if a.resolved && a.dataType == StringType &&
          statsCols(a.name) => Some(a.name)
      case _ => None
    }
  }

  private object StringLit {
    def unapply(e: Expression): Option[String] = e match {
      case Literal(v: org.apache.spark.unsafe.types.UTF8String, StringType) =>
        Some(v.toString)
      case _ => None
    }
  }

  private def boundOf(e: Expression,
      statsCols: Set[String]): Option[(String, (Long, Long))] = {
    val SA = new StatsAttr(statsCols)
    e match {
      case EqualTo(SA(c), IntegralLit(v)) => Some(c -> (v, v))
      case EqualTo(IntegralLit(v), SA(c)) => Some(c -> (v, v))
      case GreaterThan(SA(c), IntegralLit(v)) => Some(c -> (v, Long.MaxValue))
      case GreaterThanOrEqual(SA(c), IntegralLit(v)) =>
        Some(c -> (v, Long.MaxValue))
      case LessThan(SA(c), IntegralLit(v)) => Some(c -> (Long.MinValue, v))
      case LessThanOrEqual(SA(c), IntegralLit(v)) =>
        Some(c -> (Long.MinValue, v))
      case GreaterThan(IntegralLit(v), SA(c)) => Some(c -> (Long.MinValue, v))
      case GreaterThanOrEqual(IntegralLit(v), SA(c)) =>
        Some(c -> (Long.MinValue, v))
      case LessThan(IntegralLit(v), SA(c)) => Some(c -> (v, Long.MaxValue))
      case LessThanOrEqual(IntegralLit(v), SA(c)) =>
        Some(c -> (v, Long.MaxValue))
      case In(SA(c), vs) if vs.nonEmpty =>
        val longs = vs.map {
          case IntegralLit(v) => v
          case _ => return None
        }
        Some(c -> (longs.min, longs.max))
      case _ => None
    }
  }

  /** Bare attribute, or an integral widening cast of one, whose name has
    * manifest stats. Widening casts are exact on longs, so the recorded
    * long [min,max] bounds stay valid.
    */
  private class StatsAttr(statsCols: Set[String]) {
    def unapply(e: Expression): Option[String] = stripCast(e) match {
      case a: Attribute if statsCols(a.name) => Some(a.name)
      case _ => None
    }
  }

  // `child.resolved` guards the dataType access: deleteWhere feeds
  // UNRESOLVED Column expressions through boundsOf, and an unresolved
  // attribute has no dataType to inspect (casts just stay unstripped
  // there — conservative). Only WIDENING casts are stripped: a
  // narrowing CAST(longCol AS INT) wraps on overflow, so a row with
  // longCol = 2^32+5 satisfies `cast < 10` while its file's long
  // [min,max] sits entirely above the derived bound — stripping the
  // cast there would prune a file that holds matching rows.
  private def stripCast(e: Expression): Expression = e match {
    case Cast(child, t, _, _)
        if isIntegral(t) && child.resolved && isIntegral(child.dataType) &&
          integralWidth(child.dataType) <= integralWidth(t) =>
      stripCast(child)
    case other => other
  }

  private def isIntegral(t: DataType): Boolean = t match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  private def integralWidth(t: DataType): Int = t match {
    case ByteType => 1
    case ShortType => 2
    case IntegerType => 4
    case LongType => 8
    case _ => Int.MaxValue
  }

  /** A literal whose long encoding matches the manifest stats: plain
    * integrals, TIMESTAMP literals (epoch micros — exactly what
    * Catalyst stores), and DATE literals (epoch days). The stats side
    * records the same encodings ([[LakeTable.statLong]]), so `ts >=
    * TIMESTAMP'...'` prunes files straight off the manifest.
    */
  private object IntegralLit {
    def unapply(e: Expression): Option[Long] = e match {
      case Literal(v: Byte, _) => Some(v.toLong)
      case Literal(v: Short, _) => Some(v.toLong)
      case Literal(v: Int, _) => Some(v.toLong)
      case Literal(v: Long, _) => Some(v)
      // analyzed-but-unoptimized predicates carry coercion casts around
      // literals (e.g. CAST(10 AS BIGINT), CAST('2024-01-01' AS
      // TIMESTAMP)); fold them here
      case c: Cast if c.resolved && c.foldable &&
          (isIntegral(c.dataType) || c.dataType == TimestampType ||
            c.dataType == DateType) =>
        c.eval(null) match {
          case v: Byte => Some(v.toLong)
          case v: Short => Some(v.toLong)
          case v: Int => Some(v.toLong)
          case v: Long => Some(v)
          case _ => None
        }
      case _ => None
    }
  }
}
