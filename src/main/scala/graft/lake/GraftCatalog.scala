package graft.lake

import java.nio.file.{Files, Paths}
import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession, SQLContext, functions => F}
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{Column => V2Column, _}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns, V1Scan}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsDynamicOverwrite, SupportsOverwrite, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.graftbridge.LakeReadBridge
import org.apache.spark.sql.sources.{BaseRelation, Filter, InsertableRelation, TableScan}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSource V2 `TableCatalog` over graft.lake tables — the native
  * multi-catalog integration (the same architecture Delta/Iceberg ship):
  *
  * {{{
  *   spark.conf.set("spark.sql.catalog.graft", "graft.lake.GraftCatalog")
  *   spark.conf.set("spark.sql.catalog.graft.warehouse", "/data/lake")
  *   spark.sql("CREATE TABLE graft.ns.t (k BIGINT, v STRING)")
  *   df.writeTo("graft.ns.t").append()            // DataFrameWriterV2
  *   spark.sql("DELETE FROM graft.ns.t WHERE k < 0")   // native SupportsDelete
  *   spark.sql("SELECT * FROM graft.ns.t VERSION AS OF 2") // native time travel
  * }}}
  *
  * Identifiers map to directories: `warehouse/<ns...>/<table>`; a table
  * is any directory holding a lake commit log. What resolves natively
  * on this path (vs the v1 post-hoc-rule path in [[LakeDmlRule]], which
  * stays as the fallback for session-catalog `USING graft.lake` tables):
  *
  *  - reads plan through Spark's own v2 ParquetScan over the manifest
  *    index (vectorized, pushdown, manifest-stats pruning — see
  *    [[LakeReadBridge]]); snapshots carrying deletion vectors or column
  *    renames fall back to a [[V1Scan]] over the DV-masking scan, so
  *    every snapshot stays readable;
  *  - `INSERT INTO` / `INSERT OVERWRITE` / DataFrameWriterV2
  *    create/append/overwrite ride a [[V1Write]] into the lake's atomic
  *    append/overwrite commits;
  *  - `DELETE FROM` resolves through [[SupportsDelete]] — no rewrite
  *    rule involved;
  *  - `VERSION AS OF` resolves through `loadTable(ident, version)` —
  *    no hint-batch rule involved;
  *  - UPDATE / MERGE still rewrite via [[LakeDmlRule]] (extended to
  *    recognize v2 relations): Spark requires SupportsRowLevelOperations
  *    for a native plan, and the lake's copy-on-write mutations are
  *    exactly what that rewrite would produce — the rule is the
  *    documented fallback until a group-based row-level-op
  *    implementation lands.
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces {

  private var catalogName: String = _
  private var warehouse: String = _

  private def spark: SparkSession = SparkSession.active

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Option(options.get("warehouse")).getOrElse(
      throw new IllegalArgumentException(
        s"catalog $name requires spark.sql.catalog.$name.warehouse"))
  }

  override def name(): String = catalogName

  private def tableDir(ident: Identifier): String =
    (warehouse +: (ident.namespace() :+ ident.name()).toSeq).mkString("/")

  private def isLakeTable(dir: String): Boolean =
    Files.isDirectory(Paths.get(dir, LakeTable.LogDir)) &&
      Option(new java.io.File(s"$dir/${LakeTable.LogDir}").list())
        .exists(_.exists(_.endsWith(".manifest")))

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = (warehouse +: namespace.toSeq).mkString("/")
    val d = new java.io.File(dir)
    if (!d.isDirectory) throw new NoSuchNamespaceException(namespace)
    d.listFiles().filter(f => isLakeTable(f.getPath))
      .map(f => Identifier.of(namespace, f.getName))
  }

  override def loadTable(ident: Identifier): Table = {
    val dir = tableDir(ident)
    if (!isLakeTable(dir)) throw new NoSuchTableException(ident)
    new LakeDsv2Table(spark, dir, None, ident)
  }

  /** Native SQL time travel: `VERSION AS OF v` resolves here. A
    * non-integer version (or TIMESTAMP AS OF falling through as a
    * string) must surface as a clear unsupported-time-travel error,
    * not a raw NumberFormatException.
    */
  override def loadTable(ident: Identifier, version: String): Table = {
    val dir = tableDir(ident)
    if (!isLakeTable(dir)) throw new NoSuchTableException(ident)
    val v = version.toIntOption.getOrElse(throw new UnsupportedOperationException(
      s"graft.lake time travel takes an integer version (VERSION AS OF <n>), " +
        s"got '$version' — TIMESTAMP AS OF is not supported"))
    new LakeDsv2Table(spark, dir, Some(v), ident)
  }

  /** `TIMESTAMP AS OF` arrives as micros on this overload. Without it,
    * Spark's default surfaces TABLE_OR_VIEW_NOT_FOUND for a table that
    * plainly exists — throw the honest unsupported error instead.
    */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val dir = tableDir(ident)
    if (!isLakeTable(dir)) throw new NoSuchTableException(ident)
    throw new UnsupportedOperationException(
      "graft.lake time travel takes an integer version (VERSION AS OF <n>); " +
        "TIMESTAMP AS OF is not supported")
  }

  override def createTable(ident: Identifier, columns: Array[V2Column],
      partitions: Array[Transform], properties: util.Map[String, String]): Table =
    createTable(ident,
      StructType(columns.toSeq.map(c =>
        org.apache.spark.sql.types.StructField(c.name, c.dataType, c.nullable))),
      partitions, properties)

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): Table = {
    val dir = Option(properties.get(TableCatalog.PROP_LOCATION))
      .map(stripFileScheme).getOrElse(tableDir(ident))
    if (isLakeTable(dir)) throw new TableAlreadyExistsException(ident)
    val partitionBy = partitions.toSeq.map { tr =>
      if (tr.name == "identity" && tr.references().length == 1)
        tr.references()(0).fieldNames().mkString(".")
      else throw new UnsupportedOperationException(
        s"graft.lake supports identity partition transforms only, got $tr")
    }
    val statsCols = Option(properties.get("statsCols")).toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    Files.createDirectories(Paths.get(dir).getParent)
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    LakeTable.create(spark, dir, empty, statsCols, partitionBy)
    new LakeDsv2Table(spark, dir, None, ident)
  }

  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val dir = tableDir(ident)
    if (!isLakeTable(dir)) throw new NoSuchTableException(ident)
    val adds = changes.collect { case a: TableChange.AddColumn => a }
    if (adds.size != changes.size)
      throw new UnsupportedOperationException(
        "ALTER TABLE on graft.lake catalog tables supports ADD COLUMNS only; " +
          "use the LakeTable API for renameColumn / addCheck / setPartitionBy")
    adds.foreach { a =>
      if (a.fieldNames().length != 1)
        throw new UnsupportedOperationException(
          s"nested ADD COLUMN is not supported: ${a.fieldNames().mkString(".")}")
    }
    // metadata-only schema-evolution commit: zero data files touched,
    // reads null-backfill the new columns on existing files
    LakeTable.forPath(spark, dir).addColumns(StructType(adds.map(a =>
      org.apache.spark.sql.types.StructField(
        a.fieldNames()(0), a.dataType(), nullable = true))))
    new LakeDsv2Table(spark, dir, None, ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val dir = tableDir(ident)
    if (!isLakeTable(dir)) return false
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete(); ()
    }
    rm(new java.io.File(dir))
    true
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    val from = tableDir(oldIdent)
    if (!isLakeTable(from)) throw new NoSuchTableException(oldIdent)
    val to = tableDir(newIdent)
    if (isLakeTable(to)) throw new TableAlreadyExistsException(newIdent)
    Files.createDirectories(Paths.get(to).getParent)
    Files.move(Paths.get(from), Paths.get(to))
    ()
  }

  override def tableExists(ident: Identifier): Boolean =
    isLakeTable(tableDir(ident))

  // ---- namespaces: plain directories under the warehouse ----

  override def listNamespaces(): Array[Array[String]] = {
    val d = new java.io.File(warehouse)
    Option(d.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && !isLakeTable(f.getPath))
      .map(f => Array(f.getName))
  }

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] = {
    if (namespace.isEmpty) return listNamespaces()
    val dir = (warehouse +: namespace.toSeq).mkString("/")
    val d = new java.io.File(dir)
    if (!d.isDirectory) throw new NoSuchNamespaceException(namespace)
    Option(d.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && !isLakeTable(f.getPath))
      .map(f => namespace :+ f.getName)
  }

  override def namespaceExists(namespace: Array[String]): Boolean =
    Files.isDirectory(Paths.get((warehouse +: namespace.toSeq).mkString("/")))

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    Map.empty[String, String].asJava
  }

  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit = {
    Files.createDirectories(Paths.get((warehouse +: namespace.toSeq).mkString("/")))
    ()
  }

  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("ALTER NAMESPACE is not supported")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    val dir = (warehouse +: namespace.toSeq).mkString("/")
    val d = new java.io.File(dir)
    if (!d.isDirectory) return false
    if (!cascade && Option(d.list()).exists(_.nonEmpty))
      throw new IllegalStateException(s"namespace $dir is not empty")
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete(); ()
    }
    rm(d)
    true
  }

  private def stripFileScheme(p: String): String =
    if (p.startsWith("file:")) new java.net.URI(p).getPath else p
}

/** The DSv2 table a [[GraftCatalog]] resolves: one immutable snapshot
  * (current, or pinned by time travel). Reads, writes and DELETE are
  * native v2; see the catalog Scaladoc for the exact split.
  */
private[lake] class LakeDsv2Table(spark: SparkSession,
    private[lake] val tablePath: String, pinned: Option[Int],
    ident: Identifier) extends Table
    with SupportsRead with SupportsWrite with SupportsDelete {

  private[lake] lazy val t = LakeTable.forPath(spark, tablePath)
  private lazy val snapVersion: Int = pinned.getOrElse(t.currentVersion)
  private lazy val m: Manifest = t.manifest(snapVersion)

  override def name(): String = ident.toString

  override def schema(): StructType = m.schema

  // append / truncate / filtered overwrite ride the V1 bridge (their
  // Write objects ARE V1Writes, so planning picks the V1 execs even
  // with BATCH_WRITE advertised); dynamic partition overwrite is the
  // one mode Spark serves ONLY through a full v2 BATCH_WRITE, so a
  // clean (identity-mapped, unbucketed) snapshot advertises
  // OVERWRITE_DYNAMIC and plans the native [[LakeDynamicWrite]] —
  // renamed/bucketed snapshots keep the LakeDmlRule rewrite fallback
  // (LakeSqlDml), which is why the capability is conditional: an
  // advertised-but-unservable capability would pass analysis and fail
  // in planning, the round-12 capability class of error.
  override def capabilities(): util.Set[TableCapability] = {
    val caps = util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.OVERWRITE_BY_FILTER)
    if (m.physNames.isEmpty && m.bucketBy.isEmpty) {
      caps.add(TableCapability.BATCH_WRITE)
      caps.add(TableCapability.OVERWRITE_DYNAMIC)
    }
    caps
  }

  override def properties(): util.Map[String, String] =
    Map(TableCatalog.PROP_LOCATION -> tablePath,
      TableCatalog.PROP_PROVIDER -> "graft.lake",
      "version" -> snapVersion.toString).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    if (m.plainParquet)
      // clean snapshot: Spark's own vectorized v2 parquet scan over the
      // manifest index — pushdown + manifest-stats pruning intact
      LakeReadBridge.parquetScanBuilder(spark,
        new LakeFileIndex(spark, tablePath, m), m.schema, options)
    else
      // deletion vectors / renamed columns: V1Scan over the DV-masking
      // snapshot scan (correct for every snapshot; the clean tier is
      // the fast path)
      new LakeV1FallbackScanBuilder(t, snapVersion, m.schema)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new LakeWriteBuilder(spark, t, info.schema())

  // ---- native DELETE FROM (SupportsDelete) ----

  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    filters.forall(f => LakeFilters.toColumn(f).isDefined)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    val cond = filters.flatMap(LakeFilters.toColumn)
      .reduceOption(_ && _).getOrElse(F.lit(true))
    t.deleteWhere(cond)
  }
}

/** V1Write bridge: append / truncate-overwrite / filtered overwrite /
  * dynamic partition overwrite all land as the lake's atomic commits
  * (schema checks, constraints, optimistic concurrency — all the
  * [[LakeTable]] machinery).
  *
  *  - `truncate()` (plain INSERT OVERWRITE) → [[LakeTable.overwrite]];
  *  - `overwrite(filters)` (`df.writeTo(t).overwrite(cond)`) →
  *    [[LakeTable.replaceWhere]] — one atomic delete+insert commit,
  *    filters translated via [[LakeFilters]] (untranslatable shapes are
  *    rejected up front in `canOverwrite`, at ANALYSIS time, instead of
  *    failing later inside V2Writes with a confusing error);
  *  - dynamic partition overwrite (`df.writeTo(t).overwritePartitions()`,
  *    dynamic-mode INSERT OVERWRITE) is the one mode with NO V1
  *    fallback exec: it builds the native [[LakeDynamicWrite]] —
  *    executor-side [[LakeFileWriter]]s write real parquet into a
  *    staging directory and return each file's stats, the driver-side
  *    commit adopts the files (no second write or reread of the new
  *    data) and lands ONE atomic
  *    [[LakeTable.commitDynamicOverwriteStaged]] mutation replacing
  *    exactly the partitions present. The write requests a
  *    partition-clustered, partition-sorted layout and the writer
  *    starts a file per partition value, so each file is
  *    partition-pure (min = max on every partition column) — touched
  *    files replace whole, copy-on-write stays bounded.
  */
private[lake] class LakeWriteBuilder(spark: SparkSession, t: LakeTable,
    writeSchema: StructType)
    extends WriteBuilder with SupportsOverwrite with SupportsDynamicOverwrite {
  private var mode: LakeWriteBuilder.Mode = LakeWriteBuilder.Append

  override def canOverwrite(filters: Array[Filter]): Boolean =
    filters.forall(f => LakeFilters.toColumn(f).isDefined)

  override def truncate(): WriteBuilder = {
    mode = LakeWriteBuilder.Truncate; this
  }

  override def overwriteDynamicPartitions(): WriteBuilder = {
    mode = LakeWriteBuilder.DynamicPartitions; this
  }

  override def overwrite(filters: Array[Filter]): WriteBuilder = {
    // AlwaysTrue (Spark's encoding of a plain INSERT OVERWRITE routed
    // through the filter path) is a truncate, not a filtered rewrite
    mode =
      if (filters.forall(_.isInstanceOf[org.apache.spark.sql.sources.AlwaysTrue]))
        LakeWriteBuilder.Truncate
      else LakeWriteBuilder.ByFilter(filters)
    this
  }

  override def build(): Write = mode match {
    case LakeWriteBuilder.DynamicPartitions =>
      new LakeDynamicWrite(spark, t, writeSchema)
    case _ => new V1Write {
      override def toInsertableRelation: InsertableRelation =
        new InsertableRelation {
          override def insert(data: DataFrame, overwriteFlag: Boolean): Unit =
            mode match {
              case LakeWriteBuilder.ByFilter(filters) =>
                val cond = filters.flatMap(LakeFilters.toColumn)
                  .reduceOption(_ && _).getOrElse(F.lit(true))
                t.replaceWhere(cond, data); ()
              case LakeWriteBuilder.Truncate => t.overwrite(data); ()
              case _ =>
                if (overwriteFlag) { t.overwrite(data); () } else { t.append(data); () }
            }
        }
    }
  }
}

private[lake] object LakeWriteBuilder {
  sealed trait Mode
  case object Append extends Mode
  case object Truncate extends Mode
  case object DynamicPartitions extends Mode
  final case class ByFilter(filters: Array[Filter]) extends Mode
}

/** The native v2 Write and BatchWrite for dynamic partition overwrite.
  * It declares a partition-clustered distribution, sorted by the
  * partition columns within each task, so each executor-side
  * [[LakeFileWriter]] — the writer behind every lake data file — sees
  * every partition value's rows together and writes one file per value
  * (the partition-pure layout that keeps the commit's touched-file set
  * replace-whole at any scale) under `<table>/_staging_<job>/`, and
  * returns each file's stats and partition tuple. The driver commit
  * ADOPTS the files into one atomic dynamic-overwrite mutation: no
  * second write or reread of the new data. A crash before commit
  * leaves only the staging directory, which the next vacuum collects —
  * never a corrupt snapshot.
  */
private[lake] class LakeDynamicWrite(spark: SparkSession, t: LakeTable,
    writeSchema: StructType) extends Write
    with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering
    with org.apache.spark.sql.connector.write.BatchWrite {
  import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
  import org.apache.spark.sql.connector.expressions.{Expression, Expressions,
    SortDirection, SortOrder}
  import org.apache.spark.sql.connector.write.{DataWriterFactory,
    PhysicalWriteInfo, WriterCommitMessage}

  private val m: Manifest = t.manifest(t.currentVersion)
  private val staging = Paths.get(t.path, s"_staging_${LakeFileWriter.newJob()}")
  private def partitionRefs: Seq[Expression] =
    m.partitionBy.map(p => Expressions.identity(p): Expression)

  override def requiredDistribution(): Distribution =
    if (m.partitionBy.isEmpty) Distributions.unspecified()
    else Distributions.clustered(partitionRefs.toArray)

  override def requiredOrdering(): Array[SortOrder] =
    partitionRefs.map(Expressions.sort(_, SortDirection.ASCENDING)).toArray

  override def toBatch: org.apache.spark.sql.connector.write.BatchWrite = this

  // the factory's conf broadcast outlives the write job: released at
  // commit or abort, whichever ends the write
  private var factory: Option[LakeFileWriterFactory] = None

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    val f = LakeFileWriter.factory(spark, staging, writeSchema, m.statsCols, m.partitionBy)
    factory = Some(f)
    f
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    factory.foreach(_.release())
    t.commitDynamicOverwriteStaged(staging,
      messages.toSeq.collect { case w: LakeWriteMessage => w })
    ()
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    factory.foreach(_.release())
    graft.deleteRecursively(staging)
  }
}

/** V1Scan fallback for snapshots the pure-parquet scan cannot serve
  * (deletion vectors to mask by row index, physical column names to
  * re-alias):
  * plans through [[LakeTable.scanVersion]] with pushed prunes/filters
  * forwarded, so manifest-stats file skipping still applies inside the
  * v1 relation. Pushed filters are reported but ALSO left as residual
  * (pushFilters returns its input), so Spark re-evaluates them above
  * the relation — exactness by construction, as in [[DvMaskedRelation]].
  */
private[lake] class LakeV1FallbackScanBuilder(t: LakeTable, version: Int,
    fullSchema: StructType) extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns {

  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = fullSchema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(f => LakeFilters.toColumn(f).isDefined)
    filters // all residual: Spark re-applies every filter above the scan
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan = new V1Scan {
    override def readSchema(): StructType = required

    override def toV1TableScan[T <: BaseRelation with TableScan](
        context: SQLContext): T = {
      val schemaCapture = required
      val filterCapture = pushed
      new BaseRelation with TableScan {
        override def sqlContext: SQLContext = context
        override def schema: StructType = schemaCapture
        override def buildScan(): org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] =
          LakeFilters.scanRows(t, version, schemaCapture.fieldNames.toSeq,
            filterCapture.toSeq)
      }.asInstanceOf[T]
    }
  }
}

/** Shared v1-Filter → Column translation (conservative: None = cannot
  * translate, caller must keep the filter residual or reject).
  */
private[lake] object LakeFilters {
  import org.apache.spark.sql.sources._

  def toColumn(f: Filter): Option[Column] = f match {
    case EqualTo(a, v) => Some(F.col(a) === F.lit(v))
    case GreaterThan(a, v) => Some(F.col(a) > F.lit(v))
    case GreaterThanOrEqual(a, v) => Some(F.col(a) >= F.lit(v))
    case LessThan(a, v) => Some(F.col(a) < F.lit(v))
    case LessThanOrEqual(a, v) => Some(F.col(a) <= F.lit(v))
    case In(a, vs) => Some(F.col(a).isin(vs.toIndexedSeq: _*))
    case IsNull(a) => Some(F.col(a).isNull)
    case IsNotNull(a) => Some(F.col(a).isNotNull)
    case StringStartsWith(a, v) => Some(F.col(a).startsWith(v))
    case And(l, r) =>
      for (lc <- toColumn(l); rc <- toColumn(r)) yield lc && rc
    case Or(l, r) =>
      for (lc <- toColumn(l); rc <- toColumn(r)) yield lc || rc
    case Not(c) => toColumn(c).map(!_)
    case AlwaysTrue() => Some(F.lit(true))
    case AlwaysFalse() => Some(F.lit(false))
    case _ => None
  }

  /** The fallback scan both v1 paths serve ([[DvMaskedRelation]] and
    * [[LakeV1FallbackScanBuilder]]): `version`'s snapshot with the
    * translatable pushed filters applied as Columns — where they still
    * reach [[LakeFileIndex]] for manifest-stats file skipping — and the
    * required columns projected. An empty projection (e.g. count(*))
    * yields genuinely zero-field Rows via `select()`, honoring the
    * pruned-scan contract rather than relying on the row converter
    * ignoring extra fields.
    */
  def scanRows(t: LakeTable, version: Int, columns: Seq[String],
      filters: Seq[Filter]): org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] = {
    val filtered = filters.flatMap(toColumn).foldLeft(t.scanVersion(version))(_.filter(_))
    filtered.select(columns.map(F.col): _*).rdd
  }
}
