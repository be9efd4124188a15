package graft.lake

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SQLContext, SaveMode}
import org.apache.spark.sql.sources.{BaseRelation,
  CreatableRelationProvider, DataSourceRegister, RelationProvider}

/** `spark.read.format("graft.lake").load(path)` — the generic-reader
  * surface over [[LakeTable]]. Resolves to the same
  * [[LakeFileIndex]]-backed relation as [[LakeTable.scan]], so
  * manifest-stats file pruning and manifest-size split planning apply
  * to format-string readers and `CREATE TABLE ... USING graft.lake`
  * alike — no programmatic API required. Options:
  *
  *   - `version` (optional): time travel to that commit; defaults to
  *     the current snapshot.
  */
class DefaultSource extends RelationProvider
    with CreatableRelationProvider with DataSourceRegister {

  override def shortName(): String = "graft-lake"

  // SQL DDL (CREATE TABLE ... USING graft.lake) hands the path
  // catalog-qualified ("file:/..."); LakeTable addresses the local
  // filesystem directly, so strip the scheme.
  private def localPath(p: String): String =
    if (p.startsWith("file:")) new java.net.URI(p).getPath else p

  /** `df.write.format("graft.lake").mode(...).save(path)`. A first
    * write creates the table (option `statsCols`, comma-separated,
    * selects the pruning-stats columns); on an existing table Append
    * and Overwrite map to the corresponding atomic lake commits.
    */
  override def createRelation(sqlContext: SQLContext, mode: SaveMode,
      parameters: Map[String, String], data: DataFrame): BaseRelation = {
    val path = localPath(parameters.getOrElse("path",
      throw new IllegalArgumentException("graft.lake writes require a path")))
    val exists =
      Files.exists(Paths.get(path, LakeTable.LogDir)) &&
        new java.io.File(s"$path/${LakeTable.LogDir}").list() != null &&
        new java.io.File(s"$path/${LakeTable.LogDir}")
          .list().exists(_.endsWith(".manifest"))
    def colList(key: String): Seq[String] = parameters.get(key)
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq.empty)
    val statsCols = colList("statsCols")
    val partitionBy = colList("partitionBy")
    val spark = sqlContext.sparkSession
    if (!exists) {
      LakeTable.create(spark, path, data, statsCols, partitionBy)
    } else mode match {
      case SaveMode.Append => LakeTable.forPath(spark, path).append(data)
      case SaveMode.Overwrite => LakeTable.forPath(spark, path).overwrite(data)
      case SaveMode.Ignore => ()
      case SaveMode.ErrorIfExists =>
        throw new IllegalStateException(s"lake table already exists: $path")
    }
    createRelation(sqlContext, parameters)
  }

  override def createRelation(sqlContext: SQLContext,
      parameters: Map[String, String]): BaseRelation = {
    val path = localPath(parameters.getOrElse("path",
      throw new IllegalArgumentException(
        "graft.lake reads require a path: spark.read.format(\"graft.lake\").load(path)")))
    val spark = sqlContext.sparkSession
    val t = LakeTable.forPath(spark, path)
    val version = parameters.get("version").map(_.toInt)
      .getOrElse(t.currentVersion)
    val m = t.manifest(version)
    if (m.plainParquet)
      new LakeFileIndex(spark, path, m).relation
    else
      // deletion vectors present (the plain file relation would
      // resurrect masked rows) or renamed columns (the files store
      // physical names): serve the scanVersion plan through a
      // PrunedFilteredScan — pushed filters are re-applied as Columns
      // on scanVersion, where they still reach LakeFileIndex for
      // manifest-stats file skipping
      new DvMaskedRelation(sqlContext, t, version)
  }
}

/** Format-reader relation over a snapshot that carries deletion
  * vectors: delegates to [[LakeTable.scanVersion]] (index-planned scan
  * + the per-row DV bitmap filter) and forwards the pushed column prunes and filters
  * into it, so file skipping survives this fallback path. Unsupported
  * filter shapes are simply not forwarded — Spark re-evaluates every
  * filter above the relation, so this stays exact (the
  * PrunedFilteredScan contract).
  */
private[lake] class DvMaskedRelation(ctx: SQLContext, t: LakeTable,
    version: Int) extends BaseRelation
    with org.apache.spark.sql.sources.PrunedFilteredScan {
  import org.apache.spark.sql.Row
  import org.apache.spark.sql.sources._

  private[lake] def tablePath: String = t.path

  override def sqlContext: SQLContext = ctx

  override val schema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.DataType
      .fromJson(t.manifest(version).schemaJson)
      .asInstanceOf[org.apache.spark.sql.types.StructType]

  override def buildScan(requiredColumns: Array[String],
      filters: Array[Filter]): org.apache.spark.rdd.RDD[Row] =
    LakeFilters.scanRows(t, version, requiredColumns.toSeq, filters.toSeq)
}
