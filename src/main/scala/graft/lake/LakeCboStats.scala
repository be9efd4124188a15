package graft.lake

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.catalog.{CatalogColumnStat, CatalogStatistics}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Surfaces lake-manifest statistics to the cost-based optimizer: a
  * session-catalog lake table (`CREATE TABLE ... USING graft.lake`)
  * plans through a [[LogicalRelation]] whose `CatalogTable` carries no
  * stats, so the CBO sees only `FileIndex.sizeInBytes` — good enough to
  * broadcast a small dim, blind to everything else. This rule copies
  * the manifest's exact knowledge into `CatalogStatistics` right before
  * planning:
  *
  *  - `rowCount` = Σ(file rows − deletion-vector-masked rows) — exact,
  *    no scan;
  *  - per-column min/max for every integral stats column (the same
  *    per-file bounds that drive manifest file pruning, folded to table
  *    level), plus truncated string bounds (min is exact-or-lower, max
  *    is exact-or-higher — safe for estimation);
  *  - an ndv UPPER BOUND for integral columns, min(rowCount,
  *    max−min+1) — enough for equality-selectivity estimates to be sane
  *    without an HLL pass.
  *
  * With `spark.sql.cbo.enabled`, FilterEstimation then interpolates
  * range predicates against these bounds: a fact table filtered to a
  * narrow key range gets a realistically small size estimate and
  * BROADCASTS UNHINTED where the size-only estimate would have planned
  * a sort-merge join. At 100 TB this is the difference between
  * shuffling a petabyte fact once per dim join and shipping the pruned
  * slice — and the estimate costs zero I/O because the manifest already
  * holds the numbers. ANALYZE-provided stats win if present (the rule
  * only fills the gap).
  */
case class LakeCboStatsRule(spark: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case lr: LogicalRelation if lr.catalogTable.exists(_.stats.isEmpty) &&
        lr.relation.isInstanceOf[HadoopFsRelation] &&
        lr.relation.asInstanceOf[HadoopFsRelation].location.isInstanceOf[LakeFileIndex] =>
      val idx = lr.relation.asInstanceOf[HadoopFsRelation].location
        .asInstanceOf[LakeFileIndex]
      val ct = lr.catalogTable.get
      lr.copy(catalogTable =
        Some(ct.copy(stats = Some(LakeCboStatsRule.statsOf(idx)))))
  }
}

object LakeCboStatsRule {

  /** Spec hook: the statistics the rule would attach for `t`'s current
    * snapshot (tests live outside this package and cannot build the
    * private file index themselves).
    */
  def statsOfForTest(spark: SparkSession, t: LakeTable): CatalogStatistics =
    statsOf(new LakeFileIndex(spark, t.path, t.manifest(t.currentVersion)))

  /** Fold the manifest's per-file stats to table-level
    * CatalogStatistics. Pure manifest arithmetic — no file I/O, no
    * Spark job (the HLL union runs on the driver via the DataSketches
    * heap API; sketches are ~128 B each).
    */
  private[lake] def statsOf(idx: LakeFileIndex): CatalogStatistics = {
    val m = idx.manifestSnapshot
    val rowCount = m.files.map(_.liveCount).sum
    val schema = m.schema
    // real ndv (HLL-union) and null counts, shared with statsReport —
    // None when any file predates the recording; ndv callers fall back
    // to the range upper bound (integrals) / rowCount (strings).
    def hllNdv(phys: String): Option[Long] = LakeTable.manifestNdv(m, phys)
    def nullsOf(phys: String): Option[Long] = LakeTable.manifestNulls(m, phys)
    val colStats: Map[String, CatalogColumnStat] = m.statsCols.flatMap { c =>
      val phys = m.physOf(c)
      val dt = schema.find(_.name == c).map(_.dataType)
      val longBounds: Option[(Long, Long)] =
        if (m.files.nonEmpty && m.files.forall(_.stats.contains(phys)))
          Some((m.files.map(_.stats(phys)._1).min, m.files.map(_.stats(phys)._2).max))
        else None
      dt match {
        case Some(t) if LakeTable.isIntegral(t) && longBounds.isDefined =>
          val (lo, hi) = longBounds.get
          val ndv = hllNdv(phys)
            .getOrElse(math.min(rowCount, hi - lo + 1))
            .min(rowCount).max(1L)
          Some(c -> CatalogColumnStat(
            distinctCount = Some(BigInt(ndv)),
            min = Some(lo.toString), max = Some(hi.toString),
            nullCount = nullsOf(phys).map(BigInt(_)),
            avgLen = Some(8L), maxLen = Some(8L)))
        case Some(org.apache.spark.sql.types.StringType) =>
          // string equality/IN estimates need only ndv (no bounds are
          // shipped — the manifest's truncated min/max are for file
          // pruning, not estimation); the sketch replaces the rowCount
          // upper bound that made every string key look unique
          Some(c -> CatalogColumnStat(
            distinctCount = Some(BigInt(
              hllNdv(phys).getOrElse(rowCount).min(rowCount).max(1L))),
            min = None, max = None,
            nullCount = nullsOf(phys).map(BigInt(_)),
            avgLen = Some(16L), maxLen = None))
        case _ => None
      }
    }.toMap
    CatalogStatistics(
      sizeInBytes = BigInt(idx.sizeInBytes),
      rowCount = Some(BigInt(rowCount)),
      colStats = colStats)
  }
}
