package graft.lake

import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference,
  EqualTo, Expression}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.graftbridge.Bridge

/** SQL DML over lake tables: `DELETE FROM` / `UPDATE` / `MERGE INTO`
  * statements on a `CREATE TABLE ... USING graft.lake` table plan into
  * the corresponding [[LakeTable]] mutations — file-pruned copy-on-write
  * with the full ACID/constraint/concurrency machinery — instead of
  * failing checkAnalysis with UNSUPPORTED_FEATURE.TABLE_OPERATION.
  *
  * Mechanics (the classic pre-DSv2 lakehouse integration, the shape
  * Delta used on Spark's v1 path): the analyzer fully RESOLVES the DML
  * plans over a v1 LogicalRelation and only the post-analysis check
  * rejects them, so a post-hoc resolution rule injected via
  * [[graft.plans.GraftExtensions]] intercepts DeleteFromTable /
  * UpdateTable / MergeIntoTable whose target resolves through this
  * format (recognized by the [[LakeFileIndex]] behind the relation) and
  * rewrites them to runnable commands. Resolved attribute references
  * are unbound back to by-name lookups, because the commands re-plan
  * against a fresh snapshot scan at execution time — which is also what
  * makes them serializable-correct under the optimistic-concurrency
  * retry inside the mutations themselves.
  *
  * Supported MERGE shape (anything else gets a clear error, not a
  * silent misplan): `ON target.k = source.k`, optional `WHEN MATCHED
  * AND cond THEN DELETE`, `WHEN MATCHED THEN UPDATE SET *`-style
  * assignments from source columns, `WHEN NOT MATCHED THEN INSERT *`.
  */
case class LakeDmlRule(spark: SparkSession) extends Rule[LogicalPlan] {
  import LakeDmlRule._

  // every case is guarded on the node's `resolved` flag: a partially
  // resolved plan must fall through to checkAnalysis (which surfaces the
  // real resolution error) instead of tripping the AttributeReference
  // pattern matches into a misleading "unsupported shape" exception
  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperators {
    case d @ DeleteFromTable(target, cond) if d.resolved =>
      lakeTarget(target) match {
        case Some(t) => LakeDeleteCommand(t, unbindCol(cond))
        case None => d
      }
    case u @ UpdateTable(target, assignments, cond) if u.resolved =>
      lakeTarget(target) match {
        case Some(t) =>
          val set = assignments.map {
            case Assignment(key: Attribute, value) =>
              key.name -> unbindCol(value)
            case a => throw new IllegalArgumentException(
              s"UPDATE on a graft.lake table supports only column = expr " +
                s"assignments, got $a")
          }.toMap
          LakeUpdateCommand(t, unbindCol(cond.getOrElse(
            org.apache.spark.sql.catalyst.expressions.Literal.TrueLiteral)), set)
        case None => u
      }
    case m: MergeIntoTable if m.resolved && lakeTarget(m.targetTable).isDefined =>
      // the key-equality upsert shape keeps its specialized command
      // (key-range file pruning + range-disjoint concurrent rebase);
      // every other legal MERGE shape routes to the general CoW merge
      try toMergeCommand(m, lakeTarget(m.targetTable).get)
      catch {
        case _: IllegalArgumentException =>
          toGeneralMergeCommand(m, lakeTarget(m.targetTable).get)
      }
    // dynamic partition overwrite (writeTo(...).overwritePartitions(),
    // dynamic-mode INSERT OVERWRITE): a clean catalog snapshot
    // advertises OVERWRITE_DYNAMIC and runs Spark's NATIVE v2
    // BatchWrite ([[LakeDynamicWrite]] — executor-parallel parquet,
    // no second write), so the rewrite SKIPS it; renamed/bucketed
    // snapshots (no native capability) keep this post-hoc route to the
    // lake's atomic replaceWhere on the partitions present in the data
    case o: OverwritePartitionsDynamic
        if o.resolved && lakeTarget(o.table).isDefined &&
          !nativeDynamicOverwrite(o.table) =>
      LakeDynamicOverwriteCommand(lakeTarget(o.table).get, o.query)
  }

  /** Translate ANY resolved MergeIntoTable into the general CoW merge:
    * arbitrary ON, conditioned multi-arm WHEN MATCHED (UPDATE/DELETE),
    * conditioned WHEN NOT MATCHED inserts, WHEN NOT MATCHED BY SOURCE
    * arms. Resolved references unbind to by-name lookups — target
    * columns keep their names, source columns take the `_src_` prefix
    * the joined evaluation frame uses.
    */
  private def toGeneralMergeCommand(m: MergeIntoTable,
      target: LakeDmlTarget): LogicalPlan = {
    def fail(why: String): Nothing = throw new UnsupportedOperationException(
      s"MERGE INTO a graft.lake table: $why")
    if (m.schemaEvolutionEnabled)
      fail("WITH SCHEMA EVOLUTION is not supported")
    val targetAttrs = m.targetTable.outputSet
    val sourceAttrs = m.sourceTable.outputSet
    def rewrite(e: Expression): Column =
      unbindColWith(e, a =>
        if (sourceAttrs.contains(a)) "_src_" + a.name
        else a.name)
    def asgMap(asgs: Seq[Assignment]): Map[String, Column] = asgs.map {
      case Assignment(key: Attribute, value) if targetAttrs.contains(key) =>
        key.name -> rewrite(value)
      case a => fail(s"unsupported assignment $a")
    }.toMap
    def toArm(a: MergeAction): (Option[Column], MergeArm) = a match {
      case u: UpdateAction =>
        (u.condition.map(rewrite), MergeArm.Update(asgMap(u.assignments)))
      case DeleteAction(cond) => (cond.map(rewrite), MergeArm.Delete)
      case other => fail(s"unsupported WHEN MATCHED action $other")
    }
    val matchedArms = m.matchedActions.map(toArm)
    val insertArms = m.notMatchedActions.map {
      case i: InsertAction => (i.condition.map(rewrite), asgMap(i.assignments))
      case other => fail(s"unsupported WHEN NOT MATCHED action $other")
    }
    val nmbsArms = m.notMatchedBySourceActions.map(toArm)
    LakeGeneralMergeCommand(target, m.sourceTable, rewrite(m.mergeCondition),
      matchedArms, insertArms, nmbsArms)
  }

  /** Translate a resolved MergeIntoTable into [[LakeMergeCommand]], or
    * explain exactly which part of the shape is unsupported.
    */
  private def toMergeCommand(m: MergeIntoTable, target: LakeDmlTarget): LogicalPlan = {
    def fail(why: String): Nothing = throw new IllegalArgumentException(
      s"MERGE INTO a graft.lake table: $why (supported shape: " +
        "ON t.k = s.k, optional WHEN MATCHED AND cond THEN DELETE, " +
        "WHEN MATCHED THEN UPDATE SET <from source>, " +
        "WHEN NOT MATCHED THEN INSERT <from source>)")
    val targetAttrs = m.targetTable.outputSet
    val sourceAttrs = m.sourceTable.outputSet
    val keyCol = m.mergeCondition match {
      case EqualTo(a: AttributeReference, b: AttributeReference)
          if a.name == b.name &&
            ((targetAttrs.contains(a) && sourceAttrs.contains(b)) ||
              (targetAttrs.contains(b) && sourceAttrs.contains(a))) =>
        a.name
      case other => fail(s"ON must be a single same-named key equality, got $other")
    }
    val TrueLit = org.apache.spark.sql.catalyst.expressions.Literal.TrueLiteral
    val (deleteWhen, updates) = m.matchedActions match {
      // an unconditional delete arm deletes EVERY matched row — map it
      // to deleteWhen = true (None would mean "plain upsert", the
      // opposite); any following UPDATE arm is unreachable per SQL's
      // first-matching-clause rule and its assignments only shape the
      // inserted rows
      case Seq(DeleteAction(cond), u: UpdateAction) =>
        (Some(cond.getOrElse(TrueLit)), Some(u))
      case Seq(u: UpdateAction) => (None, Some(u))
      case Seq(DeleteAction(None)) => (Some(TrueLit), None)
      case Seq(DeleteAction(Some(_))) =>
        // without an UPDATE arm, matched rows that miss the delete
        // condition must stay UNTOUCHED — the lake merge would replace
        // them with source values, so this shape cannot map correctly
        fail("WHEN MATCHED AND cond THEN DELETE without a WHEN MATCHED " +
          "UPDATE arm is not supported (non-deleted matched rows must stay untouched)")
      case other => fail(s"unsupported WHEN MATCHED actions: $other")
    }
    updates.foreach { u =>
      if (u.condition.nonEmpty)
        fail("WHEN MATCHED AND cond THEN UPDATE is not supported (only the DELETE arm takes a condition)")
    }
    val insert = m.notMatchedActions match {
      case Seq(i: InsertAction) if i.condition.isEmpty => i
      case other => fail(s"need exactly WHEN NOT MATCHED THEN INSERT, got $other")
    }
    if (m.notMatchedBySourceActions.nonEmpty)
      fail("WHEN NOT MATCHED BY SOURCE is not supported")
    // the UPDATE and INSERT column maps must agree (one source row = one
    // upsert row in the lake merge model) and draw from the source only
    def asgMap(asgs: Seq[Assignment]): Map[String, Expression] = asgs.map {
      case Assignment(key: Attribute, value) =>
        if (!value.references.subsetOf(sourceAttrs))
          fail(s"assignment to ${key.name} references target columns; " +
            "only source-side expressions are supported")
        key.name -> value
      case a => fail(s"unsupported assignment $a")
    }.toMap
    val insertMap = asgMap(insert.assignments)
    val updateMap = updates.map(u => asgMap(u.assignments)).getOrElse(insertMap)
    if (updateMap.keySet != insertMap.keySet ||
        updateMap.exists { case (k, v) => insertMap(k).semanticEquals(v) == false })
      fail("UPDATE and INSERT assignments must be identical (UPDATE SET * / INSERT * style)")
    // the delete condition references source attrs that must map 1:1
    // onto target columns (identity assignments), so it can be
    // re-resolved by name against the projected updates frame
    val srcToTarget: Map[org.apache.spark.sql.catalyst.expressions.ExprId, String] =
      insertMap.collect { case (t, a: AttributeReference) => a.exprId -> t }
    val deleteCol = deleteWhen.map { cond =>
      unbindCol(cond.transform {
        case a: AttributeReference =>
          UnresolvedAttribute.quoted(srcToTarget.getOrElse(a.exprId,
            fail(s"DELETE condition references ${a.name}, which is not " +
              "assigned 1:1 to a target column")))
      })
    }
    // project the source to the target schema, in target column order
    val targetFields = m.targetTable.schema.fields
    val missing = targetFields.map(_.name).filterNot(insertMap.contains)
    if (missing.nonEmpty) fail(s"INSERT must cover every target column; missing ${missing.mkString(", ")}")
    val projection = targetFields.toSeq.map { f =>
      unbindCol(insertMap(f.name)).cast(f.dataType).as(f.name)
    }
    LakeMergeCommand(target, m.sourceTable, projection, keyCol, deleteCol)
  }
}

/** SQL time travel over lake tables: `SELECT ... FROM t VERSION AS OF n`
  * rewrites to the versioned [[LakeTable.scanVersion]] plan. Injected in
  * the HINT-resolution batch (before the main resolution), because
  * ResolveRelations rejects v1 time travel outright — the relation is
  * still unresolved here, so the table name is looked up against the
  * session catalog by hand and non-lake tables pass through untouched.
  */
case class LakeTimeTravelRule(spark: SparkSession) extends Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.analysis.{RelationTimeTravel, UnresolvedRelation}

  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperators {
    case tt @ RelationTimeTravel(u: UnresolvedRelation, None, Some(version)) =>
      lakePathByName(u.multipartIdentifier) match {
        case Some(path) =>
          LakeTable.forPath(spark, path)
            .scanVersion(version.toInt).queryExecution.analyzed
        case None => tt
      }
  }

  private def lakePathByName(parts: Seq[String]): Option[String] = {
    val catalog = spark.sessionState.catalog
    val ident = parts match {
      case Seq(t) => org.apache.spark.sql.catalyst.TableIdentifier(t)
      case Seq(db, t) =>
        org.apache.spark.sql.catalyst.TableIdentifier(t, Some(db))
      case Seq(cat, db, t) if cat.equalsIgnoreCase("spark_catalog") =>
        org.apache.spark.sql.catalyst.TableIdentifier(t, Some(db))
      case _ => return None
    }
    if (!catalog.tableExists(ident)) return None
    val meta = catalog.getTableMetadata(ident)
    if (!meta.provider.exists(_.equalsIgnoreCase("graft.lake"))) return None
    meta.storage.properties.get("path")
      .orElse(meta.storage.locationUri.map(_.getPath))
      .map(p => if (p.startsWith("file:")) new java.net.URI(p).getPath else p)
  }
}

object LakeDmlRule {
  /** The lake-table directory (and catalog identifier, for post-write
    * relation-cache invalidation) behind a resolved DML target, if the
    * relation planned through this format (plain [[LakeFileIndex]] scan
    * or the DV-masked fallback); None = not ours, leave the plan alone.
    */
  /** True when the plan's target is a catalog-resolved lake table whose
    * snapshot advertises the native OVERWRITE_DYNAMIC capability — the
    * rewrite must step aside so Spark plans the v2 BatchWrite.
    */
  private def nativeDynamicOverwrite(plan: LogicalPlan): Boolean =
    plan.collectFirst {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
          if r.table.isInstanceOf[LakeDsv2Table] =>
        r.table.capabilities().contains(
          org.apache.spark.sql.connector.catalog.TableCapability.OVERWRITE_DYNAMIC)
    }.getOrElse(false)

  private[lake] def lakeTarget(plan: LogicalPlan): Option[LakeDmlTarget] =
    plan.collectFirst {
      case lr: LogicalRelation =>
        val ident = lr.catalogTable.map(_.identifier)
        lr.relation match {
          case h: HadoopFsRelation if h.location.isInstanceOf[LakeFileIndex] =>
            Some(LakeDmlTarget(
              h.location.asInstanceOf[LakeFileIndex].tablePath, ident))
          case d: DvMaskedRelation => Some(LakeDmlTarget(d.tablePath, ident))
          case _ => None
        }
      // UPDATE / MERGE over a GraftCatalog-resolved v2 table: same
      // rewrite, no v1 relation cache to refresh (v2 idents re-resolve
      // through loadTable on every query, so reads see the new snapshot)
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
          if r.table.isInstanceOf[LakeDsv2Table] =>
        Some(LakeDmlTarget(r.table.asInstanceOf[LakeDsv2Table].tablePath, None))
    }.flatten

  /** Unbind resolved attribute references to by-name lookups and wrap
    * as a Column: the lake mutations re-resolve against a fresh
    * snapshot scan (possibly a different version after an optimistic
    * rebase), so carrying analyzer exprIds would be wrong. `With`
    * common-subexpression nodes (the analyzer's BETWEEN/CSE rewrite)
    * are inlined first — a With cannot be rebuilt over unresolved
    * children, and the re-analysis re-derives the sharing anyway.
    */
  private[lake] def unbindCol(e: Expression): Column =
    unbindColWith(e, _.name)

  /** [[unbindCol]] with a caller-chosen attribute→name mapping (the
    * general merge prefixes source-side attributes).
    */
  private[lake] def unbindColWith(e: Expression,
      name: AttributeReference => String): Column =
    Bridge.column(inlineWith(e).transform {
      case a: AttributeReference => UnresolvedAttribute.quoted(name(a))
    })

  private def inlineWith(e: Expression): Expression = e.transformUp {
    case w: org.apache.spark.sql.catalyst.expressions.With =>
      val defs = w.defs.map(d => d.id -> d.child).toMap
      w.child.transformUp {
        case r: org.apache.spark.sql.catalyst.expressions.CommonExpressionRef =>
          defs.getOrElse(r.id, r)
      }
  }
}

/** A DML target: the table directory plus its catalog identifier. The
  * identifier drives `refreshTable` after the mutation — the session
  * catalog caches the resolved v1 relation (pinned to the manifest read
  * at resolution time), and without the refresh a post-DML SELECT would
  * read the pre-mutation snapshot out of that cache.
  */
private[lake] case class LakeDmlTarget(path: String,
    ident: Option[org.apache.spark.sql.catalyst.TableIdentifier]) {
  def mutate(spark: SparkSession)(op: LakeTable => Unit): Seq[Row] = {
    op(LakeTable.forPath(spark, path))
    ident.foreach(i => spark.catalog.refreshTable(i.quotedString))
    Seq.empty
  }
}

/** Dynamic partition overwrite → [[LakeTable.overwritePartitionsDynamic]]:
  * one atomic replaceWhere commit on the partition tuples present in
  * the resolved query's output.
  */
private[lake] case class LakeDynamicOverwriteCommand(target: LakeDmlTarget,
    query: LogicalPlan) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] =
    target.mutate(spark)(_.overwritePartitionsDynamic(Bridge.dataFrame(spark, query)))
}

/** `DELETE FROM lake_t WHERE cond` → file-pruned copy-on-write delete. */
private[lake] case class LakeDeleteCommand(target: LakeDmlTarget, cond: Column)
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] =
    target.mutate(spark)(_.deleteWhere(cond))
}

/** `UPDATE lake_t SET ... WHERE cond` → file-pruned copy-on-write update. */
private[lake] case class LakeUpdateCommand(target: LakeDmlTarget, cond: Column,
    set: Map[String, Column]) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] =
    target.mutate(spark)(_.updateWhere(cond, set))
}

/** Any legal MERGE shape → [[LakeTable.mergeGeneral]]: the source plan
  * executes with `_src_`-prefixed columns so arm conditions and
  * assignments can reference both sides of the joined frame by name.
  */
private[lake] case class LakeGeneralMergeCommand(target: LakeDmlTarget,
    source: LogicalPlan, on: Column,
    matched: Seq[(Option[Column], MergeArm)],
    notMatched: Seq[(Option[Column], Map[String, Column])],
    notMatchedBySource: Seq[(Option[Column], MergeArm)])
    extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] =
    target.mutate(spark) { t =>
      val src = Bridge.dataFrame(spark, source)
      val prefixed = src.toDF(src.columns.map("_src_" + _).toIndexedSeq: _*)
      t.mergeGeneral(prefixed, on, matched, notMatched, notMatchedBySource)
    }
}

/** `MERGE INTO lake_t USING src ON ... WHEN ...` → the lake upsert with
  * optional delete arm; the resolved source plan executes lazily inside
  * the mutation (one scan, stats-pruned copy-on-write).
  */
private[lake] case class LakeMergeCommand(target: LakeDmlTarget,
    source: LogicalPlan, projection: Seq[Column], keyCol: String,
    deleteWhen: Option[Column]) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] =
    target.mutate(spark) { t =>
      t.merge(Bridge.dataFrame(spark, source).select(projection: _*),
        keyCol, deleteWhen)
    }
}
