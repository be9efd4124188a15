package graft.lake

import java.io.File
import java.nio.file.{FileAlreadyExistsException, Files, Paths, StandardCopyOption}
import java.util.UUID

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.jackson.JsonMethods

/** A minimal ACID table format on plain parquet — the lakehouse
  * primitive (Delta/Iceberg-shaped) the engine otherwise lacks, built
  * from nothing but Spark and `java.nio`:
  *
  *  - **Versioned delta log with checkpoints**: the `_graft_log`
  *    directory is the source of truth; a snapshot is exactly the
  *    files its reconstructed manifest lists (readers NEVER glob the
  *    directory). Versions 1, K, 2K, … (K = [[LakeTable.CheckpointInterval]])
  *    are FULL `v%08d.manifest` checkpoints; every other version is a
  *    `v%08d.delta` of remove-tombstones + added entries, so commit
  *    cost is O(changed files) — flat in table size — and a read
  *    folds at most K−1 tiny deltas over one checkpoint. Data files
  *    are immutable and job-uniquely named, so a snapshot is stable
  *    for as long as its files are retained.
  *  - **Atomic, exclusive commit**: the new manifest is fully staged
  *    under a temp name, then published with `Files.createLink`
  *    (POSIX link(2) fails atomically if the target exists), so two
  *    racing writers cannot both claim version N — the loser gets
  *    [[ConcurrentCommitException]]. Appends auto-retry on the next
  *    version (conflict-free); merge/delete/compact REBASE over
  *    concurrent commits that provably cannot overlap their scope
  *    (per-file stats vs the mutation's key range — the Delta
  *    optimistic-concurrency model) and surface
  *    [[ConcurrentWriteConflictException]] otherwise; overwrite
  *    surfaces any race (its read-set is the whole table).
  *  - **Copy-on-write with file-level pruning**: `merge` (upsert)
  *    rewrites ONLY files whose per-file key [min,max] — recorded in
  *    the manifest at write time — can contain updated keys; `delete`
  *    rewrites ONLY files that actually contain matching rows (probed
  *    with one `input_file_name()` aggregation). Untouched files carry
  *    over by reference: at 100 TB a point-merge rewrites a handful of
  *    files, not the table.
  *  - **Time travel**: `readVersion(n)` reads any retained snapshot;
  *    `history()` lists the commit log. `vacuum(retain)` drops the
  *    manifests older than the retained window and every data file no
  *    retained manifest references (which also collects orphans staged
  *    by crashed writers — crash-before-publish leaves the current
  *    snapshot untouched by construction).
  *
  * Scale shape: manifests are control-plane (one small line per file —
  * at 1 GB/file a 100 TB table is a ~100k-line manifest); the data
  * plane is ordinary parquet read via an explicit file list, so
  * column pruning and predicate pushdown work unchanged. Stats-based
  * file skipping for reads is exposed via [[LakeTable.prunedRead]].
  */
class LakeTable private (spark: SparkSession, val path: String) {
  import LakeTable._

  private def logDir = Paths.get(path, LogDir)

  // ---- snapshot state ---------------------------------------------------

  /** Latest committed version (manifests are contiguous from 1). */
  def currentVersion: Int = {
    val vs = listVersions
    require(vs.nonEmpty, s"not a lake table (no manifests): $path")
    vs.max
  }

  private def listVersions: Seq[Int] = {
    val d = logDir.toFile
    Option(d.list((_, n) => n.matches("v\\d{8}\\.(manifest|delta)")))
      .map(_.toSeq.map(_.substring(1, 9).toInt).distinct).getOrElse(Seq.empty)
  }

  private[lake] def manifest(version: Int): Manifest =
    LakeTable.reconstruct(logDir.toString, version)

  // ---- reads ------------------------------------------------------------

  /** Current snapshot as a DataFrame (manifest-listed files only). */
  def read(): DataFrame = readVersion(currentVersion)

  /** Time travel: the table exactly as of commit `version`. */
  def readVersion(version: Int): DataFrame = readManifest(manifest(version))

  /** Current snapshot planned through [[LakeFileIndex]]: a plain
    * `.filter()` on this DataFrame prunes non-overlapping files via the
    * manifest [min,max] stats inside Catalyst — the automatic form of
    * [[prunedRead]], composable with every downstream operator.
    */
  def scan(): DataFrame = scanVersion(currentVersion)

  /** [[scan]] with time travel. When the snapshot carries deletion
    * vectors, the masked positions are anti-joined ON TOP of the
    * index-planned scan: pushed data filters still reach
    * [[LakeFileIndex]] (left-side predicates push through a left-anti
    * join), so manifest-stats file pruning is unchanged and the DV mask
    * costs one broadcast-sized join only when DVs exist.
    */
  def scanVersion(version: Int): DataFrame = {
    val m = manifest(version)
    val planned = new LakeFileIndex(spark, path, m).toDataFrame
    val sidecars = m.files.flatMap(_.dv).distinct
    val masked =
      if (sidecars.isEmpty) planned
      else maskDeleted(withProvenance(planned), sidecars)
        .drop("_gf_file", "_gf_pos")
    // the index plans under PHYSICAL field names (what the files store);
    // surface the logical names on top — filters and column prunes push
    // through the alias-only Project, so file skipping is unchanged
    if (m.physNames.isEmpty) masked
    else masked.toDF(m.schema.fieldNames.toIndexedSeq: _*)
  }

  /** Expose each row's physical provenance as `_gf_file` / `_gf_pos`
    * (parquet metadata columns) — the join key of the DV mask.
    */
  private def withProvenance(df: DataFrame): DataFrame =
    df.select(col("*"),
      element_at(split(col("_metadata.file_path"), "/"), -1).as("_gf_file"),
      col("_metadata.row_index").as("_gf_pos"))

  /** Anti-join away the (file, position) pairs the sidecars mask. The
    * sidecar side is PINNED to a broadcast: DVs are deleted-row
    * positions only (KBs–MBs), and without the hint a table whose
    * deletes accumulated past the auto-broadcast threshold would
    * silently degrade to shuffling the whole fact on (file, pos) — the
    * exact scale-killer DVs exist to avoid. [[purgeDeletes]] is the
    * matching debt policy: once dvRows/rows crosses a threshold, the
    * masked files get rewritten and the sidecars retired.
    */
  private def maskDeleted(df: DataFrame, sidecars: Seq[String]): DataFrame =
    df.join(broadcast(readSidecars(sidecars)),
      Seq("_gf_file", "_gf_pos"), "left_anti")

  private def readManifest(m: Manifest): DataFrame = readEntries(m.files, m)

  /** Read a set of manifest entries, applying any deletion vectors:
    * files without DVs read as plain parquet; files WITH them are read
    * alongside the parquet metadata columns and anti-joined against
    * their sidecars' (file, row position) pairs. Sidecars are tiny next
    * to the data (positions of deleted rows only), so the anti-join is
    * broadcast-shaped at scale; files untouched by any delete pay
    * nothing.
    */
  private[lake] def readEntries(entries: Seq[FileEntry],
      m: Manifest): DataFrame = {
    val logical = m.schema
    if (entries.isEmpty)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[Row], logical)
    val (dvd, plain) = entries.partition(_.dv.nonEmpty)
    // files store PHYSICAL field names (stable across renames); read
    // under them, then alias to the logical names in one Project
    def readPlain(fs: Seq[FileEntry]): DataFrame = spark.read
      .schema(m.physSchema)
      .parquet(fs.map(f => s"$path/${f.name}"): _*)
    val sides = Seq(
      if (plain.isEmpty) None else Some(readPlain(plain)),
      if (dvd.isEmpty) None else Some {
        maskDeleted(withProvenance(readPlain(dvd)), dvd.flatMap(_.dv).distinct)
          .drop("_gf_file", "_gf_pos")
      }).flatten
    val physDf = sides.reduce(_ unionByName _)
    if (m.physNames.isEmpty) physDf
    else physDf.toDF(logical.fieldNames.toIndexedSeq: _*)
  }

  /** The (file, position) pairs the given sidecars mask out. Schema is
    * supplied (sidecars are written with exactly these two columns by
    * writeDvSidecar), skipping the per-read footer inference pass.
    */
  private def readSidecars(names: Seq[String]): DataFrame =
    spark.read.schema(LakeTable.dvSidecarSchema)
      .parquet(names.map(n => s"$path/$n"): _*)
      .select(col("_gf_file"), col("_gf_pos"))

  /** Stats-pruned read: skip every file whose [min,max] for `col` lies
    * outside [lo, hi] — manifest-level file skipping, no footer reads.
    * Exact under the residual filter applied on top.
    */
  def prunedRead(col: String, lo: Long, hi: Long): DataFrame = {
    val m = manifest(currentVersion)
    readEntries(m.files.filter(_.overlaps(m.physOf(col), lo, hi)), m)
  }

  /** Incremental (streaming-style) consumption: the rows in files that
    * `sinceVersion`'s manifest did NOT list, read with the CURRENT
    * schema (pre-evolution files null-fill evolved columns). This is a
    * pure control-plane manifest diff — no listing, no data scan beyond
    * the new files — i.e. how a streaming source tails the commit log.
    * Exactly the appended rows when the history since `sinceVersion` is
    * append-only; a copy-on-write rewrite (merge/delete/compact) also
    * surfaces its rewritten survivors, so CDC consumers should use
    * [[changesBetween]] instead.
    */
  def readAppendsSince(sinceVersion: Int): DataFrame = {
    val cur = manifest(currentVersion)
    val old = manifest(sinceVersion).files.map(_.name).toSet
    val added = cur.files.filterNot(f => old(f.name))
    readEntries(added, cur)
  }

  /** Row-level change feed between two retained versions: rows only in
    * `to` tagged `insert`, rows only in `from` tagged `delete` (an
    * update = its delete + its insert; multiset semantics via
    * EXCEPT ALL). Copy-on-write makes this cheap at scale: files both
    * manifests share are immutable and identical, so ONLY the
    * non-shared files on each side are scanned — a point-merge on a
    * 100 TB table diffs the handful of rewritten files, not the table.
    * Requires an unchanged schema between the versions.
    */
  def changesBetween(from: Int, to: Int): DataFrame = {
    val mFrom = manifest(from)
    val mTo = manifest(to)
    require(mFrom.schemaJson == mTo.schemaJson &&
        mFrom.physNames == mTo.physNames,
      s"schema changed between v$from and v$to; diff them with explicit casts")
    // share by SIGNATURE (name + deletion-vector set), not bare name: a
    // merge-on-read delete changes a file's logical content without
    // renaming it, and its removed rows must surface as 'delete'
    val fromSigs = mFrom.files.map(_.signature).toSet
    val toSigs = mTo.files.map(_.signature).toSet
    val onlyFrom = readEntries(
      mFrom.files.filterNot(f => toSigs(f.signature)), mTo)
    val onlyTo = readEntries(
      mTo.files.filterNot(f => fromSigs(f.signature)), mTo)
    onlyTo.exceptAll(onlyFrom).withColumn("_change_type", lit("insert"))
      .unionByName(onlyFrom.exceptAll(onlyTo).withColumn("_change_type", lit("delete")))
  }

  /** The physical file names a version's manifest lists — control
    * plane (no Spark job); the ground truth for carried-by-reference
    * assertions (same name in two manifests = the same immutable file).
    */
  def fileNames(version: Int): Seq[String] = manifest(version).files.map(_.name)

  /** The commit log, oldest first (only retained versions); row counts
    * are LOGICAL (deletion-vector-masked rows excluded).
    */
  def history(): Seq[LakeCommit] =
    listVersions.sorted.map { v =>
      val m = manifest(v)
      LakeCommit(v, m.operation, m.files.size,
        m.files.map(f => f.rows - f.dvRows).sum)
    }

  // ---- writes -----------------------------------------------------------

  /** Append `df` as new files; existing files carry over by reference.
    * Conflict-free, so a lost commit race is retried on the next
    * version automatically.
    */
  def append(df: DataFrame): Int = {
    val staged = stageFiles(df)
    var proven: Map[String, String] = null
    try retryCommit { v =>
      val base = manifest(v)
      requireSameSchema(df.schema, base)
      // enforce the ATTEMPT base's constraints (a concurrent addCheck
      // between retries must gate this append too); validating the
      // staged parquet is one cheap columnar read, not a recomputation
      // of df's lineage, and a violation cleans the staged files up
      if (proven == null || proven != base.checks) {
        enforceChecks(staged, base)
        proven = base.checks
      }
      commit(v + 1, "append", base.files ++ staged, base)
    } catch { case NonFatal(e) =>
      staged.foreach(f => Files.deleteIfExists(Paths.get(path, f.name)))
      throw e
    }
  }

  /** Exactly-once streaming append: the sink half of
    * `writeStream.foreachBatch((df, id) => t.appendStream(df, appId, id))`.
    * The manifest records, PER APPLICATION, the highest batch id
    * committed (`txns: {appId -> lastBatchId}` in the head line) — the
    * Delta `SetTransaction` pattern. Scoping by `appId` is what makes
    * the ledger safe: two different streaming queries appending to the
    * same table never skip each other's batches, because each consults
    * only its own entry. A batch REPLAYED after a crash — same
    * (appId, id), possibly recomputed data — is recognized and skipped
    * instead of appended twice. Returns the current version either way.
    * The check-and-commit is atomic under the exclusive-publish
    * primitive: a racing duplicate of the same batch loses the
    * `createLink` and re-checks.
    *
    * `appId` must be stable across restarts of the SAME logical query
    * (e.g. the checkpoint location or `query.id`). Restarting with a
    * FRESH checkpoint restarts batch ids at 0; to avoid silently
    * dropping those batches, ANY batchId below the app's ledger (other
    * than the exact replay of the last id, which is skipped) fails
    * loudly — pick a new appId for a genuinely new incarnation.
    */
  def appendStream(df: DataFrame, appId: String, batchId: Long): Int = {
    require(batchId >= 0, "streaming batch ids are non-negative")
    require(appId.nonEmpty, "appId must be non-empty (scope of the txn ledger)")
    // pre-scoping manifests carried ONE global ledger (parsed in under
    // the reserved "_legacy" app id). The old world had a single logical
    // writer, so its floor applies in full to whoever resumes FIRST; the
    // first scoped commit CONSUMES it (any other scoped key existing =
    // consumed) so genuinely new appIds then start at a clean -1. The
    // entry itself is never dropped: even after consumption, an
    // entry-less app replaying EXACTLY the legacy floor is the old
    // writer's crash-replay of its last batch and must be skipped, not
    // re-appended — dropping the entry on the first scoped commit would
    // duplicate that replay's rows. (A new app whose fresh checkpoint
    // happens to reach the floor id is indistinguishable; the skip is
    // the safe side — exactly-once beats at-least-once here.)
    def ledger(m: Manifest): Long =
      m.txns.getOrElse(appId, m.txns.get("_legacy") match {
        case None => -1L
        case Some(floor) if m.txns.keySet == Set("_legacy") => floor
        case Some(floor) => if (batchId == floor) floor else -1L
      })
    def checkRegression(last: Long): Unit = require(batchId >= last,
      s"batch id $batchId regresses below app '$appId' ledger $last: a fresh " +
        "checkpoint restarted batch ids — use a new appId, or data WOULD be dropped")
    val head = ledger(manifest(currentVersion))
    if (head == batchId) return currentVersion
    checkRegression(head)
    val staged = stageFiles(df)
    var proven: Map[String, String] = null
    try retryCommit { v =>
      val base = manifest(v)
      val last = ledger(base)
      if (last == batchId) {
        // lost a race to a duplicate of this very batch: drop our files
        staged.foreach(f => Files.deleteIfExists(Paths.get(path, f.name)))
        v
      } else {
        checkRegression(last)
        requireSameSchema(df.schema, base)
        if (proven == null || proven != base.checks) {
          enforceChecks(staged, base)
          proven = base.checks
        }
        LakeTable.commit(logDir.toString, v + 1,
          base.copy(operation = "stream-append",
            files = base.files ++ staged,
            txns = base.txns + (appId -> batchId)))
      }
    } catch { case NonFatal(e) =>
      // a rejected write (ledger regression, schema mismatch, constraint
      // violation) must not leave staged files orphaned until a vacuum
      staged.foreach(f => Files.deleteIfExists(Paths.get(path, f.name)))
      throw e
    }
  }

  /** Highest streaming batch id committed under `appId`, or -1. */
  def lastStreamBatchId(appId: String): Long =
    manifest(currentVersion).txns.getOrElse(appId, -1L)

  /** Schema-evolving append (mergeSchema semantics): `df` may ADD
    * columns (readers of the new snapshot see NULL for them in
    * pre-evolution files) and may OMIT existing ones (staged as NULL).
    * Overlapping columns must keep their exact type — widening would
    * silently rewrite history. Each manifest carries its own schema, so
    * time travel to a pre-evolution version still reads the old shape.
    */
  def appendEvolve(df: DataFrame): Int = {
    val base0 = manifest(currentVersion)
    val cur = base0.schema
    val curTypes = cur.fields.map(f => f.name -> f.dataType).toMap
    df.schema.fields.foreach { f =>
      curTypes.get(f.name).foreach { t =>
        require(t == f.dataType,
          s"column ${f.name}: table has $t, got ${f.dataType} (no type evolution)")
      }
    }
    val newFields = df.schema.fields.filterNot(f => curTypes.contains(f.name))
    // physical names are the parquet-field namespace: a NEW logical
    // column must not collide with the physical name a renamed column
    // still writes under (identity mapping would silently alias them)
    val physTaken = base0.physSchema.fieldNames.toSet
    newFields.foreach { f =>
      require(!physTaken(f.name),
        s"column ${f.name} collides with the physical name of a renamed " +
          "column; pick a different name")
    }
    val unified = StructType((cur.fields ++ newFields).map(_.copy(nullable = true)))
    val aligned = df.select(unified.fieldNames.toSeq.map { n =>
      if (df.columns.contains(n)) col(n)
      else lit(null).cast(unified(n).dataType).as(n)
    }: _*)
    val alignedPhys =
      if (base0.physNames.isEmpty) aligned
      else aligned.toDF(aligned.columns.map(base0.physOf).toIndexedSeq: _*)
    val staged = LakeTable.stage(spark, path, alignedPhys,
      base0.statsCols.map(base0.physOf), base0.partitionBy.map(base0.physOf),
      base0.bucketBy.map(base0.physOf), base0.buckets)
    var proven: Map[String, String] = null
    try retryCommit { v =>
      val base = manifest(v)
      require(base.schemaJson == base0.schemaJson,
        "schema changed concurrently; re-run appendEvolve against the new snapshot")
      if (proven == null || proven != base.checks) {
        enforceChecks(staged, base, unified)
        proven = base.checks
      }
      commit(v + 1, "append-evolve", base.files ++ staged,
        base.copy(schemaJson = unified.json))
    } catch { case NonFatal(e) =>
      staged.foreach(f => Files.deleteIfExists(Paths.get(path, f.name)))
      throw e
    }
  }

  /** ALTER TABLE ADD COLUMNS as a metadata-only commit: the schema
    * gains nullable columns, ZERO data files are touched, and every
    * read null-backfills them on existing files (the parquet reader's
    * missing-column contract — the same mechanism [[appendEvolve]]
    * relies on). Rejects type changes, duplicates, and collisions with
    * the physical names of renamed columns, exactly like appendEvolve.
    */
  def addColumns(newCols: StructType): Int = {
    require(newCols.nonEmpty, "ADD COLUMNS needs at least one column")
    retryCommit { v =>
      val base = manifest(v)
      val cur = base.schema
      val taken = cur.fieldNames.toSet
      val physTaken = base.physSchema.fieldNames.toSet
      newCols.fields.foreach { f =>
        require(!taken(f.name), s"column ${f.name} already exists")
        require(!physTaken(f.name),
          s"column ${f.name} collides with the physical name of a renamed " +
            "column; pick a different name")
      }
      val unified = StructType(
        cur.fields ++ newCols.fields.map(_.copy(nullable = true)))
      validateChecksResolve(base.checks, unified)
      commit(v + 1, "add-columns", base.files,
        base.copy(schemaJson = unified.json))
    }
  }

  /** Replace the table contents with `df` (schema may change — but a
    * schema change that invalidates an active CHECK constraint is
    * rejected up front with the constraint's name, BEFORE any data is
    * staged: drop or migrate the constraint first, the Delta rule).
    */
  def overwrite(df: DataFrame): Int = {
    val v = currentVersion
    val base = manifest(v)
    validateChecksResolve(base.checks, df.schema)
    require(base.partitionBy.forall(df.columns.contains),
      s"overwrite must keep the partition columns ${base.partitionBy.mkString(", ")}")
    // same up-front rejection for the bucket layout: without it the
    // missing column only surfaces as an opaque AnalysisException inside
    // stage()'s repartition, after the scratch directory exists
    require(base.bucketBy.forall(df.columns.contains),
      s"overwrite must keep the bucket columns ${base.bucketBy.mkString(", ")}")
    // every file is replaced, so the column-mapping indirection resets
    // to identity: stage under the NEW logical names directly
    val staged = stageFiles(df, base.copy(physNames = Map.empty))
    enforceChecks(staged, base.copy(physNames = Map.empty), df.schema)
    commit(v + 1, "overwrite",
      staged, base.copy(schemaJson = df.schema.json,
        statsCols = statsColsOf(df, base), physNames = Map.empty))
  }

  /** [[overwrite]] carrying a txn-ledger entry IN THE SAME COMMIT — the
    * atomicity [[LakeMv]] needs: the refreshed view contents and the
    * base version they fold are one manifest, so a crash can never
    * leave an anchor pointing at un-applied (or double-applied) deltas.
    */
  private[lake] def overwriteWithTxn(df: DataFrame, txnKey: String,
      txnVal: Long): Int = {
    val v = currentVersion
    val base = manifest(v)
    validateChecksResolve(base.checks, df.schema)
    require(base.partitionBy.forall(df.columns.contains),
      s"overwrite must keep the partition columns ${base.partitionBy.mkString(", ")}")
    require(base.bucketBy.forall(df.columns.contains),
      s"overwrite must keep the bucket columns ${base.bucketBy.mkString(", ")}")
    val staged = stageFiles(df, base.copy(physNames = Map.empty))
    enforceChecks(staged, base.copy(physNames = Map.empty), df.schema)
    commit(v + 1, "mv-refresh",
      staged, base.copy(schemaJson = df.schema.json,
        statsCols = statsColsOf(df, base), physNames = Map.empty,
        txns = base.txns + (txnKey -> txnVal)))
  }

  /** Upsert by equality on `keyCol`: rows of `updates` replace
    * same-keyed rows; new keys are inserted. Copy-on-write with
    * manifest-stats pruning — files whose [min,max] key range cannot
    * contain any update key are carried over UNREWRITTEN (their
    * manifest entries, stats included, are reused verbatim).
    * `updates` must have unique keys and the table's schema.
    */
  def merge(updates: DataFrame, keyCol: String): Int =
    merge(updates, keyCol, None)

  /** Full MERGE INTO with a `WHEN MATCHED AND <cond> THEN DELETE` arm:
    * `deleteWhen` (evaluated against the UPDATE row) selects source
    * rows that DELETE their matched target row instead of replacing
    * it. Per SQL MERGE semantics (and Delta/Iceberg), the delete arm
    * applies to MATCHED rows only — a delete-arm row with no match
    * falls through to the insert clause and IS inserted. One atomic
    * commit covers updates, inserts, and deletes; the copy-on-write
    * rewrite set is still bounded by the source's key range, so the
    * stats pruning is identical to the plain upsert — at 100 TB a
    * mixed merge touches the overlapping files, not the table.
    * Every key-range candidate is rewritten WITHOUT a hit probe: the
    * probe would cost a Spark job to spare only the candidates that
    * hold no source key.
    */
  def merge(updates: DataFrame, keyCol: String,
      deleteWhen: Option[Column]): Int = {
    val v = currentVersion
    val base = manifest(v)
    requireSameSchema(updates.schema, base)
    val cols = base.schema.fieldNames.map(col).toSeq
    changeRows("merge", v, base, mergeKeyRange(updates, keyCol, base),
      mor = false, hits = None, always = true, output = { candidates =>
        val candData = readEntries(candidates, base)
        // surviving source rows: everything (upsert), or minus the MATCHED
        // delete-arm rows (their targets vanish via the anti-join below).
        // SQL MERGE scopes the delete arm to matched rows — an unmatched
        // delete-arm row falls through to the insert clause — and treats a
        // NULL `WHEN MATCHED AND cond` as NOT matching the arm, so a
        // NULL-condition row must survive (= be updated/inserted), not be
        // silently deleted — hence the coalesce to false before negating.
        // Matched ⊆ candidates by construction (a file holding a source key
        // overlaps the source key range), so the match probe anti-joins the
        // delete-arm subset against the candidate data only.
        val surviving = deleteWhen match {
          case Some(cond) =>
            val delArm = updates.filter(coalesce(cond, lit(false)))
            val unmatchedDelArm = delArm.join(
              candData.select(col(keyCol).as("_tgt_key")),
              col(keyCol) === col("_tgt_key"), "left_anti")
            updates.filter(!coalesce(cond, lit(false)))
              .unionByName(unmatchedDelArm.select(cols: _*))
          case None => updates
        }
        Some(candData
          .join(updates.select(col(keyCol).as("_upd_key")),
            col(keyCol) === col("_upd_key"), "left_anti")
          .select(cols: _*)
          .unionByName(surviving.select(cols: _*)))
      })
  }

  /** Fully general SQL MERGE semantics over the lake table — the shape
    * the key-based [[merge]] cannot express: arbitrary ON conditions,
    * multiple conditioned WHEN MATCHED arms (UPDATE with per-column
    * assignments referencing both sides, or DELETE), conditioned WHEN
    * NOT MATCHED inserts, and WHEN NOT MATCHED BY SOURCE arms. Clause
    * order is significant (first matching arm wins), NULL conditions
    * do not match, and a target row matched by MORE THAN ONE source row
    * raises the SQL cardinality violation instead of duplicating output
    * (detected exactly: each target row carries its immutable
    * (file, row-position) identity from the parquet metadata columns).
    *
    * Copy-on-write bounded to AFFECTED FILES: a file is rewritten only
    * if some row in it actually takes a clause action (matched arm
    * fires, or a not-matched-by-source arm fires); everything else
    * carries by reference. `source` must arrive with its columns
    * prefixed `_src_` (the SQL rule does this) so both sides are
    * addressable in one joined frame. Conservative concurrency: any
    * concurrently added file conflicts (the ON condition is arbitrary,
    * so no stats range can prove disjointness).
    */
  def mergeGeneral(source: DataFrame, on: Column,
      matched: Seq[(Option[Column], MergeArm)],
      notMatched: Seq[(Option[Column], Map[String, Column])],
      notMatchedBySource: Seq[(Option[Column], MergeArm)]): Int = {
    val v = currentVersion
    val base = manifest(v)
    val schema = base.schema
    val cols = schema.fieldNames.toSeq
    require(source.columns.forall(_.startsWith("_src_")),
      "mergeGeneral source columns must be prefixed _src_")
    // the source plan feeds FOUR consumers (cardinality check,
    // affected-file collect, replaced-rows scan, insert anti-join) — a
    // non-deterministic or concurrently-changing source re-executed per
    // consumer could yield an affected-file set inconsistent with the
    // rewritten/inserted rows, silently losing or duplicating rows. A
    // plain .cache() is only BEST-EFFORT (evicted blocks recompute from
    // lineage), so the source is localCheckpoint'ed: lineage is
    // truncated at the materialized blocks, every consumer reads the
    // same snapshot, and block loss fails the merge instead of
    // silently diverging (the same reason production MERGE
    // implementations stage their source)
    val src = source.withColumn("_src_exists", lit(1))
      .localCheckpoint(true)
    val tgt = scanVersionWithId(v)

    /** First-arm-wins predicates: one Column per arm, mutually
      * exclusive by construction, all scoped by `within`. A NULL arm
      * condition does not match (coalesce to false), per SQL.
      */
    def firesSeq(conds: Seq[Option[Column]], within: Column): Seq[Column] = {
      var prior: Column = lit(false)
      conds.map { cond =>
        val c = cond.map(x => coalesce(x, lit(false))).getOrElse(lit(true))
        val fires = within && !prior && c
        prior = prior || c
        fires
      }
    }

    // the joined frame also feeds three consumers — pin it alongside src
    val j = tgt.join(src, on, "left").cache()
    val isMatched = col("_src_exists").isNotNull

    val mFires = firesSeq(matched.map(_._1), isMatched)
    val nmbsFires = firesSeq(notMatchedBySource.map(_._1), !isMatched)
    try {
      // SQL cardinality rule: error only when a multi-matched target row
      // WOULD be updated or deleted — i.e. count per (file, position)
      // identity only the matches where some WHEN MATCHED arm fires. An
      // insert-only MERGE over a duplicate-keyed source, or one whose
      // matched conditions exclude the duplicates, is legal SQL and must
      // not trip this (the Delta/Spark semantics).
      val matchedArmFires = mFires.reduceOption(_ || _).getOrElse(lit(false))
      val dup = j.filter(isMatched && matchedArmFires)
        .groupBy(col("_gfile"), col("_gpos"))
        .agg(count(lit(1)).as("_m"))
        .filter(col("_m") > 1)
      if (dup.limit(1).count() > 0)
        throw new IllegalStateException(
          "MERGE cardinality violation: a target row would be updated/deleted " +
            "by more than one source row")

      val allArms: Seq[(Column, MergeArm)] =
        mFires.zip(matched.map(_._2)) ++ nmbsFires.zip(notMatchedBySource.map(_._2))
      val takesAction = allArms.map(_._1).reduceOption(_ || _).getOrElse(lit(false))

      // affected files: only where some arm actually fires — the
      // copy-on-write bound. File names are control plane (manifest-sized).
      val affected = j.filter(takesAction)
        .select(col("_gfile")).distinct()
        .collect().map(_.getString(0)).toSet
      val (consumed, _) = base.files.partition(f => affected(f.name))

      // replacement rows for the affected files: drop DELETE-arm rows,
      // then per column take the first firing UPDATE arm's assignment
      // (arms' fire predicates are mutually exclusive, so a flat chain
      // is order-correct)
      val deleteCond = allArms.collect { case (fires, MergeArm.Delete) => fires }
        .reduceOption(_ || _).getOrElse(lit(false))
      // A multi-matched target row is LEGAL when at most one of its
      // join copies fires (the cardinality check above guarantees at
      // most one firing matched copy) — but the join still yields one
      // copy per source match, and the rewrite must emit the row
      // exactly ONCE. Keep the firing copy when one exists (so its
      // arm's assignment/delete applies), else exactly one inert copy.
      // The window is scoped to the affected files' rows only, and
      // (_gfile,_gpos) is near-unique, so the extra shuffle is bounded
      // by the copy-on-write footprint, not the table.
      val winRn = org.apache.spark.sql.expressions.Window
        .partitionBy(col("_gfile"), col("_gpos"))
        .orderBy(when(takesAction, lit(0)).otherwise(lit(1)))
      val replaced = j.filter(col("_gfile").isin(affected.toSeq: _*))
        .withColumn("_g_rn", row_number().over(winRn))
        .filter(col("_g_rn") === 1)
        .filter(!deleteCond)
        .select(cols.map { c =>
          val field = schema(c)
          allArms.foldRight(col(c).cast(field.dataType)) {
            case ((fires, MergeArm.Update(set)), v0) if set.contains(c) =>
              when(fires, set(c).cast(field.dataType)).otherwise(v0)
            case (_, v0) => v0
          }.as(c)
        }: _*)

      // inserts: source rows with NO match anywhere in the target; first
      // firing NOT MATCHED arm wins, rows firing no arm are not inserted
      val unmatchedSrc = src.join(tgt, on, "left_anti")
      val insFires = firesSeq(notMatched.map(_._1), lit(true))
      val inserts = unmatchedSrc
        .filter(insFires.reduceOption(_ || _).getOrElse(lit(false)))
        .select(cols.map { c =>
          val field = schema(c)
          insFires.zip(notMatched.map(_._2)).foldRight(
              lit(null).cast(field.dataType)) {
            case ((fires, set), v0) if set.contains(c) =>
              when(fires, set(c).cast(field.dataType)).otherwise(v0)
            case (_, v0) => v0
          }.as(c)
        }: _*)

      commitChange("merge", v, base, _ => true, consumed,
        rows = Some(replaced.unionByName(inserts)))
    } finally {
      j.unpersist(blocking = false)
      // src is localCheckpoint'ed, not cached: its blocks are reclaimed
      // by the ContextCleaner once the dataset is GC'd; an explicit
      // unpersist here would only WARN (truncated lineage cannot be
      // recomputed) without freeing anything sooner
    }
  }

  /** [[scanVersion]] keeping each row's immutable identity: `_gfile`
    * (file name) and `_gpos` (row position) from the parquet metadata
    * columns — the provenance [[mergeGeneral]] needs for exact
    * cardinality checks and affected-file discovery.
    */
  private[lake] def scanVersionWithId(version: Int): DataFrame = {
    val m = manifest(version)
    val planned = withProvenance(
      new LakeFileIndex(spark, path, m).toDataFrame)
    val sidecars = m.files.flatMap(_.dv).distinct
    val masked =
      if (sidecars.isEmpty) planned
      else maskDeleted(planned, sidecars)
    val renamed = masked.withColumnRenamed("_gf_file", "_gfile")
      .withColumnRenamed("_gf_pos", "_gpos")
    if (m.physNames.isEmpty) renamed
    else renamed.toDF((m.schema.fieldNames :+ "_gfile" :+ "_gpos").toIndexedSeq: _*)
  }

  /** DELETE the rows matching `cond`, copy-on-write: every file holding
    * a matching row is rewritten with its surviving rows only (a NULL
    * condition keeps the row, per SQL DELETE), and a touched file whose
    * rows all match drops out without a rewrite. A point delete probes
    * and rewrites the touched handful of files, not the snapshot.
    */
  def deleteWhere(cond: Column): Int =
    changeWhere("delete", mor = false, cond, None)

  /** Atomic filtered overwrite (replaceWhere — the semantics of
    * `df.writeTo(t).overwrite(cond)` / INSERT OVERWRITE with a
    * predicate): ONE commit that removes every row matching `cond` and
    * adds `df` — [[deleteWhere]]'s copy-on-write rewrite with `df`
    * staged alongside the survivors. Two separate delete+append commits
    * would expose a window where the partition is empty — this is the
    * atomic form a partition-overwrite ETL needs.
    */
  def replaceWhere(cond: Column, df: DataFrame): Int = {
    val v = currentVersion
    val base = manifest(v)
    validateChecksResolve(base.checks, df.schema)
    require(base.schema.fieldNames.forall(df.columns.contains),
      s"replaceWhere data must carry the table schema " +
        s"(${base.schema.fieldNames.mkString(", ")})")
    val newData = df.select(base.schema.fieldNames.toIndexedSeq.map(col): _*)
    changeRows("replaceWhere", v, base, condScope(base, cond), mor = false,
      Some(_.filter(cond)), always = true, output = touched => Some(
        if (touched.isEmpty) newData
        else survivors(touched, base, cond).unionByName(newData)))
  }

  /** Dynamic partition overwrite (`df.writeTo(t).overwritePartitions()`,
    * INSERT OVERWRITE in dynamic mode): replace exactly the partitions
    * PRESENT IN THE DATA, leave every other partition untouched — one
    * atomic [[replaceWhere]] commit on the partition tuples. The tuple
    * set is collected once from the pinned data (partition count is
    * control-plane-sized; pinning keeps a non-deterministic source from
    * producing a tuple set inconsistent with the staged rows). An
    * unpartitioned table degrades to a full overwrite, matching Spark's
    * session-config dynamic semantics.
    */
  def overwritePartitionsDynamic(df: DataFrame): Int = {
    val parts = manifest(currentVersion).partitionBy
    if (parts.isEmpty) return overwrite(df)
    val data = df.cache()
    try replaceWhere(partitionsCond(parts,
      data.select(parts.map(col): _*).distinct().collect()), data)
    finally data.unpersist(blocking = false)
  }

  /** The condition matching exactly the given partition-column tuples
    * (a NULL tuple value matches NULL); no tuples match nothing.
    */
  private def partitionsCond(parts: Seq[String], tuples: Array[Row]): Column =
    tuples.map { r =>
      parts.zipWithIndex.map { case (p, i) =>
        if (r.isNullAt(i)) col(p).isNull else col(p) === lit(r.get(i))
      }.reduce(_ && _)
    }.reduceOption(_ || _).getOrElse(lit(false))

  /** Native v2 BatchWrite landing for dynamic partition overwrite:
    * adopt files the executor-side DataWriters already wrote into
    * `stagingDir` (no second write of the new data — the round-13
    * rewrite path re-staged it), stats them with the same combined
    * job as [[stage]], and commit ONE atomic `overwrite-dynamic`
    * mutation replacing exactly the partitions present in the data.
    * Files are partition-clustered by the write's required
    * distribution, so touched files are normally replaced whole; a
    * mixed file (written before partitioning was configured) keeps its
    * other-partition rows via a bounded copy-on-write rewrite.
    */
  private[lake] def commitDynamicOverwriteStaged(stagingDir: String,
      stagedNames: Seq[String]): Int = {
    val v = currentVersion
    val base = manifest(v)
    require(base.physNames.isEmpty && base.bucketBy.isEmpty,
      "native v2 dynamic overwrite serves identity-mapped, unbucketed " +
        "snapshots; renamed/bucketed tables route through LakeDmlRule")
    val job = UUID.randomUUID().toString.replace("-", "").take(12)
    val named = stagedNames.sorted.zipWithIndex.map { case (n, i) =>
      val target = f"part-$job-$i%05d.parquet"
      Files.move(Paths.get(stagingDir, n), Paths.get(path, target),
        StandardCopyOption.ATOMIC_MOVE)
      target
    }
    LakeTable.deleteRecursively(Paths.get(stagingDir))
    val staged = LakeTable.entriesFor(spark, path, named, base.statsCols)
    enforceChecks(staged, base)
    val parts = base.partitionBy
    val tuples =
      if (parts.isEmpty || named.isEmpty) Array.empty[Row]
      else spark.read.parquet(named.map(n => s"$path/$n"): _*)
        .select(parts.map(col): _*).distinct().collect()
    val cond = partitionsCond(parts, tuples)
    // unpartitioned: dynamic degrades to a full overwrite (every file
    // consumed unprobed), matching Spark's session-config dynamic
    // semantics and overwrite(); no data tuples replace no partition
    val scope: FileEntry => Boolean =
      if (parts.isEmpty) _ => true
      else if (tuples.isEmpty) _ => false
      else condScope(base, cond)
    changeRows("overwrite-dynamic", v, base, scope, mor = false,
      if (parts.isEmpty) None else Some(_.filter(cond)),
      adopted = staged, checkOutput = false, always = true,
      output = touched =>
        if (parts.isEmpty || touched.isEmpty) None
        else Some(survivors(touched, base, cond)))
  }

  /** UPDATE ... SET ... WHERE, copy-on-write: every file holding a
    * matching row is rewritten with each `set` column replaced (cast to
    * the column's type) on the matching rows; a NULL condition leaves
    * the row unchanged, per SQL UPDATE. CHECK constraints gate the
    * rewritten output.
    */
  def updateWhere(cond: Column, set: Map[String, Column]): Int = {
    require(set.nonEmpty, "updateWhere needs at least one SET column")
    changeWhere("update", mor = false, cond, Some(set))
  }

  /** Merge-on-read DELETE: the matching ROW POSITIONS are recorded in a
    * deletion-vector sidecar and no data file is rewritten; every read
    * path (read / scan / prunedRead / merge / changesBetween / compact)
    * masks them via an anti-join on (file, `_metadata.row_index`). At
    * 100 TB this turns a point delete from rewriting N×1 GB files into
    * writing one KB-scale sidecar; reads pay a broadcast anti-join
    * against the (small) live DV set until [[purgeDeletes]] or
    * compaction rewrites the file.
    */
  def deleteWhereMoR(cond: Column): Int =
    changeWhere("delete-mor", mor = true, cond, None)

  /** Merge-on-read UPDATE: the matching rows are DV-masked IN PLACE and
    * only their updated versions are appended as a delta file — ZERO
    * data files rewritten. A point UPDATE costs one KB-scale sidecar
    * plus a delta the size of the touched rows, instead of rewriting
    * each touched GB-scale file.
    */
  def updateWhereMoR(cond: Column, set: Map[String, Column]): Int = {
    require(set.nonEmpty, "updateWhereMoR needs at least one SET column")
    changeWhere("update-mor", mor = true, cond, Some(set))
  }

  /** Merge-on-read MERGE (upsert by `keyCol`): matched target rows are
    * DV-masked and the ENTIRE source frame — updated and inserted rows
    * alike — is appended as delta files, zero files rewritten. The
    * copy-on-write [[merge]] rewrites every file overlapping the source
    * key range INCLUDING its unmatched rows; this variant writes
    * O(|source|) bytes instead — the CDC-ingest shape a 100 TB table
    * wants for frequent small upserts.
    */
  def mergeMoR(updates: DataFrame, keyCol: String): Int = {
    val v = currentVersion
    val base = manifest(v)
    requireSameSchema(updates.schema, base)
    changeRows("merge-mor", v, base, mergeKeyRange(updates, keyCol, base),
      mor = true, always = true, output = _ => Some(updates),
      hits = Some(_.join(updates.select(col(keyCol).as("_upd_key")),
        col(keyCol) === col("_upd_key"), "left_semi")))
  }

  /** DELETE (`set` None) or UPDATE of the rows where `cond` is TRUE, in
    * either mode: `cond`'s stats bounds scope the change and `cond`
    * picks the hit rows. A NULL condition keeps the row unchanged, per
    * SQL.
    */
  private def changeWhere(op: String, mor: Boolean, cond: Column,
      set: Option[Map[String, Column]]): Int = {
    val v = currentVersion
    val base = manifest(v)
    val schema = base.schema
    set.foreach(_.keys.foreach(c =>
      require(schema.fieldNames.contains(c), s"no such column: $c")))
    // when() sends a NULL condition to its otherwise branch: the row stays
    def updated(rows: DataFrame): DataFrame = rows.select(schema.fields.map { f =>
      set.flatMap(_.get(f.name))
        .map(e => when(cond, e.cast(f.dataType)).otherwise(col(f.name)).as(f.name))
        .getOrElse(col(f.name))
    }.toIndexedSeq: _*)
    changeRows(op, v, base, condScope(base, cond), mor, Some(_.filter(cond)),
      checkOutput = set.isDefined, output = touched =>
        if (set.isEmpty) { if (mor) None else Some(survivors(touched, base, cond)) }
        // MoR appends the matching rows only, CoW rewrites whole files
        else Some(updated(
          if (mor) liveRows(touched, base).filter(cond) else readEntries(touched, base))))
  }

  /** The row-level change core: DELETE, UPDATE, MERGE and the filtered
    * overwrites, copy-on-write (CoW) and merge-on-read (MoR) alike, run
    * the Delta Lake sequence here.
    *
    *  1. '''Scope.''' `scope` — a condition's stats bounds
    *     ([[condScope]]) or a merge's key range ([[mergeKeyRange]]) —
    *     selects the candidate files from manifest stats, reading no
    *     data. It is also the rebase conflict predicate handed to
    *     [[commitMutation]]: a file outside the scope can neither hold a
    *     hit row nor invalidate the change.
    *  2. '''Locate.''' `hits` picks the hit rows out of the candidates'
    *     live rows ([[liveRows]]). CoW collects the names of the files
    *     holding them; MoR writes their (file, position) pairs as ONE
    *     deletion-vector sidecar ([[writeDvSidecar]], [[maskEntries]]).
    *     `hits = None` touches every candidate unprobed (CoW only).
    *  3. '''Apply.''' `output(touched)` is the rows to stage. CoW: the
    *     touched files' new contents, replacing them. MoR: the appended
    *     delta; the touched files stay, masked by the sidecar.
    *  4. '''Stage, check, commit, clean up:''' [[commitChange]].
    *
    * A change that touches no file is a no-op returning `v`, unless it
    * adds rows regardless (`always`: merge, replaceWhere, dynamic
    * overwrite). `adopted` are data files the caller already wrote and
    * CHECK-gated; they commit with the change. `checkOutput = false`
    * skips the CHECK gate for an output of already-proven rows (a
    * delete's survivors).
    */
  private def changeRows(op: String, v: Int, base: Manifest,
      scope: FileEntry => Boolean, mor: Boolean,
      hits: Option[DataFrame => DataFrame],
      output: Seq[FileEntry] => Option[DataFrame],
      adopted: Seq[FileEntry] = Nil, checkOutput: Boolean = true,
      always: Boolean = false): Int = {
    val candidates = base.files.filter(scope)
    val hitRows = if (candidates.isEmpty) None
      else hits.map(_(liveRows(candidates, base)))
    val (touched, masked, sidecar) =
      if (!mor) {
        val names = hitRows.fold(Set.empty[String])(
          _.select(col("_gf_file")).distinct().collect().map(_.getString(0)).toSet)
        (if (hits.isEmpty) candidates else candidates.filter(f => names(f.name)),
          Nil, None)
      } else hitRows.flatMap(h =>
          writeDvSidecar(h.select(col("_gf_file"), col("_gf_pos")))) match {
        case Some((sc, perFile)) =>
          val (t, m) = maskEntries(candidates, sc, perFile)
          (t, m, Some(sc))
        case None => (Nil, Nil, None)
      }
    if (touched.isEmpty && !always) v
    else commitChange(op, v, base, scope, touched, masked ++ adopted,
      output(touched), checkOutput, adopted.map(_.name) ++ sidecar)
  }

  /** The tail of [[changeRows]], shared with [[mergeGeneral]]: stage
    * `rows`, gate them against the CHECK constraints (when `checkRows`),
    * and commit `consumed` → `kept ++ staged` through [[commitMutation]]
    * with `scope` as its conflict predicate. A zero-row staged file is
    * deleted instead of committed, so no caller spends a job probing its
    * output for emptiness first.
    *
    * Cleanup: every file the change wrote — `written` (a DV sidecar,
    * adopted files) plus the staged ones — is deleted on a failure
    * known to precede the publish: anything thrown before
    * [[commitMutation]] is entered (a [[CheckViolationException]]
    * included), a [[ConcurrentWriteConflictException]] or a
    * [[ConcurrentCommitException]]. Any other failure inside the commit
    * may follow the publish, so those files stay for vacuum rather than
    * risk deleting what a committed manifest references.
    */
  private def commitChange(op: String, v: Int, base: Manifest,
      scope: FileEntry => Boolean, consumed: Seq[FileEntry],
      kept: Seq[FileEntry] = Nil, rows: => Option[DataFrame] = None,
      checkRows: Boolean = true, written: Seq[String] = Nil): Int = {
    var files = written
    var publishing = false
    try {
      val (empty, staged) = rows.fold(Seq.empty[FileEntry])(stageFiles(_, base))
        .partition(_.rows == 0L)
      files ++= (empty ++ staged).map(_.name)
      empty.foreach(f => Files.deleteIfExists(Paths.get(path, f.name)))
      if (checkRows) enforceChecks(staged, base)
      publishing = true
      commitMutation(v, base, op, consumed, kept ++ staged, scope)
    } catch {
      case NonFatal(e) if !publishing ||
          e.isInstanceOf[ConcurrentWriteConflictException] ||
          e.isInstanceOf[ConcurrentCommitException] =>
        files.foreach(n => Files.deleteIfExists(Paths.get(path, n)))
        throw e
    }
  }

  /** Write the (file, position) pairs of `hits` as ONE deletion-vector
    * sidecar parquet in the table root (positions are small next to
    * data; a mask wide enough to make this big belongs in the
    * copy-on-write path). Returns the sidecar name and its per-file
    * masked-row counts; None when nothing matched. The counts are read
    * from the scratch copy, so the sidecar enters the table root only
    * as the last step. It is dead data until a manifest references
    * it — a crash here leaves an orphan for the next vacuum, never a
    * corrupt snapshot.
    */
  private def writeDvSidecar(hits: DataFrame)
      : Option[(String, Map[String, Long])] = {
    val job = UUID.randomUUID().toString.replace("-", "").take(12)
    val scratch = Paths.get(path, s"_staging_dv_$job")
    try {
      hits.coalesce(1).write.mode("overwrite").parquet(scratch.toString)
      val part = Option(scratch.toFile.list((_, n) =>
          n.startsWith("part-") && n.endsWith(".parquet")))
        .getOrElse(Array.empty[String]).sorted.headOption
      part.flatMap { p =>
        val perFile = spark.read.schema(LakeTable.dvSidecarSchema)
          .parquet(scratch.resolve(p).toString)
          .groupBy(col("_gf_file")).count()
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        if (perFile.isEmpty) None
        else {
          val sidecar = s"dv-$job.parquet"
          Files.move(scratch.resolve(p), Paths.get(path, sidecar),
            StandardCopyOption.ATOMIC_MOVE)
          Some((sidecar, perFile))
        }
      }
    } finally LakeTable.deleteRecursively(scratch)
  }

  /** Split `files` into (touched, masked): entries the sidecar masks
    * rows of, and their DV-extended replacements — a file whose every
    * live row is now masked drops from the manifest outright.
    */
  private def maskEntries(files: Seq[FileEntry], sidecar: String,
      perFile: Map[String, Long]): (Seq[FileEntry], Seq[FileEntry]) = {
    val touched = files.filter(f => perFile.contains(f.name))
    val masked = touched.flatMap { f =>
      val n = perFile(f.name)
      if (f.dvRows + n >= f.rows) None // fully deleted
      else Some(f.copy(dv = f.dv :+ sidecar, dvRows = f.dvRows + n))
    }
    (touched, masked)
  }

  /** The scope of a merge: the source key range as a manifest-stats
    * overlap predicate, in the SAME encoding the stats use (micros for
    * timestamp keys, days for dates, truncated UTF-8 for strings — a
    * bare cast("long") would give seconds for timestamps and silently
    * mis-prune; stats are keyed by PHYSICAL name). Validates a
    * non-empty, not-all-NULL-key source up front.
    */
  private def mergeKeyRange(updates: DataFrame, keyCol: String,
      base: Manifest): FileEntry => Boolean = {
    val schema = base.schema
    val physKey = base.physOf(keyCol)
    val keyIsString = schema(keyCol).dataType == StringType
    val keyEnc =
      if (keyIsString) col(keyCol)
      else LakeTable.statLong(keyCol, schema(keyCol).dataType)
    val range = updates.agg(min(keyEnc), max(keyEnc), count(lit(1))).head()
    require(range.getLong(2) > 0, "merge with an empty updates frame")
    require(!range.isNullAt(0),
      s"merge updates have only NULL $keyCol keys — nothing to match on")
    if (keyIsString) {
      val (lo, hi) = (Some(range.getString(0)), Some(range.getString(1)))
      f => f.strOverlaps(physKey, lo, hi)
    } else {
      val (lo, hi) = (range.getLong(0), range.getLong(1))
      f => f.overlaps(physKey, lo, hi)
    }
  }

  /** The scope of a condition: a file can hold a row matching `cond`
    * only if its stats overlap every per-column bound `cond`'s
    * conjuncts imply ([[LakeFileIndex.boundsOf]], the translation the
    * Catalyst scan path uses). No derivable bound = every file is in
    * scope, conservatively.
    */
  private def condScope(base: Manifest, cond: Column): FileEntry => Boolean = {
    // analysis-only: an empty frame with the manifest schema resolves
    // the Column without touching data or sidecar footers
    val probe = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], base.schema)
    val bounds = LakeFileIndex.resolvedCondition(probe, cond)
      .map(e => LakeFileIndex.boundsOf(Seq(e), base.statsCols.toSet))
      .getOrElse(Map.empty)
    f => bounds.forall { case (c, (lo, hi)) =>
      f.overlaps(base.physOf(c), lo, hi) }
  }

  /** The rows of `touched` a delete keeps: those where `cond` is not
    * TRUE (a NULL condition keeps the row, per SQL DELETE).
    */
  private def survivors(touched: Seq[FileEntry], base: Manifest,
      cond: Column): DataFrame =
    readEntries(touched, base).filter(!coalesce(cond, lit(false)))

  /** The LIVE rows of `entries` (deletion vectors applied) with their
    * physical provenance exposed as `_gf_file` / `_gf_pos` — what
    * [[changeRows]] probes for hit rows.
    */
  private def liveRows(entries: Seq[FileEntry],
      m: Manifest): DataFrame = {
    val raw = withProvenance(spark.read.schema(m.physSchema)
      .parquet(entries.map(f => s"$path/${f.name}"): _*))
    val sidecars = entries.flatMap(_.dv).distinct
    val masked = if (sidecars.isEmpty) raw else maskDeleted(raw, sidecars)
    if (m.physNames.isEmpty) masked
    else masked.select(m.schema.fields.map(f =>
      col(m.physOf(f.name)).as(f.name)).toIndexedSeq
      :+ col("_gf_file") :+ col("_gf_pos"): _*)
  }

  /** OPTIMIZE: bin-pack the small files (rows < `smallFileRows`) into
    * ~`targetRows`-row files. Content-identical by construction — only
    * the file layout changes; files already at size carry over by
    * reference. No-op (returns the current version) when fewer than two
    * small files exist. The streaming-merge pattern makes this matter:
    * a per-microbatch MERGE leaves one small file per batch, and
    * compaction is what keeps the file count O(data), not O(batches).
    */
  def compact(smallFileRows: Long, targetRows: Long): Int =
    compact(smallFileRows, targetRows, Seq.empty)

  /** OPTIMIZE ... ZORDER-shaped variant: when `clusterBy` is non-empty
    * the rewritten rows are RANGE-partitioned on those columns, so each
    * produced file covers a narrow, near-disjoint key range — which is
    * what makes the manifest [min,max] stats actually prune. A
    * hash-layout table answers every point read by opening every file;
    * after a clustered compact the same [[prunedRead]] opens ~1. Same
    * atomic-version, content-identical contract as the plain compact.
    */
  def compact(smallFileRows: Long, targetRows: Long, clusterBy: Seq[String]): Int = {
    val v = currentVersion
    val base = manifest(v)
    val (small, big) = base.files.partition(f => f.rows - f.dvRows < smallFileRows)
    if (small.size < 2) return v
    val data = readEntries(small, base) // DVs applied → purged by the rewrite
    val totalRows = small.map(f => f.rows - f.dvRows).sum
    val nOut = math.max(1, math.ceil(totalRows.toDouble / targetRows).toInt)
    val laidOut =
      if (clusterBy.isEmpty) data.repartition(nOut)
      else data.repartitionByRange(nOut, clusterBy.map(col): _*)
    val staged = stageFiles(laidOut, base)
    // layout-only: concurrent additions never conflict, they carry over
    commitMutation(v, base,
      if (clusterBy.isEmpty) "compact" else "compact-clustered",
      small, staged, _ => false)
  }

  /** OPTIMIZE ... ZORDER BY (a, b, ...): MULTI-dimensional clustered
    * rewrite. Range clustering ([[compact]] with `clusterBy`) gives
    * perfect locality on the leading column and none on the others; a
    * Z-ORDER interleaves the bit representations of ALL the given
    * columns into one space-filling-curve key, so per-file [min,max]
    * stats prune range reads on EVERY zordered column (each ~√F of the
    * files for 2-D instead of all F — the standard Delta/Iceberg
    * OPTIMIZE ZORDER trade).
    *
    * Mechanics, all codegen arithmetic — no UDF:
    * bucket_i = the column scaled into 2^bits buckets over its GLOBAL
    * [min,max] (taken from the manifest stats — control plane — when
    * recorded, else one agg); z = the bits of every bucket_i
    * interleaved round-robin; rows are then range-partitioned AND
    * sorted by z. Content-identical; one atomic version; the whole
    * table is rewritten (that is what OPTIMIZE ZORDER does — paid
    * once, amortized over every subsequent pruned read on any of the
    * zordered columns).
    */
  def zorderCompact(targetRows: Long, zorderBy: Seq[String]): Int = {
    require(zorderBy.nonEmpty, "zorderCompact needs at least one column")
    require(manifest(currentVersion).bucketBy.isEmpty,
      "zorderCompact would break the bucket layout; drop bucketing first")
    val v = currentVersion
    val base = manifest(v)
    if (base.files.isEmpty) return v
    val schema = base.schema
    zorderBy.foreach { c =>
      require(LakeTable.isStatsType(schema(c).dataType),
        s"zorder column $c must be integral/timestamp/date/string, " +
          s"is ${schema(c).dataType}")
    }
    val data = readEntries(base.files, base)
    // the z bucketing needs an ORDER-PRESERVING long per column:
    // integrals/timestamps/dates via their stats encoding, strings via
    // the first 7 UTF-8 bytes right-padded with zeros (left-aligned so
    // "b" > "aa" numerically, exactly like the lexicographic order) —
    // all codegen built-ins, no UDF
    def zenc(c: String): Column = schema(c).dataType match {
      case StringType => expr(
        s"cast(conv(hex(rpad(substring(encode(`$c`, 'utf-8'), 1, 7), " +
          "7, x'00')), 16, 10) as bigint)")
      case t => LakeTable.statLong(c, t)
    }
    // global [lo, hi] per column: manifest stats when every file
    // recorded them (control plane), else one data-plane aggregate
    // (strings always aggregate — their manifest stats are truncated
    // text, not the z encoding)
    val ranges: Map[String, (Long, Long)] = {
      val fromStats = zorderBy.flatMap { c =>
        val perFile = base.files.map(_.stats.get(base.physOf(c)))
        if (schema(c).dataType != StringType && perFile.forall(_.isDefined))
          Some(c -> (perFile.map(_.get._1).min, perFile.map(_.get._2).max))
        else None
      }.toMap
      val missing = zorderBy.filterNot(fromStats.contains)
      if (missing.isEmpty) fromStats
      else {
        val aggs = missing.flatMap(c => Seq(
          min(zenc(c)).as(s"_lo_$c"), max(zenc(c)).as(s"_hi_$c")))
        val r = data.agg(aggs.head, aggs.tail: _*).head()
        fromStats ++ missing.map(c =>
          c -> (r.getAs[Long](s"_lo_$c"), r.getAs[Long](s"_hi_$c")))
      }
    }
    val bits = math.max(1, 32 / zorderBy.size) // z fits in a long
    val buckets = 1L << bits
    // bucket_i in [0, 2^bits): (v - lo) * buckets / (hi - lo + 1),
    // nulls to bucket 0. Long arithmetic needs (v - lo) * buckets to
    // fit a long for every v in [lo, hi] — i.e. span * buckets < 2^63.
    // Wide columns (span beyond ~2^{63-bits}) switch to double scaling:
    // a 53-bit mantissa can misplace a value by one bucket at the very
    // edges, which only perturbs the layout (clustering quality), never
    // content — identical rows come out either way.
    def bucketOf(c: String): Column = {
      val (lo, hi) = ranges(c)
      val enc = zenc(c)
      val spanOk = hi - lo + 1L > 0L // hi - lo itself can overflow
      val scaled =
        if (spanOk && (hi - lo + 1L) <= Long.MaxValue / buckets) {
          val span = math.max(1L, hi - lo + 1L)
          (coalesce(enc, lit(lo)) - lit(lo)) * lit(buckets) / lit(span)
        } else {
          // (v - lo) can overflow a long too when the span does —
          // normalize in double end to end
          val spanD = hi.toDouble - lo.toDouble + 1.0
          ((coalesce(enc.cast("double"), lit(lo.toDouble)) -
            lit(lo.toDouble)) * lit(buckets.toDouble) / lit(spanD))
            .cast("long")
        }
      least(greatest(scaled, lit(0L)), lit(buckets - 1L))
    }
    // z = round-robin bit interleave: bit j of bucket_i lands at
    // position j * n + i. An expression tree of shifts/masks/ORs —
    // whole-stage-codegen friendly, no UDF.
    val n = zorderBy.size
    val z = zorderBy.zipWithIndex.map { case (c, i) =>
      val b = bucketOf(c)
      (0 until bits).map { j =>
        shiftleft(shiftright(b, j).bitwiseAND(lit(1L)), j * n + i)
      }.reduce(_.bitwiseOR(_))
    }.reduce(_.bitwiseOR(_))
    val totalRows = base.files.map(f => f.rows - f.dvRows).sum
    val nOut = math.max(1, math.ceil(totalRows.toDouble / targetRows).toInt)
    val laidOut = data.withColumn("_graft_z", z)
      .repartitionByRange(nOut, col("_graft_z"))
      .sortWithinPartitions("_graft_z")
      .drop("_graft_z")
    val staged = stageFiles(laidOut, base)
    // layout-only: files appended during the rewrite rebase in unsorted
    // (they get clustered by the next zorder pass)
    commitMutation(v, base, "zorder", base.files, staged, _ => false)
  }

  /** Fraction of the current snapshot's physical rows masked by
    * deletion vectors — the table's DV debt. Control-plane only (one
    * manifest read). Reads pay one broadcast anti-join while this is
    * non-zero; [[purgeDeletes]] reclaims it.
    */
  def dvDebt: Double = {
    val m = manifest(currentVersion)
    val tot = m.files.map(_.rows).sum
    if (tot == 0L) 0.0 else m.files.map(_.dvRows).sum.toDouble / tot
  }

  /** The DV-debt policy: rewrite every file whose own dvRows/rows ratio
    * is at least `minDebt` (0.0 = any DV at all), dropping its deletion
    * vectors — merge-on-read deletes buy cheap writes by taxing reads,
    * and this is where the tax is repaid. Content-identical by
    * construction (the rewrite materializes exactly the live rows), one
    * atomic commit, files below the threshold keep their DVs, and the
    * retired sidecars become unreferenced for the next vacuum. Returns
    * the current version when nothing crosses the threshold.
    */
  def purgeDeletes(minDebt: Double = 0.0): Int = {
    val v = currentVersion
    val base = manifest(v)
    val indebted = base.files.filter(f =>
      f.dvRows > 0 && f.dvRows.toDouble / f.rows >= minDebt)
    if (indebted.isEmpty) return v
    val staged = stageFiles(readEntries(indebted, base), base)
    // content-identical layout move: concurrent additions never conflict
    commitMutation(v, base, "purge-dv", indebted, staged, _ => false)
  }

  /** Drop manifests older than the last `retainVersions` and every
    * data file no retained manifest references (including orphans from
    * crashed/lost-race writers). Returns the deleted file names.
    */
  def vacuum(retainVersions: Int): Seq[String] =
    vacuum(retainVersions, OrphanGraceMs)

  /** [[vacuum]] with an explicit orphan grace window. Two deletion
    * categories with different safety proofs:
    *
    *  1. Files referenced by a DROPPED manifest and by no retained one
    *     — always safe to delete immediately: a committing writer only
    *     references its own freshly staged files plus files carried
    *     from the manifest it (re)based on, and both the clean-win and
    *     the rebase path base on the current head, which `retain >= 1`
    *     always keeps. A time-travel reader of a dropped version gets a
    *     clear missing-file/missing-version error, never partial rows
    *     (see LakeGcSpec).
    *  2. Files referenced by NO manifest at all. These are either
    *     crash orphans (safe to delete) or — the race this grace window
    *     exists for — a concurrent writer's staged-but-not-yet-committed
    *     files, which [[stage]] moves into the table root BEFORE the
    *     manifest commit. Deleting those would corrupt the table the
    *     moment the writer commits, so unreferenced files are reclaimed
    *     only once older than `orphanGraceMs` (default 10 min, the
    *     Delta-style retention discipline scaled to staging latency; a
    *     staging pass that outlives the grace window should raise it).
    */
  def vacuum(retainVersions: Int, orphanGraceMs: Long): Seq[String] = {
    require(retainVersions >= 1, "must retain at least the current version")
    val vs = listVersions.sorted
    val (drop, keep) = vs.splitAt(math.max(0, vs.size - retainVersions))
    val referenced = keep.flatMap { v =>
      manifest(v).files.flatMap(f => f.name +: f.dv)
    }.toSet
    val droppedRefs = drop.flatMap { v =>
      manifest(v).files.flatMap(f => f.name +: f.dv)
    }.toSet
    val now = System.currentTimeMillis()
    val dataDead = Option(new File(path).list((_, n) => n.endsWith(".parquet")))
      .getOrElse(Array.empty[String]).toSeq
      .filterNot(referenced)
      .filter { n =>
        droppedRefs(n) ||
          now - new File(path, n).lastModified() >= orphanGraceMs
      }
    dataDead.foreach(n => Files.deleteIfExists(Paths.get(path, n)))
    // orphaned v2 staging directories: a driver crash between the
    // executors' writer commits and BatchWrite.commit leaves
    // `_staging_v2_<job>` behind (the dynamic-overwrite path) — sweep
    // whole directories once older than the grace window; a live
    // in-flight write is always younger than the grace
    val stagingDead = Option(new File(path).list((_, n) => n.startsWith("_staging_v2_")))
      .getOrElse(Array.empty[String]).toSeq
      .filter(n => now - new File(path, n).lastModified() >= orphanGraceMs)
    stagingDead.foreach(n => LakeTable.deleteRecursively(Paths.get(path, n)))
    // the oldest retained version must reconstruct standalone once the
    // older log entries are gone: if it exists only as a delta,
    // checkpoint it (atomically; a racing vacuum's EEXIST is success)
    // BEFORE dropping the chain it currently depends on
    keep.headOption.foreach { v0 =>
      val mp = logDir.resolve(f"v$v0%08d.manifest")
      if (!Files.exists(mp)) {
        val tmp = logDir.resolve(s".tmp_${UUID.randomUUID().toString.take(8)}")
        Files.writeString(tmp, Manifest.render(manifest(v0)))
        try Files.createLink(mp, tmp)
        catch { case _: FileAlreadyExistsException => () }
        Files.deleteIfExists(tmp)
        Files.deleteIfExists(logDir.resolve(f"v$v0%08d.delta"))
      }
    }
    drop.foreach { v =>
      Files.deleteIfExists(logDir.resolve(f"v$v%08d.manifest"))
      Files.deleteIfExists(logDir.resolve(f"v$v%08d.delta"))
    }
    Option(logDir.toFile.list((_, n) => n.startsWith(".tmp_")))
      .getOrElse(Array.empty[String])
      .foreach(n => Files.deleteIfExists(logDir.resolve(n)))
    dataDead ++ stagingDead
  }

  /** SHALLOW CLONE: fork the current snapshot into a NEW table at
    * `targetPath` with ZERO data rewritten — every data file and DV
    * sidecar is hard-linked into the target directory (same inode; a
    * cross-filesystem target falls back to a copy), and the clone gets
    * its own v1 manifest. Because both tables treat files as immutable
    * and vacuum by unlinking, the clone and the source age
    * independently: either side can delete/merge/compact/vacuum and
    * the other's inodes stay alive until ITS references drop — the
    * crash-safety Delta's path-sharing shallow clones lack. The
    * streaming ledger and constraints carry over (a clone is the same
    * logical table forked); at 100 TB a clone costs one metadata pass,
    * which is what makes dev/test forks of production tables viable.
    */
  def clone(targetPath: String): LakeTable = {
    val m = manifest(currentVersion)
    val targetLog = Paths.get(targetPath, LogDir)
    require(!Files.exists(targetLog),
      s"a lake table already exists at $targetPath")
    Files.createDirectories(targetLog)
    val toLink = (m.files.map(_.name) ++ m.files.flatMap(_.dv)).distinct
    toLink.foreach { n =>
      val src = Paths.get(path, n)
      val dst = Paths.get(targetPath, n)
      try Files.createLink(dst, src)
      catch {
        case _: UnsupportedOperationException | _: java.io.IOException =>
          Files.copy(src, dst, StandardCopyOption.REPLACE_EXISTING)
      }
    }
    LakeTable.commit(targetLog.toString, 1, m.copy(operation = "clone"))
    LakeTable.forPath(spark, targetPath)
  }

  /** RESTORE TABLE ... TO VERSION: make retained snapshot `version`
    * current again, as a NEW commit — history is append-only and no
    * data moves (the restored manifest references the same immutable
    * files, which retention kept alive because the version is still in
    * the log). GOVERNANCE rides the HEAD, not the restored version:
    * the streaming ledger (`txns`) never rolls back (replay protection
    * must survive a restore or a checkpointed stream would
    * double-append), and CHECK constraints stay active — restoring
    * must not silently disable them, so the restored snapshot is
    * re-proven against the head's constraint set (one scan; restore is
    * rare) and the restore FAILS if the old data violates a
    * constraint added since.
    */
  def restore(version: Int): Int = {
    val cur = currentVersion
    if (version == cur) return cur
    val target = manifest(version) // validates the version is retained
    val head = manifest(cur)
    if (head.checks.nonEmpty && head.checks != target.checks) {
      // surface "constraint references a column the restored schema
      // lacks" as a clear drop-or-migrate error, not an opaque
      // AnalysisException out of expr()
      validateChecksResolve(head.checks, target.schema)
      val probe = readManifest(target)
      head.checks.foreach { case (n, e) =>
        if (probe.filter(!coalesce(expr(e), lit(true))).limit(1).count() > 0L)
          throw new CheckViolationException(n, e,
            s"rows of restored version $version")
      }
    }
    LakeTable.commit(logDir.toString, cur + 1,
      target.copy(operation = "restore", txns = head.txns,
        checks = head.checks))
  }

  /** ADD CONSTRAINT name CHECK (exprSql): the CURRENT snapshot is
    * validated first (one aggregate over the data — paid once), then
    * the constraint is recorded in the manifest so every subsequent
    * write validates its INCOMING rows only (the existing data was
    * proven at add time — the Delta invariant model; at 100 TB each
    * append scans the appended delta, never the table). NULL
    * evaluations PASS, per SQL CHECK three-valued semantics.
    */
  def addCheck(name: String, exprSql: String): Int = {
    require(name.nonEmpty, "constraint name must be non-empty")
    val v = currentVersion
    val base = manifest(v)
    require(!base.checks.contains(name), s"constraint $name already exists")
    val probe = readManifest(base)
    probe.filter(!coalesce(expr(exprSql), lit(true))).limit(1).count() match {
      case 0L =>
      case _ => throw new CheckViolationException(name, exprSql, "existing rows")
    }
    commit(v + 1, "add-check", base.files,
      base.copy(checks = base.checks + (name -> exprSql)))
  }

  /** DROP CONSTRAINT: metadata-only commit. */
  def dropCheck(name: String): Int = {
    val v = currentVersion
    val base = manifest(v)
    require(base.checks.contains(name), s"no such constraint: $name")
    commit(v + 1, "drop-check", base.files,
      base.copy(checks = base.checks - name))
  }

  /** DESCRIBE-statistics report folded from the manifest — zero file
    * I/O, zero Spark jobs: per stats column, the logical row count
    * (DV-aware), the exact recorded null count, the HLL ndv estimate,
    * and the long [min,max] where the column is integral. Null counts
    * are physical-row exact; ndv is a sketch estimate (lgK=8, ~6.5%).
    * Columns whose files predate the recording report NULL for that
    * figure rather than a fabricated value.
    */
  def statsReport(): DataFrame = {
    val m = manifest(currentVersion)
    val rowCount = m.files.map(f => f.rows - f.dvRows).sum
    val rows = m.statsCols.sorted.map { c =>
      val phys = m.physOf(c)
      val bounds: Option[(Long, Long)] =
        if (m.files.nonEmpty && m.files.forall(_.stats.contains(phys)) &&
            LakeTable.isIntegral(m.schema(c).dataType))
          Some((m.files.map(_.stats(phys)._1).min,
            m.files.map(_.stats(phys)._2).max))
        else None
      Row(c, rowCount,
        LakeTable.manifestNulls(m, phys).map(java.lang.Long.valueOf).orNull,
        LakeTable.manifestNdv(m, phys).map(java.lang.Long.valueOf).orNull,
        bounds.map(b => java.lang.Long.valueOf(b._1)).orNull,
        bounds.map(b => java.lang.Long.valueOf(b._2)).orNull)
    }
    import org.apache.spark.sql.types._
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(
        StructField("column", StringType, nullable = false),
        StructField("row_count", LongType, nullable = false),
        StructField("null_count", LongType),
        StructField("ndv_est", LongType),
        StructField("min_value", LongType),
        StructField("max_value", LongType))))
  }

  /** Build a per-file BLOOM INDEX for equality pruning on `cols` —
    * the skip structure for exactly the case [min,max] stats cannot
    * serve: a high-cardinality column whose values are spread so every
    * file's range covers every probe (hashed ids, UUIDs, scrambled
    * keys). One distributed pass reads the table, hashes each value
    * [[LakeTable.BloomSeeds]] ways, and bit-ORs per-file bitmaps sized
    * at ~10 bits/row; the commit is data-free (every file carries by
    * reference, only the manifest grows). Files appended AFTER the
    * build have no bitmap and conservatively always match — re-run to
    * cover them. NULLs are not indexed (a bloom answers non-null
    * equality only).
    */
  def buildBloomIndex(cols: Seq[String]): Int = {
    import org.apache.spark.sql.types.StringType
    val v = currentVersion
    val base = manifest(v)
    require(cols.nonEmpty, "buildBloomIndex needs at least one column")
    cols.foreach { c =>
      val dt = base.schema(c).dataType
      require(dt == StringType || LakeTable.isIntegral(dt),
        s"bloom index supports integral/string columns; $c is $dt")
    }
    if (base.files.isEmpty)
      return commit(v + 1, "bloom-index", base.files, base)
    val phys = cols.map(base.physOf)
    import spark.implicits._
    val mByName = base.files.map(f => f.name -> LakeTable.bloomBits(f.rows))
    val mDf = mByName.toDF("_fname", "_m")
    val raw = spark.read.schema(base.physSchema)
      .parquet(base.files.map(f => s"$path/${f.name}"): _*)
      .withColumn("_fname", element_at(split(input_file_name(), "/"), -1))
      .join(broadcast(mDf), "_fname")
    // per indexed column: positions = xxhash64(seed, value) mod m(file),
    // folded to (file, word) -> bits by a distributed bit_or — the
    // manifest-plane result is |files| × m/64 rows, never row-plane
    val byCol: Map[String, Map[String, Array[Long]]] = phys.map { pc =>
      val dt = base.physSchema(pc).dataType
      val enc = if (dt == StringType) col(pc) else col(pc).cast("long")
      val words = raw.filter(enc.isNotNull)
        .select(col("_fname"), col("_m"),
          explode(array((0 until LakeTable.BloomSeeds).map(k =>
            pmod(xxhash64(lit(k), enc), col("_m"))): _*)).as("_p"))
        .groupBy(col("_fname"), shiftright(col("_p"), 6).cast("int").as("_w"))
        .agg(bit_or(expr("shiftleft(CAST(1 AS BIGINT), CAST(_p & 63 AS INT))"))
          .as("_bits"))
        .collect()
      val mMap = mByName.toMap
      pc -> words.groupBy(_.getString(0)).map { case (fname, rs) =>
        val arr = new Array[Long]((mMap(fname) / 64L).toInt)
        rs.foreach(r => arr(r.getInt(1)) = r.getLong(2))
        fname -> arr
      }
    }.toMap
    val files2 = base.files.map { f =>
      val add = phys.flatMap(pc =>
        byCol(pc).get(f.name).map(arr => pc -> LakeTable.bloomEncode(arr)))
      // a file that is all-NULL in an indexed column gets the empty
      // bitmap explicitly, so probes prune it instead of defaulting open
      val empty = phys.filterNot(pc => byCol(pc).contains(f.name))
        .map(pc => pc -> LakeTable.bloomEncode(
          new Array[Long]((LakeTable.bloomBits(f.rows) / 64L).toInt)))
      f.copy(bloom = f.bloom ++ add ++ empty)
    }
    commit(v + 1, "bloom-index", files2, base)
  }

  /** Equality read through the bloom index: opens only the files whose
    * bitmap admits `value` (AND the [min,max] stats, when present).
    * Files without a bitmap for the column stay conservatively
    * included, so the read is always exact — the index only SKIPS.
    */
  def bloomPrunedRead(c: String, value: Any): DataFrame = {
    val (candidates, m) = bloomCandidates(c, value)
    readEntries(candidates, m)
  }

  /** The file count [[bloomPrunedRead]] would open — the in-band
    * pruning evidence declared queries assert without a second scan.
    */
  def bloomCandidateCount(c: String, value: Any): Int =
    bloomCandidates(c, value)._1.size

  private def bloomCandidates(c: String, value: Any): (Seq[FileEntry], Manifest) = {
    val m = manifest(currentVersion)
    val phys = m.physOf(c)
    val widened: Any = value match {
      case i: Int => i.toLong
      case s: Short => s.toLong
      case b: Byte => b.toLong
      case other => other
    }
    val hs = LakeTable.bloomHashes(widened)
    (m.files.filter { f =>
      val statsOk = widened match {
        case l: Long => f.overlaps(phys, l, l)
        case s: String => f.strOverlaps(phys, Some(s), Some(s))
        case _ => true
      }
      statsOk && f.mightContain(phys, hs)
    }, m)
  }

  /** ALTER TABLE ... SET PARTITIONING: a metadata-only commit — because
    * the manifest (not a directory scheme) is the index, changing the
    * partition spec affects only FUTURE writes; existing files keep
    * their recorded min = max = value stats and keep pruning under the
    * old layout. This is Iceberg's partition-spec evolution, free by
    * construction here: no rewrite, no dual-read path, and a query
    * never needs to know which spec a file was written under.
    */
  def setPartitionBy(partitionBy: Seq[String]): Int = {
    val v = currentVersion
    val base = manifest(v)
    if (partitionBy == base.partitionBy) return v
    require(base.bucketBy.isEmpty || partitionBy.isEmpty,
      "partitionBy and bucketBy are mutually exclusive")
    val schema = base.schema
    partitionBy.foreach { c =>
      require(schema.fieldNames.contains(c), s"no such column: $c")
      require(LakeTable.isStatsType(schema(c).dataType),
        s"partition column $c must be integral/timestamp/date/string, " +
          s"is ${schema(c).dataType}")
    }
    // new partition columns get exact-value stats on future files
    val stats = base.statsCols ++
      partitionBy.filterNot(base.statsCols.contains)
    commit(v + 1, "set-partitioning", base.files,
      base.copy(partitionBy = partitionBy, statsCols = stats))
  }

  /** ALTER TABLE ... RENAME COLUMN: a metadata-only commit via column
    * mapping (the Delta columnMapping model). The PHYSICAL parquet field
    * name never changes — old and new files keep agreeing on it — so a
    * rename rewrites ZERO data, old snapshots time-travel under their
    * own (old) logical names, and stats/partition pruning keep working
    * (stats are keyed physically). CHECK constraints referencing the
    * column must be dropped or migrated first — silently rebinding an
    * invariant expression would change what it proves.
    */
  def renameColumn(oldName: String, newName: String): Int = {
    val v = currentVersion
    val base = manifest(v)
    val schema = base.schema
    require(schema.fieldNames.contains(oldName), s"no such column: $oldName")
    require(!schema.fieldNames.contains(newName),
      s"column $newName already exists")
    // a resolvable-under-the-NEW-schema check might still silently
    // rebind; require the old name to be absent from every check expr
    val newSchema = StructType(schema.fields.map(f =>
      if (f.name == oldName) f.copy(name = newName) else f))
    val probe = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], schema)
    base.checks.foreach { case (n, e) =>
      val refs = probe.filter(coalesce(expr(e), lit(true)))
        .queryExecution.analyzed.expressions
        .flatMap(_.references.map(_.name)).toSet
      require(!refs.contains(oldName),
        s"CHECK constraint $n ($e) references $oldName: " +
          s"DROP CONSTRAINT $n, rename, then re-add it under $newName")
    }
    def ren(c: String): String = if (c == oldName) newName else c
    // bucketBy must remap too: leaving the stale logical name would stay
    // physically correct only until another column is renamed INTO the
    // freed name — then physOf(bucketBy) silently resolves to the wrong
    // column and new writes bucket wrongly while the scan still
    // advertises the BucketSpec (shuffle-free joins with wrong results)
    commit(v + 1, "rename-column", base.files, base.copy(
      schemaJson = newSchema.json,
      statsCols = base.statsCols.map(ren),
      partitionBy = base.partitionBy.map(ren),
      bucketBy = base.bucketBy.map(ren),
      physNames = (base.physNames - oldName) +
        (newName -> base.physOf(oldName))))
  }

  /** The recorded CHECK constraints (name -> SQL expression). */
  def checks: Map[String, String] = manifest(currentVersion).checks

  /** One aggregate pass over the STAGED files, all constraints at
    * once; throws [[CheckViolationException]] naming the first violated
    * one, deleting the staged files first — a rejected write leaves
    * neither a commit nor orphans. Validating staged parquet instead of
    * the incoming DataFrame means the input lineage is computed exactly
    * once (staging), and a commit-time retry can cheaply re-enforce
    * against a constraint set a concurrent addCheck just changed.
    */
  private def enforceChecks(staged: Seq[FileEntry], base: Manifest,
      schemaOverride: StructType = null): Unit = {
    if (base.checks.isEmpty || staged.isEmpty) return
    val logical =
      if (schemaOverride != null) schemaOverride
      else base.schema
    // staged parquet carries physical names; check exprs use logical
    val phys = StructType(logical.fields.map(f =>
      f.copy(name = base.physOf(f.name))))
    val aggs = base.checks.toSeq.map { case (n, e) =>
      count_if(!coalesce(expr(e), lit(true))).as(n)
    }
    val raw = spark.read.schema(phys)
      .parquet(staged.map(f => s"$path/${f.name}"): _*)
    val logicalDf =
      if (base.physNames.isEmpty) raw
      else raw.toDF(logical.fieldNames.toIndexedSeq: _*)
    val r = logicalDf.agg(aggs.head, aggs.tail: _*).head()
    base.checks.toSeq.foreach { case (n, e) =>
      if (r.getAs[Long](n) > 0L) {
        staged.foreach(f => Files.deleteIfExists(Paths.get(path, f.name)))
        throw new CheckViolationException(n, e, s"${r.getAs[Long](n)} incoming rows")
      }
    }
  }

  /** Every recorded CHECK expression must resolve against `schema` —
    * called by schema-changing paths (overwrite, restore) BEFORE any
    * data is staged, so "constraint X references a dropped column"
    * fails with an actionable message instead of an opaque analysis
    * error mid-write (and never orphans staged files).
    */
  private def validateChecksResolve(checks: Map[String, String],
      schema: StructType): Unit = {
    if (checks.isEmpty) return
    val probe = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    checks.foreach { case (n, e) =>
      try probe.filter(coalesce(expr(e), lit(true))).queryExecution.analyzed
      catch { case NonFatal(ex) =>
        throw new IllegalArgumentException(
          s"CHECK constraint $n ($e) does not resolve against the new schema " +
            s"${schema.simpleString}: DROP CONSTRAINT $n or migrate it first", ex)
      }
    }
  }

  // ---- internals --------------------------------------------------------

  private def requireSameSchema(s: StructType, base: Manifest): Unit = {
    val cur = base.schema
    require(s.fields.map(f => (f.name, f.dataType)).toSeq ==
        cur.fields.map(f => (f.name, f.dataType)).toSeq,
      s"schema mismatch: table has ${cur.simpleString}, got ${s.simpleString}")
  }

  private def statsColsOf(df: DataFrame, base: Manifest): Seq[String] = {
    val statsTyped = df.schema.fields
      .collect { case f if LakeTable.isStatsType(f.dataType) => f.name }.toSet
    base.statsCols.filter(statsTyped)
  }

  /** Write `df` into the table directory under job-unique names and
    * return one manifest entry per produced file, stats included.
    * Runs BEFORE the manifest commit: a crash here leaves orphans the
    * next vacuum collects, never a corrupt snapshot.
    */
  private def stageFiles(df: DataFrame,
      base: Manifest = manifest(currentVersion)): Seq[FileEntry] = {
    // files store PHYSICAL names: rename the (logical) frame on the way
    // in, and key the recorded stats physically too
    val physDf =
      if (base.physNames.isEmpty) df
      else df.toDF(df.columns.map(base.physOf).toIndexedSeq: _*)
    LakeTable.stage(spark, path, physDf,
      base.statsCols.map(base.physOf), base.partitionBy.map(base.physOf),
      base.bucketBy.map(base.physOf), base.buckets)
  }

  private def retryCommit(attempt: Int => Int): Int = {
    var tries = 0
    while (true) {
      try return attempt(currentVersion)
      catch { case _: ConcurrentCommitException if tries < 5 => tries += 1 }
    }
    -1 // unreachable
  }

  /** Commit a mutation — a copy-on-write rewrite, a merge-on-read DV
    * attach, or a layout move — with OPTIMISTIC APPEND REBASE, the Delta
    * conflict-resolution model. The mutation planned against
    * `base` (read at `vRead`), consumed `consumed` (entries it rewrote
    * or masked) and produced `output`. On losing the version race it
    * does NOT fail outright: if the new head still carries every
    * consumed entry verbatim (same name + DV set) under the same schema
    * and constraints, and every file the mutation never planned over
    * passes `!conflictsWith` (e.g. an appended file whose key stats
    * cannot overlap a merge's update range), the commit REBASES — the
    * result is (new head − consumed) ∪ output, so a concurrent append
    * or a disjoint-range merge/delete and this mutation BOTH land, in
    * either order, with serializable results. Anything else (schema
    * change, constraint change, a consumed file rewritten or vacuumed,
    * an overlapping addition) throws [[ConcurrentWriteConflictException]]
    * — correctness over availability, exactly the lakehouse contract.
    * Stats-less added files conflict conservatively (they MIGHT
    * overlap). At 100 TB this is what lets ingest appends stream in
    * while point-merges commit, without a table lock.
    */
  private[lake] def commitMutation(vRead: Int, base: Manifest, op: String,
      consumed: Seq[FileEntry], output: Seq[FileEntry],
      conflictsWith: FileEntry => Boolean): Int = {
    val consumedSigs = consumed.map(_.signature).toSet
    val baseSigs = base.files.map(_.signature).toSet
    var attemptBase = base
    var attemptV = vRead
    var tries = 0
    while (true) {
      val carried = attemptBase.files.filterNot(f => consumedSigs(f.signature))
      try return LakeTable.commit(logDir.toString, attemptV + 1,
        attemptBase.copy(operation = op, files = carried ++ output))
      catch {
        case e: ConcurrentCommitException =>
          if (tries >= 10) throw e
          tries += 1
          val cur = currentVersion
          val newM = manifest(cur)
          val newSigs = newM.files.map(_.signature).toSet
          if (newM.schemaJson != base.schemaJson || newM.checks != base.checks)
            throw new ConcurrentWriteConflictException(op,
              "schema or constraints changed concurrently")
          if (!consumedSigs.subsetOf(newSigs))
            throw new ConcurrentWriteConflictException(op,
              "a file this mutation rewrote was itself rewritten or removed")
          val unplanned = newM.files.filterNot(f => baseSigs(f.signature))
          if (unplanned.exists(conflictsWith))
            throw new ConcurrentWriteConflictException(op,
              "a concurrently added file may overlap this mutation's scope")
          attemptBase = newM
          attemptV = cur
      }
    }
    -1 // unreachable
  }

  private def commit(version: Int, operation: String,
      files: Seq[FileEntry], base: Manifest): Int =
    LakeTable.commit(logDir.toString, version,
      base.copy(operation = operation, files = files))

  private[lake] def commitForTest(version: Int, m: Manifest): Int =
    LakeTable.commit(logDir.toString, version, m)

  /** Metadata-only commit recording a txn-ledger entry (every file
    * carries by reference) — how [[LakeMv.create]] anchors the base
    * version its initial full aggregate reflects.
    */
  private[lake] def anchorTxn(operation: String, key: String, value: Long): Int = {
    val v = currentVersion
    val base = manifest(v)
    commit(v + 1, operation, base.files,
      base.copy(txns = base.txns + (key -> value)))
  }
}

/** One committed version: the manifest line-set for a snapshot.
  * `txns` is the per-application streaming ledger: for each appId the
  * highest batch id ever appended by [[LakeTable.appendStream]]. It
  * rides along every commit so a replayed microbatch is recognized and
  * skipped even after later batch writes — the exactly-once ledger of
  * the streaming sink, scoped like Delta's SetTransaction so distinct
  * queries never skip each other's batches.
  */
private[lake] case class Manifest(operation: String, schemaJson: String,
    statsCols: Seq[String], files: Seq[FileEntry],
    txns: Map[String, Long] = Map.empty,
    checks: Map[String, String] = Map.empty,
    partitionBy: Seq[String] = Nil,
    physNames: Map[String, String] = Map.empty,
    bucketBy: Seq[String] = Nil, buckets: Int = 0) {
  /** Column-mapping indirection (the Delta columnMapping model): the
    * PHYSICAL parquet field name behind a logical column. Identity for
    * never-renamed columns (absent from `physNames`); a rename changes
    * only the logical side, so no data file is ever rewritten and old
    * and new files agree on the physical name forever.
    */
  def physOf(c: String): String = physNames.getOrElse(c, c)

  /** The logical (user-facing) schema. */
  def schema: StructType =
    DataType.fromJson(schemaJson).asInstanceOf[StructType]

  /** The schema under physical field names — what the parquet files
    * actually store, and therefore what every file read plans with.
    */
  def physSchema: StructType =
    StructType(schema.fields.map(f => f.copy(name = physOf(f.name))))
}

/** One immutable data file with optional per-column long [min,max].
  * `bytes` (0 = unrecorded, pre-upgrade manifests) feeds split planning
  * in [[LakeFileIndex]] without per-file filesystem stats. `dv` lists
  * the deletion-vector sidecars whose recorded (file, row position)
  * pairs mask rows of THIS file out of every read (merge-on-read
  * deletes); `dvRows` is how many of `rows` they mask (logical rows =
  * rows - dvRows). `rows` stays the physical parquet count.
  * `strStats` carries TRUNCATED string [min,max] (Delta/Iceberg-style):
  * the min is a ≤-prefix, the max is the prefix with its last char
  * bumped (None = unbounded when no safe bump exists) — see
  * [[LakeTable.truncMin]]/[[LakeTable.truncMax]] — so string-keyed
  * predicates (doc ids, source, lang: the most common corpus filters)
  * prune at the manifest level without bloating it with long values.
  */
private[lake] case class FileEntry(name: String, rows: Long,
    stats: Map[String, (Long, Long)], bytes: Long = 0L,
    dv: Seq[String] = Nil, dvRows: Long = 0L,
    strStats: Map[String, (String, Option[String])] = Map.empty,
    nulls: Map[String, Long] = Map.empty,
    hll: Map[String, String] = Map.empty,
    bloom: Map[String, String] = Map.empty) {
  /** Can this file contain a value of `col` in [lo, hi]? Conservative:
    * no stats for `col` → yes. Still valid with deletion vectors — a
    * DV only narrows the live set, so [min,max] stays an
    * over-approximation.
    */
  def overlaps(col: String, lo: Long, hi: Long): Boolean =
    stats.get(col).forall { case (mn, mx) => mx >= lo && mn <= hi }

  /** String twin of [[overlaps]], in UTF-8 binary order (what Spark's
    * string comparisons use). `lo`/`hi` None = that side unbounded; a
    * file max of None (truncation found no safe upper bound) matches
    * any lower bound, conservatively.
    */
  def strOverlaps(col: String, lo: Option[String], hi: Option[String]): Boolean =
    strStats.get(col).forall { case (mn, mx) =>
      hi.forall(h => LakeTable.utf8Cmp(mn, h) <= 0) &&
        lo.forall(l => mx.forall(m => LakeTable.utf8Cmp(m, l) >= 0))
    }

  /** Bloom-index membership probe: can this file contain a row whose
    * indexed column equals the value behind `hashes` (the
    * [[LakeTable.bloomHashes]] of it)? Conservative: a file with no
    * bloom recorded for the column (written after the index build, or
    * never indexed) always answers yes. The bitmap's own length
    * carries its size m, so per-file sizing needs no extra metadata.
    */
  def mightContain(col: String, hashes: Seq[Long]): Boolean =
    bloom.get(col) match {
      case None => true
      case Some(b64) =>
        val bytes = java.util.Base64.getDecoder.decode(b64)
        val mBits = bytes.length.toLong * 8L
        hashes.forall { h =>
          val p = java.lang.Math.floorMod(h, mBits)
          val word = (p >> 6).toInt
          val w = java.nio.ByteBuffer.wrap(bytes).getLong(word * 8)
          ((w >>> (p & 63L).toInt) & 1L) == 1L
        }
    }

  /** Snapshot identity for change detection: the same physical file
    * with a different deletion-vector set is a DIFFERENT logical
    * content (a MoR delete changes rows without changing `name`).
    * The dv list is sorted so the identity is order-insensitive — two
    * manifests carrying the same DV set must compare equal even if a
    * future path normalizes or merges sidecar lists.
    */
  def signature: String = s"$name|${dv.sorted.mkString(",")}"
}

case class LakeCommit(version: Int, operation: String, numFiles: Int, totalRows: Long)

/** One `WHEN ... THEN` arm of [[LakeTable.mergeGeneral]]: update the
  * listed columns (unlisted columns keep their target value), or delete
  * the row.
  */
sealed trait MergeArm
object MergeArm {
  final case class Update(set: Map[String, org.apache.spark.sql.Column]) extends MergeArm
  case object Delete extends MergeArm
}

/** A racing writer already published this version. */
class ConcurrentCommitException(version: Int)
  extends RuntimeException(s"version $version was committed concurrently")

/** A mutation lost its commit race to a concurrent write
  * it could not rebase over (overlapping scope, rewritten read-set, or
  * changed schema/constraints). The table is untouched; re-run the
  * mutation against the new snapshot.
  */
class ConcurrentWriteConflictException(op: String, why: String)
  extends RuntimeException(s"$op aborted: $why")

/** A CHECK constraint rejected a write (or, at add time, the existing
  * data). The write staged nothing and committed nothing.
  */
class CheckViolationException(name: String, exprSql: String, where: String)
  extends RuntimeException(
    s"CHECK constraint $name ($exprSql) violated by $where")

object LakeTable {
  private[lake] val LogDir = "_graft_log"

  /** Fixed schema of DV sidecar files ([[writeDvSidecar]] writes exactly
    * these two provenance columns) — supplied on read so the per-sidecar
    * footer inference pass disappears.
    */
  private[lake] val dvSidecarSchema: StructType = StructType(Seq(
    StructField("_gf_file", StringType),
    StructField("_gf_pos", LongType)))

  /** Default vacuum grace for never-referenced files — long enough that
    * any in-flight staging pass has committed its manifest.
    */
  val OrphanGraceMs: Long = 10L * 60 * 1000

  private[lake] def isIntegral(t: DataType): Boolean = t match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  /** Types that can carry manifest [min,max] stats: integrals as-is,
    * timestamps as epoch MICROSECONDS, dates as epoch DAYS — exactly
    * the long encodings Catalyst literals of those types use, so
    * [[LakeFileIndex.boundsOf]] compares stats and predicate literals
    * in one unit with no conversion — and STRINGS as truncated UTF-8
    * [min,max] ([[truncMin]]/[[truncMax]]).
    */
  private[lake] def isStatsType(t: DataType): Boolean = t match {
    case TimestampType | DateType | StringType => true
    case other => isIntegral(other)
  }

  /** Manifest string stats are truncated to this many chars — long
    * values (document text, URLs) must not bloat the control plane.
    */
  private[lake] val StrStatLen = 64

  /** lgConfigK for the per-file HLL ndv sketches the stats job records
    * (HLL_4, 2^8 buckets ≈ 128 bytes packed, ~6.5% relative error) —
    * small enough that a 100k-file manifest carries them without the
    * control plane bloating, accurate enough that equality-selectivity
    * and join-cardinality estimates stop being range-bound guesses.
    * Sketches of the SAME lgK union losslessly across files.
    */
  private[lake] val HllLgK = 8

  /** Bloom-index geometry: 5 xxhash64 probes (seeds 0..4 as the first
    * hash child, matching the SQL `xxhash64(lit(k), value)` the build
    * job computes) into a per-file bitmap sized at ~10 bits per
    * physical row (FPP ≈ 1%), word-aligned with a 1024-bit floor. The
    * bitmap is stored inline in the manifest (base64) — ~1.25 bytes
    * per row per indexed column; a fleet-scale deployment would spill
    * bitmaps above a threshold to index sidecar files the way deletion
    * vectors already are.
    */
  private[lake] val BloomSeeds = 5
  private[lake] def bloomBits(rows: Long): Long =
    math.max(1024L, ((rows * 10L + 63L) / 64L) * 64L)

  /** The driver-side twin of the build job's `xxhash64(lit(k), v)` —
    * Catalyst's XxHash64 over (IntegerType seed, value) children, so a
    * probe hashes literals exactly as the scan hashed rows. Integral
    * columns are hashed through their LONG widening; pass the value
    * pre-widened.
    */
  private[lake] def bloomHashes(value: Any): Seq[Long] = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    val vlit = Literal(value)
    (0 until BloomSeeds).map(k =>
      new XxHash64(Seq(Literal(k), vlit), 42L).eval(null).asInstanceOf[Long])
  }

  /** Table-level ndv from the per-file HLL sketches: a lossless union
    * (same lgK everywhere) evaluated on the driver — no file I/O. None
    * when any file predates sketch recording.
    */
  private[lake] def manifestNdv(m: Manifest, phys: String): Option[Long] =
    if (m.files.nonEmpty && m.files.forall(_.hll.contains(phys))) {
      val u = new org.apache.datasketches.hll.Union(HllLgK)
      m.files.foreach { f =>
        u.update(org.apache.datasketches.hll.HllSketch.heapify(
          java.util.Base64.getDecoder.decode(f.hll(phys))))
      }
      Some(math.max(1L, math.round(u.getResult.getEstimate)))
    } else None

  /** Table-level null count (physical rows — DV-masked rows may include
    * nulls, so this is a safe over-approximation of live nulls); None
    * when any file predates the recording, rather than a fabricated 0.
    */
  private[lake] def manifestNulls(m: Manifest, phys: String): Option[Long] =
    if (m.files.nonEmpty && m.files.forall(_.nulls.contains(phys)))
      Some(m.files.map(_.nulls(phys)).sum)
    else None

  private[lake] def bloomEncode(words: Array[Long]): String = {
    val bb = java.nio.ByteBuffer.allocate(words.length * 8)
    words.foreach(bb.putLong)
    java.util.Base64.getEncoder.encodeToString(bb.array())
  }

  /** UTF-8 binary comparison — the order Spark string predicates use.
    * Java String.compareTo (UTF-16 units) disagrees with it above the
    * BMP, so stats and literals are always compared through this.
    */
  private[lake] def utf8Cmp(a: String, b: String): Int =
    org.apache.spark.unsafe.types.UTF8String.fromString(a)
      .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b))

  /** Truncated lower bound: a prefix precedes (or equals) every one of
    * its extensions in UTF-8 order, so the cut stays a valid min.
    */
  private[lake] def truncMin(s: String): String =
    if (s.length <= StrStatLen) s else s.substring(0, StrStatLen)

  /** Smallest convenient string GREATER than every string having
    * prefix `s`: bump the last char below the surrogate range and cut
    * there (bumping a surrogate could form an invalid string). None =
    * no bumpable char, the bound is unbounded — conservative.
    */
  private[lake] def prefixUpper(s: String): Option[String] = {
    val i = s.lastIndexWhere(c => c < '\uD7FF')
    if (i < 0) None
    else Some(s.substring(0, i) + (s.charAt(i) + 1).toChar)
  }

  /** Truncated upper bound: exact when short enough, else a bumped
    * prefix that dominates every value the file holds.
    */
  private[lake] def truncMax(s: String): Option[String] =
    if (s.length <= StrStatLen) Some(s)
    else prefixUpper(s.substring(0, StrStatLen))

  /** The stats encoding of a column: the long that matches how a
    * Catalyst Literal of that type carries its value.
    */
  private[lake] def statLong(c: String, t: DataType): Column = t match {
    case TimestampType => unix_micros(col(c))
    case DateType => datediff(col(c), to_date(lit("1970-01-01"))).cast("long")
    case _ => col(c).cast("long")
  }

  /** Create a new table at `path` from `df`, recording per-file
    * [min,max] stats for `statsCols` (integral, timestamp, date, or
    * string columns; the merge/read pruning keys). Fails if a table
    * already exists there.
    */
  def create(spark: SparkSession, path: String, df: DataFrame,
      statsCols: Seq[String] = Seq.empty): LakeTable =
    create(spark, path, df, statsCols, Nil)

  /** [[create]] with PARTITION COLUMNS: every write splits its files by
    * the distinct `partitionBy` values (one-or-more files per value —
    * the partition columns stay stored IN the data files), and because
    * each file then carries exactly one value per partition column, the
    * ordinary stats job records min = max = value: partition pruning IS
    * stats pruning, exact, with no directory scheme — the manifest is
    * the index. First-line skipping for the date/tenant/lang layouts a
    * 100 TB table actually uses; stats columns keep working on top for
    * within-partition ranges.
    */
  def create(spark: SparkSession, path: String, df: DataFrame,
      statsCols: Seq[String], partitionBy: Seq[String]): LakeTable =
    create(spark, path, df, statsCols, partitionBy, Nil, 0)

  /** [[create]] with BUCKETING: every write hash-distributes its rows
    * into `buckets` files by `bucketBy` (Spark's own bucket hash —
    * murmur3 pmod n — and Spark's bucket-file naming), and the scan
    * relation carries the matching BucketSpec. Two lake tables bucketed
    * the same way therefore JOIN WITHOUT A SHUFFLE on the bucket
    * columns — the co-location move that turns a 100 TB × 100 TB join
    * from two full exchanges into a zipped per-bucket merge. Filters on
    * the bucket columns also prune buckets inside the scan. Mutually
    * exclusive with `partitionBy` (compose by partitioning the bigger
    * dimension instead).
    */
  def create(spark: SparkSession, path: String, df: DataFrame,
      statsCols: Seq[String], partitionBy: Seq[String],
      bucketBy: Seq[String], buckets: Int): LakeTable = {
    require(bucketBy.isEmpty == (buckets == 0),
      "bucketBy and buckets must be given together")
    require(partitionBy.isEmpty || bucketBy.isEmpty,
      "partitionBy and bucketBy are mutually exclusive")
    (statsCols ++ partitionBy).foreach { c =>
      require(isStatsType(df.schema(c).dataType),
        s"stats/partition column $c must be integral/timestamp/date/string, " +
          s"is ${df.schema(c).dataType}")
    }
    bucketBy.foreach { c => df.schema(c) } // must exist
    Files.createDirectories(Paths.get(path, LogDir))
    val t = new LakeTable(spark, path)
    // partition columns get stats implicitly (min = max = value)
    val allStats = (statsCols ++ partitionBy.filterNot(statsCols.contains))
    val staged = stage(spark, path, df, allStats, partitionBy,
      bucketBy, buckets)
    commit(Paths.get(path, LogDir).toString, 1,
      Manifest("create", df.schema.json, allStats, staged,
        partitionBy = partitionBy, bucketBy = bucketBy, buckets = buckets))
    t
  }

  /** Open an existing table. */
  def forPath(spark: SparkSession, path: String): LakeTable = {
    val t = new LakeTable(spark, path)
    t.currentVersion // validates
    t
  }

  /** Stage `df` as immutable parquet files in the table root: write to
    * a scratch dir, move each part in under a job-unique name, then
    * compute per-file rows + stats with ONE aggregation job keyed on
    * `input_file_name()` (no footer reads, no per-file jobs).
    *
    * With `partitionBy`, the scratch write splits files by the distinct
    * partition values — via DUPLICATED `_gfp_*` columns, so the
    * original columns stay stored in the data files and the table reads
    * as plain parquet — and the moved files land flat in the table root
    * like any other (the manifest, not the directory tree, is the
    * index). Nulls go to Hive's default partition, read back as null.
    */
  private def stage(spark: SparkSession, path: String, df: DataFrame,
      statsCols: Seq[String], partitionBy: Seq[String] = Nil,
      bucketBy: Seq[String] = Nil, buckets: Int = 0): Seq[FileEntry] = {
    val job = UUID.randomUUID().toString.replace("-", "").take(12)
    val scratch = Paths.get(path, s"_staging_$job")
    // For the plain (unbucketed, unpartitioned) layout, ride the stats
    // aggregation on the staged WRITE job itself (CollectMetrics): when
    // the stage produces exactly one file — the dominant commit shape —
    // the global observed aggregates ARE that file's stats, and the
    // separate reread job (plus its footer-inference job) is skipped
    // entirely. Multi-file stages fall back to the per-file reread.
    // statAggCols is shared with entriesFor, so both paths record
    // bit-identical manifest stats: the observed path and the reread
    // path see the SAME single partition in the SAME row order, so
    // every aggregate — including the HLL sketch bytes, whose
    // LIST/SET-mode serialization is insertion-order-sensitive — is
    // computed over an identical sequence. (Do not reuse this
    // bit-identity claim for multi-partition stages; only dense-mode
    // HLL registers are order-independent.)
    var observed: Map[String, Any] = null
    if (bucketBy.nonEmpty) {
      // Spark's own bucket distribution: repartition(n, cols) IS
      // HashPartitioning(cols, n), so scratch partition index i holds
      // exactly bucket i's rows — the reader-side grouping contract
      df.repartition(buckets, bucketBy.map(col): _*)
        .write.mode("overwrite").parquet(scratch.toString)
    } else if (partitionBy.isEmpty) {
      val aggs = statAggCols(df.schema, statsCols)
      val obs = new org.apache.spark.sql.Observation(s"gf_stage_$job")
      df.observe(obs, aggs.head, aggs.tail: _*)
        .write.mode("overwrite").parquet(scratch.toString)
      observed = obs.get
    } else {
      val gfp = partitionBy.map(c => s"_gfp_$c")
      df.withColumns(partitionBy.zip(gfp)
          .map { case (c, g) => g -> col(c) }.toMap)
        .write.mode("overwrite").partitionBy(gfp: _*).parquet(scratch.toString)
    }
    val parts: Seq[java.nio.file.Path] = {
      val walk = Files.walk(scratch)
      try walk.filter { p =>
        val n = p.getFileName.toString
        n.startsWith("part-") && n.endsWith(".parquet")
      }.sorted().iterator().asScala.toVector
      finally walk.close()
    }
    // scratch part files are named part-<task>%05d-<uuid>; for bucketed
    // layouts task index == bucket id, re-encoded into the Spark bucket
    // suffix (_NNNNN) the reader's BucketingUtils.getBucketId parses
    val BucketPart = "part-(\\d+)-.*".r
    val named = parts.zipWithIndex.map { case (p, i) =>
      val target =
        if (bucketBy.isEmpty) f"part-$job-$i%05d.parquet"
        else p.getFileName.toString match {
          case BucketPart(task) =>
            f"part-$job-$i%05d_${task.toInt}%05d.parquet"
          case other => throw new IllegalStateException(
            s"unexpected scratch part name for a bucketed write: $other")
        }
      Files.move(p, Paths.get(path, target), StandardCopyOption.ATOMIC_MOVE)
      target
    }
    deleteRecursively(scratch)
    if (observed != null && named.size == 1 &&
        observed("_rows").asInstanceOf[Long] > 0L) {
      val (strCols, longCols) = statsCols.partition(c =>
        df.schema(c).dataType == StringType)
      val (rows, stats, strStats, nulls, hll) =
        decodeStats(observed(_), longCols, strCols)
      Seq(FileEntry(named.head, rows, stats,
        Files.size(Paths.get(path, named.head)),
        strStats = strStats, nulls = nulls, hll = hll))
    } else if (observed != null && named.size == 1) {
      // zero-row file: match entriesFor's absent-group default exactly
      // (no stats, no null counts, no sketches)
      Seq(FileEntry(named.head, 0L, Map.empty[String, (Long, Long)],
        Files.size(Paths.get(path, named.head))))
    } else
      // multi-file (or partitioned/bucketed) stage: per-file reread,
      // with the explicit schema (= what the files store) so no
      // footer-inference job runs
      entriesFor(spark, path, named, statsCols, fileSchema = df.schema)
  }

  /** Build one stats-complete manifest entry per already-written table
    * file (one combined stats job over the named files — min/max, null
    * counts, HLL ndv sketches). Shared by [[stage]] and the native v2
    * BatchWrite adoption path.
    */
  private[lake] def entriesFor(spark: SparkSession, path: String,
      named: Seq[String], statsCols: Seq[String],
      fileSchema: StructType = null): Seq[FileEntry] = {
    if (named.isEmpty) return Seq.empty
    // an explicit schema (the staged frame's — identical to what the
    // files store) skips the parquet footer-inference Spark job the
    // schemaless reader otherwise runs per commit
    val reader =
      if (fileSchema != null) spark.read.schema(fileSchema) else spark.read
    val reread = reader.parquet(named.map(n => s"$path/$n"): _*)
    val (strCols, longCols) = statsCols.partition(c =>
      reread.schema(c).dataType == StringType)
    // per column, the same single stats job also records the null count
    // and a small HLL ndv sketch (HllLgK): the CBO needs real
    // equality-selectivity inputs, and this is the only pass that ever
    // reads the staged bytes. Long columns sketch their manifest long
    // ENCODING (injective — ndv is preserved); strings sketch raw.
    val aggs = statAggCols(reread.schema, statsCols)
    val statRows = reread
      .groupBy(input_file_name().as("_file"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
    val byName = statRows.map { r =>
      new File(r.getAs[String]("_file")).getName ->
        decodeStats(k => r.getAs[Any](k), longCols, strCols)
    }.toMap
    named.toSeq.map { n =>
      val (rows, stats, strStats, nulls, hll) = byName.getOrElse(n,
        (0L, Map.empty[String, (Long, Long)],
          Map.empty[String, (String, Option[String])],
          Map.empty[String, Long], Map.empty[String, String]))
      FileEntry(n, rows, stats, Files.size(Paths.get(path, n)),
        strStats = strStats, nulls = nulls, hll = hll)
    }
  }

  /** The per-file stats aggregate list entriesFor and the fused
    * stage-write observation share — one definition so both paths
    * record bit-identical manifest stats.
    */
  private def statAggCols(schema: StructType,
      statsCols: Seq[String]): Seq[Column] = {
    val (strCols, longCols) = statsCols.partition(c =>
      schema(c).dataType == StringType)
    count(lit(1)).as("_rows") +:
      (longCols.flatMap { c =>
        val enc = statLong(c, schema(c).dataType)
        Seq(min(enc).as(s"_min_$c"), max(enc).as(s"_max_$c"),
          count(lit(1)).minus(count(col(c))).as(s"_nulls_$c"),
          hll_sketch_agg(enc, HllLgK).as(s"_hll_$c"))
      } ++ strCols.flatMap { c =>
        // min/max travel untruncated (one value per file per column);
        // truncation to the manifest encoding happens in decodeStats,
        // driver-side
        Seq(min(col(c)).as(s"_min_$c"), max(col(c)).as(s"_max_$c"),
          count(lit(1)).minus(count(col(c))).as(s"_nulls_$c"),
          hll_sketch_agg(col(c), HllLgK).as(s"_hll_$c"))
      })
  }

  /** Decode one file's [[statAggCols]] result (a Row or an observed
    * metrics map) into the manifest stat maps.
    */
  private def decodeStats(get: String => Any, longCols: Seq[String],
      strCols: Seq[String]): (Long, Map[String, (Long, Long)],
      Map[String, (String, Option[String])], Map[String, Long],
      Map[String, String]) = {
    val stats = longCols.flatMap { c =>
      val mn = get(s"_min_$c")
      val mx = get(s"_max_$c")
      if (mn == null || mx == null) None
      else Some(c -> (mn.asInstanceOf[Long], mx.asInstanceOf[Long]))
    }.toMap
    val strStats = strCols.flatMap { c =>
      val mn = get(s"_min_$c").asInstanceOf[String]
      val mx = get(s"_max_$c").asInstanceOf[String]
      if (mn == null || mx == null) None
      else Some(c -> ((truncMin(mn), truncMax(mx))))
    }.toMap
    val nulls = (longCols ++ strCols).map { c =>
      c -> get(s"_nulls_$c").asInstanceOf[Long]
    }.toMap
    val hll = (longCols ++ strCols).flatMap { c =>
      Option(get(s"_hll_$c").asInstanceOf[Array[Byte]])
        .map(b => c -> java.util.Base64.getEncoder.encodeToString(b))
    }.toMap
    (get("_rows").asInstanceOf[Long], stats, strStats, nulls, hll)
  }

  /** Checkpoint cadence of the delta log: versions 1, K, 2K, … publish
    * a FULL manifest (`.manifest`); every other version publishes a
    * DELTA (`.delta`, O(changed files)). A reader reconstructs any
    * snapshot as its nearest checkpoint at-or-below plus at most K−1
    * delta applications, so BOTH commit cost and read-amplification
    * stay flat in table size — at a 100k-file table a point merge
    * writes a handful of delta lines instead of re-rendering 100k
    * manifest lines per commit.
    */
  private[lake] val CheckpointInterval = 10

  /** Publish version `version` with snapshot state `m`: a full
    * manifest on checkpoint versions (or when the previous version is
    * not reconstructable — e.g. test fixtures committing at arbitrary
    * versions), a delta against version−1 otherwise. Atomicity is the
    * same either way: the file is fully staged under a temp name, then
    * linked into place — `Files.createLink` is the atomic
    * create-exclusive primitive (POSIX link(2) fails with EEXIST), so
    * exactly one of N racing writers wins a version and the rest see
    * [[ConcurrentCommitException]] with the log untouched. The suffix
    * is a pure function of the version number, so racing writers
    * always contend on the SAME target name.
    */
  private def commit(logDir: String, version: Int, m: Manifest): Int = {
    val prev =
      if (version == 1 || version % CheckpointInterval == 0) None
      else scala.util.Try(reconstruct(logDir, version - 1)).toOption
    prev match {
      case Some(p) =>
        publish(logDir, f"v$version%08d.delta",
          Manifest.renderDelta(p, m), version)
      case None =>
        publish(logDir, f"v$version%08d.manifest",
          Manifest.render(m), version)
    }
  }

  private def publish(logDir: String, name: String, body: String,
      version: Int): Int = {
    val tmp = Paths.get(logDir, s".tmp_${UUID.randomUUID().toString.take(8)}")
    Files.writeString(tmp, body)
    val target = Paths.get(logDir, name)
    try Files.createLink(target, tmp)
    catch {
      case _: FileAlreadyExistsException =>
        Files.deleteIfExists(tmp)
        throw new ConcurrentCommitException(version)
      case NonFatal(e) => Files.deleteIfExists(tmp); throw e
    }
    Files.deleteIfExists(tmp)
    version
  }

  /** Reconstruct the snapshot at `version`: parse the nearest full
    * manifest at-or-below it, then fold the delta tail forward. Reads
    * at most [[CheckpointInterval]] small control-plane files.
    *
    * The parse+fold is memoized on the CONTENT hash of the chain (r16):
    * every commit reconstructs its base up to three times (stage, the
    * commit attempt, the delta render), and a 23-commit mutation query
    * was spending ~5% of its wall re-parsing identical JSON. Keying on
    * the bytes read — not path+version — makes the cache immune to
    * wipe-and-recreate at the same path; log files are never rewritten
    * in place, so identical bytes ⇒ identical snapshot.
    */
  private val reconstructCache =
    new java.util.concurrent.ConcurrentHashMap[String, Manifest]()

  private[lake] def reconstruct(logDir: String, version: Int): Manifest = {
    val dir = Paths.get(logDir)
    var v = version
    var chain = List.empty[java.nio.file.Path] // oldest-first
    while (v >= 1 && !Files.exists(dir.resolve(f"v$v%08d.manifest"))) {
      val d = dir.resolve(f"v$v%08d.delta")
      if (!Files.exists(d)) {
        // a concurrent vacuum checkpoints the oldest retained version
        // (manifest appears) THEN deletes its delta — our two existence
        // checks are not atomic against that pair, so re-check for the
        // manifest once before declaring the version unretained
        if (Files.exists(dir.resolve(f"v$v%08d.manifest"))) ()
        else throw new IllegalArgumentException(
          s"version $version not retained (vacuumed or never committed): $dir")
      } else {
        chain ::= d
        v -= 1
      }
    }
    require(v >= 1,
      s"version $version not reconstructable: no checkpoint at or below it in $dir")
    val bodies = (dir.resolve(f"v$v%08d.manifest") :: chain)
      .map(Files.readString(_))
    val md = java.security.MessageDigest.getInstance("MD5")
    bodies.foreach(b => md.update(b.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    val key = java.util.Base64.getEncoder.encodeToString(md.digest) +
      s"#${bodies.map(_.length).sum}"
    if (reconstructCache.size > 4096) reconstructCache.clear()
    reconstructCache.computeIfAbsent(key, _ => {
      var m = Manifest.parse(bodies.head)
      bodies.tail.foreach(d => m = Manifest.applyDelta(m, d))
      m
    })
  }

  private def deleteRecursively(p: java.nio.file.Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(q => Files.deleteIfExists(q))
      finally walk.close()
    }
}

private[lake] object Manifest {
  implicit private val fmt: Formats = DefaultFormats

  /** First line: table metadata; one JSON line per file after it. */
  def render(m: Manifest): String =
    (renderHead(m) +: m.files.map(renderFile)).mkString("", "\n", "\n")

  /** DELTA line-set for one commit: the same head line (table metadata
    * AS OF this version — schema, txn ledger, checks all ride along),
    * then `{"remove": name}` tombstones for entries that left or
    * changed, then full file lines for entries that arrived or changed
    * (a changed entry — e.g. a DV attach to the same file — is a
    * remove+add of the same name). Reconstruction appends adds after
    * the carried base files, which is exactly the `carried ++ output`
    * order every mutation commits. Size is O(changed files): the whole
    * point — at a 100k-file table a point merge's commit writes a
    * handful of lines, not the table.
    */
  def renderDelta(prev: Manifest, m: Manifest): String = {
    val oldLine = prev.files.map(f => f.name -> renderFile(f)).toMap
    val newLine = m.files.map(f => f.name -> renderFile(f)).toMap
    val removed = prev.files.map(_.name)
      .filter(n => !newLine.get(n).contains(oldLine(n)))
    val added = m.files.filter(f => !oldLine.get(f.name).contains(newLine(f.name)))
    val tombs = removed.map(n => JsonMethods.compact(JsonMethods.render(
      JObject("remove" -> JString(n)))))
    ((renderHead(m) +: tombs) ++ added.map(renderFile))
      .mkString("", "\n", "\n")
  }

  /** Apply one rendered delta on top of a reconstructed base snapshot. */
  def applyDelta(base: Manifest, text: String): Manifest = {
    val lines = text.split('\n').filter(_.nonEmpty)
    val head = parseHead(lines.head)
    val removed = scala.collection.mutable.HashSet.empty[String]
    val added = scala.collection.mutable.ArrayBuffer.empty[FileEntry]
    lines.tail.foreach { l =>
      JsonMethods.parse(l) \ "remove" match {
        case JString(n) => removed += n
        case _ => added += parseFile(l)
      }
    }
    head.copy(files = base.files.filterNot(f => removed(f.name)) ++ added.toSeq)
  }

  private def renderHead(m: Manifest): String = {
    JsonMethods.compact(JsonMethods.render(JObject(
      "operation" -> JString(m.operation),
      "schema" -> JString(m.schemaJson),
      "statsCols" -> JArray(m.statsCols.map(JString(_)).toList),
      "txns" -> JObject(m.txns.toList.sortBy(_._1).map { case (a, b) =>
        a -> JLong(b)
      }),
      "checks" -> JObject(m.checks.toList.sortBy(_._1).map { case (n, e) =>
        n -> JString(e)
      }),
      "partitionBy" -> JArray(m.partitionBy.map(JString(_)).toList),
      "physNames" -> JObject(m.physNames.toList.sortBy(_._1).map {
        case (l, ph) => l -> JString(ph)
      }),
      "bucketBy" -> JArray(m.bucketBy.map(JString(_)).toList),
      "buckets" -> JLong(m.buckets.toLong))))
  }

  private def renderFile(f: FileEntry): String = {
      val core = List(
        "file" -> JString(f.name),
        "rows" -> JLong(f.rows),
        "bytes" -> JLong(f.bytes),
        "stats" -> JObject(f.stats.toList.sortBy(_._1).map { case (c, (mn, mx)) =>
          c -> JArray(List(JLong(mn), JLong(mx)))
        }))
      val sstats =
        if (f.strStats.isEmpty) Nil
        else List("sstats" -> JObject(
          f.strStats.toList.sortBy(_._1).map { case (c, (mn, mx)) =>
            c -> JArray(List(JString(mn), mx.map(JString(_)).getOrElse(JNull)))
          }))
      val nulls =
        if (f.nulls.isEmpty) Nil
        else List("nulls" -> JObject(
          f.nulls.toList.sortBy(_._1).map { case (c, n) => c -> JLong(n) }))
      val hll =
        if (f.hll.isEmpty) Nil
        else List("hll" -> JObject(
          f.hll.toList.sortBy(_._1).map { case (c, s) => c -> JString(s) }))
      val bloom =
        if (f.bloom.isEmpty) Nil
        else List("bloom" -> JObject(
          f.bloom.toList.sortBy(_._1).map { case (c, s) => c -> JString(s) }))
      val dv =
        if (f.dv.isEmpty) Nil
        else List("dv" -> JArray(f.dv.map(JString(_)).toList),
          "dvRows" -> JLong(f.dvRows))
      JsonMethods.compact(JsonMethods.render(
        JObject(core ++ sstats ++ nulls ++ hll ++ bloom ++ dv)))
  }

  def parse(text: String): Manifest = {
    val lines = text.split('\n').filter(_.nonEmpty)
    parseHead(lines.head).copy(files = lines.tail.toSeq.map(parseFile))
  }

  private def parseFile(l: String): FileEntry = {
      val j = JsonMethods.parse(l)
      val stats = (j \ "stats") match {
        case JObject(fields) => fields.collect {
          case (c, JArray(List(mn, mx))) =>
            c -> (mn.extract[Long], mx.extract[Long])
        }.toMap
        case _ => Map.empty[String, (Long, Long)]
      }
      val bytes = (j \ "bytes") match {
        case JNothing => 0L
        case b => b.extract[Long]
      }
      val dv = (j \ "dv") match {
        case JArray(vs) => vs.map(_.extract[String])
        case _ => Nil
      }
      val dvRows = (j \ "dvRows") match {
        case JNothing => 0L
        case n => n.extract[Long]
      }
      val strStats = (j \ "sstats") match {
        case JObject(fields) => fields.collect {
          case (c, JArray(List(JString(mn), mx))) =>
            c -> ((mn, mx match {
              case JString(v) => Some(v)
              case _ => None
            }))
        }.toMap
        case _ => Map.empty[String, (String, Option[String])]
      }
      val nulls = (j \ "nulls") match {
        case JObject(fields) =>
          fields.map { case (c, n) => c -> n.extract[Long] }.toMap
        case _ => Map.empty[String, Long]
      }
      val hll = (j \ "hll") match {
        case JObject(fields) =>
          fields.map { case (c, s) => c -> s.extract[String] }.toMap
        case _ => Map.empty[String, String]
      }
      val bloom = (j \ "bloom") match {
        case JObject(fields) =>
          fields.map { case (c, s) => c -> s.extract[String] }.toMap
        case _ => Map.empty[String, String]
      }
      FileEntry((j \ "file").extract[String], (j \ "rows").extract[Long],
        stats, bytes, dv, dvRows, strStats, nulls, hll, bloom)
  }

  /** Parse the metadata head line into a files-less Manifest. */
  private def parseHead(line: String): Manifest = {
    val head = JsonMethods.parse(line)
    // pre-scoping manifests carried a single global `txn` long; fold it
    // into the map under a reserved app id so old tables stay readable
    val txns = (head \ "txns") match {
      case JObject(fields) =>
        fields.map { case (a, b) => a -> b.extract[Long] }.toMap
      case _ => (head \ "txn") match {
        case JNothing => Map.empty[String, Long]
        case t =>
          val v = t.extract[Long]
          if (v >= 0L) Map("_legacy" -> v) else Map.empty[String, Long]
      }
    }
    val checks = (head \ "checks") match {
      case JObject(fields) =>
        fields.map { case (n, e) => n -> e.extract[String] }.toMap
      case _ => Map.empty[String, String]
    }
    val partitionBy = (head \ "partitionBy") match {
      case JArray(vs) => vs.map(_.extract[String])
      case _ => Nil
    }
    val physNames = (head \ "physNames") match {
      case JObject(fields) =>
        fields.map { case (l, ph) => l -> ph.extract[String] }.toMap
      case _ => Map.empty[String, String]
    }
    val bucketBy = (head \ "bucketBy") match {
      case JArray(vs) => vs.map(_.extract[String])
      case _ => Nil
    }
    val buckets = (head \ "buckets") match {
      case JNothing => 0
      case n => n.extract[Long].toInt
    }
    Manifest((head \ "operation").extract[String],
      (head \ "schema").extract[String],
      (head \ "statsCols").extract[List[String]], Nil, txns, checks,
      partitionBy, physNames, bucketBy, buckets)
  }
}
