package graft.lake

import org.apache.spark.sql.{DataFrame, Row, SQLContext}
import org.apache.spark.sql.classic.{Dataset => ClassicDataset, SparkSession => ClassicSparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.sources.StreamSourceProvider
import org.apache.spark.sql.types.{DataType, StructType}

/** Structured Streaming SOURCE over a [[LakeTable]] — the read half of
  * the lakehouse streaming story (`lake_stream_merge` is the write
  * half). Offsets ARE manifest versions: offset v means "every file
  * listed in manifest v has been emitted", so a microbatch is the
  * manifest diff (v_start, v_end] — exactly [[LakeTable.readAppendsSince]]
  * between two pinned versions. Because data files are immutable and
  * manifests are atomic, replaying a batch from the checkpoint re-reads
  * the identical files: end-to-end exactly-once with any idempotent or
  * transactional sink, no directory listing ever.
  *
  * Usage:
  * {{{
  *   spark.readStream.format("graft.lake.LakeStreamSource")
  *     .option("startingVersion", "0")      // 0 = initial snapshot + tail (default)
  *     .option("maxVersionsPerTrigger", "1") // admission control per microbatch
  *     .option("maxBytesPerTrigger", "134217728") // byte-based admission
  *     .option("ignoreChanges", "false")    // fail on rewrites (default)
  *     .load(tablePath)
  * }}}
  *
  * Semantics and scale notes:
  *  - `startingVersion = 0` emits the full current snapshot as the
  *    first batch(es), then tails; `startingVersion = v` starts AFTER
  *    manifest v (changes only), the CDC-consumer shape.
  *  - `maxVersionsPerTrigger` bounds how many commits one microbatch
  *    absorbs — on a table receiving thousands of small commits this is
  *    what keeps batch size O(commit), not O(backlog).
  *  - `maxBytesPerTrigger` bounds admission by the manifest-recorded
  *    byte size of the files each commit ADDED: versions are admitted
  *    until the next one would blow the budget (always at least one —
  *    progress beats caps, the Delta/FileStreamSource convention).
  *    Commits vary wildly in size — a 100 TB backfill interleaves
  *    GB-scale appends with KB-scale upserts, so a version cap alone
  *    makes batch size unpredictable; the byte cap is what keeps each
  *    microbatch sized to the cluster. Pure control plane: the sizes
  *    come from the manifests, no file stats. Composes with
  *    `maxVersionsPerTrigger` (whichever cap hits first).
  *  - Copy-on-write rewrites (merge/delete/compact) re-list surviving
  *    rows under new file names; tailing across one would re-emit them.
  *    By default that raises an error naming the rewriting commit;
  *    `ignoreChanges=true` opts into the at-least-once behavior
  *    (downstream must key-dedup) — same contract Delta's source has.
  *  - The read schema is fixed at stream start (the then-current
  *    manifest's); files appended later via [[LakeTable.appendEvolve]]
  *    are read under it by parquet name resolution (extra columns
  *    ignored until the stream restarts, missing ones null-fill).
  *  - Vacuum retention must cover consumer lag: `getBatch` needs the
  *    START version's manifest to diff against (file list only — the
  *    data files it names may already be rewritten-away for the END
  *    snapshot; they are not read).
  *  - Everything here is control plane: a batch plans from two cached
  *    manifest file lists; only the (v_start, v_end] delta files are
  *    scanned. Tailing a 100 TB table costs the tail, not the table.
  */
class LakeStreamSource extends StreamSourceProvider {

  private def tablePath(parameters: Map[String, String]): String =
    parameters.getOrElse("path",
      throw new IllegalArgumentException("graft.lake.LakeStreamSource requires .load(path)"))

  override def sourceSchema(sqlContext: SQLContext, schema: Option[StructType],
      providerName: String, parameters: Map[String, String]): (String, StructType) = {
    val spark = sqlContext.sparkSession
    val t = LakeTable.forPath(spark, tablePath(parameters))
    val declared = schema.getOrElse(
      t.manifest(t.currentVersion).schema)
    ("graft-lake", declared)
  }

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source = {
    val spark = sqlContext.sparkSession.asInstanceOf[ClassicSparkSession]
    new LakeStreamingSource(
      spark,
      tablePath(parameters),
      sourceSchema(sqlContext, schema, providerName, parameters)._2,
      startingVersion = parameters.getOrElse("startingVersion", "0").toInt,
      maxVersionsPerTrigger = parameters.get("maxVersionsPerTrigger").map(_.toInt)
        .getOrElse(Int.MaxValue),
      maxBytesPerTrigger = parameters.get("maxBytesPerTrigger").map(_.toLong)
        .getOrElse(Long.MaxValue),
      ignoreChanges = parameters.getOrElse("ignoreChanges", "false").toBoolean)
  }
}

private[lake] class LakeStreamingSource(
    spark: ClassicSparkSession,
    path: String,
    override val schema: StructType,
    startingVersion: Int,
    maxVersionsPerTrigger: Int,
    maxBytesPerTrigger: Long,
    ignoreChanges: Boolean) extends Source {

  require(maxVersionsPerTrigger >= 1, "maxVersionsPerTrigger must be >= 1")
  require(maxBytesPerTrigger >= 1L, "maxBytesPerTrigger must be >= 1")
  private val table = LakeTable.forPath(spark, path)
  // logical→physical mapping captured with the stream schema: physical
  // names are stable forever, so this resolves files written after any
  // later rename too, while the stream keeps its fixed logical names
  private val physNames = table.manifest(table.currentVersion).physNames

  /** Highest version offered to the engine so far — the pacing cursor.
    * Re-anchored forward by getBatch on checkpoint restart (the engine
    * replays the last batch before asking for a new offset).
    */
  private var offered = startingVersion

  private def ver(o: Offset): Int = o.json.trim.toInt

  private def entriesOf(version: Int): Seq[FileEntry] =
    if (version <= 0) Seq.empty else table.manifest(version).files

  override def getOffset: Option[Offset] = synchronized {
    val cur = table.currentVersion
    // Long arithmetic: offered + maxVersionsPerTrigger overflows Int
    // when the trigger cap is unset (Int.MaxValue) and offered > 0.
    val cap =
      if (offered >= cur) offered
      else math.min(cur.toLong, offered.toLong + maxVersionsPerTrigger).toInt
    if (offered < cap && maxBytesPerTrigger == Long.MaxValue)
      offered = cap // no byte cap: skip the per-version manifest diffing
    else if (offered < cap) {
      // byte-based admission: absorb commits until the NEXT one would
      // blow the budget, always taking at least one (progress beats
      // caps — a single oversized commit must still flow through).
      // Control plane only: added-file byte sizes come straight from
      // the manifests; a pre-upgrade entry with bytes=0 counts 0,
      // which errs toward bigger batches, never a stall.
      var admitted = offered
      var remaining = maxBytesPerTrigger
      var prevNames = entriesOf(math.max(admitted, 0)).map(_.name).toSet
      var full = false
      while (!full && admitted < cap) {
        val nextFiles = entriesOf(admitted + 1)
        val addedBytes = nextFiles.iterator
          .filterNot(f => prevNames(f.name))
          .map(f => math.max(f.bytes, 0L)).sum
        if (addedBytes > remaining && admitted > offered) full = true
        else {
          remaining -= math.min(addedBytes, remaining)
          prevNames = nextFiles.map(_.name).toSet
          admitted += 1
        }
      }
      offered = admitted
    }
    if (offered <= 0) None else Some(LongOffset(offered.toLong))
  }

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val startVer = start.map(ver).getOrElse(startingVersion)
    val endVer = ver(end)
    synchronized { offered = math.max(offered, endVer) }
    val before = entriesOf(startVer)
    val after = entriesOf(endVer)
    // change detection by SIGNATURE (name + deletion-vector set): a
    // copy-on-write rewrite removes names, and a merge-on-read DELETE
    // changes a file's DV set without renaming it — both break the
    // append-only contract the same way
    val afterSigs = after.map(_.signature).toSet
    val rewritten = before.filterNot(f => afterSigs(f.signature))
    if (rewritten.nonEmpty && !ignoreChanges)
      throw new IllegalStateException(
        s"lake table $path had files rewritten between v$startVer and v$endVer " +
        s"(e.g. ${rewritten.head.name}): a merge/delete/compact crossed the stream. " +
        "Restart from a fresh startingVersion or set ignoreChanges=true " +
        "(at-least-once: rewritten survivors re-emit; downstream must key-dedup).")
    val beforeNames = before.map(_.name).toSet
    val added = after.filterNot(f => beforeNames(f.name))
    // The batch DataFrame must carry isStreaming=true for the microbatch
    // planner; wrap the batch parquet scan's physical RDD in a streaming
    // LogicalRDD (the FileStreamSource/internalCreateDataFrame shape).
    // rowsOf applies any deletion vectors already on the new files.
    // read under the STREAM's fixed schema (captured at start), with the
    // current logical→physical mapping: physical names are stable across
    // renames, so the capture-time mapping resolves files written later
    // too, and schema evolution after stream start stays a by-name
    // subset/null-fill read exactly as before
    val batch = table.rowsOf(
      table.manifest(ver(end)).copy(schemaJson = schema.json,
        physNames = physNames), added)
    val qe = batch.queryExecution
    new ClassicDataset[Row](spark,
      LogicalRDD(qe.analyzed.output, qe.toRdd, isStreaming = true)(spark),
      org.apache.spark.sql.Encoders.row(schema))
  }

  override def stop(): Unit = ()

  override def toString: String =
    s"LakeStreamSource[$path, starting=$startingVersion, " +
      s"maxVersions=$maxVersionsPerTrigger, maxBytes=$maxBytesPerTrigger]"
}
