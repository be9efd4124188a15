package graft.operators

import graft.{Q, Tables}
import graft.lake.LakeTable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** §2.14 — declared queries over [[graft.lake.LakeTable]], the ACID
  * parquet table format (versioned manifests, atomic exclusive commit,
  * copy-on-write merge/delete with manifest-stats file pruning, time
  * travel). Each query BUILDS a table under the session temp root from
  * the orders parquet and declares the post-operation state, with the
  * physical guarantees (untouched files carried by reference, files
  * skipped by stats) surfaced as in-band booleans the oracle pins true.
  *
  * The oracle side replays the logical semantics in plain SQL over the
  * base `orders` table — a lake MERGE is `updates ∪ (base ⟕anti
  * updates)`, a version is a WHERE-reconstructable snapshot — so the
  * formats agree exactly or the hash fails.
  */
object LakeQueries {

  private def tablePath(name: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_rt/$name"

  private def wipe(path: String): Unit =
    graft.deleteRecursively(java.nio.file.Paths.get(path))

  /** How many distinct data files a read of `df` opens — the probe the
    * pruning keys compare against the unfiltered scan.
    */
  private[operators] def opened(df: DataFrame): Long =
    df.select(input_file_name()).distinct().count()

  /** How many deletion-vector files sit in the table directory. */
  private def dvFiles(t: LakeTable): Int =
    Option(new java.io.File(t.path).list((_, n) => n.startsWith("dv-")))
      .map(_.length).getOrElse(0)

  /** (k, status, price) view of orders — the lake tables' content. */
  private def base(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir).select(
      col("o_orderkey").cast("long").as("k"),
      col("o_orderstatus").as("status"),
      col("o_totalprice").as("price"))

  /** Two range-disjoint files (create lo, append hi) so merge/prune
    * have a provably untouchable file; returns (table, half split key).
    */
  private def twoFileTable(s: SparkSession, dir: String, name: String): (LakeTable, Long) = {
    val path = tablePath(name)
    wipe(path)
    val b = base(s, dir)
    val half = b.agg(max(col("k"))).head().getLong(0) / 2
    val t = LakeTable.create(s, path, b.filter(col("k") <= half).coalesce(1), Seq("k"))
    t.append(b.filter(col("k") > half).coalesce(1))
    (t, half)
  }

  val queries: Map[String, Q] = Map(
    // Delta-log observability: a scripted series of 23 commits (create
    // + 21 appends + 1 delete) crossing TWO checkpoint boundaries;
    // report the log shape (full checkpoints at v1/v10/v20, O(changed-
    // files) deltas elsewhere), the live state reconstructed through
    // the checkpoint + delta tail, and an in-band boolean pinning that
    // a FRESH handle (no in-memory state) reconstructs the identical
    // file set. At 100 TB this cadence is what keeps commit cost flat
    // in table size — the delta for one appended file is a few lines
    // however many files the snapshot holds.
    "lake_log_stats" -> ((s, dir) => {
      val path = tablePath("lake_log_stats")
      wipe(path)
      val b = base(s, dir)
      val t = LakeTable.create(s, path,
        b.filter(col("k") % 23 === 0).coalesce(1), Seq("k"))
      for (i <- 1 to 21) t.append(b.filter(col("k") % 23 === i).coalesce(1))
      t.deleteWhere(col("k") % 2 === 1) // v23
      val log = new java.io.File(path, "_graft_log")
      val names = log.list().filter(_.startsWith("v")).toSeq
      val nCkpt = names.count(_.endsWith(".manifest"))
      val nDelta = names.count(_.endsWith(".delta"))
      val fresh = LakeTable.forPath(s, path)
      val same = fresh.fileNames(fresh.currentVersion).toSet ==
        t.fileNames(t.currentVersion).toSet
      t.read().agg(count(lit(1)).as("n_rows"),
          sum(Tables.dec2(col("price"))).cast("double").as("total_price"))
        .select(lit(t.currentVersion).as("current_version"),
          lit(nCkpt).as("n_checkpoints"), lit(nDelta).as("n_deltas"),
          col("n_rows"), col("total_price"),
          lit(same).as("reconstruction_consistent"))
    }),

    // MERGE INTO on the lake table: updates (keys % 10 = 0 in the low
    // file's range) replace same-keyed rows in place, copy-on-write.
    // The hi-range file's [min,max] key stats exclude every update key,
    // so the merge carries it BY REFERENCE — asserted in-band by
    // comparing physical file sets before/after. At 100 TB this is the
    // difference between rewriting a handful of files and the table.
    "lake_merge" -> ((s, dir) => {
      val (t, half) = twoFileTable(s, dir, "lake_merge")
      // the hi-range file = what v2's append added; all manifest-level
      // control plane, no probe scans
      val hiFiles = t.fileNames(2).toSet -- t.fileNames(1).toSet
      val updates = base(s, dir)
        .filter(col("k") % 10 === 0 && col("k") <= half)
        .select(col("k"), lit("U").as("status"),
          (col("price") + 100.0).as("price"))
      t.merge(updates, "k")
      val hiUntouched = hiFiles.subsetOf(t.fileNames(3).toSet)
      t.read().agg(
          count(lit(1)).as("n_rows"),
          count_if(col("status") === "U").as("n_updated"),
          sum(Tables.dec2(col("price"))).cast("double").as("total_price"))
        .select(col("n_rows"), col("n_updated"), col("total_price"),
          lit(hiUntouched).as("hi_files_untouched"))
    }),

    // full MERGE INTO with a WHEN MATCHED AND <cond> THEN DELETE arm:
    // one atomic commit updates the k%10=0 rows (price+100, status U)
    // EXCEPT the k%20=0 subset, which is deleted outright. The source
    // key range stays in the lo file, so the hi file is still carried
    // by reference — mixed-arm merges prune exactly like upserts.
    "lake_merge_delete" -> ((s, dir) => {
      val (t, half) = twoFileTable(s, dir, "lake_merge_del")
      val hiFiles = t.fileNames(2).toSet -- t.fileNames(1).toSet
      val updates = base(s, dir)
        .filter(col("k") % 10 === 0 && col("k") <= half)
        .select(col("k"), lit("U").as("status"),
          (col("price") + 100.0).as("price"))
      t.merge(updates, "k", Some(col("k") % 20 === 0))
      val hiUntouched = hiFiles.subsetOf(t.fileNames(3).toSet)
      t.read().agg(
          count(lit(1)).as("n_rows"),
          count_if(col("status") === "U").as("n_updated"),
          sum(Tables.dec2(col("price"))).cast("double").as("total_price"))
        .select(col("n_rows"), col("n_updated"), col("total_price"),
          lit(hiUntouched).as("hi_files_untouched"))
    }),

    // time travel: v1 = full table, v2 = DELETE k%13=0 (copy-on-write),
    // v3 = MERGE price+50 on surviving k%7=0. Every retained version
    // stays exactly readable — the declared result is the per-version
    // (rows, total) ledger, each reconstructed independently by the
    // oracle from the base table.
    "lake_time_travel" -> ((s, dir) => {
      val path = tablePath("lake_tt")
      wipe(path)
      val b = base(s, dir)
      val t = LakeTable.create(s, path, b, Seq("k"))
      t.deleteWhere(col("k") % 13 === 0)
      t.merge(
        b.filter(col("k") % 7 === 0 && col("k") % 13 =!= 0)
          .select(col("k"), col("status"), (col("price") + 50.0).as("price")),
        "k")
      def snap(v: Int): DataFrame = t.readVersion(v)
        .agg(count(lit(1)).as("n_rows"),
          sum(Tables.dec2(col("price"))).cast("double").as("total_price"))
        .select(lit(v).as("version"), col("n_rows"), col("total_price"))
      snap(1).unionByName(snap(2)).unionByName(snap(3)).orderBy(col("version"))
    }),

    // streaming CDC upsert: per-user running aggregates in UPDATE mode,
    // each microbatch MERGEd by key into the lake table in foreachBatch
    // (≥2 real microbatches via the 2-file split staging + one-file
    // triggers). Update mode emits only changed groups with their full
    // running totals, so key-merge converges to the complete aggregate
    // regardless of batching; each batch is one atomic version
    // (multi_batch_ok pins ≥2 merge commits in-band).
    "lake_stream_merge" -> ((s, dir) => {
      val path = tablePath("lake_stream_merge")
      val (finalState, versions) = graft.streaming.StreamingJobs.foreachBatchLakeMerge(
        s, graft.streaming.StreamingDeclared.stagedEventsSplitDir(s, dir), path)
      finalState
        .select(col("user_id"), col("n"), col("sum_value"),
          lit(versions >= 3).as("multi_batch_ok"))
        .orderBy(col("user_id"))
    }),

    // exactly-once streaming APPEND: each microbatch commits through
    // appendStream(batch, appId, batchId), which records the batch id
    // in the manifest's per-app ledger (`txns: {appId -> lastBatchId}`,
    // the SetTransaction shape). After the run the last batch id is REPLAYED
    // with recomputed data — the crash-between-commit-and-checkpoint
    // case — and must be recognized and skipped: replay_skipped pins
    // version AND contents unchanged, in-band. This is the
    // transactional-sink idempotence that makes checkpoint-restart
    // exactly-once end to end (lake_stream_merge converges by key;
    // this converges by ledger, with no key needed).
    "lake_stream_append" -> ((s, dir) => {
      val path = tablePath("lake_stream_append")
      val (finalState, versions, replaySkipped) =
        graft.streaming.StreamingJobs.foreachBatchLakeAppend(
          s, graft.streaming.StreamingDeclared.stagedEventsSplitDir(s, dir), path)
      finalState.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 6).as("sum_value"))
        .select(col("user_id"), col("n"), col("sum_value"),
          lit(versions >= 3).as("multi_batch_ok"),
          lit(replaySkipped).as("replay_skipped"))
        .orderBy(col("user_id"))
    }),

    // streaming READ of the lake table (the source half of the
    // lakehouse streaming story; lake_stream_merge is the sink half):
    // manifest versions are the offsets, so maxVersionsPerTrigger=1
    // replays the commit history as one microbatch per version — the
    // create snapshot plus both appends — into a memory sink.
    // one_batch_per_version pins that pacing in-band; the aggregate
    // over the sink must equal the batch SQL over the full table.
    "lake_stream_read" -> ((s, dir) => {
      val path = tablePath("lake_stream_read")
      wipe(path)
      val b = base(s, dir)
      val t = LakeTable.create(s, path, b.filter(col("k") % 3 === 0).coalesce(1), Seq("k"))
      (1 to 2).foreach(r => t.append(b.filter(col("k") % 3 === r).coalesce(1)))
      val sinkName = "lake_stream_read_sink"
      val q = s.readStream.format("graft.lake.LakeStreamSource")
        .option("maxVersionsPerTrigger", "1")
        .load(path)
        .writeStream.format("memory").queryName(sinkName).start()
      try q.processAllAvailable() finally q.stop()
      val batches = q.recentProgress.count(_.numInputRows > 0)
      s.table(sinkName)
        .groupBy((col("k") % 3).as("slice"))
        .agg(count(lit(1)).as("n"),
          sum(Tables.dec2(col("price"))).cast("double").as("total_price"))
        .select(col("slice"), col("n"), col("total_price"),
          lit(batches == 3).as("one_batch_per_version"))
        .orderBy(col("slice"))
    }),

    // OPTIMIZE/compaction: four single-file commits (create + three
    // appends, disjoint k mod 4 slices) leave four small files — the
    // exact debris a per-microbatch MERGE accumulates — and compact()
    // bin-packs them into ONE, content-identical, as a normal atomic
    // version. File counts are layout-deterministic, so the oracle pins
    // them exactly alongside the data aggregate.
    "lake_compact" -> ((s, dir) => {
      val path = tablePath("lake_compact")
      wipe(path)
      val b = base(s, dir)
      val t = LakeTable.create(s, path, b.filter(col("k") % 4 === 0).coalesce(1), Seq("k"))
      (1 to 3).foreach(r => t.append(b.filter(col("k") % 4 === r).coalesce(1)))
      val nBefore = t.fileNames(4).size
      t.compact(smallFileRows = Long.MaxValue, targetRows = Long.MaxValue)
      val nAfter = t.fileNames(5).size
      t.read().agg(
          count(lit(1)).as("n_rows"),
          sum(Tables.dec2(col("price"))).cast("double").as("total_price"))
        .select(col("n_rows"), col("total_price"),
          lit(nBefore).as("n_files_before"), lit(nAfter).as("n_files_after"))
    }),

    // schema evolution (mergeSchema semantics): the table starts as
    // (k, status, price); the high-half batch arrives with a NEW
    // `prio` column and is appended via appendEvolve. Readers of the
    // new snapshot see NULL prio in pre-evolution files; time travel
    // to v1 still reads the original 3-column shape (each manifest
    // carries its own schema) — pinned in-band.
    "lake_schema_evolution" -> ((s, dir) => {
      val path = tablePath("lake_evolve")
      wipe(path)
      val o = Tables.orders(s, dir)
      val b = base(s, dir)
      val half = b.agg(max(col("k"))).head().getLong(0) / 2
      val t = LakeTable.create(s, path, b.filter(col("k") <= half).coalesce(1), Seq("k"))
      val hi = o.filter(col("o_orderkey") > half).select(
        col("o_orderkey").cast("long").as("k"),
        col("o_orderstatus").as("status"),
        col("o_totalprice").as("price"),
        col("o_orderpriority").as("prio"))
      t.appendEvolve(hi.coalesce(1))
      val v1SchemaPreserved = t.readVersion(1).schema.fieldNames.toSeq ==
        Seq("k", "status", "price")
      t.read().agg(
          count(lit(1)).as("n_rows"),
          count_if(col("prio").isNull).as("n_null_prio"),
          count_if(col("prio").isNotNull).as("n_prio"),
          sum(Tables.dec2(col("price"))).cast("double").as("total_price"))
        .select(col("n_rows"), col("n_null_prio"), col("n_prio"),
          col("total_price"), lit(v1SchemaPreserved).as("v1_schema_preserved"))
    }),

    // incremental (streaming-style) consumption: readAppendsSince(v)
    // returns exactly the rows of files committed after v — a pure
    // manifest diff (control plane), no directory listing and no scan
    // of the base data. The two appended mod-3 slices come back, the
    // create-time slice does not; two_files_added pins that the diff
    // found precisely the two appended files.
    "lake_incremental_read" -> ((s, dir) => {
      val path = tablePath("lake_incr")
      wipe(path)
      val b = base(s, dir)
      val t = LakeTable.create(s, path, b.filter(col("k") % 3 === 0).coalesce(1), Seq("k"))
      (1 to 2).foreach(r => t.append(b.filter(col("k") % 3 === r).coalesce(1)))
      val nAdded = (t.fileNames(3).toSet -- t.fileNames(1).toSet).size
      t.readAppendsSince(1)
        .groupBy((col("k") % 3).as("slice"))
        .agg(count(lit(1)).as("n"),
          sum(Tables.dec2(col("price"))).cast("double").as("total_price"))
        .select(col("slice"), col("n"), col("total_price"),
          lit(nAdded == 2).as("two_files_added"))
        .orderBy(col("slice"))
    }),

    // row-level change data feed: changesBetween(v2, v3) across a MERGE
    // emits each updated key twice — its old row tagged 'delete', its
    // new row tagged 'insert' — and nothing for untouched rows. Copy-
    // on-write makes the diff scan ONLY the rewritten files (shared
    // immutable files cancel by construction; asserted in LakeSpec), so
    // a point-merge CDF on a 100 TB table reads a handful of files.
    "lake_changes" -> ((s, dir) => {
      val (t, half) = twoFileTable(s, dir, "lake_changes")
      val updates = base(s, dir)
        .filter(col("k") % 10 === 0 && col("k") <= half)
        .select(col("k"), lit("U").as("status"),
          (col("price") + 100.0).as("price"))
      t.merge(updates, "k")
      t.changesBetween(2, 3)
        .select(col("k"), col("status"), col("price"),
          col("_change_type").as("change"))
        .orderBy(col("k"), col("change"))
    }),

    // clustered compaction (OPTIMIZE ... ZORDER shape): a hash-layout
    // table has every file spanning the full key range, so manifest
    // stats prune NOTHING — a point read opens all 4 files. One
    // clustered compact (range-repartition on k) later, the same
    // prunedRead opens fewer files than the snapshot holds. This is
    // the layout move that turns stats into actual I/O savings.
    "lake_cluster_prune" -> ((s, dir) => {
      val path = tablePath("lake_cluster")
      wipe(path)
      val b = base(s, dir)
      val mx = b.agg(max(col("k"))).head().getLong(0)
      val lo = mx / 2
      val hi = mx / 2 + mx / 10
      val t = LakeTable.create(s, path, b.repartition(4), Seq("k"))
      val openedBefore = t.prunedRead("k", lo, hi)
        .select(input_file_name()).distinct().count()
      val total = t.history().head.totalRows
      t.compact(smallFileRows = Long.MaxValue,
        targetRows = total / 4 + 1, clusterBy = Seq("k"))
      val openedAfter = t.prunedRead("k", lo, hi)
        .select(input_file_name()).distinct().count()
      t.prunedRead("k", lo, hi).filter(col("k").between(lo, hi))
        .agg(count(lit(1)).as("n_rows"),
          sum(Tables.dec2(col("price"))).cast("double").as("total_price"))
        .select(col("n_rows"), col("total_price"),
          lit(openedBefore == 4).as("hash_layout_opens_all"),
          lit(openedAfter < openedBefore).as("clustered_prunes"))
    }),

    // manifest-stats file skipping: a key-range read consults the
    // per-file [min,max] recorded at write time and opens ONLY the
    // overlapping file — no footer reads, no full scan. files_skipped
    // proves fewer files were opened than the snapshot holds.
    "lake_prune_read" -> ((s, dir) => {
      val (t, half) = twoFileTable(s, dir, "lake_prune")
      val nTotal = t.read().select(input_file_name()).distinct().count()
      val pruned = t.prunedRead("k", half + 1, Long.MaxValue)
      val nPruned = pruned.select(input_file_name()).distinct().count()
      pruned.filter(col("k") > half)
        .agg(count(lit(1)).as("n_hi"),
          sum(Tables.dec2(col("price"))).cast("double").as("total_hi"))
        .select(col("n_hi"), col("total_hi"),
          lit(nPruned < nTotal).as("files_skipped"))
    }),

    // DELETE FROM with file-level pruning: the predicate only matches
    // rows in the lo-range file, so copy-on-write rewrites that file
    // alone and the hi-range file is carried BY REFERENCE into the new
    // version (asserted in-band by physical file identity). At 100 TB
    // a selective delete rewrites the touched handful, not the table.
    "lake_delete" -> ((s, dir) => {
      val (t, half) = twoFileTable(s, dir, "lake_delete")
      val hiFiles = t.fileNames(2).toSet -- t.fileNames(1).toSet
      t.deleteWhere(col("k") % 10 === 0 && col("k") <= half)
      val hiUntouched = hiFiles.subsetOf(t.fileNames(3).toSet)
      t.read().agg(
          count(lit(1)).as("n_rows"),
          sum(Tables.dec2(col("price"))).cast("double").as("total_price"))
        .select(col("n_rows"), col("total_price"),
          lit(hiUntouched).as("hi_files_untouched"))
    }),

    // VACUUM: v1 create → v2 overwrite leaves v1's data file
    // unreferenced by the current manifest; vacuum(retain=1) deletes
    // exactly that file plus the v1 manifest. The current snapshot
    // stays byte-exact (the declared aggregate), and time travel to
    // the vacuumed version is an explicit error, not silent
    // corruption — both pinned in-band. Retention is the knob that
    // keeps a 100 TB table's storage O(live data), not O(history).
    "lake_vacuum" -> ((s, dir) => {
      val path = tablePath("lake_vacuum")
      wipe(path)
      val b = base(s, dir)
      val t = LakeTable.create(s, path, b.coalesce(1), Seq("k"))
      t.overwrite(b.filter(col("k") % 13 =!= 0).coalesce(1))
      val v1Files = t.fileNames(1)
      val deleted = t.vacuum(retainVersions = 1)
      val exactlyV1Dead = deleted.toSet == v1Files.toSet
      val v1Unreadable =
        try { t.readVersion(1); false }
        catch { case _: IllegalArgumentException => true }
      t.read().agg(
          count(lit(1)).as("n_rows"),
          sum(Tables.dec2(col("price"))).cast("double").as("total_price"))
        .select(col("n_rows"), col("total_price"),
          lit(exactlyV1Dead).as("exactly_v1_files_deleted"),
          lit(v1Unreadable).as("vacuumed_version_errors"))
    }),

    // Catalyst-integrated pruning: scan() plans the snapshot through
    // graft.lake.LakeFileIndex, so a PLAIN .filter() — no special read
    // API — prunes non-overlapping files via manifest stats inside the
    // planner. files_pruned pins that a range predicate physically
    // opened fewer files than the snapshot holds; all_files_unfiltered
    // pins the no-filter scan reads everything. This is the scan path
    // a 100 TB user actually gets: pruning composes with every
    // downstream operator and parquet row-group pushdown stays active.
    "lake_catalyst_prune" -> ((s, dir) => {
      val path = tablePath("lake_cat_prune")
      wipe(path)
      val b = base(s, dir)
      val mx = b.agg(max(col("k"))).head().getLong(0)
      val (lo, hi) = (mx / 2, mx / 2 + mx / 10)
      val t = LakeTable.create(s, path,
        b.repartitionByRange(4, col("k")), Seq("k"))
      val nAll = opened(t.scan())
      val filtered = t.scan().filter(col("k").between(lo, hi))
      val nPruned = opened(filtered)
      filtered.agg(
          count(lit(1)).as("n_rows"),
          sum(Tables.dec2(col("price"))).cast("double").as("total_price"))
        .select(col("n_rows"), col("total_price"),
          lit(nAll == 4).as("all_files_unfiltered"),
          lit(nPruned < nAll).as("files_pruned"))
    }),

    // OPTIMIZE ... ZORDER BY (k, ck): MULTI-dimensional clustering.
    // 1-D range clustering (lake_cluster_prune) gives locality only on
    // the leading column; the z-order bit-interleave gives per-file
    // [min,max] stats that prune range reads on BOTH columns
    // (~√F of the files each in 2-D). The hash layout's opens-all
    // baseline and the post-zorder pruning on k AND ck are pinned
    // in-band; the declared aggregate is the ck-range read itself.
    "lake_zorder" -> ((s, dir) => {
      val path = tablePath("lake_zorder")
      wipe(path)
      val b = Tables.orders(s, dir).select(
        col("o_orderkey").cast("long").as("k"),
        col("o_custkey").cast("long").as("ck"),
        col("o_totalprice").as("price"))
      val t = LakeTable.create(s, path, b.repartition(4), Seq("k", "ck"))
      val Array(kMax, ckMax) = t.read()
        .agg(max(col("k")), max(col("ck"))).head() match {
          case r => Array(r.getLong(0), r.getLong(1))
        }
      val (lo, hi) = (ckMax / 4, ckMax / 2)
      val hashOpensAll = opened(t.scan().filter(col("ck").between(lo, hi))) == 4
      val total = t.history().head.totalRows
      t.zorderCompact(total / 4 + 1, Seq("k", "ck"))
      val nAll = opened(t.scan())
      val prunesCk = opened(t.scan().filter(col("ck").between(lo, hi))) < nAll
      val prunesK = opened(t.scan().filter(col("k") <= kMax / 4)) < nAll
      t.scan().filter(col("ck").between(lo, hi))
        .agg(count(lit(1)).as("n_rows"),
          sum(Tables.dec2(col("price"))).cast("double").as("total_price"))
        .select(col("n_rows"), col("total_price"),
          lit(hashOpensAll).as("hash_opens_all"),
          lit(prunesCk).as("zorder_prunes_ck"),
          lit(prunesK).as("zorder_prunes_k"))
    }),

    // DESCRIBE HISTORY: the commit ledger (version, operation,
    // row count) across a create → copy-on-write DELETE → MERGE
    // sequence. The ledger is pure control plane (one manifest read
    // per retained version — no data scans), and every row is
    // reconstructable by the oracle from the base table, so the
    // metadata layer is hash-graded like any data query.
    "lake_history" -> ((s, dir) => {
      val path = tablePath("lake_history")
      wipe(path)
      val b = base(s, dir)
      val t = LakeTable.create(s, path, b.coalesce(1), Seq("k"))
      t.deleteWhere(col("k") % 13 === 0)
      t.merge(
        b.filter(col("k") % 7 === 0 && col("k") % 13 =!= 0)
          .select(col("k"), col("status"), (col("price") + 50.0).as("price")),
        "k")
      import s.implicits._
      t.history()
        .map(h => (h.version, h.operation, h.totalRows))
        .toDF("version", "operation", "total_rows")
        .orderBy(col("version"))
    }),

    // merge-on-read DELETE via deletion vectors: the same predicate as
    // lake_delete, but NO data file is rewritten — the matching row
    // positions land in one small DV file of per-file Roaring bitmaps
    // and every read path masks them (here the Catalyst scan() path, a
    // per-row bitmap filter on top of the index). no_files_rewritten pins that the post-delete manifest
    // references only pre-delete data files; at 100 TB this turns a
    // point delete from rewriting N GB-scale files into writing one
    // KB-scale DV file, reclaimed at the next compaction.
    "lake_delete_dv" -> ((s, dir) => {
      val (t, half) = twoFileTable(s, dir, "lake_delete_dv")
      val namesBefore = t.fileNames(2).toSet
      t.deleteWhereMoR(col("k") % 10 === 0 && col("k") <= half)
      val noRewrite = t.fileNames(3).toSet.subsetOf(namesBefore)
      val sidecars = dvFiles(t)
      t.scan().agg(
          count(lit(1)).as("n_rows"),
          sum(Tables.dec2(col("price"))).cast("double").as("total_price"))
        .select(col("n_rows"), col("total_price"),
          lit(noRewrite).as("no_files_rewritten"),
          lit(sidecars == 1).as("one_dv_sidecar"))
    }),

    // PURGE the deletion-vector debt: after a MoR delete, purgeDeletes
    // rewrites ONLY the indebted file to its live rows (the clean hi
    // file is carried by reference), retiring its DV file; vacuum then
    // physically reclaims the unreferenced DV — the full
    // cheap-write/taxed-read/repay lifecycle in one declared op. At
    // 100 TB this is the background maintenance job that keeps scan
    // plans mask-free without ever rewriting clean files.
    "lake_dv_purge" -> ((s, dir) => {
      val (t, half) = twoFileTable(s, dir, "lake_dv_purge")
      t.deleteWhereMoR(col("k") % 10 === 0 && col("k") <= half)
      val before = t.fileNames(3).toSet
      val v4 = t.purgeDeletes()
      val after = t.fileNames(v4).toSet
      val hiCarried = after.intersect(before).size == 1
      val lowRewritten = (after -- before).size == 1
      t.vacuum(1)
      val dvOnDisk = dvFiles(t)
      t.scan().agg(
          count(lit(1)).as("n_rows"),
          sum(Tables.dec2(col("price"))).cast("double").as("total_price"))
        .select(col("n_rows"), col("total_price"),
          lit(hiCarried).as("clean_file_carried"),
          lit(lowRewritten).as("indebted_file_rewritten"),
          lit(dvOnDisk == 0).as("dv_sidecars_vacuumed"))
    }),

    // merge-on-read UPDATE via deletion vectors: the matching rows are
    // DV-masked in place and their rewritten versions appended as a
    // delta file — ONE atomic commit, ZERO data files rewritten
    // (no_files_rewritten pins that every pre-update file is still
    // referenced; delta_appended pins that the only new files are the
    // update delta). At 100 TB a point UPDATE costs one KB-scale
    // DV file + a delta the size of the touched rows instead of
    // rewriting each touched GB-scale file; purgeDeletes repays the
    // read-side mask tax later.
    "lake_update_dv" -> ((s, dir) => {
      val (t, half) = twoFileTable(s, dir, "lake_update_dv")
      val namesBefore = t.fileNames(2).toSet
      t.updateWhereMoR(col("k") % 10 === 0 && col("k") <= half,
        Map("status" -> lit("U"), "price" -> (col("price") + lit(100.0))))
      val after = t.fileNames(3).toSet
      val noRewrite = namesBefore.subsetOf(after)
      val deltaAppended = (after -- namesBefore).nonEmpty
      val sidecars = dvFiles(t)
      t.scan().agg(
          count(lit(1)).as("n_rows"),
          count_if(col("status") === "U").as("n_updated"),
          sum(Tables.dec2(col("price"))).cast("double").as("total_price"))
        .select(col("n_rows"), col("n_updated"), col("total_price"),
          lit(noRewrite).as("no_files_rewritten"),
          lit(deltaAppended).as("delta_appended"),
          lit(sidecars == 1).as("one_dv_sidecar"))
    }),

    // merge-on-read MERGE (upsert): matched target rows are DV-masked,
    // and the WHOLE source — updated rows ('U') and genuinely new keys
    // ('N') alike — lands as delta files in one atomic commit with zero
    // rewrites. Where the CoW merge rewrites every file overlapping the
    // source key range (unmatched rows included), this writes
    // O(|source|) bytes — the frequent-small-upsert CDC shape at
    // 100 TB. The oracle replays upsert-with-inserts in plain SQL.
    "lake_merge_dv" -> ((s, dir) => {
      val (t, half) = twoFileTable(s, dir, "lake_merge_dv")
      val namesBefore = t.fileNames(2).toSet
      val b = base(s, dir)
      val maxK = b.agg(max(col("k"))).head().getLong(0)
      val upd = b.filter(col("k") % 10 === 0 && col("k") <= half)
        .select(col("k"), lit("U").as("status"),
          (col("price") + lit(100.0)).as("price"))
      // insert keys shifted ABOVE the base key domain (keys are 0-based,
      // so +maxK alone would collide key 0's insert with base key maxK)
      val ins = b.filter(col("k") % 10 === 0 && col("k") <= half)
        .select((col("k") + lit(maxK + 1L)).as("k"), lit("N").as("status"),
          col("price"))
      t.mergeMoR(upd.unionByName(ins), "k")
      val after = t.fileNames(3).toSet
      val noRewrite = namesBefore.subsetOf(after)
      val sidecars = dvFiles(t)
      t.scan().agg(
          count(lit(1)).as("n_rows"),
          count_if(col("status") === "U").as("n_updated"),
          count_if(col("status") === "N").as("n_inserted"),
          sum(Tables.dec2(col("price"))).cast("double").as("total_price"))
        .select(col("n_rows"), col("n_updated"), col("n_inserted"),
          col("total_price"),
          lit(noRewrite).as("no_files_rewritten"),
          lit(sidecars == 1).as("one_dv_sidecar"))
    }),

    // RESTORE TABLE ... TO VERSION: after a DELETE and a MERGE mutate
    // the table, restore(1) makes the original snapshot current again
    // as a NEW commit — no data moves (the restored manifest references
    // the same immutable files), history stays append-only
    // (history_shows_restore), and the declared content is exactly the
    // pre-mutation table.
    "lake_restore" -> ((s, dir) => {
      val path = tablePath("lake_restore")
      wipe(path)
      val b = base(s, dir)
      val t = LakeTable.create(s, path, b, Seq("k"))
      t.deleteWhere(col("k") % 13 === 0)
      t.merge(
        b.filter(col("k") % 7 === 0 && col("k") % 13 =!= 0)
          .select(col("k"), col("status"), (col("price") + 50.0).as("price")),
        "k")
      val vPre = t.currentVersion
      t.restore(1)
      val isNewCommit = t.currentVersion == vPre + 1
      val opIsRestore = t.history().last.operation == "restore"
      t.read().agg(
          count(lit(1)).as("n_rows"),
          sum(Tables.dec2(col("price"))).cast("double").as("total_price"))
        .select(col("n_rows"), col("total_price"),
          lit(isNewCommit).as("restore_is_new_commit"),
          lit(opIsRestore).as("history_shows_restore"))
    }),

    // SHALLOW CLONE: fork the table with zero data movement (every
    // data file hard-linked — same inode — into the clone, verified
    // in-band), then MERGE into the CLONE: the clone shows the merged
    // content while the source stays byte-identical (pinned in-band by
    // re-aggregating it). Hardlink semantics make the fork crash-safe
    // under either side's vacuum: unlinking a name never kills the
    // other table's inode reference. At 100 TB a clone is one metadata
    // pass — the dev/test-fork primitive.
    "lake_clone" -> ((s, dir) => {
      val srcPath = tablePath("lake_clone_src")
      val clonePath = tablePath("lake_clone_dst")
      wipe(srcPath); wipe(clonePath)
      val b = base(s, dir)
      val t = LakeTable.create(s, srcPath, b, Seq("k"))
      val c = t.clone(clonePath)
      val zeroCopy = Option(new java.io.File(clonePath)
        .list((_, n) => n.endsWith(".parquet"))).getOrElse(Array.empty)
        .forall { n =>
          java.nio.file.Files.getAttribute(
            java.nio.file.Paths.get(clonePath, n), "unix:ino") ==
          java.nio.file.Files.getAttribute(
            java.nio.file.Paths.get(srcPath, n), "unix:ino")
        }
      c.merge(
        b.filter(col("k") % 10 === 0)
          .select(col("k"), lit("U").as("status"),
            (col("price") + 100.0).as("price")),
        "k")
      val Row(srcN: Long, srcU: Long) = t.read()
        .agg(count(lit(1)), count_if(col("status") === "U")).head()
      val srcUnchanged = srcN == b.count() && srcU == 0L
      c.read().agg(
          count(lit(1)).as("n_rows"),
          count_if(col("status") === "U").as("n_updated"),
          sum(Tables.dec2(col("price"))).cast("double").as("total_price"))
        .select(col("n_rows"), col("n_updated"), col("total_price"),
          lit(zeroCopy).as("zero_copy"),
          lit(srcUnchanged).as("source_unchanged"))
    }),

    // TIME-RANGE PRUNING: manifest stats on a TIMESTAMP column (epoch
    // micros — the same encoding Catalyst timestamp literals carry), so
    // a plain `ts BETWEEN ...` filter on scan() opens only the files
    // whose [min,max] overlap the window. THE canonical lakehouse scan:
    // at 100 TB, a one-hour query over a time-clustered table opens the
    // hour, not the table. files_pruned pins the skip in-band.
    "lake_prune_time" -> ((s, dir) => {
      val path = tablePath("lake_prune_time")
      wipe(path)
      val ev = Tables.events(s, dir)
        .select(col("event_id"), col("ts"), col("user_id"), col("value"))
      val t = LakeTable.create(s, path,
        ev.repartitionByRange(4, col("ts")), Seq("ts"))
      val Row(mn: Long, mx: Long) = ev
        .agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts")))).head()
      val lo = mn + (mx - mn) / 4
      val hi = mn + (mx - mn) / 2
      val nFiles = t.fileNames(t.currentVersion).size
      val openedFiles = t.prunedRead("ts", lo, hi).inputFiles.length
      val filesPruned = openedFiles < nFiles && nFiles == 4
      t.scan()
        .filter(col("ts") >= timestamp_micros(lit(lo)) &&
          col("ts") < timestamp_micros(lit(hi)))
        .agg(count(lit(1)).as("n_rows"),
          round(sum(col("value")), 6).as("sum_value"))
        .select(col("n_rows"), col("sum_value"),
          lit(filesPruned).as("files_pruned"))
    }),

    // SQL TIME TRAVEL: `VERSION AS OF n` on a graft.lake catalog table
    // rewrites (hint-batch rule, before ResolveRelations rejects v1
    // time travel) to the versioned Catalyst scan — SQL users get the
    // full snapshot history with no programmatic API, composable with
    // any downstream operator. The ledger row for each version is
    // reconstructed independently by the oracle.
    "lake_sql_time_travel" -> ((s, dir) => {
      val path = tablePath("lake_sql_tt")
      wipe(path)
      val b = base(s, dir)
      LakeTable.create(s, path, b, Seq("k"))
      s.sql("DROP TABLE IF EXISTS lake_tt_t")
      s.sql(s"CREATE TABLE lake_tt_t USING graft.lake OPTIONS (path '$path')")
      s.sql("DELETE FROM lake_tt_t WHERE k % 13 = 0")
      s.sql("""SELECT 1 AS version, count(*) AS n_rows,
          CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        FROM lake_tt_t VERSION AS OF 1
        UNION ALL
        SELECT 2, count(*),
          CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE)
        FROM lake_tt_t
        ORDER BY version""")
    }),

    // BUCKETED lake tables: every write hash-distributes rows into N
    // bucket files (Spark's own bucket hash + file naming, enforced at
    // staging), and the scan relation carries the matching BucketSpec —
    // so two lake tables bucketed the same way JOIN WITHOUT A SHUFFLE
    // on the bucket columns (both booleans pinned in-band from the
    // join's physical plan). At 100 TB this turns a fact×fact key join
    // from two full exchanges into a zipped per-bucket merge — the
    // co-location primitive sink_bucketed_join provides for catalog
    // parquet tables, now native to the lake format.
    "lake_bucket_join" -> ((s, dir) => {
      val pa = tablePath("lake_bkt_a")
      val pb = tablePath("lake_bkt_b")
      wipe(pa); wipe(pb)
      val o = Tables.orders(s, dir)
      val facts = o.select(col("o_orderkey").cast("long").as("k"),
        col("o_totalprice").as("price"))
      val dims = o.select(col("o_orderkey").cast("long").as("k"),
        col("o_orderpriority").as("prio")).filter(col("k") % 2 === 0)
      val ta = LakeTable.create(s, pa, facts, Seq("k"), Nil, Seq("k"), 8)
      val tb = LakeTable.create(s, pb, dims, Seq("k"), Nil, Seq("k"), 8)
      val joined = ta.scan().join(tb.scan().hint("merge"), "k")
      // EnsureRequirements has already planned (or not) the exchanges;
      // no execution needed to read the join shape
      val plan = joined.queryExecution.executedPlan.toString
      val bucketedScan = plan.contains("Bucketed: true")
      val noShuffle = !plan.contains("Exchange hashpartitioning")
      joined.groupBy(col("prio"))
        .agg(count(lit(1)).as("n"),
          sum(Tables.dec2(col("price"))).cast("double").as("total_price"))
        .select(col("prio"), col("n"), col("total_price"),
          lit(bucketedScan).as("bucketed_scan"),
          lit(noShuffle).as("no_shuffle_join"))
        .orderBy(col("prio"))
    }),

    // COLUMN RENAME via column mapping (the Delta columnMapping model):
    // renameColumn is a metadata-only commit — the physical parquet
    // field name never changes, so zero data is rewritten, files written
    // before and after the rename mix transparently, stats pruning keeps
    // working under the NEW name, and time travel to a pre-rename
    // version reads the OLD name (each manifest carries its own
    // logical→physical mapping). All four pinned in-band.
    "lake_rename" -> ((s, dir) => {
      val path = tablePath("lake_rename")
      wipe(path)
      val b = base(s, dir)
      val half = b.agg(max(col("k"))).head().getLong(0) / 2
      val t = LakeTable.create(s, path,
        b.filter(col("k") <= half).coalesce(1), Seq("k"))
      val physV1 = t.fileNames(1).toSet
      t.renameColumn("k", "order_id")
      t.append(b.filter(col("k") > half)
        .select(col("k").as("order_id"), col("status"), col("price"))
        .coalesce(1))
      val zeroRewrite = physV1.subsetOf(t.fileNames(t.currentVersion).toSet)
      val v1OldName = t.readVersion(1).schema.fieldNames.toSeq ==
        Seq("k", "status", "price")
      val hi = t.scan().filter(col("order_id") > half)
      val prunedOnNewName = hi.select(input_file_name()).distinct().count() <
        t.fileNames(t.currentVersion).size
      hi.agg(count(lit(1)).as("n_hi"),
          sum(Tables.dec2(col("price"))).cast("double").as("total_hi"))
        .select(col("n_hi"), col("total_hi"),
          lit(zeroRewrite).as("zero_rewrite"),
          lit(v1OldName).as("v1_keeps_old_name"),
          lit(prunedOnNewName).as("pruned_on_new_name"))
    }),

    // SQL DML: DELETE FROM / UPDATE / MERGE INTO statements on a
    // CREATE TABLE ... USING graft.lake table plan through the
    // session-extension rule (graft.lake.LakeDmlRule) into the same
    // file-pruned copy-on-write mutations the Scala API runs — a SQL
    // user gets the full lakehouse DML surface with no programmatic
    // API. The MERGE exercises all three arms incl. the SQL-semantics
    // subtlety that an unmatched delete-arm row falls through to
    // INSERT; the commit ledger (create→delete→update→merge) is pinned
    // in-band.
    "lake_sql_dml" -> ((s, dir) => {
      val path = tablePath("lake_sql_dml")
      wipe(path)
      val b = base(s, dir)
      val t = LakeTable.create(s, path,
        b.repartitionByRange(2, col("k")), Seq("k"))
      s.sql("DROP TABLE IF EXISTS lake_dml_t")
      s.sql(s"CREATE TABLE lake_dml_t USING graft.lake OPTIONS (path '$path')")
      s.sql("DELETE FROM lake_dml_t WHERE k % 13 = 0")
      s.sql("UPDATE lake_dml_t SET price = price + 10.0 WHERE k % 7 = 0")
      b.filter(col("k") % 10 === 0)
        .select(col("k"), lit("U").as("status"),
          (col("price") + 100.0).as("price"))
        .createOrReplaceTempView("lake_dml_src")
      s.sql("""MERGE INTO lake_dml_t t USING lake_dml_src sb ON t.k = sb.k
        WHEN MATCHED AND sb.k % 20 = 0 THEN DELETE
        WHEN MATCHED THEN UPDATE SET k = sb.k, status = sb.status, price = sb.price
        WHEN NOT MATCHED THEN INSERT (k, status, price) VALUES (sb.k, sb.status, sb.price)""")
      val ops = LakeTable.forPath(s, path).history().map(_.operation)
      val ledgerOk = ops == Seq("create", "delete", "update", "merge")
      s.table("lake_dml_t").agg(
          count(lit(1)).as("n_rows"),
          count_if(col("status") === "U").as("n_updated"),
          sum(Tables.dec2(col("price"))).cast("double").as("total_price"))
        .select(col("n_rows"), col("n_updated"), col("total_price"),
          lit(ledgerOk).as("ledger_ok"))
    }),

    // GENERAL-shape SQL MERGE (LakeTable.mergeGeneral via the extended
    // rule): conditioned multi-arm WHEN MATCHED (first arm wins: DELETE
    // above UPDATE above fallback), assignments referencing BOTH sides
    // (t.price + s.price), a conditioned INSERT arm, and WHEN NOT
    // MATCHED BY SOURCE — the shapes the key-based fast path rejects.
    // One atomic CoW commit; the oracle replays the clause semantics
    // with CTEs (DuckDB has no MERGE), so the engines must agree row
    // for row.
    "lake_merge_general" -> ((s, dir) => {
      val path = tablePath("lake_merge_general")
      wipe(path)
      val b = base(s, dir)
      LakeTable.create(s, path, b.repartitionByRange(4, col("k")), Seq("k"))
      s.sql("DROP TABLE IF EXISTS gm_rt")
      s.sql(s"CREATE TABLE gm_rt USING graft.lake OPTIONS (path '$path')")
      val mx = b.agg(max(col("k"))).head().getLong(0)
      b.filter(col("k") % 10 === 0).select(col("k"), col("price"))
        .unionByName(b.filter(col("k") % 15 === 0)
          .select((col("k") + mx).as("k"), col("price")))
        .createOrReplaceTempView("gm_rt_src")
      s.sql("""MERGE INTO gm_rt t USING gm_rt_src s ON t.k = s.k
        WHEN MATCHED AND s.price > 300000.0 THEN DELETE
        WHEN MATCHED AND t.k % 20 = 0 THEN UPDATE SET price = t.price + s.price
        WHEN MATCHED THEN UPDATE SET status = 'M'
        WHEN NOT MATCHED AND s.k % 3 = 0 THEN INSERT (k, status, price) VALUES (s.k, 'N', s.price)
        WHEN NOT MATCHED BY SOURCE AND t.k % 97 = 0 THEN UPDATE SET status = 'L'""")
      val ops = LakeTable.forPath(s, path).history().map(_.operation)
      s.table("gm_rt").agg(
          count(lit(1)).as("n_rows"),
          count_if(col("status") === "M").as("n_marked"),
          count_if(col("status") === "L").as("n_leftover"),
          count_if(col("status") === "N").as("n_inserted"),
          sum(Tables.dec2(col("price"))).cast("double").as("total_price"))
        .select(col("n_rows"), col("n_marked"), col("n_leftover"),
          col("n_inserted"), col("total_price"),
          lit(ops == Seq("create", "merge")).as("ledger_ok"))
    }),

    // DSv2 TableCatalog lifecycle (graft.lake.GraftCatalog): CREATE
    // TABLE / INSERT INTO / native SupportsDelete DELETE / UPDATE and
    // 3-arm MERGE (v2-rule fallback) / native VERSION AS OF time travel
    // — all through catalog identifiers, no paths in the SQL. The final
    // read must plan as a v2 BatchScan (vectorized parquet over the
    // manifest index), pinned in-band; the commit ledger proves each
    // statement landed as exactly one lake commit.
    "lake_catalog_sql" -> ((s, dir) => {
      val wh = tablePath("catalog_wh")
      wipe(wh)
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(wh))
      s.conf.set("spark.sql.catalog.graft_rt_cat", "graft.lake.GraftCatalog")
      s.conf.set("spark.sql.catalog.graft_rt_cat.warehouse", wh)
      s.sql("CREATE TABLE graft_rt_cat.t (k BIGINT, status STRING, price DECIMAL(15,2))")
      base(s, dir).createOrReplaceTempView("lake_cat_base")
      s.sql("INSERT INTO graft_rt_cat.t SELECT k, status, price FROM lake_cat_base")
      val vFull = LakeTable.forPath(s, s"$wh/t").currentVersion
      s.sql("DELETE FROM graft_rt_cat.t WHERE k % 13 = 0")
      s.sql("UPDATE graft_rt_cat.t SET price = price + 10.0 WHERE k % 7 = 0")
      base(s, dir).filter(col("k") % 10 === 0)
        .select(col("k"), lit("U").as("status"),
          (col("price") + 100.0).as("price"))
        .createOrReplaceTempView("lake_cat_src")
      s.sql("""MERGE INTO graft_rt_cat.t t USING lake_cat_src sb ON t.k = sb.k
        WHEN MATCHED AND sb.k % 20 = 0 THEN DELETE
        WHEN MATCHED THEN UPDATE SET k = sb.k, status = sb.status, price = sb.price
        WHEN NOT MATCHED THEN INSERT (k, status, price) VALUES (sb.k, sb.status, sb.price)""")
      val nAtFull = s.sql(
        s"SELECT count(*) FROM graft_rt_cat.t VERSION AS OF $vFull").head().getLong(0)
      val ops = LakeTable.forPath(s, s"$wh/t").history().map(_.operation)
      val ledgerOk = ops == Seq("create", "append", "delete", "update", "merge")
      val finalRead = s.table("graft_rt_cat.t")
      val v2ScanOk = finalRead.queryExecution.executedPlan.toString.contains("BatchScan")
      finalRead.agg(
          count(lit(1)).as("n_rows"),
          count_if(col("status") === "U").as("n_updated"),
          sum(Tables.dec2(col("price"))).cast("double").as("total_price"))
        .select(col("n_rows"), col("n_updated"), col("total_price"),
          lit(nAtFull).as("n_at_insert_version"),
          lit(ledgerOk).as("ledger_ok"),
          lit(v2ScanOk).as("v2_scan_ok"))
    }),

    // manifest statistics → CBO (graft.lake.LakeCboStatsRule): the lake
    // relation carries exact rowCount + per-column bounds folded from
    // the manifest, so under spark.sql.cbo.enabled a RANGE-FILTERED fact
    // gets a realistically small estimate and BROADCASTS UNHINTED in a
    // lake×lake join — while the same-shaped filter on a column without
    // manifest stats cannot shrink and stays a sort-merge join. Both
    // plan shapes are pinned in-band; the data result is the join the
    // oracle replays over plain parquet. Zero I/O for the estimate: the
    // manifest already holds the numbers.
    "lake_cbo_broadcast" -> ((s, dir) => {
      val pathA = tablePath("lake_cbo_a"); wipe(pathA)
      val pathB = tablePath("lake_cbo_b"); wipe(pathB)
      val b = base(s, dir)
      LakeTable.create(s, pathA, b, Seq("k"))
      LakeTable.create(s, pathB, b, Seq("k"))
      s.sql("DROP TABLE IF EXISTS lake_cbo_a")
      s.sql("DROP TABLE IF EXISTS lake_cbo_b")
      s.sql(s"CREATE TABLE lake_cbo_a USING graft.lake OPTIONS (path '$pathA')")
      s.sql(s"CREATE TABLE lake_cbo_b USING graft.lake OPTIONS (path '$pathB')")
      val oldThresh = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
      val oldCbo = s.conf.get("spark.sql.cbo.enabled")
      try {
        // the threshold must sit BETWEEN the ~1% slice estimate and the
        // full-fact estimate at every scale factor — a tenth of the
        // CBO's full-table estimate (rowCount × ~48B width) does that
        val nFact = b.count()
        s.conf.set("spark.sql.autoBroadcastJoinThreshold",
          math.max(4096L, nFact * 48 / 10).toString)
        s.conf.set("spark.sql.cbo.enabled", "true")
        val maxK = b.agg(max(col("k"))).head().getLong(0)
        val cut = maxK / 100 // ~1% slice: small estimate from the bounds
        val q = s.table("lake_cbo_a").filter(col("k") <= cut).select(col("k"))
          .join(s.table("lake_cbo_b"), "k")
        val bhjOk = q.queryExecution.executedPlan.toString.contains("BroadcastHashJoin")
        val control = s.table("lake_cbo_a").filter(col("status") =!= "?")
          .select(col("k"))
          .join(s.table("lake_cbo_b"), "k")
        val smjControl = control.queryExecution.executedPlan.toString
          .contains("SortMergeJoin")
        q.agg(count(lit(1)).as("n_rows"),
            sum(Tables.dec2(col("price"))).cast("double").as("total_price"))
          .select(col("n_rows"), col("total_price"),
            lit(bhjOk).as("bhj_from_stats"),
            lit(smjControl).as("smj_without_stats"))
      } finally {
        s.conf.set("spark.sql.autoBroadcastJoinThreshold", oldThresh)
        s.conf.set("spark.sql.cbo.enabled", oldCbo)
      }
    }),

    // PARTITIONED lake table: every write splits its files by the
    // partition column's values (partition columns stay stored in the
    // data files; the manifest — not a directory scheme — is the
    // index, recording min = max = value per file). A lang filter
    // therefore opens EXACTLY that partition's files: first-line
    // skipping before stats are even consulted, the date/tenant/lang
    // layout of a real 100 TB corpus. Appends keep the layout
    // (per-partition files), pinned in-band along with the prune.
    "lake_partition_prune" -> ((s, dir) => {
      val path = tablePath("lake_part_prune")
      wipe(path)
      val d = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      val t = LakeTable.create(s, path, d.filter(col("lang") =!= "zh"),
        Seq("doc_id"), Seq("lang"))
      t.append(d.filter(col("lang") === "zh"))
      val nAll = opened(t.scan())
      val en = t.scan().filter(col("lang") === "en")
      val enPruned = opened(en) < nAll
      // the appended partition prunes to its own files too
      val zh = t.scan().filter(col("lang") === "zh")
      val zhPruned = opened(zh) < nAll && zh.count() > 0
      en.groupBy(col("lang"))
        .agg(count(lit(1)).as("n"),
          sum(col("n_chars")).cast("long").as("sum_chars"))
        .select(col("lang"), col("n"), col("sum_chars"),
          lit(nAll >= 5).as("file_per_partition"),
          lit(enPruned).as("partition_pruned"),
          lit(zhPruned).as("appended_partition_pruned"))
    }),

    // STRING-COLUMN manifest stats: truncated UTF-8 [min,max] recorded
    // per file, so the most common corpus filters — equality and LIKE
    // 'prefix%' on a string key (source, lang, doc id) — prune files
    // off the manifest exactly like integral ranges. The table is
    // range-clustered on `source`; a plain .filter on scan() drives the
    // pruning through Catalyst (equality AND prefix pinned in-band).
    "lake_prune_string" -> ((s, dir) => {
      val path = tablePath("lake_prune_string")
      wipe(path)
      val d = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), col("n_chars"))
      val t = LakeTable.create(s, path,
        d.repartitionByRange(4, col("source")), Seq("source"))
      val nAll = opened(t.scan())
      val prunesEq = opened(t.scan().filter(col("source") === "src0")) < nAll
      val prefixScan = t.scan().filter(col("source").startsWith("src1"))
      val prunesPrefix = opened(prefixScan) < nAll
      prefixScan.groupBy(col("source"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("sum_chars"))
        .select(col("source"), col("n"), col("sum_chars"),
          lit(nAll == 4).as("all_files_unfiltered"),
          lit(prunesEq).as("equality_prunes"),
          lit(prunesPrefix).as("prefix_prunes"))
        .orderBy(col("source"))
    }),

    // OPTIMISTIC CONCURRENCY: a MERGE and a range-disjoint APPEND race
    // from two threads with no table lock. Whoever loses the version
    // race REBASES (the Delta conflict-resolution model: per-file key
    // stats prove the append cannot overlap the merge's scope), so BOTH
    // land and the result is the same serializable content under any
    // interleaving — which is exactly what makes it oracle-checkable.
    // four_commits pins that no write was lost or retried-as-noop.
    "lake_concurrent" -> ((s, dir) => {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      val (t, half) = twoFileTable(s, dir, "lake_concurrent")
      val b = base(s, dir)
      val mx = b.agg(max(col("k"))).head().getLong(0)
      val gate = new java.util.concurrent.CountDownLatch(1)
      val appended = b.filter(col("k") % 3 === 0)
        .select((col("k") + mx).as("k"), col("status"), col("price"))
      val updates = b
        .filter(col("k") % 10 === 0 && col("k") <= half)
        .select(col("k"), lit("U").as("status"),
          (col("price") + 100.0).as("price"))
      val fa = Future { gate.await(); t.append(appended.coalesce(1)) }
      val fm = Future { gate.await(); t.merge(updates, "k") }
      gate.countDown()
      Await.result(Future.sequence(Seq(fa, fm)), 300.seconds)
      val fourCommits = t.currentVersion == 4
      t.read().agg(
          count(lit(1)).as("n_rows"),
          count_if(col("status") === "U").as("n_updated"),
          sum(Tables.dec2(col("price"))).cast("double").as("total_price"))
        .select(col("n_rows"), col("n_updated"), col("total_price"),
          lit(fourCommits).as("four_commits"))
    }),

    // CHECK constraints: added against the existing data (one proving
    // scan, paid once), then enforced on each write's INCOMING rows
    // only. A valid append lands; an append violating price > 0 is
    // rejected ATOMICALLY (no version, no orphan files) — pinned
    // in-band by violation_rejected_atomically. At 100 TB each append
    // validates its delta, never the table.
    "lake_constraints" -> ((s, dir) => {
      val path = tablePath("lake_constraints")
      wipe(path)
      val b = base(s, dir)
      val t = LakeTable.create(s, path, b, Seq("k"))
      t.addCheck("price_pos", "price > 0")
      t.addCheck("status_known", "status IN ('O', 'F', 'P')")
      val mx = b.agg(max(col("k"))).head().getLong(0)
      t.append(b.filter(col("k") % 5 === 0)
        .select((col("k") + mx).as("k"), col("status"), col("price")))
      val v = t.currentVersion
      val rejected =
        try {
          t.append(b.limit(1).select((col("k") + 2 * mx).as("k"),
            col("status"), (col("price") * -1).as("price")))
          false
        } catch {
          case _: graft.lake.CheckViolationException => t.currentVersion == v
        }
      t.read().agg(
          count(lit(1)).as("n_rows"),
          sum(Tables.dec2(col("price"))).cast("double").as("total_price"))
        .select(col("n_rows"), col("total_price"),
          lit(rejected).as("violation_rejected_atomically"))
    }),

    // BLOOM-FILTER file index: the key is Knuth-scrambled so every
    // file's [min,max] covers every probe — range stats prune NOTHING
    // by construction — yet an equality read opens only the files
    // whose per-file bitmap (built by one distributed pass, ~10
    // bits/row, committed data-free into the manifest) admits the
    // value. files_skipped pins that the index did the work stats
    // could not. At 100 TB this is the point lookup on a hashed id
    // column: a handful of file opens instead of a full scan.
    "lake_bloom_prune" -> ((s, dir) => {
      val path = tablePath("lake_bloom")
      wipe(path)
      val b = base(s, dir)
      val mx = b.agg(max(col("k"))).head().getLong(0)
      // reduce k mod m BEFORE the Knuth multiply: identical values
      // ((k mod m)·a mod m = k·a mod m) and the product stays ≤ m·a —
      // the unreduced multiply overflows (ANSI) at keys ≥ ~3.5e9
      val scrambled = b.select(
        pmod(pmod(col("k"), lit(1000003L)) * 2654435761L, lit(1000003L)).as("sk"),
        col("k"), col("price")).repartition(8)
      val t = LakeTable.create(s, path, scrambled, Seq("sk"))
      t.buildBloomIndex(Seq("sk"))
      val probe = java.lang.Math.floorMod(
        java.lang.Math.floorMod(mx / 2, 1000003L) * 2654435761L, 1000003L)
      val nTotal = t.fileNames(t.currentVersion).size
      val nCand = t.bloomCandidateCount("sk", probe)
      t.bloomPrunedRead("sk", probe).filter(col("sk") === probe)
        .agg(count(lit(1)).as("n_rows"),
          sum(Tables.dec2(col("price"))).cast("double").as("total_price"))
        .select(col("n_rows"), col("total_price"),
          lit(nCand < nTotal).as("files_skipped"))
    }),

    // incrementally maintained MATERIALIZED VIEW: the per-status
    // revenue aggregate refreshes from the copy-on-write change feed
    // (append + CoW delete here), folding +1/-1 · DECIMAL deltas into
    // the stored groups — the result is EXACTLY the full recompute,
    // at O(delta) cost. delta_bounded pins that the refresh scanned
    // only feed rows (appended + net-deleted), never the table; the
    // folded base version is anchored atomically with the rows.
    "lake_mv_incremental" -> ((s, dir) => {
      import graft.lake.LakeMv
      val path = tablePath("lake_mv_base")
      val mvPath = tablePath("lake_mv_view")
      wipe(path); wipe(mvPath)
      val b = base(s, dir)
      val mx = b.agg(max(col("k"))).head().getLong(0)
      val half = mx / 2
      val t = LakeTable.create(s, path, b.coalesce(2), Seq("k"))
      val mv = LakeMv.create(s, mvPath, t, Seq("status"), "price")
      val appended = b.filter(col("k") <= 1000)
        .select((col("k") + mx).as("k"), lit("NEW").as("status"), col("price"))
      t.append(appended.coalesce(1))
      val nAppended = appended.count()
      val nDeleted = t.read()
        .filter(col("k") % 10 === 0 && col("k") <= half).count()
      t.deleteWhere(col("k") % 10 === 0 && col("k") <= half)
      val scanned = mv.refresh()
      val nBase = t.read().count()
      mv.read()
        .select(col("status"), col("cnt"),
          round(col("total").cast("double"), 2).as("total"),
          lit(scanned < nBase).as("delta_bounded"),
          lit(scanned == nAppended + nDeleted).as("scanned_exactly_delta"))
        .orderBy(col("status"))
    }),

    // streaming into the lakehouse with a LIVE incremental aggregate:
    // each microbatch appends through the exactly-once ledger and the
    // materialized view folds exactly that batch's change feed —
    // scanned_exactly_delta pins that NO refresh ever rescanned the
    // table. The final view must equal the batch SQL over everything
    // streamed (the oracle), which is the MV's exactness contract.
    "lake_stream_mv" -> ((s, dir) => {
      val basePath = tablePath("lake_stream_mv_base")
      val mvPath = tablePath("lake_stream_mv_view")
      val (mvState, deltaExact, refreshes) =
        graft.streaming.StreamingJobs.foreachBatchLakeMv(
          s, graft.streaming.StreamingDeclared.stagedEventsSplitDir(s, dir),
          basePath, mvPath)
      mvState
        .select(col("user_id"), col("cnt"),
          round(col("total").cast("double"), 2).as("total"),
          lit(deltaExact).as("scanned_exactly_delta"),
          lit(refreshes >= 2).as("multi_batch_ok"))
        .orderBy(col("user_id"))
    }),

    // manifest statistics as a DESCRIBE-style report: exact row and
    // null counts and long bounds folded from the manifest at ZERO
    // file I/O, plus the HLL ndv estimate pinned (in-band) within 15%
    // of the exact distinct count the oracle cannot see. The report a
    // query planner or data-quality dashboard reads without touching
    // 100 TB of data files.
    "lake_stats_report" -> ((s, dir) => {
      val path = tablePath("lake_stats_rep")
      wipe(path)
      val b = base(s, dir).select(col("k"),
        when(col("k") % 7 === 0, lit(null).cast("string"))
          .otherwise(col("status")).as("status"), col("price"))
      val t = LakeTable.create(s, path, b.coalesce(2), Seq("k", "status"))
      val exactNdv = Map(
        "k" -> b.select(col("k")).distinct().count(),
        "status" -> b.filter(col("status").isNotNull)
          .select(col("status")).distinct().count())
      val rep = t.statsReport().collect().map(r => r.getString(0) -> r).toMap
      val ndvOk = exactNdv.forall { case (c, exact) =>
        math.abs(rep(c).getLong(3) - exact).toDouble / exact <= 0.15
      }
      t.statsReport()
        .select(col("column"), col("row_count"), col("null_count"),
          col("min_value"), col("max_value"), lit(ndvOk).as("ndv_ok"))
        .orderBy(col("column"))
    })
  )

  val oracle: Map[String, String] = Map(
    // 23 commits: create(1) + 21 appends + 1 delete; checkpoints land
    // at 1, 10, 20 by the CheckpointInterval=10 cadence, every other
    // version is a delta. Live rows = keys of residues 0..21 with the
    // odd keys deleted.
    "lake_log_stats" ->
      """SELECT 23 AS current_version, 3 AS n_checkpoints, 20 AS n_deltas,
        |  count(*) AS n_rows,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
        |  true AS reconstruction_consistent
        |FROM orders
        |WHERE o_orderkey % 23 <= 21 AND o_orderkey % 2 = 0""".stripMargin,

    "lake_merge" ->
      """WITH base AS (
        |  SELECT CAST(o_orderkey AS BIGINT) AS k, o_orderstatus AS status,
        |    o_totalprice AS price
        |  FROM orders),
        |updates AS (
        |  SELECT k, 'U' AS status, price + 100.0 AS price FROM base
        |  WHERE k % 10 = 0 AND k <= (SELECT max(k) // 2 FROM base)),
        |merged AS (
        |  SELECT * FROM updates
        |  UNION ALL
        |  SELECT * FROM base WHERE k NOT IN (SELECT k FROM updates))
        |SELECT count(*) AS n_rows,
        |  count(*) FILTER (WHERE status = 'U') AS n_updated,
        |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
        |  true AS hi_files_untouched
        |FROM merged""".stripMargin,

    "lake_merge_delete" ->
      """WITH base AS (
        |  SELECT CAST(o_orderkey AS BIGINT) AS k, o_orderstatus AS status,
        |    o_totalprice AS price
        |  FROM orders),
        |h AS (SELECT max(k) // 2 AS half FROM base),
        |merged AS (
        |  SELECT k, status, price FROM base
        |  WHERE NOT (k % 10 = 0 AND k <= (SELECT half FROM h))
        |  UNION ALL
        |  SELECT k, 'U', price + 100.0 FROM base
        |  WHERE k % 10 = 0 AND k <= (SELECT half FROM h) AND k % 20 <> 0)
        |SELECT count(*) AS n_rows,
        |  count(*) FILTER (WHERE status = 'U') AS n_updated,
        |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
        |  true AS hi_files_untouched
        |FROM merged""".stripMargin,

    "lake_time_travel" ->
      """WITH base AS (
        |  SELECT CAST(o_orderkey AS BIGINT) AS k, o_totalprice AS price
        |  FROM orders)
        |SELECT 1 AS version, count(*) AS n_rows,
        |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        |FROM base
        |UNION ALL
        |SELECT 2, count(*),
        |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE)
        |FROM base WHERE k % 13 <> 0
        |UNION ALL
        |SELECT 3, count(*),
        |  CAST(sum(CAST(CASE WHEN k % 7 = 0 THEN price + 50.0 ELSE price END
        |    AS DECIMAL(18,2))) AS DOUBLE)
        |FROM base WHERE k % 13 <> 0
        |ORDER BY version""".stripMargin,

    "lake_stream_merge" ->
      """SELECT user_id, count(*) AS n, round(sum(value), 6) AS sum_value,
        |  true AS multi_batch_ok
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "lake_stream_append" ->
      """SELECT user_id, count(*) AS n, round(sum(value), 6) AS sum_value,
        |  true AS multi_batch_ok, true AS replay_skipped
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "lake_compact" ->
      """SELECT count(*) AS n_rows,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
        |  4 AS n_files_before, 1 AS n_files_after
        |FROM orders""".stripMargin,

    "lake_schema_evolution" ->
      """WITH base AS (
        |  SELECT CAST(o_orderkey AS BIGINT) AS k, o_totalprice AS price
        |  FROM orders),
        |h AS (SELECT max(k) // 2 AS half FROM base)
        |SELECT count(*) AS n_rows,
        |  count(*) FILTER (WHERE k <= (SELECT half FROM h)) AS n_null_prio,
        |  count(*) FILTER (WHERE k > (SELECT half FROM h)) AS n_prio,
        |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
        |  true AS v1_schema_preserved
        |FROM base""".stripMargin,

    "lake_incremental_read" ->
      """WITH base AS (
        |  SELECT CAST(o_orderkey AS BIGINT) AS k, o_totalprice AS price
        |  FROM orders)
        |SELECT k % 3 AS slice, count(*) AS n,
        |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
        |  true AS two_files_added
        |FROM base WHERE k % 3 <> 0
        |GROUP BY 1 ORDER BY slice""".stripMargin,

    "lake_changes" ->
      """WITH base AS (
        |  SELECT CAST(o_orderkey AS BIGINT) AS k, o_orderstatus AS status,
        |    o_totalprice AS price
        |  FROM orders),
        |h AS (SELECT max(k) // 2 AS half FROM base),
        |upd AS (
        |  SELECT k, status, price FROM base
        |  WHERE k % 10 = 0 AND k <= (SELECT half FROM h))
        |SELECT k, 'U' AS status, price + 100.0 AS price, 'insert' AS change
        |FROM upd
        |UNION ALL
        |SELECT k, status, price, 'delete' AS change FROM upd
        |ORDER BY k, change""".stripMargin,

    "lake_stream_read" ->
      """WITH base AS (
        |  SELECT CAST(o_orderkey AS BIGINT) AS k, o_totalprice AS price
        |  FROM orders)
        |SELECT k % 3 AS slice, count(*) AS n,
        |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
        |  true AS one_batch_per_version
        |FROM base GROUP BY 1 ORDER BY slice""".stripMargin,

    "lake_cluster_prune" ->
      """WITH base AS (
        |  SELECT CAST(o_orderkey AS BIGINT) AS k, o_totalprice AS price
        |  FROM orders),
        |h AS (SELECT max(k) AS mx FROM base)
        |SELECT count(*) AS n_rows,
        |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
        |  true AS hash_layout_opens_all,
        |  true AS clustered_prunes
        |FROM base
        |WHERE k BETWEEN (SELECT mx // 2 FROM h)
        |  AND (SELECT mx // 2 + mx // 10 FROM h)""".stripMargin,

    "lake_prune_read" ->
      """WITH base AS (
        |  SELECT CAST(o_orderkey AS BIGINT) AS k, o_totalprice AS price
        |  FROM orders)
        |SELECT count(*) AS n_hi,
        |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total_hi,
        |  true AS files_skipped
        |FROM base WHERE k > (SELECT max(k) // 2 FROM base)""".stripMargin,

    "lake_delete" ->
      """WITH base AS (
        |  SELECT CAST(o_orderkey AS BIGINT) AS k, o_totalprice AS price
        |  FROM orders)
        |SELECT count(*) AS n_rows,
        |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
        |  true AS hi_files_untouched
        |FROM base
        |WHERE NOT (k % 10 = 0 AND k <= (SELECT max(k) // 2 FROM base))""".stripMargin,

    "lake_vacuum" ->
      """WITH base AS (
        |  SELECT CAST(o_orderkey AS BIGINT) AS k, o_totalprice AS price
        |  FROM orders)
        |SELECT count(*) AS n_rows,
        |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
        |  true AS exactly_v1_files_deleted,
        |  true AS vacuumed_version_errors
        |FROM base WHERE k % 13 <> 0""".stripMargin,

    "lake_catalyst_prune" ->
      """WITH base AS (
        |  SELECT CAST(o_orderkey AS BIGINT) AS k, o_totalprice AS price
        |  FROM orders),
        |h AS (SELECT max(k) AS mx FROM base)
        |SELECT count(*) AS n_rows,
        |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
        |  true AS all_files_unfiltered,
        |  true AS files_pruned
        |FROM base
        |WHERE k BETWEEN (SELECT mx // 2 FROM h)
        |  AND (SELECT mx // 2 + mx // 10 FROM h)""".stripMargin,

    "lake_zorder" ->
      """WITH base AS (
        |  SELECT CAST(o_custkey AS BIGINT) AS ck, o_totalprice AS price
        |  FROM orders),
        |h AS (SELECT max(ck) AS mx FROM base)
        |SELECT count(*) AS n_rows,
        |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
        |  true AS hash_opens_all,
        |  true AS zorder_prunes_ck,
        |  true AS zorder_prunes_k
        |FROM base
        |WHERE ck BETWEEN (SELECT mx // 4 FROM h) AND (SELECT mx // 2 FROM h)""".stripMargin,

    "lake_history" ->
      """WITH base AS (
        |  SELECT CAST(o_orderkey AS BIGINT) AS k FROM orders)
        |SELECT CAST(1 AS INTEGER) AS version, 'create' AS operation,
        |  count(*) AS total_rows FROM base
        |UNION ALL
        |SELECT CAST(2 AS INTEGER), 'delete', count(*)
        |FROM base WHERE k % 13 <> 0
        |UNION ALL
        |SELECT CAST(3 AS INTEGER), 'merge', count(*)
        |FROM base WHERE k % 13 <> 0
        |ORDER BY version""".stripMargin,

    "lake_dv_purge" ->
      """WITH base AS (
        |  SELECT CAST(o_orderkey AS BIGINT) AS k, o_totalprice AS price
        |  FROM orders)
        |SELECT count(*) AS n_rows,
        |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
        |  true AS clean_file_carried,
        |  true AS indebted_file_rewritten,
        |  true AS dv_sidecars_vacuumed
        |FROM base
        |WHERE NOT (k % 10 = 0 AND k <= (SELECT max(k) // 2 FROM base))""".stripMargin,

    "lake_delete_dv" ->
      """WITH base AS (
        |  SELECT CAST(o_orderkey AS BIGINT) AS k, o_totalprice AS price
        |  FROM orders)
        |SELECT count(*) AS n_rows,
        |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
        |  true AS no_files_rewritten,
        |  true AS one_dv_sidecar
        |FROM base
        |WHERE NOT (k % 10 = 0 AND k <= (SELECT max(k) // 2 FROM base))""".stripMargin,

    "lake_update_dv" ->
      """WITH base AS (
        |  SELECT CAST(o_orderkey AS BIGINT) AS k, o_orderstatus AS status,
        |    o_totalprice AS price
        |  FROM orders),
        |h AS (SELECT max(k) // 2 AS half FROM base),
        |upd AS (
        |  SELECT k,
        |    CASE WHEN k % 10 = 0 AND k <= (SELECT half FROM h)
        |      THEN 'U' ELSE status END AS status,
        |    CASE WHEN k % 10 = 0 AND k <= (SELECT half FROM h)
        |      THEN price + 100.0 ELSE price END AS price
        |  FROM base)
        |SELECT count(*) AS n_rows,
        |  count(*) FILTER (WHERE status = 'U') AS n_updated,
        |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
        |  true AS no_files_rewritten,
        |  true AS delta_appended,
        |  true AS one_dv_sidecar
        |FROM upd""".stripMargin,

    "lake_merge_dv" ->
      """WITH base AS (
        |  SELECT CAST(o_orderkey AS BIGINT) AS k, o_orderstatus AS status,
        |    o_totalprice AS price
        |  FROM orders),
        |h AS (SELECT max(k) // 2 AS half, max(k) AS mx FROM base),
        |upd AS (
        |  SELECT k, 'U' AS status, price + 100.0 AS price FROM base
        |  WHERE k % 10 = 0 AND k <= (SELECT half FROM h)),
        |ins AS (
        |  SELECT k + (SELECT mx + 1 FROM h) AS k, 'N' AS status, price FROM base
        |  WHERE k % 10 = 0 AND k <= (SELECT half FROM h)),
        |merged AS (
        |  SELECT * FROM upd UNION ALL SELECT * FROM ins
        |  UNION ALL
        |  SELECT * FROM base WHERE k NOT IN (SELECT k FROM upd))
        |SELECT count(*) AS n_rows,
        |  count(*) FILTER (WHERE status = 'U') AS n_updated,
        |  count(*) FILTER (WHERE status = 'N') AS n_inserted,
        |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
        |  true AS no_files_rewritten,
        |  true AS one_dv_sidecar
        |FROM merged""".stripMargin,

    "lake_restore" ->
      """WITH base AS (
        |  SELECT CAST(o_orderkey AS BIGINT) AS k, o_totalprice AS price
        |  FROM orders)
        |SELECT count(*) AS n_rows,
        |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
        |  true AS restore_is_new_commit,
        |  true AS history_shows_restore
        |FROM base""".stripMargin,

    "lake_prune_time" ->
      """WITH h AS (
        |  SELECT epoch_us(min(ts)) AS mn, epoch_us(max(ts)) AS mx
        |  FROM events)
        |SELECT count(*) AS n_rows,
        |  round(sum(value), 6) AS sum_value,
        |  true AS files_pruned
        |FROM events
        |WHERE epoch_us(ts) >= (SELECT mn + (mx - mn) // 4 FROM h)
        |  AND epoch_us(ts) < (SELECT mn + (mx - mn) // 2 FROM h)""".stripMargin,

    "lake_sql_time_travel" ->
      """WITH base AS (
        |  SELECT CAST(o_orderkey AS BIGINT) AS k, o_totalprice AS price
        |  FROM orders)
        |SELECT 1 AS version, count(*) AS n_rows,
        |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        |FROM base
        |UNION ALL
        |SELECT 2, count(*),
        |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE)
        |FROM base WHERE k % 13 <> 0
        |ORDER BY version""".stripMargin,

    "lake_bucket_join" ->
      """WITH facts AS (
        |  SELECT CAST(o_orderkey AS BIGINT) AS k, o_totalprice AS price
        |  FROM orders),
        |dims AS (
        |  SELECT CAST(o_orderkey AS BIGINT) AS k, o_orderpriority AS prio
        |  FROM orders WHERE CAST(o_orderkey AS BIGINT) % 2 = 0)
        |SELECT prio, count(*) AS n,
        |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
        |  true AS bucketed_scan,
        |  true AS no_shuffle_join
        |FROM facts JOIN dims USING (k)
        |GROUP BY prio ORDER BY prio""".stripMargin,

    "lake_rename" ->
      """WITH base AS (
        |  SELECT CAST(o_orderkey AS BIGINT) AS k, o_totalprice AS price
        |  FROM orders)
        |SELECT count(*) AS n_hi,
        |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total_hi,
        |  true AS zero_rewrite,
        |  true AS v1_keeps_old_name,
        |  true AS pruned_on_new_name
        |FROM base WHERE k > (SELECT max(k) // 2 FROM base)""".stripMargin,

    "lake_sql_dml" ->
      """WITH base AS (
        |  SELECT CAST(o_orderkey AS BIGINT) AS k, o_orderstatus AS status,
        |    o_totalprice AS price
        |  FROM orders),
        |s2 AS (
        |  SELECT k, status,
        |    CASE WHEN k % 7 = 0 THEN price + 10.0 ELSE price END AS price
        |  FROM base WHERE k % 13 <> 0),
        |src AS (
        |  SELECT k, 'U' AS status, price + 100.0 AS price
        |  FROM base WHERE k % 10 = 0),
        |final AS (
        |  SELECT * FROM s2 WHERE k % 10 <> 0
        |  UNION ALL
        |  SELECT * FROM src WHERE k % 13 <> 0 AND k % 20 <> 0
        |  UNION ALL
        |  SELECT * FROM src WHERE k % 13 = 0)
        |SELECT count(*) AS n_rows,
        |  count(*) FILTER (WHERE status = 'U') AS n_updated,
        |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
        |  true AS ledger_ok
        |FROM final""".stripMargin,

    "lake_merge_general" ->
      """WITH base AS (
        |  SELECT CAST(o_orderkey AS BIGINT) AS k, o_orderstatus AS status,
        |    o_totalprice AS price
        |  FROM orders),
        |mx AS (SELECT max(k) AS m FROM base),
        |src AS (
        |  SELECT k, price FROM base WHERE k % 10 = 0
        |  UNION ALL
        |  SELECT k + (SELECT m FROM mx), price FROM base WHERE k % 15 = 0),
        |matched AS (
        |  SELECT t.k, t.status, t.price, s.price AS sprice
        |  FROM base t JOIN src s ON t.k = s.k),
        |kept_matched AS (
        |  SELECT k,
        |    CASE WHEN k % 20 = 0 THEN status ELSE 'M' END AS status,
        |    CASE WHEN k % 20 = 0 THEN price + sprice ELSE price END AS price
        |  FROM matched WHERE NOT (sprice > 300000.0)),
        |unmatched_t AS (
        |  SELECT k,
        |    CASE WHEN k % 97 = 0 THEN 'L' ELSE status END AS status,
        |    price
        |  FROM base t WHERE NOT EXISTS (SELECT 1 FROM src s WHERE s.k = t.k)),
        |inserted AS (
        |  SELECT s.k, 'N' AS status, s.price
        |  FROM src s
        |  WHERE NOT EXISTS (SELECT 1 FROM base t WHERE t.k = s.k)
        |    AND s.k % 3 = 0),
        |final AS (
        |  SELECT * FROM kept_matched
        |  UNION ALL SELECT * FROM unmatched_t
        |  UNION ALL SELECT * FROM inserted)
        |SELECT count(*) AS n_rows,
        |  count(*) FILTER (WHERE status = 'M') AS n_marked,
        |  count(*) FILTER (WHERE status = 'L') AS n_leftover,
        |  count(*) FILTER (WHERE status = 'N') AS n_inserted,
        |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
        |  true AS ledger_ok
        |FROM final""".stripMargin,

    "lake_cbo_broadcast" ->
      """WITH base AS (
        |  SELECT CAST(o_orderkey AS BIGINT) AS k, o_orderstatus AS status,
        |    o_totalprice AS price
        |  FROM orders)
        |SELECT count(*) AS n_rows,
        |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
        |  true AS bhj_from_stats,
        |  true AS smj_without_stats
        |FROM base WHERE k <= (SELECT max(k) // 100 FROM base)""".stripMargin,

    "lake_catalog_sql" ->
      """WITH base AS (
        |  SELECT CAST(o_orderkey AS BIGINT) AS k, o_orderstatus AS status,
        |    o_totalprice AS price
        |  FROM orders),
        |s2 AS (
        |  SELECT k, status,
        |    CASE WHEN k % 7 = 0 THEN price + 10.0 ELSE price END AS price
        |  FROM base WHERE k % 13 <> 0),
        |src AS (
        |  SELECT k, 'U' AS status, price + 100.0 AS price
        |  FROM base WHERE k % 10 = 0),
        |final AS (
        |  SELECT * FROM s2 WHERE k % 10 <> 0
        |  UNION ALL
        |  SELECT * FROM src WHERE k % 13 <> 0 AND k % 20 <> 0
        |  UNION ALL
        |  SELECT * FROM src WHERE k % 13 = 0)
        |SELECT count(*) AS n_rows,
        |  count(*) FILTER (WHERE status = 'U') AS n_updated,
        |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
        |  (SELECT count(*) FROM base) AS n_at_insert_version,
        |  true AS ledger_ok,
        |  true AS v2_scan_ok
        |FROM final""".stripMargin,

    "lake_partition_prune" ->
      """SELECT lang, count(*) AS n,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  true AS file_per_partition,
        |  true AS partition_pruned,
        |  true AS appended_partition_pruned
        |FROM documents WHERE lang = 'en'
        |GROUP BY lang""".stripMargin,

    "lake_prune_string" ->
      """SELECT source, count(*) AS n,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  true AS all_files_unfiltered,
        |  true AS equality_prunes,
        |  true AS prefix_prunes
        |FROM documents WHERE source LIKE 'src1%'
        |GROUP BY source ORDER BY source""".stripMargin,

    "lake_concurrent" ->
      """WITH base AS (
        |  SELECT CAST(o_orderkey AS BIGINT) AS k, o_orderstatus AS status,
        |    o_totalprice AS price
        |  FROM orders),
        |h AS (SELECT max(k) AS mx FROM base),
        |merged AS (
        |  SELECT k, 'U' AS status, price + 100.0 AS price FROM base
        |  WHERE k % 10 = 0 AND k <= (SELECT mx // 2 FROM h)
        |  UNION ALL
        |  SELECT k, status, price FROM base
        |  WHERE NOT (k % 10 = 0 AND k <= (SELECT mx // 2 FROM h))
        |  UNION ALL
        |  SELECT k + (SELECT mx FROM h), status, price FROM base
        |  WHERE k % 3 = 0)
        |SELECT count(*) AS n_rows,
        |  count(*) FILTER (WHERE status = 'U') AS n_updated,
        |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
        |  true AS four_commits
        |FROM merged""".stripMargin,

    "lake_clone" ->
      """WITH base AS (
        |  SELECT CAST(o_orderkey AS BIGINT) AS k, o_orderstatus AS status,
        |    o_totalprice AS price
        |  FROM orders),
        |merged AS (
        |  SELECT k, 'U' AS status, price + 100.0 AS price FROM base
        |  WHERE k % 10 = 0
        |  UNION ALL
        |  SELECT k, status, price FROM base WHERE k % 10 <> 0)
        |SELECT count(*) AS n_rows,
        |  count(*) FILTER (WHERE status = 'U') AS n_updated,
        |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
        |  true AS zero_copy,
        |  true AS source_unchanged
        |FROM merged""".stripMargin,

    "lake_constraints" ->
      """WITH base AS (
        |  SELECT CAST(o_orderkey AS BIGINT) AS k, o_totalprice AS price
        |  FROM orders),
        |aug AS (
        |  SELECT price FROM base
        |  UNION ALL
        |  SELECT price FROM base WHERE k % 5 = 0)
        |SELECT count(*) AS n_rows,
        |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
        |  true AS violation_rejected_atomically
        |FROM aug""".stripMargin,

    "lake_bloom_prune" ->
      """WITH base AS (
        |  SELECT CAST(o_orderkey AS BIGINT) AS k, o_totalprice AS price
        |  FROM orders),
        |probe AS (SELECT (((max(k) // 2) % 1000003) * 2654435761) % 1000003 AS p
        |          FROM base)
        |SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
        |  true AS files_skipped
        |FROM base, probe WHERE ((k % 1000003) * 2654435761) % 1000003 = p""".stripMargin,

    "lake_mv_incremental" ->
      """WITH base0 AS (
        |  SELECT CAST(o_orderkey AS BIGINT) AS k, o_orderstatus AS status,
        |    o_totalprice AS price
        |  FROM orders),
        |mx AS (SELECT max(k) AS mx FROM base0),
        |app AS (SELECT k + (SELECT mx FROM mx) AS k, 'NEW' AS status, price
        |        FROM base0 WHERE k <= 1000),
        |allr AS (SELECT * FROM base0 UNION ALL SELECT * FROM app),
        |fin AS (SELECT * FROM allr
        |        WHERE NOT (k % 10 = 0 AND k <= (SELECT mx FROM mx) // 2))
        |SELECT status, CAST(count(*) AS BIGINT) AS cnt,
        |  round(CAST(sum(CAST(price AS DECIMAL(18,2))) AS DOUBLE), 2) AS total,
        |  true AS delta_bounded, true AS scanned_exactly_delta
        |FROM fin GROUP BY status ORDER BY status""".stripMargin,

    "lake_stream_mv" ->
      """SELECT user_id, CAST(count(*) AS BIGINT) AS cnt,
        |  round(CAST(sum(CAST(round(value, 2) AS DECIMAL(18,2))) AS DOUBLE), 2)
        |    AS total,
        |  true AS scanned_exactly_delta, true AS multi_batch_ok
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "lake_stats_report" ->
      """WITH base AS (
        |  SELECT CAST(o_orderkey AS BIGINT) AS k,
        |    CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_orderstatus END AS status
        |  FROM orders)
        |SELECT 'k' AS "column", CAST(count(*) AS BIGINT) AS row_count,
        |  CAST(0 AS BIGINT) AS null_count,
        |  min(k) AS min_value, max(k) AS max_value, true AS ndv_ok
        |FROM base
        |UNION ALL
        |SELECT 'status', CAST(count(*) AS BIGINT),
        |  CAST(sum(CASE WHEN status IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |  NULL, NULL, true
        |FROM base
        |ORDER BY "column"""".stripMargin
  )
}
