package graft.lake

/** Test-only bridge into the lake package: lets specs replay a commit
  * at an already-taken version to exercise the exclusive-publish path.
  */
object LakeTestAccess {
  def recommitAt(t: LakeTable, version: Int, fromVersion: Int): Int =
    t.commitForTest(version, t.manifest(fromVersion))

  /** sizeInBytes of a fresh LakeFileIndex over `version`'s manifest. */
  def indexSizeInBytes(s: org.apache.spark.sql.SparkSession, t: LakeTable,
      version: Int): Long =
    new LakeFileIndex(s, t.path, t.manifest(version)).sizeInBytes

  /** Parse a raw manifest text and return its txn ledger — exercises
    * the legacy single-`txn` compatibility path.
    */
  def parseTxns(text: String): Map[String, Long] = Manifest.parse(text).txns

  /** Drive commitMutation directly: plan a mutation against version
    * `vRead`, let the caller interleave commits, then attempt — the
    * deterministic harness for the optimistic-rebase matrix.
    */
  def commitMutation(t: LakeTable, vRead: Int, op: String,
      consumedNames: Set[String],
      conflictsWithRange: (String, Long, Long)): Int = {
    val base = t.manifest(vRead)
    val consumed = base.files.filter(f => consumedNames(f.name))
    val (c, lo, hi) = conflictsWithRange
    t.commitMutation(vRead, base, op, consumed, Seq.empty,
      f => f.overlaps(c, lo, hi))
  }

  /** Commit a synthetic manifest of `names.size` entries cloned from
    * v1's first file entry (distinct names + k-stats) at `version` —
    * the harness for delta-log commit-cost tests against large
    * control planes without writing 50k real parquet files.
    */
  def commitClonedEntries(t: LakeTable, version: Int, op: String,
      names: Seq[String]): Int = {
    val base = t.manifest(1)
    val proto = base.files.head
    val files = names.zipWithIndex.map { case (n, i) =>
      proto.copy(name = n, stats = Map("k" -> ((i * 100L, i * 100L + 99L))))
    }
    t.commitForTest(version, base.copy(operation = op, files = files))
  }

  /** Number of file entries in `version`'s reconstructed manifest. */
  def filesCount(t: LakeTable, version: Int): Int =
    t.manifest(version).files.size

  /** String-stats truncation helpers, exposed for unit tests. */
  def strTruncMin(s: String): String = LakeTable.truncMin(s)
  def strTruncMax(s: String): Option[String] = LakeTable.truncMax(s)
  def strPrefixUpper(s: String): Option[String] = LakeTable.prefixUpper(s)

  /** Per-file deletion-vector references of a version's manifest
    * (file name -> DV file names) — lets specs pin which entries carry
    * DV debt without widening the production API.
    */
  def dvEntries(t: LakeTable, version: Int): Map[String, Seq[String]] =
    t.manifest(version).files.map(f => f.name -> f.dv).toMap

  /** Per-file masked-row counts of a version's manifest. */
  def dvRows(t: LakeTable, version: Int): Map[String, Long] =
    t.manifest(version).files.map(f => f.name -> f.dvRows).toMap

  /** The row positions each file's DV files mask, read back from disk
    * and unioned per file (files without a DV absent).
    */
  def maskedPositions(t: LakeTable, version: Int): Map[String, Set[Long]] =
    t.manifest(version).files.filter(_.dv.nonEmpty).map { f =>
      f.name -> f.dv.flatMap { d =>
        LakeTable.decodeDv(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(t.path, d)))(f.name).toArray.toSeq
      }.toSet
    }.toMap

  /** Encode per-file positions as a DV file's bytes and decode them. */
  def dvRoundTrip(dv: Map[String, Seq[Long]]): Map[String, Seq[Long]] =
    LakeTable.decodeDv(LakeTable.encodeDv(dv.map { case (f, ps) =>
      val b = new org.roaringbitmap.longlong.Roaring64NavigableMap()
      ps.foreach(b.addLong)
      f -> b
    })).map { case (f, b) => f -> b.toArray.toSeq }

  /** boundsOf over a user-facing Column predicate, resolved against
    * `df` exactly the way deleteWhere's candidate pruning does it.
    */
  def boundsOf(df: org.apache.spark.sql.DataFrame,
      cond: org.apache.spark.sql.Column,
      statsCols: Set[String]): Map[String, (Long, Long)] =
    LakeFileIndex.resolvedCondition(df, cond)
      .map(e => LakeFileIndex.boundsOf(Seq(e), statsCols))
      .getOrElse(Map.empty)

  /** Each file of `version` with its recorded integral [min,max] stats. */
  def fileStats(t: LakeTable, version: Int): Seq[(String, Map[String, (Long, Long)])] =
    t.manifest(version).files.map(f => f.name -> f.stats)
}
