package graftbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-independent result fingerprint: row count plus the sum of a
  * 64-bit row hash over every output column. Aggregating every column
  * forces each output expression to be computed (a bare `count()` lets
  * Catalyst prune them), and the three numbers double as the
  * correctness check. The hash sum is kept as two 32-bit halves so the
  * sums cannot overflow a long under ANSI arithmetic.
  */
final case class Fp(rows: Long, hi: Long, lo: Long) {
  def render: String = s"$rows\t$hi\t$lo"
}

object Fingerprint {

  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case a: ArrayType => hasMap(a.elementType)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _ => false
  }

  /** Hashable, order-canonical form of one column: maps have no
    * defined entry order and are not hashable, so a top-level map
    * becomes its sorted entry array; maps nested deeper become JSON.
    */
  private def canonical(c: Column, t: DataType): Column = t match {
    case MapType(k, v, _) if !hasMap(k) && !hasMap(v) => array_sort(map_entries(c))
    case _ if hasMap(t) => to_json(struct(c))
    case _ => c
  }

  private def rowHash(df: DataFrame): Column = {
    val cols = df.schema.fields.map(f => canonical(df.col(f.name), f.dataType))
    if (cols.isEmpty) lit(0L) else xxhash64(cols.toIndexedSeq: _*)
  }

  private def aggs(h: Column): Seq[Column] = Seq(
    count(lit(1)).as("rows"),
    coalesce(sum(shiftright(h, 32)), lit(0L)).as("hi"),
    coalesce(sum(h.bitwiseAND(lit(0xffffffffL))), lit(0L)).as("lo"))

  /** The fingerprint aggregate of `df` — one row, not yet executed. */
  def of(df: DataFrame): DataFrame = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    named.select(aggs(rowHash(named)): _*)
  }

  /** Fingerprints of several same-schema frames in one grouped aggregate,
    * by tag; each equals `read(of(frame))`. */
  def tagged(frames: Seq[(String, DataFrame)]): Map[String, Fp] = {
    val all = frames.map { case (tag, df) =>
      val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
      named.select(lit(tag).as("tag"), rowHash(named).as("h"))
    }.reduce(_ union _)
    val got = all.groupBy(col("tag")).agg(aggs(col("h")).head, aggs(col("h")).tail: _*)
      .collect().map(r => r.getString(0) -> Fp(r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // a frame with no rows has no group
    frames.map { case (tag, _) => tag -> got.getOrElse(tag, Fp(0, 0, 0)) }.toMap
  }

  def read(agg: DataFrame): Fp = {
    val r = agg.collect()(0)
    Fp(r.getLong(0), r.getLong(1), r.getLong(2))
  }

  def parse(line: String): (String, Fp) = {
    val p = line.split("\t")
    p(0) -> Fp(p(1).toLong, p(2).toLong, p(3).toLong)
  }
}
