package graftbench

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-independent checksums over every column of a result.
  *
  * A result's checksum is (rows, Σ row-hash mod 2^64): addition
  * commutes, so partition and row order do not matter, while any
  * changed value changes its row's hash. Doubles are rounded to 6
  * decimals first, so a different summation order inside an aggregate
  * (the last few bits) does not read as a wrong answer.
  *
  * Two forms: [[ofFrame]] runs inside Spark as one aggregate over the
  * result — the timed action of a batch call, which therefore computes
  * every output column (a `count()` would let the optimizer prune
  * them) — and [[ofRows]] hashes rows already collected to the driver. */
object Checksum {

  final case class Sum(rows: Long, hash: Long) {
    def +(o: Sum): Sum = Sum(rows + o.rows, hash + o.hash)
    override def toString: String = f"$rows:$hash%016x"
  }

  /** Mixes a named part (e.g. one call's checksum) into a pass checksum,
    * so equal results of different calls do not cancel out. */
  def tagged(name: String, s: Sum): Sum =
    Sum(s.rows, s.hash * 0x9E3779B97F4A7C15L + MurmurHash3.stringHash(name))

  private def normalized(c: Column, t: DataType): Column = t match {
    case DoubleType => round(c, 6)
    case FloatType => round(c.cast(DoubleType), 6)
    case ArrayType(et, _) => transform(c, x => normalized(x, et))
    case StructType(fields) =>
      struct(fields.map(f => normalized(c.getField(f.name), f.dataType).as(f.name)).toSeq: _*)
    case MapType(kt, vt, _) =>
      normalized(array_sort(map_entries(c)),
        ArrayType(StructType(Seq(StructField("key", kt), StructField("value", vt)))))
    case _ => c
  }

  /** The checksum aggregate over all of `df`'s columns (one row out). */
  def frame(df: DataFrame): DataFrame = {
    val h = xxhash64(df.schema.fields.map(f => normalized(col(f.name), f.dataType)).toSeq: _*)
    df.select(h.as("h")).agg(count(lit(1)).as("n"),
      coalesce(sum(col("h").bitwiseAND(lit(0xFFFFFFFFL))), lit(0L)).as("lo"),
      coalesce(sum(shiftrightunsigned(col("h"), 32)), lit(0L)).as("hi"))
  }

  /** Reads the one-row result of [[frame]]. */
  def read(r: Row): Sum = Sum(r.getLong(0), r.getLong(1) + (r.getLong(2) << 32))

  def ofFrame(df: DataFrame): Sum = read(frame(df).collect()(0))

  private def round6(d: Double): Double =
    if (d.isNaN || d.isInfinite || math.abs(d) > 1e12) d
    else math.rint(d * 1e6) / 1e6 + 0.0

  private def norm(v: Any): Any = v match {
    case d: Double => round6(d)
    case f: Float => round6(f.toDouble)
    case r: Row => r.toSeq.map(norm)
    case s: scala.collection.Seq[_] => s.map(norm)
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => (norm(k), norm(x)) }.sortBy(_.toString)
    case a: Array[Byte] => a.toSeq
    case other => other
  }

  private def rowHash(r: Row): Long = {
    val values = r.toSeq.map(norm)
    (MurmurHash3.seqHash(values).toLong << 32) |
      (MurmurHash3.orderedHash(values, 0x5bd1e995) & 0xFFFFFFFFL)
  }

  def ofRows(rows: Array[Row]): Sum =
    Sum(rows.length.toLong, rows.iterator.map(rowHash).sum)
}
