package graftbench

import java.util.Locale

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-independent digest of a result: the row count plus two 32-bit
  * halves of the sum of per-row 64-bit hashes. Integer sums commute, so
  * neither row order nor partitioning moves the digest.
  *
  * A row hashes the text of its cells sorted by column name, so column
  * order does not matter either. Floating values are rounded to a fixed
  * relative precision first (9 significant digits for doubles, 6 for
  * floats): a sum reassociated across partitions differs in its last
  * bits and must not read as a wrong answer.
  */
final case class Digest(rows: Long, lo: Long, hi: Long) {
  override def toString: String = s"$rows:${lo.toHexString}:${hi.toHexString}"
}

object Digest {
  private val Empty = Digest(0L, 0L, 0L)

  def combine(a: Digest, b: Digest): Digest =
    Digest(a.rows + b.rows, a.lo + b.lo, a.hi + b.hi)

  def ofHash(h: Long): Digest = Digest(1L, h & 0xffffffffL, h >>> 32)

  /** 64-bit FNV-1a over the UTF-16 units, then the SplitMix64 finalizer so
    * that summed hashes of similar rows do not cancel.
    */
  def hashString(s: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) {
      h = (h ^ s.charAt(i)) * 0x100000001b3L
      i += 1
    }
    h = (h ^ (h >>> 30)) * 0xbf58476d1ce4e5b9L
    h = (h ^ (h >>> 27)) * 0x94d049bb133111ebL
    h ^ (h >>> 31)
  }

  private def fp(d: Double, digits: Int): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) (if (d > 0) "Inf" else "-Inf")
    else if (d == 0.0) "0" // folds -0.0 into 0.0
    else String.format(Locale.ROOT, s"%.${digits - 1}e", Double.box(d))

  /** Canonical text of one value of type `t`. */
  def canon(v: Any, t: DataType): String = (v, t) match {
    case (null, _)                     => "∅"
    case (d: Double, _)                => fp(d, 9)
    case (f: Float, _)                 => fp(f.toDouble, 6)
    case (b: Array[Byte], _)           => b.map(x => f"${x & 0xff}%02x").mkString
    case (ts: java.sql.Timestamp, _)   => s"ts${ts.getTime}.${ts.getNanos}"
    case (s: Seq[_], ArrayType(et, _)) => s.map(canon(_, et)).mkString("[", ",", "]")
    case (m: scala.collection.Map[_, _], MapType(kt, vt, _)) =>
      m.toSeq.map { case (k, x) => canon(k, kt) + "->" + canon(x, vt) }.sorted
        .mkString("{", ",", "}")
    case (r: Row, st: StructType) =>
      st.fields.indices.map(i => st.fields(i).name + "=" + canon(r.get(i), st.fields(i).dataType))
        .mkString("(", ",", ")")
    case (x, _) => x.toString
  }

  def rowHash(r: Row, schema: StructType): Long =
    hashString(schema.fields.indices
      .map(i => schema.fields(i).name + "=" + canon(r.get(i), schema.fields(i).dataType))
      .sorted.mkString("\u0001"))

  /** The one-row frame whose collect is a query's timed action: it hashes
    * every column of every row of `df` (a `count()` would let the optimizer
    * prune columns) and sums the hashes in the engine.
    */
  def frame(df: DataFrame): DataFrame = {
    val schema = df.schema
    val hash   = udf((r: Row) => rowHash(r, schema))
    val cols   = df.toDF(schema.indices.map(i => s"c$i"): _*)
    cols.select(hash(struct(cols.columns.map(col).toIndexedSeq: _*)).as("h"))
      .agg(count(lit(1)), sum(col("h").bitwiseAND(0xffffffffL)), sum(shiftrightunsigned(col("h"), 32)))
  }

  /** Read the result of [[frame]]'s action. */
  def read(rows: Array[Row]): Digest = {
    val r = rows.head
    if (r.getLong(0) == 0L) Empty else Digest(r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** Digest of text lines, each line hashed as a whole. */
  def ofLines(lines: Iterator[String]): Digest =
    lines.foldLeft(Empty)((d, l) => combine(d, ofHash(hashString(l))))
}
