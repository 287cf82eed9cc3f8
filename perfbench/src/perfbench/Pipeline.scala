package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.types._

import scala.util.hashing.MurmurHash3

/** Forcing and checking the `SparkEntry` pipeline entries. An entry is
  * forced the way `graft.Bench` forces it, by evaluating every row of its
  * executed plan (`queryExecution.toRdd`); the same pass counts the rows and
  * sums a 64-bit hash of each, so the result is independent of row order.
  * Doubles enter the hash rounded to 9 significant digits. */
object Pipeline {
  def countAndHash(df: DataFrame): (Long, String) = {
    val schema = df.schema
    val (n, h) = df.queryExecution.toRdd.mapPartitions { rows =>
      var n = 0L; var h = 0L
      rows.foreach { r => n += 1; h += rowHash(r, schema) }
      Iterator((n, h))
    }.collect().foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
    (n, f"$h%016x")
  }

  private def rowHash(r: InternalRow, schema: StructType): Long = {
    val s = canon(r, schema)
    (MurmurHash3.stringHash(s, 17).toLong << 32) | (MurmurHash3.stringHash(s, 31) & 0xffffffffL)
  }

  private def canon(v: Any, dt: DataType): String = if (v == null) "null" else dt match {
    case DoubleType => double(v.asInstanceOf[Double])
    case FloatType => double(v.asInstanceOf[Float].toDouble)
    case s: StructType =>
      val r = v.asInstanceOf[InternalRow]
      s.fields.indices.map { i =>
        canon(if (r.isNullAt(i)) null else r.get(i, s(i).dataType), s(i).dataType)
      }.mkString("(", ",", ")")
    case a: ArrayType => elems(v.asInstanceOf[ArrayData], a.elementType).mkString("[", ",", "]")
    case m: MapType =>
      val d = v.asInstanceOf[MapData]
      elems(d.keyArray(), m.keyType).zip(elems(d.valueArray(), m.valueType))
        .map { case (k, x) => s"$k:$x" }.sorted.mkString("{", ",", "}")
    case _ => v.toString
  }

  private def elems(a: ArrayData, t: DataType): Seq[String] =
    (0 until a.numElements()).map(i => canon(if (a.isNullAt(i)) null else a.get(i, t), t))

  private def double(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d).round(new java.math.MathContext(9))
      .stripTrailingZeros.toString

  /** Recorded (rows, hash) per entry: one `name rows hash` line each. */
  def load(path: String): Map[String, (Long, String)] = {
    val f = new java.io.File(path)
    if (!f.exists) Map.empty
    else {
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
        .map(_.split("\\s+")).map(a => a(0) -> (a(1).toLong, a(2))).toMap
      finally src.close()
    }
  }
}
