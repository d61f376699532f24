package graft.perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import scala.util.hashing.MurmurHash3

/** Order-independent digest of a result: its row count plus the wrapping
  * sum of a 64-bit hash of every row. Columns are taken in name order and
  * floating-point values are rounded to six significant digits, so a
  * result that differs only in row order, column order or the last bits
  * of a float sum digests the same.
  */
final case class Fingerprint(rows: Long, hash: Long) {
  def hex: String = f"$hash%016x"
  /** The same result with one extra row: what an injected fault returns. */
  def corrupted: Fingerprint = Fingerprint(rows + 1, hash + 0x9e3779b97f4a7c15L)
}

object Fingerprint {
  private val mc = new java.math.MathContext(6)

  def canonDouble(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) (if (d > 0) "Inf" else "-Inf")
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d).round(mc).stripTrailingZeros.toString

  def canon(v: Any): String = v match {
    case null => "␀"
    case d: Double => canonDouble(d)
    case f: Float => canonDouble(f.toDouble)
    case b: java.math.BigDecimal => canonDouble(b.doubleValue)
    case b: scala.math.BigDecimal => canonDouble(b.toDouble)
    case s: String => s
    case a: Array[Byte] => a.map(b => f"$b%02x").mkString("0x", "", "")
    case r: Row => r.toSeq.map(canon).mkString("{", "␟", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "→" + canon(x) }
        .sorted.mkString("<", "␟", ">")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", "␟", "]")
    case a: Array[_] => a.toSeq.map(canon).mkString("[", "␟", "]")
    case other => other.toString
  }

  /** 64-bit hash of one row given as its values in column-name order. */
  def rowHash(values: Seq[Any]): Long = {
    val s = values.map(canon).mkString("␞")
    (MurmurHash3.stringHash(s, 0x2f0b6c1d).toLong << 32) |
      (MurmurHash3.stringHash(s, 0x51ed270b).toLong & 0xffffffffL)
  }

  def ofRows(rows: Iterable[Seq[Any]]): Fingerprint =
    rows.foldLeft(Fingerprint(0L, 0L)) { (f, r) =>
      Fingerprint(f.rows + 1, f.hash + rowHash(r))
    }

  /** Runs `df` to its full result (the executed physical plan, final
    * sort included) and digests every row inside the tasks that produce
    * it; only one (count, hash) pair per partition reaches the driver.
    */
  def of(df: DataFrame): Fingerprint = {
    val schema = df.schema
    val order = schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)
    val parts = df.queryExecution.toRdd.mapPartitions { it =>
      val toRow = CatalystTypeConverters.createToScalaConverter(schema)
      var n = 0L
      var h = 0L
      it.foreach { ir =>
        val row = toRow(ir).asInstanceOf[Row]
        h += rowHash(order.toSeq.map(row.get))
        n += 1
      }
      Iterator.single((n, h))
    }.collect()
    Fingerprint(parts.map(_._1).sum, parts.map(_._2).sum)
  }
}

/** Runs a DataFrame to its full result through the `noop` sink: the whole
  * executed plan, final sort included, with nothing collected. An op's
  * timed section runs this; `Fingerprint.of` digests the result in a
  * second pass outside it.
  */
object Full {
  def run(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}
