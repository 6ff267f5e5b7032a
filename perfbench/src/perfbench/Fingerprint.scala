package perfbench

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{MapType, StructType}

/** Order-insensitive result fingerprints: the row count plus, per column
  * (by name), the 64-bit sum of a 32-bit hash of every value. Two forms,
  * one per way a workload consumes its result; a golden entry is always
  * compared with the form that produced it. */
object Fingerprint {
  type Fp = Map[String, Any]

  private val low32 = 0xFFFFFFFFL

  private def quoted(name: String): Column =
    col("`" + name.replace("`", "``") + "`")

  /** One aggregate over all columns — consumes the whole result on the
    * executors without collecting it. */
  def aggregate(df: DataFrame): DataFrame = {
    val names = df.columns.sorted
    val hashes = names.zipWithIndex.map { case (n, i) =>
      val c = df.schema(n).dataType match {
        case _: MapType => to_json(quoted(n)) // xxhash64 rejects maps
        case _ => quoted(n)
      }
      coalesce(sum(xxhash64(c).bitwiseAND(lit(low32))), lit(0L)).as(s"h$i")
    }
    df.agg(count(lit(1)).as("rows"), hashes.toIndexedSeq: _*)
  }

  def fromAggregate(schema: StructType, row: Row): Fp = {
    val names = schema.fieldNames.sorted
    Map("rows" -> row.getLong(0),
      "cols" -> names.zipWithIndex.map { case (n, i) => n -> row.getLong(i + 1) }.toMap)
  }

  /** The same shape over rows already collected to the driver. */
  def ofRows(schema: StructType, rows: Array[Row]): Fp = {
    val names = schema.fieldNames
    val order = names.indices.sortBy(names(_))
    val sums = new Array[Long](names.length)
    rows.foreach { r =>
      order.indices.foreach { k =>
        sums(k) += MurmurHash3.stringHash(canon(r.get(order(k)))) & low32
      }
    }
    Map("rows" -> rows.length.toLong,
      "cols" -> order.indices.map(k => names(order(k)) -> sums(k)).toMap)
  }

  /** A value's canonical text: independent of the JVM time zone, with
    * NaN and signed zero normalized. */
  def canon(v: Any): String = v match {
    case null => "∅"
    case d: Double =>
      if (d.isNaN) "NaN" else if (d == 0.0) "0.0" else java.lang.Double.toString(d)
    case f: Float => canon(f.toDouble)
    case t: java.sql.Timestamp => s"ts:${t.getTime / 1000}.${t.getNanos}"
    case t: java.time.Instant => s"ts:${t.getEpochSecond}.${t.getNano}"
    case d: java.sql.Date => s"d:${d.toLocalDate}"
    case d: java.time.LocalDate => s"d:$d"
    case b: java.math.BigDecimal => b.toPlainString
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString("0x", "", "")
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }
}
