package graft.perfbench

import java.util.Locale

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.SpecializedGetters
import org.apache.spark.sql.types._

/** Order-insensitive output digest of a query: row count, the wrapping sum
  * of a 64-bit hash of each row's canonical text, and a hash of the schema.
  *
  * Doubles are canonicalized to 9 significant digits (NaN and zero spelled
  * out), as `scripts/oracle_check.py` does, so a float aggregate whose last
  * bits depend on summation order still digests identically. Map entries
  * are sorted; array order is kept. The rows come from the query's own
  * physical plan (`toRdd`), so the digest pass runs the same operators as
  * the timed `noop` write.
  */
object Digest {
  def of(df: DataFrame): String = {
    val schema = df.schema
    val (n, h) = df.queryExecution.toRdd.mapPartitions { rows =>
      var n = 0L
      var h = 0L
      val sb = new java.lang.StringBuilder
      rows.foreach { r =>
        sb.setLength(0)
        schema.fields.indices.foreach { i =>
          sb.append('|'); canon(sb, r, i, schema(i).dataType)
        }
        n += 1
        h += hash64(sb.toString)
      }
      Iterator.single((n, h))
    }.fold((0L, 0L))((a, b) => (a._1 + b._1, a._2 + b._2))
    f"rows=$n%d hash=$h%016x schema=${hash64(schema.catalogString)}%016x"
  }

  def hash64(s: String): Long =
    (MurmurHash3.stringHash(s, 0x9747b28c).toLong << 32) ^
      (MurmurHash3.stringHash(s, 0x5bd1e995) & 0xffffffffL)

  private def dbl(sb: java.lang.StringBuilder, v: Double): Unit =
    if (v.isNaN) sb.append("NaN")
    else if (v == 0.0) sb.append('0')
    else sb.append(String.format(Locale.ROOT, "%.9g", Double.box(v)))

  private def canon(sb: java.lang.StringBuilder, g: SpecializedGetters,
                    i: Int, dt: DataType): Unit =
    if (g.isNullAt(i)) sb.append("∅")
    else dt match {
      case BooleanType => sb.append(g.getBoolean(i))
      case ByteType => sb.append(g.getByte(i).toInt)
      case ShortType => sb.append(g.getShort(i).toInt)
      case IntegerType | DateType | _: YearMonthIntervalType =>
        sb.append(g.getInt(i))
      case LongType | TimestampType | TimestampNTZType |
           _: DayTimeIntervalType => sb.append(g.getLong(i))
      case FloatType => dbl(sb, g.getFloat(i).toDouble)
      case DoubleType => dbl(sb, g.getDouble(i))
      case d: DecimalType => sb.append(g.getDecimal(i, d.precision, d.scale)
        .toJavaBigDecimal.stripTrailingZeros.toPlainString)
      case _: StringType => sb.append(g.getUTF8String(i).toString)
      case BinaryType => g.getBinary(i).foreach(b => sb.append(f"$b%02x"))
      case ArrayType(et, _) =>
        val a = g.getArray(i)
        sb.append('[')
        (0 until a.numElements()).foreach { j =>
          if (j > 0) sb.append(',')
          canon(sb, a, j, et)
        }
        sb.append(']')
      case MapType(kt, vt, _) =>
        val m = g.getMap(i)
        val entries = (0 until m.numElements()).map { j =>
          val e = new java.lang.StringBuilder
          canon(e, m.keyArray(), j, kt); e.append('=')
          canon(e, m.valueArray(), j, vt)
          e.toString
        }.sorted
        sb.append(entries.mkString("{", ",", "}"))
      case st: StructType =>
        val r = g.getStruct(i, st.length)
        sb.append('(')
        st.fields.indices.foreach { j =>
          if (j > 0) sb.append(',')
          canon(sb, r, j, st(j).dataType)
        }
        sb.append(')')
      case other => sb.append(String.valueOf(g.get(i, other)))
    }
}
