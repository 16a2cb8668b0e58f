package perfbench

import org.apache.spark.ml.linalg.SQLDataTypes.VectorType
import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-independent content fingerprint of a query result, taken by an
  * observation on the same noop write that materializes it, so checking
  * costs no second execution. Floating-point values are rounded to six
  * decimals first: partial aggregates merge in task-completion order, so
  * their last bits are not reproducible.
  */
object Check {

  private def inexact(t: DataType): Boolean = t match {
    case DoubleType | FloatType | _: MapType | VectorType => true
    case ArrayType(e, _) => inexact(e)
    case s: StructType => s.fields.exists(f => inexact(f.dataType))
    case _ => false
  }

  private def canon(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => round(c.cast(DoubleType), 6)
    case VectorType => canon(org.apache.spark.ml.functions.vector_to_array(c),
      ArrayType(DoubleType))
    case ArrayType(e, _) if inexact(e) => transform(c, x => canon(x, e))
    case s: StructType if inexact(s) =>
      when(c.isNull, lit(null)).otherwise(struct(s.fields.toSeq.map(f =>
        canon(c.getField(f.name), f.dataType).as(f.name)): _*))
    case MapType(k, v, _) =>
      array_sort(transform(map_entries(c), e =>
        struct(canon(e.getField("key"), k).as("k"),
          canon(e.getField("value"), v).as("v"))))
    case _ => c
  }

  private val names = new java.util.concurrent.atomic.AtomicInteger

  /** `df` with an observation of (rows, Σ low 31 bits of the row hash,
    * xor of the row hashes, then `extra`); read it with [[fingerprint]]
    * after the action.
    */
  def observed(df: DataFrame,
      extra: Seq[Column] = Nil): (DataFrame, Observation) = {
    val h = xxhash64(df.schema.fields.toSeq.map(f => canon(col(s"`${f.name}`"), f.dataType)): _*)
    val obs = new Observation(s"check${names.incrementAndGet()}")
    (df.observe(obs, count(lit(1)).as("n"),
      Seq(coalesce(sum(h.bitwiseAND(lit(0x7fffffffL))), lit(0L)).as("s"),
        coalesce(bit_xor(h), lit(0L)).as("x")) ++ extra: _*), obs)
  }

  def fingerprint(m: Map[String, Any]): String = s"${m("n")}:${m("s")}:${m("x")}"

  def rows(m: Map[String, Any]): Long = m("n").asInstanceOf[Long]
}
