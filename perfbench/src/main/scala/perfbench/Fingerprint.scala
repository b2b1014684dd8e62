package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The result check and the timed action in one: `count(*)` plus the sum of
  * `xxhash64` over every output column. Reading every column keeps Catalyst
  * from pruning work that a bare `count()` would skip. The sum is taken as
  * a decimal so it is exact and independent of row order and partitioning. */
object Fingerprint {

  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case a: ArrayType => hasMap(a.elementType)
    case _ => false
  }

  /** The one-row fingerprint frame of `df`, restricted to `cols` if given.
    * Columns are renamed by position first, so duplicate or dotted output
    * names cannot make a column reference ambiguous; `xxhash64` rejects
    * maps, so anything holding one is hashed as its JSON. */
  def frame(df: DataFrame, cols: Option[Seq[String]] = None): DataFrame = {
    val kept = df.schema.fields.zipWithIndex
      .filter { case (f, _) => cols.forall(_.contains(f.name)) }
    val byPos = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val h =
      if (kept.isEmpty) lit(0L)
      else xxhash64(kept.toIndexedSeq.map { case (f, i) =>
        if (hasMap(f.dataType)) to_json(col(s"c$i")) else col(s"c$i")
      }: _*)
    byPos.agg(count(lit(1)).as("n"),
      coalesce(sum(h.cast(DecimalType(20, 0))), lit(BigDecimal(0))).as("h"))
  }

  /** `rows:hash`, the form stored in `expected/`. */
  def of(fp: DataFrame): String = {
    val r = fp.collect()(0)
    s"${r.getLong(0)}:${r.getDecimal(1).toBigInteger}"
  }
}
