package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive result checks. */
object Check {
  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case a: ArrayType => hasMap(a.elementType)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _ => false
  }

  /** One-row frame holding the sum of `xxhash64` over all columns of
    * every row (exact, as a decimal) and the row count. Hashing every
    * column keeps Catalyst from pruning any projection of the query. Map
    * columns, which `xxhash64` refuses, are hashed through their JSON form.
    */
  def fingerprintFrame(df: DataFrame): DataFrame = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols: Seq[Column] = named.schema.fields.toSeq.map { f =>
      if (hasMap(f.dataType)) to_json(col(f.name)) else col(f.name)
    }
    val rowHash: Column = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    named.agg(sum(rowHash.cast(DecimalType(38, 0))).as("fp"), count(lit(1)).as("rows"))
  }

  /** `<hash sum>:<row count>` read from a [[fingerprintFrame]] row. */
  def render(row: org.apache.spark.sql.Row): String = {
    val fp = Option(row.getDecimal(0)).map(_.toPlainString).getOrElse("0")
    s"$fp:${row.getLong(1)}"
  }

  def fingerprint(df: DataFrame): String = render(fingerprintFrame(df).head())

  /** Rows of `actual` and `expected` that disagree, joined on `keys`:
    * missing on either side, an `exact` column unequal, or an `approx`
    * column off by more than 1e-9 relative (float sums depend on the order
    * the stream saw the rows in).
    */
  def keyedMismatches(actual: DataFrame, expected: DataFrame, keys: Seq[String],
      exact: Seq[String], approx: Seq[String]): Long = {
    val a = actual.select((keys ++ exact ++ approx).map(c => col(c).as(s"a_$c")): _*)
    val e = expected.select((keys ++ exact ++ approx).map(c => col(c).as(s"e_$c")): _*)
    val on = keys.map(k => col(s"a_$k") <=> col(s"e_$k")).reduce(_ && _)
    val bad = keys.map(k => col(s"a_$k").isNull || col(s"e_$k").isNull).reduce(_ || _) ||
      exact.map(c => !(col(s"a_$c") <=> col(s"e_$c"))).foldLeft(lit(false))(_ || _) ||
      approx.map(c => (col(s"a_$c").isNull =!= col(s"e_$c").isNull) ||
        abs(col(s"a_$c") - col(s"e_$c")) > greatest(lit(1e-9), abs(col(s"e_$c")) * 1e-9))
        .foldLeft(lit(false))(_ || _)
    val diff = a.join(e, on, "full_outer").filter(bad).cache()
    try {
      diff.limit(5).collect().foreach(r => System.err.println(s"[perfbench] differs: $r"))
      diff.count()
    } finally diff.unpersist()
  }
}
