package graft.perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Order-insensitive digest of a query answer: the schema, the row count,
  * and the sum of each row's xxhash64 split into two 32-bit lanes (so the
  * sums cannot overflow under ANSI mode). A duplicated row counts each time.
  */
object Digest {
  def of(df: DataFrame): String = {
    val schema = df.schema.fields
      .map(f => s"${f.name}:${f.dataType.simpleString}").mkString(",")
    // positional names: answers may carry duplicate or dotted column names
    val cols = df.columns.indices.map(i => s"c$i")
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols.map(col): _*)
    val row = df.toDF(cols: _*).select(h.as("h"))
      .agg(count(lit(1)),
        coalesce(sum(col("h").bitwiseAND(0xFFFFFFFFL)), lit(0L)),
        coalesce(sum(shiftright(col("h"), 32)), lit(0L)))
      .head()
    val schemaHash = java.lang.Integer.toHexString(schema.hashCode)
    s"$schemaHash:${row.getLong(0)}:${row.getLong(1)}:${row.getLong(2)}"
  }
}
