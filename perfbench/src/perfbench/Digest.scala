package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive digest of a DataFrame's rows: the row count plus two
  * independent 31-bit hash sums. Doubles are compared at 9 significant
  * digits, so a result that differs only in the summation order of its
  * floating-point aggregates keeps its digest; maps hash as sorted entry
  * arrays. The aggregates ride on the operation's own execution through
  * `Dataset.observe`, so the result is never computed twice. */
object Digest {
  private val P = lit(2147483647L)

  private def norm(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType =>
      val d = c.cast(DoubleType) + lit(0.0) // folds -0.0 into 0.0
      when(d.isNull, lit(null)).otherwise(format_string("%.9g", d))
    case ArrayType(et, _) => transform(c, x => norm(x, et))
    case MapType(kt, vt, _) =>
      array_sort(transform(map_entries(c), e =>
        struct(norm(e.getField("key"), kt).as("k"), norm(e.getField("value"), vt).as("v"))))
    case s: StructType =>
      if (s.isEmpty) lit(0)
      else struct(s.fields.toIndexedSeq.map(f => norm(c.getField(f.name), f.dataType).as(f.name)): _*)
    case _ => c
  }

  private def aggregates(cols: Seq[Column]): Seq[Column] = {
    val row = if (cols.isEmpty) Seq(lit(0)) else cols
    Seq(count(lit(1)).as("n"),
      sum(pmod(xxhash64(row: _*), P)).as("s1"),
      sum(pmod(hash(row: _*).cast(LongType), P)).as("s2"))
  }

  /** `df` with positional column names (results may repeat a name), and
    * the aggregates to observe on it: n, s1, s2. */
  def prepare(df: DataFrame): (DataFrame, Seq[Column]) = {
    val d = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    (d, aggregates(d.schema.fields.toIndexedSeq.map(f => norm(col(f.name), f.dataType))))
  }

  /** The digest of columns `cols` of `df`, per value of `key`, in one job. */
  def byKey(df: DataFrame, key: Column, cols: Seq[String]): Map[Any, String] = {
    val aggs = aggregates(cols.map(c => norm(df.col(c), df.schema(c).dataType)))
    df.groupBy(key.as("key")).agg(aggs.head, aggs.tail: _*).collect()
      .map(r => r.get(0) -> render(r.getLong(1), r.get(2), r.get(3))).toMap
  }

  def render(n: Long, s1: Any, s2: Any): String =
    s"$n:${Option(s1).getOrElse(0)}:${Option(s2).getOrElse(0)}"
}
