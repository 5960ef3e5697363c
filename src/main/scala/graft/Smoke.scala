package graft

import org.apache.spark.sql.SparkSession

/** Mimics the driver's smoke check: SparkEntry.entry(spark) must return >0
  * rows on sf0.001 under a plain session (no graft-side session configs).
  * It makes that plain session itself on purpose, not through
  * [[Sessions.local]], whose graft settings the mimicked session lacks.
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val df = SparkEntry.entry(spark)
    val n = df.count()
    df.show(5, truncate = false)
    println(s"[smoke] entry rows=$n " + (if (n > 0) "PASS" else "FAIL"))
    spark.stop()
  }
}
