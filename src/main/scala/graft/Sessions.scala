package graft

import org.apache.spark.sql.SparkSession

/** The one place that sets up the session of [[Bench]], [[Verify]] and
  * [[Probe]]. `SPARK_GRAFT_CPUS` (default 4) sets the local cores and the
  * shuffle partitions. [[Smoke]] makes its own plain session on purpose. */
object Sessions {
  def local(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // the generated-class cache defaults to 100 entries; ~130 queries ×
      // several codegen units each evict EVERYTHING between passes, so
      // every pass re-runs Janino on every query (measured: q23 1.6→6.8 s,
      // q91 1.6→6.6 s as the query count crossed the cache size — compile
      // time, not execution). Static conf: must be set before the session.
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
