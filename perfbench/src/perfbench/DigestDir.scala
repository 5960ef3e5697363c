package perfbench

import org.apache.spark.sql.SparkSession

/** Helper for confirm_oracle.py.
  *
  *   names               prints the registry names of the registry
  *                       workload's queries
  *   digest <dir>        prints "<name> <digest>" for every query output that
  *                       graft.Verify dumped under <dir>, digested the way
  *                       the harness digests a live result
  */
object DigestDir {
  def main(args: Array[String]): Unit = args(0) match {
    case "names" => Harness.registryQueries.foreach { case (_, name, _) => println(name) }
    case "digest" =>
      val spark = SparkSession.builder().master("local[2]")
        .config("spark.sql.session.timeZone", "UTC").config("spark.ui.enabled", "false")
        .getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      val root = new java.io.File(args(1))
      root.listFiles().filter(_.isDirectory).map(_.getName).sorted.foreach { name =>
        val (d, aggs) = Digest.prepare(spark.read.parquet(s"$root/$name"))
        val r = d.agg(aggs.head, aggs.tail: _*).head()
        println(s"$name ${Digest.render(r.getLong(0), r.get(1), r.get(2))}")
      }
      spark.stop()
  }
}
