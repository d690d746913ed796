package graft.tools

import org.apache.spark.sql.SparkSession

/** Debug utility: print the formatted physical plan of any registered
  * SparkEntry query. Usage:
  *   sbt "runMain graft.tools.QueryExplain <sfDir> <queryName> [queryName...]"
  * `q_extract_flagship q_extract_presplit` shows the extraction plan on
  * the single-row and the pre-split layout (ExtractSpec pins their
  * exchange count and UDF gating).
  */
object QueryExplain {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    args.drop(1).foreach { name =>
      println(s"===== $name =====")
      graft.SparkEntry.queries(name)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
