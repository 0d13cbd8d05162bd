// Plan audit driver: prints the formatted physical plan of selected
// registered queries (or bench-only entries, Queries.benchOnly). Run with:
//   sbt -batch 'runMain graft.tools.Explain q35_search_twolevel q60_search_documents'
package graft.tools

import org.apache.spark.sql.SparkSession

object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val names = if (args.nonEmpty) args.toSeq else graft.Queries.queries.keys.toSeq.sorted
    val entries = graft.Queries.queries ++ graft.Queries.benchOnly
    names.foreach { n =>
      println(s"\n===== $n =====")
      try entries(n)(spark, sfDir).explain("formatted")
      catch { case e: Throwable => println(s"explain failed: ${e.getMessage}") }
    }
    spark.stop()
  }
}
