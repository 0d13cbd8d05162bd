// Plan audit driver: prints the formatted physical plan of selected
// registered queries (or bench-only entries, Queries.benchOnly). Run with:
//   sbt -batch 'runMain graft.tools.Explain q35_search_twolevel q60_search_documents'
// Each name's plan is built after the previous name's persisted frames and
// release hooks are dropped (Harness.released), so a printed plan does not
// depend on which other names were given or in what order.
package graft.tools

import graft.{Harness, Queries}

object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = Harness.session(8)
    spark.sparkContext.setLogLevel("ERROR")
    val names = if (args.nonEmpty) args.toSeq else Queries.queries.keys.toSeq.sorted
    names.foreach { n =>
      println(s"\n===== $n =====")
      try Harness.released(spark)(Harness.entries(n)(spark, sfDir).explain("formatted"))
      catch { case e: Throwable => println(s"explain failed: ${e.getMessage}") }
    }
    Queries.dropArtifacts()
    spark.stop()
  }
}
