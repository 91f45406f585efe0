package graft.tools

import graft.SparkEntry

/** Plan auditor: prints `explain(formatted)` for selected queries so we
  * can check pushdown/broadcast/codegen by eye (and grep). */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir =
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = graft.Sessions.local(4)
    spark.sparkContext.setLogLevel("ERROR")
    val wanted =
      if (args.isEmpty) SparkEntry.queries.keys.toSeq.sorted else args.toSeq
    wanted.foreach { name =>
      println(s"\n========== $name ==========")
      SparkEntry.queries(name)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
