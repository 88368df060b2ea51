package graft

/** Plan-audit tool: print the formatted physical plan of selected
  * registered queries (all, with no name list) at a given fixture SF.
  * Usage: runMain graft.Explain <sfDir> [name,name,...] */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val only = args.drop(1).headOption.map(_.split(",").toSet)
    val spark = LocalSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
        println(s"\n===== $name =====")
        try fn(spark, sfDir).explain("formatted")
        catch { case e: Throwable => println(s"[explain] $name failed: $e") }
      }
    spark.stop()
  }
}
