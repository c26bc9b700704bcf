package graft

/** Plan audit: dump `.explain("formatted")` for every registered query
  * (or the names passed as args) so scan pushdown (`PushedFilters`,
  * `ReadSchema`), join strategies (BroadcastHashJoin vs SortMergeJoin),
  * and WholeStageCodegen spans can be reviewed.
  *
  * Usage: runMain graft.Explain [sfDir] [query ...]  → plans on stdout.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.tail.toSet else Set.empty[String]
    val spark = GraftSession.start("graft-explain")
    spark.sparkContext.setLogLevel("ERROR")
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      if (names.isEmpty || names(name)) {
        println(s"\n===== $name =====")
        try fn(spark, sfDir).explain("formatted")
        catch { case e: Throwable => println(s"(failed to plan: ${e.getMessage})") }
      }
    }
    spark.stop()
  }
}
