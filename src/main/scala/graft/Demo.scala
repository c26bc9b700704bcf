package graft

import graft.pipeline.Pipeline

/** Entry point 2 (reference: demo.py:60-175): a 5-article in-memory
  * smoke run of the full pipeline with a console summary.
  *
  * Pass a YAML path as the first arg to drive the run from a reference
  * `pipeline_config.yaml` (config.py semantics) instead of defaults:
  * `runMain graft.Demo /root/reference/configs/pipeline_config.yaml`. */
object Demo {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.start("graft-demo")
    import spark.implicits._

    val body =
      "The study of natural language has a long history that draws on the work " +
        "of many people in many places and it was shaped by the tools and the " +
        "ideas that were available to the people of each generation over time."
    val docs = Seq(
      (1L, body),
      (2L, body), // exact duplicate
      (3L, body.replace("language", "computation")), // near duplicate
      (4L, "Too short to keep."),
      (5L, body + " A different closing sentence gives this one its own meaning entirely.")
    ).toDF("doc_id", "text")

    val cfg = args.headOption match {
      case Some(yamlPath) =>
        println(s"config from $yamlPath")
        Pipeline.GraftConfig.fromYamlFile(yamlPath)
      case None => Pipeline.GraftConfig()
    }
    val out = java.nio.file.Files.createTempDirectory("graft-demo").toString
    val summary = Pipeline.run(docs, cfg, out)
    println("=== graft demo summary ===")
    summary.show(truncate = false)
    println(s"outputs under $out")
    spark.stop()
  }
}
