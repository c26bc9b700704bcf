package graft

import graft.pipeline.Pipeline

/** Entry point 1 — the reference's `python -m src.main` CLI
  * (src/main.py:423-470), Spark-first. A user of the reference switches
  * engines by pointing the same flags (and the same YAML) at this main:
  *
  * {{{
  * spark-submit --class graft.Main graft.jar \
  *   --config  pipeline_config.yaml \        # reference YAML, verbatim
  *   --input   /data/documents.parquet \     # or --wiki-dump dump.xml[.bz2]
  *   --output-dir /data/out \
  *   --max-articles 100000
  * }}}
  *
  * Flag mapping vs the reference: `--source`/`--wiki-dump` resolve
  * through `Pipeline.resolveSource` / the WikiXml scan (the download
  * itself is out of engine scope, SURVEY §2.1 — data arrives as files);
  * `--input` additionally accepts a parquet documents table (this
  * engine's native shape). `--max-articles` and `--output-dir` override
  * the YAML like the reference's CLI does.
  */
object Main {
  private def parseArgs(args: Array[String]): Map[String, String] =
    args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap

  def main(args: Array[String]): Unit = {
    val a = parseArgs(args)
    val cfg0 = a.get("config").map(Pipeline.GraftConfig.fromYamlFile)
      .getOrElse(Pipeline.GraftConfig())
    val cfg = a.get("max-articles")
      .map(n => cfg0.copy(maxDocs = Some(n.toLong))).getOrElse(cfg0)
    val outDir = a.getOrElse("output-dir",
      java.nio.file.Files.createTempDirectory("graft-out").toString)

    val spark = GraftSession.start("graft-pipeline")

    val docs = (a.get("input"), a.get("wiki-dump")) match {
      case (Some(parquet), _) =>
        spark.read.parquet(parquet)
      case (None, Some(dump)) =>
        // S4/S5 scan → the pipeline's documents shape
        graft.sources.WikiXml.articles(spark, dump, cfg.maxDocs)
          .selectExpr("page_id AS doc_id", "text")
      case (None, None) =>
        sys.error("pass --input documents.parquet or --wiki-dump dump.xml[.bz2] " +
          s"(--source ${a.getOrElse("source", "simplewiki")} resolves to " +
          s"${Pipeline.resolveSource(a.getOrElse("source", "simplewiki"))}; " +
          "download it first — network fetch is out of engine scope)")
    }

    val summary = Pipeline.run(docs, cfg, outDir)
    summary.show(truncate = false)
    println(s"outputs under $outDir")
    spark.stop()
  }
}
