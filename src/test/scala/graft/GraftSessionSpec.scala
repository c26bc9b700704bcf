package graft

import org.scalatest.funsuite.AnyFunSuite

/** The env-to-settings rules of the one session bootstrap. */
class GraftSessionSpec extends AnyFunSuite {
  private def conf(env: (String, String)*): Map[String, String] =
    GraftSession.settings(env.toMap).conf.toMap

  test("defaults: local[nproc] master, nproc shuffle partitions, no checkpoint dir") {
    val nproc = Runtime.getRuntime.availableProcessors()
    val s = GraftSession.settings(Map.empty)
    assert(s.master == s"local[$nproc]")
    assert(s.conf.toMap.apply("spark.sql.shuffle.partitions") == nproc.toString)
    assert(s.conf.toMap.apply("spark.sql.session.timeZone") == "UTC")
    assert(s.conf.toMap.apply("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(s.checkpointDir.isEmpty)
  }

  test("shuffle partitions equal SPARK_GRAFT_CPUS, which also sizes the default master") {
    val s = GraftSession.settings(Map("SPARK_GRAFT_CPUS" -> "3"))
    assert(s.master == "local[3]")
    assert(s.conf.toMap.apply("spark.sql.shuffle.partitions") == "3")
    assert(conf("SPARK_GRAFT_CPUS" -> "3", "SPARK_GRAFT_MASTER" -> "local[7]")
      .apply("spark.sql.shuffle.partitions") == "3")
  }

  test("a local-cluster master ships the driver classpath to executors") {
    val key = "spark.executor.extraClassPath"
    val c = conf("SPARK_GRAFT_MASTER" -> "local-cluster[2,1,1024]")
    assert(c(key) == System.getProperty("java.class.path"))
    assert(!conf("SPARK_GRAFT_MASTER" -> "local[2]").contains(key))
    assert(!conf().contains(key))
  }

  test("a checkpoint dir turns on checkpoint cleaning and is handed to the context") {
    val key = "spark.cleaner.referenceTracking.cleanCheckpoints"
    val s = GraftSession.settings(Map("SPARK_GRAFT_CHECKPOINT_DIR" -> "/tmp/ckpt"))
    assert(s.conf.toMap.apply(key) == "true")
    assert(s.checkpointDir.contains("/tmp/ckpt"))
    assert(!conf().contains(key))
  }
}
