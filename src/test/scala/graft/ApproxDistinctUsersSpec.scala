package graft

import java.nio.file.{Files, Paths}

import graft.relational.Relational

/** `r_approx_distinct_users` has no oracle (the HLL++ estimate is not a
  * value DuckDB reproduces), so its registered closure is checked here:
  * the estimate lies within 3 relative SDs of the exact count it reports
  * beside it, and its exact columns equal the DuckDB-checked
  * `r_distinct_users_exact` row. */
class ApproxDistinctUsersSpec extends SparkSpec {

  /** Spark's default relative SD for `approx_count_distinct`. */
  private val Rsd = 0.05

  /** Data dir per scale, as TESTDATA.md lists them. */
  private val dirs: Map[String, String] = """\| ([0-9.]+) \| `([^`]+)/` \|""".r
    .findAllMatchIn(Files.readString(Paths.get("TESTDATA.md")))
    .map(m => m.group(1) -> m.group(2)).toMap

  for (sf <- Seq("0.001", "0.01")) {
    test(s"approx_users lies within 3 x rsd of exact_users; exact columns match the exact query (sf$sf)") {
      val dir = dirs(sf)
      assume(Files.isDirectory(Paths.get(dir)), s"$dir not present")
      val approx = Relational.queries("r_approx_distinct_users")(spark, dir).collect().head
      val exact = Relational.queries("r_distinct_users_exact")(spark, dir).collect().head
      val (est, users) = (approx.getAs[Long]("approx_users"), approx.getAs[Long]("exact_users"))
      assert(users > 0)
      assert(math.abs(est - users) <= 3 * Rsd * users, s"approx $est vs exact $users")
      assert(users == exact.getAs[Long]("exact_users"))
      assert(approx.getAs[Long]("n_events") == exact.getAs[Long]("n_events"))
    }
  }
}
