package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Standing recall artifact for the LSH/blocked dedup + ANN families
  * (round-12 verdict #2): every blocked operator trades recall for the
  * bucket join, and the blocking has been retuned twice (plane-floor
  * removal, mean-centering) justified by spec fixtures only — this main
  * MEASURES the trade per corpus and the numbers land in SCALE.md next
  * to the perf rows.
  *
  * Method, per dedup family: plant P seeded near-duplicate partners
  * (jittered copies of sampled rows), run the operator's OWN blocking
  * relation over corpus ∪ planted (so bucket boundaries, centering
  * stats, plane/cell counts all shift exactly as they would in
  * production), then in the driver score each planted pair against the
  * family's OWN verification criterion and report
  *   recall = caught-by-blocking / criterion-qualifying planted pairs.
  * Natural in-sample pairs are counted too but are usually vacuous — a
  * uniform sample of a sparse pair graph has ~(s/n)² of its pairs, and
  * the synthetic embeddings top out near cosine 0.51 — which is WHY the
  * planted measure exists (the blocking sees the planted rows as
  * ordinary corpus rows; nothing about the plant is visible to it).
  * For the ANN top-k family no planting is needed: the exact `sim_topk`
  * IS the ground truth, so recall@k is measured on the full corpus.
  *
  * Determinism: jitter uses fixed-seed PRNGs, samples are
  * xxhash64-ordered — same corpus, same numbers.
  */
object ProbeRecall {

  private val P = 200

  private def jitterText(t: String, rnd: scala.util.Random): String =
    t.split(" ").map { w =>
      if (rnd.nextDouble() < 0.02 && w.nonEmpty) w + "q" else w
    }.mkString(" ")

  private def jitterVec(v: Seq[Float], rnd: scala.util.Random): Seq[Float] =
    v.map(x => x * (1.0f + 0.05f * (rnd.nextFloat() - 0.5f)))

  /** Left-fold double cosine — the engines' dotS order. */
  private def cosine(a: Seq[Float], b: Seq[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) {
      dot += a(i).toDouble * b(i).toDouble
      na += a(i).toDouble * a(i).toDouble
      nb += b(i).toDouble * b(i).toDouble
      i += 1
    }
    if (na == 0 || nb == 0) -1.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  private final case class Fam(name: String, qualifying: Int, caught: Int) {
    def recall: Double = if (qualifying == 0) Double.NaN
      else caught.toDouble / qualifying
    def row: String = f"| $name | $qualifying | $caught | " +
      (if (qualifying == 0) "n/a" else f"$recall%.3f") + " |"
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption
      .getOrElse(sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val spark = GraftSession.start("graft-probe-recall")

    // Optional family-group filter (args after sfDir): "minhash",
    // "textlsh", "embed", "ann" — restricts the run for fast iteration
    // on one blocking's knobs; default runs everything.
    val groups = args.drop(1).toSet
    val known = Set("minhash", "textlsh", "embed", "ann")
    val unknown = groups.diff(known)
    require(unknown.isEmpty,
      s"unknown family group(s) ${unknown.mkString(", ")} — valid: ${known.mkString(", ")}")
    def want(g: String): Boolean = groups.isEmpty || groups(g)
    val fams =
      (if (want("minhash")) Seq(minhashBands(spark, sfDir)) else Nil) ++
      (if (want("textlsh")) Seq(semanticText(spark, sfDir)) else Nil) ++
      (if (want("embed")) embedFamilies(spark, sfDir) else Nil) ++
      (if (want("ann")) annRecall(spark, sfDir) else Nil)

    println(s"\n### Blocking recall @ $sfDir (planted=$P, seeded)\n")
    println("| family | qualifying_pairs | caught_by_blocking | recall |")
    println("|---|---|---|---|")
    fams.foreach(f => println(f.row))
    val json = fams.map(f => "\"" + f.name + "\":" +
        (if (f.qualifying == 0) "null" else f"${f.recall}%.4f"))
      .mkString("{", ",", s""","sf":"$sfDir","planted":$P}""")
    println(json)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(sys.env.getOrElse("SPARK_GRAFT_RECALL_OUT",
        "/root/repo/recall_out.json")), json + "\n")
    spark.stop()
  }

  /** MinHash banding: criterion = signature verification (est. Jaccard
    * ≥ 0.8 as ≥ 103/128 slot matches); blocking = 16×8 banded LSH.
    * All-driver: signatures and band folds are pure JVM kernels. */
  private def minhashBands(spark: SparkSession, d: String): Fam = {
    import graft.pipeline.MinHash
    val texts = Tables.documents(spark, d)
      .orderBy(xxhash64(col("doc_id"))).limit(P)
      .select(col("text")).collect().map(_.getString(0))
    val rnd = new scala.util.Random(42)
    def bands(sig: Array[Int]): Array[Long] = MinHash.bandHashesOf(sig)
    var qual = 0; var caught = 0
    texts.foreach { t =>
      val sa = MinHash.signature(t)
      val sb = MinHash.signature(jitterText(t, rnd))
      if (!java.util.Arrays.equals(sa, sb) && MinHash.sigMatchesGE(sa, sb)) {
        qual += 1
        val (ba, bb) = (bands(sa), bands(sb))
        if (ba.indices.exists(j => ba(j) == bb(j))) caught += 1
      }
    }
    Fam("minhash_bands", qual, caught)
  }

  /** dedup_semantic_text: criterion = hashed-BoW cosine ≥ 0.9; blocking
    * = mean-centered sign-LSH buckets. The planted docs join the corpus
    * BEFORE the blocking relation is built, so the centering sums, doc
    * count and plane count shift exactly as in production. */
  private def semanticText(spark: SparkSession, d: String): Fam = {
    import graft.pipeline.TextEmbed
    val docs = Tables.documents(spark, d)
    val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
    val sampled = docs.orderBy(xxhash64(col("doc_id"))).limit(P)
      .select(col("doc_id"), col("text")).collect()
    val rnd = new scala.util.Random(43)
    val planted = sampled.zipWithIndex.map { case (r, i) =>
      (maxId + 1 + i, jitterText(r.getString(1), rnd), r.getLong(0))
    }
    import spark.implicits._
    val plantedDf = planted.map { case (id, t, _) => (id, t) }.toSeq
      .toDF("doc_id", "text")
    val rel = TextEmbed.bucketedVectors(docs.select("doc_id", "text")
        .unionByName(plantedDf))
      .select(col("doc_id"),
        expr("transform(vec, x -> x.dim * 4294967296L + x.weight)").as("pv"),
        col("keys"))
    val ids = (planted.map(_._1) ++ planted.map(_._3)).toSet
    val got = rel.filter(col("doc_id").isInCollection(ids))
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getSeq[Long](1).toArray, r.getSeq[Long](2).toSet))).toMap
    var qual = 0; var caught = 0
    planted.foreach { case (pid, _, oid) =>
      (got.get(pid), got.get(oid)) match {
        case (Some((pv, pk)), Some((ov, ok))) if !java.util.Arrays.equals(pv, ov)
            && TextEmbed.cosineGeProbe(pv, ov, TextEmbed.DedupCosine) =>
          qual += 1
          if ((pk & ok).nonEmpty) caught += 1
        case _ => ()
      }
    }
    Fam("dedup_semantic_text", qual, caught)
  }

  /** sim_embed_dedup (exact bucket), sim_embed_dedup_mp (Hamming ≤ 1),
    * sim_semdedup (IVF cell): one planted overlay, three blockings —
    * criterion = left-fold cosine ≥ 0.95 for all three. */
  private def embedFamilies(spark: SparkSession, d: String): Seq[Fam] = {
    import graft.relational.Similarity
    val emb = Tables.embeddings(spark, d)
    val maxId = emb.agg(max(col("vec_id"))).head().getLong(0)
    val sampled = emb.orderBy(xxhash64(col("vec_id"))).limit(P)
      .select(col("vec_id"), col("embedding"), col("label")).collect()
    val rnd = new scala.util.Random(44)
    val planted = sampled.zipWithIndex.map { case (r, i) =>
      (maxId + 1 + i, jitterVec(r.getSeq[Float](1), rnd), r.getInt(2), r.getLong(0),
        r.getSeq[Float](1))
    }
    import spark.implicits._
    val plantedDf = planted.map { case (id, v, l, _, _) => (id, v, l) }.toSeq
      .toDF("vec_id", "embedding", "label")
    val embPlus = emb.unionByName(plantedDf)
    val ids = (planted.map(_._1) ++ planted.map(_._4)).toSet
    def collectKeyed(rel: DataFrame, keyCol: String): Map[Long, Long] =
      rel.filter(col("vec_id").isInCollection(ids))
        .select(col("vec_id"), col(keyCol).cast("long")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val buckets = collectKeyed(Similarity.bucketedRepsProbe(embPlus), "bucket")
    val cells = collectKeyed(Similarity.cellRepsProbe(embPlus), "cell")
    var qual = 0
    var exact = 0; var mp = 0; var cell = 0
    planted.foreach { case (pid, pv, _, oid, ov) =>
      if (pv != ov && cosine(pv, ov) >= Similarity.DedupCosine) {
        qual += 1
        (buckets.get(pid), buckets.get(oid)) match {
          case (Some(a), Some(b)) =>
            if (a == b) exact += 1
            if (java.lang.Long.bitCount(a ^ b) <= 1) mp += 1
          case _ => ()
        }
        (cells.get(pid), cells.get(oid)) match {
          case (Some(a), Some(b)) if a == b => cell += 1
          case _ => ()
        }
      }
    }
    Seq(Fam("sim_embed_dedup", qual, exact),
      Fam("sim_embed_dedup_mp", qual, mp),
      Fam("sim_semdedup", qual, cell))
  }

  /** ANN top-k families against the exact `sim_topk` ground truth —
    * full-corpus recall@k, no planting needed. */
  private def annRecall(spark: SparkSession, d: String): Seq[Fam] = {
    import graft.relational.Similarity
    val emb = Tables.embeddings(spark, d)
    def sets(df: DataFrame): Map[Long, Set[Long]] =
      df.select(col("q_id"), col("vec_id")).collect()
        .groupBy(_.getLong(0)).map { case (q, rs) =>
          q -> rs.map(_.getLong(1)).toSet }
    val exact = sets(Similarity.topK(emb))
    def recallOf(name: String, df: DataFrame): Fam = {
      val got = sets(df)
      val qual = exact.values.map(_.size).sum
      val caught = exact.map { case (q, s) =>
        (s & got.getOrElse(q, Set.empty)).size }.sum
      Fam(name, qual, caught)
    }
    Seq(recallOf("sim_ann_lsh@10", Similarity.annTopK(emb)),
      recallOf("sim_ivf_topk@10", Similarity.ivfTopK(emb)),
      recallOf("sim_ivfpq_topk@10", Similarity.ivfPqTopK(emb)),
      recallOf("sim_ivfpq_rerank@10", Similarity.ivfPqRerank(emb)))
  }
}
