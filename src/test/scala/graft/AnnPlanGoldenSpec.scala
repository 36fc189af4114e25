package graft

import java.security.MessageDigest

import org.apache.spark.sql.DataFrame

/** Golden pins for the ANN ladder's optimized plans: for every registry
  * query that reaches a top-k or range operator of
  * [[graft.operators.Similarity]] (all of `SimilarityQueries`, plus the
  * three dedup queries built on the IVF range search), the md5 of its
  * frame's `optimizedPlan` on sf0.001. PlanSpec pins a few plan
  * fragments and the result specs pin answers; this pins that the
  * operators' candidate sources, scorers and ranking tail build exactly
  * the plans they built when the digests were recorded — before the
  * per-operator rank windows were folded onto one tail.
  *
  * Per-run tokens are normalized before hashing: expression ids,
  * Observation UUID names, exchange plan ids, lambda variable suffixes
  * (`x_4`: numbered by a JVM-global counter, so they depend on how many
  * higher-order functions earlier suites built) and the working
  * directory (the warehouse location of the persisted indexes). */
class AnnPlanGoldenSpec extends SparkSpec {

  private val golden: Seq[(String, String)] = Seq(
    "q27_ann_bruteforce" -> "a3fc6ff14485375927e75b25caca7d12",
    "q28_ann_ivf" -> "6e09d48273ecfb388e002d52b8d6f7d4",
    "q28b_ann_ivf_indexed" -> "42c418528d37d7db984d341a7924b8e2",
    "q28c_ann_ivf_trained" -> "01473d65c1e50a32986ba1e41ada5efc",
    "q28d_ann_ivf_append" -> "5ff420c9893b85bf0a28eea3167ebe7a",
    "q28e_ann_ivf_drift_rebuild" -> "5ea72f102c586c24b9fed779548dc694",
    "q28f_ann_ivf_bulk" -> "f5f3e6c0e18117cd17ac243807d45f43",
    "q28g_ann_ivf_bulk_cells" -> "546ae3ba0481ed74132f7fedc4e6bb50",
    "q65_kmeans_train" -> "7300467ae048baae642a0ca7ecad88a6",
    "q72_ann_lsh" -> "386148ab252f982ad80c219f1500f2f8",
    "q105_random_projection" -> "aa6965e6fb45e1a58cfc409f74fc6836",
    "q108_embedding_quantize" -> "bdc4729a46a587f6bb69586258fda246",
    "q127_ann_pq" -> "34dea601ab097b51801b08344cb5028b",
    "q127b_ann_ivfpq" -> "44b58bd499f1c0eb601fa1ddb6b9ff9d",
    "q127c_ann_ivfpq_indexed" -> "8a7211f8f792896fb8b05cdb387d36ae",
    "q127d_ann_ivfpq_rerank" -> "c91c7e56b0782df8dfada6f51c4c0b61",
    "q127e_ann_ivfpq_append" -> "f6e7ff9d6f432b5116166faf57b5232f",
    "q127f_ann_ivfpq_bulk" -> "747adfe77583403ff4f731cee6e95aa6",
    "q130_ann_recall" -> "6801b94ce13ef94196849712f563c802",
    "q130b_pq_recall" -> "aabfd9b5661cded1c4deb0130b1ef131",
    "q130c_pq_rerank_recall" -> "7a70668b58faf54cf878ed819ad853aa",
    "q130d_pq_recall_ksub64" -> "7cb931f69c0efd53a4de980873670289",
    "q133_ann_filtered" -> "68820bd0c4a332cc520c441489777fa1",
    "q133b_ann_filtered_ivf" -> "7bc1f56464d298aba99f15f4d6149218",
    "q133c_ann_postfilter" -> "841695bc562f9940a408066ee16c2447",
    "q133d_filtered_recall" -> "7dbe2e32f01e0ba7c9a5f60398df4235",
    "q133e_ann_pq_postfilter" -> "513227831c54ede2ebad97078b37607f",
    "q133f_ann_seen_exclusion" -> "3509e7a72df4891b8fca7dfbf71fb5e8",
    "q133g_pq_seen_exclusion" -> "3509e7a72df4891b8fca7dfbf71fb5e8",
    "q134_ann_delete" -> "7778490f3bd35dec38c9acc998e56910",
    "q134b_ann_delete_compact" -> "5d3c2b83cbc4c1cf75b23edd372746ae",
    "q134c_ann_pq_delete" -> "8e96e6a83797462bfb57791e78e3966f",
    "q134d_ann_pq_delete_compact" -> "36b7b438fd3bf9f0d07b0e5fe4a64826",
    "q135_hybrid_rrf" -> "95df6bf5ae6ea864b558fbbddee24ce6",
    "q135b_hybrid_rrf_batch" -> "428de89110c987cf10c10f17a295ded9",
    "q135c_hybrid_rrf_weighted" -> "e4fa598201203f4e1ee8a415997056ee",
    "q136_index_health" -> "7e5df5b01267494a25f61bd7ac1f9217",
    "q136b_pq_index_health" -> "6dc6571e8dae9d944ee21bd997d58f7e",
    "q137_hard_negatives" -> "ff42ed9dc32ac9409d5640a8d6103485",
    "q137b_pq_hard_negatives" -> "79cd60e150aeaef1f6ac142daaa027d3",
    "q138_serve_ivf_indexed" -> "0f3c06a7b3a94ff4c7a8d0d2b90be183",
    "q138b_serve_pq_rerank" -> "f7aef6a080b4744bfbea6b21f86da0bc",
    "q138c_serve_seen_exclusion" -> "3509e7a72df4891b8fca7dfbf71fb5e8",
    "q138d_serve_pq_hardneg" -> "067765710c93fc218f4c929db5b2b2fa",
    "q138e_serve_hybrid_weighted" -> "9fe6e50af31f50e958bfa42c7befa7ae",
    "q26b_embed_neardup_ivf" -> "3e70d3a48bdb7f586dfa25790cfd8033",
    "q26c_embed_neardup_ivf_indexed" -> "b0e440f5cfd48394bb8585d59f1a8491",
    "q77_semantic_dedup" -> "8c9aa75faf71f9a6ad3e47d08a0efc37"
  )

  private val names: Seq[String] =
    graft.queries.SimilarityQueries.all.map(_.name) ++
      Seq("q26b_embed_neardup_ivf", "q26c_embed_neardup_ivf_indexed",
        "q77_semantic_dedup")

  test("every ANN registry query builds the recorded optimized plan") {
    val got = names.map { n =>
      n -> AnnPlanGoldenSpec.planMd5(SparkEntry.queries(n)(spark, sf001))
    }
    val diff = got.filterNot(golden.contains)
    assert(golden.map(_._1) == names && diff.isEmpty,
      "optimized plans differ from the recorded ones:\n" +
        diff.map { case (n, d) => s"""    "$n" -> "$d",""" }.mkString("\n"))
  }
}

object AnnPlanGoldenSpec {

  /** md5 of `df`'s optimized plan with the per-run tokens normalized. */
  def planMd5(df: DataFrame): String = {
    val plan = df.queryExecution.optimizedPlan.toString
      .replace(System.getProperty("user.dir"), "<cwd>")
      .replaceAll("#\\d+L?", "#")
      .replaceAll("[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}", "<uuid>")
      .replaceAll("plan_id=\\d+", "plan_id=")
      .replaceAll("lambda (\\w+)_\\d+", "lambda $1_")
    MessageDigest.getInstance("MD5").digest(plan.getBytes("UTF-8"))
      .map(b => f"${b & 0xff}%02x").mkString
  }
}
