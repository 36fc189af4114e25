package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM, one session), in
  * the same shape the driver entry points run under. */
object SparkTestSession {
  lazy val spark: SparkSession = LocalSession(cores = 2)
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  lazy val sf001 = "/root/testdata/sf0.001"

  /** The ANN serve fixture every ANN spec shares (one definition, so a
    * fixture change applies once, not per spec): the sf0.001
    * embeddings as a double-vector corpus, one deterministic centroid
    * per label (first vec_id in the label — a real spread without a
    * training loop), and the first `probeCutoff` vectors as probes.
    * `corpusPayload` carries extra stored columns (e.g. `label` for
    * the filtered-serve specs). */
  def annFixture(probeCutoff: Int, corpusPayload: Seq[String] = Nil) = {
    import org.apache.spark.sql.functions._
    val emb = spark.read.parquet(s"$sf001/embeddings.parquet")
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("e"))
    val ws = org.apache.spark.sql.expressions.Window
      .partitionBy("label").orderBy("vec_id")
    val centroids = emb
      .withColumn("rn", row_number().over(ws)).filter(col("rn") === 1)
      .select(col("label").as("c_id"), col("e").as("c"))
    val corpus = emb.select(
      col("vec_id").as("id") +: col("e") +: corpusPayload.map(col): _*)
    val probes = emb.filter(col("vec_id") < probeCutoff)
      .select(col("vec_id").as("probe_id"), col("e").as("p"))
    (emb, centroids, corpus, probes)
  }
}
