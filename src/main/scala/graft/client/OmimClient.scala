package graft.client

import org.apache.spark.sql.Dataset

/** REST API batch connector (SURVEY.md S3/S4; ref: omim2obo/omim_client.py
  * :75-188): fetch entry documents for MIM ids in batches of 20 with
  * rate-limit pacing. Which ids to fetch — seed or incremental — is
  * decided by [[CacheRefresh.idsToFetch]].
  *
  * The transport is an interface so tests (and this zero-egress
  * environment) use a stub; a production impl would wrap java.net.http.
  * The distributed shape is the part that matters: ids are a Dataset,
  * batching happens per PARTITION via grouped iterators (one rate-limiter
  * per executor task, no driver loop, no collect), and results land as
  * rows for `spark.read.json`-style downstream parsing. The reference's
  * seed-run resume marker maps to checkpointing fetched-id parquet and
  * anti-joining (A8/J8 cache upsert).
  */
object OmimClient {

  /** Batch size per request (ref: omim_client.py:22 — OMIM API policy). */
  val BatchSize = 20

  /** One fetched document: the requested ids and the raw JSON body. */
  final case class FetchResult(mims: Seq[String], json: String)

  /** Transport abstraction. `fetchBatch` is called with ≤ [[BatchSize]]
    * ids; implementations own throttling (ref sleeps 2 s between calls and
    * honors HTTP 429 with retry, omim_client.py:144,186). */
  trait Transport extends Serializable {
    def fetchBatch(mims: Seq[String]): String
  }

  /** Deterministic offline stub: echoes a minimal valid entry envelope per
    * id. Stands in for the real HTTP transport in tests/CI. */
  final class StubTransport extends Transport {
    def fetchBatch(mims: Seq[String]): String = {
      val entries = mims.map { m =>
        s"""{"entry": {"prefix": "#", "mimNumber": $m, "status": "live",
           | "titles": {"preferredTitle": "STUB ENTRY $m"}}}""".stripMargin
      }
      s"""{"omim": {"version": "1.0", "entryList": [${entries.mkString(",")}]}}"""
    }
  }

  /** Distributed batched fetch: ids grouped into [[BatchSize]]-chunks per
    * partition; one transport per partition (amortized connection setup).
    * Rate limiting composes per executor — cap parallelism by
    * repartitioning the id set to the allowed concurrent-connection
    * count. */
  def fetchEntries(ids: Dataset[String], transport: Transport,
                   maxConcurrency: Int = 1): Dataset[FetchResult] = {
    import ids.sparkSession.implicits._
    ids.repartition(maxConcurrency).mapPartitions { it =>
      it.grouped(BatchSize).map(batch => FetchResult(batch.toSeq, transport.fetchBatch(batch.toSeq)))
    }
  }
}
