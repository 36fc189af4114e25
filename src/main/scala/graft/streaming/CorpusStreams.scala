package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.GroupState

import graft.functions.TextFunctions

/** Streaming twins of the corpus operators — the dedup family's
  * continuous form, next to the events windows (tumbling / sliding).
  *
  * Scale notes: dedup state is keyed by the 128-bit content fingerprint
  * and bounded by the watermark horizon (evicted past it), so the state
  * store is O(fingerprints within horizon) — the only dedup shape that
  * survives an unbounded stream. The batch twin (q22 /
  * [[graft.operators.Dedup.exactGroups]]) sees the same fingerprints:
  * within one watermark window the streaming form keeps exactly one
  * representative per batch duplicate group.
  */
object CorpusStreams {

  /** Watermarked streaming dedup on the normalized-content fingerprint
    * (same [[TextFunctions.fingerprint]] as the batch path):
    * `dropDuplicatesWithinWatermark` emits the first arrival per
    * fingerprint and evicts state older than the horizon. */
  def dedupByFingerprint(docs: DataFrame, horizon: String = "1 hour"): DataFrame =
    docs
      .withColumn("fp", TextFunctions.fingerprint(col("text")))
      .withWatermark("ingest_ts", horizon)
      .dropDuplicatesWithinWatermark("fp")

  /** Streaming twin of the q100 cross-version dedup
    * ([[graft.operators.Dedup.incrementalExactDedup]]) — the INGEST-
    * MOUTH shape: new documents stream in, anything whose fingerprint
    * already exists in the STANDING corpus index drops (stream-static
    * LEFT ANTI join — stateless, re-evaluated per micro-batch, so the
    * index can be the skinny 16-bytes/doc fingerprint store of a
    * 10¹¹-doc corpus read in place), and within-stream repeats collapse
    * to the first arrival ([[dedupByFingerprint]]'s watermarked state).
    * ORDER MATTERS FOR STATE SIZE: the anti-join runs BEFORE the
    * stateful dedup, so the state store holds only fingerprints that
    * are genuinely NEW this horizon — not one entry per arrival against
    * a mostly-duplicate ingest. Emits the same survivor set as the
    * batch operator with `ord` = arrival order (CorpusStreamsSpec pins
    * it across micro-batch splits); the batch/stream difference is
    * only WHICH representative survives a duplicate group, and the
    * stream's answer (first arrival) is the batch answer under
    * arrival-order `ord`. `index` needs only an `fp` column. */
  def dedupIncremental(docs: DataFrame, index: DataFrame,
                       horizon: String = "1 hour"): DataFrame =
    docs
      .withColumn("fp", TextFunctions.fingerprint(col("text")))
      .join(index.select(col("fp")), Seq("fp"), "left_anti")
      .withWatermark("ingest_ts", horizon)
      .dropDuplicatesWithinWatermark("fp")

  /** The five hygiene twins composed END-TO-END on ONE streaming frame —
    * the continuous form of q86's ingest: URL canonicalization
    * ([[graft.operators.UrlOps.canonicalizeUrl]]) → PII scrub
    * ([[graft.operators.PiiScrub.scrub]]) → frozen-weight linear
    * quality gate → frozen-threshold temperature-bucket filter →
    * sliding-window chunking
    * ([[graft.operators.Sampling.chunkDocuments]], metadata carried
    * through the explode). Every stage is per-row column algebra:
    * NO stateful operator anywhere, so the stream needs no watermark,
    * emits in Append mode, and its state store stays empty (the parity
    * spec pins that). The stateful stages of the batch pipeline — URL
    * dedup RANK and threshold DERIVATION — are deliberately not here: on
    * a stream the first is [[dedupByFingerprint]]-shaped (watermarked
    * state) and the second is a control-plane decision (weights and
    * per-source keep thresholds arrive FROZEN, recomputed offline batch
    * by batch — exactly how production mixing weights are shipped).
    *
    * Scale: the frozen maps ship as BROADCAST variables captured by a
    * scoring UDF — one copy per executor, the plan carrying only the
    * function reference. (An earlier form embedded them as `typedLit`
    * plan literals: fine at classifier size, but a fastText-scale 10⁵–
    * 10⁶-term vocab makes the literal the per-micro-batch analysis/
    * serialization bottleneck — the soak row in SOAK.md pins the
    * broadcast shape flat in vocab size.) Still per-row, stateless,
    * deterministic integer math, so stream ≡ batch parity holds — the
    * same function applied to a BATCH frame yields the identical plan
    * modulo the source, which is what the parity spec asserts. */
  def hygieneStateless(docs: DataFrame, url: Column,
      weights: Map[String, Long], thresholds: Map[String, Long],
      seed: String, maxTokens: Int = 32, stride: Int = 24): DataFrame = {
    import graft.functions.TextFunctions.tokens
    import graft.operators.{PiiScrub, Sampling, UrlOps}
    val canon = docs.withColumn("canon_url", UrlOps.canonicalizeUrl(url))
    val scrubbed = PiiScrub.scrub(canon, col("text"))
    // frozen-weight linear score: Σ over token INSTANCES of the term's
    // weight — the per-row form of CorpusStats.linearScore, exact on any
    // engine (integer weights, no join, no aggregation state)
    val sc = docs.sparkSession.sparkContext
    val bw = sc.broadcast(weights)
    val bt = sc.broadcast(thresholds)
    // null-safe: a null doc text tokenizes to a null array, which the
    // earlier typedLit/aggregate column form propagated as null score —
    // score it 0 rather than NPE-ing the task
    val scoreOf = udf { ts: Seq[String] =>
      if (ts == null) 0L
      else {
        val w = bw.value
        var s = 0L
        ts.foreach { t => s += w.getOrElse(t, 0L) }
        s
      }
    }
    val thresholdOf = udf { src: String =>
      if (src == null) 0L else bt.value.getOrElse(src, 0L)
    }
    val scored = scrubbed.withColumn("score", scoreOf(tokens(col("scrubbed"))))
    val gated = scored
      .filter(col("score") >= 0)
      .filter(Sampling.hashBucket(col("doc_id"), seed) <
        thresholdOf(col("source").cast("string")))
    Sampling.chunkDocuments(gated, col("doc_id"), col("scrubbed"),
      maxTokens, stride,
      carry = Seq("canon_url" -> col("canon_url"),
        "source" -> col("source"), "n_email" -> col("n_email"),
        "score" -> col("score")))
  }

  /** NEAR-dup protection at the ingest mouth — the streaming twin of the
    * q131 split-leakage audit (and the near-dup generalization of
    * [[dedupIncremental]]'s exact anti-join): arriving documents are
    * checked against a STATIC banded simhash table of a protected set
    * (an eval/test split, a benchmark corpus), emitting
    * (doc_id, protected_id, hamming) for every arrival within
    * `maxHamming` of a protected doc — the rows an ingest router must
    * divert before they contaminate future training data. `protectedFps`
    * carries (sid, fp) — [[graft.operators.Dedup.simhashFps]]'s output,
    * computed OFFLINE once per split refresh and read in place.
    *
    * STATELESS by construction, so the stream needs no watermark and no
    * state store: the arrival side fingerprints and band-explodes
    * map-side (the same chunk-long encoding as
    * [[graft.operators.Dedup.bandedHammingPairsGuarded]]), the join is
    * stream-static equi on (band, bv) (the static side is eval-set-
    * sized — Spark broadcasts it when small; either way the unbounded
    * side never shuffles more than its banded rows), and the one
    * subtlety is DEDUP WITHOUT STATE: a pair whose fingerprints collide
    * on several bands would emit once per band, and a streaming
    * `distinct` would grow a state store. Instead each pair emits
    * exactly on its FIRST matching band — all band chunks ride both
    * sides, so "band == least matching band index" is a per-row
    * predicate (the canonical-band trick; pigeonhole recall up to
    * hamming ≤ bands-1 is untouched because every qualifying pair HAS a
    * matching band). `maxHamming` must respect the banding's pigeonhole
    * bound (≤ bands-1; enforced — beyond it recall silently degrades,
    * the one failure this operator exists to prevent), and BOTH sides
    * refuse to pass null/mis-width fingerprints silently: the protected
    * table fails at stream build; arrivals (unbounded — no eager check
    * possible) are handled per `raiseOnInvalidArrival`. The default
    * (true) raises on the offending row — correct for a batch audit or
    * a pipeline that treats undecodable input as a stop-the-line fault,
    * but on a long-lived stream one poisoned document would fail the
    * micro-batch, replay from the checkpoint, and fail again, taking
    * the WHOLE guard offline. Pass false for streaming deployments:
    * invalid arrivals are emitted IN-BAND as (doc_id, protected_id =
    * null, hamming = null) dead-letter rows — unambiguous (clean docs
    * emit nothing; genuine flags carry a non-null protected_id), so a
    * downstream router diverts them without losing guard coverage for
    * everyone else. BOTH modes run ONE single-pass kernel: one
    * fingerprint evaluation per arrival (a null text short-circuits the
    * kernel to null — nullSafeEval — so undecodable rows cost O(1)),
    * one stream-static LEFT OUTER join; an invalid fingerprint nulls
    * its band values, survives the join unmatched, and emits exactly
    * one dead-letter row at band 0 — so BOTH invalid classes (null
    * text and, defense-in-depth, a mis-width fp that SimhashBitsExpr's
    * contract says cannot exist) take the same dead-letter path, which
    * raise mode then converts to the per-row raise at emission. The
    * left-outer shape is load-bearing for COST even in raise mode
    * (2.6× measured — the inner-join form let Catalyst push inferred
    * join-key null-checks below the banding, inlining the fingerprint
    * expression ~8× per arrival; see the kernel comment).
    * NearDupGuardSpec pins stream ≡ the batch kernel's cross pairs,
    * the exactly-once emission on all-band collisions, and the
    * mis-width contract in both modes (raise vs in-band); q132 gates
    * the batch form — and q132b the dead-letter mode with null-text
    * arrivals injected — under the cross-engine oracle.
    *
    * Scale class (measured, SOAK.md round 12): output is one row per
    * (arrival, protected) near-pair, so cost tracks PAIR volume — on
    * the replicated sf1 soak corpus output grew 84× on 10× data at
    * 8.9× wall (sublinear vs its own output). Unlike the batch kernel
    * this stateless form has NO identical-fingerprint rep-grouping
    * (grouping needs a shuffle; the stream side stays map-side), so a
    * deployment whose arrivals carry heavy exact duplication should run
    * [[dedupIncremental]] (exact, stream-static anti) BEFORE the guard
    * — the real contamination signal per distinct document, without
    * per-copy pair fan-out. */
  def nearDupGuard(docs: DataFrame, text: Column, protectedFps: DataFrame,
                   bits: Int = 128, bands: Int = 4,
                   maxHamming: Int = 3,
                   raiseOnInvalidArrival: Boolean = true): DataFrame =
    nearDupGuardFromFps(
      graft.operators.Dedup.simhashFps(docs, text, col("doc_id"), bits)
        .select(col("sid").as("doc_id"), col("fp")),
      protectedFps, bits, bands, maxHamming, raiseOnInvalidArrival)

  /** [[nearDupGuard]]'s join kernel over a PRECOMPUTED arrival
    * fingerprint frame (doc_id, fp) — private[graft] so the spec can
    * inject the contractually-impossible mis-width fp and prove both
    * modes' handling (raise vs in-band dead-letter) without a seam in
    * the public API. All contracts documented on [[nearDupGuard]]. */
  private[graft] def nearDupGuardFromFps(fps: DataFrame,
      protectedFps: DataFrame, bits: Int, bands: Int, maxHamming: Int,
      raiseOnInvalidArrival: Boolean): DataFrame = {
    import graft.operators.Dedup
    // the banding's pigeonhole bound is bands-1: a pair at hamming ≤
    // bands-1 cannot differ in every band, but at hamming ≥ bands it
    // CAN, so a caller passing maxHamming=5 over 4 bands would get
    // silently incomplete recall — contaminated arrivals at hamming 4-5
    // flowing past the guard, the exact failure mode this operator
    // exists to prevent. The batch kernel leaves the hamming cut to the
    // caller (who can see the bound); here it is baked in, so enforce it
    require(maxHamming <= bands - 1,
      s"nearDupGuard: maxHamming=$maxHamming exceeds the banding's " +
        s"pigeonhole recall bound of bands-1=${bands - 1} — pairs at " +
        s"hamming in [${bands}, $maxHamming] can miss every band and " +
        "pass the guard silently; raise bands (recall is total up to " +
        "hamming <= bands-1) or lower maxHamming")
    // the static side is taken on faith from an OFFLINE refresh — a
    // width mismatch (table built at bits=64, stream banding at 128)
    // would NULL the high bands' bv and compare the low bands across
    // hash spaces: near-dup arrivals would flow PAST the guard, the
    // exact silent-contamination mode this operator exists to prevent.
    // One eager limit-1 check over the eval-set-sized frame, at stream
    // BUILD time (once per query start, never per micro-batch).
    // null-safe (<=>): a NULL fingerprint (null-text protected row) must
    // flag too — `length(fp) =!= bits` is NULL for it, a plain filter
    // drops it, and that protected doc would silently match nothing
    require(protectedFps.filter(!(length(col("fp")) <=> lit(bits))).isEmpty,
      s"nearDupGuard: protectedFps carries null fingerprints or widths " +
        s"other than bits=$bits — rebuild the protected table with " +
        "simhashFps at the stream's width over non-null text")
    // the ARRIVAL side can't be checked eagerly (it is unbounded), so
    // the same silent mode is closed PER ROW: a null/undecodable text
    // fingerprints to null, its band chunks go null, and a plain
    // (band, bv) equi-join would wave it past the guard with no signal.
    // Default: the offending row's dead-letter converts to a raise at
    // EMISSION (null-safe <=>, same predicate as the protected-side
    // require — and the same single-pass plan as dead-letter mode, see
    // the cost note below); streaming deployments pass
    // raiseOnInvalidArrival = false and keep the row in-band instead.
    val fpValid = length(col("fp")) <=> lit(bits)
    val protect = Dedup.bandExplode(
      protectedFps.select(col("sid").as("protected_id"), col("fp")),
      Seq("protected_id"), "__b", bits, bands)
    // first matching band index — the canonical emission band
    val firstMatch = (0 until bands).reverse.foldLeft(lit(bands): Column) {
      case (acc, i) => when(col(s"__a$i") === col(s"__b$i"), lit(i)).otherwise(acc)
    }
    val hamming = (0 until bands).map(i =>
      bit_count(col(s"__a$i").bitwiseXOR(col(s"__b$i"))).cast("long"))
      .reduce(_ + _)
    // ONE kernel for both modes, SINGLE-PASS: an invalid fp (null or —
    // defense in depth — mis-width) is nulled BEFORE banding, so its
    // band values are null and it can match nothing; the join goes LEFT
    // OUTER (stream-static left outer is stateless like the inner form)
    // and the emission filter keeps (a) matched rows at their canonical
    // band within the hamming cut — genuine flags — and (b) the band-0
    // row of each invalid arrival — its exactly-once dead-letter,
    // protected_id/hamming null naturally from the unmatched side. A
    // VALID arrival's unmatched banded rows carry null hamming and
    // firstMatch = `bands`, so both branches of the filter reject them:
    // clean docs still emit nothing.
    //
    // The LEFT OUTER is load-bearing for COST, not just the dead-letter
    // rows — measured 2.6x on the raise mode (q132 3.15 s -> 1.2 s warm
    // at sf0.1, ~22 s -> ~4 s at sf1): with an INNER join Catalyst
    // infers `isnotnull` on the (band, bv) join keys and pushes them
    // below the banding projection, where expression inlining duplicates
    // the ENTIRE SimhashBitsExpr chain into every band's null-check —
    // the fingerprint of each arrival was computed ~8x instead of once.
    // An outer join must preserve null-keyed stream rows, so no such
    // filter exists to push and the fingerprint is evaluated once.
    // Raise mode therefore runs the SAME plan and converts the
    // dead-letter row into the per-row raise AT EMISSION — identical
    // detection coverage (every invalid arrival emits exactly one
    // dead-letter row), one fingerprint evaluation either way.
    val arrivals = Dedup.bandExplode(
      fps.select(col("doc_id"), when(fpValid, col("fp")).as("fp"),
        (!fpValid).as("__dead")),
      Seq("doc_id", "__dead"), "__a", bits, bands)
    // The raise is ANCHORED IN THE EMISSION FILTER, not a projected
    // column: a filter predicate must be evaluated to decide which rows
    // exist, so no downstream projection can optimize it away — a
    // consumer that selects only protected_id (or runs a bare count)
    // still fails on an invalid arrival. (A raise riding the doc_id
    // output column — the previous form — died to column pruning under
    // exactly those consumers, silently emitting the null-keyed row
    // raise mode exists to forbid.) The raise sits in a when() BRANCH
    // guarded by `__dead && band = 0` — when/otherwise branch laziness
    // is CONTRACTUAL (CaseWhen evaluates only the matching branch),
    // unlike And conjunct ordering, which Spark may legally reorder in
    // a future optimizer/codegen change — so valid arrivals can never
    // evaluate the raise; isnull() over the never-returning raise keeps
    // the branch boolean-typed.
    val deadEmit =
      if (!raiseOnInvalidArrival) col("__dead") && col("band") === 0
      else when(col("__dead") && col("band") === 0,
        isnull(raise_error(format_string(
          s"nearDupGuard: arrival doc %s fingerprinted to null or a width " +
            s"other than bits=$bits (null/undecodable text?) — it would " +
            "silently bypass the guard; scrub or route null-text arrivals " +
            "before the guard, or pass raiseOnInvalidArrival = false to " +
            "receive dead-letter rows", col("doc_id").cast("string")))))
        .otherwise(lit(false))
    val emitted = arrivals.join(protect, Seq("band", "bv"), "left_outer")
      .withColumn("hamming", hamming)
      .filter((col("band") === firstMatch && col("hamming") <= maxHamming)
        || deadEmit)
    emitted.select(col("doc_id"), col("protected_id"), col("hamming"))
  }

  final case class QuotaDoc(doc_id: Long, source: String, ord: Long)

  /** Streaming per-source quota — the continuous form of
    * [[graft.operators.Sampling.quotaPerGroup]] ("≤ n docs per host"
    * enforced over an unbounded stream). Custom counter state per source
    * via flatMapGroupsWithState: each batch emits rows in (ord, doc_id)
    * order until the source's cumulative cap is hit, then drops the rest
    * forever. State is ONE int per source (O(#sources), no timeout needed
    * — a quota is a lifetime cap, not a window).
    *
    * Parity contract with the batch twin: when the corpus arrives in one
    * micro-batch the emitted set equals `quotaPerGroup(df, "source", n,
    * ord, doc_id)` exactly; across batches the quota is first-arrival
    * (earlier batches win), the only causal option on a stream. */
  def quotaPerSource(docs: DataFrame, n: Int): DataFrame = {
    import docs.sparkSession.implicits._
    docs.select(col("doc_id"), col("source"), col("ord"))
      .as[QuotaDoc]
      .groupByKey(_.source)
      .flatMapGroupsWithState[Int, QuotaDoc](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout()) {
        case (_, rows, state: GroupState[Int]) =>
          val emitted = state.getOption.getOrElse(0)
          val take = rows.toSeq.sortBy(d => (d.ord, d.doc_id))
            .take(math.max(0, n - emitted))
          state.update(emitted + take.size)
          take.iterator
      }.toDF()
  }
}
