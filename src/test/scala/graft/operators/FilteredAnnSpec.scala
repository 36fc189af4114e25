package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Filtered vector search + index deletion lifecycle:
  *  - INLINE filtering (payload column stored in the index,
  *    ivfTopKIndexed indexFilter): result parity with the in-plan IVF
  *    over the pre-filtered corpus (assignment commutes with
  *    filtering), and the PHYSICAL promises — the predicate reaches the
  *    parquet scan (PushedFilters) UNDER the bucket pruning
  *    (SelectedBucketsCount), no index-side Exchange.
  *  - POST-FILTER (external allow-list over an over-fetched shortlist):
  *    short probes are real (never padded), and an exhaustive
  *    over-fetch converges to the exact filtered baseline.
  *  - DELETES (merge-on-read tombstones): serve-time exclusion ≡
  *    rebuild-without-deleted, compaction preserves result + bucket
  *    pruning + stats, rebuild invalidates stale tombstones.
  */
class FilteredAnnSpec extends SparkSpec {

  private def inputs() = {
    val (_, centroids, corpus, probes) =
      annFixture(probeCutoff = 10, corpusPayload = Seq("label"))
    (corpus, centroids, probes)
  }

  private def keySet(df: org.apache.spark.sql.DataFrame) =
    df.select("probe_id", "rank", "id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet

  test("inline filter: parity with pre-filtered in-plan IVF; pushdown under bucket pruning") {
    val (corpus, centroids, probes) = inputs()
    try {
      Similarity.writeIvfIndex(corpus, centroids, "fann_inline_index",
        numBuckets = 8, payload = Seq("label"))
      val filtered = Similarity.ivfTopKIndexed("fann_inline_index", centroids,
        probes, k = 3, nprobe = 2, indexFilter = col("label") % 3 === 0)
      // assignment is per-row, so filtering the corpus BEFORE assignment
      // equals filtering index rows AFTER it — the q133d inline leg rides
      // this equivalence to avoid an index write in a timed body
      val direct = Similarity.ivfTopK(
        corpus.filter(col("label") % 3 === 0).select("id", "e"),
        centroids, probes, k = 3, nprobe = 2)
      assert(keySet(filtered) == keySet(direct),
        "inline-filtered indexed probe must equal IVF over the pre-filtered corpus")

      val plan = filtered.queryExecution.executedPlan.toString
      val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r.findFirstMatchIn(plan)
      assert(sel.isDefined && sel.get.group(1).toInt < sel.get.group(2).toInt,
        s"bucket pruning lost under the payload filter:\n$plan")
      assert("PushedFilters: \\[[^\\]]*label".r.findFirstIn(plan).isDefined,
        s"label predicate did not reach the parquet scan:\n$plan")
      assert(!plan.contains("Exchange hashpartitioning(c_id"),
        s"index side re-shuffled on c_id:\n$plan")
    } finally {
      spark.sql("DROP TABLE IF EXISTS fann_inline_index")
    }
  }

  test("payload survives append: build-half + append-half == build-whole") {
    val (corpus, centroids, probes) = inputs()
    try {
      Similarity.writeIvfIndex(corpus.filter(col("id") % 2 === 0), centroids,
        "fann_pay_append_index", numBuckets = 8, payload = Seq("label"))
      Similarity.appendIvfIndex(corpus.filter(col("id") % 2 === 1), centroids,
        "fann_pay_append_index", payload = Seq("label"))
      Similarity.writeIvfIndex(corpus, centroids, "fann_pay_whole_index",
        numBuckets = 8, payload = Seq("label"))
      val appended = Similarity.ivfTopKIndexed("fann_pay_append_index",
        centroids, probes, k = 3, nprobe = 2,
        indexFilter = col("label") % 3 === 0)
      val whole = Similarity.ivfTopKIndexed("fann_pay_whole_index",
        centroids, probes, k = 3, nprobe = 2,
        indexFilter = col("label") % 3 === 0)
      assert(keySet(appended) == keySet(whole),
        "payload columns must land positionally correct through insertInto")
    } finally {
      spark.sql("DROP TABLE IF EXISTS fann_pay_append_index")
      spark.sql("DROP TABLE IF EXISTS fann_pay_whole_index")
    }
  }

  test("per-probe pairFilter: hard negatives exclude the probe's own class, rank over the passing pool") {
    val (corpus, centroids, _) = inputs()
    try {
      Similarity.writeIvfIndex(corpus, centroids, "fann_pp_index",
        numBuckets = 8, payload = Seq("label"))
      val emb = spark.read.parquet(s"$sf001/embeddings.parquet")
        .select(col("vec_id"), col("label"), col("embedding").cast("array<double>").as("e"))
      val probes = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("probe_id"), col("e").as("p"),
          col("label").as("plabel"))
      val probeLabels = emb.filter(col("vec_id") < 10)
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      val corpusLabels = corpus.select("id", "label")
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      val hneg = Similarity.ivfTopKIndexed("fann_pp_index", centroids, probes,
        k = 5, nprobe = 2,
        probePayload = Seq("plabel"),
        pairFilter = col("label") =!= col("plabel"))
      val rows = hneg.collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      assert(rows.nonEmpty)
      // 1. no emitted candidate shares its probe's class
      rows.foreach { case (p, _, id) =>
        assert(corpusLabels(id) != probeLabels(p),
          s"probe $p (label ${probeLabels(p)}) got same-class negative $id")
      }
      // 2. ranking happened AFTER the per-probe filter: the result is
      // the label-mismatched subsequence of the UNFILTERED candidate
      // pool, re-ranked — pin it against an exhaustive unfiltered fetch
      val n = corpus.count().toInt
      val all = Similarity.ivfTopKIndexed("fann_pp_index", centroids,
        probes.select("probe_id", "p"), k = n, nprobe = 2)
        .select("probe_id", "rank", "id").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      val want = all.groupBy(_._1).toSeq.flatMap { case (p, cs) =>
        cs.sortBy(_._2).map(_._3)
          .filter(id => corpusLabels(id) != probeLabels(p))
          .take(5).zipWithIndex.map { case (id, i) => (p, i + 1, id) }
      }.toSet
      assert(rows.toSet == want,
        "per-probe filtered ranking differs from filter-then-rerank of the unfiltered pool")
      // 3. ranks are contiguous from 1 per probe (backfilled, not gapped)
      rows.groupBy(_._1).foreach { case (p, rs) =>
        assert(rs.map(_._2).sorted.toSeq == (1 to rs.size).toSeq,
          s"probe $p has gapped ranks: ${rs.map(_._2).sorted.toSeq}")
      }
      // 4. a payload name colliding with a stored index column fails at
      // the API boundary with the aliasing fix named, not as a deep
      // ambiguous-reference AnalysisException
      val exClash = intercept[IllegalArgumentException] {
        Similarity.ivfTopKIndexed("fann_pp_index", centroids,
          probes.withColumnRenamed("plabel", "label"), k = 5, nprobe = 2,
          probePayload = Seq("label"))
      }
      assert(exClash.getMessage.contains("collides"), exClash.getMessage)
      // ...and so does one colliding with the unit-centroid frame (uc)
      // the probes are assigned against
      val exClashUc = intercept[IllegalArgumentException] {
        Similarity.ivfTopKIndexed("fann_pp_index", centroids,
          probes.withColumnRenamed("plabel", "uc"), k = 5, nprobe = 2,
          probePayload = Seq("uc"))
      }
      assert(exClashUc.getMessage.contains("collides"), exClashUc.getMessage)
    } finally {
      spark.sql("DROP TABLE IF EXISTS fann_pp_index")
    }
  }

  test("PQ ladder per-probe pairFilter: hard negatives post-ADC, backfilled within the shortlist") {
    val (corpus, seeds, _) = inputs()
    val plain = corpus.select("id", "e")
    try {
      val coarse = Similarity.kmeansTrainL2(plain, seeds, iters = 2)
      Similarity.writeIvfPqIndex(plain, coarse, "fann_pq_pp_index",
        m = 16, dim = 64, seedIds = 0L until 16L, iters = 2, numBuckets = 8)
      val bk = Similarity.readPqBooks(spark, "fann_pq_pp_index", dim = 64)
      val emb = spark.read.parquet(s"$sf001/embeddings.parquet")
        .select(col("vec_id"), col("label"), col("embedding").cast("array<double>").as("e"))
      val probes = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("probe_id"), col("e").as("p"),
          col("label").as("plabel"))
      val probeLabels = emb.filter(col("vec_id") < 10)
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      val corpusLabels = corpus.select("id", "label")
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      val hneg = Similarity.ivfPqTopKRerankIndexed("fann_pq_pp_index", coarse,
        probes, corpus, bk, k = 3, nprobe = 2, rerank = 32,
        probePayload = Seq("plabel"),
        pairFilter = col("label") =!= col("plabel"))
      val rows = hneg.collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      assert(rows.nonEmpty)
      // 1. no emitted candidate shares its probe's class
      rows.foreach { case (p, _, id) =>
        assert(corpusLabels(id) != probeLabels(p),
          s"probe $p (label ${probeLabels(p)}) got same-class negative $id")
      }
      // 2. filter-then-rank WITHIN the shortlist: the result is the
      // label-mismatched subsequence of the unfiltered re-scored
      // 32-candidate shortlist, re-ranked — NOT of the whole bucket
      // pool (the post-ADC recall contract the scaladoc prices)
      val shortlist = Similarity.ivfPqTopKRerankIndexed("fann_pq_pp_index",
        coarse, probes.select("probe_id", "p"), corpus, bk,
        k = 32, nprobe = 2, rerank = 32)
        .select("probe_id", "rank", "id").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      val want = shortlist.groupBy(_._1).toSeq.flatMap { case (p, cs) =>
        cs.sortBy(_._2).map(_._3)
          .filter(id => corpusLabels(id) != probeLabels(p))
          .take(3).zipWithIndex.map { case (id, i) => (p, i + 1, id) }
      }.toSet
      assert(rows.toSet == want,
        "per-probe PQ filtered ranking differs from filter-then-rerank of the shortlist")
      // 3. ranks are contiguous from 1 per probe (backfilled, not gapped)
      rows.groupBy(_._1).foreach { case (p, rs) =>
        assert(rs.map(_._2).sorted.toSeq == (1 to rs.size).toSeq,
          s"probe $p has gapped ranks: ${rs.map(_._2).sorted.toSeq}")
      }
      // 4. a payload name colliding with a corpus column fails at the
      // API boundary with the aliasing fix named
      val exClash = intercept[IllegalArgumentException] {
        Similarity.ivfPqTopKRerankIndexed("fann_pq_pp_index", coarse,
          probes.withColumnRenamed("plabel", "label"), corpus, bk,
          k = 3, nprobe = 2, rerank = 32, probePayload = Seq("label"))
      }
      assert(exClash.getMessage.contains("collides"), exClash.getMessage)
    } finally {
      spark.sql("DROP TABLE IF EXISTS fann_pq_pp_index")
      spark.sql("DROP TABLE IF EXISTS fann_pq_pp_index_books")
    }
  }

  test("excludePairsTopK: per-probe exclusion, filter-then-rerank, log never shuffles") {
    val (corpus, centroids, probes) = inputs()
    val plain = corpus.select("id", "e")
    val shortlist = Similarity.ivfTopK(plain, centroids, probes, k = 5, nprobe = 2)
    val seenLog = probes.select(col("probe_id"))
      .crossJoin(plain.select(col("id")))
      .filter(pmod(col("probe_id") + col("id"), lit(3)) === 0)
    val out = Similarity.excludePairsTopK(shortlist, seenLog, 3)
    val rows = out.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    // 1. no excluded pair is ever emitted
    rows.foreach { case (p, _, id, _) =>
      assert((p + id) % 3 != 0, s"excluded pair ($p, $id) served")
    }
    // 2. filter-then-rerank semantics against the collected shortlist
    val sl = shortlist.collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getDouble(3)))
    val want = sl.groupBy(_._1).toSeq.flatMap { case (p, cs) =>
      cs.filter { case (_, id, _) => (p + id) % 3 != 0 }
        .sortBy { case (_, id, cos) => (-cos, id) }
        .take(3).zipWithIndex
        .map { case ((_, id, cos), i) => (p, i + 1, id, cos) }
    }.toSet
    assert(rows.toSet == want,
      "exclusion result differs from filter-then-rerank of the shortlist")
    // 3. the (corpus×probes-scale) log side streams: both exclusion
    // joins are broadcast-hash — a sort-merge or shuffled-hash semi/anti
    // would mean the log was shuffled on a serve call
    val plan = out.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert("BroadcastHashJoin [^\\n]*LeftSemi".r.findFirstIn(plan).isDefined,
      s"semi leg not broadcast:\n$plan")
    assert("BroadcastHashJoin [^\\n]*LeftAnti".r.findFirstIn(plan).isDefined,
      s"anti leg not broadcast:\n$plan")
    assert("(SortMergeJoin|ShuffledHashJoin) [^\\n]*Left(Semi|Anti)".r
      .findFirstIn(plan).isEmpty,
      s"exclusion leg shuffled the log:\n$plan")
  }

  test("excludePairsTopK: shortlist past the driver bound raises loudly instead of collecting") {
    // the operator's eager materialization is contractually |probes|·R
    // rows; a caller violating that must get an actionable raise naming
    // the bound and the contract — never a silent driver OOM
    val shortlist = spark.range(10).select(
      (col("id") % 2).as("probe_id"), col("id"),
      (col("id") * 0.1).as("cos"))
    val noExclusions = spark.range(0)
      .select(col("id").as("probe_id"), col("id"))
    spark.conf.set("graft.ann.maxShortlistRows", "5")
    try {
      val ex = intercept[IllegalArgumentException] {
        Similarity.excludePairsTopK(shortlist, noExclusions, 3)
      }
      assert(ex.getMessage.contains("maxShortlistRows") &&
        ex.getMessage.contains("|probes|"), ex.getMessage)
      // at the bound exactly, the operator works unchanged
      spark.conf.set("graft.ann.maxShortlistRows", "10")
      assert(Similarity.excludePairsTopK(shortlist, noExclusions, 3)
        .count() == 6) // 2 probes x top-3
      // a mis-set bound (<= 0) raises naming the conf, not a bogus
      // past-the-bound message (or a planner error from limit(<0))
      spark.conf.set("graft.ann.maxShortlistRows", "-1")
      val exNeg = intercept[IllegalArgumentException] {
        Similarity.excludePairsTopK(shortlist, noExclusions, 3)
      }
      assert(exNeg.getMessage.contains("must be >= 1"), exNeg.getMessage)
    } finally spark.conf.unset("graft.ann.maxShortlistRows")
  }

  test("post-filter: short probes are real; exhaustive over-fetch == exact filtered") {
    val (corpus, centroids, probes) = inputs()
    val plain = corpus.select("id", "e")
    val allowed = corpus.filter(col("label") % 3 === 0).select("id")
    // minimum over-fetch (R = k): selective predicate must starve some
    // probe below k — and the operator must emit the short probe as-is
    val tight = Similarity.postFilterTopK(
      Similarity.ivfTopK(plain, centroids, probes, k = 3, nprobe = 2),
      allowed, 3)
    val perProbe = tight.groupBy("probe_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(perProbe.values.forall(_ <= 3), "post-filter emitted more than k rows")
    assert(perProbe.values.exists(_ < 3),
      "expected at least one SHORT probe at R = k under a 1/3-selective predicate")
    // R = |corpus|: every allowed candidate in the probed buckets is in
    // the shortlist, so post-filter == inline == IVF over filtered corpus
    val n = plain.count().toInt
    val exhaustive = Similarity.postFilterTopK(
      Similarity.ivfTopK(plain, centroids, probes, k = n, nprobe = 2),
      allowed, 3)
    val inline = Similarity.ivfTopK(
      corpus.filter(col("label") % 3 === 0).select("id", "e"),
      centroids, probes, k = 3, nprobe = 2)
    assert(keySet(exhaustive) == keySet(inline),
      "exhaustive over-fetch must converge to the inline-filtered result")
  }

  test("indexHealth: zero debt without tombstones; per-bucket debt with; clean after compaction") {
    val (corpus, centroids, _) = inputs()
    val plain = corpus.select("id", "e")
    try {
      Similarity.writeIvfIndex(plain, centroids, "fann_health_index", numBuckets = 8)
      val before = Similarity.indexHealth(spark, "fann_health_index")
      assert(before.agg(sum("n_tombstoned")).head().getLong(0) == 0L,
        "fresh index reports tombstone debt")
      assert(before.agg(sum("n_rows")).head().getLong(0) == plain.count(),
        "health row counts do not cover the index")
      Similarity.deleteFromIvfIndex(spark, "fann_health_index",
        plain.filter(col("id") % 5 === 0).select("id"))
      val during = Similarity.indexHealth(spark, "fann_health_index")
      val nDel = plain.filter(col("id") % 5 === 0).count()
      assert(during.agg(sum("n_tombstoned")).head().getLong(0) == nDel,
        "tombstone debt miscounted")
      assert(during.agg(sum("n_live")).head().getLong(0) == plain.count() - nDel,
        "live counts inconsistent with debt")
      Similarity.compactIvfIndex(spark, "fann_health_index")
      val after = Similarity.indexHealth(spark, "fann_health_index")
      assert(after.agg(sum("n_tombstoned")).head().getLong(0) == 0L &&
        after.agg(sum("n_rows")).head().getLong(0) == plain.count() - nDel,
        "compaction did not clear the reported debt")
    } finally {
      spark.sql("DROP TABLE IF EXISTS fann_health_index")
      spark.sql("DROP TABLE IF EXISTS fann_health_index__tombstones")
      spark.sql("DROP TABLE IF EXISTS fann_health_index__compact")
    }
  }

  test("deletes: serve-time exclusion == rebuild-without; compact preserves result, pruning, stats; rebuild clears tombstones") {
    val (corpus, centroids, probes) = inputs()
    val plain = corpus.select("id", "e")
    val deleted = plain.filter(col("id") % 7 === 3)
    // stats visibility (both compactIvfIndex's keep-alive detection and
    // indexRowCount's read) goes through optimizer plan stats, which
    // expose rowCount only with CBO on — the IvfIndexSpec convention
    val prevCbo = spark.conf.getOption("spark.sql.cbo.enabled")
    spark.conf.set("spark.sql.cbo.enabled", "true")
    try {
      Similarity.writeIvfIndex(plain, centroids, "fann_del_index", numBuckets = 8)
      spark.sql("ANALYZE TABLE fann_del_index COMPUTE STATISTICS")
      // two delete batches: the first creates the tombstone table, the
      // second APPENDS to it — both branches of deleteFromIvfIndex
      Similarity.deleteFromIvfIndex(spark, "fann_del_index",
        deleted.filter(col("id") % 2 === 0).select("id"))
      Similarity.deleteFromIvfIndex(spark, "fann_del_index",
        deleted.filter(col("id") % 2 === 1).select("id"))

      // ground truth: an index built without the deleted rows
      Similarity.writeIvfIndex(plain.filter(col("id") % 7 =!= 3), centroids,
        "fann_del_truth_index", numBuckets = 8)
      val truth = keySet(Similarity.ivfTopKIndexed("fann_del_truth_index",
        centroids, probes, k = 3, nprobe = 2))

      val served = Similarity.ivfTopKIndexed("fann_del_index", centroids,
        probes, k = 3, nprobe = 2)
      assert(keySet(served) == truth,
        "tombstoned probe must equal the rebuild-without-deleted result")
      // the bulk path reads through the same liveIndexRows
      val bulkIds = Similarity.ivfTopKBulk("fann_del_index", centroids,
        probes.limit(3), k = 3, nprobe = 2,
        maxShareFactor = Double.PositiveInfinity)
        .select("id").collect().map(_.getLong(0)).toSet
      assert(bulkIds.forall(_ % 7 != 3), "bulk path served a deleted id")

      Similarity.compactIvfIndex(spark, "fann_del_index")
      assert(!spark.catalog.tableExists("fann_del_index__tombstones"),
        "compaction must drop the tombstone table")
      val compacted = Similarity.ivfTopKIndexed("fann_del_index", centroids,
        probes, k = 3, nprobe = 2)
      assert(keySet(compacted) == truth,
        "compaction changed the served result")
      val plan = compacted.queryExecution.executedPlan.toString
      val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r.findFirstMatchIn(plan)
      assert(sel.isDefined && sel.get.group(1).toInt < sel.get.group(2).toInt,
        s"bucket pruning lost across the compaction rewrite:\n$plan")
      // stats keep-alive: the ANALYZE'd index still serves the bulk-kNN
      // guard through catalog statistics after the rewrite
      val (_, fromStats) = Similarity.indexRowCount(spark, "fann_del_index")
      assert(fromStats, "compaction dropped the analyzed index's stats path")

      // REBUILD invalidates any stale tombstones of the old incarnation
      Similarity.deleteFromIvfIndex(spark, "fann_del_index",
        deleted.select("id"))
      Similarity.writeIvfIndex(plain, centroids, "fann_del_index", numBuckets = 8)
      val rebuilt = Similarity.ivfTopKIndexed("fann_del_index", centroids,
        probes, k = 3, nprobe = 2)
      val rebuiltIds = rebuilt.select("id").collect().map(_.getLong(0)).toSet
      assert(rebuiltIds.exists(_ % 7 == 3),
        "stale tombstones suppressed rows of the rebuilt index")
    } finally {
      prevCbo match {
        case Some(v) => spark.conf.set("spark.sql.cbo.enabled", v)
        case None    => spark.conf.unset("spark.sql.cbo.enabled")
      }
      spark.sql("DROP TABLE IF EXISTS fann_del_index")
      spark.sql("DROP TABLE IF EXISTS fann_del_index__tombstones")
      spark.sql("DROP TABLE IF EXISTS fann_del_index__compact")
      spark.sql("DROP TABLE IF EXISTS fann_del_truth_index")
    }
  }

  test("tombstone-debt guard: serve raises past the bound; compaction still pays the debt") {
    val (corpus, centroids, probes) = inputs()
    val plain = corpus.select("id", "e")
    try {
      Similarity.writeIvfIndex(plain, centroids, "fann_debt_index", numBuckets = 8)
      Similarity.deleteFromIvfIndex(spark, "fann_debt_index",
        plain.filter(col("id") % 5 === 0).select("id"))
      val nDel = plain.filter(col("id") % 5 === 0).count()
      assert(nDel > 4, s"fixture too small to exceed the injected bound: $nDel")
      // the job-free mechanism: the delete left fresh CATALOG stats on
      // the side table, readable in this default (CBO-off) session —
      // the guard's count comes from here, not a per-probe count() job
      val tsMeta = spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier("fann_debt_index__tombstones"))
      assert(tsMeta.stats.flatMap(_.rowCount).contains(BigInt(nDel)),
        s"delete must leave fresh catalog stats on the side table " +
          s"(got ${tsMeta.stats})")
      // under the (generous) default bound the serve path is untouched
      assert(Similarity.ivfTopKIndexed("fann_debt_index", centroids, probes,
        k = 3, nprobe = 2).collect().nonEmpty)
      // shrink the bound below the injected debt: every serve path must
      // raise and name the debt payment instead of broadcasting onward
      spark.conf.set("graft.ann.maxTombstoneRows", "4")
      try {
        val ex = intercept[IllegalArgumentException] {
          Similarity.ivfTopKIndexed("fann_debt_index", centroids, probes,
            k = 3, nprobe = 2).collect()
        }
        assert(ex.getMessage.contains("compactIvfIndex"),
          s"guard must name the cure: ${ex.getMessage}")
        val exBulk = intercept[IllegalArgumentException] {
          Similarity.ivfTopKBulk("fann_debt_index", centroids, probes.limit(3),
            k = 3, nprobe = 2, maxShareFactor = Double.PositiveInfinity)
            .collect()
        }
        assert(exBulk.getMessage.contains("maxTombstoneRows"), exBulk.getMessage)
        // the cure stays runnable at any debt size (guardDebt = false on
        // the compaction read), and pays the debt down to zero
        Similarity.compactIvfIndex(spark, "fann_debt_index")
        val served = Similarity.ivfTopKIndexed("fann_debt_index", centroids,
          probes, k = 3, nprobe = 2)
        assert(served.select("id").collect().map(_.getLong(0)).forall(_ % 5 != 0),
          "compaction under an exceeded bound served a deleted id")
      } finally spark.conf.unset("graft.ann.maxTombstoneRows")
    } finally {
      spark.sql("DROP TABLE IF EXISTS fann_debt_index")
      spark.sql("DROP TABLE IF EXISTS fann_debt_index__tombstones")
      spark.sql("DROP TABLE IF EXISTS fann_debt_index__compact")
      spark.sql("DROP TABLE IF EXISTS fann_debt_index__old")
    }
  }

  test("append column check: permuted payload rejected before the write") {
    val (corpus, centroids, _) = inputs()
    val wide = corpus.withColumn("grp", (col("id") % 4).cast("int"))
    try {
      Similarity.writeIvfIndex(wide.filter(col("id") % 2 === 0), centroids,
        "fann_colchk_index", numBuckets = 8, payload = Seq("label", "grp"))
      val before = spark.table("fann_colchk_index").count()
      // permuted payload order: insertInto would silently write grp
      // values into the stored label column — the check must refuse
      val ex = intercept[IllegalArgumentException] {
        Similarity.appendIvfIndex(wide.filter(col("id") % 2 === 1), centroids,
          "fann_colchk_index", payload = Seq("grp", "label"))
      }
      assert(ex.getMessage.contains("positional"), ex.getMessage)
      assert(spark.table("fann_colchk_index").count() == before,
        "rejected append must write nothing")
      // the build-order payload still appends cleanly
      Similarity.appendIvfIndex(wide.filter(col("id") % 2 === 1), centroids,
        "fann_colchk_index", payload = Seq("label", "grp"))
      assert(spark.table("fann_colchk_index").count() == wide.count())
    } finally {
      spark.sql("DROP TABLE IF EXISTS fann_colchk_index")
    }
  }

  test("compaction swap: a crash after any step leaves a servable or self-healing index") {
    val (corpus, centroids, probes) = inputs()
    val plain = corpus.select("id", "e")
    val idx = "fann_swap_index"
    // truth: the index rebuilt without the deleted rows
    def truthSet() = {
      Similarity.writeIvfIndex(plain.filter(col("id") % 7 =!= 3), centroids,
        "fann_swap_truth", numBuckets = 8)
      keySet(Similarity.ivfTopKIndexed("fann_swap_truth", centroids, probes,
        k = 3, nprobe = 2))
    }
    // rebuild the deleted index and manually stage the compacted copy —
    // the state right before the swap's renames (the staged write is
    // complete by construction before any rename runs)
    def stageUpToSwap(): Unit = {
      Similarity.writeIvfIndex(plain, centroids, idx, numBuckets = 8)
      Similarity.deleteFromIvfIndex(spark, idx,
        plain.filter(col("id") % 7 === 3).select("id"))
      spark.sql(s"DROP TABLE IF EXISTS ${idx}__compact")
      Similarity.writeIvfIndex(plain.filter(col("id") % 7 =!= 3), centroids,
        s"${idx}__compact", numBuckets = 8)
    }
    try {
      val truth = truthSet()
      // CRASH POINT 1 — staging written, no rename yet: the live name
      // answers (tombstone-aware serve), and a re-run heals completely
      stageUpToSwap()
      assert(keySet(Similarity.ivfTopKIndexed(idx, centroids, probes,
        k = 3, nprobe = 2)) == truth, "pre-swap crash broke the live index")
      Similarity.compactIvfIndex(spark, idx)
      assert(keySet(Similarity.ivfTopKIndexed(idx, centroids, probes,
        k = 3, nprobe = 2)) == truth)
      assert(!spark.catalog.tableExists(s"${idx}__tombstones"))
      // CRASH POINT 2 — between the two renames (live gone, staged copy
      // and backup both present): re-running compactIvfIndex restores a
      // live table from the staged copy and finishes the job
      stageUpToSwap()
      spark.sql(s"ALTER TABLE `$idx` RENAME TO `${idx}__old`")
      assert(!spark.catalog.tableExists(idx))
      Similarity.compactIvfIndex(spark, idx)
      assert(keySet(Similarity.ivfTopKIndexed(idx, centroids, probes,
        k = 3, nprobe = 2)) == truth, "mid-swap crash not healed")
      assert(!spark.catalog.tableExists(s"${idx}__old") &&
        !spark.catalog.tableExists(s"${idx}__compact") &&
        !spark.catalog.tableExists(s"${idx}__tombstones"),
        "recovery left swap side tables behind")
      // CRASH POINT 3 — after the second rename, before the cleanup
      // (live = compacted content, backup + tombstones still present):
      // the live name answers immediately; a re-run clears the leftovers
      stageUpToSwap()
      spark.sql(s"ALTER TABLE `$idx` RENAME TO `${idx}__old`")
      spark.sql(s"ALTER TABLE `${idx}__compact` RENAME TO `$idx`")
      assert(keySet(Similarity.ivfTopKIndexed(idx, centroids, probes,
        k = 3, nprobe = 2)) == truth, "post-swap crash broke the live index")
      Similarity.compactIvfIndex(spark, idx)
      assert(!spark.catalog.tableExists(s"${idx}__old") &&
        !spark.catalog.tableExists(s"${idx}__tombstones"),
        "re-run after a post-swap crash left side tables behind")
      assert(keySet(Similarity.ivfTopKIndexed(idx, centroids, probes,
        k = 3, nprobe = 2)) == truth)
    } finally {
      Seq(idx, s"${idx}__tombstones", s"${idx}__compact", s"${idx}__old",
        "fann_swap_truth")
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
    }
  }
}
