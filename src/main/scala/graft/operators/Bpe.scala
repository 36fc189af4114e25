package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Byte-pair-encoding tokenization as engine operators: TRAIN a merge
  * table from a corpus (the Sennrich/GPT-2 recipe — iteratively fuse the
  * most frequent adjacent symbol pair) and APPLY a merge table to count
  * real subword tokens. This upgrades the q74 pre-tokenizer from "honest
  * pre-merge budget" to actual BPE token counts, with the merge table
  * learned from data rather than shipped as an opaque blob (a user with
  * the published GPT-2 merges loads them as a table and calls
  * [[applyMerges]]/[[tokenCounts]] directly — application is
  * table-driven).
  *
  * Representation (shared verbatim with the DuckDB oracle): a word's
  * symbol sequence is one string of `{...}`-wrapped symbols, e.g.
  * " agg" → `"{ }{a}{g}{g}"`. Applying merge `"{a}{g}"` is then plain
  * `replace(state, "{a}{g}", "{ag}")` — SQL `replace` scans
  * left-to-right non-overlapping, which IS the BPE greedy fuse-and-skip
  * ("{a}{a}{a}" merges to "{aa}{a}", not "{aa}{aa}"). Wrapper chars must
  * not occur in the corpus alphabet (ASCII text; asserted by the spec).
  *
  * Scale shape: training runs on the DISTINCT pre-token vocabulary with
  * frequencies — one corpus-wide shuffle to build it, then each round
  * aggregates a vocabulary-sized frame (thousands of rows at any corpus
  * size; the classic word-frequency-dict BPE trainer). The per-round
  * best-pair collect is ONE row of driver metadata (the k-means-centroid
  * shape). Application is map-only: a broadcast join of the vocabulary's
  * final segmentation back onto the exploded pre-token stream. At 100 TB
  * you train on a sample (pass a sampled df) and apply to everything.
  */
object Bpe {

  /** Pre-token vocabulary with frequencies and initial one-symbol-per-
    * character state: (w, freq, s). */
  def vocab(docs: DataFrame, text: Column): DataFrame =
    docs.select(explode(TextFunctions.gpt2PreTokens(text)).as("w"))
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .withColumn("s", regexp_replace(col("w"), "(?s)(.)", "{$1}"))

  /** Fuse a wrapped pair: "{a}{g}" → "{ag}". */
  def fused(pair: String): String = pair.replace("}{", "")

  /** Learn `k` merges (wrapped pair strings, rank order). Ties break on
    * the pair string ascending — binary collation everywhere, so the SQL
    * oracle learns the identical table.
    *
    * Shape: ONE distributed shuffle builds the frequency-weighted
    * distinct-pre-token vocabulary; the merge loop then runs driver-side
    * over that dict — the industrial BPE-trainer design (the vocabulary
    * IS the corpus compression: 100 TB of text dedups to a few million
    * distinct pre-tokens). `maxVocab` fails loudly instead of silently
    * OOMing the driver; corpora over the bound pre-filter rare tokens
    * (raise `minFreq`) or train on a sample, the standard practice. */
  def train(docs: DataFrame, text: Column, k: Int,
            minFreq: Long = 1L, maxVocab: Int = 1 << 21): Seq[String] =
    trainModel(docs, text, k, minFreq, maxVocab)._1

  /** [[train]] plus the trained model's FINAL vocabulary segmentation as
    * a broadcast-sized frame (vw, n_sym) — the trainer already holds
    * every distinct word's symbol sequence when the merge loop ends, so
    * consumers ([[tokenCounts]]) need neither a second corpus pass to
    * rebuild the vocabulary nor a k-deep replace chain to re-derive it. */
  def trainModel(docs: DataFrame, text: Column, k: Int,
                 minFreq: Long = 1L, maxVocab: Int = 1 << 21)
      : (Seq[String], DataFrame) = {
    val rows = vocab(docs, text)
      .filter(col("freq") >= minFreq)
      .select(col("w"), col("freq")).limit(maxVocab + 1).collect()
    require(rows.length <= maxVocab,
      s"pre-token vocabulary exceeds maxVocab=$maxVocab: raise minFreq or train on a sample")
    // (word, freq, mutable symbol sequence) per distinct word
    val words = rows.map { r =>
      (r.getAs[String]("w"), r.getAs[Long]("freq"),
        scala.collection.mutable.ArrayBuffer.from(
          r.getAs[String]("w").map(c => s"$c")))
    }
    // Incremental-pair-count trainer (the learn_bpe.py index design):
    // pair frequencies and a pair → word-index posting list are built in
    // ONE pass; each round then touches only the words containing the
    // merged pair instead of rescanning every symbol sequence — O(total
    // symbols + k·affected) vs the O(k · total symbols) full rescan this
    // replaced (k = 2000 over sf0.1's vocabulary: minutes → seconds).
    // Merge choice and fuse-and-skip semantics are IDENTICAL, so the
    // learned table — and the SQL oracle replay — are unchanged.
    import scala.collection.mutable
    val counts = mutable.HashMap.empty[(String, String), Long]
    val where = mutable.HashMap.empty[(String, String), mutable.HashSet[Int]]
    def bump(p: (String, String), by: Long, widx: Int): Unit = {
      val c = counts.getOrElse(p, 0L) + by
      if (c == 0L) counts.remove(p)
      else {
        counts.update(p, c)
        if (by > 0) where.getOrElseUpdate(p, mutable.HashSet.empty[Int]) += widx
      }
    }
    words.iterator.zipWithIndex.foreach { case ((_, freq, syms), widx) =>
      var i = 0
      while (i < syms.length - 1) {
        bump((syms(i), syms(i + 1)), freq, widx)
        i += 1
      }
    }
    val merges = mutable.ArrayBuffer.empty[String]
    var r0 = 0
    var done = false
    while (r0 < k && !done) {
      if (counts.isEmpty) done = true
      else {
        // argmax by count, ties on the WRAPPED pair string ascending —
        // the exact ordering the SQL replay uses. Two passes: max count
        // first, wrapped-string compare only among the tied sliver.
        var maxC = Long.MinValue
        counts.valuesIterator.foreach(c => if (c > maxC) maxC = c)
        var best: (String, String) = null
        var bestS: String = null
        counts.iterator.foreach { case (p, c) =>
          if (c == maxC) {
            val s = s"{${p._1}}{${p._2}}"
            if (bestS == null || s < bestS) { best = p; bestS = s }
          }
        }
        merges += bestS
        val (a, b) = best
        val ab = a + b
        // posting lists are LAZY (never pruned on decrement), so skip
        // words where the pair no longer occurs
        where.remove(best).getOrElse(mutable.HashSet.empty[Int]).foreach { widx =>
          val (_, freq, syms) = words(widx)
          var i = 0
          while (i < syms.length - 1) {
            if (syms(i) == a && syms(i + 1) == b) {
              // fuse-and-SKIP, adjusting neighbor pair counts in place
              if (i > 0) {
                bump((syms(i - 1), a), -freq, widx)
                bump((syms(i - 1), ab), freq, widx)
              }
              bump((a, b), -freq, widx)
              if (i + 2 < syms.length) {
                bump((b, syms(i + 2)), -freq, widx)
                bump((ab, syms(i + 2)), freq, widx)
              }
              syms(i) = ab
              syms.remove(i + 1)
            }
            i += 1
          }
        }
        counts.remove(best) // lazy decrements may have left a stale zero
      }
      r0 += 1
    }
    val spark = docs.sparkSession
    import spark.implicits._
    val segmented = words.map { case (w, _, syms) => (w, syms.length.toLong) }
      .toSeq.toDF("vw", "n_sym")
    (merges.toSeq, segmented)
  }

  /** The GPT-2 byte → printable-unicode mapping (the published
    * `bytes_to_unicode` from the GPT-2 encoder, reproduced from its
    * public definition): printable latin bytes map to themselves, every
    * other byte b to U+0100+n over excluded bytes in ascending order —
    * so 0x20 → 'Ġ' (U+0120) and 0x0A → 'Ċ' (U+010A), the markers seen
    * throughout the published `vocab.bpe`. */
  val gpt2ByteToChar: Map[Int, Char] = {
    val printable = (('!' to '~') ++ ('¡' to '¬') ++ ('®' to 'ÿ')).map(_.toInt).toSet
    var n = 0
    (0 until 256).map { b =>
      if (printable(b)) b -> b.toChar
      else { val c = (256 + n).toChar; n += 1; b -> c }
    }.toMap
  }
  private val gpt2CharToByte: Map[Char, Int] = gpt2ByteToChar.map(_.swap)

  /** Decode one vocab.bpe symbol (byte-level unicode chars) to the raw
    * string it denotes: "Ġlow" → " low". */
  def gpt2DecodeSymbol(sym: String): String = {
    val bytes = sym.map(c => gpt2CharToByte.getOrElse(c,
      throw new IllegalArgumentException(
        s"'$c' (U+${c.toInt.toHexString}) is not a GPT-2 byte-level char in symbol '$sym'"))
      .toByte).toArray
    new String(bytes, "UTF-8")
  }

  /** Load a merge table in the published GPT-2 `vocab.bpe` interchange
    * format — optional `#version` header, then one merge per line as two
    * space-separated byte-level symbols, rank = line order — into the
    * wrapped-pair form [[applyMerges]]/[[tokenCounts]] consume. A user
    * holding the published file runs
    * `Bpe.loadGpt2Merges(Files.readAllLines(path).asScala)` and applies
    * it unchanged; [[gpt2DecodeSymbol]] maps Ġ/Ċ byte-level chars back
    * to the raw bytes our pre-tokenizer emits (leading literal space). */
  def loadGpt2Merges(lines: IterableOnce[String]): Seq[String] =
    lines.iterator
      .map(_.stripLineEnd)
      .filterNot(l => l.isEmpty || l.startsWith("#"))
      .map { l =>
        val sp = l.indexOf(' ')
        require(sp > 0 && l.indexOf(' ', sp + 1) < 0,
          s"malformed vocab.bpe merge line: '$l'")
        s"{${gpt2DecodeSymbol(l.substring(0, sp))}}{${gpt2DecodeSymbol(l.substring(sp + 1))}}"
      }.toSeq

  /** The merge-application chain over a wrapped-state column. One plan
    * NODE per merge — fine to a few hundred merges, but the analyzer
    * recurses per node and overflows its stack near ~1000; tables past
    * [[ChainLimit]] go through the depth-1 kernel expression instead
    * ([[graft.expressions.BpeSegmentExpr]]). */
  def applyMerges(state: Column, merges: Seq[String]): Column =
    merges.foldLeft(state)((c, m) => replace(c, lit(m), lit(fused(m))))

  /** Largest merge table applied as a replace chain; beyond this the
    * kernel-expression path is used (Gpt2MergesSpec pins parity). */
  val ChainLimit = 256

  /** Segment arbitrary text with a learned table: array of subword
    * symbols per document (unwrapped, in order). Map-only. Small tables
    * run the pure-functions replace chain; large ones the depth-1
    * kernel expression (a 50k-merge published table is depth-1 too). */
  def segment(text: Column, merges: Seq[String]): Column =
    if (merges.length <= ChainLimit) {
      val joined = concat_ws("",
        transform(TextFunctions.gpt2PreTokens(text),
          t => applyMerges(regexp_replace(t, "(?s)(.)", "{$1}"), merges)))
      regexp_extract_all(joined, lit("\\{([^}]*)\\}"), lit(1))
    } else {
      import org.apache.spark.sql.graft.ColumnBridge.{column, expression}
      column(graft.expressions.BpeSegmentExpr(expression(text), merges))
    }

  /** Per-document token budget under a learned merge table:
    * (id, n_pre, n_bpe). The vocabulary's final segmentation is joined
    * back broadcast-style onto the exploded pre-token stream — symbol
    * counting happens once per DISTINCT word, not per occurrence. */
  def tokenCounts(docs: DataFrame, text: Column, id: Column,
                  merges: Seq[String]): DataFrame = {
    // external/loaded merge table: derive the vocabulary segmentation
    // once per DISTINCT word — replace chain below ChainLimit, kernel
    // expression above it (same split as [[segment]])
    val v =
      if (merges.length <= ChainLimit)
        vocab(docs, text)
          .withColumn("s", applyMerges(col("s"), merges))
          // symbol count = number of '{' wrappers left after all merges
          .withColumn("n_sym",
            (length(col("s")) - length(replace(col("s"), lit("{"), lit("")))).cast("long"))
          .select(col("w").as("vw"), col("n_sym"))
      else
        vocab(docs, text)
          .withColumn("n_sym", size(segment(col("w"), merges)).cast("long"))
          .select(col("w").as("vw"), col("n_sym"))
    tokenCounts(docs, text, id, v)
  }

  /** [[tokenCounts]] over a precomputed (vw, n_sym) segmentation — the
    * no-extra-corpus-pass path fed by [[trainModel]]. */
  def tokenCounts(docs: DataFrame, text: Column, id: Column,
                  segmented: DataFrame): DataFrame = {
    val pt = docs.select(id.as("id"), explode(TextFunctions.gpt2PreTokens(text)).as("w"))
    pt.join(broadcast(segmented), col("w") === col("vw"))
      .groupBy("id")
      .agg(count(lit(1)).as("n_pre"), sum("n_sym").as("n_bpe"))
  }
}
