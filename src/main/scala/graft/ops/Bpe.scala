package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding tokenizer TRAINING (P37) — the op that turns a
  * corpus into a subword vocabulary (Sennrich et al. 2016, "Neural
  * Machine Translation of Rare Words with Subword Units"). The textbook
  * formulation loops over the corpus per merge; the scalable one — used
  * here — observes that merges depend only on the DISTINCT-WORD frequency
  * table: the corpus is touched ONCE (one map-side-combined word count,
  * the only corpus-grain exchange), and every merge round then runs over
  * the vocabulary-sized word table (Zipf-capped — millions of rows
  * regardless of corpus size, with a `minFreq` floor for the hapax tail).
  *
  * Symbol representation: a word's symbols joined by TWO spaces plus an
  * end-of-word marker ("low" → "l  o  w  </w>"). One merge is then ONE
  * literal (non-regex) replace of " a  b " with " ab " over the
  * double-space-padded string: the match consumes one space from each
  * neighboring gap, so ADJACENT occurrences still match in the same pass
  * (their shared gap has two spaces), while same-symbol runs merge
  * greedily LEFTMOST ("a a a" → "aa a") because the scan resumes after
  * each match — exactly canonical BPE application, in one pass, with no
  * lookaround (so Spark's and DuckDB's literal `replace` agree
  * byte-for-byte and the whole derivation is oracle-replayable with the
  * merge rounds unrolled). Symbols never contain whitespace (they come
  * from whitespace tokens), so the encoding is unambiguous.
  *
  * Determinism: the winning pair per round is argmax by (count DESC,
  * pair ASC) — tied pairs never resolve by arrival order, so the merge
  * table is identical under any partitioning (spec-asserted). */
object Bpe {

  /** The distinct-word frequency table of a corpus: (word, freq), the
    * only corpus-grain pass of BPE training. */
  def wordFreqs(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(TextOps.tokens(col(textCol))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))

  /** Initial symbol form: characters double-space-joined, plus the
    * end-of-word marker ("low" → "l  o  w  </w>"). Codepoint-grain
    * (Spark `split(w, "")`), replayed per-char in the oracle. */
  private[ops] def symbolize(word: Column): Column =
    concat(array_join(split(word, ""), "  "), lit("  </w>"))

  /** Adjacent symbol pairs of a double-space symbol string, each as
    * "a b" (single-space, the merge-table form). Empty array for
    * single-symbol words. */
  private[graft] def pairsOf(sym: Column): Column = {
    val t = split(sym, "  ")
    when(size(t) >= 2,
      transform(sequence(lit(0), size(t) - 2),
        i => concat_ws(" ", slice(t, i + 1, lit(2)))))
      .otherwise(array().cast("array<string>"))
  }

  /** Train `numMerges` BPE merges over the word-frequency table of `df`.
    * Returns the merge table: (merge_rank, pair, freq) — merge_rank
    * 1-based in application order, `pair` the space-separated symbol pair
    * merged, `freq` its frequency-weighted count when chosen.
    *
    * Each round aggregates pair counts over the word table (weighted by
    * word freq, map-side combined — O(distinct pairs) slim rows move),
    * picks the (count DESC, pair ASC) argmax via TakeOrdered, and applies
    * it with narrow literal replaces. Stops early when no pair repeats
    * (freq-weighted count < 2).
    *
    * `batchK = 1` (default) is CANONICAL sequential BPE — one argmax, one
    * merge, recount. `batchK > 1` amortizes the per-round pair-count job
    * over up to `batchK` merges: the round accepts the (cnt DESC, pair
    * ASC) candidate prefix for as long as each pair is SYMBOL-DISJOINT
    * from every pair already accepted this round, stopping at the first
    * conflict (prefix order preserved — a conflicting pair waits for the
    * next round's recount). Symbol-disjoint merges cannot change each
    * other's occurrence counts (replacing " a  b " touches only a/b
    * tokens), so batch application equals sequential application of the
    * same pairs and the emitted freqs are the counts each pair had when
    * chosen. The one divergence from canonical order: a pair NEWLY CREATED
    * by an earlier batch member (count ≤ its creator's) could in strict
    * sequence have outranked a later batch member that tied with it —
    * rare on natural text (BpeSpec pins batched ≡ sequential on the
    * driver corpus) and the standard trade for not paying one driver
    * round-trip per merge at 32k-merge vocabularies (see
    * BASELINE.md §Round-5 BPE training probes for the measured
    * round-cost curve). */
  def train(df: DataFrame, textCol: String, numMerges: Int,
            minFreq: Long = 1, batchK: Int = 1,
            truncateEvery: Int = 8): DataFrame = {
    require(numMerges >= 1, s"bpe: numMerges must be >= 1, got $numMerges")
    require(batchK >= 1, s"bpe: batchK must be >= 1, got $batchK")
    require(truncateEvery >= 1, s"bpe: truncateEvery must be >= 1, got $truncateEvery")
    val spark = df.sparkSession
    var words = wordFreqs(df, textCol)
      .filter(col("freq") >= minFreq)
      .select(symbolize(col("word")).as("sym"), col("freq"))
    words.persist() // vocabulary-sized (Zipf-capped); hot across rounds
    // Lineage truncation (every `truncateEvery` rounds): each round's word
    // table is a Project over the previous round's DataFrame, so the RAW
    // logical plan grows one level per merge — and once an intermediate
    // cache entry drops out (unpersist of the previous round triggers
    // Spark's non-cascading dependent-cache re-compile), the optimizer
    // walks the whole chain, where CollapseProject + the multi-reference
    // pair expression duplicate subtrees EXPONENTIALLY (measured:
    // ~0.2 s/round through round 8, 46 s by round 18, heap OOM by ~30 —
    // BASELINE.md §Round-5 BPE training probes). A parquet round-trip of the
    // vocabulary-sized table resets the plan to a scan; durable, so no
    // localCheckpoint executor-loss caveat. Scratch dirs alternate a/b
    // under a pid-scoped path and are deleted on completion.
    val scratch = graft.util.PidPaths.path("graft_bpe_scratch")
    graft.util.PidPaths.cleanStaleSiblings("graft_bpe_scratch")
    var flip = false
    var sinceTrunc = 0
    def truncate(): Unit = {
      val dir = s"$scratch/${if (flip) "a" else "b"}"
      flip = !flip
      words.write.mode("overwrite").parquet(dir)
      val prev = words
      words = spark.read.parquet(dir).persist()
      prev.unpersist(blocking = false)
      sinceTrunc = 0
    }
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, Long)]
    var rank = 1
    var exhausted = false
    while (rank <= numMerges && !exhausted) {
      val want = math.min(batchK, numMerges - rank + 1)
      // candidate window: stop-at-conflict keeps batches short, so a
      // small headroom multiple is enough to fill most rounds
      val top = words
        .select(explode(pairsOf(col("sym"))).as("pair"), col("freq"))
        .groupBy(col("pair")).agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("pair").asc)
        .limit(if (want == 1) 1 else want * 4)
        .collect()
      val eligible = top.takeWhile(_.getLong(1) >= 2)
      if (eligible.isEmpty) exhausted = true
      else {
        val used = scala.collection.mutable.Set.empty[String]
        val batch = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
        var stopped = false
        eligible.iterator.takeWhile(_ => !stopped && batch.size < want)
          .foreach { r =>
            val pair = r.getString(0)
            val Array(a, b) = pair.split(" ", 2)
            if (used.contains(a) || used.contains(b)) stopped = true
            else { batch += ((pair, r.getLong(1))); used += a; used += b }
          }
        batch.foreach { case (pair, cnt) =>
          merges += ((rank, pair, cnt))
          rank += 1
        }
        val prev = words
        words = prev.select(
            batch.foldLeft(col("sym")) { case (c, (pair, _)) => mergeOnce(c, pair) }
              .as("sym"), col("freq"))
          .persist()
        words.count() // materialize before releasing the previous round
        prev.unpersist(blocking = false)
        sinceTrunc += 1
        if (sinceTrunc >= truncateEvery) truncate()
      }
    }
    words.unpersist(blocking = false)
    graft.util.PidPaths.deleteRecursively(scratch)
    import spark.implicits._
    merges.toSeq.toDF("merge_rank", "pair", "freq")
  }

  /** The padded literal replace: "  " + sym + "  ", replace
    * " a  b " → " ab ", strip the padding back off (the pad spaces are
    * exactly the outermost two chars unless consumed-and-restored by an
    * edge match, so a plain trim of spaces is correct — symbols never
    * start or end with a space). */
  private[graft] def mergeOnce(sym: Column, pair: String): Column = {
    val Array(a, b) = pair.split(" ", 2)
    trim(replace(concat(lit("  "), sym, lit("  ")),
      lit(s" $a  $b "), lit(s" ${a + b} ")))
  }

  /** Apply a trained merge table to text: every word symbolized, merges
    * replayed in rank order, subword tokens returned per doc in a
    * `subwords` array column. The narrow per-row twin of [[train]]'s
    * application step — ONE pass, no shuffle. */
  def encode(df: DataFrame, textCol: String, merges: Seq[String]): DataFrame = {
    val sym = transform(TextOps.tokens(col(textCol)), w =>
      merges.foldLeft(symbolize(w))((acc, pair) => mergeOnce(acc, pair)))
    df.withColumn("subwords",
      flatten(transform(sym, s => split(s, "  "))))
  }
}
