package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** N-gram language-model quality scoring (P38) — the CCNet-style
  * perplexity filter (Wenzek et al. 2020 §4.3 gate docs by LM perplexity;
  * their KenLM is replaced here by Stupid Backoff, Brants et al. 2007 —
  * the smoothing DESIGNED for distributed web-scale LMs: pure count
  * ratios, no discount fitting, no normalization pass, every score an
  * exact function of three integer counts, so the whole path is
  * deterministic and DuckDB-replayable).
  *
  * Model: S(w | w_prev) = cnt(w_prev, w) / cnt(w_prev) when the bigram is
  * in the model, else α · cnt(w) / N (backoff to the unigram), else α / N
  * (the unseen floor; α = 0.4, the Brants constant). A document's head
  * token has no context and scores at the unigram level with NO backoff
  * penalty: cnt(w) / N, floored at α / N. Scores are log10; the gate
  * quantity is per-token perplexity ppl = 10^(−avg_logprob).
  *
  * Scale shape: training is two map-side-combined count exchanges over
  * slim token/pair rows (the same shape as every gram count here) — the
  * corpus never shuffles; N rides the unigram aggregate. Scoring explodes
  * the corpus into slim (id, w1, w2) rows, joins the MODEL tables
  * (vocabulary-grain — broadcast under `maxBroadcastRows`, shuffled joins
  * above, the referential auto-selection lesson), and map-side combines
  * to one (id, sum, count) row per doc: the only doc-grain exchange
  * carries two numbers per document.
  *
  * Ids must be unique (scoring groups by id — duplicate ids would merge
  * score mass; run the uniqueness check upstream). Docs with no tokens
  * score (n_tokens=0, NULL logprob): they cannot be scored, and
  * [[gateByPerplexity]] DROPS them — the cannot-score-must-not-slip rule
  * the embedding-decon gate established. */
object LangModel {

  /** A trained Stupid-Backoff bigram model: vocabulary-grain count tables
    * plus the scalar normalizers. `totalTokens` counts the WHOLE corpus
    * (before `minCount` pruning — the unigram distribution stays honest
    * when rare rows are pruned). */
  case class BigramLm(unigrams: DataFrame, bigrams: DataFrame,
                      totalTokens: Long, unigramRows: Long, bigramRows: Long,
                      alpha: Double) {
    /** Release the persisted model tables (train() persists them —
      * vocabulary-grain, reused by every scoring join; long-lived sessions
      * call this when done, the lshTopKIndexedBatch lesson). */
    def release(): Unit = {
      unigrams.unpersist(blocking = false)
      bigrams.unpersist(blocking = false)
    }
  }

  /** Adjacent token pairs of a doc as (w1, w2) structs, w1 NULL for the
    * head token (every token appears exactly once as a w2). RETAINED HOF
    * TWIN of the native [[graft.functions.BigramPairs]] — NativeExprSpec
    * asserts bit-identity. Not used on the hot path: `transform`'s lambda
    * is interpreted and re-evaluates the `t` subtree per element (the
    * 10M-doc probe measured the tokenizer running O(len²) per doc —
    * train 622 s before, see BASELINE.md §Round-4 LM perplexity-filter
    * probe). */
  private[graft] def bigramsOf(t: Column): Column = {
    val empty = array().cast("array<struct<w1:string,w2:string>>")
    val head = when(size(t) >= 1,
      array(struct(lit(null).cast("string"), element_at(t, 1)))
        .cast("array<struct<w1:string,w2:string>>")).otherwise(empty)
    val rest = when(size(t) >= 2,
      transform(sequence(lit(2), size(t)),
        i => struct(element_at(t, i - 1), element_at(t, i)))
        .cast("array<struct<w1:string,w2:string>>")).otherwise(empty)
    concat(head, rest)
  }

  private def explodedPairs(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("__id"),
        explode(graft.functions.TextNative.bigram_pairs(col(textCol))).as("__p"))
      .select(col("__id"), col("__p.w1").as("w1"), col("__p.w2").as("w2"))

  /** Train a bigram Stupid-Backoff model. `minCount` prunes the hapax
    * tail from BOTH tables (a bigram that survives implies its w1 unigram
    * survives — cnt(w1) ≥ cnt(w1,w2) — so no dangling denominators);
    * `totalTokens` is counted before pruning. Two count exchanges +
    * vocabulary-grain finals; the count tables materialize eagerly so the
    * model's row counts can drive the scoring join strategy. */
  def train(df: DataFrame, textCol: String, minCount: Long = 1,
            alpha: Double = 0.4): BigramLm = {
    require(minCount >= 1, s"langmodel: minCount must be >= 1, got $minCount")
    require(alpha > 0.0 && alpha <= 1.0, s"langmodel: alpha must be in (0,1], got $alpha")
    val pairs = df
      .select(explode(graft.functions.TextNative.bigram_pairs(col(textCol))).as("__p"))
      .select(col("__p.w1").as("w1"), col("__p.w2").as("w2"))
    // every token is exactly one w2 row, so unigram counts (and N) ride
    // the same exploded shape as the bigram counts
    // the model tables persist at train time: they're vocabulary-grain
    // (bounded by distinct tokens/pairs, not corpus size), every scoring
    // join reads them, and counting them would otherwise re-run the
    // corpus explode once per count. BigramLm.release() frees them.
    val uniAll = pairs.groupBy(col("w2").as("w")).agg(count(lit(1)).as("cnt"))
      .persist()
    val totalRow = uniAll.agg(sum(col("cnt"))).collect()(0)
    val total = if (totalRow.isNullAt(0)) 0L else totalRow.getLong(0)
    val uni = uniAll.filter(col("cnt") >= minCount).persist()
    val uniRows = uni.count()
    uniAll.unpersist(blocking = false)
    val big = pairs.filter(col("w1").isNotNull)
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount)
      .persist()
    BigramLm(uni, big, total, uniRows, big.count(), alpha)
  }

  /** Score every doc: (id, n_tokens, logprob_sum, avg_logprob, ppl) —
    * log10 sums, per-token perplexity 10^(−avg). Token-less docs keep
    * their row with n_tokens=0 and NULL score columns. */
  def scoreDocs(df: DataFrame, idCol: String, textCol: String, lm: BigramLm,
                maxBroadcastRows: Long = 1000000L): DataFrame = {
    require(lm.totalTokens > 0, "langmodel: model trained on an empty corpus")
    def sized(t: DataFrame, rows: Long): DataFrame =
      if (rows <= maxBroadcastRows) broadcast(t) else t
    val bg = sized(lm.bigrams, lm.bigramRows)
      .select(col("w1").as("__bw1"), col("w2").as("__bw2"), col("cnt").as("__bcnt"))
    val u1 = sized(lm.unigrams, lm.unigramRows)
      .select(col("w").as("__u1w"), col("cnt").as("__u1cnt"))
    val u2 = sized(lm.unigrams, lm.unigramRows)
      .select(col("w").as("__u2w"), col("cnt").as("__u2cnt"))
    val n = lit(lm.totalTokens.toDouble)
    val a = lit(lm.alpha)
    val lp =
      when(col("__bcnt").isNotNull, log10(col("__bcnt") / col("__u1cnt")))
        .when(col("w1").isNull && col("__u2cnt").isNotNull, log10(col("__u2cnt") / n))
        .when(col("__u2cnt").isNotNull, log10(a * col("__u2cnt") / n))
        .otherwise(log10(a / n))
    val perDoc = explodedPairs(df, idCol, textCol)
      .join(bg, col("w1") === col("__bw1") && col("w2") === col("__bw2"), "left")
      .join(u1, col("w1") === col("__u1w"), "left")
      .join(u2, col("w2") === col("__u2w"), "left")
      .groupBy(col("__id"))
      .agg(sum(lp).as("logprob_sum"), count(lit(1)).as("n_tokens"))
    df.select(col(idCol)).join(perDoc, col(idCol) === col("__id"), "left")
      .select(col(idCol),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        col("logprob_sum"),
        (col("logprob_sum") / col("n_tokens")).as("avg_logprob"),
        pow(lit(10.0), -(col("logprob_sum") / col("n_tokens"))).as("ppl"))
  }

  /** Keep docs whose per-token perplexity is ≤ `maxPpl` (CCNet keeps the
    * low-perplexity "head/middle" of the corpus). Token-less docs cannot
    * be scored and are DROPPED. One doc-grain join of the O(docs) score
    * frame back onto the input. */
  def gateByPerplexity(df: DataFrame, idCol: String, textCol: String,
                       lm: BigramLm, maxPpl: Double,
                       maxBroadcastRows: Long = 1000000L): DataFrame = {
    require(maxPpl > 0.0, s"langmodel: maxPpl must be > 0, got $maxPpl")
    val keep = scoreDocs(df, idCol, textCol, lm, maxBroadcastRows)
      .filter(col("ppl").isNotNull && col("ppl") <= maxPpl)
      .select(col(idCol).as("__keep_id"))
    df.join(keep, df(idCol) === col("__keep_id"), "left_semi")
  }
}
