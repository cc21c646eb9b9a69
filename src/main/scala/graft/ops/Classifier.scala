package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Hashed-bag-of-words linear classifier INFERENCE (fastText-style scoring)
  * — the model-based quality-filter stage of LLM pretraining pipelines
  * (classifier-based filtering: keep docs a small model scores as
  * reference-like). Training happens offline (the reference trains its
  * models offline too, ml/training.py); the engine's job is to SCORE 10^12
  * docs cheaply and reproducibly:
  *
  *  - tokens: the engine's lowercase whitespace tokenization (native
  *    codegen expression, shared with P9-P11)
  *  - feature hashing: each token maps to one of `dim` weight buckets via
  *    the engine-portable md5-derived 32-bit rank (the Sample primitive —
  *    DuckDB replays it bit-for-bit), so model size is independent of
  *    corpus vocabulary — the standard hashing trick
  *  - score = sigmoid(bias + mean(weight[bucket(token)])) — MEAN, not sum,
  *    so document length does not dominate (fastText averages likewise);
  *    an empty token list scores sigmoid(bias)
  *
  * Pure column expressions: narrow, shuffle-free, no UDF. The weight table
  * is a literal array (typically 2^15–2^20 doubles — broadcast-sized;
  * hashing bounds it regardless of vocabulary). At 100 TB the scoring pass
  * pipelines into whatever scan already reads `text` — it adds zero jobs
  * when fused into a curation plan. */
object Classifier {

  /** md5-derived bucket of a token in [0, dim) — Sample.md5Rank32's
    * primitive applied to tokens (DuckDB: try_cast(concat('0x',
    * substr(md5(t),1,8)) AS bigint) % dim). */
  def bucketOf(token: Column, dim: Int): Column =
    pmod(conv(substring(md5(token), 1, 8), 16, 10).cast("long"), lit(dim.toLong))

  /** Score expression over a text column. `weights.length` is the hash
    * dimension.
    *
    * Formulation note (BASELINE.md §Round-4 classifier formulation probe,
    * 2M docs, interleaved min-of-3): `toks` is referenced three times
    * (transform arg + size twice), so the interpreted tokenizer runs 3× per
    * row — but the single-reference struct-accumulator fold measures at
    * PARITY (0.36 vs 0.38 M docs/s): what it saves in tokenizations it
    * spends allocating an interpreted `CreateNamedStruct` row per TOKEN.
    * The BigramPairs lesson (BASELINE.md §Round-4 LM perplexity-filter
    * probe, 9.4× there) only bites when the re-evaluated subtree sits inside
    * a per-element lambda — O(len²); a constant number of extra O(len)
    * argument passes is noise. Single-shot A/B runs of the probe flipped
    * 2× in BOTH directions before the interleaved protocol settled it —
    * the bench's min-of-interleaved discipline applies to micro-probes
    * too. Twin retained as [[scoreColStructFold]]; bit-identity
    * spec-asserted. */
  def scoreCol(text: Column, weights: Array[Double], bias: Double = 0.0): Column = {
    require(weights.nonEmpty, "classifier: weights must be non-empty")
    val dim = weights.length
    val w = typedlit(weights.toSeq)
    val toks = graft.functions.TextNative.whitespace_tokens(text)
    val sum = aggregate(
      transform(toks, t => element_at(w, (bucketOf(t, dim) + 1).cast("int"))),
      lit(0.0), (acc, x) => acc + x)
    val z = lit(bias) + when(size(toks) > 0, sum / size(toks)).otherwise(lit(0.0))
    lit(1.0) / (lit(1.0) + exp(-z))
  }

  /** The single-reference struct-accumulator fold — bit-identical to
    * [[scoreCol]] and MEASURED SLOWER (see the formulation note); retained
    * as the spec twin of the measured comparison. */
  private[graft] def scoreColStructFold(text: Column, weights: Array[Double],
                                        bias: Double = 0.0): Column = {
    val dim = weights.length
    val w = typedlit(weights.toSeq)
    aggregate(
      graft.functions.TextNative.whitespace_tokens(text),
      struct(lit(0.0).as("s"), lit(0).as("n")),
      (acc, t) => struct(
        (acc.getField("s") +
          element_at(w, (bucketOf(t, dim) + 1).cast("int"))).as("s"),
        (acc.getField("n") + 1).as("n")),
      acc => {
        val z = lit(bias) + when(acc.getField("n") > 0,
          acc.getField("s") / acc.getField("n")).otherwise(lit(0.0))
        lit(1.0) / (lit(1.0) + exp(-z))
      })
  }

  /** Add a `score` column to `docs`. */
  def scoreDocs(docs: DataFrame, textCol: String, weights: Array[Double],
                bias: Double = 0.0, out: String = "score"): DataFrame = {
    require(!docs.columns.contains(out),
      s"classifier: output column '$out' already exists on the input")
    docs.withColumn(out, scoreCol(col(textCol), weights, bias))
  }

  /** Keep docs scoring ≥ threshold — the curation-stage shape. */
  def gate(docs: DataFrame, textCol: String, weights: Array[Double],
           bias: Double = 0.0, threshold: Double = 0.5): DataFrame =
    docs.filter(scoreCol(col(textCol), weights, bias) >= threshold)

  /** Deterministic pseudo-trained weights for fixtures/tests: uniform in
    * [-1, 1) from a seeded SplitMix64 stream. A real deployment loads its
    * offline-trained vector instead. */
  def syntheticWeights(dim: Int, seed: Long = 31L): Array[Double] = {
    val rng = new graft.stats.StatMath.SplitMix64(seed)
    Array.fill(dim)(rng.nextDouble() * 2.0 - 1.0)
  }
}
