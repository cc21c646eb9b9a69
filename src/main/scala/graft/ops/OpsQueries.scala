package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.RollingHash.rolling_hash

/** Driver-facing queries for the training-data pipeline operators, over the
  * `documents` / `embeddings` / `events` testdata tables. SQL-expressible
  * ones carry DuckDB oracles; sketch/LSH ones are rows-only (the driver
  * records a weaker check) and are separately unit-tested for correctness.
  *
  * The near-dup queries inject deterministic near-duplicates (a perturbed
  * copy of every 25th doc) so the operators demonstrably FIND pairs — the
  * raw corpus has no duplicates.
  */
object OpsQueries {

  private def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")
  private def embs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/embeddings.parquet")

  /** Deterministic per-process index scratch dir: repeated driver runs reuse
    * the same path in overwrite mode (bounded /tmp — the old
    * createTempDirectory-per-invocation grew without limit), and dead
    * siblings from previous pids are cleaned like the oracle-input dirs. */
  private def indexScratch(name: String): String = {
    graft.util.PidPaths.cleanStaleSiblings(s"graft_idx_$name")
    graft.util.PidPaths.path(s"graft_idx_$name")
  }

  /** documents ∪ perturbed near-copies (doc_id + 1,000,000, one word changed). */
  private def docsWithNearDups(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val dups = d.filter(col("doc_id") % 25 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        concat(col("text"), lit(" perturbed")).as("text"))
    d.select(col("doc_id"), col("text")).union(dups)
  }

  def dedupExactStats(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).agg(
      countDistinct(col("text")).as("distinct_texts"),
      count(lit(1)).as("total"))

  def dedupExactGroups(s: SparkSession, dir: String): DataFrame =
    // duplicate the corpus once so groups exist, then find them by md5
    docs(s, dir).select(col("text")).union(docs(s, dir).select(col("text")))
      .groupBy(md5(col("text")).as("h")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > 1)
      .agg(count(lit(1)).as("dup_groups"), sum(col("cnt")).as("dup_rows"))

  /** The survivor-drop operator over a corpus with an injected exact copy of
    * every doc: survivors must be exactly the originals (min doc_id per
    * content). Exercises the groupBy + semi-join drop path end to end. */
  def dedupExactDrop(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"), col("text"))
    val corpus = d.union(d.select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
    Dedup.dropExact(corpus, Seq("text"), "doc_id")
      .select(col("doc_id")).orderBy(col("doc_id"))
  }

  def textStats(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("doc_id"),
        length(col("text")).as("chars"),
        TextOps.tokenCountArith(col("text")).as("tokens"))
      .orderBy(col("doc_id"))

  def langDistribution(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).groupBy(col("lang")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("lang"))

  /** Deterministic 25 % subset by md5-rank of doc_id — same rows on every
    * run/partitioning (df.sample() is neither), oracle-replayable because
    * DuckDB computes the identical md5-derived rank. */
  def sampleFraction(s: SparkSession, dir: String): DataFrame =
    Sample.byFraction(docs(s, dir), "doc_id", 0.25)
      .select(col("doc_id"), col("lang")).orderBy(col("doc_id"))

  /** Deterministic 80/10/10 train/val/test split — the reference's seeded
    * random_split (ml/training.py:248-270) as a pure function of doc_id:
    * labels survive re-runs, repartitioning, and corpus growth, and DuckDB
    * replays the rank-interval assignment bit-for-bit. */
  def sampleSplit(s: SparkSession, dir: String): DataFrame =
    Sample.splitByFractions(docs(s, dir), "doc_id",
        Seq(("train", 0.8), ("val", 0.1), ("test", 0.1)))
      .select(col("doc_id"), col("split"))
      .orderBy(col("doc_id"))

  /** Deterministic sequence packing (P24): docs → fixed-token-budget
    * training sequences, laid out in md5-rank order within rank-derived
    * shards. The whole assignment — shard, start offset in the shard's
    * concatenated token stream, pack id — is a pure function of doc ids and
    * token counts, so DuckDB replays it bit-for-bit with the same window
    * arithmetic. */
  def packSequences(s: SparkSession, dir: String): DataFrame = {
    // n_tok rides to the output: cast long so every numeric column is
    // int64 on BOTH sides of the oracle compare (a driver hashing typed
    // values must never see int32-vs-int64 or HUGEINT-vs-BIGINT skew)
    val d = docs(s, dir).select(col("doc_id"),
      TextOps.tokenCountArith(col("text")).cast("long").as("n_tok"))
    Pack.packByBudget(d, "doc_id", "n_tok", budget = 512L, shards = 8)
      .select(col("doc_id"), col("shard"), col("pack"), col("start_off"),
        col("n_tok"))
      .orderBy(col("doc_id"))
  }

  /** Gopher-style repetition profile per doc (P25): exact integer counts +
    * the cross-multiplied boolean gate, all DuckDB-replayable with no FP
    * parity risk. The mode count stays inside each row (sort + longest-run
    * fold over the row's own bigram list) — no corpus-wide explode. */
  def repetitionStatsQuery(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"), TextOps.repetitionStats(col("text")).as("r"))
      .select(col("doc_id"),
        col("r.top_bigram_cnt").as("top_bigram_cnt"),
        col("r.bigram_cnt").as("bigram_cnt"),
        col("r.dup_trigram_cnt").as("dup_trigram_cnt"),
        col("r.trigram_cnt").as("trigram_cnt"),
        TextOps.repetitiveGate(col("r")).as("repetitive"))
      .orderBy(col("doc_id"))

  /** Benchmark decontamination (P26): every 20th doc plays the eval set;
    * the report lists corpus docs sharing >= 1 distinct 3-gram shingle with
    * the eval union (hits = the distinct-shingle intersection size). Eval
    * members flag themselves by design — eval rows must leave the training
    * set, not just their near-copies. DuckDB replays the engine shingling
    * and the intersection count exactly. */
  def decontaminateReport(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val bench = d.filter(col("doc_id") % 20 === 0)
    Decontaminate.contaminationReport(d, "doc_id", "text", bench, "text", n = 3)
      .orderBy(col("doc_id"))
  }

  /** The decontaminated corpus — survivors after dropping the report's
    * flagged docs. */
  def decontaminateDrop(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val bench = d.filter(col("doc_id") % 20 === 0)
    Decontaminate.dropContaminated(d, "doc_id", "text", bench, "text", n = 3)
      .select(col("doc_id"), col("lang")).orderBy(col("doc_id"))
  }

  /** Bloom-bounded decontamination (the fixed-byte-budget eval side),
    * oracle-GATED like `hll_orders`: DuckDB replays the exact flagged
    * count; the engine-side columns flip — breaking the hash — if the
    * one-sided-error contract is violated. `missed` counts exact-flagged
    * docs the bloom gate failed to flag (MUST be 0: a Bloom filter has no
    * false negatives, so any miss is a build/probe canonicalization bug);
    * `fp_within_bound` bounds the over-flagging at 3× the expected
    * false-positive mass (fpp × total shingle probes). */
  def deconBloom(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val bench = d.filter(col("doc_id") % 20 === 0)
    val fpp = 0.001
    val blob = Decontaminate.prepareBenchBloom(bench, "text", n = 3,
      expectedShingles = 1000000L, fpp = fpp)
    val bloomIds = Decontaminate.reportByBloom(d, "doc_id", "text", blob, n = 3)
      .select(col("doc_id")).persist()
    val exactIds = Decontaminate.contaminationReport(d, "doc_id", "text",
      bench, "text", n = 3).select(col("doc_id")).persist()
    val nExact = exactIds.count()
    val missed = exactIds.join(bloomIds, Seq("doc_id"), "left_anti").count()
    val spurious = bloomIds.join(exactIds, Seq("doc_id"), "left_anti").count()
    val probes = d.filter(col("doc_id").isNotNull)
      .select(explode(TextOps.shingles(col("text"), 3)).as("__s")).count()
    bloomIds.unpersist(blocking = false)
    exactIds.unpersist(blocking = false)
    import s.implicits._
    Seq((nExact, missed, spurious <= math.max(10.0, 3.0 * fpp * probes)))
      .toDF("n_exact", "missed", "fp_within_bound")
  }

  /** DSIR importance resampling (P39): select 50 docs from the corpus
    * with probability ∝ softmax of the hashed-bigram importance weight
    * against the ENGLISH slice as target — weight fitting, md5 feature
    * hashing, Laplace smoothing, the per-doc fold, the deterministic
    * Gumbel keys, and the top-k are ALL replayed in DuckDB (selection
    * compares full-precision keys whose Gumbel spacing is orders of
    * magnitude above any float-fold ulp). */
  def dsirSelect(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val lr = Dsir.featureLogRatios(d.filter(col("lang") === "en"), d, "text",
      dim = 1024, smoothing = 1.0)
    Dsir.selectTopK(d, "doc_id", "text", lr, k = 50)
      .select(col("doc_id"), col("lang")).orderBy(col("doc_id"))
  }

  /** Hashed-linear classifier scoring (model-based quality filter, the
    * fastText-inference shape): every doc scored by a deterministic
    * pseudo-trained weight vector; the bucket weights are materialized to
    * parquet so DuckDB replays tokenization, md5 feature-hashing, the mean
    * and the sigmoid end to end. */
  private val ClassifierDim = 1024
  private def classifierWeightsPath: String = graft.util.PidPaths.path("graft_clf_w")
  def classifierScores(s: SparkSession, dir: String): DataFrame = {
    graft.util.PidPaths.cleanStaleSiblings("graft_clf_w")
    val w = Classifier.syntheticWeights(ClassifierDim)
    s.createDataFrame(w.zipWithIndex.toSeq.map { case (wt, b) => (b.toLong, wt) })
      .toDF("bucket", "weight").coalesce(1)
      .write.mode("overwrite").parquet(classifierWeightsPath)
    docs(s, dir).select(col("doc_id"),
      round(Classifier.scoreCol(col("text"), w), 6).as("score"))
      .orderBy(col("doc_id"))
  }

  /** PII scrub over a corpus with deterministically injected emails / IPs /
    * phone numbers (the raw corpus has none): per-kind counts plus the
    * md5 of the redacted text, so detection AND the fixed-order rewrite are
    * both hash-checked against the DuckDB regex replay. Suffix recipe is
    * pure doc_id arithmetic — SQL-replayable. */
  private def docsWithPii(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("doc_id"),
      concat(col("text"),
        when(col("doc_id") % 7 === 0,
          concat(lit(" contact user"), col("doc_id"), lit("@example.com")))
          .otherwise(lit("")),
        when(col("doc_id") % 11 === 0,
          concat(lit(" host 10."), col("doc_id") % 256, lit(".0.1")))
          .otherwise(lit("")),
        when(col("doc_id") % 13 === 0,
          concat(lit(" call +1 555-01"), col("doc_id") % 90 + 10, lit(" 4567")))
          .otherwise(lit(""))).as("text"))

  def piiScrub(s: SparkSession, dir: String): DataFrame =
    Pii.scrub(docsWithPii(s, dir), "text")
      .select(col("doc_id"), col("emails"), col("ipv4s"), col("phones"),
        md5(col("text_redacted")).as("red_md5"))
      .orderBy(col("doc_id"))

  private def ingestSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("doc_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("lang",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("n_chars",
      org.apache.spark.sql.types.LongType)))

  /** Stage `lines` (+ injected garbage) as a text landing zone, run it
    * through the schema-on-ingest gate, return the good side. The oracle is
    * the source table itself: every real row must round-trip, every
    * injected line must quarantine (bad-side routing is spec-asserted in
    * IngestSpec). */
  private def ingestRoundTrip(s: SparkSession, lines: DataFrame,
                              badLines: Seq[String], tag: String,
                              read: String => graft.sources.Ingest.IngestResult): DataFrame = {
    import s.implicits._
    graft.util.PidPaths.cleanStaleSiblings("graft_ingest")
    val root = graft.util.PidPaths.path("graft_ingest") + s"/$tag"
    lines.unionByName(badLines.toDF("value"))
      .coalesce(4).write.mode("overwrite").text(root)
    read(root).good.orderBy(col("doc_id"))
  }

  /** JSONL landing-zone ingest: documents serialized to JSON lines plus an
    * unparseable line, a missing-required-field line, and a blank — the
    * good side must equal the source rows exactly (DuckDB-oracled). */
  def ingestJsonl(s: SparkSession, dir: String): DataFrame =
    ingestRoundTrip(s,
      docs(s, dir).select(to_json(struct(
        col("doc_id"), col("lang"), col("n_chars"))).as("value")),
      Seq("""{"doc_id": 7, "lang"""", """{"lang":"xx","n_chars":5}""", "   "),
      // fixed tag: overwrite mode makes re-runs idempotent, /tmp bounded
      tag = "jsonl",
      p => graft.sources.Ingest.readJsonl(s, p, ingestSchema,
        required = Seq("doc_id")))

  /** CSV landing-zone ingest: same round-trip contract as [[ingestJsonl]]
    * (unclosed-quote line → corrupt sentinel, empty-id line → required
    * check, blank ignored). */
  def ingestCsv(s: SparkSession, dir: String): DataFrame =
    ingestRoundTrip(s,
      docs(s, dir).select(to_csv(struct(
        col("doc_id"), col("lang"), col("n_chars"))).as("value")),
      Seq("\"unclosed, quote", ",xx,5", "   "),
      tag = "csv",
      p => graft.sources.Ingest.readCsv(s, p, ingestSchema,
        required = Seq("doc_id")))

  /** Training-mix rates: keep all `de`, half `fr`, 10 % `en`, default 25 %
    * — the per-group threshold variant of the deterministic sampler. */
  def sampleMixLang(s: SparkSession, dir: String): DataFrame =
    Sample.byFractionPerGroup(docs(s, dir), "doc_id", "lang",
        Map("de" -> 1.0, "fr" -> 0.5, "en" -> 0.1), defaultFraction = 0.25)
      .select(col("lang"), col("doc_id")).orderBy(col("lang"), col("doc_id"))

  /** Temperature-scaled training mix (P22 extension): τ=2 flattening at a
    * 50 % row budget — rare languages upweighted per the multilingual-LM
    * sampling rule, rates derived from the corpus's own counts and
    * replayed in SQL (power → normalize → cap → round(6) → rank
    * threshold). */
  def sampleTemperature(s: SparkSession, dir: String): DataFrame =
    Sample.byTemperature(docs(s, dir), "doc_id", "lang",
        tau = 2.0, budgetFraction = 0.5)
      .select(col("lang"), col("doc_id")).orderBy(col("lang"), col("doc_id"))

  /** Exact-budget temperature mix: τ=4 at an 80 % row budget forces the
    * four rare languages to cap, and WATERFILLING redistributes their
    * unmet share onto `en` so the expected keep hits the budget exactly
    * (the single-pass rule undershoots here by ~24 % of the corpus). The
    * oracle replays the closed form as a bool_and window over the
    * c/q capping order. */
  def sampleTemperatureWaterfill(s: SparkSession, dir: String): DataFrame =
    Sample.byTemperatureWaterfill(docs(s, dir), "doc_id", "lang",
        tau = 4.0, budgetFraction = 0.8)
      .select(col("lang"), col("doc_id")).orderBy(col("lang"), col("doc_id"))

  /** Epoch upsampling (P43): de repeated 2.5 epochs, fr 1.25, en
    * DOWNsampled to 0.4 (the f<1 degenerate = byFraction), others 1.0 —
    * the deterministic data-mixing constructor with a copy-index column.
    * The oracle replays floor + fractional rank threshold + range
    * unnest. */
  def sampleUpsample(s: SparkSession, dir: String): DataFrame =
    Sample.upsampleByFactors(docs(s, dir), "doc_id", "lang",
        Map("de" -> 2.5, "fr" -> 1.25, "en" -> 0.4), defaultFactor = 1.0)
      .select(col("lang"), col("doc_id"), col("epoch"))
      .orderBy(col("lang"), col("doc_id"), col("epoch"))

  /** Training-mix quota: at most 40 docs per language, smallest md5-rank
    * first — the bounded-agg (window-free) top-k path end to end. */
  def sampleQuotaLang(s: SparkSession, dir: String): DataFrame =
    Sample.quotaPerGroup(docs(s, dir), "doc_id", "lang", cap = 40)
      .select(col("lang"), col("doc_id")).orderBy(col("lang"), col("doc_id"))

  /** Token-budget selection: the best half (by gate quality, tokens as
    * the budget unit) of the corpus under the greedy prefix rule — the
    * two-pass distributed prefix sum end to end, oracled by a global
    * window cumsum. */
  def sampleTokenBudget(s: SparkSession, dir: String): DataFrame = {
    val (_, q, nTok) = TextOps.gateColumns(col("text"))
    val scored = docs(s, dir).select(col("doc_id"), q.as("q"),
      nTok.cast("long").as("n_tok"))
    val total = scored.agg(sum(col("n_tok"))).collect()(0).getLong(0)
    // managed variant: materialize the id list, release the two-pass
    // persist deterministically (the annLshBatch pattern)
    val (sel, release) = Sample.selectByTokenBudgetManaged(
      scored, "doc_id", "q", "n_tok", total / 2)
    val out = sel.select(col("doc_id")).orderBy(col("doc_id"))
    val rows = out.collect()
    release()
    s.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
  }

  /** Curriculum ordering (P44): corpus-wide 0-based ordinal by the gate
    * quality score (best first, ties by id) via the two-pass distributed
    * prefix sum — the oracle replays it as one global row_number. */
  def curriculumOrder(s: SparkSession, dir: String): DataFrame = {
    val (_, q, _) = TextOps.gateColumns(col("text"))
    val scored = docs(s, dir).select(col("doc_id"), q.as("q"))
    val (ord, release) = Sample.globalOrdinal(scored, "doc_id", "q")
    val out = ord.orderBy(col("doc_id"))
    val rows = out.collect()
    release()
    s.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
  }

  /** Z-order key derivation (E26): Morton interleave of two 10-bit doc
    * coordinates — the layout key `engine.ZOrder.writeZOrdered` clusters
    * files on. Oracled bit for bit (DuckDB recomputes the interleave with
    * a range(10) lateral sum). */
  def zorderValue(s: SparkSession, dir: String): DataFrame = {
    val (_, _, nTok) = TextOps.gateColumns(col("text"))
    docs(s, dir).select(col("doc_id"),
      graft.engine.ZOrder.zvalue(
        pmod(col("doc_id"), lit(1024L)),
        pmod(nTok.cast("long"), lit(1024L)), bits = 10).as("zv"))
      .orderBy(col("doc_id"))
  }

  def fingerprintMd5(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("doc_id"), md5(lower(col("text"))).as("fp"))
      .orderBy(col("doc_id"))

  /** Reference S8 (model_inference_api/app/model.py:125-145): logits →
    * class index via argmax. The embedding vector stands in for the logits
    * row; 0-based like torch.max(...).indices. */
  def argmaxPredict(s: SparkSession, dir: String): DataFrame =
    embs(s, dir).select(col("vec_id"),
        (array_position(col("embedding"), array_max(col("embedding"))) - 1)
          .cast("int").as("pred"))
      .orderBy(col("vec_id"))

  /** Reference S17 (ml/utils/cnn.py:134-144): accuracy = Σ(pred==label)/n
    * — the per-variant metric of the offline evaluation suite. */
  def modelAccuracy(s: SparkSession, dir: String): DataFrame =
    embs(s, dir).select(
        ((array_position(col("embedding"), array_max(col("embedding"))) - 1)
          .cast("int") === col("label")).as("hit"))
      .agg(sum(when(col("hit"), 1L).otherwise(0L)).as("n_correct"),
        count(lit(1)).as("n_total"))

  /** Model calibration report (P46) — the reliability diagram behind every
    * "is the model's confidence honest" audit: per confidence decile, the
    * sample count, mean softmax-top confidence, empirical accuracy, and
    * their gap (whose n-weighted sum is the expected calibration error).
    * Softmax top probability computed max-shifted (1 / Σ exp(β(x − max)) —
    * overflow-safe, and the max term needs no exp); β is the inverse
    * temperature sharpening the synthetic near-uniform logits so the
    * diagram spans its bins (a real model's logits arrive pre-sharpened;
    * β=1 is the identity). Argmax tie-break = first maximum like
    * argmax_predict. One narrow scan → O(bins) rows. */
  def calibrationReport(s: SparkSession, dir: String, bins: Int = 10,
                        invTemp: Double = 16.0): DataFrame = {
    // all-double logits on BOTH engines: float-vs-double subtraction differs
    // in the last ULP, which could flip a confidence sitting on a bin edge
    val e = col("embedding").cast("array<double>")
    val mx = array_max(e)
    val conf = lit(1.0) / aggregate(e, lit(0.0d),
      (acc, x) => acc + exp(lit(invTemp) * (x - mx)))
    val correct = (array_position(e, mx) - 1).cast("int") === col("label")
    embs(s, dir)
      .select(conf.as("conf"), correct.cast("int").as("ok"))
      .withColumn("bin", least(floor(col("conf") * bins), lit(bins - 1)).cast("int"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        round(avg(col("conf")), 6).as("avg_conf"),
        round(avg(col("ok")), 6).as("acc"),
        round(abs(avg(col("conf")) - avg(col("ok"))), 6).as("gap"))
      .orderBy(col("bin"))
  }

  /** Per-slice accuracy audit (P45) — the slice-grain companion to S17:
    * per true-label slice, n / correct / accuracy / delta vs the corpus
    * accuracy, flagged when |delta| exceeds the threshold. The reference's
    * offline eval reports ONE accuracy per variant (ml/utils/cnn.py:134-144);
    * model governance at scale needs WHERE the model underperforms. One
    * narrow scan → O(labels) partial aggregates; the corpus accuracy joins
    * back from the SAME aggregates via a broadcast 1-row total — no second
    * data scan, no driver collect, argmax tie-break = first maximum
    * (array_position), identical to argmax_predict. */
  def sliceAccuracy(s: SparkSession, dir: String,
                    threshold: Double = 0.05): DataFrame = {
    val hit = (array_position(col("embedding"), array_max(col("embedding"))) - 1)
      .cast("int") === col("label")
    val per = embs(s, dir).groupBy(col("label"))
      .agg(count(lit(1)).as("n"), sum(when(hit, 1L).otherwise(0L)).as("n_correct"))
    val tot = per.agg(sum(col("n")).as("nt"), sum(col("n_correct")).as("ct"))
    val acc = col("n_correct") / col("n")
    val overall = col("ct") / col("nt")
    per.crossJoin(broadcast(tot))
      .select(col("label"), col("n"), col("n_correct"),
        round(acc, 6).as("acc"),
        round(acc - overall, 6).as("acc_delta"),
        (abs(acc - overall) > threshold).as("flagged"))
      .orderBy(col("label"))
  }

  def similarityTopK(s: SparkSession, dir: String): DataFrame = {
    val queryVec = embs(s, dir).filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0).toArray
    Similarity.bruteForceTopK(
      embs(s, dir).filter(col("vec_id") =!= 0), "vec_id", "embedding", queryVec, 10)
  }

  /** JL random projection to 8 latent dims, long format
    * (vec_id, j, lat_q, agrees) — the DuckDB oracle replays the md5
    * sign-matrix DERIVATION and the projection, so the whole encoder is
    * hash-gated end to end. The hash-compared projection is the
    * INTEGER-EXACT quantized twin ([[graft.functions.RandomProjectQ]]):
    * a float sum's last ulp depends on summation order (unspecified in a
    * SQL GROUP BY) and `round()` semantics drift across engine versions,
    * so a rounded double is not a stable cross-engine hash; an integer
    * sign-sum is. The REAL float projection still rides the same rows:
    * `agrees` asserts in-row that `|lat·√8·1000 − lat_q| ≤ 32` (the
    * worst-case quantization envelope: 64 elements × 0.5 each), so a
    * wrong sign matrix or a broken float loop flips `agrees` and fails
    * the hash. */
  def dimredProject(s: SparkSession, dir: String): DataFrame =
    embs(s, dir)
      .select(col("vec_id"),
        DimRed.projectCol(col("embedding"), outDim = 8, seed = 7).as("lat"),
        graft.functions.RandomProject
          .random_project_q(col("embedding"), 8, 7, 1000).as("latq"))
      .select(col("vec_id"), col("lat"), posexplode(col("latq")).as(Seq("j", "lat_q")))
      .select(col("vec_id"), col("j"), col("lat_q"),
        (abs(element_at(col("lat"), col("j") + 1) * lit(math.sqrt(8.0) * 1000.0)
          - col("lat_q")) <= lit(32.001)).as("agrees"))
      .orderBy(col("vec_id"), col("j"))

  /** Two-stage projected→re-ranked top-k (deterministic at every stage, so
    * fully SQL-replayable unlike the LSH/IVF ANN configs). */
  def dimredTopK(s: SparkSession, dir: String): DataFrame = {
    val queryVec = embs(s, dir).filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0).toArray
    DimRed.projectedTopK(embs(s, dir).filter(col("vec_id") =!= 0),
      "vec_id", "embedding", queryVec, k = 10, outDim = 8, seed = 7, oversample = 4)
  }

  /** Latent-space drift (the reference's encode→check_drift composition):
    * per-dim PSI between even- and odd-id windows, once on identical
    * distributions (no drift) and once with a +0.8 latent shift injected on
    * the current side (drift on every dim) — both verdict sets hash-gated. */
  def latentDrift(s: SparkSession, dir: String): DataFrame = {
    val lat = DimRed.project(embs(s, dir), "embedding", outDim = 8, seed = 7)
      .select(col("vec_id"), col("latent"))
    val ref = lat.filter(col("vec_id") % 2 === 0).select("latent")
    val cur = lat.filter(col("vec_id") % 2 =!= 0).select("latent")
    val shifted = cur.select(transform(col("latent"), x => x + lit(0.8)).as("latent"))
    LatentDrift.psiPerDimLatent(ref, cur, "latent").withColumn("scenario", lit("same"))
      .unionByName(LatentDrift.psiPerDimLatent(ref, shifted, "latent")
        .withColumn("scenario", lit("shift")))
      .select(col("scenario"), col("dim"), col("psi"), col("is_drift"))
      .orderBy(col("scenario"), col("dim"))
  }

  /** Streaming twin of latent drift: the SAME two scenarios as
    * `latent_drift` arrive as two event-time windows — hour 0 carries the
    * unshifted odd-vec latents ("same"), hour 1 the +0.8-shifted copies
    * ("shift") — each staged as its own file so each is its own
    * micro-batch; both score against the even-vec reference count matrix.
    * Final per-window verdicts relabel window→scenario, so the query
    * shares the batch oracle bit-for-bit (binning and PSI math are the
    * same code, LatentDrift.bucketCol/psiFromCounts). */
  def streamLatentDrift(s: SparkSession, dir: String): DataFrame = {
    import java.nio.file.{Files, Paths}
    val lat = DimRed.project(embs(s, dir), "embedding", outDim = 8, seed = 7)
      .select(col("vec_id"), col("latent"))
    val ref = lat.filter(col("vec_id") % 2 === 0).select("latent")
    val cur = lat.filter(col("vec_id") % 2 =!= 0)
    val refCounts = LatentDrift.binCounts(ref, "latent", outDim = 8)
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val staged = Files.createTempDirectory("graft-latent-q")
    Seq(
      cur.select(lit(base).as("ts"), col("latent")),
      cur.select(lit(new java.sql.Timestamp(base.getTime + 3600000L)).as("ts"),
        transform(col("latent"), x => x + lit(0.8)).as("latent"))
    ).zipWithIndex.foreach { case (df, i) =>
      val tmp = Files.createTempDirectory("graft-latent-slice")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val ls = Files.list(tmp)
      val part = try ls.filter(_.toString.endsWith(".parquet")).findFirst().get()
        finally ls.close()
      Files.copy(part, staged.resolve(f"w$i%02d.parquet"))
      try { import scala.sys.process._; Seq("rm", "-rf", tmp.toString).! }
      catch { case _: Throwable => }
    }
    val out = StreamingOps.runLatentDriftStream(s, staged.toString, refCounts,
        queryName = s"stream_latent_${System.nanoTime()}")
      .select(
        when(col("window_start") === lit(base), lit("same")).otherwise(lit("shift"))
          .as("scenario"),
        col("dim"), col("psi"), col("is_drift"))
      .orderBy(col("scenario"), col("dim"))
    try { import scala.sys.process._; Seq("rm", "-rf", staged.toString).! }
    catch { case _: Throwable => }
    out
  }

  /** Schema-contract validation (E20) on the orders table: the declared
    * contract deliberately retypes o_totalprice (DECIMAL vs the observed
    * DOUBLE), declares a column the table lacks (o_comment), and omits one
    * it has (o_orderpriority) — so all four statuses appear. Types are
    * Spark SQL strings; the DuckDB oracle replays DESCRIBE output through
    * the two documented engine-name mappings (VARCHAR→STRING,
    * TIMESTAMP→TIMESTAMP_NTZ: pyarrow writes isAdjustedToUTC=false, which
    * Spark surfaces as NTZ and DuckDB as plain TIMESTAMP). Nulls coalesce
    * to '-' on both sides for hash stability. */
  def schemaContract(s: SparkSession, dir: String): DataFrame = {
    import graft.checks.SchemaCheck, SchemaCheck.FieldContract
    val sch = s.read.parquet(s"$dir/orders.parquet").schema
    val contract = Seq(
      FieldContract("o_orderkey", "BIGINT"),
      FieldContract("o_custkey", "BIGINT"),
      FieldContract("o_orderstatus", "STRING"),
      FieldContract("o_totalprice", "DECIMAL(12,2)"),
      FieldContract("o_orderdate", "TIMESTAMP_NTZ"),
      FieldContract("o_comment", "STRING"))
    SchemaCheck.contractCheck(s, sch, contract)
      .select(col("path"),
        coalesce(col("expected_type"), lit("-")).as("expected_type"),
        coalesce(col("observed_type"), lit("-")).as("observed_type"),
        col("status"))
      .orderBy(col("path"))
  }

  /** Embedding-space decontamination, exact rung: eval = vectors 100–119
    * of the corpus itself (the verbatim-leak case), so the report must
    * flag exactly those rows at cos 1.0 plus any accidental ≥ threshold
    * neighbor — the DuckDB oracle replays every pairwise cosine. The LSH
    * rung is spec-gated against this exact rung (DecontaminateSpec). */
  def deconEmbedding(s: SparkSession, dir: String): DataFrame = {
    val all = embs(s, dir)
    val evalSet = all.filter(col("vec_id").between(100, 119)).select(col("embedding"))
    Decontaminate.embeddingReport(all, "vec_id", "embedding",
      evalSet, "embedding", threshold = 0.99)
      .orderBy(col("vec_id"))
  }

  // ---- approximate / non-SQL-expressible operators ----
  // (most of the family is DuckDB-oracled as of round 2 — see oracleSql;
  // only the inherently-approximate ANN queries stay rows-only)

  def minhashLshPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashLshPairs(docsWithNearDups(s, dir), "doc_id", "text", threshold = 0.5)
      .orderBy(col("id_a"), col("id_b"))

  def ngramJaccardPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardPairs(docsWithNearDups(s, dir), "doc_id", "text", threshold = 0.5)
      .orderBy(col("id_a"), col("id_b"))

  def simhashPairs(s: SparkSession, dir: String): DataFrame =
    // simhash-blocked + exact-Jaccard-verified: the verified output is
    // exact-truth comparable, so this query carries a full DuckDB oracle
    // (the raw hamming-only variant stays unit-tested in OpsSpec).
    // chunks = 16 ≥ maxHamming + 1 = 13: the chunk pigeonhole now GUARANTEES
    // candidate recall for every pair within the radius (a pair at Hamming
    // ≤ 15 must share one of 16 exact 4-bit chunks) — the previous chunks=8
    // config only guaranteed Hamming ≤ 7 and relied on measured corpus luck
    // for 8–12. The price of the guarantee: 4-bit chunk keys collide ~1/16,
    // so candidate generation approaches all-pairs (see Dedup.simhashPairs's
    // cost note) — right for this bounded gate corpus, NOT a production
    // config; corpora wanting Manku-style blocking cost use chunks=4,
    // maxHamming=3 (guaranteed ≤ 3, keys 16-bit).
    Dedup.simhashJaccardPairs(docsWithNearDups(s, dir), "doc_id", "text",
        threshold = 0.5, maxHamming = 12, chunks = 16)
      .orderBy(col("id_a"), col("id_b"))

  /** Injected scaled-copy embedding corpus + verified cosine pairs — the
    * single Scala-side source for both embedding near-dup queries, the twin
    * of the shared `embPairCtes` oracle block (a drift in corpus recipe or
    * LSH params here would otherwise silently fork the two queries). */
  private def embCosinePairs(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir).select(col("vec_id"),
      col("embedding").cast("array<double>").as("embedding"))
    val dups = e.filter(col("vec_id") % 25 === 0)
      .select((col("vec_id") + 1000000L).as("vec_id"),
        transform(col("embedding"), x => x * 1.001).as("embedding"))
    Dedup.embeddingCosineDups(e.union(dups), "vec_id", "embedding",
      threshold = 0.98, planes = 10)
  }

  def embCosineDups(s: SparkSession, dir: String): DataFrame =
    embCosinePairs(s, dir).orderBy(col("id_a"), col("id_b"))

  /** In-row recall gate for the approximate ANN driver entries: the exact
    * brute-force twin's id set is computed beside the approximate result,
    * recall = |approx ∩ exact| / |exact| is REQUIRED ≥ `floor` (a drop
    * below the floor throws, so the driver reports the query red even
    * though no hash oracle exists for an approximate config), and the
    * recall value is stamped on every output row so the quality of the
    * trade is visible in the result itself. Gate-scale rig only: the exact
    * twin is a bounded brute force over the correctness-gate corpus;
    * production callers use the index operators directly. */
  private def gateRecall(approx: DataFrame, idCol: String, exactIds: Set[Long],
                         floor: Double, what: String): DataFrame = {
    val ids = approx.select(col(idCol).cast("long")).collect().map(_.getLong(0)).toSet
    val recall =
      if (exactIds.isEmpty) 1.0
      else ids.intersect(exactIds).size.toDouble / exactIds.size
    System.err.println(f"[verify] $what recall@${exactIds.size} = $recall%.3f (floor $floor%.2f)")
    require(recall >= floor,
      f"$what: ANN recall $recall%.3f < floor $floor%.2f vs the exact twin")
    approx.withColumn("recall", lit(math.rint(recall * 10000) / 10000))
  }

  /** Exact single-query twin: brute-force top-k ids over the corpus. */
  private def exactTopIds(corpus: DataFrame, queryVec: Array[Double], k: Int): Set[Long] =
    Similarity.bruteForceTopK(corpus, "vec_id", "embedding", queryVec, k)
      .select(col("vec_id").cast("long")).collect().map(_.getLong(0)).toSet

  /** Per-query recall gate for the batch/join ANN entries: recall@k per
    * query against the exact twin frame, MEAN recall required ≥
    * `floorMean` (throws below — same loud contract as [[gateRecall]]),
    * per-query recall joined back in-row. O(queries) driver rows only. */
  private def gateRecallPerQuery(approx: DataFrame, qCol: String, idCol: String,
                                 exact: DataFrame, eqCol: String, eidCol: String,
                                 floorMean: Double, what: String): DataFrame = {
    val a = approx.select(col(qCol).cast("long").as("q"), col(idCol).cast("long").as("i"))
    val e = exact.select(col(eqCol).cast("long").as("q"), col(eidCol).cast("long").as("i"))
    val hits = a.join(e, Seq("q", "i")).groupBy(col("q")).agg(count(lit(1)).as("hits"))
    val den = e.groupBy(col("q")).agg(count(lit(1)).as("n"))
    val recDf = den.join(hits, Seq("q"), "left")
      .select(col("q"),
        round(coalesce(col("hits"), lit(0L)) * 1.0 / col("n"), 4).as("recall"))
    val rows = recDf.collect() // O(queries)
    val mean = if (rows.isEmpty) 1.0
      else rows.map(_.getDouble(1)).sum / rows.length
    System.err.println(f"[verify] $what mean recall = $mean%.3f over ${rows.length} queries (floor $floorMean%.2f)")
    require(mean >= floorMean,
      f"$what: mean ANN recall $mean%.3f < floor $floorMean%.2f vs the exact twin")
    approx.join(broadcast(recDf), approx(qCol).cast("long") === recDf("q"))
      .drop("q")
  }

  def annLshTopK(s: SparkSession, dir: String): DataFrame = {
    val corpus = embs(s, dir).filter(col("vec_id") =!= 0)
    val queryVec = embs(s, dir).filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0).toArray
    gateRecall(
      Similarity.lshTopK(corpus, "vec_id", "embedding", queryVec,
        k = 10, planes = 5, probes = 16),
      "vec_id", exactTopIds(corpus, queryVec, 10), floor = 0.3, "ann_lsh_topk")
  }

  /** ANN against a PERSISTED partitioned LSH index (rows-only): only the
    * probed buckets' partition directories are read — the storage-level
    * scale path. Results equal the compute-and-filter lshTopK for the same
    * (planes, probes); partition pruning is plan-asserted in SimilaritySpec. */
  def annLshIndexed(s: SparkSession, dir: String): DataFrame = {
    val idx = indexScratch("lsh")
    val corpus = embs(s, dir).filter(col("vec_id") =!= 0)
    Similarity.lshIndexWrite(corpus, "vec_id", "embedding", idx, planes = 5)
    val queryVec = embs(s, dir).filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0).toArray
    gateRecall(
      Similarity.lshTopKIndexed(s, idx, queryVec, k = 10, planes = 5, probes = 16),
      "id", exactTopIds(corpus, queryVec, 10), floor = 0.3, "ann_lsh_indexed")
  }

  /** Batch ANN against the persisted index (rows-only): every query row's
    * top-k in ONE plan, with the probed-bucket union partition-pruning the
    * index scan. Per-query equality with lshTopKIndexed and the
    * PartitionFilters assertion live in SimilaritySpec. Self-matches
    * (queries live in the index) are dropped for a stable result shape. */
  def annLshBatch(s: SparkSession, dir: String): DataFrame = {
    val idx = indexScratch("lshbatch")
    Similarity.lshIndexWrite(embs(s, dir), "vec_id", "embedding", idx, planes = 5)
    val queries = embs(s, dir).filter(col("vec_id") < 20)
    // managed variant: materialize the (tiny: queries × k) result eagerly and
    // RELEASE the exploded-query persist deterministically — the unmanaged
    // call leaks MEMORY_AND_DISK blocks until the frame is GC'd
    val (df, release) = Similarity.lshTopKIndexedBatchManaged(s, idx, queries,
      "vec_id", "embedding", k = 6, planes = 5, probes = 16)
    val out = df.filter(col("query_id") =!= col("id"))
      .orderBy(col("query_id"), col("cos").desc, col("id"))
    val rows = out.collect()
    release()
    val approx = s.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
    // exact per-query twin: all-pairs top-k restricted to the query ids
    // (self-pairs are excluded by allPairsTopK's id_a =!= id_b, matching
    // the self-match drop above) — bounded brute force at gate scale
    val exact = Similarity.allPairsTopK(embs(s, dir), "vec_id", "embedding", k = 6)
      .filter(col("id_a") < 20)
    gateRecallPerQuery(approx, "query_id", "id", exact, "id_a", "id_b",
        floorMean = 0.4, "ann_lsh_batch")
      .orderBy(col("query_id"), col("cos").desc, col("id"))
  }

  /** IVF ANN against a persisted coarse-quantized index (rows-only:
    * data-adaptive list probing is approximate by design; recall and the
    * all-lists==brute-force identity are unit-tested in IvfAnnSpec). */
  def annIvfTopK(s: SparkSession, dir: String): DataFrame = {
    val idx = indexScratch("ivfq")
    val corpus = embs(s, dir).filter(col("vec_id") =!= 0)
    IvfAnn.indexWrite(corpus, "vec_id", "embedding", idx, nLists = 16)
    val queryVec = embs(s, dir).filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0).toArray
    gateRecall(IvfAnn.topKIndexed(s, idx, queryVec, k = 10, nprobe = 8),
      "id", exactTopIds(corpus, queryVec, 10), floor = 0.25, "ann_ivf_topk")
  }

  /** IVF at the exact config (nprobe = nLists → every list probed → brute
    * force): hash-checks the whole train/assign/persist/probe pipeline
    * against the similarity_topk oracle. */
  def annIvfExact(s: SparkSession, dir: String): DataFrame = {
    val idx = indexScratch("ivfx")
    IvfAnn.indexWrite(embs(s, dir).filter(col("vec_id") =!= 0),
      "vec_id", "embedding", idx, nLists = 8)
    val queryVec = embs(s, dir).filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0).toArray
    IvfAnn.topKIndexed(s, idx, queryVec, k = 10, nprobe = 8)
  }

  /** IVF-PQ against a persisted compressed index (rows-only: both the
    * coarse list probing and the 8-byte-code ADC ranking are approximate by
    * design at this config; recall and the lossless==brute-force identity
    * are unit-tested in PqSpec). */
  def annIvfPqTopK(s: SparkSession, dir: String): DataFrame = {
    val idx = indexScratch("ivfpq")
    val corpus = embs(s, dir).filter(col("vec_id") =!= 0)
    Pq.indexWrite(corpus, "vec_id", "embedding", idx, nLists = 8, m = 8, k = 16)
    val queryVec = embs(s, dir).filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0).toArray
    // lossy 8-byte codes rank by reconstructed distance — the floor is the
    // coarse "same neighborhood" contract, not the LSH/IVF one
    gateRecall(Pq.topKIndexed(s, idx, queryVec, k = 10, nprobe = 8),
      "id", exactTopIds(corpus, queryVec, 10), floor = 0.2, "ann_ivfpq_topk")
  }

  /** PQ at the structurally-lossless config: a ≤256-row corpus has ≤256
    * distinct subvectors per subspace, so training takes the distinct-set
    * codebook path, every vector round-trips bit-exactly, and ADC equals
    * the exact inner product — the full train/encode/ADC pipeline
    * hash-checks against a DuckDB exact cosine replay (same gate pattern as
    * `ann_lsh_exact`/`ann_ivf_exact`; the lossy production config stays
    * rows-only as `ann_ivfpq_topk`). */
  def annPqExact(s: SparkSession, dir: String): DataFrame = {
    val corpus = embs(s, dir).filter(col("vec_id") > 0 && col("vec_id") < 200)
    val cb = Pq.train(corpus, "vec_id", "embedding", m = 8, sampleN = 500)
    val queryVec = embs(s, dir).filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0).toArray
    Pq.adcTopK(Pq.encode(corpus, "vec_id", "embedding", cb), cb, queryVec, k = 10)
      .select(col("id").as("vec_id"), col("cos"))
  }

  /** Per-row kNN join (rows-only: LSH recall is approximate by design; the
    * recall bound vs brute force is unit-tested in SimilaritySpec). */
  def knnJoin(s: SparkSession, dir: String): DataFrame = {
    val approx = Similarity.knnJoin(embs(s, dir), "vec_id", "embedding", k = 5,
      planes = 5, probes = 16)
    val exact = Similarity.allPairsTopK(embs(s, dir), "vec_id", "embedding", k = 5)
    gateRecallPerQuery(approx, "id_a", "id_b", exact, "id_a", "id_b",
        floorMean = 0.4, "knn_join")
      .orderBy(col("id_a"), col("cos").desc, col("id_b"))
  }

  /** kNN join at the guaranteed-total-probe config: planes=1 and probes=2
    * probe BOTH buckets, so candidate recall is STRUCTURALLY total (not
    * corpus luck) and the output equals exact per-row top-k — which makes
    * the whole pipeline (probe explosion, bucket join, TopKPairsAgg ranking
    * and tie order) DuckDB-oracle-able. The production-shape approximate
    * config stays `knn_join` (rows-only + recall specs). */
  def knnJoinExact(s: SparkSession, dir: String): DataFrame =
    // maxBucket OFF: at planes=1 both buckets hold ~n/2 rows, so the default
    // cap would trigger at larger SFs and split-key refinement would break
    // the total-recall guarantee this gate exists to check
    Similarity.knnJoin(embs(s, dir), "vec_id", "embedding", k = 5,
        planes = 1, probes = 2, maxBucket = Int.MaxValue)
      .orderBy(col("id_a"), col("cos").desc, col("id_b"))

  /** Single-query ANN at the guaranteed-total-probe config (planes=1,
    * probes=2 — both buckets probed): structurally equal to brute force, so
    * it shares the `similarity_topk` oracle. Exercises the bucket
    * compute-and-filter path under a full oracle. */
  def annLshExact(s: SparkSession, dir: String): DataFrame = {
    val queryVec = embs(s, dir).filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0).toArray
    Similarity.lshTopK(embs(s, dir).filter(col("vec_id") =!= 0),
      "vec_id", "embedding", queryVec, k = 10, planes = 1, probes = 2)
  }

  /** Composed curation pipeline over a corpus with injected exact copies:
    * dedup (survivor = min doc_id per text) → quality gate → language gate.
    * The oracle computes quality/langid over the ORIGINAL docs only — if the
    * Spark-side dedup leaked any injected copy (doc_id ≥ 1,000,000), the
    * row count and hash would mismatch, so the composition is end-to-end
    * checked. */
  def curationPipeline(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val corpus = d.select(col("doc_id"), col("text"))
      .union(d.select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
    Curate.curate(corpus).orderBy(col("doc_id"))
  }

  /** Curation with the SEMANTIC dedup stage over the injected near-dup
    * corpus: exact dedup (identity here) → MinHash near-dup drop
    * (smaller-id-wins) → quality gate → language gate. Every injected
    * perturbed copy must be dropped by the near-dup stage — a leak breaks
    * rows/hash — and naturally-near-dup originals drop too, all replayed
    * exactly by the oracle. */
  def curationNearDup(s: SparkSession, dir: String): DataFrame =
    Curate.curateWithNearDup(docsWithNearDups(s, dir)).orderBy(col("doc_id"))

  /** The staged (parquet-materialized dedup stage) pipeline — bit-identical
    * results to `curation_near_dup` by construction, so it shares that
    * query's oracle SQL; what it adds is the production materialization
    * shape, hash-checked end to end. */
  def curationStaged(s: SparkSession, dir: String): DataFrame =
    Curate.curateWithNearDupStaged(docsWithNearDups(s, dir),
      indexScratch("curation_staged")).orderBy(col("doc_id"))

  /** Connected components over the verified EMBEDDING near-dup pairs — the
    * semantic-cluster twin of `dedup_cc_components` (numeric vec ids,
    * cosine pair source instead of Jaccard). Exercises the CC loop over a
    * second id family and pair generator; oracled by a recursive-CTE
    * closure over the exact all-pairs cosine truth. */
  def dedupEmbCc(s: SparkSession, dir: String): DataFrame =
    ConnectedComponents.components(embCosinePairs(s, dir))
      .select(col("id").as("vec_id"), col("component"))
      .orderBy(col("vec_id"))

  /** Connected components over the verified near-dup pair graph
    * (large-star/small-star; component = min doc_id). DuckDB-oracled by a
    * recursive-CTE transitive closure over the SAME exact-Jaccard pair set —
    * the iterative Spark loop is checked against declarative reachability. */
  def dedupCcComponents(s: SparkSession, dir: String): DataFrame = {
    val pairs = Dedup.minhashLshPairs(docsWithNearDups(s, dir), "doc_id", "text",
      threshold = 0.5)
    ConnectedComponents.components(pairs)
      .select(col("id").as("doc_id"), col("component"))
      .orderBy(col("doc_id"))
  }

  /** Curation with CLUSTER-EXACT canonicalization: near-dup components →
    * keep each component's root → gates. Oracle replays the closure and the
    * root-survivor rule in SQL. */
  def curationCc(s: SparkSession, dir: String): DataFrame =
    Curate.curateWithNearDupCC(docsWithNearDups(s, dir)).orderBy(col("doc_id"))

  /** Quality-policy CC curation: near-dup components → keep each
    * component's HIGHEST-QUALITY member (tie → min id) → gates. */
  def curationCcQuality(s: SparkSession, dir: String): DataFrame =
    Curate.curateWithNearDupQualityCC(docsWithNearDups(s, dir))
      .orderBy(col("doc_id"))

  /** The FULL pipeline: exact dedup → near-dup drop → decontamination
    * (eval = every 20th ORIGINAL doc) → gates, one composed plan whose
    * every stage the oracle replays — a leak in any stage breaks the
    * hash. */
  def curationDecon(s: SparkSession, dir: String): DataFrame =
    Curate.curateFull(docsWithNearDups(s, dir),
        docs(s, dir).filter(col("doc_id") % 20 === 0))
      .orderBy(col("doc_id"))

  def langIdDetect(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("doc_id"), col("lang"),
        TextOps.langId(col("text")).as("detected"))
      .orderBy(col("doc_id"))

  def qualityScores(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("doc_id"),
        floor(TextOps.qualityScore(col("text")) * 1e6).cast("long").as("quality_micros"),
        size(TextOps.tokens(col("text"))).as("n_tokens"),
        TextOps.subwordCount(col("text")).as("n_subwords"))
      .orderBy(col("doc_id"))

  def fingerprintRolling(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("doc_id"), rolling_hash(lower(col("text"))).as("fp"))
      .orderBy(col("doc_id"))

  /** Frame sampling (P47): 64-byte payloads as 4×16-byte frames, every 2nd
    * kept — the oracle slices the identical hex stream. */
  def mediaFrameSample(s: SparkSession, dir: String): DataFrame =
    Multimodal.frameSample(Multimodal.syntheticMedia(s, 500).toDF(),
        frameBytes = 16, everyK = 2)
      .orderBy(col("media_ref"), col("frame_idx"))

  def mediaFeatures(s: SparkSession, dir: String): DataFrame =
    // features emitted as SCALAR columns f0..f7 (not array<double>): the
    // driver's pandas-side sort/hash cannot handle array cells
    Multimodal.extractFeatures(Multimodal.syntheticMedia(s, 500)).toDF()
      .select(Seq(col("media_ref"), col("media_kind"), col("n_bytes"), col("checksum")) ++
        (0 until 8).map(i => element_at(col("features"), i + 1).as(s"f$i")): _*)
      .orderBy(col("media_ref"))

  /** Real image decode (no stub): deterministic synthetic PNGs → ImageIO
    * decode → luminance grayscale → 28×28 average-pool resize → band-mean
    * features. Rows-only driver check (PNG codecs are not replayable in
    * DuckDB SQL); pixel-level correctness is unit-tested in OpsSpec. */
  def mediaDecode(s: SparkSession, dir: String): DataFrame =
    Multimodal.decodeImageFeatures(Multimodal.syntheticImages(s, 200)).toDF()
      .select(Seq(col("media_ref"), col("width"), col("height")) ++
        (0 until 8).map(i => round(element_at(col("features"), i + 1), 6).as(s"f$i")): _*)
      .orderBy(col("media_ref"))

  /** Perceptual image near-dup pairs (P32): 200 synthetic PNGs + a
    * perturbed twin for every 10th ref — the pairs are exactly the planted
    * (orig, orig-dup) twins at small Hamming (random images sit ~32 bits
    * apart). Rows-only by design like `media_decode` (the PNG codec is not
    * replayable in SQL); the aHash math and the planted-truth exactness
    * are spec-pinned (MultimodalSpec). */
  def imageNearDup(s: SparkSession, dir: String): DataFrame =
    Multimodal.imageNearDupPairs(
        Multimodal.withPerturbedCopies(Multimodal.syntheticImages(s, 200)))
      .orderBy(col("id_a"), col("id_b"))

  /** Real audio decode (no stub): deterministic synthetic RIFF/WAVE PCM16
    * payloads → chunk-walking header parse → RMS / zero-crossing /
    * band-energy features + the 64-bit energy-profile hash. Rows-only
    * driver check like `media_decode` (a WAV parser is not replayable in
    * DuckDB SQL); the container round-trip and feature math are
    * hand-value-pinned in AudioSpec. */
  def mediaAudioFeatures(s: SparkSession, dir: String): DataFrame =
    Audio.audioFeatures(Audio.syntheticWavs(s, 200)).toDF()
      .select(Seq(col("media_ref"), col("sample_rate"), col("n_samples"),
        col("dur_ms"), col("rms_q"), col("zcr_q"), col("ehash")) ++
        (0 until 8).map(i => round(element_at(col("band_rms"), i + 1), 6).as(s"b$i")): _*)
      .orderBy(col("media_ref"))

  /** Windowed audio frame features — the decoded-stream frame-sampling
    * composition (every 2nd 512-sample window): rows-only like its parent,
    * window indices/values spec-pinned against a driver-side replay. */
  def mediaAudioWindows(s: SparkSession, dir: String): DataFrame =
    Audio.audioWindowFeatures(Audio.syntheticWavs(s, 100),
        windowSamples = 512, everyK = 2)
      .orderBy(col("media_ref"), col("win_idx"))

  /** Perceptual audio near-dup pairs: 100 synthetic WAVs + a ±1-LSB
    * dithered twin for every 5th ref — pairs are exactly the planted
    * twins at small energy-hash Hamming (different tone mixes sit far
    * apart). Rows-only by design like `image_near_dup`; planted-truth
    * exactness is spec-pinned (AudioSpec). */
  def audioNearDup(s: SparkSession, dir: String): DataFrame =
    Audio.audioNearDupPairs(
        Audio.withPerturbedCopies(Audio.syntheticWavs(s, 100), dupEvery = 5))
      .orderBy(col("id_a"), col("id_b"))

  private def audioDriftPath: String = graft.util.PidPaths.path("graft_audio_drift")
  private def videoDriftPath: String = graft.util.PidPaths.path("graft_video_drift")
  private def videoFramesPath: String = graft.util.PidPaths.path("graft_video_frames")

  /** Real video decode (no stub): deterministic synthetic GVID raw-video
    * payloads → header parse + frame slicing → per-clip luminance / motion
    * / scene-cut / hash features. Rows-only driver check like
    * `media_decode` (a raw-video container walk is not replayable in
    * DuckDB SQL); container round-trip and feature math are
    * hand-value-pinned in VideoSpec. */
  def mediaVideoFeatures(s: SparkSession, dir: String): DataFrame =
    Video.videoFeatures(Video.syntheticVideos(s, 200)).toDF()
      .select(Seq(col("media_ref"), col("width"), col("height"), col("fps"),
        col("n_frames"), col("dur_ms"), col("luma_q"), col("motion_q"),
        col("cut_count"), col("lhash")) ++
        (0 until 8).map(i => round(element_at(col("band_luma"), i + 1), 6).as(s"b$i")): _*)
      .orderBy(col("media_ref"))

  /** HASH-ORACLED scene-cut detection: per-frame features (mean luma and
    * transition motion energy, both quantized to exact milli-unit longs)
    * are materialized to parquet, and the shot-boundary verdict — count of
    * transitions whose quantized motion exceeds the threshold — is computed
    * from the written longs, so DuckDB replays the detector bit-for-bit.
    * The codec stays Spark-side (as in `audio_drift`); the detection math
    * is hash-checked end to end. 3 of every 4 clips carry exactly one
    * planted hard cut, the rest none. */
  def videoSceneCuts(s: SparkSession, dir: String): DataFrame = {
    graft.util.PidPaths.cleanStaleSiblings("graft_video_frames_")
    Video.videoFrameFeatures(Video.syntheticVideos(s, 200))
      .write.mode("overwrite").parquet(videoFramesPath)
    s.read.parquet(videoFramesPath)
      .groupBy(col("media_ref"))
      .agg(max(col("n_frames")).as("n_frames"),
        sum(when(col("motion_q") > lit(Video.CutThresholdQ), 1L).otherwise(0L))
          .as("cut_count"))
      .orderBy(col("media_ref"))
  }

  /** Perceptual video near-dup pairs: 200 synthetic GVIDs + a ±1-value
    * dithered twin for every 5th ref — pairs are exactly the planted twins
    * at small luma-profile-hash Hamming (different wobble sequences sit far
    * apart). Rows-only by design like `audio_near_dup`; planted-truth
    * exactness is spec-pinned (VideoSpec). */
  def videoNearDup(s: SparkSession, dir: String): DataFrame =
    Video.videoNearDupPairs(
        Video.withPerturbedCopies(Video.syntheticVideos(s, 200), dupEvery = 5))
      .orderBy(col("id_a"), col("id_b"))

  /** Media-integrity constraint (payload decode-verify) over a planted
    * corpus: 600 REAL payloads (PNG / WAV / GVID by kind), every 97th
    * truncated below its container header. The engine must find EXACTLY
    * the planted violations with the `truncated` classification — the
    * oracle replays the planted rule, so a probe that misses a corruption,
    * flags a healthy payload, or misclassifies a reason breaks rows/hash.
    * The byte-level parsers themselves are spec-owned
    * (MediaIntegritySpec: bad-magic and undecodable ladders). */
  def mediaIntegrity(s: SparkSession, dir: String): DataFrame =
    graft.checks.MediaIntegrity.violations(
        graft.checks.MediaIntegrity.syntheticPayloadMedia(s, 600, corruptEvery = 97))
      .orderBy(col("media_ref"))

  /** The per-kind verdict counts of the same planted corpus — one probe
    * scan, O(kinds) rows, also fully replayed by the id rule. */
  def mediaIntegrityReport(s: SparkSession, dir: String): DataFrame =
    graft.checks.MediaIntegrity.report(
        graft.checks.MediaIntegrity.syntheticPayloadMedia(s, 600, corruptEvery = 97))
      .orderBy(col("media_kind"))

  /** STREAMING twin of [[mediaIntegrity]]: the same 600-payload planted
    * corpus arrives as a parquet FILE STREAM in three micro-batches, and
    * the decode-probe runs as a STATELESS streaming transform (the narrow
    * mapPartitions needs no state store — integrity is a per-row fact), so
    * the append-mode finals must equal the batch violation set exactly:
    * shares `media_integrity`'s planted-rule oracle verbatim. This is the
    * ingest-time shape: decode-verify each arriving micro-batch and emit
    * violations before the rows ever reach the catalog. */
  def streamMediaIntegrity(s: SparkSession, dir: String): DataFrame = {
    import java.nio.file.Files
    import org.apache.spark.sql.types._
    val staged = Files.createTempDirectory("graft-media-int-q")
    graft.checks.MediaIntegrity.syntheticPayloadMedia(s, 600, corruptEvery = 97)
      .repartition(3)
      .write.mode("overwrite").parquet(staged.toString + "/all")
    val srcDir = Files.createTempDirectory("graft-media-int-src")
    val ls = Files.list(java.nio.file.Paths.get(staged.toString + "/all"))
    try ls.filter(_.toString.endsWith(".parquet"))
      .forEach(f => Files.copy(f, srcDir.resolve(f.getFileName)))
    finally ls.close()
    val schema = StructType(Seq(StructField("media_ref", StringType),
      StructField("media_kind", StringType), StructField("payload", BinaryType)))
    val src = s.readStream.schema(schema).option("maxFilesPerTrigger", 1)
      .parquet(srcDir.toString)
    import s.implicits._
    val name = s"stream_media_int_${System.nanoTime()}"
    val q = graft.checks.MediaIntegrity.violations(
        src.as[graft.checks.MediaIntegrity.MediaPayloadRow])
      .writeStream.outputMode("append").format("memory").queryName(name).start()
    q.processAllAvailable()
    q.stop()
    val res = s.table(name)
    val rows = res.collect()
    val outSchema = res.schema
    s.catalog.dropTempView(name)
    Seq(staged.toString, srcDir.toString).foreach { d =>
      try { import scala.sys.process._; Seq("rm", "-rf", d).! }
      catch { case _: Throwable => }
    }
    s.createDataFrame(s.sparkContext.parallelize(rows.toSeq, 1), outSchema)
      .orderBy(col("media_ref"))
  }

  private def renderDocsPath: String =
    graft.util.PidPaths.path("graft_render_docs")

  /** Interleaved-document RENDERING (training-sample prep): flatten each
    * spans document to one training string — text spans verbatim, media
    * spans as `<kind:media_ref>` placeholder tokens — md5-gated so the
    * whole render (order, placeholders, null conventions) is hash-checked
    * against a DuckDB replay over the materialized docs. */
  def renderDocs(s: SparkSession, dir: String): DataFrame = {
    import graft.model.DocsGen
    val sf = "sf([0-9.]+)".r.findFirstMatchIn(dir).map(_.group(1).toDouble).getOrElse(0.001)
    val nDocs = math.max(1800L, (1800000 * sf).toLong)
    graft.util.PidPaths.cleanStaleSiblings("graft_render_docs_")
    DocsGen.docs(s, nDocs, DocsGen.goldenScenario)
      .write.mode("overwrite").parquet(renderDocsPath)
    Interleave.renderText(s.read.parquet(renderDocsPath))
      .select(col("doc_id"), col("n_spans"), md5(col("rendered")).as("render_md5"))
      .orderBy(col("doc_id"))
  }

  /** Sliding-window token chunking (context-window splitter) over the
    * documents table: size 32, overlap 8 → chunks start every 24 tokens;
    * md5 per chunk so boundaries, overlap, and the short final chunk are
    * all hash-checked. */
  def chunkTokens(s: SparkSession, dir: String): DataFrame =
    Interleave.chunkByTokens(docs(s, dir), "text", maxTok = 32, overlap = 8)
      .select(col("doc_id"), col("chunk_idx"), col("n_tok"),
        md5(col("chunk_text")).as("chunk_md5"))
      .orderBy(col("doc_id"), col("chunk_idx"))

  private def refIntegrityDocsPath: String =
    graft.util.PidPaths.path("graft_refint_docs")
  private def kindConsDocsPath: String =
    graft.util.PidPaths.path("graft_kindcons_docs")
  private def kindConsMediaPath: String =
    graft.util.PidPaths.path("graft_kindcons_media")

  /** Cross-field consistency constraint
    * ([[graft.checks.ConstraintChecks.kindConsistency]]): per-part counts
    * of spans whose declared kind disagrees with the catalog's media_kind.
    * Both the docs and the catalog are materialized, so the oracle replays
    * the exact join and counts — existence (dangling) verdicts stay with
    * `ref_orders_customer`/`docs_constraints`, this query owns agreement. */
  def refKindConsistency(s: SparkSession, dir: String): DataFrame = {
    import graft.model.DocsGen
    val sf = "sf([0-9.]+)".r.findFirstMatchIn(dir).map(_.group(1).toDouble).getOrElse(0.001)
    val nDocs = math.max(1800L, (1800000 * sf).toLong)
    graft.util.PidPaths.cleanStaleSiblings("graft_kindcons_")
    DocsGen.docs(s, nDocs, DocsGen.goldenScenario)
      .write.mode("overwrite").parquet(kindConsDocsPath)
    DocsGen.media(s).write.mode("overwrite").parquet(kindConsMediaPath)
    graft.checks.ConstraintChecks.kindConsistency(
        s.read.parquet(kindConsDocsPath), s.read.parquet(kindConsMediaPath))
      .orderBy(col("part"))
  }

  /** BLAST-RADIUS composition: payload integrity (E42) joined back onto
    * the interleaved documents — which parts' spans reference media whose
    * payload does not decode. The referential check (E6) answers "does the
    * catalog row exist"; this answers "is the row's payload usable", the
    * question that decides whether a downstream training job crashes. The
    * engine probes a full [[graft.model.DocsGen.MediaCount]]-row payload
    * catalog (every 97th truncated), then LEFT-SEMI joins the exploded
    * span refs against the BROADCAST violation set (~1k refs) — span rows
    * never shuffle, the tiny bad set travels: the 10^12-doc shape. The
    * oracle replays the planted id rule against the same materialized docs,
    * so both the probe's violation set and the per-part attribution are
    * hash-checked. */
  def refMediaIntegrity(s: SparkSession, dir: String): DataFrame = {
    import graft.model.DocsGen
    val sf = "sf([0-9.]+)".r.findFirstMatchIn(dir).map(_.group(1).toDouble).getOrElse(0.001)
    val nDocs = math.max(1800L, (1800000 * sf).toLong)
    graft.util.PidPaths.cleanStaleSiblings("graft_refint_docs_")
    DocsGen.docs(s, nDocs, DocsGen.goldenScenario)
      .write.mode("overwrite").parquet(refIntegrityDocsPath)
    val badRefs = graft.checks.MediaIntegrity.violations(
        graft.checks.MediaIntegrity.syntheticPayloadMedia(
          s, DocsGen.MediaCount, corruptEvery = 97))
      .select(col("media_ref"))
    s.read.parquet(refIntegrityDocsPath)
      .select(col("part"), explode(col("spans")).as("sp"))
      .select(col("part"), col("sp.media_ref").as("media_ref"))
      .filter(col("media_ref").isNotNull)
      .join(broadcast(badRefs), Seq("media_ref"), "left_semi")
      .groupBy(col("part"))
      .agg(count(lit(1)).as("bad_span_refs"))
      .orderBy(col("part"))
  }

  /** Integer bucket edges over the milli-unit band-luma longs: the cohort
    * design places every (b0, cut) cluster ± wobble spread ≥ ~2.5 luma
    * units from a boundary; measured by the video probe (SURVEY.md, P49) — the
    * 'same' scenario reads PSI 0.0 on every band at these edges, the
    * gain-1.2 shift 0.49–1.44. Generation is deterministic, so the
    * margins hold forever. */
  private val videoLumaEdges: Seq[Long] =
    Seq(82000L, 107000L, 127000L, 151000L, 176000L, 196000L, 220000L)

  /** HASH-ORACLED video drift — the video analog of [[audioDrift]]: three
    * real GVID cohorts (reference; disjoint same-distribution; gain-shifted
    * — the exposure/brightness change a re-encoded or re-captured feed
    * suffers) are decoded, per-clip 8 time-band mean luminances are
    * quantized to exact milli-unit longs and written to parquet, and
    * per-band PSI verdicts are computed over integer-edge buckets. DuckDB
    * replays everything after the codec from the same longs. */
  /** Shared tail of the batch band-drift pair (`audio_drift`,
    * `video_drift`): materialize the (cohort, band, <qCol>) quantized-long
    * frame to `path` (what the DuckDB oracle re-reads), bucket on the
    * integer `edges`, and emit per-(scenario, band) PSI verdicts — 'same'
    * compares the reference against the disjoint same-distribution cohort,
    * 'shift' against the gain-shifted one. */
  private def bandDriftVerdicts(s: SparkSession, path: String,
                                frame: DataFrame, qCol: String,
                                edges: Seq[Long]): DataFrame = {
    frame.write.mode("overwrite").parquet(path)
    val f = s.read.parquet(path)
    def pts(cohort: String): DataFrame =
      f.filter(col("cohort").isin("ref", cohort))
        .select(lit(cohort).as("scenario"), col("band"),
          edges.zipWithIndex.foldRight(lit(edges.length): org.apache.spark.sql.Column) {
            case ((e, i), acc) => when(col(qCol) < lit(e), lit(i)).otherwise(acc)
          }.as("bucket"),
          when(col("cohort") === "ref", 0).otherwise(1).as("side"))
    LatentDrift.psiFromBinnedKeys(pts("same").unionByName(pts("shift")),
        nb = edges.length + 1, keyCols = Seq("scenario", "band"))
      .select(col("scenario"), col("band").cast("int").as("band"),
        col("psi"), col("is_drift"))
      .orderBy(col("scenario"), col("band"))
  }

  /** Shared tail of the streaming band-drift pair: stage the 'same' and
    * 'shift' cohorts' quantized 8-band vectors as two event-time windows,
    * run the generic latent-drift state operator against the reference
    * cohort's bin counts, and relabel window→scenario — the result must
    * match the batch twin (and its oracle) bit-for-bit. */
  private def streamBandDriftVerdicts(s: SparkSession, prefix: String,
                                      refVecs: DataFrame, sameVecs: DataFrame,
                                      shiftVecs: DataFrame,
                                      edges: Seq[Long]): DataFrame = {
    import java.nio.file.Files
    val edgesD = edges.map(_.toDouble)
    val refCounts = LatentDrift.binCounts(refVecs, "latent", outDim = 8,
      edges = edgesD)
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val staged = Files.createTempDirectory(s"graft-$prefix-q")
    Seq(
      sameVecs.select(lit(base).as("ts"), col("latent")),
      shiftVecs.select(lit(new java.sql.Timestamp(base.getTime + 3600000L))
        .as("ts"), col("latent"))
    ).zipWithIndex.foreach { case (df, i) =>
      val tmp = Files.createTempDirectory(s"graft-$prefix-slice")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val ls = Files.list(tmp)
      val part = try ls.filter(_.toString.endsWith(".parquet")).findFirst().get()
        finally ls.close()
      Files.copy(part, staged.resolve(f"w$i%02d.parquet"))
      try { import scala.sys.process._; Seq("rm", "-rf", tmp.toString).! }
      catch { case _: Throwable => }
    }
    val out = StreamingOps.runLatentDriftStream(s, staged.toString, refCounts,
        edges = edgesD, queryName = s"stream_${prefix}_${System.nanoTime()}")
      .select(
        when(col("window_start") === lit(base), lit("same")).otherwise(lit("shift"))
          .as("scenario"),
        col("dim").cast("int").as("band"), col("psi"), col("is_drift"))
      .orderBy(col("scenario"), col("band"))
    try { import scala.sys.process._; Seq("rm", "-rf", staged.toString).! }
    catch { case _: Throwable => }
    out
  }

  def videoDrift(s: SparkSession, dir: String): DataFrame = {
    graft.util.PidPaths.cleanStaleSiblings("graft_video_drift_")
    def bands(clips: org.apache.spark.sql.Dataset[graft.ops.Video.VideoClip],
              cohort: String): DataFrame =
      Video.videoFeatures(clips).toDF()
        .select(lit(cohort).as("cohort"), posexplode(col("band_luma")).as(Seq("band", "v")))
        .select(col("cohort"), col("band"),
          floor(col("v") * 1000 + 0.5).cast("long").as("lq"))
    bandDriftVerdicts(s, videoDriftPath,
      bands(Video.syntheticVideos(s, 200), "ref")
        .unionByName(bands(Video.syntheticVideos(s, 200, idOffset = 1000), "same"))
        .unionByName(bands(Video.syntheticVideos(s, 200, gain = 1.2, idOffset = 1000), "shift")),
      "lq", videoLumaEdges)
  }

  /** STREAMING twin of [[audioDrift]]: the same three WAV cohorts, but the
    * 'same' and 'shift' cohorts arrive as two event-time windows of
    * quantized band-energy vectors through the generic latent-drift state
    * operator (bounded per-window (dim × bucket) counts, watermark-closed
    * finals). Band vectors ARE 8-dim latents, so the machinery is shared
    * verbatim — only the bucket edges change (integer micro-units instead
    * of JL-latent scale). Shares `audio_drift`'s DuckDB oracle: the stream
    * relabels window→scenario and must reproduce the batch PSI verdicts
    * bit-for-bit (psiFromCounts rounds HALF_UP at the same 1e-4 grain). */
  def streamAudioDrift(s: SparkSession, dir: String): DataFrame = {
    def bandVecs(clips: org.apache.spark.sql.Dataset[graft.ops.Audio.AudioClip]): DataFrame =
      Audio.audioFeatures(clips).toDF()
        .select(transform(col("band_rms"),
          x => floor(x * 1e6 + 0.5).cast("double")).as("latent"))
    streamBandDriftVerdicts(s, "audio",
      bandVecs(Audio.syntheticWavs(s, 200)),
      bandVecs(Audio.syntheticWavs(s, 200, idOffset = 1000)),
      bandVecs(Audio.syntheticWavs(s, 200, gain = 1.25, idOffset = 1000)),
      audioBandEdges)
  }

  /** STREAMING twin of [[videoDrift]] — same shape as [[streamAudioDrift]]:
    * the 'same' and 'shift' GVID cohorts arrive as two event-time windows
    * of quantized band-luma vectors through the shared latent-drift state
    * operator; shares `video_drift`'s DuckDB oracle bit-for-bit. */
  def streamVideoDrift(s: SparkSession, dir: String): DataFrame = {
    def bandVecs(clips: org.apache.spark.sql.Dataset[graft.ops.Video.VideoClip]): DataFrame =
      Video.videoFeatures(clips).toDF()
        .select(transform(col("band_luma"),
          x => floor(x * 1000 + 0.5).cast("double")).as("latent"))
    streamBandDriftVerdicts(s, "video",
      bandVecs(Video.syntheticVideos(s, 200)),
      bandVecs(Video.syntheticVideos(s, 200, idOffset = 1000)),
      bandVecs(Video.syntheticVideos(s, 200, gain = 1.2, idOffset = 1000)),
      videoLumaEdges)
  }

  /** Integer bucket edges over the 1e-6-quantized band-RMS longs: tone-mix
    * band RMS clusters at amp·0.5385 for amp ∈ {0.35 … 0.75}, i.e. ~188k –
    * 404k micro-units at gain 1 and ~236k – 505k at gain 1.25, so these
    * edges keep every cluster ≥ 40k micro-units from a boundary — the
    * binning is dither-proof and engine-exact (pure integer compares). */
  private val audioBandEdges: Seq[Long] =
    Seq(150000L, 200000L, 250000L, 300000L, 350000L, 400000L, 450000L)

  /** HASH-ORACLED audio drift — the full multimodal drift composition with
    * a DuckDB replay: three REAL WAV cohorts are synthesized and decoded
    * (reference; a disjoint same-distribution cohort; a gain-shifted cohort
    * — the capture-chain level change a production audio feed actually
    * suffers), per-clip per-band RMS energies are quantized to exact
    * micro-unit longs and written to parquet, and per-band PSI verdicts are
    * computed over integer-edge buckets. The WAV codec itself is not
    * SQL-replayable (that is `media_audio_features`' rows-only territory),
    * but everything AFTER decode — binning, Laplace smoothing, the PSI sum,
    * the verdict — is hash-checked end to end against the oracle reading
    * the same quantized longs. Expected shape: scenario 'same' reads ~0 PSI
    * on every band, 'shift' drifts on every band. */
  def audioDrift(s: SparkSession, dir: String): DataFrame = {
    graft.util.PidPaths.cleanStaleSiblings("graft_audio_drift_")
    def bands(clips: org.apache.spark.sql.Dataset[graft.ops.Audio.AudioClip],
              cohort: String): DataFrame =
      Audio.audioFeatures(clips).toDF()
        .select(lit(cohort).as("cohort"), posexplode(col("band_rms")).as(Seq("band", "v")))
        .select(col("cohort"), col("band"),
          floor(col("v") * 1e6 + 0.5).cast("long").as("bq"))
    bandDriftVerdicts(s, audioDriftPath,
      bands(Audio.syntheticWavs(s, 200), "ref")
        .unionByName(bands(Audio.syntheticWavs(s, 200, idOffset = 1000), "same"))
        .unionByName(bands(Audio.syntheticWavs(s, 200, gain = 1.25, idOffset = 1000), "shift")),
      "bq", audioBandEdges)
  }

  /** Exact duplicate-substring spans (P33) over the injected corpus: each
    * appended near-copy shares every original 8-gram with its source, so
    * both docs' shared prefixes mark as one maximal span; the DuckDB
    * oracle replays tokenization, gram counting, and the gaps-and-islands
    * merge bit-for-bit. */
  def dupSpans(s: SparkSession, dir: String): DataFrame =
    SubstringDedup.duplicateSpans(docsWithNearDups(s, dir), "doc_id", "text")
      .orderBy(col("doc_id"), col("start_tok"))

  /** The trimmed corpus from the same spans — md5 of the rebuilt text so
    * the whole remove-and-rejoin path is hash-gated. */
  def dupSpansTrim(s: SparkSession, dir: String): DataFrame =
    SubstringDedup.trim(docsWithNearDups(s, dir), "doc_id", "text")
      .select(col("doc_id"), md5(col("text_trimmed")).as("h"))
      .orderBy(col("doc_id"))

  /** Per-doc top-5 tf-idf keywords (P42): smoothed sklearn idf, ranks on
    * the 6 dp-rounded score (cross-engine ln() ULP noise cannot flip a
    * near-tie), ties by term. minDf=2 prunes the hapax tail before the
    * idf join. */
  def tfidfKeywords(s: SparkSession, dir: String): DataFrame =
    Vocab.tfIdfTopTerms(docs(s, dir), "doc_id", "text", k = 5, minDf = 2)
      .orderBy(col("doc_id"), col("rnk"))

  /** Gap-rule sessionization at the session grain: 6 h inactivity splits
    * a user's event stream; exact integer micro durations so the DuckDB
    * lag + cumsum window replay hash-matches bit for bit. */
  def eventsSessionize(s: SparkSession, dir: String): DataFrame =
    Temporal.sessionStats(s.read.parquet(s"$dir/events.parquet"),
        "user_id", "ts", "event_id", gapSeconds = 21600L)
      .orderBy(col("user_id"), col("session_idx"))

  /** Interval join (E40): every event attributed back to its containing
    * session interval — the bucketized equi-join against the sessionStats
    * rollup (sessions are disjoint per user, so each non-null event lands
    * in exactly one). Oracled by a DuckDB BETWEEN join over the replayed
    * session intervals. */
  def eventsSessionJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = s.read.parquet(s"$dir/events.parquet")
    val sessions = Temporal.sessionStats(ev, "user_id", "ts", "event_id",
        gapSeconds = 21600L)
      .select(col("user_id"), col("session_idx"), col("first_ts"), col("last_ts"))
    Temporal.intervalJoin(
        ev.select(col("event_id"), col("user_id"), col("ts")), "ts",
        sessions, "first_ts", "last_ts",
        keyCol = Some("user_id"), bucketSeconds = 86400L)
      .select(col("event_id"), col("user_id"), col("session_idx"),
        col("first_ts"), col("last_ts"))
      .orderBy(col("event_id"))
  }

  /** As-of join: each purchase attributed to the user's latest
    * at-or-before view. Oracled by DuckDB's NATIVE `ASOF JOIN` — an
    * independent implementation of the semantics, not a replay of ours. */
  def eventsAsofView(s: SparkSession, dir: String): DataFrame = {
    val ev = s.read.parquet(s"$dir/events.parquet")
    Temporal.asofJoin(
        ev.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("ts"), col("user_id")),
        ev.filter(col("event_type") === "view")
          .select(col("event_id"), col("ts"), col("user_id")),
        "user_id", "ts", "event_id")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("r_event_id").as("view_id"), col("r_ts").as("view_ts"),
        col("gap_us"))
      .orderBy(col("purchase_id"))
  }

  /** k-sigma outliers (E21) per event_type over the heavy-tailed events
    * value column — the DuckDB oracle recomputes the per-group mean and
    * population stddev and replays the flag + rounded z-score. */
  def outlierEvents(s: SparkSession, dir: String): DataFrame = {
    val ev = s.read.parquet(s"$dir/events.parquet")
    graft.checks.Outliers.flag(ev, "value", k = 3.0, groupCols = Seq("event_type"))
      .select(col("event_id"), col("event_type"), col("value"), col("z_score"))
      .orderBy(col("event_id"))
  }

  /** Volume anomaly (E27): hourly event counts, robust median/MAD fence.
    * Every window emitted with its flag — exact-integer inputs, so the
    * whole result replays bit-for-bit in DuckDB. */
  def volumeAnomaly(s: SparkSession, dir: String): DataFrame =
    graft.checks.VolumeCheck.anomalyByTime(
        s.read.parquet(s"$dir/events.parquet"), "ts", unit = "hour", k = 3.5)
      .orderBy(col("w"))

  /** Functional dependency (E28): o_custkey → o_orderpriority violations —
    * a deliberately non-FD pair, so the violation report is dense and the
    * NULL-as-value + witness semantics are exercised at table scale. */
  def fdOrders(s: SparkSession, dir: String): DataFrame =
    graft.checks.ConstraintChecks.functionalDependency(
        s.read.parquet(s"$dir/orders.parquet"),
        lhs = Seq("o_custkey"), rhs = "o_orderpriority")
      .orderBy(col("o_custkey"))

  def eventsStreamDrift(s: SparkSession, dir: String): DataFrame =
    StreamingOps.runDriftStream(s, s"$dir/events.parquet",
        refProps = Array.fill(10)(0.1), windowDuration = "1 day",
        queryName = s"stream_drift_${System.nanoTime()}")
      .select(col("event_type"), col("window_start"), col("n"),
        round(col("psi"), 6).as("psi"), col("is_drift"))
      .orderBy(col("event_type"), col("window_start"))

  /** Streaming exact dedup: the harness feeds every event TWICE (two staged
    * copies in separate micro-batches); the state-store dedup must emit each
    * exactly once, so the aggregate equals the single-copy batch oracle. */
  def eventsStreamDedup(s: SparkSession, dir: String): DataFrame =
    StreamingOps.runDedupStream(s, s"$dir/events.parquet",
        queryName = s"stream_dedup_${System.nanoTime()}")
      .orderBy(col("event_type"))

  /** Bounded-state streaming dedup (`dropDuplicatesWithinWatermark`): the
    * production variant — keys evicted once the watermark passes. The
    * harness feeds every time-slice TWICE in adjacent micro-batches; the
    * watermark spans 3 slices so duplicates are suppressed in state while
    * older keys genuinely evict. Same single-copy oracle as the
    * keep-forever variant. */
  def eventsStreamDedupWm(s: SparkSession, dir: String): DataFrame =
    StreamingOps.runDedupStreamBounded(s, s"$dir/events.parquet",
        queryName = s"stream_dedup_wm_${System.nanoTime()}")
      .orderBy(col("event_type"))

  /** STREAMING gap-rule sessions via native session_window state merging:
    * append-mode rows land exactly once when the watermark closes each
    * session; the oracle replays the gap rule as lag + cumsum windows —
    * the same `diff > gap` boundary as the batch `events_sessionize`
    * (touching ranges merge; spec-pinned on an exact-gap fixture). */
  def eventsStreamSessions(s: SparkSession, dir: String): DataFrame =
    StreamingOps.runSessionStream(s, s"$dir/events.parquet", gap = "6 hours",
        queryName = s"stream_sessions_${System.nanoTime()}")
      .orderBy(col("user_id"), col("first_ts"))

  /** STREAMING as-of join over a time-ordered out-of-order-within-delay
    * sliced feed: final-only exactly-once matches equal the batch
    * operator, so the batch query's native-ASOF oracle is reused
    * verbatim. */
  def eventsStreamAsof(s: SparkSession, dir: String): DataFrame =
    StreamingOps.runAsofStream(s, s"$dir/events.parquet",
        leftType = "purchase", rightType = "view",
        queryName = s"stream_asof_${System.nanoTime()}")
      .select(col("user_id"), col("purchase_id"), col("view_id"),
        col("view_ts"), col("gap_us"))
      .orderBy(col("purchase_id"))

  /** STREAMING near-dup dedup over the injected near-dup corpus, staged as
    * an id-ordered 4-slice file stream: every doc that is a verified
    * near-dup (exact Jaccard ≥ 0.5) of ANY earlier-arriving doc is dropped
    * — cross-micro-batch via the persisted partition-pruned band index,
    * within-batch via the band self-join. Same corpus and LSH params as
    * `dedup_minhash_pairs`, so candidate recall is full and the survivor
    * set equals the SQL predicate "no smaller-id doc within Jaccard 0.5" —
    * DuckDB-oracled. */
  def streamNearDupDedup(s: SparkSession, dir: String): DataFrame =
    StreamingOps.runNearDupDedupStream(s, docsWithNearDups(s, dir),
        "doc_id", "text", threshold = 0.5, slices = 4,
        tag = s"q${System.nanoTime()}")
      .select(col("doc_id"), col("text"))
      .orderBy(col("doc_id"))

  /** Streaming decontamination: the corpus arrives as hash-split
    * micro-batches; each is gated against the STATIC eval set (every 20th
    * doc). The gate is per-row against a fixed shingle union, so survivors
    * are batch-boundary invariant and the query shares
    * `decontaminate_drop`'s oracle predicate. */
  def streamDecontaminate(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    StreamingOps.runDecontaminateStream(s, d.select(col("doc_id"), col("lang"), col("text")),
        "doc_id", "text", d.filter(col("doc_id") % 20 === 0), "text",
        shingleN = 3, slices = 3, tag = s"q${System.nanoTime()}")
      .select(col("doc_id"), col("lang"))
      .orderBy(col("doc_id"))
  }

  /** Streaming token-distribution drift (E23 twin): the odd-doc corpus
    * arrives as two event-time windows — hour 0 unchanged ("same"), hour 1
    * with injected "spark"-mass ("shift") — scored per window against the
    * even-doc reference vocabulary. Finals are bit-identical to the batch
    * scorer (spec-asserted), so the oracle replays the same PSI formula. */
  def streamTokenDrift(s: SparkSession, dir: String): DataFrame = {
    import java.nio.file.Files
    val d = docs(s, dir)
    val ref = d.filter(col("doc_id") % 2 === 0)
    val cur = d.filter(col("doc_id") % 2 =!= 0)
    val vocab = Vocab.build(ref, "text", topN = 16)
    val refCounts = Vocab.bucketCountVector(ref, "text", vocab, topN = 16)
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val staged = Files.createTempDirectory("graft-token-q")
    Seq(
      cur.select(lit(base).as("ts"), col("text")),
      cur.select(lit(new java.sql.Timestamp(base.getTime + 3600000L)).as("ts"),
        concat(col("text"), lit(" spark spark spark spark")).as("text"))
    ).zipWithIndex.foreach { case (df, i) =>
      val tmp = Files.createTempDirectory("graft-token-slice")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val ls = Files.list(tmp)
      val part = try ls.filter(_.toString.endsWith(".parquet")).findFirst().get()
        finally ls.close()
      Files.copy(part, staged.resolve(f"w$i%02d.parquet"))
      try { import scala.sys.process._; Seq("rm", "-rf", tmp.toString).! }
      catch { case _: Throwable => }
    }
    val out = StreamingOps.runTokenDriftStream(s, staged.toString, vocab,
        refCounts, threshold = 0.05,
        queryName = s"stream_token_${System.nanoTime()}")
      .select(
        when(col("window_start") === lit(base), lit("same")).otherwise(lit("shift"))
          .as("scenario"),
        col("n"), col("psi"), col("is_drift"))
      .orderBy(col("scenario"))
    try { import scala.sys.process._; Seq("rm", "-rf", staged.toString).! }
    catch { case _: Throwable => }
    out
  }

  def eventsStreamHourly(s: SparkSession, dir: String): DataFrame =
    StreamingOps.runFileStream(s, s"$dir/events.parquet",
        queryName = s"stream_out_${System.nanoTime()}")
      .orderBy(col("hr"), col("event_type"))

  /** Streaming novel-category alarm over the events stream: the declared
    * contract is the four business types — the synthetic feed also emits
    * 'error', so every window with error traffic alarms. Oracled by a
    * DuckDB batch replay of the same windowed NOT-IN count. */
  def streamNovelTypes(s: SparkSession, dir: String): DataFrame =
    StreamingOps.runNovelTypesStream(s, s"$dir/events.parquet",
        Seq("click", "purchase", "signup", "view"),
        queryName = s"novel_stream_${System.nanoTime()}")
      .orderBy(col("window_start"), col("event_type"))

  /** Line-structured corpus for the line-dedup family (the raw docs are
    * single-line word soup): each doc rebuilt as 7-token lines, every doc
    * prefixed with a shared boilerplate header, every 3rd doc suffixed
    * with a footer whose case/whitespace varies (exercising the
    * normalized-key merge) — the CCNet use case, deterministically
    * planted. DuckDB rebuilds the identical corpus. */
  private def lineCorpus(s: SparkSession, dir: String): DataFrame = {
    val toks = TextOps.tokens(col("text"))
    val body = transform(sequence(lit(0), ((size(toks) - 1) / 7).cast("int")),
      i => array_join(slice(toks, i * 7 + 1, lit(7)), " "))
    val hdr = array(lit("shared corpus license header"))
    val ftr = when(col("doc_id") % 6 === 0,
        array(lit("GENERATED BY THE CORPUS  EXPORTER")))
      .when(col("doc_id") % 3 === 0,
        array(lit("generated by the corpus exporter")))
      .otherwise(array().cast("array<string>"))
    docs(s, dir).select(col("doc_id"),
      array_join(concat(hdr, body, ftr), "\n").as("text"))
  }

  /** Duplicated-line census (P34): the planted header appears in every
    * doc, the footer (both case variants, merged by the normalized key)
    * in every 3rd — the oracle replays normalization, hashing, counting,
    * and the min-witness pick. */
  def lineDedupStats(s: SparkSession, dir: String): DataFrame =
    LineDedup.lineStats(lineCorpus(s, dir), "doc_id", "text")
      .orderBy(col("line"))

  /** CCNet keep-first line dedup: the doc-0 copies of header/footer
    * survive, every other occurrence drops; md5 of the rebuilt text gates
    * the whole explode→count→join→rebuild path. */
  def lineDedupKeepFirst(s: SparkSession, dir: String): DataFrame =
    LineDedup.dedupLines(lineCorpus(s, dir), "doc_id", "text")
      .select(col("doc_id"), md5(col("text")).as("h"))
      .orderBy(col("doc_id"))

  /** MassiveText-style purge: EVERY occurrence of a repeated line drops. */
  def lineDedupDropAll(s: SparkSession, dir: String): DataFrame =
    LineDedup.dedupLines(lineCorpus(s, dir), "doc_id", "text", keepFirst = false)
      .select(col("doc_id"), md5(col("text")).as("h"))
      .orderBy(col("doc_id"))

  /** Top-50 corpus vocabulary with deterministic ranks (P35). */
  def vocabTop(s: SparkSession, dir: String): DataFrame =
    Vocab.build(docs(s, dir), "text", topN = 50)
      .select(col("token"), col("cnt"), col("rank"))
      .orderBy(col("rank"))

  /** Vocabulary coverage: top-30 vocab from the even-doc half, coverage
    * measured over the odd-doc half — exact integer counts. */
  def vocabCoverage(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val vocab = Vocab.build(d.filter(col("doc_id") % 2 === 0), "text", topN = 30)
    Vocab.coverage(d.filter(col("doc_id") % 2 =!= 0), "text", vocab)
  }

  /** Stupid-Backoff bigram LM (P38): trained on the documents corpus at
    * minCount=2, every doc scored against it — per-doc token count, log10
    * prob sum, and per-token avg, all DuckDB-replayed (counts are exact
    * integers; the scores are deterministic log/ratio arithmetic over
    * them). `ppl` stays out of the oracle projection: 10^(−avg) amplifies
    * the last-ulp pow difference past 4-dp rounding on unseen-heavy docs;
    * the spec covers it. */
  def lmScore(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val lm = LangModel.train(d, "text", minCount = 2)
    LangModel.scoreDocs(d, "doc_id", "text", lm)
      .select(col("doc_id"), col("n_tokens"),
        round(col("logprob_sum"), 6).as("lp_sum"),
        round(col("avg_logprob"), 6).as("avg_lp"))
      .orderBy(col("doc_id"))
  }

  /** The perplexity gate (CCNet keep-the-head rule) at maxPpl=2000 over
    * the same model — survivor doc_ids. */
  def lmGate(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val lm = LangModel.train(d, "text", minCount = 2)
    LangModel.gateByPerplexity(d, "doc_id", "text", lm, maxPpl = 2000.0)
      .select(col("doc_id")).orderBy(col("doc_id"))
  }

  /** Streaming twin of the perplexity gate: the same model trained on the
    * static corpus, the arriving corpus gated per micro-batch — survivors
    * must equal the batch gate's, so it shares `lm_gate`'s oracle. */
  def streamLmGate(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val lm = LangModel.train(d, "text", minCount = 2)
    StreamingOps.runLmGateStream(s, d.select(col("doc_id"), col("text")),
        "doc_id", "text", lm, maxPpl = 2000.0, slices = 3,
        tag = s"q${System.nanoTime()}")
      .select(col("doc_id")).orderBy(col("doc_id"))
  }

  /** Token-distribution drift (E23): even docs are the reference window;
    * odd docs with injected "spark"-mass are production. The oracle
    * replays vocab build, bucket counts, and the Laplace-smoothed PSI
    * (shared formula with `latent_drift`); the chi-squared leg is
    * spec-tested (DuckDB has no incomplete gamma — same split as
    * `chi2_returnflag_years`). */
  def tokenDriftQuery(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val ref = d.filter(col("doc_id") % 2 === 0)
    val prod = d.filter(col("doc_id") % 2 =!= 0)
      .select(concat(col("text"), lit(" spark spark spark spark")).as("text"))
    Vocab.tokenDrift(ref, prod, "text", topN = 16)
      .select(col("rank"), col("token"), col("ref_cnt"), col("prod_cnt"),
        col("psi"), (col("psi") > 0.2).as("is_drift_psi"))
      .orderBy(col("rank"))
  }

  /** Canonical text normalization (P36) over a corpus with injected
    * accents / case / control chars / ragged whitespace — md5 of the
    * normalized form gates every step cross-engine. */
  def normalizeTextQuery(s: SparkSession, dir: String): DataFrame = {
    val messy = docs(s, dir).select(col("doc_id"),
      concat(lit("  Café ÜBER\tnaïve \n "), col("text"),
        lit("  ÉLÈVE  ")).as("text"))
    messy.select(col("doc_id"),
        md5(TextOps.normalizeText(col("text"))).as("h"))
      .orderBy(col("doc_id"))
  }

  /** Corpus composition report over (source, lang): exact-integer doc/
    * token/quality-mass accounting from one TextProfile pass. */
  def corpusReport(s: SparkSession, dir: String): DataFrame =
    TextOps.corpusReport(docs(s, dir), "source", "text")
      .orderBy(col("source"), col("lang"))

  /** HTML extraction (P40): every doc wrapped in a deterministic HTML
    * template exercising the full strip surface — a comment containing a
    * tag, paired `<style>`/`<script>` blocks (the script body holds `<`,
    * `&&` and a fake `</p>` closer), entities incl. double-encoded
    * `&amp;lt;` (must decode ONE level, to literal `&lt;`), `&nbsp;`, and
    * block/inline tags; docs with doc_id % 7 == 0 additionally get an
    * UNCLOSED trailing `<script>` opener whose raw-JS tail must drop to
    * EOF. Result = md5 of the extracted visible text per doc. */
  def htmlExtract(s: SparkSession, dir: String): DataFrame = {
    val wrapped = docs(s, dir).select(col("doc_id"), concat(
      lit("<html><head><title>T &amp; U</title>" +
        "<style media=\"all\">p { color: red; }</style>" +
        "<script type=\"text/javascript\">var x = 1 < 2 && \"</p>\";</script>" +
        "</head><body><!-- nav <p> skip --><h1>Doc &lt;#</h1><p>"),
      col("text"),
      lit("</p><br>tail&nbsp;&amp;lt;end&#39;s&quot;</body></html>"),
      when(col("doc_id") % 7 === 0,
        "<script>var trailing = 'never visible'").otherwise("")).as("text"))
    wrapped.select(col("doc_id"),
        md5(TextOps.extractHtmlText(col("text"))).as("h"))
      .orderBy(col("doc_id"))
  }

  /** Compaction PLAN (E24) over file metadata synthesized from the docs
    * table (one "file" per doc: part = doc_id%4, bytes = n_chars — real
    * file listings aren't SQL-visible; the binning math is what's under
    * test). smallBytes=400 leaves the large-doc quartile as keeps;
    * targetBytes=1500 bins the rest by running-sum start offset. The
    * EXECUTION path (read→coalesce→atomic dir swap→manifest commit) is
    * spec-tested on a real SnapshotCatalog table (CompactionSpec). */
  def compactionPlan(s: SparkSession, dir: String): DataFrame = {
    val files = docs(s, dir).select(
      (col("doc_id") % 4).cast("int").as("part"),
      concat(lit("f"), lpad(col("doc_id").cast("string"), 8, "0")).as("file"),
      col("n_chars").as("bytes"))
    graft.engine.Compaction.plan(files, targetBytes = 1500L, smallBytes = 400L)
      .orderBy(col("part"), col("file"))
  }

  /** BPE tokenizer training (P37): 8 merges over the docs corpus — the
    * merge table itself is the result. The DuckDB oracle replays the
    * ENTIRE derivation with the 8 rounds unrolled: word counts, symbol
    * init, weighted pair counts, the (count DESC, pair ASC) argmax, and
    * the padded literal-replace application. */
  def bpeMerges(s: SparkSession, dir: String): DataFrame =
    Bpe.train(docs(s, dir), "text", numMerges = 8).orderBy(col("merge_rank"))

  /** BPE encoding with the trained table: per-doc subword count + md5 of
    * the subword sequence — the apply path hash-gated end to end. */
  def bpeEncode(s: SparkSession, dir: String): DataFrame = {
    val merges = Bpe.train(docs(s, dir), "text", numMerges = 8)
      .orderBy(col("merge_rank")).collect().map(_.getString(1)).toSeq
    Bpe.encode(docs(s, dir).select(col("doc_id"), col("text")), "text", merges)
      .select(col("doc_id"), size(col("subwords")).as("n_subwords"),
        md5(array_join(col("subwords"), " ")).as("h"))
      .orderBy(col("doc_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "compaction_plan" -> (compactionPlan _),
    "bpe_merges" -> (bpeMerges _),
    "bpe_encode" -> (bpeEncode _),
    "dedup_exact_stats" -> (dedupExactStats _),
    "dedup_exact_groups" -> (dedupExactGroups _),
    "dedup_exact_drop" -> (dedupExactDrop _),
    "argmax_predict" -> (argmaxPredict _),
    "model_accuracy" -> (modelAccuracy _),
    "slice_accuracy" -> ((s: SparkSession, dir: String) => sliceAccuracy(s, dir)),
    "calibration_report" -> ((s: SparkSession, dir: String) => calibrationReport(s, dir)),
    "text_stats" -> (textStats _),
    "lang_distribution" -> (langDistribution _),
    "sample_fraction" -> (sampleFraction _),
    "sample_mix_lang" -> (sampleMixLang _),
    "sample_temperature" -> (sampleTemperature _),
    "sample_temperature_wf" -> (sampleTemperatureWaterfill _),
    "sample_upsample" -> (sampleUpsample _),
    "curriculum_order" -> (curriculumOrder _),
    "zorder_value" -> (zorderValue _),
    "pack_sequences" -> (packSequences _),
    "repetition_stats" -> (repetitionStatsQuery _),
    "decontaminate_report" -> (decontaminateReport _),
    "decontaminate_drop" -> (decontaminateDrop _),
    "decon_bloom" -> (deconBloom _),
    "dsir_select" -> (dsirSelect _),
    "dedup_emb_cc" -> (dedupEmbCc _),
    "ingest_jsonl" -> (ingestJsonl _),
    "ingest_csv" -> (ingestCsv _),
    "sample_quota_lang" -> (sampleQuotaLang _),
    "sample_token_budget" -> (sampleTokenBudget _),
    "sample_split" -> (sampleSplit _),
    "fingerprint_md5" -> (fingerprintMd5 _),
    "similarity_topk" -> (similarityTopK _),
    "dedup_minhash_pairs" -> (minhashLshPairs _),
    "dedup_ngram_jaccard_pairs" -> (ngramJaccardPairs _),
    "dedup_simhash_pairs" -> (simhashPairs _),
    "dedup_emb_cosine" -> (embCosineDups _),
    "ann_lsh_topk" -> (annLshTopK _),
    "ann_lsh_indexed" -> (annLshIndexed _),
    "ann_lsh_batch" -> (annLshBatch _),
    "ann_ivf_topk" -> (annIvfTopK _),
    "ann_ivf_exact" -> (annIvfExact _),
    "ann_ivfpq_topk" -> (annIvfPqTopK _),
    "ann_pq_exact" -> (annPqExact _),
    "knn_join" -> (knnJoin _),
    "knn_join_exact" -> (knnJoinExact _),
    "ann_lsh_exact" -> (annLshExact _),
    "lang_id_detect" -> (langIdDetect _),
    "classifier_scores" -> (classifierScores _),
    "dimred_project" -> (dimredProject _),
    "dimred_topk" -> (dimredTopK _),
    "latent_drift" -> (latentDrift _),
    "stream_latent_drift" -> (streamLatentDrift _),
    "decon_embedding" -> (deconEmbedding _),
    "schema_contract" -> (schemaContract _),
    "pii_scrub" -> (piiScrub _),
    "curation_pipeline" -> (curationPipeline _),
    "curation_near_dup" -> (curationNearDup _),
    "curation_cc" -> (curationCc _),
    "curation_cc_quality" -> (curationCcQuality _),
    "curation_decon" -> (curationDecon _),
    "curation_staged" -> (curationStaged _),
    "dedup_cc_components" -> (dedupCcComponents _),
    "quality_scores" -> (qualityScores _),
    "fingerprint_rolling" -> (fingerprintRolling _),
    "media_features" -> (mediaFeatures _),
    "media_frame_sample" -> (mediaFrameSample _),
    "media_decode" -> (mediaDecode _),
    "media_audio_features" -> (mediaAudioFeatures _),
    "media_audio_windows" -> (mediaAudioWindows _),
    "audio_near_dup" -> (audioNearDup _),
    "audio_drift" -> (audioDrift _),
    "stream_audio_drift" -> (streamAudioDrift _),
    "media_video_features" -> (mediaVideoFeatures _),
    "media_integrity" -> (mediaIntegrity _),
    "media_integrity_report" -> (mediaIntegrityReport _),
    "ref_media_integrity" -> (refMediaIntegrity _),
    "stream_media_integrity" -> (streamMediaIntegrity _),
    "ref_kind_consistency" -> (refKindConsistency _),
    "render_docs" -> (renderDocs _),
    "chunk_tokens" -> (chunkTokens _),
    "video_scene_cuts" -> (videoSceneCuts _),
    "video_near_dup" -> (videoNearDup _),
    "video_drift" -> (videoDrift _),
    "stream_video_drift" -> (streamVideoDrift _),
    "image_near_dup" -> (imageNearDup _),
    "outlier_events" -> (outlierEvents _),
    "volume_anomaly" -> (volumeAnomaly _),
    "fd_orders" -> (fdOrders _),
    "tfidf_keywords" -> (tfidfKeywords _),
    "events_sessionize" -> (eventsSessionize _),
    "events_session_join" -> (eventsSessionJoin _),
    "events_asof_view" -> (eventsAsofView _),
    "dup_spans" -> (dupSpans _),
    "dup_spans_trim" -> (dupSpansTrim _),
    "line_dedup_stats" -> (lineDedupStats _),
    "line_dedup_keep_first" -> (lineDedupKeepFirst _),
    "line_dedup_drop_all" -> (lineDedupDropAll _),
    "vocab_top" -> (vocabTop _),
    "vocab_coverage" -> (vocabCoverage _),
    "token_drift" -> (tokenDriftQuery _),
    "normalize_text" -> (normalizeTextQuery _),
    "html_extract" -> (htmlExtract _),
    "corpus_report" -> (corpusReport _),
    "lm_score" -> (lmScore _),
    "lm_gate" -> (lmGate _),
    "stream_lm_gate" -> (streamLmGate _),
    "events_stream_hourly" -> (eventsStreamHourly _),
    "stream_decontaminate" -> (streamDecontaminate _),
    "events_stream_dedup" -> (eventsStreamDedup _),
    "stream_near_dup_dedup" -> (streamNearDupDedup _),
    "events_stream_dedup_wm" -> (eventsStreamDedupWm _),
    "events_stream_sessions" -> (eventsStreamSessions _),
    "events_stream_asof" -> (eventsStreamAsof _),
    "stream_token_drift" -> (streamTokenDrift _),
    "stream_novel_types" -> (streamNovelTypes _),
    "events_stream_drift" -> (eventsStreamDrift _))

  /** Exact n-gram-Jaccard ground truth over the injected near-dup corpus —
    * the shared oracle for the three text near-dup operators. DuckDB replays
    * the engine's shingling exactly (lowercase whitespace tokens → distinct
    * 3-gram joins; short docs collapse to one whole-text shingle), builds
    * the same inverted-index posting join, and applies the same rounded
    * Jaccard cutoff. MinHash-LSH and SimHash-chunk candidate generation both
    * achieve full recall on this corpus (perturbed copies are near-identical,
    * so band-collision/chunk-equality is certain), and both verify
    * candidates with exact Jaccard — so all three operators' outputs equal
    * this ground truth, making the LSH family hash-checkable. */
  /** Shared CTE block: the injected near-dup corpus + the engine-identical
    * shingling + inverted-index exact-Jaccard pair computation (CTE `i`).
    * Single source for every oracle that needs exact pairs — a shingling
    * fix here propagates to all of them. */
  private val nearDupPairCtes: String =
    """WITH corpus AS (
         SELECT doc_id, text FROM documents
         UNION ALL
         SELECT doc_id + 1000000, text || ' perturbed'
         FROM documents WHERE doc_id % 25 = 0),
       tk AS (
         SELECT doc_id,
           list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS toks
         FROM corpus),
       sh AS (
         SELECT doc_id,
           CASE WHEN len(toks) < 3 THEN list_distinct([array_to_string(toks, ' ')])
                ELSE list_distinct(list_transform(range(len(toks) - 2), i ->
                    array_to_string(toks[i+1:i+3], ' ')))
           END AS s_list
         FROM tk),
       posting AS (
         SELECT doc_id AS id, len(s_list) AS n, unnest(s_list) AS s
         FROM sh WHERE len(s_list) > 0),
       i AS (
         SELECT a.id AS id_a, b.id AS id_b, a.n AS n_a, b.n AS n_b,
           CAST(count(*) AS DOUBLE) AS inter
         FROM posting a JOIN posting b ON a.s = b.s AND a.id < b.id
         GROUP BY 1, 2, 3, 4)"""

  private val nearDupJaccardSql: String = nearDupPairCtes +
    """
       SELECT id_a, id_b, round(inter / (n_a + n_b - inter), 6) AS jaccard
       FROM i WHERE round(inter / (n_a + n_b - inter), 6) >= 0.5
       ORDER BY id_a, id_b"""

  /** Shared gate CTEs (quality score + language id over (doc_id, text) rows
    * of `src`) and the final gated select — single source for the two
    * curation oracles. */
  private def gateCtes(src: String): String =
    s"""t AS (
         SELECT doc_id, text,
           len(list_filter(string_split_regex(lower(text), '\\s+'), x -> len(x) > 0)) AS n_tokens,
           length(regexp_replace(text, '\\s+', '', 'g')) AS nosp,
           len(list_filter(string_split_regex(lower(text), '\\s+'),
               x -> list_contains(['the','a','of','and','to','in','is','it','that','for'], x))) AS n_stop,
           length(regexp_replace(text, '[^!-/:-@\\[-`{-~]', '', 'g')) AS punct
         FROM $src),
       q AS (
         SELECT doc_id,
           CAST(floor(( least(greatest(n_tokens,1) / 64.0, 1.0)*0.3
                + least((n_stop * 1.0 / greatest(n_tokens,1))*5.0, 1.0)*0.25
                + greatest(1.0 - (punct * 1.0 / greatest(length(text),1))*5.0, 0.0)*0.25
                + (CASE WHEN (nosp * 1.0 / greatest(n_tokens,1)) BETWEEN 2.5 AND 9.0
                        THEN 1.0 ELSE 0.4 END)*0.2) * 1000000) AS BIGINT) AS quality_micros,
           n_tokens
         FROM t),
       lt AS (SELECT doc_id,
           list_filter(string_split_regex(lower(text), '\\s+'), x -> len(x)>0) AS toks,
           length(text) AS L,
           length(regexp_replace(text, '[^\\x{4E00}-\\x{9FFF}]', '', 'g')) AS cjk
         FROM $src),
       ls AS (SELECT doc_id,
         cjk*1.0/greatest(L,1) AS cjk_ratio,
         greatest(len(toks),1)*1.0 AS n,
         len(list_filter(toks, x -> list_contains(['the','and','of','to','in','is','it','that','was','for','with','as'], x)))*1.0 AS en,
         len(list_filter(toks, x -> list_contains(['el','la','de','que','y','en','los','del','las','por','un','una'], x)))*1.0 AS es,
         len(list_filter(toks, x -> list_contains(['der','die','und','das','von','zu','mit','den','ist','des','im','ein'], x)))*1.0 AS de,
         len(list_filter(toks, x -> list_contains(['le','la','de','et','les','des','en','un','une','du','est','que'], x)))*1.0 AS fr
        FROM lt),
       lid AS (SELECT doc_id,
        CASE WHEN cjk_ratio > 0.2 THEN 'zh'
             WHEN greatest(en,es,de,fr)/n >= 0.05 THEN
               CASE WHEN en >= greatest(es,de,fr) THEN 'en'
                    WHEN es >= greatest(de,fr) THEN 'es'
                    WHEN de >= fr THEN 'de' ELSE 'fr' END
             ELSE 'und' END AS lang
        FROM ls)"""

  private val gateSelect: String =
    """
       SELECT q.doc_id, lid.lang, q.quality_micros, q.n_tokens
       FROM q JOIN lid ON lid.doc_id = q.doc_id
       WHERE q.quality_micros >= 500000
         AND lid.lang IN ('en','es','de','fr','zh')
       ORDER BY q.doc_id"""

  /** Oracle for the near-dup curation: the shared exact-Jaccard pair CTEs,
    * then smaller-id-wins drop, then the shared quality/language gates over
    * the survivors — the engine's whole composed plan replayed in SQL. */
  private val curationNearDupSql: String = nearDupPairCtes +
    """,
       dropped AS (
         SELECT DISTINCT id_b FROM i
         WHERE round(inter / (n_a + n_b - inter), 6) >= 0.5),
       surv AS (
         SELECT doc_id, text FROM corpus
         WHERE doc_id NOT IN (SELECT id_b FROM dropped)),
       """ + gateCtes("surv") + gateSelect

  /** Shared recursive-CTE connected components over the exact-Jaccard pair
    * set: undirected edges → reachability closure (set-semantics UNION
    * terminates) → component = min reachable id (incl. self). The
    * declarative twin of the engine's large-star/small-star loop. */
  private val ccCtes: String =
    nearDupPairCtes.replaceFirst("WITH ", "WITH RECURSIVE ") +
      """,
       p AS (
         SELECT id_a, id_b FROM i
         WHERE round(inter / (n_a + n_b - inter), 6) >= 0.5),
       e AS (SELECT id_a AS u, id_b AS v FROM p
             UNION SELECT id_b, id_a FROM p),
       reach(u, v) AS (
         SELECT u, v FROM e
         UNION
         SELECT r.u, e2.v FROM reach r JOIN e e2 ON r.v = e2.u),
       cc AS (
         SELECT u AS id, least(u, min(v)) AS component FROM reach GROUP BY u)"""

  private val dedupCcComponentsSql: String = ccCtes +
    """
       SELECT id AS doc_id, component FROM cc ORDER BY doc_id"""

  /** Shared CTE block for the embedding near-dup family: the injected
    * scaled-copy corpus + exact all-pairs cosine (fold order matches the
    * engine's left-fold aggregate exactly). */
  private val embPairCtes: String =
    """WITH corpus AS (
           SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
           UNION ALL
           SELECT vec_id + 1000000,
             list_transform(CAST(embedding AS DOUBLE[]), x -> x * 1.001)
           FROM embeddings WHERE vec_id % 25 = 0),
         pairs AS (
           SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             list_reduce(list_prepend(0.0, list_transform(range(len(a.emb)),
                 k -> a.emb[CAST(k AS INT) + 1] * b.emb[CAST(k AS INT) + 1])),
               (acc, v) -> acc + v) AS dot,
             sqrt(list_reduce(list_prepend(0.0, list_transform(a.emb, x -> x * x)),
               (acc, v) -> acc + v)) AS na,
             sqrt(list_reduce(list_prepend(0.0, list_transform(b.emb, x -> x * x)),
               (acc, v) -> acc + v)) AS nb
           FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id)"""

  /** Recursive transitive closure over the >= 0.98 exact-cosine pairs —
    * the declarative twin of the engine's CC loop on the embedding graph. */
  private val dedupEmbCcSql: String =
    embPairCtes.replaceFirst("WITH ", "WITH RECURSIVE ") +
      """,
       pp AS (SELECT id_a, id_b FROM pairs
              WHERE round(dot / (na * nb), 6) >= 0.98),
       e AS (SELECT id_a AS u, id_b AS v FROM pp
             UNION SELECT id_b, id_a FROM pp),
       reach(u, v) AS (
         SELECT u, v FROM e
         UNION
         SELECT r.u, e2.v FROM reach r JOIN e e2 ON r.v = e2.u),
       cc AS (
         SELECT u AS id, least(u, min(v)) AS component FROM reach GROUP BY u)
       SELECT id AS vec_id, component FROM cc ORDER BY vec_id"""

  /** Engine-identical shingling + posting list over `src` (which must have
    * (doc_id, text)), with caller-chosen CTE names so several corpora can
    * be shingled in one oracle query. */
  private def shinglePosting(src: String, tk: String, sh: String,
                             post: String): String =
    s"""$tk AS (
         SELECT doc_id,
           list_filter(string_split_regex(lower(text), '\\s+'), x -> len(x) > 0) AS toks
         FROM $src),
       $sh AS (
         SELECT doc_id,
           CASE WHEN len(toks) < 3 THEN list_distinct([array_to_string(toks, ' ')])
                ELSE list_distinct(list_transform(range(len(toks) - 2), i ->
                    array_to_string(toks[i+1:i+3], ' ')))
           END AS s_list
         FROM $tk),
       $post AS (
         SELECT doc_id AS id, unnest(s_list) AS s
         FROM $sh WHERE len(s_list) > 0)"""

  /** Shared CTE block for decontamination: engine-identical shingling over
    * the PLAIN documents table (no injected corpus), the per-doc posting
    * list, and the eval-set (doc_id % 20 = 0) distinct shingle union. */
  private val deconCtes: String =
    "WITH " + shinglePosting("documents", "tk", "sh", "p") +
      """,
       b AS (SELECT DISTINCT s FROM p WHERE id % 20 = 0)"""

  /** The full-pipeline oracle: exact-Jaccard near-dup drop over the
    * injected corpus, then decontamination of the survivors against the
    * eval union (every 20th ORIGINAL doc), then the shared gates — every
    * engine stage replayed declaratively. */
  private val curationDeconSql: String = nearDupPairCtes +
    """,
       dropped AS (
         SELECT DISTINCT id_b FROM i
         WHERE round(inter / (n_a + n_b - inter), 6) >= 0.5),
       surv AS (
         SELECT doc_id, text FROM corpus
         WHERE doc_id NOT IN (SELECT id_b FROM dropped)),
       """ +
    shinglePosting("surv", "stk", "ssh", "sp") + """,
       """ +
    shinglePosting("(SELECT doc_id, text FROM documents WHERE doc_id % 20 = 0)",
      "btk", "bsh", "bp") + """,
       b AS (SELECT DISTINCT s FROM bp),
       dsurv AS (
         SELECT doc_id, text FROM surv
         WHERE doc_id NOT IN (SELECT DISTINCT sp.id FROM sp JOIN b USING (s))),
       """ + gateCtes("dsurv") + gateSelect

  private val curationCcSql: String = ccCtes +
    """,
       dropped AS (SELECT id FROM cc WHERE id <> component),
       surv AS (
         SELECT doc_id, text FROM corpus
         WHERE doc_id NOT IN (SELECT id FROM dropped)),
       """ + gateCtes("surv") + gateSelect

  /** Oracle for the QUALITY-policy CC curation: components over the same
    * pair closure, survivor = row_number()=1 by (quality DESC, id ASC)
    * within each component (the window twin of the engine's min-struct
    * pick), then the shared gates. The gate CTEs run over the full corpus
    * here (pure per-doc projections — filtering to survivors at the final
    * select is equivalent and avoids a second CTE instantiation). */
  private val curationCcQualitySql: String = ccCtes + ",\n" +
    gateCtes("corpus") +
    """,
       ccsurv AS (
         SELECT cc.component, cc.id
         FROM cc JOIN q ON q.doc_id = cc.id
         QUALIFY row_number() OVER (PARTITION BY cc.component
           ORDER BY q.quality_micros DESC, cc.id ASC) = 1),
       ccdropped AS (
         SELECT id FROM cc WHERE id NOT IN (SELECT id FROM ccsurv))
       SELECT q.doc_id, lid.lang, q.quality_micros, q.n_tokens
       FROM q JOIN lid ON lid.doc_id = q.doc_id
       WHERE q.quality_micros >= 500000
         AND lid.lang IN ('en','es','de','fr','zh')
         AND q.doc_id NOT IN (SELECT id FROM ccdropped)
       ORDER BY q.doc_id"""

  /** Shared CTE block for the exact duplicate-substring oracles: the
    * injected corpus, the engine-identical tokenization, 8-gram positions,
    * the ≥2 corpus-wide gram flag, and the gaps-and-islands span merge —
    * the full [[SubstringDedup.duplicateSpans]] pipeline in SQL. */
  private val dupSpanCtes: String =
    """WITH corpus AS (
         SELECT doc_id, text FROM documents
         UNION ALL
         SELECT doc_id + 1000000, text || ' perturbed'
         FROM documents WHERE doc_id % 25 = 0),
       tk AS (
         SELECT doc_id,
           list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS toks
         FROM corpus),
       gg AS (
         SELECT doc_id, u.pos AS pos, u.g AS g FROM (
           SELECT doc_id, unnest(list_transform(range(len(toks) - 7),
             i -> struct_pack(pos := i,
               g := substr(md5(array_to_string(toks[i+1:i+8], ' ')), 1, 16)))) AS u
           FROM tk WHERE len(toks) >= 8) t),
       dup AS (SELECT g FROM gg GROUP BY g HAVING count(*) >= 2),
       m AS (SELECT doc_id, pos FROM gg JOIN dup USING (g)),
       pe AS (SELECT doc_id, pos,
                max(pos + 8) OVER (PARTITION BY doc_id ORDER BY pos
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
              FROM m),
       isl AS (SELECT doc_id, pos,
                 sum(CASE WHEN prev_end IS NULL OR pos > prev_end THEN 1 ELSE 0 END)
                   OVER (PARTITION BY doc_id ORDER BY pos) AS island
               FROM pe),
       sp AS (SELECT doc_id, min(pos) AS start_tok, max(pos) + 8 AS end_tok
              FROM isl GROUP BY doc_id, island)"""

  /** Shared by the batch as-of query and its streaming twin: DuckDB's
    * NATIVE ASOF JOIN (l.ts >= r.ts picks the latest at-or-before right
    * row) — an independent implementation of the semantics. */
  private val asofOracle: String =
    """SELECT p.user_id, p.event_id AS purchase_id, v.event_id AS view_id,
         v.ts AS view_ts, date_diff('microsecond', v.ts, p.ts) AS gap_us
       FROM (SELECT * FROM events WHERE event_type = 'purchase') p
       ASOF JOIN (SELECT * FROM events WHERE event_type = 'view') v
         ON p.user_id = v.user_id AND p.ts >= v.ts
       ORDER BY purchase_id"""

  /** Replays `audio_drift`'s post-decode math over the parquet of quantized
    * band-energy longs the query wrote: integer-edge bucketing, the
    * all-bucket Laplace reconstruction, the PSI sum at round-4 grain, the
    * threshold verdict — the [[latentDriftOracle]] chain with keys
    * (scenario, band) and exact integer inputs. */
  private def audioDriftOracle: String =
    s"""WITH f AS (SELECT cohort, band, bq
           FROM read_parquet('$audioDriftPath/*.parquet')),
         pts AS (
           SELECT 'same' AS scenario, band, bq, (cohort = 'ref') AS is_ref
           FROM f WHERE cohort IN ('ref', 'same')
           UNION ALL
           SELECT 'shift', band, bq, (cohort = 'ref')
           FROM f WHERE cohort IN ('ref', 'shift')),
         b AS (SELECT scenario, band,
                 CASE WHEN bq < 150000 THEN 0 WHEN bq < 200000 THEN 1
                      WHEN bq < 250000 THEN 2 WHEN bq < 300000 THEN 3
                      WHEN bq < 350000 THEN 4 WHEN bq < 400000 THEN 5
                      WHEN bq < 450000 THEN 6 ELSE 7 END AS bucket, is_ref
               FROM pts),
         cnt AS (SELECT scenario, band, bucket,
                   sum(CASE WHEN is_ref THEN 1 ELSE 0 END) AS rc,
                   sum(CASE WHEN is_ref THEN 0 ELSE 1 END) AS cc
                 FROM b GROUP BY 1, 2, 3),
         tot AS (SELECT scenario, band, sum(rc) AS rt, sum(cc) AS ct
                 FROM cnt GROUP BY 1, 2),
         allb AS (SELECT t.scenario, t.band, t.rt, t.ct, gs.bucket
                  FROM tot t, (SELECT unnest(range(8)) AS bucket) gs),
         fb AS (SELECT a.scenario, a.band, a.rt, a.ct, a.bucket,
                  coalesce(c.rc, 0) AS rc, coalesce(c.cc, 0) AS cc
                FROM allb a LEFT JOIN cnt c
                  ON a.scenario = c.scenario AND a.band = c.band
                 AND a.bucket = c.bucket),
         psi AS (SELECT scenario, band,
                   round(sum(((rc + 1.0) / (rt + 8) - (cc + 1.0) / (ct + 8)) *
                     ln(((rc + 1.0) / (rt + 8)) / ((cc + 1.0) / (ct + 8)))), 4)
                     AS psi
                 FROM fb GROUP BY 1, 2)
         SELECT scenario, CAST(band AS INT) AS band, psi, psi > 0.2 AS is_drift
         FROM psi ORDER BY scenario, band"""

  /** Replays `render_docs` from the materialized docs: the span ARRAY
    * order is the render order, text spans verbatim, everything else a
    * `<kind:ref>` placeholder with the null conventions spelled out. */
  private def renderDocsOracle: String =
    s"""SELECT doc_id, CAST(len(spans) AS INT) AS n_spans,
          md5(array_to_string(list_transform(spans, s ->
            CASE WHEN s.kind = 'text' AND s.text IS NOT NULL THEN s.text
                 ELSE '<' || coalesce(s.kind, 'null') || ':' ||
                      coalesce(s.media_ref, 'none') || '>' END), ' '))
            AS render_md5
        FROM read_parquet('$renderDocsPath/*.parquet')
        ORDER BY doc_id"""

  /** Replays `ref_kind_consistency` from the two materialized parquets:
    * explode spans, keep non-null refs, INNER join the catalog (dangling
    * refs are the existence check's verdict, not this one's), count
    * disagreements per part. */
  private def refKindConsistencyOracle: String =
    s"""WITH flat AS (
           SELECT part, u.kind AS kind, u.media_ref AS media_ref
           FROM (SELECT part, unnest(spans) AS u
                 FROM read_parquet('$kindConsDocsPath/*.parquet'))
           WHERE u.media_ref IS NOT NULL),
         media AS (SELECT media_ref, media_kind
                   FROM read_parquet('$kindConsMediaPath/*.parquet'))
         SELECT part, CAST(count(*) AS BIGINT) AS n_refs,
           CAST(sum(CASE WHEN kind <> media_kind THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kind_mismatch
         FROM flat JOIN media USING (media_ref)
         GROUP BY part ORDER BY part"""

  /** Planted-corruption truth for `media_integrity` and its streaming
    * twin: every 97th payload of the 600-row corpus is truncated below its
    * container header, so the probe must emit exactly these
    * (ref, kind, 'truncated') rows. */
  private val mediaIntegrityOracle: String =
    """SELECT printf('m-%08d', x) AS media_ref,
         CASE CAST(x % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
           ELSE 'video' END AS media_kind,
         'truncated' AS reason
       FROM range(600) t(x) WHERE x % 97 = 0 ORDER BY media_ref"""

  /** Replays `ref_media_integrity` from the materialized docs plus the
    * planted corruption rule (every 97th catalog id truncated): per-part
    * counts of non-null span refs landing in the bad set. Dangling refs
    * (ids ≥ MediaCount) never match — the bad set only holds catalog ids,
    * in both the engine's probe and this replay. */
  private def refMediaIntegrityOracle: String =
    s"""WITH flat AS (
           SELECT part, u.media_ref AS media_ref
           FROM (SELECT part, unnest(spans) AS u
                 FROM read_parquet('$refIntegrityDocsPath/*.parquet'))
           WHERE u.media_ref IS NOT NULL),
         bad AS (SELECT printf('m-%08d', x) AS media_ref
                 FROM range(${graft.model.DocsGen.MediaCount}) t(x)
                 WHERE x % 97 = 0)
         SELECT part, CAST(count(*) AS BIGINT) AS bad_span_refs
         FROM flat JOIN bad USING (media_ref)
         GROUP BY part ORDER BY part"""

  /** Replays `video_scene_cuts`' verdict over the parquet of quantized
    * per-frame features the query wrote: pure integer compare + count. */
  private def videoSceneCutsOracle: String =
    s"""SELECT media_ref, max(n_frames) AS n_frames,
          CAST(sum(CASE WHEN motion_q > ${graft.ops.Video.CutThresholdQ}
            THEN 1 ELSE 0 END) AS BIGINT) AS cut_count
        FROM read_parquet('$videoFramesPath/*.parquet')
        GROUP BY media_ref ORDER BY media_ref"""

  /** Replays `video_drift`'s post-decode math over the parquet of quantized
    * band-luma longs the query wrote — the [[audioDriftOracle]] chain with
    * the video edges. */
  private def videoDriftOracle: String =
    s"""WITH f AS (SELECT cohort, band, lq
           FROM read_parquet('$videoDriftPath/*.parquet')),
         pts AS (
           SELECT 'same' AS scenario, band, lq, (cohort = 'ref') AS is_ref
           FROM f WHERE cohort IN ('ref', 'same')
           UNION ALL
           SELECT 'shift', band, lq, (cohort = 'ref')
           FROM f WHERE cohort IN ('ref', 'shift')),
         b AS (SELECT scenario, band,
                 CASE WHEN lq < 82000 THEN 0 WHEN lq < 107000 THEN 1
                      WHEN lq < 127000 THEN 2 WHEN lq < 151000 THEN 3
                      WHEN lq < 176000 THEN 4 WHEN lq < 196000 THEN 5
                      WHEN lq < 220000 THEN 6 ELSE 7 END AS bucket, is_ref
               FROM pts),
         cnt AS (SELECT scenario, band, bucket,
                   sum(CASE WHEN is_ref THEN 1 ELSE 0 END) AS rc,
                   sum(CASE WHEN is_ref THEN 0 ELSE 1 END) AS cc
                 FROM b GROUP BY 1, 2, 3),
         tot AS (SELECT scenario, band, sum(rc) AS rt, sum(cc) AS ct
                 FROM cnt GROUP BY 1, 2),
         allb AS (SELECT t.scenario, t.band, t.rt, t.ct, gs.bucket
                  FROM tot t, (SELECT unnest(range(8)) AS bucket) gs),
         fb AS (SELECT a.scenario, a.band, a.rt, a.ct, a.bucket,
                  coalesce(c.rc, 0) AS rc, coalesce(c.cc, 0) AS cc
                FROM allb a LEFT JOIN cnt c
                  ON a.scenario = c.scenario AND a.band = c.band
                 AND a.bucket = c.bucket),
         psi AS (SELECT scenario, band,
                   round(sum(((rc + 1.0) / (rt + 8) - (cc + 1.0) / (ct + 8)) *
                     ln(((rc + 1.0) / (rt + 8)) / ((cc + 1.0) / (ct + 8)))), 4)
                     AS psi
                 FROM fb GROUP BY 1, 2)
         SELECT scenario, CAST(band AS INT) AS band, psi, psi > 0.2 AS is_drift
         FROM psi ORDER BY scenario, band"""

  private val latentDriftOracle: String =
      """WITH cells AS (
           SELECT j, i, CASE WHEN strpos('02468ace',
               substr(md5('rp-7-' || i || '-' || j), 1, 1)) > 0
             THEN 1.0 ELSE -1.0 END AS s
           FROM range(8) t1(j), range(64) t2(i)),
         x AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS e,
               generate_subscripts(embedding, 1) - 1 AS i
               FROM embeddings),
         lat AS (SELECT x.vec_id, c.j AS dim, sum(x.e * c.s) / sqrt(8.0) AS v
                 FROM x JOIN cells c USING (i) GROUP BY x.vec_id, c.j),
         pts AS (
           SELECT 'same' AS scenario, dim, v, (vec_id % 2 = 0) AS is_ref FROM lat
           UNION ALL
           SELECT 'shift', dim,
             CASE WHEN vec_id % 2 = 0 THEN v ELSE v + 0.8 END,
             (vec_id % 2 = 0) FROM lat),
         b AS (SELECT scenario, dim,
                 CASE WHEN v < -2 THEN 0 WHEN v < -1 THEN 1
                      WHEN v < -0.5 THEN 2 WHEN v < 0 THEN 3
                      WHEN v < 0.5 THEN 4 WHEN v < 1 THEN 5
                      WHEN v < 2 THEN 6 ELSE 7 END AS bucket, is_ref
               FROM pts),
         cnt AS (SELECT scenario, dim, bucket,
                   sum(CASE WHEN is_ref THEN 1 ELSE 0 END) AS rc,
                   sum(CASE WHEN is_ref THEN 0 ELSE 1 END) AS cc
                 FROM b GROUP BY 1, 2, 3),
         tot AS (SELECT scenario, dim, sum(rc) AS rt, sum(cc) AS ct
                 FROM cnt GROUP BY 1, 2),
         allb AS (SELECT t.scenario, t.dim, t.rt, t.ct, gs.bucket
                  FROM tot t, (SELECT unnest(range(8)) AS bucket) gs),
         fb AS (SELECT a.scenario, a.dim, a.rt, a.ct, a.bucket,
                  coalesce(c.rc, 0) AS rc, coalesce(c.cc, 0) AS cc
                FROM allb a LEFT JOIN cnt c
                  ON a.scenario = c.scenario AND a.dim = c.dim
                 AND a.bucket = c.bucket),
         psi AS (SELECT scenario, dim,
                   round(sum(((rc + 1.0) / (rt + 8) - (cc + 1.0) / (ct + 8)) *
                     ln(((rc + 1.0) / (rt + 8)) / ((cc + 1.0) / (ct + 8)))), 4)
                     AS psi
                 FROM fb GROUP BY 1, 2)
         SELECT scenario, CAST(dim AS INT) AS dim, psi, psi > 0.2 AS is_drift
         FROM psi ORDER BY scenario, dim"""

  /** Shared CTEs replaying [[lineCorpus]] + the line explode and the
    * normalized 16-hex md5 line key — single source for the three
    * line-dedup oracles. Integer division note: `(len-1)//7` is DuckDB
    * FLOOR division vs Spark's truncation, identical for the non-negative
    * lengths here (docs are non-empty). */
  private val lineCorpusCtes: String =
    """WITH tk AS (
         SELECT doc_id,
           list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS toks
         FROM documents),
       lc AS (
         SELECT doc_id,
           ['shared corpus license header'] ||
           list_transform(range((len(toks) - 1) // 7 + 1), i ->
             array_to_string(toks[i*7+1:i*7+7], ' ')) ||
           (CASE WHEN doc_id % 6 = 0 THEN ['GENERATED BY THE CORPUS  EXPORTER']
                 WHEN doc_id % 3 = 0 THEN ['generated by the corpus exporter']
                 ELSE CAST([] AS VARCHAR[]) END) AS lines
         FROM tk),
       lr AS (
         SELECT doc_id, unnest(lines) AS line,
                generate_subscripts(lines, 1) - 1 AS line_no
         FROM lc),
       lk AS (
         SELECT doc_id, line_no, line,
           substr(md5(trim(regexp_replace(lower(line), '\s+', ' ', 'g'))), 1, 16) AS key
         FROM lr)"""

  /** The survivor-filter + doc rebuild tail shared by the two dedup
    * policies; `keepPred` is the survival predicate over (cnt, rn). */
  private def lineDedupTailSql(keepPred: String): String =
    s""",
       w AS (
         SELECT doc_id, line_no, line,
           count(*) OVER (PARTITION BY key) AS cnt,
           row_number() OVER (PARTITION BY key ORDER BY doc_id, line_no) AS rn
         FROM lk),
       keep AS (SELECT doc_id, line_no, line FROM w WHERE $keepPred),
       reb AS (
         SELECT doc_id,
           array_to_string(list(line ORDER BY line_no), chr(10)) AS text
         FROM keep GROUP BY doc_id)
       SELECT d.doc_id, md5(coalesce(r.text, '')) AS h
       FROM (SELECT DISTINCT doc_id FROM documents) d
         LEFT JOIN reb r ON d.doc_id = r.doc_id
       ORDER BY d.doc_id"""

  /** The Stupid-Backoff bigram-LM derivation (P38) shared by the two LM
    * oracles: token lists, (w1, w2) pairs with a NULL-context head row per
    * doc, unigram counts = w2 counts (N summed BEFORE the minCount=2
    * prune, like the engine), pruned count tables, and the per-pair
    * scoring CASE summed to doc grain. */
  private val lmCtes: String =
    """WITH toks AS (
         SELECT doc_id,
           list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS l
         FROM documents),
       big AS (
         SELECT doc_id,
           CASE WHEN i = 0 THEN NULL ELSE l[i] END AS w1,
           l[i + 1] AS w2
         FROM (SELECT doc_id, l, unnest(range(len(l))) AS i FROM toks)),
       ug_all AS (SELECT w2 AS w, count(*) AS cnt FROM big GROUP BY w2),
       nt AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total FROM ug_all),
       ug AS (SELECT w, cnt FROM ug_all WHERE cnt >= 2),
       bg AS (SELECT w1, w2, count(*) AS cnt FROM big WHERE w1 IS NOT NULL
              GROUP BY w1, w2 HAVING count(*) >= 2),
       lp AS (
         SELECT b.doc_id,
           CASE WHEN bc.cnt IS NOT NULL THEN log10(CAST(bc.cnt AS DOUBLE) / u1.cnt)
                WHEN b.w1 IS NULL AND u2.cnt IS NOT NULL THEN log10(u2.cnt / nt.total)
                WHEN u2.cnt IS NOT NULL THEN log10(0.4 * u2.cnt / nt.total)
                ELSE log10(0.4 / nt.total) END AS lpv
         FROM big b
           CROSS JOIN nt
           LEFT JOIN bg bc ON b.w1 = bc.w1 AND b.w2 = bc.w2
           LEFT JOIN ug u1 ON b.w1 = u1.w
           LEFT JOIN ug u2 ON b.w2 = u2.w),
       doc AS (SELECT doc_id, count(*) AS n_tokens, sum(lpv) AS s
               FROM lp GROUP BY doc_id)"""

  /** Token counts + deterministic (cnt DESC, token ASC) ranking over a
    * source relation — shared by the vocabulary-family oracles. */
  private def vocabCtes(src: String): String =
    s"""WITH tok AS (
         SELECT unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                  x -> len(x) > 0)) AS token
         FROM $src),
       vc AS (SELECT token, count(*) AS cnt FROM tok GROUP BY token),
       vr AS (SELECT token, cnt,
                row_number() OVER (ORDER BY cnt DESC, token) AS rank
              FROM vc)"""

  /** The k-round BPE derivation unrolled as chained CTEs: s0 is the
    * symbolized word-freq table; round i computes weighted pair counts
    * (p_i), the deterministic argmax (m_i), and the merged symbol table
    * (s_i) via the same padded literal replace the engine applies. */
  private def bpeCtes(k: Int): String = {
    val sb = new StringBuilder
    sb.append(
      """WITH w AS (
           SELECT word, count(*) AS freq FROM (
             SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'),
               x -> len(x) > 0)) AS word
             FROM documents) GROUP BY word),
         s0 AS (SELECT word,
             array_to_string(list_transform(range(length(word)), i -> word[i+1]), '  ')
               || '  </w>' AS sym, freq
           FROM w)""")
    (1 to k).foreach { i =>
      sb.append(s""",
         p$i AS (SELECT pair, sum(freq) AS cnt FROM (
             SELECT unnest(CASE WHEN len(t) >= 2
                 THEN list_transform(range(len(t) - 1), i -> t[i+1] || ' ' || t[i+2])
                 ELSE CAST([] AS VARCHAR[]) END) AS pair, freq
             FROM (SELECT string_split(sym, '  ') AS t, freq FROM s${i - 1}))
           GROUP BY pair),
         m$i AS (SELECT pair, cnt FROM p$i ORDER BY cnt DESC, pair ASC LIMIT 1),
         s$i AS (SELECT s.word, trim(replace('  ' || s.sym || '  ',
             ' ' || split_part(m.pair, ' ', 1) || '  ' || split_part(m.pair, ' ', 2) || ' ',
             ' ' || replace(m.pair, ' ', '') || ' ')) AS sym, s.freq
           FROM s${i - 1} s, m$i m)""")
    }
    sb.toString
  }

  // merge_rank is an explicit INT and freq an explicit BIGINT: a bare
  // sum() is HUGEINT in DuckDB, which hashes differently from the
  // engine's int64 on a type-aware driver even when values agree.
  private def bpeMergesOracle(k: Int): String =
    bpeCtes(k) + "\n SELECT merge_rank, pair, freq FROM (" +
      (1 to k).map(i =>
        s"SELECT CAST($i AS INT) AS merge_rank, pair, CAST(cnt AS BIGINT) AS freq FROM m$i")
        .mkString(" UNION ALL ") +
      ") ORDER BY merge_rank"

  private def bpeEncodeOracle(k: Int): String =
    bpeCtes(k) + s""",
       tk2 AS (SELECT doc_id,
           list_filter(string_split_regex(lower(text), '\\s+'), x -> len(x) > 0) AS toks
         FROM documents),
       dw AS (SELECT doc_id, unnest(toks) AS word,
                generate_subscripts(toks, 1) AS pos
              FROM tk2),
       enc AS (SELECT d.doc_id,
                 array_to_string(list(s.sym ORDER BY d.pos), '  ') AS symline
               FROM dw d JOIN s$k s USING (word) GROUP BY d.doc_id)
       SELECT doc_id, len(string_split(symline, '  ')) AS n_subwords,
              md5(replace(symline, '  ', ' ')) AS h
       FROM enc ORDER BY doc_id"""

  val oracleSql: Map[String, String] = Map(
    "bpe_merges" -> bpeMergesOracle(8),
    "bpe_encode" -> bpeEncodeOracle(8),
    "curation_near_dup" -> curationNearDupSql,
    "curation_cc" -> curationCcSql,
    "curation_cc_quality" -> curationCcQualitySql,
    "curation_decon" -> curationDeconSql,
    "curation_staged" -> curationNearDupSql,
    "dedup_cc_components" -> dedupCcComponentsSql,
    "dedup_ngram_jaccard_pairs" -> nearDupJaccardSql,
    "dedup_minhash_pairs" -> nearDupJaccardSql,
    "dedup_simhash_pairs" -> nearDupJaccardSql,
    // streaming near-dup survivors: kept ⟺ no smaller-id (= earlier-
    // arriving, the harness stages the stream in id order) doc within the
    // exact-Jaccard threshold — the engine's non-recursive drop rule
    "stream_near_dup_dedup" -> (nearDupPairCtes + """
       SELECT doc_id, text FROM corpus
       WHERE doc_id NOT IN (SELECT id_b FROM i
         WHERE round(inter / (n_a + n_b - inter), 6) >= 0.5)
       ORDER BY doc_id"""),
    // exact all-pairs cosine ground truth: hyperplane-LSH bucketing has
    // deterministic full recall here (a scaled copy keeps its direction, so
    // its sign pattern — and bucket — is identical), and the engine verifies
    // candidates with exact cosine, so the bucketed output equals the truth.
    // Fold order matches the engine's left-fold aggregate exactly.
    "dedup_emb_cosine" -> (embPairCtes +
      """
         SELECT id_a, id_b, round(dot / (na * nb), 6) AS cos
         FROM pairs WHERE round(dot / (na * nb), 6) >= 0.98
         ORDER BY id_a, id_b"""),
    "dedup_emb_cc" -> dedupEmbCcSql,
    // distinct-shingle intersection with the eval union; engine hits =
    // matched rows of the (distinct-per-doc shingles) x (distinct bench
    // set) join, i.e. exactly this count
    "decontaminate_report" -> (deconCtes + """
       SELECT p.id AS doc_id, count(*) AS hits
       FROM p JOIN b USING (s)
       GROUP BY p.id
       ORDER BY doc_id"""),
    "decontaminate_drop" -> (deconCtes + """
       SELECT doc_id, lang FROM documents
       WHERE doc_id NOT IN (SELECT DISTINCT p.id FROM p JOIN b USING (s))
       ORDER BY doc_id"""),
    // DSIR end to end: bigram features with the md5 bucket, Laplace-
    // smoothed target/raw log-ratios over all 1024 buckets, per-doc weight
    // sums, the pure Gumbel key from the md5 rank, and the top-50 window
    "dsir_select" ->
      """WITH toks AS (
           SELECT doc_id, lang,
             list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS l
           FROM documents),
         feat AS (
           SELECT doc_id, lang,
             try_cast(concat('0x', substr(md5(l[i] || ' ' || l[i + 1]), 1, 8)) AS bigint)
               % 1024 AS bucket
           FROM (SELECT doc_id, lang, l, unnest(range(1, len(l))) AS i FROM toks)),
         tc AS (SELECT bucket, count(*) AS c FROM feat WHERE lang = 'en' GROUP BY 1),
         rc AS (SELECT bucket, count(*) AS c FROM feat GROUP BY 1),
         tn AS (SELECT coalesce(sum(c), 0) + 1024.0 AS n FROM tc),
         rn AS (SELECT coalesce(sum(c), 0) + 1024.0 AS n FROM rc),
         lr AS (SELECT b.bucket,
                  ln((coalesce(tc.c, 0) + 1.0) / tn.n) -
                  ln((coalesce(rc.c, 0) + 1.0) / rn.n) AS v
                FROM (SELECT unnest(range(1024)) AS bucket) b
                  CROSS JOIN tn CROSS JOIN rn
                  LEFT JOIN tc USING (bucket) LEFT JOIN rc USING (bucket)),
         w AS (SELECT f.doc_id, sum(lr.v) AS lw
               FROM feat f JOIN lr USING (bucket) GROUP BY 1),
         keyed AS (
           SELECT d.doc_id, d.lang,
             coalesce(w.lw, 0.0) - ln(-ln(
               (try_cast(concat('0x', substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)) AS bigint)
                 + 0.5) / 4294967296.0)) AS key
           FROM documents d LEFT JOIN w USING (doc_id)
           WHERE d.doc_id IS NOT NULL),
         sel AS (SELECT doc_id, lang,
                   row_number() OVER (ORDER BY key DESC, doc_id) AS rn
                 FROM keyed)
         SELECT doc_id, lang FROM sel WHERE rn <= 50 ORDER BY doc_id""",
    // exact flagged count + the bloom gate's structural booleans: missed=0
    // is the no-false-negatives law (a miss is a canonicalization bug),
    // fp_within_bound the quantified over-drop trade
    "decon_bloom" -> (deconCtes + """
       SELECT CAST(count(DISTINCT p.id) AS BIGINT) AS n_exact,
         CAST(0 AS BIGINT) AS missed, TRUE AS fp_within_bound
       FROM p JOIN b USING (s)"""),
    // the streaming twin's survivors are batch-boundary invariant (per-row
    // gate vs a static eval set) == the batch drop predicate
    "stream_decontaminate" -> (deconCtes + """
       SELECT doc_id, lang FROM documents
       WHERE doc_id NOT IN (SELECT DISTINCT p.id FROM p JOIN b USING (s))
       ORDER BY doc_id"""),
    "dedup_exact_stats" ->
      "SELECT count(DISTINCT text) AS distinct_texts, count(*) AS total FROM documents",
    "dedup_exact_groups" ->
      """WITH u AS (SELECT text FROM documents UNION ALL SELECT text FROM documents),
         g AS (SELECT md5(text) AS h, count(*) AS cnt FROM u GROUP BY 1 HAVING count(*) > 1)
         SELECT count(*) AS dup_groups, CAST(sum(cnt) AS BIGINT) AS dup_rows FROM g""",
    // survivor per content group = min doc_id; with an exact copy of every
    // doc injected at +1e6, survivors are exactly the originals
    "dedup_exact_drop" ->
      """WITH corpus AS (
           SELECT doc_id, text FROM documents
           UNION ALL SELECT doc_id + 1000000, text FROM documents)
         SELECT min(doc_id) AS doc_id FROM corpus GROUP BY text ORDER BY doc_id""",
    "argmax_predict" ->
      """SELECT vec_id, CAST(list_indexof(embedding, list_max(embedding)) - 1 AS INT) AS pred
         FROM embeddings ORDER BY vec_id""",
    "model_accuracy" ->
      """SELECT CAST(sum(CASE WHEN CAST(list_indexof(embedding, list_max(embedding)) - 1 AS INT) = label
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
         count(*) AS n_total FROM embeddings""",
    "text_stats" ->
      """SELECT doc_id, length(text) AS chars,
         CASE WHEN length(text) = 0 THEN 0
              ELSE length(text) - length(replace(text, ' ', '')) + 1 END AS tokens
         FROM documents ORDER BY doc_id""",
    "lang_distribution" ->
      "SELECT lang, count(*) AS cnt FROM documents GROUP BY lang ORDER BY lang",
    // the engine's md5Rank32, verbatim: first 8 hex chars of md5(id) as a
    // 32-bit integer; fraction 0.25 -> threshold floor(0.25 * 2^32)
    "sample_fraction" ->
      """SELECT doc_id, lang FROM documents
         WHERE try_cast(concat('0x', substr(md5(cast(doc_id AS varchar)), 1, 8)) AS bigint)
               < 1073741824
         ORDER BY doc_id""",
    // rank-interval split labels: thresholds floor(0.8 * 2^32) and
    // floor((0.8 + 0.1) * 2^32) — the engine's cumulative doubles verbatim
    "sample_split" ->
      """SELECT doc_id,
           CASE WHEN rnk < 3435973836 THEN 'train'
                WHEN rnk < 3865470566 THEN 'val'
                ELSE 'test' END AS split
         FROM (SELECT doc_id,
                 try_cast(concat('0x', substr(md5(cast(doc_id AS varchar)), 1, 8)) AS bigint) AS rnk
               FROM documents)
         ORDER BY doc_id""",
    // landing-zone round-trip: every real row survives the schema gate,
    // every injected malformed line quarantines -> good side == the table
    "ingest_jsonl" ->
      "SELECT doc_id, lang, n_chars FROM documents ORDER BY doc_id",
    "ingest_csv" ->
      "SELECT doc_id, lang, n_chars FROM documents ORDER BY doc_id",
    // engine tokenization replayed (lowercase \s+ split, empties dropped),
    // n-grams WITH duplicates, per-doc mode via unnest+group (exact at
    // oracle scale), gate by integer cross-multiplication
    "repetition_stats" ->
      """WITH tk AS (
           SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0) AS toks
           FROM documents),
         ng AS (
           SELECT doc_id,
             CASE WHEN len(toks) >= 2 THEN list_transform(range(len(toks) - 1),
               i -> toks[CAST(i AS INT) + 1] || ' ' || toks[CAST(i AS INT) + 2])
             ELSE CAST([] AS VARCHAR[]) END AS bg,
             CASE WHEN len(toks) >= 3 THEN list_transform(range(len(toks) - 2),
               i -> toks[CAST(i AS INT) + 1] || ' ' || toks[CAST(i AS INT) + 2]
                    || ' ' || toks[CAST(i AS INT) + 3])
             ELSE CAST([] AS VARCHAR[]) END AS tg
           FROM tk),
         topbg AS (
           SELECT doc_id, max(c) AS top FROM (
             SELECT doc_id, b, count(*) AS c
             FROM (SELECT doc_id, unnest(bg) AS b FROM ng) GROUP BY doc_id, b)
           GROUP BY doc_id)
         SELECT n.doc_id,
           coalesce(t.top, 0) AS top_bigram_cnt,
           len(n.bg) AS bigram_cnt,
           len(n.tg) - len(list_distinct(n.tg)) AS dup_trigram_cnt,
           len(n.tg) AS trigram_cnt,
           (coalesce(t.top, 0) * 100 > len(n.bg) * 18
            OR (len(n.tg) - len(list_distinct(n.tg))) * 100 > len(n.tg) * 30) AS repetitive
         FROM ng n LEFT JOIN topbg t USING (doc_id)
         ORDER BY n.doc_id""",
    // the packing layout replayed verbatim: md5Rank32 order, rank-derived
    // shard (rank % 8), cumulative-token start offsets per shard, pack =
    // start // 512. Every emitted numeric is an explicit BIGINT — a bare
    // window sum() is HUGEINT in DuckDB, whose wire representation is
    // engine-version-sensitive and hashes differently from the engine's
    // int64 even when values agree.
    "pack_sequences" ->
      """WITH d AS (
           SELECT doc_id,
             CAST(CASE WHEN length(text) = 0 THEN 0
                  ELSE length(text) - length(replace(text, ' ', '')) + 1 END
               AS BIGINT) AS n_tok,
             try_cast(concat('0x', substr(md5(cast(doc_id AS varchar)), 1, 8)) AS bigint) AS rnk
           FROM documents),
         c AS (
           SELECT doc_id, CAST(rnk % 8 AS BIGINT) AS shard, n_tok,
             CAST(coalesce(sum(n_tok) OVER (
               PARTITION BY rnk % 8 ORDER BY rnk, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_off
           FROM d)
         SELECT doc_id, shard, start_off // 512 AS pack,
           start_off, n_tok
         FROM c ORDER BY doc_id""",
    // per-language thresholds: floor(rate * 2^32) for 1.0 / 0.5 / 0.1 /
    // default 0.25 — the engine's byFractionPerGroup literals verbatim
    // temperature mixing: counts, q = p^(1/2), single-pass normalize, cap,
    // round(6), the same floor(f * 2^32) rank threshold as the other samplers
    "sample_temperature" ->
      """WITH cnts AS (SELECT lang, count(*) AS cnt FROM documents
                       WHERE lang IS NOT NULL GROUP BY lang),
         nt AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total FROM cnts),
         q AS (SELECT lang, cnt, power(cnt / nt.total, 0.5) AS qv
               FROM cnts CROSS JOIN nt),
         zt AS (SELECT sum(qv) AS z FROM q),
         f AS (SELECT lang,
                 round(least(1.0, (0.5 * nt.total) * (qv / zt.z) / cnt), 6) AS fr
               FROM q CROSS JOIN zt CROSS JOIN nt)
         SELECT d.lang, d.doc_id FROM documents d JOIN f ON d.lang = f.lang
         WHERE try_cast(concat('0x', substr(md5(cast(doc_id AS varchar)), 1, 8)) AS bigint)
               < CAST(floor(f.fr * 4294967296) AS BIGINT)
         ORDER BY d.lang, d.doc_id""",
    // waterfilled temperature mixing: the capped set is the maximal prefix
    // in ascending c/q order (bool_and window); uncapped rates use the
    // budget/τ-mass remaining AFTER the capped prefix (filter-sum), so the
    // expected keep hits the budget exactly. Float sequence matches the
    // engine's (remainder = total - prefix cumsum, same order, round(6)).
    "sample_temperature_wf" ->
      """WITH cnts AS (SELECT lang, count(*) AS cnt FROM documents
                       WHERE lang IS NOT NULL GROUP BY lang),
         nt AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total FROM cnts),
         q AS (SELECT lang, cnt, power(cnt / nt.total, 0.25) AS qv
               FROM cnts CROSS JOIN nt),
         zt AS (SELECT sum(qv) AS z FROM q),
         ord AS (SELECT lang, cnt, qv,
             coalesce(sum(cnt) OVER (ORDER BY cnt / qv, lang
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_c,
             coalesce(sum(qv) OVER (ORDER BY cnt / qv, lang
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_q
           FROM q),
         caps AS (SELECT o.lang, o.cnt, o.qv,
             bool_and(o.cnt * (zt.z - o.cum_q) <= (0.8 * nt.total - o.cum_c) * o.qv)
               OVER (ORDER BY o.cnt / o.qv, o.lang
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS capped
           FROM ord o CROSS JOIN zt CROSS JOIN nt),
         bz AS (SELECT
             0.8 * max(nt.total) - coalesce(sum(cnt) FILTER (WHERE capped), 0) AS bp,
             max(zt.z) - coalesce(sum(qv) FILTER (WHERE capped), 0) AS zp
           FROM caps CROSS JOIN zt CROSS JOIN nt),
         f AS (SELECT lang, CASE WHEN capped THEN 1.0
                 ELSE round(greatest(0.0, bz.bp * (qv / bz.zp) / cnt), 6) END AS fr
               FROM caps CROSS JOIN bz)
         SELECT d.lang, d.doc_id FROM documents d JOIN f ON d.lang = f.lang
         WHERE try_cast(concat('0x', substr(md5(cast(doc_id AS varchar)), 1, 8)) AS bigint)
               < CAST(floor(f.fr * 4294967296) AS BIGINT)
         ORDER BY d.lang, d.doc_id""",
    // epoch upsampling: floor(f) copies + one more below the fractional
    // rank threshold, copies unnested as 0-based epochs; null ids dropped
    "sample_upsample" ->
      """WITH f AS (SELECT lang, doc_id,
           CASE lang WHEN 'de' THEN 2.5 WHEN 'fr' THEN 1.25
                     WHEN 'en' THEN 0.4 ELSE 1.0 END AS fac,
           try_cast(concat('0x', substr(md5(cast(doc_id AS varchar)), 1, 8)) AS bigint) AS rnk
         FROM documents WHERE doc_id IS NOT NULL),
         c AS (SELECT lang, doc_id,
             CAST(floor(fac) AS BIGINT) +
             CASE WHEN rnk < CAST(floor((fac - floor(fac)) * 4294967296) AS BIGINT)
                  THEN 1 ELSE 0 END AS copies
           FROM f)
         SELECT lang, doc_id, e.epoch
         FROM c, unnest(range(copies)) AS e(epoch)
         WHERE copies > 0 ORDER BY lang, doc_id, epoch""",
    "sample_mix_lang" ->
      """SELECT lang, doc_id FROM documents
         WHERE try_cast(concat('0x', substr(md5(cast(doc_id AS varchar)), 1, 8)) AS bigint)
               < CASE lang WHEN 'de' THEN 4294967296
                           WHEN 'fr' THEN 2147483648
                           WHEN 'en' THEN 429496729
                           ELSE 1073741824 END
         ORDER BY lang, doc_id""",
    // quota cap 40 per language: row_number over (rank ASC, id ASC) is
    // exactly TopKPairsAgg's (score DESC, id ASC) with score = -rank
    "sample_quota_lang" ->
      """SELECT lang, doc_id FROM (
           SELECT lang, doc_id, row_number() OVER (
             PARTITION BY lang
             ORDER BY try_cast(concat('0x', substr(md5(cast(doc_id AS varchar)), 1, 8)) AS bigint) ASC,
                      doc_id ASC) AS rn
           FROM documents) t
         WHERE rn <= 40 ORDER BY lang, doc_id""",
    "fingerprint_md5" ->
      "SELECT doc_id, md5(lower(text)) AS fp FROM documents ORDER BY doc_id",
    // the greedy token-budget prefix replayed as ONE global window cumsum
    // over the gate-formula quality scores (budget = half the corpus's
    // tokens, integer division like the engine's Long division)
    "sample_token_budget" ->
      ("WITH " + gateCtes("documents") +
        """,
         tot AS (SELECT sum(n_tokens) AS t FROM q),
         c AS (SELECT doc_id,
             sum(n_tokens) OVER (ORDER BY quality_micros DESC, doc_id ASC
               ROWS UNBOUNDED PRECEDING) AS cum
           FROM q)
         SELECT doc_id FROM c
         WHERE cum <= (SELECT t // 2 FROM tot)
         ORDER BY doc_id"""),
    // Morton interleave replayed bit for bit: per-row lateral sum over
    // range(10) of x-bit-at-2i + y-bit-at-2i+1
    "zorder_value" ->
      ("WITH " + gateCtes("documents") +
        """,
         b AS (SELECT doc_id, doc_id % 1024 AS x, n_tokens % 1024 AS y FROM q)
         SELECT doc_id,
           CAST((SELECT sum((((x >> i) & 1) << (2*i)) +
                            (((y >> i) & 1) << (2*i+1)))
                 FROM range(10) AS r(i)) AS BIGINT) AS zv
         FROM b ORDER BY doc_id"""),
    // the two-pass distributed ordinal replayed as ONE global row_number
    // over the same gate-formula quality score (best first, ties by id)
    "curriculum_order" ->
      ("WITH " + gateCtes("documents") +
        """
         SELECT doc_id,
           row_number() OVER (ORDER BY quality_micros DESC, doc_id ASC) - 1
             AS ordinal
         FROM q ORDER BY doc_id"""),
    // exact per-row top-k ground truth: at planes=1/probes=2 the kNN join
    // probes BOTH buckets (structurally total recall), so its output equals
    // this all-pairs top-k. The fold replays the engine's left-fold cosine
    // over double-cast embeddings; tie order (cos DESC, id_b ASC) matches
    // TopKPairsAgg's.
    "knn_join_exact" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         pairs AS (
           SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             round(
               list_reduce(list_prepend(0.0, list_transform(range(len(a.emb)),
                   k -> a.emb[CAST(k AS INT) + 1] * b.emb[CAST(k AS INT) + 1])),
                 (acc, v) -> acc + v)
               / (sqrt(list_reduce(list_prepend(0.0, list_transform(a.emb, x -> x * x)),
                   (acc, v) -> acc + v))
                  * sqrt(list_reduce(list_prepend(0.0, list_transform(b.emb, x -> x * x)),
                   (acc, v) -> acc + v))), 6) AS cos
           FROM e a JOIN e b ON a.vec_id <> b.vec_id),
         ranked AS (
           SELECT id_a, id_b, cos,
             row_number() OVER (PARTITION BY id_a ORDER BY cos DESC, id_b) AS rn
           FROM pairs)
         SELECT id_a, id_b, cos FROM ranked WHERE rn <= 5
         ORDER BY id_a, cos DESC, id_b""",
    // nprobe = nLists -> every inverted list probed -> identical to brute
    // force; shares the similarity_topk replay (hash-checks the IVF
    // train/assign/persist/probe pipeline end to end)
    "ann_ivf_exact" ->
      """WITH q AS (SELECT CAST(unnest(embedding) AS DOUBLE) AS e,
                    generate_subscripts(embedding, 1) AS i
                    FROM embeddings WHERE vec_id = 0),
         x AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS e,
               generate_subscripts(embedding, 1) AS i
               FROM embeddings WHERE vec_id <> 0),
         dots AS (SELECT x.vec_id, sum(x.e * q.e) AS dot,
                    sqrt(sum(x.e * x.e)) AS nx, sqrt(sum(q.e * q.e)) AS nq
                  FROM x JOIN q USING (i) GROUP BY x.vec_id)
         SELECT vec_id AS id, round(dot / (nx * nq), 4) AS cos FROM dots
         ORDER BY cos DESC, id LIMIT 10""",
    // ≤256-row corpus -> lossless distinct-set codebooks -> ADC == exact
    // inner product; DuckDB replays exact cosine top-10 over the same subset
    "ann_pq_exact" ->
      """WITH q AS (SELECT CAST(unnest(embedding) AS DOUBLE) AS e,
                    generate_subscripts(embedding, 1) AS i
                    FROM embeddings WHERE vec_id = 0),
         x AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS e,
               generate_subscripts(embedding, 1) AS i
               FROM embeddings WHERE vec_id > 0 AND vec_id < 200),
         dots AS (SELECT x.vec_id, sum(x.e * q.e) AS dot,
                    sqrt(sum(x.e * x.e)) AS nx, sqrt(sum(q.e * q.e)) AS nq
                  FROM x JOIN q USING (i) GROUP BY x.vec_id)
         SELECT vec_id, round(dot / (nx * nq), 4) AS cos FROM dots
         ORDER BY cos DESC, vec_id LIMIT 10""",
    // at planes=1/probes=2 both buckets are probed -> identical to brute
    // force; shares the similarity_topk replay
    "ann_lsh_exact" ->
      """WITH q AS (SELECT CAST(unnest(embedding) AS DOUBLE) AS e,
                    generate_subscripts(embedding, 1) AS i
                    FROM embeddings WHERE vec_id = 0),
         x AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS e,
               generate_subscripts(embedding, 1) AS i
               FROM embeddings WHERE vec_id <> 0),
         dots AS (SELECT x.vec_id, sum(x.e * q.e) AS dot,
                    sqrt(sum(x.e * x.e)) AS nx, sqrt(sum(q.e * q.e)) AS nq
                  FROM x JOIN q USING (i) GROUP BY x.vec_id)
         SELECT vec_id, round(dot / (nx * nq), 4) AS cos FROM dots
         ORDER BY cos DESC, vec_id LIMIT 10""",
    "similarity_topk" ->
      """WITH q AS (SELECT CAST(unnest(embedding) AS DOUBLE) AS e,
                    generate_subscripts(embedding, 1) AS i
                    FROM embeddings WHERE vec_id = 0),
         x AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS e,
               generate_subscripts(embedding, 1) AS i
               FROM embeddings WHERE vec_id <> 0),
         dots AS (SELECT x.vec_id, sum(x.e * q.e) AS dot,
                    sqrt(sum(x.e * x.e)) AS nx, sqrt(sum(q.e * q.e)) AS nq
                  FROM x JOIN q USING (i) GROUP BY x.vec_id)
         SELECT vec_id, round(dot / (nx * nq), 4) AS cos FROM dots
         ORDER BY cos DESC, vec_id LIMIT 10""",
    // JL sign-matrix derivation (md5 nibble parity — the same cross-engine
    // primitive as Sample's rank) AND the projection, replayed end to end.
    // The compared value is the INTEGER quantized sign-sum (order-
    // independent, no round()/HUGEINT in the final projection — every
    // emitted numeric is an explicit BIGINT/INT), so the hash is stable
    // across SQL-engine versions; `agrees` is the engine-side in-row gate
    // on the real float projection, TRUE by construction here.
    "dimred_project" ->
      """WITH cells AS (
           SELECT j, i, CASE WHEN strpos('02468ace',
               substr(md5('rp-7-' || i || '-' || j), 1, 1)) > 0
             THEN 1 ELSE -1 END AS s
           FROM range(8) t1(j), range(64) t2(i)),
         x AS (SELECT vec_id,
               CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000 + 0.5) AS BIGINT) AS qe,
               generate_subscripts(embedding, 1) - 1 AS i
               FROM embeddings),
         lat AS (SELECT x.vec_id, c.j, CAST(sum(x.qe * c.s) AS BIGINT) AS lat_q
                 FROM x JOIN cells c USING (i) GROUP BY x.vec_id, c.j)
         SELECT vec_id, CAST(j AS INT) AS j, lat_q, TRUE AS agrees
         FROM lat ORDER BY vec_id, j""",
    // two-stage retrieval: latent-cosine candidate cut (top 40 = k x
    // oversample, rounded-6 + id tiebreak) then exact-cosine re-rank —
    // deterministic at both stages, so the full pipeline hash-checks
    "dimred_topk" ->
      """WITH cells AS (
           SELECT j, i, CASE WHEN strpos('02468ace',
               substr(md5('rp-7-' || i || '-' || j), 1, 1)) > 0
             THEN 1.0 ELSE -1.0 END AS s
           FROM range(8) t1(j), range(64) t2(i)),
         q AS (SELECT CAST(unnest(embedding) AS DOUBLE) AS e,
               generate_subscripts(embedding, 1) - 1 AS i
               FROM embeddings WHERE vec_id = 0),
         x AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS e,
               generate_subscripts(embedding, 1) - 1 AS i
               FROM embeddings WHERE vec_id <> 0),
         qlat AS (SELECT c.j, sum(q.e * c.s) / sqrt(8.0) AS v
                  FROM q JOIN cells c USING (i) GROUP BY c.j),
         xlat AS (SELECT x.vec_id, c.j, sum(x.e * c.s) / sqrt(8.0) AS v
                  FROM x JOIN cells c USING (i) GROUP BY x.vec_id, c.j),
         latcos AS (SELECT xl.vec_id,
                      round(sum(xl.v * ql.v) /
                        (sqrt(sum(xl.v * xl.v)) * sqrt(sum(ql.v * ql.v))), 6)
                        AS lat_cos
                    FROM xlat xl JOIN qlat ql USING (j) GROUP BY xl.vec_id),
         cand AS (SELECT vec_id FROM latcos
                  ORDER BY lat_cos DESC, vec_id LIMIT 40),
         dots AS (SELECT x.vec_id, sum(x.e * q.e) AS dot,
                    sqrt(sum(x.e * x.e)) AS nx, sqrt(sum(q.e * q.e)) AS nq
                  FROM x JOIN q USING (i)
                  WHERE x.vec_id IN (SELECT vec_id FROM cand)
                  GROUP BY x.vec_id)
         SELECT vec_id, round(dot / (nx * nq), 4) AS cos FROM dots
         ORDER BY cos DESC, vec_id LIMIT 10""",
    // every corpus × eval pairwise cosine replayed in fixed element order
    // (list_transform over range — matches the engine's ascending-index
    // loop), rounded 6, thresholded, grouped
    "decon_embedding" ->
      """WITH ev AS (SELECT embedding AS e FROM embeddings
                     WHERE vec_id BETWEEN 100 AND 119),
         pairs AS (
           SELECT x.vec_id,
             round(
               list_sum(list_transform(range(1, 65),
                 i -> CAST(x.embedding[i] AS DOUBLE) * CAST(ev.e[i] AS DOUBLE)))
               / (sqrt(list_sum(list_transform(range(1, 65),
                    i -> CAST(x.embedding[i] AS DOUBLE) * CAST(x.embedding[i] AS DOUBLE))))
                * sqrt(list_sum(list_transform(range(1, 65),
                    i -> CAST(ev.e[i] AS DOUBLE) * CAST(ev.e[i] AS DOUBLE))))),
               6) AS cos
           FROM embeddings x, ev)
         SELECT vec_id, count(*) AS hits, max(cos) AS max_cos
         FROM pairs WHERE cos >= 0.99
         GROUP BY vec_id ORDER BY vec_id""",
    // DESCRIBE replayed through the two documented engine-type-name
    // mappings (VARCHAR→STRING; TIMESTAMP→TIMESTAMP_NTZ, the
    // isAdjustedToUTC=false parquet logical type both engines read), full
    // outer join against the same literal contract, same status rules
    "schema_contract" ->
      """WITH obs AS (
           SELECT column_name AS path,
                  replace(replace(column_type, 'VARCHAR', 'STRING'),
                          'TIMESTAMP', 'TIMESTAMP_NTZ') AS observed_type
           FROM (DESCRIBE orders)),
         con AS (SELECT * FROM (VALUES
           ('o_orderkey','BIGINT'),('o_custkey','BIGINT'),
           ('o_orderstatus','STRING'),('o_totalprice','DECIMAL(12,2)'),
           ('o_orderdate','TIMESTAMP_NTZ'),('o_comment','STRING'))
           t(path, expected_type))
         SELECT coalesce(con.path, obs.path) AS path,
           coalesce(con.expected_type, '-') AS expected_type,
           coalesce(obs.observed_type, '-') AS observed_type,
           CASE WHEN con.path IS NULL THEN 'unexpected'
                WHEN obs.path IS NULL THEN 'missing'
                WHEN upper(con.expected_type) = upper(obs.observed_type) THEN 'ok'
                ELSE 'type_mismatch' END AS status
         FROM con FULL OUTER JOIN obs ON con.path = obs.path
         ORDER BY path""",
    // full replay of the encode→drift composition: JL projection (same
    // cells CTE as dimred_project), fixed-edge binning, Laplace-smoothed
    // per-dim PSI, and the verdicts — for both the null and shifted windows
    "dup_spans" ->
      (dupSpanCtes +
        " SELECT doc_id, start_tok, end_tok FROM sp ORDER BY doc_id, start_tok"),
    // trimmed text rebuilt token-by-token outside the spans; DuckDB's
    // array_to_string of an empty list is NULL where Spark's array_join
    // is '' — coalesce closes the one divergence
    "dup_spans_trim" ->
      (dupSpanCtes + """,
         spl AS (SELECT doc_id, list(struct_pack(s := start_tok, e := end_tok)) AS spans
                 FROM sp GROUP BY doc_id)
         SELECT tk.doc_id,
           md5(coalesce(array_to_string(
             list_transform(
               list_filter(list_transform(range(len(toks)),
                   i -> struct_pack(t := toks[i+1], i := i)),
                 x -> spl.spans IS NULL OR
                      len(list_filter(spl.spans, sp2 -> x.i >= sp2.s AND x.i < sp2.e)) = 0),
               x -> x.t), ' '), '')) AS h
         FROM tk LEFT JOIN spl ON tk.doc_id = spl.doc_id
         ORDER BY tk.doc_id"""),
    // running-sum start-offset binning replayed with the same window
    "compaction_plan" ->
      """WITH f AS (SELECT CAST(doc_id % 4 AS INT) AS part,
                      'f' || lpad(CAST(doc_id AS VARCHAR), 8, '0') AS file,
                      n_chars AS bytes
                    FROM documents),
         w AS (SELECT part, file, bytes,
                 sum(CASE WHEN bytes < 400 THEN bytes ELSE 0 END)
                   OVER (PARTITION BY part ORDER BY file
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
               FROM f)
         SELECT part, file, bytes,
           CASE WHEN bytes < 400 THEN 'rewrite' ELSE 'keep' END AS action,
           CASE WHEN bytes < 400 THEN CAST((cum - bytes) // 1500 AS INT)
                ELSE -1 END AS bin
         FROM w ORDER BY part, file""",
    "line_dedup_stats" ->
      (lineCorpusCtes + """
         SELECT min(line) AS line,
                count(DISTINCT doc_id) AS n_docs,
                count(*) AS n_total
         FROM lk GROUP BY key HAVING count(*) >= 2
         ORDER BY line"""),
    "line_dedup_keep_first" ->
      (lineCorpusCtes + lineDedupTailSql("cnt < 2 OR rn = 1")),
    "line_dedup_drop_all" ->
      (lineCorpusCtes + lineDedupTailSql("cnt < 2")),
    "vocab_top" ->
      (vocabCtes("documents") + """
         SELECT token, cnt, CAST(rank AS INT) AS rank
         FROM vr WHERE rank <= 50 ORDER BY rank"""),
    "vocab_coverage" ->
      (vocabCtes("(SELECT * FROM documents WHERE doc_id % 2 = 0)") + """,
         vocab AS (SELECT token FROM vr WHERE rank <= 30),
         tgt AS (
           SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'),
                    x -> len(x) > 0)) AS token
           FROM documents WHERE doc_id % 2 <> 0),
         j AS (SELECT t.token, v.token AS v_tok
               FROM tgt t LEFT JOIN vocab v ON t.token = v.token)
         SELECT CAST(count(*) AS BIGINT) AS total_tokens,
                CAST(sum(CASE WHEN v_tok IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS in_vocab_tokens,
                CAST(sum(CASE WHEN v_tok IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS oov_tokens,
                CAST(count(DISTINCT CASE WHEN v_tok IS NULL THEN token END) AS BIGINT) AS distinct_oov
         FROM j"""),
    // vocab build + OOV-bucket counts + the SAME Laplace-smoothed PSI
    // formula as latent_drift (nb = topN+1 = 17); the chi-squared leg is
    // spec-tested, not oracled (DuckDB has no incomplete gamma — the
    // chi2_returnflag_years split)
    "token_drift" ->
      (vocabCtes("(SELECT * FROM documents WHERE doc_id % 2 = 0)") + """,
         vocab AS (SELECT token, CAST(rank AS INT) AS rank
                   FROM vr WHERE rank <= 16),
         prod_tok AS (
           SELECT unnest(list_filter(string_split_regex(
                    lower(text || ' spark spark spark spark'), '\s+'),
                    x -> len(x) > 0)) AS token
           FROM documents WHERE doc_id % 2 <> 0),
         rc AS (SELECT coalesce(v.rank, 0) AS rank, count(*) AS ref_cnt
                FROM tok t LEFT JOIN vocab v ON t.token = v.token GROUP BY 1),
         pc AS (SELECT coalesce(v.rank, 0) AS rank, count(*) AS prod_cnt
                FROM prod_tok t LEFT JOIN vocab v ON t.token = v.token GROUP BY 1),
         buckets AS (SELECT CAST(unnest(range(17)) AS INT) AS rank),
         jj AS (
           SELECT b.rank,
                  coalesce(v.token, '<oov>') AS token,
                  coalesce(rc.ref_cnt, 0) AS ref_cnt,
                  coalesce(pc.prod_cnt, 0) AS prod_cnt
           FROM buckets b
             LEFT JOIN rc ON b.rank = rc.rank
             LEFT JOIN pc ON b.rank = pc.rank
             LEFT JOIN vocab v ON b.rank = v.rank),
         tot AS (SELECT sum(ref_cnt) AS rt, sum(prod_cnt) AS ct FROM jj),
         p AS (SELECT round(sum(
                   ((ref_cnt + 1.0) / (rt + 17) - (prod_cnt + 1.0) / (ct + 17)) *
                   ln(((ref_cnt + 1.0) / (rt + 17)) /
                      ((prod_cnt + 1.0) / (ct + 17)))), 4) AS psi
               FROM jj, tot)
         SELECT jj.rank, jj.token, jj.ref_cnt, jj.prod_cnt, p.psi,
                p.psi > 0.2 AS is_drift_psi
         FROM jj, p ORDER BY jj.rank"""),
    // the streaming twin's two per-window finals, replayed with the same
    // vocab + Laplace-smoothed PSI as token_drift (threshold 0.05)
    "stream_token_drift" ->
      (vocabCtes("(SELECT * FROM documents WHERE doc_id % 2 = 0)") + """,
         vocab AS (SELECT token, CAST(rank AS INT) AS rank
                   FROM vr WHERE rank <= 16),
         wt AS (
           SELECT 'same' AS scenario,
             unnest(list_filter(string_split_regex(lower(text), '\s+'),
               x -> len(x) > 0)) AS token
           FROM documents WHERE doc_id % 2 <> 0
           UNION ALL
           SELECT 'shift',
             unnest(list_filter(string_split_regex(
               lower(text || ' spark spark spark spark'), '\s+'),
               x -> len(x) > 0))
           FROM documents WHERE doc_id % 2 <> 0),
         cc AS (SELECT scenario, coalesce(v.rank, 0) AS rank, count(*) AS cnt
                FROM wt LEFT JOIN vocab v ON wt.token = v.token GROUP BY 1, 2),
         rc AS (SELECT coalesce(v.rank, 0) AS rank, count(*) AS cnt
                FROM tok t LEFT JOIN vocab v ON t.token = v.token GROUP BY 1),
         bks AS (SELECT s.scenario, CAST(unnest(range(17)) AS INT) AS rank
                 FROM (SELECT DISTINCT scenario FROM wt) s),
         f AS (SELECT b.scenario, b.rank,
                 coalesce(cc.cnt, 0) AS cnt,
                 coalesce((SELECT rc.cnt FROM rc WHERE rc.rank = b.rank), 0) AS rcnt
               FROM bks b LEFT JOIN cc ON b.scenario = cc.scenario
                 AND b.rank = cc.rank),
         tt AS (SELECT scenario, sum(cnt) AS ct, sum(rcnt) AS rt
                FROM f GROUP BY scenario)
         SELECT f.scenario, CAST(tt.ct AS BIGINT) AS n,
           round(sum(((rcnt + 1.0) / (rt + 17) - (cnt + 1.0) / (ct + 17)) *
             ln(((rcnt + 1.0) / (rt + 17)) / ((cnt + 1.0) / (ct + 17)))), 4) AS psi,
           round(sum(((rcnt + 1.0) / (rt + 17) - (cnt + 1.0) / (ct + 17)) *
             ln(((rcnt + 1.0) / (rt + 17)) / ((cnt + 1.0) / (ct + 17)))), 4) > 0.05
             AS is_drift
         FROM f JOIN tt ON f.scenario = tt.scenario
         GROUP BY f.scenario, tt.ct, tt.rt
         ORDER BY f.scenario"""),
    // translate-before-lower accent fold, control chars to spaces,
    // whitespace collapse, trim — every step byte-replayed
    "normalize_text" ->
      ("""SELECT doc_id,
            md5(trim(regexp_replace(regexp_replace(
              lower(translate('  Café ÜBER' || chr(9) || 'naïve ' || chr(10) ||
                ' ' || text || '  ÉLÈVE  ',
                '""" + graft.ops.TextOps.accentFrom + """',
                '""" + graft.ops.TextOps.accentTo + """')),
              '[\x00-\x1f\x7f]', ' ', 'g'),
              '\s+', ' ', 'g'))) AS h
          FROM documents ORDER BY doc_id"""),
    // composition report replayed from the shared gate CTEs (quality and
    // n_tokens from q, language from lid), exact-integer sums
    "corpus_report" ->
      ("WITH " + gateCtes("documents") +
        """
         SELECT d.source, lid.lang,
           CAST(count(*) AS BIGINT) AS docs,
           CAST(sum(q.n_tokens) AS BIGINT) AS tokens,
           CAST(sum(q.quality_micros) AS BIGINT) AS quality_micros_sum
         FROM documents d
           JOIN q ON q.doc_id = d.doc_id
           JOIN lid ON lid.doc_id = d.doc_id
         GROUP BY 1, 2 ORDER BY 1, 2"""),
    // P40 HTML extraction replayed step for step: the same wrap template,
    // then comments -> paired/unclosed script -> paired/unclosed style ->
    // all tags -> the fixed entity table (nbsp/lt/gt/quot/#39/apos, amp
    // LAST so &amp;lt; decodes one level) -> whitespace collapse
    "html_extract" ->
      ("""WITH w AS (
            SELECT doc_id,
              '<html><head><title>T &amp; U</title>' ||
              '<style media="all">p { color: red; }</style>' ||
              '<script type="text/javascript">var x = 1 < 2 && "</p>";</script>' ||
              '</head><body><!-- nav <p> skip --><h1>Doc &lt;#</h1><p>' ||
              text ||
              '</p><br>tail&nbsp;&amp;lt;end&#39;s&quot;</body></html>' ||
              CASE WHEN doc_id % 7 = 0
                   THEN '<script>var trailing = ''never visible'''
                   ELSE '' END AS t
            FROM documents)
          SELECT doc_id, md5(trim(regexp_replace(
            replace(replace(replace(replace(replace(replace(replace(
              regexp_replace(regexp_replace(regexp_replace(
              regexp_replace(regexp_replace(regexp_replace(
                t,
                '(?s)<!--.*?-->', ' ', 'g'),
                '(?is)<script[^>]*>.*?</script[^>]*>', ' ', 'g'),
                '(?is)<script[^>]*>.*$', ' ', 'g'),
                '(?is)<style[^>]*>.*?</style[^>]*>', ' ', 'g'),
                '(?is)<style[^>]*>.*$', ' ', 'g'),
                '(?s)<[^>]*>', ' ', 'g'),
              '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
              '&#39;', ''''), '&apos;', ''''), '&amp;', '&'),
            '\s+', ' ', 'g'))) AS h
          FROM w ORDER BY doc_id"""),
    // Stupid-Backoff bigram LM replayed end to end: bigram explode with a
    // NULL-context head row, unigram counts (= w2 counts) and N before the
    // minCount prune, both count tables pruned at 2, then the three-way
    // scoring CASE (bigram ratio / alpha-backoff unigram / alpha floor)
    "lm_score" -> (lmCtes +
      """
         SELECT d.doc_id, coalesce(doc.n_tokens, 0) AS n_tokens,
           round(doc.s, 6) AS lp_sum, round(doc.s / doc.n_tokens, 6) AS avg_lp
         FROM (SELECT DISTINCT doc_id FROM documents) d
           LEFT JOIN doc USING (doc_id)
         ORDER BY doc_id"""),
    "lm_gate" -> (lmCtes +
      """
         SELECT doc_id FROM doc
         WHERE s IS NOT NULL AND power(10, -(s / n_tokens)) <= 2000.0
         ORDER BY doc_id"""),
    // the streaming twin gates micro-batches against the same frozen model;
    // survivors must equal the batch gate's, so the oracle is identical
    "stream_lm_gate" -> (lmCtes +
      """
         SELECT doc_id FROM doc
         WHERE s IS NOT NULL AND power(10, -(s / n_tokens)) <= 2000.0
         ORDER BY doc_id"""),
    // per-group mean/stddev_pop recomputed, null-safe group join, same
    // k-sigma flag and rounded z-score
    "outlier_events" ->
      """WITH st AS (SELECT event_type, avg(value) AS mu,
                       stddev_pop(value) AS sd
                     FROM events GROUP BY 1)
         SELECT e.event_id, e.event_type, e.value,
           round((e.value - st.mu) / st.sd, 4) AS z_score
         FROM events e JOIN st
           ON e.event_type IS NOT DISTINCT FROM st.event_type
         WHERE abs(e.value - st.mu) > 3 * st.sd
         ORDER BY e.event_id""",
    // robust volume fence replayed exactly: hourly counts, interpolated
    // median (DuckDB median == percentile_cont 0.5 == Spark's exact
    // percentile), MAD, the 1.4826 consistency constant, NULL robust_z in
    // the MAD=0 regime, and the same unrounded fence comparison
    "volume_anomaly" ->
      """WITH c AS (SELECT date_trunc('hour', ts) AS w, count(*) AS n
                    FROM events GROUP BY 1),
         m AS (SELECT median(n) AS med FROM c),
         d AS (SELECT median(abs(n - m.med)) AS mad FROM c, m)
         SELECT c.w, c.n, round(m.med, 6) AS median_n,
           round(d.mad, 6) AS mad_n,
           round(CASE WHEN d.mad > 0
             THEN (c.n - m.med) / (1.4826 * d.mad) END, 6) AS robust_z,
           (d.mad > 0 AND abs(c.n - m.med) > 3.5 * 1.4826 * d.mad)
             AS is_anomaly
         FROM c, m, d ORDER BY c.w""",
    // FD violations: pair GROUPS per determinant (NULL-as-value — GROUP BY
    // keeps the NULL group on both engines), bounded min/max witnesses
    "fd_orders" ->
      """WITH pairs AS (SELECT o_custkey, o_orderpriority AS r, count(*) AS pn
                        FROM orders GROUP BY 1, 2)
         SELECT o_custkey, count(*) AS n_distinct_rhs,
           CAST(sum(pn) AS BIGINT) AS n_rows,
           min(r) AS rhs_min, max(r) AS rhs_max
         FROM pairs GROUP BY 1 HAVING count(*) > 1
         ORDER BY o_custkey""",
    // tf-idf replayed end to end: whitespace tokenization, per-(doc,term)
    // tf, df with the minDf prune, smoothed idf ln((1+N)/(1+df))+1, rank
    // on the ROUNDED score (ties by term) — the engine ranks identically
    "tfidf_keywords" ->
      """WITH base AS (SELECT doc_id, text FROM documents
                       WHERE doc_id IS NOT NULL AND text IS NOT NULL),
         n AS (SELECT count(*) AS nd FROM base),
         tf AS (SELECT doc_id, t.term, count(*) AS tf
                FROM base, unnest(list_filter(
                  string_split_regex(lower(text), '\s+'),
                  x -> len(x) > 0)) AS t(term)
                GROUP BY 1, 2),
         dfq AS (SELECT term, count(*) AS df FROM tf
                 GROUP BY 1 HAVING count(*) >= 2),
         sc AS (SELECT tf.doc_id, tf.term,
                  round(tf.tf * (ln((n.nd + 1.0) / (dfq.df + 1.0)) + 1.0), 6)
                    AS tfidf
                FROM tf JOIN dfq USING (term) CROSS JOIN n),
         r AS (SELECT doc_id, term, tfidf,
                 row_number() OVER (PARTITION BY doc_id
                   ORDER BY tfidf DESC, term ASC) AS rnk
               FROM sc)
         SELECT doc_id, rnk, term, tfidf AS score FROM r WHERE rnk <= 5
         ORDER BY doc_id, rnk""",
    // gap-rule sessions replayed as the identical lag + cumsum windows;
    // durations in exact integer micros (date_diff('microsecond'))
    "events_sessionize" ->
      """WITH o AS (
           SELECT user_id, event_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR date_diff('microsecond', lag(ts) OVER w, ts) > 21600000000
                  THEN 1 ELSE 0 END AS ns
           FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         s AS (SELECT user_id, ts,
                 CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
               FROM o)
         SELECT user_id, session_idx, count(*) AS n_events,
           min(ts) AS first_ts, max(ts) AS last_ts,
           date_diff('microsecond', min(ts), max(ts)) AS duration_us
         FROM s GROUP BY 1, 2 ORDER BY user_id, session_idx""",
    "events_session_join" ->
      """WITH o AS (
           SELECT user_id, event_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR date_diff('microsecond', lag(ts) OVER w, ts) > 21600000000
                  THEN 1 ELSE 0 END AS ns
           FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         s AS (SELECT user_id, ts,
                 CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
               FROM o),
         sess AS (SELECT user_id, session_idx,
                    min(ts) AS first_ts, max(ts) AS last_ts
                  FROM s GROUP BY 1, 2)
         SELECT e.event_id, e.user_id, sess.session_idx,
           sess.first_ts, sess.last_ts
         FROM events e JOIN sess
           ON e.user_id = sess.user_id
          AND e.ts BETWEEN sess.first_ts AND sess.last_ts
         ORDER BY e.event_id""",
    // DuckDB's NATIVE ASOF JOIN (l.ts >= r.ts picks the latest
    // at-or-before right row) — an independent oracle of the semantics,
    // not a replay of the union-and-carry plan. Right-side (user, ts)
    // duplicates don't exist in the test data (asserted by the engine's
    // tie-rule spec instead).
    "events_asof_view" -> asofOracle,
    // the streaming twin emits FINAL-only matches equal to the batch
    // operator once the sentinel closes every left — same oracle verbatim
    "events_stream_asof" -> asofOracle,
    "latent_drift" -> latentDriftOracle,
    // the streaming twin stages the SAME two scenarios as two event-time
    // windows and relabels window→scenario: shared oracle, bit-for-bit
    "stream_latent_drift" -> latentDriftOracle,
    // replay over the quantized band-energy longs the query wrote — the
    // WAV decode is codec territory; everything after it is hash-checked
    "audio_drift" -> audioDriftOracle,
    // the streaming twin stages the SAME cohorts as two event-time windows
    // and relabels window→scenario: shared oracle, bit-for-bit (the oracle
    // input parquet is written by the batch query in the same Verify run)
    "stream_audio_drift" -> audioDriftOracle,
    // scene-cut verdict replayed from the quantized per-frame motion longs
    "video_scene_cuts" -> videoSceneCutsOracle,
    // planted-corruption truth: every 97th payload truncated below its
    // header → the probe must emit exactly these (ref, kind, 'truncated')
    "media_integrity" -> mediaIntegrityOracle,
    // the stateless streaming twin probes the same corpus as a 3-batch
    // file stream; append-mode finals must equal the batch set verbatim
    "stream_media_integrity" -> mediaIntegrityOracle,
    "media_integrity_report" ->
      """SELECT media_kind, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN x % 97 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_bad
         FROM (SELECT x, CASE CAST(x % 3 AS INT) WHEN 0 THEN 'image'
                 WHEN 1 THEN 'audio' ELSE 'video' END AS media_kind
               FROM range(600) t(x))
         GROUP BY media_kind ORDER BY media_kind""",
    // blast radius: the planted id rule gives the bad-ref set; the docs
    // parquet the query materialized gives the span refs; per-part counts
    "ref_media_integrity" -> refMediaIntegrityOracle,
    // kind agreement replayed from the two materialized parquets: inner
    // join (dangling refs are E6's verdict), count kind <> media_kind
    "ref_kind_consistency" -> refKindConsistencyOracle,
    // full render replay: order, placeholder format, null conventions
    "render_docs" -> renderDocsOracle,
    // chunk boundaries + overlap + short final chunk replayed per chunk
    "chunk_tokens" ->
      """WITH t AS (SELECT doc_id,
             list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS toks
           FROM documents),
         s AS (SELECT doc_id, toks, unnest(range(0, len(toks), 24)) AS st
               FROM t WHERE len(toks) > 0),
         c AS (SELECT doc_id, CAST(st // 24 AS INT) AS chunk_idx,
                 list_slice(toks, st + 1, st + 32) AS chunk
               FROM s)
         SELECT doc_id, chunk_idx, CAST(len(chunk) AS INT) AS n_tok,
           md5(array_to_string(chunk, ' ')) AS chunk_md5
         FROM c ORDER BY doc_id, chunk_idx""",
    // video analog of the audio pair: batch + streaming twin, one oracle
    "video_drift" -> videoDriftOracle,
    "stream_video_drift" -> videoDriftOracle,
    // streaming twin: complete-mode replay over the full file equals the
    // batch hourly aggregate, so the batch SQL oracles the stream operator
    "events_stream_hourly" ->
      """SELECT date_trunc('hour', ts) AS hr, event_type, count(*) AS cnt,
         round(sum(value), 4) AS sum_v
         FROM events GROUP BY 1, 2 ORDER BY 1, 2""",
    "stream_novel_types" ->
      """SELECT date_trunc('hour', ts) AS window_start, event_type,
         count(*) AS novel_events
         FROM events
         WHERE event_type IS NOT NULL
           AND event_type NOT IN ('click', 'purchase', 'signup', 'view')
         GROUP BY 1, 2 ORDER BY 1, 2""",
    "calibration_report" ->
      """WITH e AS (
           SELECT CAST(embedding AS DOUBLE[]) AS emb, label FROM embeddings),
         t AS (
           SELECT 1.0 / list_sum(list_transform(emb,
                    x -> exp(16.0 * (x - list_max(emb))))) AS conf,
             CASE WHEN CAST(list_indexof(emb, list_max(emb)) - 1 AS INT) = label
                  THEN 1 ELSE 0 END AS ok
           FROM e),
         b AS (
           SELECT CAST(least(floor(conf * 10), 9) AS INT) AS bin, conf, ok
           FROM t)
         SELECT bin, count(*) AS n,
           round(avg(conf), 6) AS avg_conf,
           round(avg(ok * 1.0), 6) AS acc,
           round(abs(avg(conf) - avg(ok * 1.0)), 6) AS gap
         FROM b GROUP BY 1 ORDER BY 1""",
    "slice_accuracy" ->
      """WITH per AS (
           SELECT label, count(*) AS n,
             CAST(sum(CASE WHEN CAST(list_indexof(embedding, list_max(embedding)) - 1 AS INT) = label
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_correct
           FROM embeddings GROUP BY 1),
         tot AS (SELECT sum(n) AS nt, sum(n_correct) AS ct FROM per)
         SELECT label, n, n_correct,
           round(n_correct * 1.0 / n, 6) AS acc,
           round(n_correct * 1.0 / n - ct * 1.0 / nt, 6) AS acc_delta,
           abs(n_correct * 1.0 / n - ct * 1.0 / nt) > 0.05 AS flagged
         FROM per, tot ORDER BY label""",
    // subword pieces re-expressed for RE2 (no lookbehind): a piece is
    // punct* followed by a letter run or digit run, or a pure punct run —
    // equivalent to the engine's boundary-split on this grammar
    "quality_scores" ->
      """WITH t AS (
           SELECT doc_id, text,
             len(list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0)) AS n_tokens,
             length(regexp_replace(text, '\s+', '', 'g')) AS nosp,
             len(list_filter(string_split_regex(lower(text), '\s+'),
                 x -> list_contains(['the','a','of','and','to','in','is','it','that','for'], x))) AS n_stop,
             length(regexp_replace(text, '[^!-/:-@\[-`{-~]', '', 'g')) AS punct,
             len(list_filter(regexp_extract_all(lower(text),
                 '[^a-z0-9\s]*[a-z]+|[^a-z0-9\s]*[0-9]+|[^a-z0-9\s]+'), x -> len(x) > 0)) AS n_subwords
           FROM documents)
         SELECT doc_id,
           CAST(floor(( least(greatest(n_tokens,1) / 64.0, 1.0)*0.3
                + least((n_stop * 1.0 / greatest(n_tokens,1))*5.0, 1.0)*0.25
                + greatest(1.0 - (punct * 1.0 / greatest(length(text),1))*5.0, 0.0)*0.25
                + (CASE WHEN (nosp * 1.0 / greatest(n_tokens,1)) BETWEEN 2.5 AND 9.0
                        THEN 1.0 ELSE 0.4 END)*0.2) * 1000000) AS BIGINT) AS quality_micros,
           n_tokens, n_subwords
         FROM t ORDER BY doc_id""",
    // dedup → quality → language: the shared gate CTEs over ORIGINAL
    // documents only — the engine additionally deduped an injected exact
    // copy of every doc, so any survivor leak (doc_id ≥ 1e6) breaks
    // rows/hash.
    // the exact-dedup stage must be REPLAYED (min doc_id per text), not
    // assumed away: the sf0.1 corpus has natural duplicate texts (8 of
    // 5000), and an oracle that skips the survivor rule keeps both copies
    // while the engine keeps one — caught as a 3-row mismatch at sf0.1
    "curation_pipeline" -> ("""WITH surv AS (
           SELECT min(doc_id) AS doc_id, text FROM documents GROUP BY text),
         """ + gateCtes("surv") + gateSelect),
    // fold order: first profile attaining the max wins (strict-greater
    // replacement in the engine keeps the earliest max)
    // tokenization, md5 feature-hashing, mean and sigmoid replayed against
    // the materialized weight table — the full inference path hash-checked
    "classifier_scores" ->
      s"""WITH w AS (SELECT bucket, weight
             FROM read_parquet('$classifierWeightsPath/*.parquet')),
          tok AS (
             SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\\s+'),
               x -> len(x) > 0)) AS t
             FROM documents),
          b AS (SELECT doc_id,
                  try_cast(concat('0x', substr(md5(t), 1, 8)) AS bigint)
                    % $ClassifierDim AS bucket
                FROM tok),
          m AS (SELECT b.doc_id, avg(w.weight) AS mu
                FROM b JOIN w USING (bucket) GROUP BY 1)
          SELECT d.doc_id, round(1.0 / (1.0 + exp(-coalesce(m.mu, 0.0))), 6) AS score
          FROM documents d LEFT JOIN m ON d.doc_id = m.doc_id
          ORDER BY d.doc_id""",
    // PII scrub: injection recipe + detection counts + the fixed-order
    // redaction rewrite (emails -> IPv4 -> phones) replayed with the SAME
    // regex constants (interpolated from Pii.* — one source of truth; the
    // patterns live in the RE2 ∩ java.util.regex common subset)
    "pii_scrub" ->
      s"""WITH corpus AS (
            SELECT doc_id, text
              || CASE WHEN doc_id % 7 = 0
                   THEN ' contact user' || doc_id || '@example.com' ELSE '' END
              || CASE WHEN doc_id % 11 = 0
                   THEN ' host 10.' || (doc_id % 256) || '.0.1' ELSE '' END
              || CASE WHEN doc_id % 13 = 0
                   THEN ' call +1 555-01' || (doc_id % 90 + 10) || ' 4567' ELSE '' END
              AS text
            FROM documents)
          SELECT doc_id,
            len(regexp_extract_all(text, '${Pii.EmailRe}')) AS emails,
            len(regexp_extract_all(text, '${Pii.Ipv4Re}')) AS ipv4s,
            len(regexp_extract_all(text, '${Pii.PhoneRe}')) AS phones,
            md5(regexp_replace(regexp_replace(regexp_replace(text,
              '${Pii.EmailRe}', '<EMAIL>', 'g'),
              '${Pii.Ipv4Re}', '<IP>', 'g'),
              '${Pii.PhoneRe}', '<PHONE>', 'g')) AS red_md5
          FROM corpus ORDER BY doc_id""",
    "lang_id_detect" ->
      """WITH t AS (SELECT doc_id, lang,
             list_filter(string_split_regex(lower(text), '\s+'), x -> len(x)>0) AS toks,
             length(text) AS L,
             length(regexp_replace(text, '[^\x{4E00}-\x{9FFF}]', '', 'g')) AS cjk
           FROM documents),
         s AS (SELECT doc_id, lang,
           cjk*1.0/greatest(L,1) AS cjk_ratio,
           greatest(len(toks),1)*1.0 AS n,
           len(list_filter(toks, x -> list_contains(['the','and','of','to','in','is','it','that','was','for','with','as'], x)))*1.0 AS en,
           len(list_filter(toks, x -> list_contains(['el','la','de','que','y','en','los','del','las','por','un','una'], x)))*1.0 AS es,
           len(list_filter(toks, x -> list_contains(['der','die','und','das','von','zu','mit','den','ist','des','im','ein'], x)))*1.0 AS de,
           len(list_filter(toks, x -> list_contains(['le','la','de','et','les','des','en','un','une','du','est','que'], x)))*1.0 AS fr
          FROM t)
         SELECT doc_id, lang,
          CASE WHEN cjk_ratio > 0.2 THEN 'zh'
               WHEN greatest(en,es,de,fr)/n >= 0.05 THEN
                 CASE WHEN en >= greatest(es,de,fr) THEN 'en'
                      WHEN es >= greatest(de,fr) THEN 'es'
                      WHEN de >= fr THEN 'de' ELSE 'fr' END
               ELSE 'und' END AS detected
         FROM s ORDER BY doc_id""",
    // the synthetic media pipeline is fully deterministic (md5-derived
    // payload bytes), so the whole extract — byte unpacking, 8-dim feature
    // sums (bit-exact: same fold order), rolling-hash checksum — replays in
    // SQL. Oracles the multimodal plumbing end to end.
    "media_frame_sample" ->
      """WITH m AS (
           SELECT printf('m-%08d', range) AS media_ref,
             ['image','audio','video'][CAST(range % 3 AS INT) + 1] AS media_kind,
             md5(range || '-0') || md5(range || '-1') ||
             md5(range || '-2') || md5(range || '-3') AS hex
           FROM range(500))
         SELECT media_ref, media_kind, 4 AS n_frames, f.frame_idx,
           upper(substr(hex, 32 * f.frame_idx + 1, 32)) AS frame_hex
         FROM m, (SELECT unnest([0, 2]) AS frame_idx) f
         ORDER BY media_ref, f.frame_idx""",
    "media_features" ->
      """WITH m AS (
           SELECT range AS id, printf('m-%08d', range) AS media_ref,
             ['image','audio','video'][CAST(range % 3 AS INT) + 1] AS media_kind,
             md5(range || '-0') || md5(range || '-1') ||
             md5(range || '-2') || md5(range || '-3') AS hex
           FROM range(500)),
         b AS (
           SELECT id, media_ref, media_kind,
             list_transform(range(64), p ->
               (strpos('0123456789abcdef', substr(hex, 2*p + 1, 1)) - 1) * 16 +
               (strpos('0123456789abcdef', substr(hex, 2*p + 2, 1)) - 1)) AS bytes
           FROM m),
         f AS (
           SELECT id, media_ref, media_kind, bytes,
             list_transform(range(8), d ->
               list_sum(list_transform(range(8), j ->
                 bytes[CAST(d + 8*j AS INT) + 1] / 255.0)) / 8.0) AS features,
             list_reduce(list_prepend(CAST(0 AS HUGEINT),
                 list_transform(bytes, x -> CAST(x AS HUGEINT))),
               (acc, c) -> (acc * 1000003 + c) % 18446744073709551616::HUGEINT) AS h
           FROM b)
         SELECT media_ref, media_kind, 64 AS n_bytes,
           CAST(CASE WHEN h >= 9223372036854775808 THEN h - 18446744073709551616
                     ELSE h END AS BIGINT) AS checksum,
           features[1] AS f0, features[2] AS f1, features[3] AS f2,
           features[4] AS f3, features[5] AS f4, features[6] AS f5,
           features[7] AS f6, features[8] AS f7
         FROM f ORDER BY media_ref""",
    // polynomial rolling hash replayed with HUGEINT wrap-around arithmetic
    // over UTF-8 BYTES (hex(encode(..)) pair-unpacking) — the engine hashes
    // bytes, and a per-character ord() fold would diverge on non-ASCII text
    "fingerprint_rolling" ->
      """WITH b AS (
           SELECT doc_id, lower(hex(encode(lower(text)))) AS hx FROM documents),
         v AS (
           SELECT doc_id,
             list_transform(range(CAST(length(hx) / 2 AS INT)), p ->
               CAST((strpos('0123456789abcdef', substr(hx, 2*p + 1, 1)) - 1) * 16 +
                    (strpos('0123456789abcdef', substr(hx, 2*p + 2, 1)) - 1) AS HUGEINT)) AS bytes
           FROM b)
         SELECT doc_id,
           CAST(CASE WHEN h >= 9223372036854775808 THEN h - 18446744073709551616
                     ELSE h END AS BIGINT) AS fp
         FROM (
           SELECT doc_id,
             list_reduce(list_prepend(CAST(0 AS HUGEINT), bytes),
               (acc, c) -> (acc * 1000003 + c) % 18446744073709551616::HUGEINT) AS h
           FROM v) ORDER BY doc_id""",
    // the stream saw every event twice; state-store dedup restores the
    // single-copy aggregate (duplicate rows are full-row identical, so
    // DISTINCT over the projected triple is the batch truth)
    "events_stream_dedup" ->
      """SELECT event_type, count(*) AS cnt, round(sum(value), 4) AS sum_v
         FROM (SELECT DISTINCT event_id, event_type, value FROM events)
         GROUP BY event_type ORDER BY event_type""",
    // bounded-state variant saw every event twice too; watermark eviction
    // must not change the single-copy aggregate
    "events_stream_dedup_wm" ->
      """SELECT event_type, count(*) AS cnt, round(sum(value), 4) AS sum_v
         FROM (SELECT DISTINCT event_id, event_type, value FROM events)
         GROUP BY event_type ORDER BY event_type""",
    // streaming session_window merges ranges that TOUCH, so the boundary
    // equals the batch rule (new session iff diff > gap — spec-pinned on
    // an exact-gap fixture); session grain keyed by (user, first_ts) —
    // no stable ordinal exists on a stream
    "events_stream_sessions" ->
      """WITH o AS (
           SELECT user_id, event_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR date_diff('microsecond', lag(ts) OVER w, ts) > 21600000000
                  THEN 1 ELSE 0 END AS ns
           FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         s AS (SELECT user_id, ts,
                 sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING) AS sid
               FROM o)
         SELECT user_id, count(*) AS n_events, min(ts) AS first_ts,
           max(ts) AS last_ts,
           date_diff('microsecond', min(ts), max(ts)) AS duration_us
         FROM s GROUP BY user_id, sid ORDER BY user_id, first_ts""",
    "events_stream_drift" ->
      """WITH e AS (SELECT event_type, date_trunc('day', ts) AS window_start,
               CAST(least(greatest(floor(value / 10.0), 0), 9) AS INT) AS bucket FROM events),
         k AS (SELECT DISTINCT event_type, window_start FROM e),
         b AS (SELECT CAST(range AS INT) AS bucket FROM range(10)),
         c AS (SELECT event_type, window_start, bucket, count(*) AS cnt FROM e GROUP BY 1, 2, 3),
         f AS (SELECT k.event_type, k.window_start, b.bucket, coalesce(c.cnt, 0) AS cnt
               FROM k CROSS JOIN b
               LEFT JOIN c ON c.event_type = k.event_type
                 AND c.window_start = k.window_start AND c.bucket = b.bucket),
         t AS (SELECT event_type, window_start, sum(cnt) AS n FROM f GROUP BY 1, 2),
         s AS (SELECT f.event_type, f.window_start,
                 sum((greatest(f.cnt * 1.0 / t.n, 1e-6) - 0.1)
                     * ln(greatest(f.cnt * 1.0 / t.n, 1e-6) / 0.1)) AS psi_raw
               FROM f JOIN t ON t.event_type = f.event_type
                 AND t.window_start = f.window_start
               GROUP BY 1, 2)
         SELECT s.event_type, s.window_start, CAST(t.n AS BIGINT) AS n,
           round(s.psi_raw, 6) AS psi, (s.psi_raw > 0.2) AS is_drift
         FROM s JOIN t ON t.event_type = s.event_type AND t.window_start = s.window_start
         ORDER BY s.event_type, s.window_start""")
}
