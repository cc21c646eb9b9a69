package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic sampling — the training-mix constructors a 100 TB corpus
  * pipeline needs: fixed-fraction subsets and per-group quota caps ("at
  * most N docs per language"), both pure functions of the doc id so the
  * SAME subset comes back on every run, partitioning, and cluster size.
  * `df.sample()` guarantees none of that (seeded per-partition RNG — the
  * subset changes when the partitioning does).
  */
object Sample {

  /** Engine-portable 32-bit rank of an id: the first 8 hex chars of
    * `md5(cast(id as string))` parsed as a long in [0, 2³²). md5, not
    * xxhash64, because the DuckDB oracle must compute the identical value
    * (`try_cast(concat('0x', substr(md5(...), 1, 8)) as bigint)`), and
    * 32 bits, not 64, so the rank is exact in the Double that the bounded
    * top-k aggregate compares. */
  def md5Rank32(id: Column): Column =
    conv(substring(md5(id.cast("string")), 1, 8), 16, 10).cast("long")

  /** Keep ≈`fraction` of rows deterministically: rank(id)/2³² < fraction.
    * Narrow (filter-only — no shuffle, no state), stable under re-runs and
    * repartitioning, and disjoint fractions nest: the 0.1 sample is a
    * subset of the 0.25 sample.
    *
    * NULL-id rows are DROPPED at every fraction, 1.0 included: a row with
    * no identity has no deterministic sampling decision. Enforce id
    * presence upstream (the uniqueness check or the ingest gate's
    * required-field quarantine) if nulls are possible. */
  def byFraction(df: DataFrame, idCol: String, fraction: Double): DataFrame = {
    require(fraction >= 0.0 && fraction <= 1.0,
      s"byFraction: fraction must be in [0,1], got $fraction")
    df.filter(md5Rank32(col(idCol)) < math.floor(fraction * 4294967296.0).toLong)
  }

  /** Disjoint, exhaustive train/val/test-style splits — the reference's
    * seeded `random_split` (ml/training.py:248-270) at corpus scale, but
    * PURE: the split label is a function of the id alone (rank-interval
    * membership), so assignments survive re-runs, repartitioning, cluster
    * resizing, and even corpus growth (an id's label never changes when
    * other rows are added — torch's random_split reshuffles everything on
    * any size change). Narrow projection, no shuffle, DuckDB-replayable.
    *
    * `fractions` must sum to 1 (±1e-9); row i gets label `labels(k)` where
    * its 32-bit md5 rank falls in the k-th cumulative interval. The k-th
    * PREFIX of the splits equals `byFraction` at the same cumulative
    * fraction — splits and samples nest by construction. NULL-id rows are
    * dropped ([[byFraction]]'s policy).
    *
    * GROUP-AWARE (leakage-free) splits fall out of keying on the group
    * column instead of the doc id: `splitByFractions(df, "source", ...)`
    * labels every doc of a source identically — no source ever straddles
    * train/test (the held-out-domain rule near-dup leakage demands). The
    * fractions then apportion GROUPS, not rows: realized row shares track
    * them only as far as group sizes are iid (spec-asserted). */
  def splitByFractions(df: DataFrame, idCol: String,
                       splits: Seq[(String, Double)]): DataFrame = {
    require(splits.nonEmpty, "splitByFractions: need at least one split")
    splits.foreach { case (n, f) =>
      require(f >= 0.0 && f <= 1.0, s"splitByFractions: fraction $f not in [0,1]")
      require(n != null && n.nonEmpty, "splitByFractions: empty split label") }
    require(splits.map(_._1).distinct.size == splits.size,
      s"splitByFractions: duplicate split labels in ${splits.map(_._1)}")
    val total = splits.map(_._2).sum
    require(math.abs(total - 1.0) < 1e-9,
      s"splitByFractions: fractions must sum to 1, got $total")
    require(!df.columns.contains("split"),
      "splitByFractions: input already has a 'split' column — rename it " +
        "first (silent overwrite would corrupt caller data)")
    // cumulative thresholds in rank space; the LAST interval is closed at
    // 2^32 so rounding never orphans the top rank
    val cum = splits.map(_._2).scanLeft(0.0)(_ + _).tail
    val thresholds = cum.init.map(c => math.floor(c * 4294967296.0).toLong)
    val rank = md5Rank32(col(idCol))
    val label = splits.init.zip(thresholds).reverse.foldLeft(
      lit(splits.last._1)) { case (acc, ((name, _), thr)) =>
        when(rank < thr, lit(name)).otherwise(acc)
    }
    df.filter(col(idCol).isNotNull).withColumn("split", label)
  }

  /** Per-group fraction mix ("keep 100 % of de, 10 % of en"): the rate is
    * looked up per row from the literal `rates` map (absent groups get
    * `defaultFraction`), then the same rank-threshold filter as
    * [[byFraction]] — still a narrow, shuffle-free, deterministic filter,
    * and each group's sample nests across rate changes just like the
    * global one. */
  def byFractionPerGroup(df: DataFrame, idCol: String, groupCol: String,
                         rates: Map[String, Double],
                         defaultFraction: Double = 1.0): DataFrame = {
    (rates.values.toSeq :+ defaultFraction).foreach(f =>
      require(f >= 0.0 && f <= 1.0, s"byFractionPerGroup: fraction $f not in [0,1]"))
    def thr(f: Double): Long = math.floor(f * 4294967296.0).toLong
    val threshold = rates.foldLeft(lit(thr(defaultFraction))) {
      case (acc, (g, f)) => when(col(groupCol) === lit(g), lit(thr(f))).otherwise(acc)
    }
    df.filter(md5Rank32(col(idCol)) < threshold)
  }

  /** Temperature-scaled mixture rates (the multilingual-LM sampling rule,
    * Conneau & Lample 2019 §3.1 / T5's mixing): group g with share
    * p_g = n_g/N is drawn with probability q_g ∝ p_g^(1/τ) — τ=1 keeps
    * natural proportions, τ>1 flattens toward uniform (upweights rare
    * groups), τ<1 sharpens. Realized as per-group keep FRACTIONS against
    * a row budget B = budgetFraction·N: f_g = min(1, B·q_g/n_g), rounded
    * to 6 decimals so the decision is engine-replayable.
    *
    * Deterministic: groups fold in sorted-key order. Single-pass
    * normalization — a group capped at 1 does NOT redistribute its unmet
    * mass (the shortfall is bounded by the capped groups' total share).
    * [[temperatureRatesWaterfill]] closes that gap with a closed-form
    * capping prefix that IS SQL-replayable — use it when the budget must
    * be hit exactly. */
  def temperatureRates(counts: Seq[(String, Long)], tau: Double,
                       budgetFraction: Double): Map[String, Double] = {
    require(tau > 0.0, s"temperatureRates: tau must be > 0, got $tau")
    require(budgetFraction >= 0.0 && budgetFraction <= 1.0,
      s"temperatureRates: budgetFraction must be in [0,1], got $budgetFraction")
    require(counts.nonEmpty, "temperatureRates: no groups")
    counts.foreach { case (g, c) =>
      require(g != null, "temperatureRates: null group key (drop null-group rows upstream)")
      require(c >= 1, s"temperatureRates: group '$g' has count $c") }
    require(counts.map(_._1).distinct.size == counts.size,
      "temperatureRates: duplicate group keys (the rate map would silently " +
        "keep one of each pair)")
    val n = counts.map(_._2).sum.toDouble
    val sorted = counts.sortBy(_._1)
    val qs = sorted.map { case (g, c) => (g, math.pow(c / n, 1.0 / tau)) }
    val z = qs.map(_._2).sum
    val budget = budgetFraction * n
    val byGroup = sorted.toMap
    qs.map { case (g, q) =>
      val f = math.min(1.0, budget * (q / z) / byGroup(g))
      g -> BigDecimal(f).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }.toMap
  }

  /** [[temperatureRates]] with exact-budget WATERFILLING: a group capped
    * at 1.0 redistributes its unmet share over the remaining groups in
    * τ-proportion, so the expected keep Σ min(1, f_g)·n_g equals the row
    * budget B EXACTLY (modulo the 6 dp rate rounding) — where the
    * single-pass rule undershoots by the capped groups' unmet mass
    * (documented trade there). Closed form, not a fixpoint loop: visit
    * groups in ascending n_g/q_g (capping order; group-name tie-break);
    * a group caps iff n_g·Z′ ≤ B′·q_g under the remaining budget B′ and
    * τ-mass Z′ (subtracting each capped group's n and q as it caps); the
    * FIRST non-capping group ends the capped prefix — every later group
    * has a larger ratio against the same frozen B′/Z′, so none caps.
    * Deterministic, O(G log G) driver-side over the O(groups) count
    * table, and replayable in SQL as a bool_and window over the ratio
    * order (the driver query's oracle does exactly that). Uncapped rates
    * are monotone in the budget, so subsets still NEST across budget
    * changes. */
  def temperatureRatesWaterfill(counts: Seq[(String, Long)], tau: Double,
                                budgetFraction: Double): Map[String, Double] = {
    require(tau > 0.0, s"temperatureRatesWaterfill: tau must be > 0, got $tau")
    require(budgetFraction >= 0.0 && budgetFraction <= 1.0,
      s"temperatureRatesWaterfill: budgetFraction must be in [0,1], got $budgetFraction")
    require(counts.nonEmpty, "temperatureRatesWaterfill: no groups")
    counts.foreach { case (g, c) =>
      require(g != null, "temperatureRatesWaterfill: null group key " +
        "(drop null-group rows upstream)")
      require(c >= 1, s"temperatureRatesWaterfill: group '$g' has count $c") }
    require(counts.map(_._1).distinct.size == counts.size,
      "temperatureRatesWaterfill: duplicate group keys (the rate map would " +
        "silently keep one of each pair)")
    val n = counts.map(_._2).sum.toDouble
    val byGroup = counts.toMap
    val qs = counts.map { case (g, c) => g -> math.pow(c / n, 1.0 / tau) }
    val order = qs.sortBy { case (g, q) => (byGroup(g).toDouble / q, g) }
    val b = budgetFraction * n
    val z = qs.map(_._2).sum
    // remainders as total-minus-prefix-sum (not repeated subtraction) so a
    // SQL window cumsum replays the same float sequence
    var cumC = 0.0; var cumQ = 0.0
    var capping = true
    order.map { case (g, q) =>
      val c = byGroup(g).toDouble
      if (capping && c * (z - cumQ) <= (b - cumC) * q) {
        cumC += c; cumQ += q
        g -> 1.0
      } else {
        capping = false
        val f = math.max(0.0, (b - cumC) * (q / (z - cumQ)) / c)
        g -> BigDecimal(f).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      }
    }.toMap
  }

  /** Temperature-mixed deterministic subset: one O(groups) count
    * aggregation, rates from [[temperatureRates]], then the same narrow
    * rank-threshold filter as [[byFractionPerGroup]] — shuffle-free after
    * the count, nested across budget changes (f_g is monotone in the
    * budget, so a smaller budget's subset is contained in a larger
    * one's). NULL-group rows are dropped (no deterministic mixing
    * decision without a group — the null-id policy applied to groups). */
  def byTemperature(df: DataFrame, idCol: String, groupCol: String,
                    tau: Double, budgetFraction: Double): DataFrame =
    byTemperatureWith(df, idCol, groupCol, tau, budgetFraction,
      temperatureRates, "byTemperature")

  /** [[byTemperature]] with the exact-budget waterfilling rates. */
  def byTemperatureWaterfill(df: DataFrame, idCol: String, groupCol: String,
                             tau: Double, budgetFraction: Double): DataFrame =
    byTemperatureWith(df, idCol, groupCol, tau, budgetFraction,
      temperatureRatesWaterfill, "byTemperatureWaterfill")

  /** Deterministic EPOCH upsampling — the data-mixing "repeat source X
    * for 2.3 epochs" constructor. Each row gets ⌊f_g⌋ full copies plus
    * one more iff rank(id) < frac(f_g)·2³², emitted with an `epoch`
    * column (0-based copy index) so downstream packing and shuffling can
    * tell copies apart. Pure function of (id, group):
    * run/partitioning/cluster-size invariant; copies are MONOTONE in the
    * factor (the floor and the rank indicator both are), so mixes NEST
    * across factor changes the way subsets nest across budgets; f < 1
    * degenerates to [[byFractionPerGroup]] at rate f with an epoch-0 tag
    * (same rank threshold — spec-asserted). NARROW: project + generate
    * (explode of a 0..copies−1 sequence) — no shuffle, no state, the
    * output explodes in place on whatever partitioning the input has.
    *
    * NULL-group rows take `defaultFactor` (a factor map miss, same as
    * [[byFractionPerGroup]]); NULL-id rows are dropped (no identity → no
    * deterministic copy decision — the shared null-id policy). Factors
    * are capped at 1000 — an upsample beyond that is almost certainly a
    * unit bug, and the guard bounds the worst-case row explosion. */
  def upsampleByFactors(df: DataFrame, idCol: String, groupCol: String,
                        factors: Map[String, Double],
                        defaultFactor: Double = 1.0): DataFrame = {
    (factors.values.toSeq :+ defaultFactor).foreach(f =>
      require(f >= 0.0 && f <= 1000.0,
        s"upsampleByFactors: factor $f not in [0,1000]"))
    val fac = factors.foldLeft(lit(defaultFactor)) {
      case (acc, (g, f)) => when(col(groupCol) === lit(g), lit(f)).otherwise(acc)
    }
    val copies = floor(fac).cast("long") +
      when(md5Rank32(col(idCol)) <
        floor((fac - floor(fac)) * lit(4294967296.0)).cast("long"), 1L)
        .otherwise(0L)
    df.filter(col(idCol).isNotNull)
      .withColumn("__copies", copies)
      .filter(col("__copies") > 0)
      .withColumn("epoch", explode(sequence(lit(0L), col("__copies") - 1)))
      .drop("__copies")
  }

  private def byTemperatureWith(df: DataFrame, idCol: String,
                                groupCol: String, tau: Double,
                                budgetFraction: Double,
                                rater: (Seq[(String, Long)], Double, Double) => Map[String, Double],
                                op: String): DataFrame = {
    require(df.schema(groupCol).dataType.typeName == "string",
      s"$op: group column '$groupCol' must be string, got " +
        s"${df.schema(groupCol).dataType} (cast explicitly — a silent cast " +
        "would make the rate keys engine-ambiguous)")
    val nonNull = df.filter(col(groupCol).isNotNull)
    val counts = nonNull.groupBy(col(groupCol)).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq // O(groups)
    val rates = rater(counts, tau, budgetFraction)
    byFractionPerGroup(nonNull, idCol, groupCol, rates, defaultFraction = 0.0)
  }

  /** Per-group quota: the `cap` smallest-rank docs of each group. Equal to
    * `row_number().over(Window.partitionBy(grp).orderBy(rank, id)) <= cap`
    * — spec-asserted against that twin bit-for-bit.
    *
    * Why not the window: Spark 4's window is NOT naive here (a Partial
    * `WindowGroupLimit` keeps ≤cap rows per group per map task before the
    * exchange — probe-verified), and on one box it WINS wall clock. The
    * real difference is what crosses the wire, measured by
    * the quota-sampler probe at 10M rows with an incompressible 1 KB payload
    * (BASELINE.md §Round-4 quota-sampler probe):
    * the window ships ≤cap FULL rows per group per map task — 383 MB at
    * 32 tasks × 5 groups × cap 1000, a volume that grows with CLUSTER
    * WIDTH (tasks × groups × cap × rowWidth: ~12 GB at 1000 executors) —
    * while this path's shuffle is 4 MB of slim (id, rank) pairs,
    * invariant to row width and cluster size, paying instead one extra
    * (embarrassingly parallel, fixed-cost) corpus scan for the broadcast
    * semi-join. Pick the window when the corpus re-scan dominates (narrow
    * rows, small clusters); pick this when shuffle volume is the
    * constraint (wide rows, wide clusters, big caps) — the default here
    * because the engine targets the latter regime.
    *
    * The id must be integral (the aggregate's key is a long): fails loud
    * rather than silently null-casting string ids. */
  /** Greedy token-budget selection ("the best B tokens"): docs are laid
    * out in (score DESC, id ASC) order and the selected set is the longest
    * PREFIX whose inclusive running token total stays ≤ `budget` — the
    * constructor for "train on the top-quality slice of the corpus up to
    * a token budget" (budget in TOKENS, which is what an LM run actually
    * consumes, not rows). Prefix semantics — stop at the first doc that
    * would overflow — rather than first-fit packing: deterministic,
    * nested under budget growth, and exactly replayable as a SQL window
    * cumsum.
    *
    * Scale shape — the canonical TWO-PASS DISTRIBUTED PREFIX SUM (a
    * single global window is a one-partition sort at 10^12 docs):
    * range-partition slim (id, -score, tok) rows on the layout key, sum
    * tokens per range (O(parts) rows to the driver), prefix the partition
    * offsets there, then each partition computes its members' exact
    * global running totals locally (sort-within-partition + a broadcast
    * offset array — `mapPartitions` deliberately, because a
    * `Window.partitionBy(pid)` would force a second full shuffle of rows
    * the range exchange already placed). Partitions whose offset exceeds
    * the budget are pruned before the scan, and a partition stops
    * emitting at its first overflow (totals are monotone). The ranged
    * frame backs both passes, so it persists MEMORY_AND_DISK; the Managed
    * variant exposes `release()` (same contract as
    * [[Similarity.lshTopKIndexedBatchManaged]]).
    *
    * Contracts: ids must be UNIQUE (the layout key is (score, id) — a
    * duplicated id makes the cut nondeterministic between its copies;
    * dedup upstream) and non-null (dropped, as everywhere in [[Sample]]);
    * a null score or null/negative token count fails LOUD via
    * `raise_error` — silent nulls would corrupt the running total. The
    * selection is partitioning- and parallelism-invariant: range
    * boundaries move with sampling, but the prefix rule depends only on
    * the total order (spec-asserted). */
  def selectByTokenBudget(df: DataFrame, idCol: String, scoreCol: String,
                          tokCol: String, budget: Long,
                          parts: Int = 0): DataFrame =
    selectByTokenBudgetManaged(df, idCol, scoreCol, tokCol, budget, parts)._1

  /** Shared pass-1 scaffolding for the TWO-PASS DISTRIBUTED PREFIX SUMS
    * ([[selectByTokenBudget]] weighs rows by tokens, [[globalOrdinal]] by
    * 1): fail-loud slim projection, range repartition + persist, and the
    * EAGER per-range totals → cumulative offsets collect. A fail-loud
    * error during pass 1 (null score, bad token count) unpersists before
    * rethrowing, so retries over dirty inputs cannot accumulate cached
    * blocks. Returns (ranged slim frame: __id, __ns[, __tok], offsets,
    * release). */
  private def rangedPrefixOffsets(df: DataFrame, idCol: String,
                                  scoreCol: String, tokExpr: Option[Column],
                                  parts: Int, op: String)
      : (DataFrame, Array[Long], () => Unit) = {
    require(parts >= 0, s"$op: parts must be >= 0, got $parts")
    val spark = df.sparkSession
    val nParts = if (parts > 0) parts
      else spark.sessionState.conf.numShufflePartitions
    val base = Seq(
      col(idCol).as("__id"),
      when(col(scoreCol).isNull, raise_error(concat(
          lit(s"$op: null score for id "),
          col(idCol).cast("string"))).cast("double"))
        .otherwise(negate(col(scoreCol).cast("double"))).as("__ns"))
    val slim = df.filter(col(idCol).isNotNull)
      .select((base ++ tokExpr.map(_.as("__tok"))): _*)
    val ranged = slim.repartitionByRange(nParts, col("__ns"), col("__id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val release = () => { ranged.unpersist(blocking = false); () }
    val offsets = try {
      // per-range totals — O(parts) rows to the driver (partition 0 holds
      // the smallest keys = the highest scores, so range index order IS
      // layout order)
      val weight = if (tokExpr.isDefined) sum(col("__tok")) else count(lit(1))
      val totals = ranged.groupBy(spark_partition_id().as("__pid"))
        .agg(weight.as("t"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      val maxPid = if (totals.isEmpty) -1 else totals.keys.max
      val arr = new Array[Long](maxPid + 1)
      var acc = 0L
      (0 to maxPid).foreach { p => arr(p) = acc; acc += totals.getOrElse(p, 0L) }
      arr
    } catch { case t: Throwable => release(); throw t }
    (ranged, offsets, release)
  }

  /** [[selectByTokenBudget]] plus the release handle for its two-pass
    * persist. Call `release()` once the returned plan has been consumed;
    * calling earlier only costs a recompute. */
  def selectByTokenBudgetManaged(df: DataFrame, idCol: String,
                                 scoreCol: String, tokCol: String,
                                 budget: Long, parts: Int = 0)
      : (DataFrame, () => Unit) = {
    require(budget >= 0, s"selectByTokenBudget: budget must be >= 0, got $budget")
    val spark = df.sparkSession
    val idType = df.schema(idCol).dataType
    val tokExpr = when(col(tokCol).isNull || col(tokCol).cast("long") < 0,
        raise_error(concat(
          lit("selectByTokenBudget: null/negative token count for id "),
          col(idCol).cast("string"))).cast("long"))
      .otherwise(col(tokCol).cast("long"))
    val (ranged, offsets, release) = rangedPrefixOffsets(
      df, idCol, scoreCol, Some(tokExpr), parts, "selectByTokenBudget")
    val maxPid = offsets.length - 1
    val offB = spark.sparkContext.broadcast(offsets)
    val live = (0 to maxPid).filter(p => offsets(p) <= budget).map(_.asInstanceOf[Any])
    // pass 2: local sort + sequential running total per surviving range
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("__sel", idType)))
    val sorted = ranged
      .withColumn("__pid", spark_partition_id())
      .filter(col("__pid").isin(live: _*))
      .sortWithinPartitions(col("__ns"), col("__id"))
    val selected = sorted.mapPartitions { it =>
      var cum = 0L
      var pidInit = false
      var over = false
      it.flatMap { r =>
        if (!pidInit) { cum = offB.value(r.getInt(3)); pidInit = true }
        if (over) None
        else {
          cum += r.getLong(2)
          if (cum <= budget) Some(org.apache.spark.sql.Row(r.get(0)))
          else { over = true; None } // totals are monotone: nothing later fits
        }
      }
    }(org.apache.spark.sql.Encoders.row(outSchema))
    val out = df.join(selected, df(idCol) === col("__sel"), "left_semi")
    (out, release)
  }

  /** Corpus-wide 0-based ORDINAL by (score DESC, id ASC) — the curriculum
    * / priority-ordering primitive ("train on the best docs first",
    * "assign global sequence positions"). Returns a slim (id, ordinal)
    * frame; joining it back (or feeding it straight into packing) is the
    * caller's choice — at corpus scale that join is the expensive part
    * and not every consumer needs it.
    *
    * Same TWO-PASS DISTRIBUTED PREFIX SUM as [[selectByTokenBudget]], but
    * counting rows instead of tokens: range-partition slim (−score, id)
    * rows, O(parts) per-range counts to the driver, broadcast offsets,
    * local sort + running index per range. A global
    * `row_number().over(Window.orderBy(...))` is the one-partition sort
    * that dies at 10¹² rows; this keeps every task O(rows/parts) with
    * O(parts) driver state. Deterministic and partitioning-invariant
    * (spec-asserted against the window twin); NULL ids dropped (the
    * shared policy), NULL scores fail loud. */
  def globalOrdinal(df: DataFrame, idCol: String, scoreCol: String,
                    parts: Int = 0): (DataFrame, () => Unit) = {
    val spark = df.sparkSession
    val idType = df.schema(idCol).dataType
    val (ranged, offsets, release) = rangedPrefixOffsets(
      df, idCol, scoreCol, None, parts, "globalOrdinal")
    val offB = spark.sparkContext.broadcast(offsets)
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField(idCol, idType),
      org.apache.spark.sql.types.StructField("ordinal",
        org.apache.spark.sql.types.LongType, nullable = false)))
    val sorted = ranged
      .withColumn("__pid", spark_partition_id())
      .sortWithinPartitions(col("__ns"), col("__id"))
    val out = sorted.mapPartitions { it =>
      var cum = 0L
      var pidInit = false
      it.map { r =>
        if (!pidInit) { cum = offB.value(r.getInt(2)); pidInit = true }
        val o = cum; cum += 1L
        org.apache.spark.sql.Row(r.get(0), o)
      }
    }(org.apache.spark.sql.Encoders.row(outSchema))
    (out, release)
  }

  def quotaPerGroup(df: DataFrame, idCol: String, groupCol: String,
                    cap: Int): DataFrame = {
    require(cap >= 1, s"quotaPerGroup: cap must be >= 1, got $cap")
    val idType = df.schema(idCol).dataType
    require(Seq("long", "integer", "short", "byte").contains(idType.typeName),
      s"quotaPerGroup: id column '$idCol' must be integral, got $idType " +
        "(a string id would silently null under the long cast)")
    // score = -rank: TopKPairsAgg keeps (score DESC, id ASC) = (rank ASC,
    // id ASC), the oracle's row_number ordering; 32-bit ranks are exact
    // as Doubles so the negation loses nothing
    val keep = df
      .select(col(groupCol).as("g"), col(idCol).cast("long").as("id"),
        negate(md5Rank32(col(idCol)).cast("double")).as("s"))
      .groupBy(col("g"))
      .agg(graft.sketch.TopKPairsAgg.topkPairs(col("id"), col("s"), cap).as("tk"))
      .select(col("g").as(groupCol), explode(col("tk")).as("p"))
      .select(col(groupCol), col("p.id").as(idCol))
    // join on (group, id), not id alone: an id kept in one group must not
    // smuggle its twin in another group past that group's cap. The group
    // key is NULL-SAFE (<=>): a null group is its own partition to the
    // window twin, so plain equality would silently drop it entirely.
    // keep is O(groups × cap) by construction — broadcast it, or the semi
    // join shuffles the corpus (probe-measured before the hint)
    val k = broadcast(keep.withColumnRenamed(groupCol, "__g")
      .withColumnRenamed(idCol, "__i"))
    df.join(k, df(groupCol) <=> k("__g") && df(idCol) === k("__i"), "left_semi")
  }
}
