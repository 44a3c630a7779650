package graft

import org.apache.spark.sql.DataFrame

/** Regression tripwires on the physical plans of representative queries —
  * guards against the optimizer-inlining class of bugs found in round 2
  * (computed-column predicates pushed below exchanges re-run heavy
  * expressions serially on the scan partition). */
class PlanGuardSpec extends SparkSpec {

  private val d = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, d).queryExecution.executedPlan.toString

  test("near-dup plans never evaluate tokenization inside a scan-side filter") {
    for (q <- Seq("llm_dedup_minhash", "llm_dedup_ngram", "llm_dedup_simhash")) {
      val p = plan(q)
      // tokenization appears in projections; a Filter carrying it means an
      // optimizer rule inlined the computed column as a scan predicate
      val badFilter = p.linesIterator.exists(l =>
        l.trim.startsWith("+- Filter") && l.contains("regexp_replace"))
      assert(!badFilter, s"$q: tokenization inlined into a Filter:\n$p")
    }
  }

  test("star queries keep partition/data filters at the scan") {
    val p = plan("q3_shipping_priority")
    assert(p.contains("PushedFilters") || p.contains("Scan parquet"),
      s"q3 lost its parquet scan:\n$p")
  }

  test("documents scans prune to the referenced columns only") {
    val p = plan("llm_lang_id")
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(read.contains("doc_id") && read.contains("text") && read.contains("lang"))
    assert(!read.contains("source") && !read.contains("n_chars"),
      s"unpruned columns in: $read")
  }

  test("self-join-free candidate generation: one scan per near-dup query") {
    // bucket-pair expansion reads the corpus once per pipeline branch; a
    // reintroduced self-join would double the parquet scans
    for ((q, maxScans) <- Seq("llm_dedup_minhash" -> 3, "llm_dedup_simhash" -> 1,
        // embed: small/star branches share one banding exchange (reused);
        // the probe + broadcast collect are separate bounded jobs
        "llm_dedup_embed" -> 2)) {
      val scans = plan(q).linesIterator.count(_.contains("Scan parquet"))
      assert(scans <= maxScans, s"$q has $scans parquet scans (max $maxScans)")
    }
  }

  test("fused indicator grid exchanges the candles ONCE however wide the grid") {
    // the whole point of indicatorFactsFused: the per-branch union moves the
    // candle set once per (indicator, period) combo (135 exchanges at the
    // reference's 45-combo grid); the fused fold must stay at ONE exchange
    // + one sort regardless of grid width
    val candles = graft.queries.TradingQueries.queries("a1_ohlc_1m")(spark, d)
      .selectExpr("pair", "'1m' AS timeframe",
        "CAST(time_s AS TIMESTAMP) AS time", "close")
    def exchanges(df: DataFrame): Int =
      df.queryExecution.executedPlan.toString
        .linesIterator.count(_.contains("Exchange"))
    val base = exchanges(candles)
    val fused = graft.operators.Indicators.indicatorFactsFused(
      candles, Seq("RSI", "SMA", "EMA"), Seq(14, 28, 56))
    // the 9-combo grid adds exactly ONE exchange on top of candle
    // construction (the per-branch union would add 9)
    assert(exchanges(fused) == base + 1,
      s"fused grid added ${exchanges(fused) - base} exchanges (want 1)")

    // and the SAME invariant at the reference's full default 45-combo
    // grid, measured on the shipped f3c gate: the whole indicator stage
    // on top of the 5-timeframe candle flow is still ONE exchange —
    // 45 Prefect tasks' worth of shuffle collapsed into one
    val ticks = graft.queries.TradingQueries.ticks(spark, d)
    val cfg = new graft.Config(Map.empty)
    val candBase = exchanges(graft.operators.Flows.candleFlow(ticks, cfg))
    val full = exchanges(graft.operators.Flows.indicatorFlow(ticks, cfg))
    assert(full == candBase + 1,
      s"full 45-combo grid added ${full - candBase} exchanges over the " +
        s"candle flow (want 1)")
  }

  /** Runs `df` and returns its executed plan; an adaptive plan holds its
    * final form once it has run. */
  private def executed(df: DataFrame): org.apache.spark.sql.execution.SparkPlan = {
    df.collect()
    df.queryExecution.executedPlan
  }

  private object AqeWalk extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

  /** Every node of an executed plan and of its subqueries, stages unwrapped. */
  private def planNodes(p: org.apache.spark.sql.execution.SparkPlan) =
    AqeWalk.collectWithSubqueries(p) { case n => n }

  private def exchangesRun(p: org.apache.spark.sql.execution.SparkPlan) =
    planNodes(p).collect { case e: org.apache.spark.sql.execution.exchange.Exchange => e }

  /** Runs `f` on a fresh temporary directory and deletes it afterwards. */
  private def withTempDir[A](prefix: String)(f: String => A): A = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    def rm(x: java.io.File): Unit = {
      if (x.isDirectory) x.listFiles().foreach(rm)
      x.delete(); ()
    }
    try f(dir.toString) finally rm(dir.toFile)
  }

  test("candle flow builds every timeframe in ONE exchange") {
    // one aggregate over (pair, timeframe, bucket) keys; the resample
    // chain shuffled once for the 1m bars and once per derived timeframe.
    // The ticks are read back from parquet, as the spine's candle step
    // reads them, so the tick dedup's exchange is not in the plan.
    val cfg = new graft.Config(Map.empty)
    assert(cfg.timeframes.size === 5)
    withTempDir("graft-planguard-ticks-") { dir =>
      graft.operators.Ticks.normalize(graft.sources.Tables.events(spark, d))
        .write.mode("overwrite").parquet(dir)
      val p = executed(graft.operators.Flows.candleFlow(spark.read.parquet(dir), cfg))
      val ex = exchangesRun(p)
      assert(ex.size === 1, s"candle flow ran ${ex.size} exchanges (want 1):\n$p")
    }
  }

  test("SMA-cross strategy: no join, no dynamic pruning, ONE exchange") {
    // facts partitioned by pair, as the live grid store is: the self-join
    // form planned a broadcast join plus a dynamic-pruning subquery over
    // this scan
    withTempDir("graft-planguard-sma-") { dir =>
      graft.operators.Indicators.indicatorFacts(
          graft.queries.TradingQueries.candles1m(spark, d), Seq("SMA"), Seq(14, 28))
        .write.mode("overwrite").partitionBy("pair").parquet(dir)
      val p = executed(graft.operators.Signals.strategy(spark.read.parquet(dir), 14, 28))
      val nodes = planNodes(p)
      val joins = nodes.collect { case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j }
      assert(joins.isEmpty, s"strategy plans a join:\n$p")
      val dpp = nodes.flatMap(_.expressions).exists(_.exists(
        _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.DynamicPruning]))
      assert(!dpp && !p.toString.contains("dynamicpruning"),
        s"strategy plans a dynamic-pruning subquery:\n$p")
      val ex = exchangesRun(p)
      assert(ex.size === 1, s"strategy ran ${ex.size} exchanges (want 1):\n$p")
    }
  }

  test("q21 reads lineitem exactly thrice (l1 + semi + anti) and orders once") {
    // TPC-H Q21's EXISTS/NOT EXISTS require two correlated self-joins over
    // the fact — three lineitem references total. A fourth scan would mean
    // the late-line predicate re-joined orders on a right side (the
    // correlation-through-l1 optimization regressed); two orders scans
    // would mean the status filter stopped being shared.
    val p = plan("q21_waiting_suppliers")
    val li = p.linesIterator.count(l => l.contains("Scan parquet") && l.contains("lineitem"))
    val ord = p.linesIterator.count(l => l.contains("Scan parquet") && l.contains("orders"))
    assert(li === 3, s"q21 lineitem scans: $li (want 3)\n$p")
    assert(ord === 1, s"q21 orders scans: $ord (want 1)\n$p")
  }

  test("q20 scans lineitem once: per-part totals reuse the per-(part,supplier) shuffle") {
    // The per-part total is a re-aggregation of the per-(part,supplier)
    // output, not an independent aggregate over the fact — the second
    // consumer must be fed by exchange reuse (one fact scan + one fact
    // shuffle executed; losing reuse doubles fact traffic at 100 TB).
    // Reuse needs the two Exchange subtrees canonically identical, which
    // the query guarantees with explicit null guards on the shared base
    // (a one-sided INFERRED isnotnull breaks the match). AQE decides
    // reuse at runtime, so execute and inspect the final plan.
    val df = SparkEntry.queries("q20_dominant_suppliers")(spark, d)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ReusedExchange"), s"q20 lost exchange reuse:\n$p")
  }

  test("bm25 reuses the tf exchange between the join and df-aggregation branches") {
    // df is an aggregation OF tf; without explicit null guards the join
    // branch's inferred isnotnull filters make the two tf Exchange
    // subtrees differ and the corpus token-explode runs twice
    val df = SparkEntry.queries("llm_bm25_topk")(spark, d)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ReusedExchange"), s"bm25 lost tf exchange reuse:\n$p")
  }

  test("source sketch scans the corpus once: the pair join reuses the group-by exchange") {
    // sourceSketchSim self-joins the per-source sketches; the heavy stage
    // (shingle explode + hash + bottom-k group-by shuffle) must be computed ONCE,
    // with the broadcast side re-aggregating from a ReusedExchange — two
    // corpus scans here would double the dominant cost at 100 TB
    val df = SparkEntry.queries("llm_source_sketch")(spark, d)
    df.collect()
    // AdaptiveSparkPlan.toString prints Final AND Initial sections — only
    // the final (executed) one counts
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(p.contains("ReusedExchange"),
      s"sketch pair join lost exchange reuse (corpus scanned twice):\n$p")
    assert(p.linesIterator.count(l => l.contains("Scan parquet") &&
      l.contains("documents")) === 1,
      s"expected exactly one documents scan:\n$p")
  }

  test("shingling never re-tokenizes inside a lambda: tokens are projected first") {
    // Catalyst shares no subexpression across a lambda boundary, so a
    // tokenizer (regexp_replace → trim → lower → split) inlined into the
    // per-position shingle `transform` runs once per shingle position —
    // quadratic in the document's words. Walk every node's expressions in
    // the optimized plan: no lambda body may carry a tokenizer piece.
    import org.apache.spark.sql.catalyst.expressions.{LambdaFunction, Lower,
      RegExpReplace, StringSplit}
    for (q <- Seq("llm_source_sketch", "llm_dedup_minhash", "llm_dedup_ngram")) {
      val opt = SparkEntry.queries(q)(spark, d).queryExecution.optimizedPlan
      val bad = opt.collectWithSubqueries { case node => node }
        .flatMap(_.expressions)
        .flatMap(_.collect { case lf: LambdaFunction => lf })
        .filter(_.function.exists {
          case _: RegExpReplace | _: StringSplit | _: Lower => true
          case _ => false
        })
      assert(bad.isEmpty,
        s"$q: tokenization inside a lambda body:\n${bad.mkString("\n")}")
    }
  }

  test("packing never sorts the full corpus on one task") {
    // the two-phase prefix sum's only unpartitioned window runs over the
    // per-bucket totals (≤ buckets rows); a global Sort directly above the
    // documents scan would mean the single-task cumsum came back
    val p = plan("llm_pack_sequences")
    val lines = p.linesIterator.toSeq
    // exactly ONE single-partition exchange — the deliberate tiny one over
    // the per-bucket totals (aggregated to ≤ buckets rows before it)
    assert(lines.count(_.contains("Exchange SinglePartition")) === 1,
      s"expected exactly one deliberate SinglePartition exchange:\n$p")
    assert(p.contains("_bt"), s"per-bucket totals aggregate missing:\n$p")
    // the full-corpus running sum must keep its _b partitioning
    assert(lines.exists(l => l.contains("Window") && l.contains("_b#")
      && l.contains("_lc")), s"per-bucket running-sum window missing:\n$p")
  }

  test("corpus shuffle never sorts the full corpus on one task") {
    // the global rank composes from _b-partitioned row_numbers + a tiny
    // offsets window; a global Sort/SinglePartition over the corpus would
    // mean the hash order came from a single-task sort
    val p = plan("llm_shuffle_shards")
    val lines = p.linesIterator.toSeq
    assert(lines.count(_.contains("Exchange SinglePartition")) === 1,
      s"expected exactly one deliberate SinglePartition exchange (offsets):\n$p")
    assert(lines.exists(l => l.contains("Window") && l.contains("_b#")
      && l.contains("row_number")), s"bucket-partitioned rank window missing:\n$p")
  }

  test("capped ngram semi-joins the df valve below the postings aggregate") {
    val p = plan("llm_dedup_ngram_capped")
    val lines = p.linesIterator.toSeq
    val agg = lines.indexWhere(_.contains("collect_list"))
    val semi = lines.indexWhere(_.contains("LeftSemi"))
    assert(semi >= 0, s"df-cap semi-join missing from the capped plan:\n$p")
    // tree prints parents first: the aggregate ABOVE the semi-join means the
    // cap bites before any posting array materializes
    assert(agg >= 0 && agg < semi,
      s"df-cap semi-join must feed the collect_list aggregate:\n$p")
    // the uncapped path stays join-free (maxDf.fold identity)
    assert(!plan("llm_dedup_ngram").contains("LeftSemi"),
      "uncapped ngram grew a join")
  }

  test("decontamination expands only cross-side pairs via one inverted index") {
    val p = plan("llm_decontaminate")
    // one groupBy over the tagged union → exactly one aggregate pair of
    // the postings (plus the final count agg); a per-side join on the
    // shingle column would appear as SortMergeJoin/ShuffledHashJoin
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"decontaminate picked a shingle join over the inverted index:\n$p")
  }

  test("chunking stays a narrow transformation: only the corpus-spread exchange") {
    // chunkWindows itself is shuffle-free; the single Exchange in the plan
    // must be the query layer's deliberate test-corpus repartition
    val p = plan("llm_chunk_windows")
    val exchanges = p.linesIterator.count(_.contains("Exchange"))
    assert(exchanges === 1, s"chunking grew a shuffle beyond the corpus spread:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("Window"),
      s"chunking must not join or window:\n$p")
  }

  test("editDistJoin: the candidate join is shuffled, never a broadcast or cartesian") {
    // round-14's measured 10x trap: post-Generate size estimates made
    // Catalyst broadcast the multi-million-row segment table (60 s at
    // 32 g, OOM at stock driver memory); the shuffle_hash hint is
    // semantically load-bearing — both sides are corpus-derived explode
    // products on a uniform key. The degenerate short-string tail must
    // stay an equi-join (no CartesianProduct ever).
    val p = plan("llm_editdist_join")
    assert(p.contains("ShuffledHashJoin"),
      s"editDistJoin candidate join lost its shuffle_hash shape:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"editDistJoin grew a cartesian:\n$p")
  }

  test("wordpiece: the word-type-scale attach stays shuffled; no broadcast joins at all") {
    // the second round-14 10x trap: checkpoint'd RDD scans have no stats
    // and the rollup join BuildLeft-broadcast the corpus-scale exploded
    // docWords table. The r17 encoder collects the bounded vocab (no vocab
    // join remains) and attaches the typed greedy-walk output with a
    // pinned shuffle_hash — the ONLY join left, and it must stay shuffled.
    val p = plan("llm_wordpiece")
    assert(p.contains("ShuffledHashJoin"),
      s"wordpiece lost its shuffle_hash attach join:\n$p")
    val bhj = p.linesIterator.count(_.contains("BroadcastHashJoin"))
    assert(bhj === 0, s"wordpiece must not broadcast-join anything ($bhj):\n$p")
  }

  test("span dedup: no joins, no postings — two shuffles plus the corpus spread") {
    val p = plan("llm_dedup_spans")
    assert(!p.contains("Join"), s"span dedup must not join:\n$p")
    // hash(first-wins window) + doc reassembly groupBy + the query layer's
    // deliberate corpus-spread repartition = 3 exchanges, nothing more
    val exchanges = p.linesIterator.count(_.contains("Exchange"))
    assert(exchanges <= 3, s"span dedup grew extra shuffles ($exchanges):\n$p")
  }

  test("vocab coverage joins the bounded vocab by broadcast, never a shuffle join") {
    val p = plan("llm_vocab_coverage")
    assert(p.contains("BroadcastHashJoin"),
      s"vocab must broadcast into the token stream:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"vocab joined by shuffle — corpus-sized exchange at scale:\n$p")
  }

  test("q6 pushes all three predicate families into the lineitem scan") {
    // read the scan's metadata directly — the plan's toString truncates
    // long PushedFilters lists
    val pushed = SparkEntry.queries("q6_forecast_revenue")(spark, d)
      .queryExecution.sparkPlan // pre-AQE: the scan is directly collectible
      .collectFirst { case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.metadata("PushedFilters") }
      .getOrElse(fail("no parquet scan in the q6 plan"))
    for (f <- Seq("GreaterThanOrEqual(l_shipdate", "LessThan(l_quantity,24.0)",
        "GreaterThanOrEqual(l_discount,0.05)", "LessThanOrEqual(l_discount,0.07)"))
      assert(pushed.contains(f), s"$f must reach the scan, got: $pushed")
  }

  test("q14 joins the part dim by broadcast; lineitem date filter is pushed") {
    val p = plan("q14_promo_share")
    assert(p.contains("BroadcastHashJoin"), s"part dim must broadcast:\n$p")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), GreaterThanOrEqual(l_shipdate"),
      s"shipdate filter must reach the lineitem scan:\n$p")
  }

  test("runtime bloom filter prunes the fact side of a selective shuffled join") {
    // At 100 TB the win for a selective dim filter on a SHUFFLED fact join
    // is Spark's InjectRuntimeFilter: a bloom filter built from the dim's
    // join keys is pushed into the fact scan as might_contain(...), so
    // non-matching fact rows die before the exchange. Broadcast joins get
    // this for free (the hash relation IS the filter); this proves the
    // shuffled path keeps it too. Thresholds are relaxed because the rule
    // requires a plausibly-large application side; results must be
    // byte-identical with the filter off.
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> util.Try(Option(conf.get(k))).toOption.flatten).toMap
    def q() = {
      import org.apache.spark.sql.functions.col
      graft.sources.Tables.lineitem(spark, d)
        .join(graft.sources.Tables.supplier(spark, d)
          .filter(col("s_acctbal") < 0).select(col("s_suppkey")),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("l_suppkey"))
        .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n"))
    }
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "false")
      val base = q().collect().map(_.toString).sorted
      conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
      val df = q()
      val got = df.collect().map(_.toString).sorted
      assert(got.toSeq === base.toSeq, "runtime filter changed results")
      val p = df.queryExecution.optimizedPlan.toString
      assert(p.contains("might_contain"),
        s"InjectRuntimeFilter did not fire on the fact side:\n$p")
    } finally saved.foreach { case (k, v) =>
      v.fold(conf.unset(k))(conf.set(k, _)) }
  }

  test("kmeans assignment partial-aggregates before its shuffle; no window over n*k rows") {
    // the argmax is max_by(struct) — a declarative aggregate whose partial
    // phase reduces each partition to <= one row per id BEFORE the exchange;
    // a row_number rewrite would shuffle every scored (doc x centroid) row
    val p = plan("llm_kmeans_assign")
    assert(p.contains("partial_max_by") || p.contains("partial_max"),
      s"kmeans argmax lost its partial-aggregation phase:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"centroid pairing must be a broadcast, not a cartesian:\n$p")
  }

  test("semantic dedup pairs only within clusters: equi-join on cluster, no all-pairs") {
    val p = plan("llm_dedup_semantic")
    // the doc-pair join must key on the cluster (SMJ or shuffled hash with
    // the cosine/id predicates as residual conditions)
    assert(p.linesIterator.exists(l =>
      (l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin")) &&
        l.contains("cluster") && l.contains("cosine_sim")),
      s"pair join lost its cluster equi-key:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"semantic dedup degraded to an all-pairs join:\n$p")
    // the only nested-loop allowed is the k-row centroid broadcast fan-out
    // inside the (checkpointed, so evaluated once) assignment
    assert(p.linesIterator.count(_.contains("BroadcastNestedLoopJoin")) === 0,
      s"assignment must be pre-materialized (localCheckpoint), not replayed:\n$p")
  }

  test("lm score never joins on the raw corpus: bigram counts build sides only") {
    // the p(b|a) table joins cab (distinct bigrams) with ca (distinct
    // contexts) — both compact aggregates; and every aggregate in the plan
    // map-side combines
    val p = plan("llm_lm_score")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"lm score grew a non-equi join:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"bigram counting must map-side combine:\n$p")
  }

  test("cross-pair rolling windows are always combo-partitioned, never global") {
    // round-8 verdict's one scale-killer: w12's Window.orderBy(time) with
    // no partition key serialized the whole aligned series through one
    // task. Both the 2-pair gate and the all-combos generalization must
    // key every window (lag/row_number/moment sums) by the pair combo.
    for (q <- Seq("w12_roll_corr_30m", "w13_roll_corr_all")) {
      val plan = SparkEntry.queries(q)(spark, d).queryExecution.optimizedPlan
      val unpartitioned = plan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window
            if w.partitionSpec.isEmpty => w
      }
      assert(unpartitioned.isEmpty,
        s"$q has ${unpartitioned.size} unpartitioned Window(s):\n$plan")
    }
  }

  test("unpartitioned windows exist only where the input is provably bounded") {
    // A Window with no partition key serializes its whole input through
    // one task — fatal on a fact-sized input at 100 TB, fine on a
    // deliberately tiny tail (per-bucket totals, a bounded dim). Every
    // such window must be on this allowlist WITH its boundedness
    // argument; anything new fails the build until argued here.
    val allowed: Map[String, String] = Map(
      // prefix-sum over per-bucket totals: <= `buckets` (256) rows by
      // construction (the corpus-sized running sum is _b-partitioned)
      "llm_pack_sequences" -> "per-bucket totals, <= buckets rows",
      // packExamples rides packSequences' machinery: the same deliberate
      // tiny window over per-bucket totals
      "llm_pack_examples" -> "per-bucket totals, <= buckets rows",
      // heaps curve's cum-sum runs over the aggregated checkpoint rows
      "llm_heaps_curve" -> "per-checkpoint aggregate, <= #checkpoints rows",
      // decile edges over an aggregated histogram of value buckets
      "a9_equidepth_bins" -> "aggregated bucket histogram, not raw rows",
      // global running total over o_orderdate DAYS — bounded by calendar
      "w_running_total" -> "per-day aggregate, rows = distinct days",
      // the backtest's equity curve is one portfolio's trade sequence —
      // inherently serial (each trade depends on the previous position)
      "f6_backtest" -> "single portfolio fold, rows = signals per pair",
      "f6b_trades" -> "single portfolio fold",
      "f6c_backtest_summary" -> "single portfolio fold",
      // signal edges per pair ride a pair-keyed window upstream; the
      // global tail ranks the handful of surviving cross events
      "j5_range_signal_candle" -> "cross-event signals, ~1e2 rows",
      // rank window sits ABOVE the TakeOrdered limit: <= topV rows (its
      // own plan test asserts the limit comes first)
      "llm_vocab_topk" -> "post-TakeOrdered rank, <= topV rows",
      // cumulative window over the quality histogram: its domain is the
      // fixed 6-dp grid of [0,1] — <= 1e6+1 rows at ANY corpus size
      "llm_curriculum" -> "6-dp quality-grid histogram, <= 1e6+1 rows",
      // corpusShuffle's offset prefix-sum runs over the 256 per-bucket
      // counts (the corpus-sized rank window is _b-partitioned)
      "llm_shuffle_shards" -> "per-bucket counts, <= 256 rows")
    val streaming = graft.queries.StreamQueries.queries.keySet
    val offenders = SparkEntry.queries.filterNot(q => streaming(q._1))
      .flatMap { case (name, fn) =>
        val plan = fn(spark, d).queryExecution.optimizedPlan
        val n = plan.collect {
          case w: org.apache.spark.sql.catalyst.plans.logical.Window
              if w.partitionSpec.isEmpty => w
        }.size
        if (n > 0 && !allowed.contains(name)) Some(s"$name ($n)") else None
      }
    assert(offenders.isEmpty,
      "unpartitioned Window in queries without a boundedness argument: " +
        offenders.mkString(", "))
  }

  test("window-heavy queries stay at their minimum Window-pass count") {
    // Each Window node is a full O(n) pass over the partition. Window
    // functions added via withColumn chains (or over derived-expression
    // arguments) get staged one node each by the analyzer; grouping them
    // in single selects with attribute arguments collapses them. These
    // counts are the per-query minimum (first count includes the
    // upstream dedup window where the tick pipeline feeds the query) —
    // a regression to staged extraction fails here.
    for ((q, maxWindows) <- Seq(
        "w8_zscore_outliers" -> 3,  // dedup rn + (rn,cum,cumsq) + 4 lags
        "u6_bollinger_20_1m" -> 2,  // dedup rn + (rn, both sums)
        "u14_ichimoku_1m" -> 3,     // dedup rn + frame aggs + shifts
        // w12's 2-pair form filters the candle pipeline once per side, so
        // the dedup window appears in BOTH logical branches (physically
        // one — the exchange is reused): 2 dedup + lags + (rn, 5 sums)
        "w12_roll_corr_30m" -> 4,
        "w13_roll_corr_all" -> 4)) {
      val plan = SparkEntry.queries(q)(spark, d).queryExecution.optimizedPlan
      val n = plan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
      }.size
      assert(n <= maxWindows, s"$q grew to $n Window passes (max $maxWindows)")
    }
  }

  test("unigram tokenizer: word-scale joins shuffled, only the bounded model broadcasts") {
    // the wordpiece discipline applied to the DP frames: the vocabulary-
    // bounded model is the ONE legitimate broadcast (per Viterbi pass);
    // the n_pieces rollup join against corpus-scale docWords is pinned
    // shuffle_hash (stats-blind typed-fold output)
    val p = plan("llm_unigram_lm")
    assert(p.contains("ShuffledHashJoin"),
      s"unigram lost its shuffle_hash rollup join:\n$p")
    val bhj = p.linesIterator.count(_.contains("BroadcastHashJoin"))
    assert(bhj <= 2, s"unigram broadcasts more than the model joins ($bhj):\n$p")
  }

  test("joins over stats-blind inputs (explode products, checkpoint'd RDDs) pin a strategy") {
    // The round-14 trap, twice: Catalyst's size estimate below a Generate
    // (explode) is a guess, and below a localCheckpoint (LogicalRDD) it is
    // defaultSizeInBytes — both made it BROADCAST multi-million-row build
    // sides at 10x (editdist 60 s/OOM, wordpiece rollup). The standing
    // rule: a join whose either side descends from a Generate or a
    // checkpoint'd RDD must carry an EXPLICIT strategy hint (shuffle_hash
    // for the corpus/word-scale shapes, broadcast for provably bounded
    // sides) — removing either r14 pin turns this sweep red. Joins whose
    // stats-blind side is bounded by construction may instead be
    // allowlisted here WITH the boundedness argument.
    import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
    import org.apache.spark.sql.catalyst.plans.logical.Join
    import org.apache.spark.sql.execution.{GenerateExec, RDDScanExec, SparkPlan}
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec}
    // a grouping-free (grand-total) aggregate emits exactly ONE row
    // whatever lies beneath it — a provable stats barrier, so the walk
    // stops there (the one-row cross joins every scalar-total pattern
    // builds are fine by construction)
    def statsBlind(p: SparkPlan): Boolean = p match {
      case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec
          if a.groupingExpressions.isEmpty => false
      case _: GenerateExec => true
      case _: RDDScanExec => true
      case other => other.children.exists(statsBlind)
    }
    def hinted(p: SparkPlan): Boolean =
      p.logicalLink.exists {
        case j: Join =>
          j.hint.leftHint.flatMap(_.strategy).nonEmpty ||
            j.hint.rightHint.flatMap(_.strategy).nonEmpty
        case _ => false
      }
    val streaming = graft.queries.StreamQueries.queries.keySet
    val offenders = SparkEntry.queries.filterNot(q => streaming(q._1))
      .flatMap { case (name, fn) =>
        // sparkPlan = the planner's join choices before AQE wrapping —
        // exactly where the stats-blind estimate picks the strategy
        val plan = fn(spark, d).queryExecution.sparkPlan
        val bad = plan.collect {
          case b: BroadcastHashJoinExec
              if statsBlind(b.buildSide match {
                case BuildLeft => b.left
                case BuildRight => b.right
              }) && !hinted(b) =>
            val bs = b.buildSide match { case BuildLeft => b.left; case BuildRight => b.right }
            b.nodeName + " keys=" + b.leftKeys.mkString(",") + " build=[" + bs.output.map(_.name).mkString(",") + "] top=" + bs.nodeName
          case b: BroadcastNestedLoopJoinExec
              if statsBlind(b.buildSide match {
                case BuildLeft => b.left
                case BuildRight => b.right
              }) && !hinted(b) => b.nodeName
        }
        if (bad.nonEmpty)
          Some(s"$name:\n  ${bad.mkString("\n  ")}")
        else None
      }
    assert(offenders.isEmpty,
      "broadcast joins building a Generate-/checkpoint-descended side " +
        "without an explicit hint:\n" + offenders.mkString("\n"))
  }

  test("no batch query's analyzed plan carries a TIMESTAMP_NTZ attribute") {
    // Event-time typing is POLICY, not luck: fixtures have shipped `ts` as
    // ns-long, µs NTZ, and µs UTC across driver regenerations, and every
    // flavor must be canonicalized to TimestampType at the source readers
    // (Tables.normalizeEventTime) — an NTZ column surviving into a plan
    // breaks withWatermark / unix_micros downstream (round-8 regression).
    // Streaming gates execute real streams on invocation, so they are
    // covered by their own gate runs; everything else is analyzed here.
    import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType, TimestampNTZType}
    def hasNtz(dt: DataType): Boolean = dt match {
      case TimestampNTZType => true
      case s: StructType => s.fields.exists(f => hasNtz(f.dataType))
      case a: ArrayType => hasNtz(a.elementType)
      case m: MapType => hasNtz(m.keyType) || hasNtz(m.valueType)
      case _ => false
    }
    val streaming = graft.queries.StreamQueries.queries.keySet
    val offenders = SparkEntry.queries.filterNot(q => streaming(q._1))
      .flatMap { case (name, fn) =>
        val plan = fn(spark, d).queryExecution.analyzed
        // every intermediate attribute surfaces in some node's output, so
        // scanning node outputs covers the whole resolved tree
        val ntz = plan.collect { case p => p.output.filter(a =>
          hasNtz(a.dataType)) }.flatten
        if (ntz.nonEmpty) Some(s"$name: ${ntz.map(_.toString).distinct.mkString(", ")}")
        else None
      }
    assert(offenders.isEmpty,
      s"TIMESTAMP_NTZ leaked past the source readers:\n${offenders.mkString("\n")}")
  }

  test("no batch gate emits a nested (array/map/struct) output column") {
    // The driver's correctness harness sorts result rows BY VALUE in pandas
    // before hashing, and numpy array cells are unhashable in sort_values —
    // so a gate emitting ARRAY (or MAP/STRUCT) columns can NEVER go green,
    // even when every value matches (the r11 llm_pack_examples red row).
    // Library APIs may return arrays; GATES must serialize (array_join) or
    // explode them. Streaming gates execute real streams on invocation and
    // are covered by tools/check_oracle.py's parquet-schema guard instead.
    import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
    val streaming = graft.queries.StreamQueries.queries.keySet
    val offenders = SparkEntry.queries.filterNot(q => streaming(q._1))
      .flatMap { case (name, fn) =>
        val nested = fn(spark, d).schema.fields.collect {
          case f if f.dataType.isInstanceOf[ArrayType] ||
            f.dataType.isInstanceOf[MapType] ||
            f.dataType.isInstanceOf[StructType] =>
            s"${f.name}:${f.dataType.simpleString}"
        }
        if (nested.nonEmpty) Some(s"$name -> ${nested.mkString(", ")}")
        else None
      }
    assert(offenders.isEmpty,
      s"gate output schemas with driver-unhashable nested columns:\n" +
        offenders.mkString("\n"))
  }

  test("streaming operator plans: every Window partitioned, no NTZ attribute") {
    // The batch sweeps above skip the streaming GATES (invoking them runs
    // real checkpointed streams), but the streaming OPERATORS analyze
    // without executing — a streaming Dataset's logical plan exists before
    // any writeStream.start(). Sweep every streaming transform over
    // MemoryStream inputs for the same two plan invariants: no
    // unpartitioned Window (one-task serialization) and no TIMESTAMP_NTZ
    // attribute (breaks withWatermark/unix_micros — the round-8 class).
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType, TimestampNTZType}
    import graft.streaming.{SeqTick, Streams, TickRow}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    def hasNtz(dt: DataType): Boolean = dt match {
      case TimestampNTZType => true
      case s: StructType => s.fields.exists(f => hasNtz(f.dataType))
      case a: ArrayType => hasNtz(a.elementType)
      case m: MapType => hasNtz(m.keyType) || hasNtz(m.valueType)
      case _ => false
    }
    val ticks = MemoryStream[TickRow].toDF()
    val ticks2 = MemoryStream[TickRow].toDF()
    val seqTicks = MemoryStream[SeqTick].toDS()
    val events = MemoryStream[(String, java.sql.Timestamp, Double)].toDF()
      .toDF("user_id", "ts", "value")
    val existing = Seq(("X", ts("2024-01-01 00:00:00"))).toDF("pair", "sec")
    val wire = MemoryStream[String].toDF().toDF("value")
    val plans = Map[String, org.apache.spark.sql.DataFrame](
      "parseTicks" -> Streams.parseTicks(wire),
      "t1_dedup" -> Streams.dedupTicks(ticks),
      "t11_dedup_bounded" -> Streams.dedupTicksBounded(ticks),
      "t12_anti_static" -> Streams.antiJoinStatic(ticks, existing),
      "t2_ohlc" -> Streams.ohlc1m(ticks),
      "t2_ohlc_seq" -> Streams.ohlc1mSeq(MemoryStream[SeqTick].toDF()),
      "t1t2_chained" -> Streams.dedupThenOhlc(ticks),
      "t6_sessions" -> Streams.sessionizeStream(events),
      "t7_window_join" -> Streams.windowJoin(ticks, ticks2),
      "t10_window_join_outer" -> Streams.windowJoinOuter(ticks, ticks2),
      "t5_latest" -> Streams.latestPerPair(ticks.as[TickRow]).toDF(),
      "t5_latest_ttl" -> Streams.latestPerPairTtl(ticks.as[TickRow], 60000L).toDF(),
      "t8_ema" -> Streams.emaStream(seqTicks, 14).toDF(),
      "t15_sar" -> Streams.sarStream(seqTicks).toDF(),
      "t14_corr" -> Streams.corrStream(seqTicks, "X", "Y").toDF(),
      "t14b_corr_all" -> Streams.corrStreamAll(seqTicks, Seq("X", "Y", "Z")).toDF(),
      "t16_vwap" -> Streams.vwapStream(graft.operators.Ticks.withMid(ticks)
        .withColumn("size", org.apache.spark.sql.functions.lit(1))),
      "t17_doc_ingest" -> Streams.docIngestDedup(
        MemoryStream[(Long, String, java.sql.Timestamp)].toDF()
          .toDF("doc_id", "text", "ts")),
      "t18_signals" -> Streams.crossSignalStream(seqTicks).toDF(),
      "t19_trades" -> Streams.tradeStream(seqTicks).toDF(),
      "t20_renko" -> Streams.renkoStream(seqTicks, 50.0).toDF(),
      "t21_zigzag" -> Streams.zigzagStream(seqTicks).toDF(),
      "t22_adline" -> Streams.adLineStream(seqTicks).toDF())
    val offenders = plans.flatMap { case (name, df) =>
      val plan = df.queryExecution.analyzed
      val badWindows = plan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window
            if w.partitionSpec.isEmpty => w
      }.size
      val ntz = plan.collect { case p => p.output.filter(a => hasNtz(a.dataType)) }
        .flatten
      val problems =
        (if (badWindows > 0) Seq(s"$badWindows unpartitioned Window(s)") else Nil) ++
          (if (ntz.nonEmpty) Seq(s"NTZ: ${ntz.map(_.name).distinct.mkString(",")}") else Nil)
      if (problems.nonEmpty) Some(s"$name: ${problems.mkString("; ")}") else None
    }
    assert(offenders.isEmpty,
      s"streaming plan invariants violated:\n${offenders.mkString("\n")}")
  }

  test("fromWireJson carries exactly ONE from_json in its optimized plan (batch + streaming)") {
    // ADVICE r16: the single-parse guarantee rests on an optimizer-barrier
    // idiom (a nondeterministic spark_partition_id column kept alive by an
    // always-true filter). If a future Spark optimizer learns to eliminate
    // it, predicate pushdown re-inlines the interpreted parse into every
    // filter conjunct (~5x per row, measured r16) with no functional test
    // failing — this tripwire pins the plan shape itself.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    def nParses(p: String): Int = "from_json".r.findAllIn(p).size
    val good = """{"symbol":"USD_JPY","timestamp":"2026-02-16T13:05:10.123Z","bid":"151.245","ask":"151.249"}"""
    // repartition blocks ConvertToLocalRelation from folding the whole
    // parse into a LocalTableScan at plan time
    val batchPlan = graft.operators.Ticks
      .fromWireJson(Seq(good, "not json").toDF("value").repartition(2))
      .queryExecution.executedPlan.toString
    assert(nParses(batchPlan) === 1,
      s"batch wire parse must run from_json exactly once per row:\n$batchPlan")
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[String]
    in.addData(good)
    val streamPlan = withTempDir("graft-wirejson-") { ckpt =>
      val q = graft.operators.Ticks.fromWireJson(in.toDF().repartition(2)).writeStream
        .option("checkpointLocation", ckpt)
        .format("noop")
        .start()
      try {
        q.processAllAvailable()
        // the last micro-batch's executed plan; an adaptive node counts
        // by its final plan only (its initial plan repeats every parse)
        import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
        q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
          .streamingQuery.lastExecution.executedPlan
          .transformUp { case a: AdaptiveSparkPlanExec => a.executedPlan }
          .toString
      } finally q.stop()
    }
    assert(streamPlan.nonEmpty, "the query executed no micro-batch plan")
    assert(nParses(streamPlan) === 1,
      s"streaming wire parse must run from_json exactly once per row:\n$streamPlan")
  }

  test("vocab top-V cuts with distributed TakeOrdered, never a global sort") {
    val p = plan("llm_vocab_topk")
    assert(p.contains("TakeOrderedAndProject"),
      s"vocab lost its per-partition-heap top-V cut:\n$p")
    // the only acceptable Sort is inside the tiny post-limit rank window
    assert(p.linesIterator.count(_.trim.startsWith("+- Sort")) <= 1,
      s"vocab grew a full sort before the limit:\n$p")
    assert(p.contains("partial_count") || p.contains("HashAggregate"),
      s"token counting must map-side combine:\n$p")
  }
}
