package graft

/** Per-round benchmark main: runs every registered query at the driver's
  * SF dir, prints ONE JSON line. Hygiene (round-2): fixed (sorted) query
  * order so round-over-round deltas compare like-for-like; a warm-up pass
  * over three representative queries (tick pipeline / star join / documents
  * scan) so JVM+codegen warm-up doesn't land on whichever query runs first;
  * failures are recorded per-query in `failed` instead of a silent -1. */
object Bench {

  /** Parse the `"name":seconds` cells out of a prior Bench JSON record,
    * keeping only registered query names (the record also carries
    * "value"/"load_*" numerics). Regex-parse on purpose: the file is
    * Bench's own single-line output, and no JSON library is in scope. */
  private[graft] def parsePriorQueries(json: String,
                                       valid: Set[String]): Map[String, Double] =
    """"([A-Za-z0-9_]+)":([0-9]+(?:\.[0-9]+)?(?:[eE]-?[0-9]+)?)""".r
      .findAllMatchIn(json)
      .map(m => m.group(1) -> m.group(2).toDouble)
      .filter { case (k, _) => valid(k) }
      .toMap

  /** A cell needs an isolated in-run re-measure when it reads more than
    * 3× its prior-round record — the transient class (page-cache misses,
    * a GC pause landing on one cell) that shipped a known-bad 16 s
    * winnow reading in two consecutive canonical sf1 records. */
  private[graft] def needsRemeasure(prior: Map[String, Double], name: String,
                                    t: Double): Boolean =
    prior.get(name).exists(p => p > 0 && t > 3.0 * p)

  /** The prior record's `"sf"` field: healing against a prior from a
    * DIFFERENT scale factor would read nearly every cell as >3× and
    * silently double the suite against a wrong baseline. */
  private[graft] def parsePriorSf(json: String): Option[String] =
    """"sf":"([^"]*)"""".r.findFirstMatchIn(json).map(_.group(1))

  /** Query family = the leading alphabetic run of the name (`u5_macd` →
    * `u`, `llm_winnow_fp` → `llm`, `s8j_incremental_grid` → `s`) — the
    * granularity at which ambient load distorts a record (the r15b
    * canonical shipped the whole u/w indicator band 2–3× inflated, every
    * cell under the per-cell 3× healer's threshold). */
  private[graft] def familyOf(name: String): String = {
    val f = name.takeWhile(c => c >= 'a' && c <= 'z')
    if (f.isEmpty) name else f
  }

  /** Families whose MEDIAN ratio vs the prior record exceeds `threshold`
    * — a coherent drift no single cell triggers on, so the whole family
    * gets an isolated re-measure. Requires ≥ `minCells` prior-matched
    * cells (a one-cell "family" is the per-cell healer's job). */
  private[graft] def familiesToHeal(prior: Map[String, Double],
                                    results: Seq[(String, Double)],
                                    minCells: Int = 3,
                                    threshold: Double = 2.0): Set[String] = {
    val ratios = results.flatMap { case (n, t) =>
      prior.get(n).filter(_ > 0).map(p => (familyOf(n), t / p))
    }
    ratios.groupBy(_._1).collect {
      case (fam, rs) if rs.size >= minCells => {
        val xs = rs.map(_._2).sorted
        val m =
          if (xs.size % 2 == 1) xs(xs.size / 2)
          else (xs(xs.size / 2 - 1) + xs(xs.size / 2)) / 2.0
        (fam, m)
      }
    }.collect { case (fam, med) if med > threshold => fam }.toSet
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = Session.local(cpus)
    spark.sparkContext.setLogLevel("WARN")

    // SPARK_GRAFT_ONLY=q1,q2 restricts the run (A/B profiling a subset
    // without paying the full-suite wall clock); default is every query.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    // warm-up: run every query once untimed so the timed pass measures
    // steady-state execution, not each plan's one-off codegen/JIT cost
    // (cold-vs-warm differs 2-3× for the widest plans). SPARK_GRAFT_WARMUP=
    // none skips it; headline warms three representative queries only.
    val warmup = sys.env.getOrElse("SPARK_GRAFT_WARMUP", "full") match {
      case "none" => Seq.empty
      case "headline" => Seq("a1_ohlc_1m", "q5_region_revenue", "llm_text_stats")
      case _ => names
    }
    // AMBIENT load must be sampled BEFORE the warm-up pass: at sf1 the
    // warm-up itself is minutes of 32-thread work, so a post-warmup sample
    // reads the bench's OWN load and self-flags comparable:false on an
    // idle host (r10's sf1 records were all marked incomparable this way).
    def loadavg: Double =
      java.lang.management.ManagementFactory.getOperatingSystemMXBean
        .getSystemLoadAverage
    val loadAmbient = loadavg
    warmup.foreach { n =>
      SparkEntry.queries.get(n).foreach { fn =>
        try fn(spark, sfDir).count() catch { case _: Throwable => () }
      }
    }
    // Timed pass runs each query SPARK_GRAFT_RUNS times (default 2) and
    // reports the per-query MIN: single runs made round-over-round deltas
    // indistinguishable from documented host-load noise (simhash observed
    // 6.97s -> 1.84s across identical builds); min-of-N is the standard
    // noise-robust point estimate for a warmed, deterministic workload.
    val runs = sys.env.getOrElse("SPARK_GRAFT_RUNS", "2").toInt.max(1)
    // noise hardening: record the host 1-min loadavg either side of the
    // timed pass and flag comparability — every round before r8 had to
    // reconstruct "was the host busy?" by hand in BASELINE.md's noise
    // ledger. Threshold: a quarter of the bench's own cores of EXTERNAL
    // (ambient, pre-warm-up) load is enough to distort min-of-N.
    val loadBefore = loadavg
    val loadThreshold = cpus / 4.0
    val failed = scala.collection.mutable.LinkedHashSet.empty[String]
    // per-cell Spark work of the last timed run: job and stage counts do
    // not drift with the host, so a plan-shape change shows through noise
    val metrics = CellMetrics.install(spark.sparkContext)
    val work = scala.collection.mutable.Map.empty[String, CellMetrics.Counts]
    val results = names.map { name =>
      val fn = SparkEntry.queries(name)
      val times = (1 to runs).map { _ =>
        val (t, counts) = metrics.measure {
          val t0 = System.nanoTime()
          try fn(spark, sfDir).count()
          catch { case e: Throwable =>
            failed += name
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
          }
          (System.nanoTime() - t0) / 1e9
        }
        work(name) = counts
        t
      }
      name -> times.min
    }
    // transient self-healing: if a prior-round record is supplied
    // (SPARK_GRAFT_PRIOR=<bench json>), any cell reading >3× its prior
    // value is re-measured in isolation before the artifact is written —
    // min over all observations, the cell-level twin of min-of-N (the
    // r13/r14 winnow-transient class, made self-correcting)
    val priorJson = sys.env.get("SPARK_GRAFT_PRIOR")
      .flatMap(p => scala.util.Try(new String(
        java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)),
        "UTF-8")).toOption)
    // sf guard: a prior from a different scale factor makes nearly every
    // cell read >3× and would silently double the suite while healing
    // mins against a wrong baseline — compare basenames (records carry
    // either the full dir or its basename depending on the variant)
    def sfBase(p: String) =
      java.nio.file.Paths.get(p).getFileName.toString
    val prior = priorJson match {
      case Some(j) =>
        parsePriorSf(j).map(sfBase) match {
          case Some(b) if b != sfBase(sfDir) =>
            System.err.println(s"[bench] SPARK_GRAFT_PRIOR is for sf '$b' " +
              s"but this run is '${sfBase(sfDir)}' — healing disabled")
            Map.empty[String, Double]
          case _ => parsePriorQueries(j, names.toSet)
        }
      case None => Map.empty[String, Double]
    }
    val remeasured = scala.collection.mutable.LinkedHashSet.empty[String]
    // family-median drift pass first: a coherent ambient stretch inflates
    // a whole family 2–3× with no cell crossing the per-cell 3× trigger
    // (the r15b u/w band) — heal those families wholesale, in isolation
    val famHeal = familiesToHeal(prior, results)
    if (famHeal.nonEmpty) System.err.println(
      s"[bench] family-median drift >2x vs prior: ${famHeal.mkString(", ")} — re-measuring")
    def remeasure(name: String, t: Double): Double = {
      val fn = SparkEntry.queries(name)
      // only SUCCESSFUL re-runs may heal: a re-run that throws must not
      // leave its time-to-failure in the record (the honest fallback is
      // the original reading)
      val again = (1 to runs).flatMap { _ =>
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count(); Some((System.nanoTime() - t0) / 1e9) }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name re-measure run failed: ${e.getMessage}")
          None
        }
      }
      val healedT = if (again.nonEmpty) math.min(t, again.min) else t
      System.err.println(f"[bench] $name re-measured: $t%.2f -> $healedT%.2f s " +
        s"(prior ${prior.getOrElse(name, -1.0)}, ${again.size}/$runs re-runs ok)")
      healedT
    }
    val healed = results.map { case (name, t) =>
      if (!failed.contains(name) &&
          (needsRemeasure(prior, name, t) || famHeal.contains(familyOf(name)))) {
        remeasured += name
        name -> remeasure(name, t)
      } else name -> t
    }
    val rm = remeasured.map("\"" + _ + "\"").mkString("[", ",", "]")
    val fl = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = healed.map(_._2).sum
    // Batch vs streaming subtotals: the 13 t-gates each carry 2-4.7 s of
    // FIXED checkpoint machinery regardless of data volume, so the grand
    // total increasingly measures checkpoint constants — the batch subtotal
    // is the number whose round-over-round trend tracks engine speed.
    def isStreaming(name: String) = name.matches("^t\\d.*")
    val streamingTotal = healed.collect { case (n, t) if isStreaming(n) => t }.sum
    val batchTotal = total - streamingTotal
    val loadAfter = loadavg
    def f2(d: Double) = BigDecimal(d).setScale(2, BigDecimal.RoundingMode.HALF_UP)
    val loadFields =
      s""""load_ambient":${f2(loadAmbient)},""" +
        s""""load_before":${f2(loadBefore)},"load_after":${f2(loadAfter)},""" +
        s""""comparable":${loadAmbient < loadThreshold}"""
    val subtotalFields =
      s""""batch_total":${f2(batchTotal)},"streaming_total":${f2(streamingTotal)}"""
    def line(qs: String) =
      s"""{"metric":"total","value":$total,"unit":"sec",$subtotalFields,"queries":$qs,"failed":$fl,"remeasured":$rm,"runs":$runs,"stat":"min",$loadFields,"sf":"$sfDir"}"""
    def f3(d: Double) = BigDecimal(d).setScale(3, BigDecimal.RoundingMode.HALF_UP)
    val cells = names.map { n =>
      val c = work(n)
      s""""$n":{"jobs":${c.jobs},"stages":${c.stages},""" +
        s""""task_s":${f3(c.taskMs / 1e3)},"shuffle_mb":${f3(c.shuffleBytes / 1e6)},""" +
        s""""spill_mb":${f3(c.spillBytes / 1e6)}}"""
    }.mkString("{", ",", "}")
    val full = line(healed.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")).stripSuffix("}") + s""","cells":$cells}"""
    // Full-precision record goes to a file (and stderr): the driver captures
    // only the last ~2000 chars of stdout, and the full line is ~4 KB — every
    // round before r7 recorded `parsed: null` because the one JSON line was
    // truncated mid-object. stdout gets a rounded line instead, degraded one
    // step further if the registry ever grows past the capture budget (sbt's
    // trailing "[success] Total time..." line eats ~90 chars of the window).
    // a SPARK_GRAFT_ONLY subset run writes its own file instead of
    // clobbering the full-suite record (a targeted sf1 probe once silently
    // overwrote the per-query map a comparison script then read)
    val out = java.nio.file.Paths.get(
      if (only.isDefined) "target/bench_subset.json" else "target/bench.json")
    java.nio.file.Files.createDirectories(out.getParent)
    java.nio.file.Files.write(out, full.getBytes("UTF-8"))
    System.err.println(full)
    // compact stdout variant: rounded times, no runs/stat fields, basename
    // sf — full fidelity lives in target/bench.json; this line only has to
    // parse inside the capture window (~1918 usable chars after sbt's
    // "[info] " prefix and trailing success line)
    val sfShort = java.nio.file.Paths.get(sfDir).getFileName.toString
    def rounded(dp: Int) = {
      val qs = healed.map { case (k, v) =>
        "\"" + k + "\":" + BigDecimal(v).setScale(dp, BigDecimal.RoundingMode.HALF_UP)
      }.mkString("{", ",", "}")
      val tot = BigDecimal(total).setScale(2, BigDecimal.RoundingMode.HALF_UP)
      s"""{"metric":"total","value":$tot,"unit":"sec",$subtotalFields,"queries":$qs,"failed":$fl,$loadFields,"sf":"$sfShort"}"""
    }
    val budget = 1890
    val compact = Seq(rounded(3), rounded(2))
      .find(_.length <= budget)
      .getOrElse(line("\"target/bench.json\""))
    println(compact)
    spark.stop()
  }
}
