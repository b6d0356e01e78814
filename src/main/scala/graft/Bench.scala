package graft
object Bench {

  /** True sample median — averages the two middle elements for even
    * sizes. The upper-middle shortcut overstated the noise floor that
    * compare_bench.py doubles into the regression threshold (ADVICE r16).
    * Empty input (single-pass sweep, no spreads) → 0.0.
    */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
    }

  /** Effective-core probe: N threads of a fixed integer burn vs one. A
    * virtualized host can deliver full single-thread speed (the DuckDB
    * calibration probes) while starving WIDE parallel stages — r19
    * measured 20–22 effective cores of 32 on an idle box, inflating every
    * shuffle/iteration-heavy query 1.5–2× while scan-light queries moved
    * ~6%. Emitting the probe with the sweep makes that weather
    * attributable in the artifact itself. The burn is warmed once so the
    * solo baseline is JIT-compiled before it is timed, and the baseline is
    * the fastest of several solo burns: one solo sample slowed by a JIT or
    * GC thread would otherwise push `n × solo / wall` past `n`.
    */
  def effectiveCores(): Double = {
    val n = Runtime.getRuntime.availableProcessors()
    def burn(): Double = {
      val t0 = System.nanoTime()
      var x = 0L; var i = 0L
      while (i < 50000000L) { x += i * i; i += 1 }
      // keep the fold observable so the JIT can't elide the loop
      if (x == Long.MinValue) System.err.print("")
      (System.nanoTime() - t0) / 1e9
    }
    burn() // JIT warmup
    val solo = Seq.fill(5)(burn()).min
    val t0 = System.nanoTime()
    val threads = (1 to n).map(_ => new Thread(() => { burn(); () }))
    threads.foreach(_.start()); threads.foreach(_.join())
    val wall = (System.nanoTime() - t0) / 1e9
    math.round(n * solo / wall * 10.0) / 10.0
  }

  def main(args: Array[String]): Unit = {
    SparkEntry.requireKnownQueries(args.toSeq)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Weather probe BEFORE the sweep (and again after — a 12-minute sweep
    // can cross a weather change): effective cores at full fan-out.
    val ecBefore = effectiveCores()
    // Session.local's conf is the sweep's: its codegen cache sized past
    // the declared query count and its 2min ContextCleaner interval.
    val spark = graft.engine.Session.local()
    // Warmup phase: read every table family once, then run EVERY query once
    // un-timed. A query's first execution pays Catalyst + Janino whole-stage
    // codegen compilation and JVM JIT (measured at 0.3-1.5 s per query —
    // roughly HALF of a one-shot run at sf0.1), which is one-time cost per
    // plan shape, not engine throughput. A long-running engine executes each
    // plan shape many times; steady-state is the number the bench reports
    // (standard JVM benchmarking methodology: warm up, then measure).
    try {
      Seq("lineitem", "orders", "customer", "documents", "embeddings")
        .foreach(t => spark.read.parquet(s"$sfDir/$t.parquet").count())
      graft.queries.Tables.events(spark, sfDir).count()
      SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    } catch { case _: Throwable => () }
    // Fixed name order: hash-Map iteration reshuffles whenever a query is
    // added, which silently changes warm-cache adjacency between rounds.
    // Optional args = query-name subset for scoped re-timing (the full
    // sweep remains the number of record; a subset skips the sweep's
    // memory-pressure adjacency, so use it for triage, not PERF rows).
    val ordered0 = SparkEntry.queries.toSeq.sortBy(_._1)
    val ordered =
      if (args.isEmpty) ordered0 else ordered0.filter(q => args.contains(q._1))
    // Warmup durations double as an anomaly yardstick for the timed phase:
    // warmup pays Janino + JIT on top of execution, so a TIMED pass that
    // comes out slower than its own warmup means the timed phase is being
    // squeezed by something that isn't the query (e.g. a full-GC storm).
    val warmupDt = scala.collection.mutable.HashMap.empty[String, Double]
    ordered.foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () }
      warmupDt(name) = (System.nanoTime() - t0) / 1e9
      graft.engine.Caches.releaseAll()
      spark.catalog.clearCache()
      // Lifecycle queries record construction phases (PhaseTimer); the
      // warmup's recordings must not leak into the first timed pass.
      graft.engine.PhaseTimer.drain()
    }
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // Per-phase attribution for store-lifecycle queries (build / append /
    // compact / delete at construction + the search the sink executes) —
    // taken from each query's MIN successful pass, with "search" = pass
    // total − Σ construction phases, so a search regression can't hide
    // inside build noise.
    val phaseRows =
      scala.collection.mutable.LinkedHashMap.empty[String, Map[String, Double]]
    // Per-query relative pass spread (max/min − 1 over successful passes):
    // the sweep's own noise measurement. The median over all queries is
    // emitted as "noise_floor" so a round-over-round comparison has the
    // run's measured noise to clear before calling anything a regression
    // (r15 observed a ~25% global skew between two runs of identical
    // code — without a floor that reads as 221 regressions).
    val spreads = scala.collection.mutable.ArrayBuffer.empty[Double]
    val results = ordered.map { case (name, fn) =>
      // Two timed passes, report the min: a single pass is hostage to
      // whatever one-off lands on it (driver full GC reclaiming the
      // sweep's accumulated broadcasts, a straggler task, a host hiccup) —
      // observed multiplying one random query 5-10x between otherwise
      // identical sweeps. The min of two is the standard steady-state
      // estimator and two collisions on the same query are rare.
      def onePass(): (Double, Boolean, Map[String, Double]) = {
        val t0 = System.nanoTime()
        // noop sink forces full materialization of every output column
        // (count() would let Catalyst prune the computed columns away).
        val ok =
          try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
          catch {
            case e: Throwable =>
              // A crashing query must not silently record its time-to-crash
              // as a score: surface it in an "errors" map the driver can see.
              errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
                .replaceAll("[\"\\\\\\n\\r\\t]", " ").take(200)
              false
          }
        val dt = (System.nanoTime() - t0) / 1e9
        // Operators persist intermediates for intra-query reuse; dropping
        // them between queries keeps sequential runs from accumulating
        // cached blocks and squeezing later queries' execution memory.
        // (releaseAll = the caller-owned Caches contract; clearCache
        // sweeps anything registered outside it.)
        graft.engine.Caches.releaseAll()
        spark.catalog.clearCache()
        (dt, ok, graft.engine.PhaseTimer.drain())
      }
      val two = Seq(onePass(), onePass())
      // Recovery pass: a sustained full-GC storm can eat BOTH passes
      // (observed: one sweep read a query at 16.6 s min-of-two where a
      // clean re-sweep and a standalone run both read ~1.5-2 s), so
      // min-of-two alone is not enough. Two storm signals: (a) the passes
      // disagree >2x — one ate a one-off; (b) even the best timed pass is
      // slower than the query's own WARMUP execution, which paid Janino +
      // JIT on top — steady-state can't legitimately cost more than that.
      // Either way: drain the heap state feeding the storm and take one
      // recovery pass before scoring (min() keeps the estimator honest).
      val passes = {
        val ok2 = two.collect { case (dt, true, _) => dt }
        val spread = ok2.size == 2 && ok2.max > 2 * ok2.min
        val overWarmup = ok2.nonEmpty &&
          warmupDt.get(name).exists(w => ok2.min > 1.2 * w && ok2.min - w > 0.25)
        if (spread || overWarmup) { System.gc(); two :+ onePass() }
        // Expensive queries always get a THIRD pass (min-of-3): the top-20
        // queries carry most of the sweep total, so their single-pass noise
        // dominates every round-over-round comparison (r21 verdict item 7:
        // single cold pairs kept burning judge/builder time on weather
        // attribution). Additions-only — more passes can only firm up the
        // min; the timed region and the JSON contract are unchanged. The
        // same GC as the recovery branch runs first, so both third-pass
        // paths start from the same heap state.
        else if (ok2.nonEmpty && ok2.min > 1.5) { System.gc(); two :+ onePass() }
        else two
      }
      // min over SUCCESSFUL passes only — a transient failure's
      // time-to-crash must not undercut a valid run's time. If every pass
      // failed, record the duration anyway; the errors map flags it.
      val good = passes.collect { case (dt, true, ph) => (dt, ph) }
      // A transient crash that a later pass (or the recovery pass)
      // survived is noise, not a broken query — only surface queries with
      // NO successful pass, so the driver's error view matches the score's
      // meaning (min over successful passes).
      if (good.nonEmpty) errors.remove(name)
      if (good.size >= 2) {
        val dts = good.map(_._1)
        spreads += dts.max / dts.min - 1.0
      }
      good.sortBy(_._1).headOption.filter(_._2.nonEmpty).foreach {
        case (dt, ph) =>
          val resid = dt - ph.values.sum
          // A mis-scoped PhaseTimer block that over-covers the pass sums
          // past the pass total; clamping that to search=0 would hide the
          // instrumentation bug (ADVICE r15). Small timer jitter still
          // floors at zero; a real over-coverage is recorded as the
          // NEGATIVE residual and warned, so it is visible in the
          // artifact instead of silently absorbed.
          if (resid < -0.05) {
            System.err.println(f"[bench] $name: phases sum ${ph.values.sum}%.3f s" +
              f" > pass total $dt%.3f s — PhaseTimer over-coverage")
            phaseRows(name) = ph + ("search" -> resid)
          } else phaseRows(name) = ph + ("search" -> math.max(0.0, resid))
      }
      name -> (if (good.nonEmpty) good.map(_._1).min
               else passes.map(_._1).min)
    }
    // 4-decimal seconds (0.1 ms): full double precision is bench noise and
    // more than doubles the line length. Locale.ROOT pins the decimal
    // separator — f"" uses the JVM default locale, and a comma-decimal
    // locale (de_DE) would turn every value into invalid JSON.
    def fmt(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.4f", Double.box(v))
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val errs = errors.map { case (k, v) => s"\"" + k + "\":\"" + v + "\"" }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    // Median per-query pass spread — this sweep's measured noise. The
    // round-over-round rule (tools/compare_bench.py): a per-query delta
    // is a REGRESSION only if it clears max(40%, 2× the floor) and does
    // so in two consecutive rounds; anything under the floor is the
    // machine, not the code.
    val noiseFloor = median(spreads.toSeq)
    val ecAfter = effectiveCores()
    val ec = s"[${fmt(ecBefore)},${fmt(ecAfter)}]"
    val phs = phaseRows.map { case (q, ph) =>
      s"\"" + q + "\":" + ph.map { case (p, v) => s"\"" + p + "\":" + fmt(v) }
        .mkString("{", ",", "}")
    }.mkString("{", ",", "}")
    val json =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","noise_floor":${fmt(noiseFloor)},"effective_cores":$ec,"queries":$qs,"phases":$phs,"errors":$errs,"sf":"$sfDir"}"""
    // The driver captures only the LAST 2000 bytes of stdout and parses the
    // final line; the full-name queries map alone is >3 KB, so a single
    // full-fidelity line can never parse whole from the tail (r05-r07 all
    // recorded "parsed": null). Print the full line FIRST (for humans and
    // any unbounded capture), then a compact final line that fits the tail:
    // values as integer milliseconds, keys as each query's id prefix
    // ("d20_incremental_dedup" -> "d20" — unique across the surface by
    // construction; any collision falls back to the full name). The
    // full-name record is BENCH_full.json, written below.
    println(json)
    val prefixCount = results.groupBy(_._1.split("_")(0)).map { case (p, g) => p -> g.size }
    def shortKey(k: String): String = {
      val p = k.split("_")(0)
      if (prefixCount(p) == 1) p else k
    }
    // Parallel-array form, NOT a map: a {"k":v,...} object costs ~12 B per
    // query (quotes + colon) and overflowed the tail at 216 queries even
    // with ms-int values (r14 recorded parsed:null with the map form). Two
    // aligned arrays — names comma-joined in one string, values as integer
    // CENTISECONDS (10 ms resolution; bench noise is larger than that) —
    // carry all queries in ~1.6 KB with ~400 B of headroom for growth.
    // qn[i] pairs with qcs[i]; total stays full-precision seconds.
    val qNames = results.map { case (k, _) => shortKey(k) }.mkString(",")
    val qCs = results.map { case (_, v) => Math.round(v * 100) }
      .mkString("[", ",", "]")
    // Errors are normally empty; under a pathological error burst the names
    // alone could re-overflow the tail, so degrade to a count past 1900 B.
    val compact0 =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","noise_floor":${fmt(noiseFloor)},"ec":$ec,"n_queries":${results.size},"qunit":"cs","qn":"$qNames","qcs":$qCs,"errors":$errs,"sf":"$sfDir"}"""
    val compact =
      if (compact0.length <= 1900) compact0
      else s"""{"metric":"total","value":${fmt(total)},"unit":"sec","noise_floor":${fmt(noiseFloor)},"ec":$ec,"n_queries":${results.size},"qunit":"cs","qn":"$qNames","qcs":$qCs,"n_errors":${errors.size},"sf":"$sfDir"}"""
    // Even the array form has a ceiling (~330 queries at avg 3-char ids);
    // past it, keep the line PARSEABLE — drop per-query detail before
    // dropping validity, and say so in the line itself.
    val last =
      if (compact.length <= 1900) compact
      else s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n_queries":${results.size},"n_errors":${errors.size},"detail":"BENCH_full.json","sf":"$sfDir"}"""
    println(last)
    // Persist the complete full-name record to a file the driver (or the
    // judge) can lift verbatim. An existing record is ARCHIVED first,
    // stamped with its own mtime: the round-over-round comparison
    // (tools/compare_bench.py --prev) needs the previous sweep's `queries`
    // map and `duckdb_calibration` probes, and an in-place overwrite was
    // one forgotten manual copy away from losing that baseline forever.
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_full.json")
    try {
      val p = java.nio.file.Paths.get(outFile)
      if (java.nio.file.Files.exists(p)) {
        // Archive into a dedicated gitignored directory, not the repo
        // root: the working tree otherwise accumulates stale timestamped
        // evidence files that can be confused with the current round's
        // artifact (ADVICE r19).
        val ts = java.time.format.DateTimeFormatter.ofPattern("yyyyMMdd-HHmmss")
          .withZone(java.time.ZoneOffset.UTC)
          .format(java.nio.file.Files.getLastModifiedTime(p).toInstant)
        val archDir = (Option(p.getParent) match {
          case Some(parent) => parent.resolve("bench_archive")
          case None         => java.nio.file.Paths.get("bench_archive")
        })
        java.nio.file.Files.createDirectories(archDir)
        val arch = archDir.resolve(
          p.getFileName.toString.stripSuffix(".json") + s"_$ts.json")
        java.nio.file.Files.move(p, arch,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        System.err.println(s"[bench] archived previous $outFile -> $arch")
      }
      java.nio.file.Files.writeString(p, json + "\n")
      ()
    } catch { case e: java.io.IOException =>
      System.err.println(s"[bench] could not write $outFile: ${e.getMessage}")
    }
    spark.stop()
  }
}
