package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main — runs every SparkEntry query on
  * SPARK_GRAFT_SF_DIR (default sf0.1) and prints ONE JSON line
  * {"metric":…,"value":…,"unit":"sec","queries":{…},"sf":…}.
  * Each query is forced through a `noop` sink so the full plan
  * (not just a count-pruned projection) executes.
  *
  * Env knobs: SPARK_GRAFT_BENCH_ONLY (comma list → subset bench, for
  * A/B receipts), SPARK_GRAFT_BENCH_OUT (sidecar path; default is
  * timestamped and an existing file is never overwritten — claims
  * artifacts are append-only), SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS.
  * The JSON carries "dirty"/"dirty_queries" when accepted minima came
  * out of contaminated windows — over-gate load OR spin-probe
  * dilation (the load average is container-scoped and blind to
  * host-level co-tenant steal; the probe is not) — such an artifact
  * is not claims-grade and says so itself. "probes" stamps every
  * accepted minimum's probe ratio; "probe_nominal_ms" the calibrated
  * floor; "probes_wide"/"probe_wide_nominal_ms"/"probe_wide_n" the
  * same for the N-wide probe that catches PARTIAL multi-core steal
  * (r15). The JSON line is also the LAST stdout line of the sbt run
  * (build.sbt drops the [success] epilogue) so a tail parser works.
  *
  * Hermetic store root: with neither `graft.index.dir` nor
  * `GRAFT_INDEX_DIR` set, the run points `graft.index.dir` at a fresh
  * directory and deletes it at exit, so the written-artifact queries
  * (dd_lsh_probe, pipe_incremental) write their store in every run
  * instead of finding one an earlier process left under java tmpdir.
  * The sidecar (not the stdout line) records the root as "index_dir".
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    if (!sys.props.contains("graft.index.dir") && !sys.env.contains("GRAFT_INDEX_DIR")) {
      val dir = java.nio.file.Files.createTempDirectory("graft-index-bench-").toFile
      sys.addShutdownHook(org.apache.spark.network.util.JavaUtils.deleteRecursively(dir))
      sys.props("graft.index.dir") = dir.getPath
    }
    val indexDir = graft.tools.ArtifactStore.root
    val spark = GraftSession.builderFromEnv("32").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def loadAvg(): Double = try {
      java.lang.management.ManagementFactory.getOperatingSystemMXBean
        .getSystemLoadAverage
    } catch { case _: Throwable => -1.0 }

    // Contention CALIBRATION probe (VERDICT r13 #1): /proc/loadavg is
    // container-scoped and cannot see host-level co-tenant CPU steal,
    // so a sustained external burst passed both the load gate and the
    // two-smallest-agree check and the r13 driver artifact
    // self-declared clean at 2× (ts_sax 26.5 s vs 0.9 s on identical
    // code). The probe times a FIXED single-threaded spin workload
    // (~40 ms nominal) between every pair of timed runs; under steal
    // the same instruction count takes proportionally longer, so the
    // probe/nominal ratio measures throttling the load average is
    // blind to. The nominal is the MINIMUM probe ever observed this
    // process (the best unthrottled estimate — it can only sharpen),
    // and dilation is evaluated lazily against the CURRENT nominal so
    // a burst spanning startup cannot freeze an inflated baseline in.
    val spin = SpinProbe.fromEnv()
    var probeNominal = {
      // JIT warmup, then seed the floor with the best of 10
      (1 to 3).foreach(_ => spin.narrow())
      (1 to 10).map(_ => spin.narrow()).min
    }
    // WIDE probe (VERDICT r14 #1/#2): the single-thread probe catches
    // full-core steal but is blind to PARTIAL multi-core steal — a
    // 32-thread stage losing a third of its cores reads probe ≈ 1.0
    // (the r14 driver artifact passed the dirty gate with 11 queries
    // physically impossibly faster at 8 cores than 32). The wide probe
    // runs the SAME fixed spin on one thread per bench core (minus two,
    // see SpinProbe.fromEnv) concurrently and times the slowest: when
    // external load occupies k of our N cores, ~k probe threads must
    // time-share and the wall dilates ~2x, while the 1-thread probe
    // still finds a free core.
    var wideNominal = {
      (1 to 2).foreach(_ => spin.wide())
      (1 to 5).map(_ => spin.wide()).min
    }
    var lastWide = wideNominal
    def probe(): Double = {
      val p = spin.narrow()
      if (p < probeNominal) probeNominal = p
      // min of two back-to-back wide spins: a single ~40 ms wide spin
      // can be dilated by our own JVM's GC tail right after a heavy
      // query (self-noise, not steal); real co-tenant bursts last
      // seconds-minutes and dilate both spins, so min-of-2 keeps the
      // signal and drops the one-off pause class.
      val w = math.min(spin.wide(), spin.wide())
      if (w < wideNominal) wideNominal = w
      lastWide = w
      p
    }
    val ProbeGate = 1.5
    // same gate for the wide probe: on an otherwise-idle box the
    // N-wide spin's slowest thread tracks the 1-thread spin within a
    // few % (same fixed work, one thread per core); scheduler jitter
    // stays well under 1.5x, and a co-tenant stealing >= 1 of our
    // cores forces two probe threads onto one core ≈ 2x.
    val WideGate = 1.5

    // quiet-window gate (VERDICT r5 #1): the box is co-tenant; if the
    // 1-min load is already high at start, every per-query number is
    // noise. r5's gate of 8 let a 4.7-load window through and the
    // committed artifact showed q1 6x inflated — gate at 2 and retry
    // up to 5 minutes before proceeding with whatever window we got
    // (the recorded load field contextualizes a dirty run).
    var waits = 0
    while (loadAvg() > 2.0 && waits < 5) {
      System.err.println(f"[bench] load ${loadAvg()}%.1f > 2 at start - waiting 60s for a quieter window")
      Thread.sleep(60000)
      waits += 1
    }
    // the window-cleanliness signal is the POST-GATE START load: the
    // end-of-run 1-min average mostly reads back our own 32 threads
    // (measured: a 0.5-load start reads ~4.5 at end of a 68 s run)
    val loadStart = loadAvg()

    // JVM + parquet-footer warmup so per-query timings measure the plan,
    // not first-touch class loading.
    SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()

    // Corroborated-minimum per query (VERDICT r6 #2/#5): the box is
    // co-tenant (load swings 1-5 from outside) and a single shot can
    // land 5-10x off. A number is accepted only when the two SMALLEST
    // runs agree within 1.5x — per-query and self-calibrating, unlike
    // the old global "best > 1.5 s" threshold, which quadruple-ran
    // every legitimately-slow query (dd_containment, dd_jaccard, …)
    // while leaving mid-run steal on fast queries unconfirmed
    // (r6's committed q3 read 0.899 s vs the true 0.627 s).
    // Disagreement adds up to two more runs, the last after a 20 s
    // sleep so a live steal window can pass; agreement costs exactly
    // two runs. With the dirty-window re-gate below, worst case is
    // 6 runs (2 base + 4 extras) and up to 4 twenty-second sleeps
    // per query.
    // Corroboration RE-GATE (VERDICT r8 #3): two agreeing samples are
    // not evidence when both sat inside the SAME external steal burst
    // — r8 accepted a 21.6 s ts_sax (true cost 0.72 s) exactly this
    // way. Each run records the max 1-min load sampled around it; a
    // corroborated minimum whose two smallest runs BOTH saw load
    // above the gate is rejected, the bench sleeps for the burst to
    // pass, and re-measures (bounded). Gate 8.0: our own 32 threads
    // read ~4.5 at the end of a run, so >8 means someone else's
    // burst is stacked on top.
    val LoadGate = 8.0
    val failed = scala.collection.mutable.LinkedHashSet[String]()
    // SPARK_GRAFT_BENCH_ONLY: comma-separated query names → bench only
    // that subset (A/B triage runs, family-drift receipts). Unknown
    // names raise — a typo'd filter must not silently bench nothing.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach { names =>
      require(names.nonEmpty,
        "SPARK_GRAFT_BENCH_ONLY is set but names no queries - an empty filter " +
          "would silently bench nothing and write a green-looking empty artifact")
      val unknown = names -- SparkEntry.queries.keySet
      require(unknown.isEmpty,
        s"SPARK_GRAFT_BENCH_ONLY names unknown queries: ${unknown.mkString(", ")}")
    }
    val selected = only match {
      case Some(names) => SparkEntry.queries.filter { case (k, _) => names(k) }
      case None        => SparkEntry.queries
    }
    // per-query: max 1-min load sampled around the ACCEPTED minimum's
    // runs — the basis of the artifact-level dirty verdict below
    val acceptedDirty = scala.collection.mutable.LinkedHashSet[String]()
    val results = selected.toSeq.sortBy(_._1).map { case (name, fn) =>
      // a failed query reports the -1.0 sentinel, joins "failed", and
      // fails the run — a regression must not bench as "fast".
      // Each run carries (sec, maxLoad, rawProbe, rawWide): rawProbe /
      // rawWide = the slower of the calibration probes taken
      // immediately before and after the timed run (probes are shared
      // between adjacent runs, so a k-run query costs k+1 probes, not
      // 2k).
      var lastProbe = probe()
      def once(): (Double, Double, Double, Double) = {
        val l0 = loadAvg()
        val pBefore = lastProbe
        val wBefore = lastWide
        val t0 = System.nanoTime()
        val sec = try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        } catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: $e")
          failed += name
          -1.0
        }
        lastProbe = probe()
        // narrow probe: MAX of the adjacent probes (one free core is
        // enough to keep it clean, so any dilation is signal). Wide
        // probe: MIN — a real burst is sustained and dilates BOTH
        // adjacent probes, while the JVM's own post-query GC/cleanup
        // tail only dilates the after-probe (measured 1.2-1.7x
        // self-noise after heavy queries on an idle box); max() would
        // flag our own tail as steal.
        (sec, math.max(l0, loadAvg()), math.max(pBefore, lastProbe),
          math.min(wBefore, lastWide))
      }
      // a run is CONTAMINATED when the load gate trips OR either spin
      // probe dilated past its gate (steal the load average can't see;
      // PARTIAL steal only the wide probe can see)
      def contaminated(r: (Double, Double, Double, Double)): Boolean =
        r._2 > LoadGate || r._3 > ProbeGate * probeNominal ||
          r._4 > WideGate * wideNominal
      // 0 = settled; 1 = two smallest disagree >1.5x; 2 = they agree
      // but both ran dirty (over-gate load or probe dilation on both)
      def status(runs: List[(Double, Double, Double, Double)]): Int = {
        val s = runs.sortBy(_._1)
        if (s(1)._1 > 1.5 * s(0)._1) 1
        else if (contaminated(s(0)) && contaminated(s(1))) 2
        else 0
      }
      def settled(): (Double, Double, Double) = {
        var runs = List(once(), once())
        var extra = 0
        var disagreeExtras = 0
        var st = if (runs.forall(_._1 >= 0)) status(runs) else 0
        // disagreement gets at most 2 extra runs (the r6 contract);
        // dirty-window corroboration gets up to 4 total extras, each
        // preceded by a sleep so the burst can pass
        while (runs.forall(_._1 >= 0) && st != 0 && extra < 4 &&
               !(st == 1 && disagreeExtras >= 2)) {
          if (st == 2 || disagreeExtras == 1) {
            val why = if (st == 2) "both smallest runs ran contaminated (load or probe)"
                      else "unsettled after 3 runs"
            System.err.println(
              f"[bench] $name $why (load ${loadAvg()}%.1f, probe ${lastProbe / probeNominal}%.2fx) - sleeping 20s for the steal window to pass")
            Thread.sleep(20000)
            lastProbe = probe() // re-probe after the sleep, not before it
          }
          if (st == 1) disagreeExtras += 1
          runs ::= once()
          extra += 1
          st = if (runs.forall(_._1 >= 0)) status(runs) else 0
        }
        if (st == 2) {
          acceptedDirty += name
          System.err.println(
            f"[bench] $name accepted from a dirty window after $extra retries - read against the load/probe fields")
        }
        if (runs.exists(_._1 < 0)) (-1.0, -1.0, -1.0)
        else { val best = runs.minBy(_._1); (best._1, best._3, best._4) }
      }
      name -> settled()
    }
    val qs = results.map { case (k, (v, _, _)) => "\"" + k + f"""\":$v%.3f""" }
      .mkString("{", ",", "}")
    // per-query probe ratios of the ACCEPTED minimum's window, against
    // the FINAL nominals (the sharpest floors the whole run observed) —
    // the reader's per-row contamination stamps (narrow + wide)
    val probes = results.map { case (k, (_, p, _)) =>
      "\"" + k + f"""\":${if (p < 0) -1.0 else p / probeNominal}%.2f"""
    }.mkString("{", ",", "}")
    val probesWide = results.map { case (k, (_, _, w)) =>
      "\"" + k + f"""\":${if (w < 0) -1.0 else w / wideNominal}%.2f"""
    }.mkString("{", ",", "}")
    val total = results.map(_._2._1).filter(_ >= 0).sum
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // co-tenant box: record the 1-min load average so an outlier run
    // can be read against external steal (VERDICT r3 #10). "load" =
    // post-gate start load (the window signal); "load_end" includes
    // our own threads' tail.
    val loadEnd = loadAvg()
    // dirty-window self-refusal (VERDICT r11 #8): an artifact where
    // more than DirtyMax accepted minima came out of over-gate windows
    // is not claims-grade — SAY so in the JSON instead of making the
    // next round's regression table re-litigate the window. The flag is
    // advisory (the run still completes); bench_diff.py surfaces it.
    // The threshold SCALES with the run (review r12): a 1-query
    // subset receipt — exactly what SPARK_GRAFT_BENCH_ONLY exists
    // for — must self-declare on its single dirty minimum, not hide
    // under a full-run absolute.
    val DirtyMax = math.min(3, selected.size / 4)
    val dirty = acceptedDirty.size > DirtyMax
    val dirtyJson = acceptedDirty.map("\"" + _ + "\"").mkString("[", ",", "]")
    // A subset run must SAY it is one (ADVICE r12): its "total" is a
    // subset sum, and bench_diff.py's directory resolution skips
    // artifacts carrying an "only" filter so a 1-query A/B receipt can
    // never shadow a full run in regression diffs.
    val onlyJson = only.map(_.toSeq.sorted.map("\"" + _ + "\"")
      .mkString(""""only":[""", ",", "],")).getOrElse("")
    val line = f"""{"metric":"total","value":$total%.3f,"unit":"sec",$onlyJson"queries":$qs,"failed":$failedJson,"load":$loadStart%.2f,"load_end":$loadEnd%.2f,"probe_nominal_ms":${probeNominal * 1000}%.1f,"probes":$probes,"probe_wide_nominal_ms":${wideNominal * 1000}%.1f,"probe_wide_n":${spin.wideN},"probes_wide":$probesWide,"dirty":$dirty,"dirty_queries":$dirtyJson,"sf":"$sfDir"}"""
    // VERDICT r9 #5: the driver keeps only a truncated log TAIL, and the
    // one ~7 KB JSON line got clipped mid-line in r9 ("parsed": null, 94
    // of 184 per-query numbers lost). Persist the complete map to a
    // committed sidecar FIRST — the durable copy survives any log
    // truncation — then print the contract line to stdout as before.
    // Append-only contract (VERDICT r11 #2/#3): a claims artifact must
    // never be a mutable scratch file — the default name carries a UTC
    // timestamp, and an existing file (explicit SPARK_GRAFT_BENCH_OUT
    // included) is NEVER overwritten: the run writes to a fresh
    // `<name>.<epoch-millis>` beside it and says so.
    val sidecar0 = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", {
      val ts = java.time.format.DateTimeFormatter.ofPattern("yyyyMMdd'T'HHmmss'Z'")
        .format(java.time.Instant.now.atZone(java.time.ZoneOffset.UTC))
      s"bench_full_$ts.json"
    })
    val sidecar =
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(sidecar0))) sidecar0
      else {
        // keep the .json suffix on the fallback name (ADVICE r12: the
        // old `<name>.json.<millis>` form lost the suffix and a consumer
        // diffing the explicit name could silently read the stale file —
        // the redirect is also surfaced as a trailing stderr line below)
        val alt =
          if (sidecar0.endsWith(".json"))
            s"${sidecar0.stripSuffix(".json")}.${System.currentTimeMillis}.json"
          else s"$sidecar0.${System.currentTimeMillis}"
        System.err.println(s"[bench] $sidecar0 exists - refusing to overwrite, writing $alt")
        alt
      }
    val sidecarLine = line.stripSuffix("}") + s""","index_dir":"$indexDir"}"""
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(sidecar), sidecarLine + "\n")
    catch { case e: Throwable => System.err.println(s"[bench] sidecar write failed: $e") }
    println(line)
    System.err.println(s"[bench] artifact: $sidecar")
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
