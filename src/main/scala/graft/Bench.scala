package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main: times every SparkEntry query at SPARK_GRAFT_SF_DIR,
  * prints one SMALL JSON line {"metric":"total","value":N,...} (suite
  * totals only — per-query numbers go to BENCH_DETAIL.json; the
  * driver's tail capture is 2,000 chars and a per-query map blows it).
  *
  * Reproducibility (round-1 lesson): queries share one JVM/session, so
  * any cached blocks a query leaks inflate every later query (the
  * round-1 bench read 720 s where fresh-session probes read ~90 s).
  * Between queries we clear BOTH the SQL cache catalog and every
  * persisted RDD (localCheckpoints, GraphX leftovers) — each query is
  * timed against a state-clean session. Failures are never silent: a
  * failed query is excluded from the total, reported under "failed",
  * and the run exits 1 once its files and stdout line are written.
  *
  * SPARK_GRAFT_BENCH_RUNS=n (default 3) runs the whole suite n times in
  * ROUND-ROBIN passes (pass 1 over every query, then pass 2, ...) and
  * reports the per-query MINIMUM across passes. Both choices are
  * contention defenses learned the hard way on this shared VM:
  * rounds 1-2 recorded 720-752 s for plans that measure ~42 s on a
  * quiet window, and round 4 — already running 3 samples per query —
  * STILL recorded 406 s, because the three samples ran back-to-back,
  * so a multi-minute external CPU burst poisoned every sample of the
  * queries inside it (a contiguous alphabetical block inflated
  * 10-100×; loadavg_start was 6.03). Round-robin spaces a query's
  * samples one full pass (minutes) apart, so a burst shorter than a
  * pass touches at most one sample per query, and min-of-n rejects it
  * outright (min is the standard estimator for intrinsic cost — noise
  * on this machine is strictly additive). The JSON also records
  * per-pass totals and /proc/loadavg per pass, so a still-inflated run
  * is self-diagnosing (all passes inflated + loadavg >> 32 ⇒ external
  * load, not plan cost). Per-query warm-up plans were tried and
  * REGRESSED the timed loop (doubling compiled plans pressures the JIT
  * code cache); the single generic warm-up below is deliberate —
  * round-robin additionally means pass-1 JIT warm-up never dominates
  * the reported min.
  */
object Bench {
  private def clearAllState(s: SparkSession): Unit = {
    s.catalog.clearCache()
    s.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }

  /** First three /proc/loadavg fields (1/5/15-min run-queue averages). */
  private def loadavg(): String =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.mkString.trim.split("\\s+").take(3).mkString(",")
      finally src.close()
    } catch { case _: Throwable => "unavailable" }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt.max(1)
    // Quiet-window gate (round 11): every contended driver recording
    // so far would have been clean minutes later (r10 started at
    // loadavg 21.68; the builder's quiet re-run read 27% faster). If
    // the PRE-SESSION 1-min loadavg exceeds 4, sleep and re-probe —
    // up to SPARK_GRAFT_BENCH_QUIET_PROBES (default 10) sleeps of
    // SPARK_GRAFT_BENCH_QUIET_SLEEP_SEC (default 60) — and only then
    // start timing. Bounded, self-reporting (quiet_wait_sec in the
    // JSON), and a no-op on a quiet machine.
    val quietProbes =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_QUIET_PROBES", "10").toInt.max(0)
    val quietSleepSec =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_QUIET_SLEEP_SEC", "60").toInt.max(1)
    // ALL THREE fields gate (round 19): two consecutive driver
    // artifacts carried 5/15-min residue with a quiet 1-min field and
    // the minima tracker flagged 20 sub-3s entries of pure ambient
    // noise — a just-finished load burst inflates the first passes
    // even when the instantaneous run queue looks clean.
    // 1-min-only form: the INTER-PASS gate keeps it — the bench's own
    // 32 threads push the 5/15-min fields above 4 on a quiet machine,
    // so a 3-field inter-pass gate would always burn its full budget.
    def maxField(s: String): Option[Double] = {
      val fs = s.split(",").flatMap(_.toDoubleOption)
      if (fs.isEmpty) None else Some(fs.max)
    }
    var quietWaitSec = 0
    var lv = loadavg()
    var probe = 0
    while (probe < quietProbes && maxField(lv).exists(_ > 4.0)) {
      probe += 1
      System.err.println(s"[bench] loadavg $lv (max(1,5,15-min) > 4) — " +
        s"waiting ${quietSleepSec}s for a quiet window " +
        s"(probe $probe/$quietProbes)")
      Thread.sleep(quietSleepSec * 1000L)
      quietWaitSec += quietSleepSec
      lv = loadavg()
    }
    val loadStart = lv
    val wall0 = System.nanoTime()
    val spark = GraftSession.local("graft-bench")
    // Generic warm-up only (session init, shuffle infra).
    spark.range(1000000L).selectExpr("sum(id)").collect()
    val passes = Passes(runs, quietSleepSec,
      probes = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASS_PROBES", "5").toInt.max(0),
      extra = sys.env.getOrElse("SPARK_GRAFT_BENCH_EXTRA_PASSES", "2").toInt.max(0))
    val failed = suite(spark, sfDir, SparkEntry.queries.toSeq.sortBy(_._1), ".", passes,
      loadStart, quietWaitSec, wall0)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[bench] ${failed.size} queries failed: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }

  /** The minima file of a run at `sfDir` on `cores` cores. */
  def minimaName(sfDir: String, cores: Int): String =
    s"BENCH_MINIMA_${new java.io.File(sfDir).getName}_c$cores.json"

  private def oneMin(s: String): Option[Double] =
    s.split(",").headOption.flatMap(_.toDoubleOption)

  /** How the suite samples: `runs` round-robin passes, up to `extra`
    * more until two agree, and before each pass after the first up to
    * `probes` waits of `sleepSec` for a quiet machine. */
  final case class Passes(runs: Int, sleepSec: Int, probes: Int, extra: Int)

  /** Times `names` in round-robin passes, writes
    * `BENCH_MINIMA_<sf>_c<cores>.json` and `BENCH_DETAIL.json` under
    * `outDir`, prints the stdout line and returns the names of the
    * queries that failed in every pass. A query's time is its build plus
    * a write of its full output to the `noop` sink, the plan whose rows
    * `Verify` hands to the oracle; a `count()` would let Catalyst prune
    * every column the count does not need. */
  def suite(spark: SparkSession, sfDir: String,
      names: Seq[(String, (SparkSession, String) => DataFrame)], outDir: String,
      passes: Passes, loadStart: String = loadavg(), quietWaitSec: Int = 0,
      wall0: Long = System.nanoTime()): Seq[String] = {
    val Passes(runs, quietSleepSec, passProbes, extraBudget) = passes
    // samples(name) accumulates (seconds, status) across passes.
    val samples = scala.collection.mutable.LinkedHashMap(
      names.map { case (n, _) => n -> Vector.empty[(Double, String)] }: _*)
    val passLoads = scala.collection.mutable.ArrayBuffer.empty[String]
    val passTotals = scala.collection.mutable.ArrayBuffer.empty[Double]
    val passWaits = scala.collection.mutable.ArrayBuffer.empty[Int]
    // Per-pass quiet re-probe (round 12): r11's artifact was quiet at
    // START yet pass 1 (289.6 s vs 145.9) still absorbed DECAYING
    // external load the 5/15-min averages had predicted — the gate
    // above only guards the session start. Between passes, re-probe
    // the 1-min average with the same bounded sleep. The bench's OWN
    // 32 threads inflate the 1-min average right after a pass, but
    // the process is idle while sleeping, so self-load e-folds away
    // in ~1-2 min and a genuine external burst keeps the probe
    // waiting; the budget is capped (default 5 × 60 s) so a
    // persistently loaded machine costs ≤ 5 min per pass and the
    // waits self-report in both JSON artifacts.
    def quietWaitBetweenPasses(): Int = {
      var waited = 0
      var p = 0
      var l = loadavg()
      while (p < passProbes && oneMin(l).exists(_ > 4.0)) {
        p += 1
        System.err.println(s"[bench] inter-pass loadavg $l (1-min > 4) — " +
          s"waiting ${quietSleepSec}s (probe $p/$passProbes)")
        Thread.sleep(quietSleepSec * 1000L)
        waited += quietSleepSec
        l = loadavg()
      }
      waited
    }
    def runPass(pass: Int): Unit = {
      passWaits += (if (pass == 1) quietWaitSec else quietWaitBetweenPasses())
      passLoads += loadavg()
      val p0 = System.nanoTime()
      names.foreach { case (name, fn) =>
        clearAllState(spark)
        val t0 = System.nanoTime()
        val status =
          try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); "ok" }
          catch { case t: Throwable => s"${t.getClass.getSimpleName}: ${t.getMessage}" }
        val sec = (System.nanoTime() - t0) / 1e9
        samples(name) :+= ((sec, status))
        System.err.println(f"[bench] pass $pass $name%-22s $sec%8.2fs  ${if (status == "ok") "" else status}")
      }
      passTotals += (System.nanoTime() - p0) / 1e9
    }
    (1 to runs).foreach(runPass)
    // Converged-pass guard (round 14, tightened round 20): min-of-
    // round-robin protects per-query minima, but an artifact whose
    // pass totals disagree reads as contended even when the minima are
    // clean — the r12/r13 signature was pass_waits [.., 0, 0] with
    // totals 1.35× apart, decaying external load invisible to the
    // 1-min average at probe time. Round 19 showed 1.3× is too loose:
    // passes 428/344/490 "converged" (428 ≤ 344×1.3) yet every pass
    // was ~40% ambient-inflated and the rewritten minima rode 14%
    // above the committed quiet anchor. The gate is now two passes
    // within 1.15× of the best; if none agree, run up to
    // SPARK_GRAFT_BENCH_EXTRA_PASSES (default 2) additional full
    // passes, each behind the same bounded quiet wait, until two do.
    // Extra samples only improve minima; `converged` + the pass
    // arrays self-report the outcome either way.
    def converged: Boolean = {
      val sorted = passTotals.sorted
      sorted.size >= 2 && sorted(1) <= sorted(0) * 1.15
    }
    var extraPasses = 0
    while (runs >= 2 && !converged && extraPasses < extraBudget) {
      extraPasses += 1
      System.err.println(
        f"[bench] pass totals ${passTotals.map(t => f"$t%.1f").mkString("/")} " +
          s"not converged (no two within 1.15x of best) — extra pass " +
          s"$extraPasses/$extraBudget")
      runPass(runs + extraPasses)
    }
    clearAllState(spark)
    val results = samples.toSeq.map { case (name, timed) =>
      val ok = timed.filter(_._2 == "ok").map(_._1)
      val best = if (ok.nonEmpty) ok.min else timed.map(_._1).min
      val med = {
        val src = if (ok.nonEmpty) ok else timed.map(_._1)
        src.sorted.apply((src.size - 1) / 2)
      }
      // A query that succeeded in ANY pass is ok (its min is a real
      // measurement); all-pass failure reports the first error.
      val status = if (ok.nonEmpty) "ok"
        else timed.map(_._2).find(_ != "ok").getOrElse("ok")
      (name, best, med, status)
    }
    val loadEnd = loadavg()
    val wallSec = (System.nanoTime() - wall0) / 1e9
    // Locale-pinned formatting: the f-interpolator uses the JVM default
    // locale, so a comma-decimal locale would write the minima file as
    // invalid JSON (1,234 instead of 1.234) and every later run's regex
    // parse would silently return zero baselines — wiping regression
    // history without a trace.
    def r3(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f",
        java.lang.Double.valueOf(v))
    // The printed line must stay WELL under the driver's 2,000-char tail
    // capture: rounds 4-6 all recorded parsed:null because the line
    // still carried a per-query map (112 entries ≈ 2.5 KB even at 3
    // decimals). The stdout line now carries ONLY suite-level fields
    // (< 500 bytes at any registry size); the per-query minima, medians
    // and raw samples live exclusively in BENCH_DETAIL.json.
    val qs = results.map { case (k, v, _, _) => "\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")
    val failedNames = results.filter(_._4 != "ok").map(_._1)
    val total = results.filter(_._4 == "ok").map(_._2).sum
    // Mechanical per-query regression tracking: diff this run's
    // minima against the COMMITTED minima file and surface
    // >20% carried-query regressions in one artifact field instead of
    // hand-joining rounds. The file is PER SF AND CORE COUNT
    // (BENCH_MINIMA_sf0.1_c8.json etc.) so a smoke run at another scale
    // or on another core count can never clobber the recorded baseline;
    // it is rewritten after each run — commit it with each recorded
    // round.
    val minimaPath = java.nio.file.Paths.get(outDir, minimaName(sfDir,
      spark.sparkContext.defaultParallelism))
    val prevMinima: Map[String, Double] =
      try {
        val txt = new String(java.nio.file.Files.readAllBytes(minimaPath),
          java.nio.charset.StandardCharsets.UTF_8)
        val parsed = """"([A-Za-z0-9_]+)"\s*:\s*([0-9.]+)""".r
          .findAllMatchIn(txt)
          .filter(_.group(1) != "sf")
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
        // A present-but-unparseable minima file must not silently read
        // as "no history" — that wipes the regression baseline.
        if (parsed.isEmpty)
          System.err.println(s"[bench] WARNING minima file $minimaPath " +
            "exists but parsed to zero entries — regression baselines " +
            "lost; check the file for corruption")
        parsed
      } catch {
        case _: java.nio.file.NoSuchFileException => Map.empty
        case t: Throwable =>
          System.err.println(s"[bench] WARNING minima file $minimaPath " +
            s"unreadable ($t) — regression baselines unavailable this run")
          Map.empty
      }
    val deltas = results.collect {
      case (k, best, _, "ok") if prevMinima.contains(k) && prevMinima(k) > 0 =>
        k -> ((best - prevMinima(k)) / prevMinima(k) * 100.0)
    }
    val regressed = deltas.filter(_._2 > 20.0).map(_._1).sorted
    // Ambient-inflation guard (round 20): the committed minima file IS
    // the quiet anchor, so a run whose carried-query minima SUM reads
    // >10% above it is contended end-to-end (per-query noise is
    // strictly additive on this machine; a uniform suite-wide +10% has
    // never been a code change — r19's driver artifact was +14% on
    // pure-metadata queries a lake-only round cannot have touched).
    // Such a run self-reports ambient_inflated and its minima write
    // takes min(prev, cur) per query, so ambient noise can never RAISE
    // the recorded baseline; genuine per-query regressions still
    // surface through delta_vs_prev_pct / regressed_gt20pct, which
    // diff the measured minima regardless.
    val carriedOk = results.filter { case (k, _, _, st) =>
      st == "ok" && prevMinima.get(k).exists(_ > 0) }
    val prevSum = carriedOk.map { case (k, _, _, _) => prevMinima(k) }.sum
    val curSum = carriedOk.map(_._2).sum
    val ambientInflated = prevSum > 0 && curSum > prevSum * 1.10
    if (ambientInflated)
      System.err.println(f"[bench] WARNING ambient-inflated run: carried " +
        f"minima sum $curSum%.1f s vs committed anchor $prevSum%.1f s " +
        "(>1.10x) — minima write falls back to min(prev, cur) per query")
    try {
      // The rewritten file carries this run's ok minima PLUS the
      // previous baseline for queries that FAILED this run — a
      // timed-out query must not lose its baseline (its next
      // successful run still diffs against real history). Queries
      // absent from the registry entirely drop out. Semantics are
      // vs-PREVIOUS-run by design (the per-round delta the tracking
      // exists for), not all-time best — EXCEPT on an ambient-inflated
      // run (see above), where cur floors at prev.
      val curOk = results.filter(_._4 == "ok")
        .map { case (k, v, _, _) =>
          k -> (if (ambientInflated)
            math.min(v, prevMinima.getOrElse(k, v)) else v) }.toMap
      val failed = results.filter(_._4 != "ok").map(_._1).toSet
      val merged = curOk ++
        prevMinima.filter { case (k, _) => failed(k) }
      val minima = merged.toSeq.sortBy(_._1)
        .map { case (k, v) => "\"" + k + "\":" + r3(v) }.mkString(",")
      java.nio.file.Files.write(minimaPath,
        (s"""{"sf":"$sfDir",$minima}""")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch { case t: Throwable =>
      System.err.println(s"[bench] minima write failed: $t") }
    val detail = {
      val meds = results.map { case (k, _, m, _) => "\"" + k + "\":" + r3(m) }
        .mkString("{", ",", "}")
      val dvp = deltas.map { case (k, d) => "\"" + k + "\":" +
          String.format(java.util.Locale.ROOT, "%.1f",
            java.lang.Double.valueOf(d)) }
        .mkString("{", ",", "}")
      val raw = samples.toSeq.map { case (k, timed) =>
        "\"" + k + "\":[" + timed.map { case (sec, st) =>
          s"""{"sec":${r3(sec)},"status":"${st.replace("\"", "'").take(120)}"}"""
        }.mkString(",") + "]"
      }.mkString("{", ",", "}")
      s"""{"queries_min":$qs,"queries_median":$meds,""" +
        s""""delta_vs_prev_pct":$dvp,""" +
        s""""regressed_gt20pct":[${regressed.map("\"" + _ + "\"")
          .mkString(",")}],"samples":$raw,""" +
        s""""pass_totals":[${passTotals.map(r3).mkString(",")}],""" +
        s""""pass_waits_sec":[${passWaits.mkString(",")}],""" +
        s""""loadavg_passes":[${passLoads.map("\"" + _ + "\"").mkString(",")}],""" +
        s""""converged":$converged,"extra_passes":$extraPasses,""" +
        s""""ambient_inflated":$ambientInflated,""" +
        s""""runs_per_query":$runs,"wall_sec":${r3(wallSec)},""" +
        s""""loadavg_start":"$loadStart","loadavg_end":"$loadEnd","sf":"$sfDir"}"""
    }
    try java.nio.file.Files.write(
      java.nio.file.Paths.get(outDir, "BENCH_DETAIL.json"),
      detail.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case t: Throwable => System.err.println(s"[bench] detail write failed: $t") }
    val line =
      s"""{"metric":"total","value":${r3(total)},"unit":"sec",""" +
        s""""n_queries":${results.size},"n_failed":${failedNames.size},""" +
        s""""failed":[${failedNames.take(5).map("\"" + _ + "\"").mkString(",")}],""" +
        s""""stat":"min_of_round_robin_passes","runs_per_query":$runs,""" +
        s""""pass_totals":[${passTotals.map(r3).mkString(",")}],""" +
        s""""quiet_wait_sec":$quietWaitSec,""" +
        s""""converged":$converged,"extra_passes":$extraPasses,""" +
        s""""ambient_inflated":$ambientInflated,""" +
        s""""pass_waits_sec":[${passWaits.mkString(",")}],""" +
        s""""loadavg_start":"$loadStart","loadavg_end":"$loadEnd","sf":"$sfDir"}"""
    if (line.length > 1000)
      System.err.println(s"[bench] WARNING stdout line ${line.length} chars — driver tail capture is 2000")
    // Contended recordings must self-identify (round-8's driver
    // artifact started at loadavg 11 and read 1.5-2× the quiet
    // minima). Only the PRE-SESSION loadavg is judged: once passes
    // run, the 1-minute average reflects the bench's own 32 threads,
    // not external load (per-pass loads stay in the JSON for post-hoc
    // reads).
    val preLoad = loadStart.split(",").headOption.flatMap(_.toDoubleOption)
    if (preLoad.exists(_ > 4.0))
      System.err.println(
        s"[bench] WARNING contended recording: loadavg_start=$loadStart " +
          "(1-min > 4 before the session started, after waiting " +
          s"${quietWaitSec}s for a quiet window) — timings include " +
          "external load; re-record on a quiet machine")
    println(line)
    failedNames
  }
}
