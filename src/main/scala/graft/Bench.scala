package graft

import graft.core._
import graft.store.{JdbcStreamStore, SparkStreamStore, StreamStore}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

import scala.collection.mutable

/** Benchmark main: runs every SparkEntry query against
  * $SPARK_GRAFT_SF_DIR (default sf0.1) plus the scenario families of
  * [[families]] — stream-store scenarios mirroring the reference's
  * LoadTests (read-all scan, append throughput, subscription catch-up —
  * BASELINE.md), streaming replays, the corpus pipeline and operator
  * probes — and prints ONE JSON line.
  *
  * Queries execute via the `noop` sink so the full plan runs (a bare
  * count() would let Spark skip projections). Each query runs once for
  * warm-up, then three timed runs; the MEDIAN is reported — single-run
  * numbers showed ±40% run-to-run variance (round-4 minhash), which made
  * real regressions indistinguishable from noise. Store/JDBC scenarios
  * get the same median treatment by running the WHOLE scenario sequence
  * three times against a fresh store in a fresh temp dir per repetition
  * (state never accumulates across reps). Streaming-replay scenarios
  * stay single-run: they cost ~15 s each and their dominant term
  * (per-micro-batch checkpoint fsync) is stable run-to-run.
  *
  * Adding a scenario is one [[Family]] row: its declared names and a
  * body returning `name -> seconds` for exactly those names.
  *
  * The result JSON is printed as ONE stdout line AND written whole to
  * `target/bench.json` — the driver captures a bounded log tail, which
  * truncated the round-5 artifact mid-JSON; the file is the durable copy.
  */
object Bench {

  /** Wall-clock seconds of `f`. */
  private def time(f: => Unit): Double = timed(f)._2

  /** `f`'s value and its wall-clock seconds. */
  private def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  private def median(ts: Seq[Double]): Double = ts.sorted.apply(ts.length / 2)

  /** Median of three timed runs of `f`. */
  private def median3(f: => Unit): Double = median(Seq.fill(3)(time(f)))

  /** The gate statistic for a scenario whose median is `med`: the median,
    * or the MINIMUM of the runs `ts` when the median is under 2 s.
    * Sub-second scenarios whipsawed up to 8x between runs on a loaded
    * machine (round-9: read_stream_backwards 0.70 s vs 0.126 s baseline
    * for IDENTICAL code that measured 0.11 s hours earlier); the
    * noise-robust statistic for a micro-read is the run with least
    * external interference — there is no mechanism by which a
    * measurement comes out FASTER than the code allows. */
  private def gateStat(med: Double, ts: => Seq[Double]): Double =
    if (med >= 2.0) med else ts.min

  /** Query statistic: 3 timed runs; if the median lands under 2 s, take 2
    * more and report min-of-5. Returns (gate statistic, median-of-3). The
    * artifact reports BOTH: the round-1 BASELINE was recorded
    * median-of-3, so comparing a min against it flatters micro-reads
    * (round-10 advice) — `queries` keeps the noise-robust stat the 2x
    * gate has used since round 10, `queries_median` carries the
    * baseline-symmetric statistic. */
  private def robust(f: => Unit): (Double, Double) = {
    val first = Seq.fill(3)(time(f))
    val med = median(first)
    (gateStat(med, first ++ Seq.fill(2)(time(f))), med)
  }

  /** Run the whole scenario sequence `reps` times (fresh state per rep —
    * the rep function must build and tear down its own state) and report
    * per scenario (gate statistic, median) over the reps. */
  private def medianScenarios(reps: Int)(rep: () => Seq[(String, Double)]): Seq[(String, (Double, Double))] = {
    val runs = IndexedSeq.fill(reps)(rep().toMap)
    runs.head.keys.toSeq.map { k =>
      val ts = runs.map(_(k))
      val med = median(ts)
      k -> ((gateStat(med, ts), med))
    }
  }

  /** One scenario family: the names it reports and the body measuring
    * them. The body gets the session and the data directory and returns
    * `name -> seconds`; with `reps` > 1 it runs that many times on fresh
    * state and each name reports [[gateStat]] over the reps. */
  private[graft] final case class Family(names: Seq[String], reps: Int = 1)(
      val run: (SparkSession, String) => Seq[(String, Double)])

  /** Every scenario family, in sweep order. */
  private[graft] val families: Seq[Family] = Seq(
    Family(Seq("approx_distinct_counts", "approx_quantiles"))(approxScenario),
    Family(Seq("simhash_near_dups"))(simhashScenario),
    Family(Seq("bloom_join_on", "bloom_join_off"))(bloomJoinScenario),
    Family(Seq("store_append_2k_msgs", "store_read_all_scan",
        "store_subscription_catchup", "store_scavenge_200_appends",
        "store_delete_20_msgs", "store_compact_merge", "store_reopen_recovery"),
      reps = 3)((spark, _) => storeScenarioRep(spark)),
    Family(Seq("store_bulk_import_events", "store_dsv2_full_scan",
      "store_head_probe_metadata"), reps = 3)(bulkImportScenarioRep),
    Family(Seq("jdbc_append_2k_msgs", "jdbc_read_all_scan",
      "jdbc_spark_partitioned_read"), reps = 3)((spark, _) => jdbcScenarioRep(spark)),
    Family(Seq("streaming_session_replay", "streaming_session_replay_rocksdb",
      "streaming_window_replay", "streaming_interval_replay",
      "streaming_scd2_replay", "streaming_tws_replay", "streaming_feed_replay",
      "streaming_topk_replay", "streaming_funnel_replay",
      "streaming_session_1batch_replay"))(streamingScenarios),
    Family(Seq("http_read_all_scan", "http_append_1k_msgs"))((spark, _) => httpScenarios(spark)),
    Family(Seq("pipeline_docs_end_to_end", "pipeline_stage_quality",
      "pipeline_stage_exact_dedup", "pipeline_stage_near_dup",
      "pipeline_stage_decontam", "pipeline_stage_split_mixture",
      "pipeline_stage_packing", "pipeline_stage_shuffle"))(pipelineScenario),
    Family(Seq("pipeline_docs_incremental"))(incrementalPipelineScenario),
    Family(Seq("online_dedup_replay", "online_ann_replay",
      "online_frontier_replay", "online_kmv_replay",
      "online_suffix_replay"))(onlineSinksScenario),
    Family(Seq("online_index_64batch_probe",
      "online_index_compacted_probe"))(onlineCompactScenario),
    Family(Seq("layout_plain_write", "layout_zorder_write",
      "layout_plain_box_scan", "layout_zorder_box_scan",
      "layout_plain_band_scan", "layout_zorder_band_scan"))(layoutScenario),
    Family(Seq("sketch_rollup_build", "sketch_rollup_query",
      "sketch_exact_rescan"))(sketchRollupScenario),
    Family(Seq("kmv_grouped_hi", "frontier_skewed"))(stressProbesScenario),
    Family(Seq("suffix_big_doc", "suffix_l200"))(suffixStressScenario),
    Family(Seq("sketch_qdigest_build", "sketch_qdigest_ranks"))(qdigestScenario))

  /** Gates whose bench time measures a data SLICE (not
    * baseline-comparable) — resultJson, the compact summary, and the
    * breach predicate all read this one list (r13 advice: the
    * adjudication pass previously hardcoded its own copy). */
  private[graft] val slicedGates: Seq[String] = Seq("recent_feed_batch")

  /** Measure one family: (gate statistic, median) per DECLARED name, in
    * declared order. A declared name the body did not report reads -1; a
    * reported name the family did not declare is dropped, loudly — a
    * mislabelled number never merges into the artifact. */
  private[graft] def measure(f: Family, spark: SparkSession, sfDir: String): Seq[(String, (Double, Double))] = {
    val got = medianScenarios(f.reps)(() => f.run(spark, sfDir)).toMap
    (got.keySet -- f.names).foreach(n =>
      System.err.println(s"[bench] family ${f.names.head}… reported undeclared scenario $n (dropped)"))
    f.names.map(n => n -> got.getOrElse(n, {
      System.err.println(s"[bench] family ${f.names.head}… did not report $n")
      (-1.0, -1.0)
    }))
  }

  /** [[measure]] from a settled JVM. A family failure must not zero the
    * whole artifact (round 7 lost every number to one uncaught analysis
    * error): record -1 for the family, print the stack, keep going.
    * The settle (r16, measurement hygiene — the r13/r15 adjudication
    * finding applied AT THE SOURCE): families run off the back of the
    * ~25-minute query sweep, and end-of-sweep GC/allocation pressure
    * inflated their in-sweep numbers up to ~2× vs the same family
    * isolated (r16 baseline: streaming_interval_replay 15.4 s in-sweep vs
    * 8.9 s isolated, SAME code). The sleep is outside every scenario's
    * timed region; the statistic and the measured work are unchanged. */
  private[graft] def guarded(f: Family, spark: SparkSession, sfDir: String): Seq[(String, (Double, Double))] = {
    System.gc(); Thread.sleep(1500)
    try measure(f, spark, sfDir)
    catch {
      case e: Throwable =>
        System.err.println(s"[bench] scenario family ${f.names.head}… failed: $e")
        e.printStackTrace()
        f.names.map(_ -> ((-1.0, -1.0)))
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      math.min(32, Runtime.getRuntime.availableProcessors()).toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      // RocksDB state-store changelog checkpointing (r17, guide §5 /
      // verdict #3): commit uploads the batch's change log instead of a
      // full snapshot per store per batch — snapshots move to background
      // maintenance. The documented production setting for RocksDB
      // state stores at any scale (state-size-proportional commits are
      // the 100 TB killer); affects only the *_rocksdb / tws / feed /
      // topk replay scenarios, whose workload is unchanged. NOT a
      // local-core-count tune.
      .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // warmup: touch every table once so OS cache/codec init is off the clock.
    // Per-table try: a missing/reshaped table must not kill the run before a
    // single number is recorded (round 7 lost the whole artifact to one
    // uncaught analysis error when the driver regenerated events.parquet).
    Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings")
      .foreach { t =>
        try spark.read.parquet(s"$sfDir/$t.parquet").count()
        catch { case e: Throwable =>
          System.err.println(s"[bench] warmup of $t failed: $e") }
      }

    val results = mutable.LinkedHashMap.empty[String, Double]
    // median-of-N twin for every scenario that computed one (falls back
    // to the gate stat at JSON time — a failed scenario has no median)
    val medians = mutable.LinkedHashMap.empty[String, Double]

    // Run provenance riding inside the artifact: a re-run is otherwise
    // indistinguishable from a file copy (round-9 advice — r8 and r9
    // artifacts were byte-identical because the code was, but nothing
    // proved a fresh run happened).
    val runMeta: String = {
      val ts = java.time.Instant.now().toString
      val sha = try {
        val p = new ProcessBuilder("git", "rev-parse", "--short", "HEAD")
          .redirectErrorStream(true).start()
        val out = new String(p.getInputStream.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8).trim
        if (p.waitFor() == 0) out else "unknown"
      } catch { case _: Throwable => "unknown" }
      s""""run_ts_utc":"$ts","git_sha":"$sha","spark":"${spark.version}""""
    }

    // Self-adjudication state (r12 verdict #2): scenarios whose in-sweep
    // number breached a baseline gate, re-measured ISOLATED at the end
    // of the sweep. check_bench.py clears a breach when the isolated
    // number sits inside the gate — the load-artifact adjudication that
    // previously lived in SCALING.md prose, machine-resolved in the
    // artifact itself. Declared here so resultJson (defined next) can
    // embed them; filled after the sweep.
    val breachedNames = mutable.ArrayBuffer.empty[String]
    val isolatedMap = mutable.LinkedHashMap.empty[String, Double]
    // breach flags the adjudication pass could NOT isolate (budget
    // exhausted or the re-run itself failed) — r14 verdict #2: these
    // previously sat in the artifact as bare "breached" entries that
    // check_bench silently ignored; now they are named explicitly and
    // check_bench treats a non-empty list as a failure
    val unadjudicatedNames = mutable.ArrayBuffer.empty[String]
    // how many baseline gate rows the adjudication pass actually gated
    // against (r15 verdict #1: zero rows = vacuous pass; the artifact
    // records the count so a wrong-cwd run is visible, and the pass
    // marks EVERY scenario unadjudicated when it is zero). -1 = the
    // pass did not run (SPARK_GRAFT_BENCH_ONLY iteration runs).
    var baselineRowsGated: Int = -1
    // baseline tables resolve from an ANCHOR, not the bare cwd (r15
    // verdict #1: a run from the wrong cwd parsed zero rows and gated
    // nothing, shipping two breaching numbers with empty flag lists)
    // — SPARK_GRAFT_BASELINE_DIR, else the first ancestor of the cwd
    // containing BASELINE.md. Read lazily inside the adjudication
    // pass's try: a MalformedInputException here previously killed the
    // run AFTER the sweep and voided the artifact (round-7 failure class).
    lazy val tables = scala.util.Try(BenchGates.load(
      java.nio.file.Paths.get(".").toAbsolutePath, k => sys.env.get(k)))

    def jsonNames(xs: Iterable[String]): String =
      xs.map("\"" + _ + "\"").mkString("[", ",", "]")
    def jsonMap(m: Iterable[(String, Double)], fmt: Double => String = _.toString): String =
      m.map { case (k, v) => "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
    // Locale.ROOT: the f-interpolator formats with the JVM default
    // locale, and a comma-decimal locale would make the final stdout
    // line unparseable JSON — the exact failure it exists to fix
    def fmt3(v: Double): String = String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    def total: Double = results.values.filter(_ >= 0).sum

    // Flush the partial artifact after every family so even a hard crash
    // (OOM, JVM kill) leaves the numbers measured so far on disk.
    def resultJson(): String =
      // stat_note + sliced_gates: round-10 advice — name the statistic
      // each map carries, and flag gates whose bench time is not
      // comparable to a full-data baseline entry (recent_feed_batch
      // gates a 1-in-10 user slice; the full-cost scenario is
      // streaming_feed_replay)
      s"""{"metric":"total","value":$total,"unit":"sec","queries":${jsonMap(results)},""" +
        s""""queries_median":${jsonMap(results.map { case (k, v) => k -> medians.getOrElse(k, v) })},""" +
        s""""stat_note":"queries=min-of-5 when median<2s else median-of-3; queries_median=median always",""" +
        s""""sliced_gates":${jsonNames(slicedGates)},""" +
        s""""breached":${jsonNames(breachedNames)},"isolated":${jsonMap(isolatedMap)},""" +
        s""""unadjudicated":${jsonNames(unadjudicatedNames)},""" +
        s""""baseline_rows_gated":$baselineRowsGated,""" +
        s""""sf":"$sfDir",$runMeta}"""
    def flush(): Unit = {
      val outPath = java.nio.file.Paths.get("target", "bench.json")
      java.nio.file.Files.createDirectories(outPath.getParent)
      java.nio.file.Files.write(outPath,
        (resultJson() + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }

    def compactSummaryJson(): String = {
      // Scenario names of BASELINE.md's round-1 table: the compact
      // tail-sized summary carries exactly these (the set the 2× gate
      // binds on), so a bounded tail parse still yields a
      // per-scenario baseline comparison without the 18 KB full map.
      val baselineOverlap = tables.map(_.ref.keySet).getOrElse(Set.empty[String])
      val qs = jsonMap(results.toSeq.filter(kv => baselineOverlap(kv._1)).sortBy(_._1), fmt3)
      // the adjudication maps ride in the compact line too (r13 verdict
      // #1: without them, check_bench on the driver-wrapped artifact
      // cannot clear in-sweep load artifacts and flags them as real) —
      // they are small by construction (bounded re-run budget)
      val br = jsonNames(breachedNames)
      val unadj = jsonNames(unadjudicatedNames)
      val iso = jsonMap(isolatedMap, fmt3)
      def line(queries: String, breached: String, isolated: String,
          unadjList: String): String =
        s"""{"metric":"total","value":$total,"unit":"sec",""" +
          s""""n_scenarios":${results.size},"queries":$queries,""" +
          s""""stat_note":"queries=baseline-overlap subset, min stat; full map in artifact",""" +
          s""""sliced_gates":${jsonNames(slicedGates)},""" +
          s""""breached":$breached,"isolated":$isolated,""" +
          s""""unadjudicated":$unadjList,""" +
          s""""baseline_rows_gated":$baselineRowsGated,""" +
          s""""artifact":"target/bench.json","sf":"$sfDir",$runMeta}"""
      // hard bound: the whole line must sit inside the driver's ~2 KB
      // tail. Shed load in order: breached list first (check_bench only
      // reads `isolated`), then the isolated map, queries last (an
      // empty map fails check_bench loudly — the shape of last resort).
      // `unadjudicated` is semantically never shed — but it is the one
      // now-unbounded field (r15 review finding #5: a mass-breach run
      // could make every shape exceed the bound and the final .get
      // throw), so the last resorts carry a single bounded SENTINEL
      // entry instead of the full list: still non-empty, so check_bench
      // still fails, and the names stay in the full artifact.
      val unadjSentinel =
        if (unadjudicatedNames.isEmpty) "[]"
        else s"""["${unadjudicatedNames.size} breach flags unadjudicated - see artifact"]"""
      Seq(line(qs, br, iso, unadj), line(qs, "[]", iso, unadj),
          line(qs, "[]", "{}", unadj), line("{}", "[]", "{}", unadj),
          line("{}", "[]", "{}", unadjSentinel))
        .find(_.length <= 1900).get
    }

    // Iteration aid, NOT used by the driver: SPARK_GRAFT_BENCH_ONLY=
    // "streaming,prefix_" runs only scenarios/queries whose name starts
    // with one of the comma-separated prefixes (a family runs whole when
    // any of its names matches). Unset = everything.
    val only: Option[Seq[String]] =
      sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(',').map(_.trim).toSeq)
    def wanted(name: String): Boolean = only.forall(_.exists(name.startsWith))

    SparkEntry.queries.toSeq.sortBy(_._1).filter(q => wanted(q._1)).foreach { case (name, fn) =>
      def once(): Unit = noop(fn(spark, sfDir))
      try {
        once()
        val (v, m) = robust(once())
        results(name) = v
        medians(name) = m
      }
      catch { case e: Throwable =>
        System.err.println(s"[bench] query $name failed: $e")
        results(name) = -1.0
      }
    }
    flush()

    families.filter(_.names.exists(wanted)).foreach { f =>
      guarded(f, spark, sfDir).foreach { case (name, (v, m)) =>
        results(name) = v
        medians(name) = m
      }
      flush()
    }

    // ---- self-adjudication pass (r12 verdict #2) ----
    // Baseline-gate every in-sweep number, then re-run the breached
    // scenarios ISOLATED (same process, but after the sweep's own load
    // has drained) and record both lists in the artifact. The full
    // sweep runs scenarios sequentially, but the machine hosting the
    // driver's run is shared — r12's two same-HEAD runs flagged
    // DISJOINT breach sets at r11-level numbers, proving both sets were
    // transient-load artifacts; this pass resolves that in-artifact.
    // Skipped under SPARK_GRAFT_BENCH_ONLY (partial runs are an
    // iteration aid, not a gated artifact).
    if (only.isEmpty) try {
      val t = tables.get
      baselineRowsGated = t.rowsGated
      val sliced = slicedGates.toSet
      if (t.rowsGated == 0) {
        // gating against nothing is not a pass: make the artifact fail
        // check_bench loudly by marking EVERY real scenario
        // unadjudicated (the field is semantically never shed)
        System.err.println(
          "[bench] NO baseline rows resolved (dir=" +
            t.dir.map(_.toString).getOrElse("<unresolved>") +
            ") — the adjudication pass cannot gate anything; marking " +
            "every scenario unadjudicated")
        unadjudicatedNames ++=
          results.collect { case (n, v) if v >= 0 && !sliced(n) => n }
      } else {
      // adjudicated intentional regressions: the waiver bound REPLACES
      // both gates (r13 advice — previously this pass ignored waivers,
      // so a waived scenario sitting under its bound but over the
      // 1.5x/2x gates burned the bounded re-run budget every sweep).
      // Gate on the WORSE of the two recorded statistics: check_bench
      // defaults to the median map while the gate stat is min-of-5 for
      // sub-2s scenarios — a median-only breach (the whipsaw case this
      // pass exists for) must still earn an isolated re-run
      breachedNames ++= results.collect {
        case (name, v0) if v0 >= 0 && !sliced(name) && {
          val v = math.max(v0, medians.getOrElse(name, v0))
          t.waivers.get(name) match {
            case Some(bound) => v >= bound
            case None =>
              t.fwd.get(name).exists(b => v >= 1.5 * b + 0.5) ||
                t.ref.get(name).exists(b => v >= 2.0 * b)
          }
        } => name
      }
      if (breachedNames.nonEmpty) {
        System.err.println(
          s"[bench] ${breachedNames.size} in-sweep breach(es): " +
            breachedNames.mkString(", ") + " — re-running isolated")
        // settle before measuring (r13 verdict #2: the adjudication
        // pass ran straight off the back of the sweep and recorded
        // personalized_pagerank at 14.05 s where a true isolated run
        // reads 5.80 s — 2.4x inflation from end-of-sweep JVM/GC
        // pressure, enough to flag a FALSE breach). Drop cached frames,
        // force a full GC, and give background threads a few seconds to
        // drain so "isolated" means what the name says.
        def settle(): Unit = {
          try spark.catalog.clearCache() catch { case _: Throwable => () }
          System.gc(); Thread.sleep(3000); System.gc(); Thread.sleep(1000)
        }
        settle()
        // budget: EVERY flagged query gets an isolated re-run (r14
        // verdict #2 — the old 8-query cap left 5 of 13 flags shipped
        // unadjudicated; a query re-run costs ~1 s + the settle sleeps,
        // far below the ~90 s family re-runs the caps actually protect
        // against). A 64-query safety cap bounds the pathological
        // everything-breached run; families keep their 4-slot cap, and
        // a family re-runs once however many of its names breached.
        // Anything left un-isolated is recorded by name in
        // `unadjudicated`, which check_bench treats as a failure —
        // budget exhaustion can no longer pass silently.
        var queryReruns = 0
        val familyOf = families.flatMap(f => f.names.map(_ -> f)).toMap
        val rerunFamilies = mutable.Set.empty[Family]
        breachedNames.foreach { name =>
          SparkEntry.queries.get(name) match {
            case Some(fn) if queryReruns < 64 =>
              queryReruns += 1
              try {
                def once(): Unit = noop(fn(spark, sfDir))
                once()
                settle() // each number measured from a settled JVM
                isolatedMap(name) = robust(once())._1
              } catch { case e: Throwable =>
                System.err.println(s"[bench] isolated re-run of $name failed: $e")
              }
            case Some(_) => () // safety cap spent
            case None =>
              familyOf.get(name).foreach { f =>
                if (!rerunFamilies(f) && rerunFamilies.size < 4) {
                  rerunFamilies += f
                  settle() // each family measured from a settled JVM
                  try isolatedMap ++= measure(f, spark, sfDir).collect {
                    case (k, (v, _)) if v >= 0 => k -> v
                  }
                  catch { case e: Throwable =>
                    System.err.println(s"[bench] isolated family re-run for $name failed: $e")
                  }
                }
              }
          }
        }
      }
      } // t.rowsGated > 0
    } catch { case e: Throwable =>
      System.err.println(s"[bench] self-adjudication pass failed (ignored): $e")
      e.printStackTrace()
    }
    // every breach flag must end adjudicated: name the leftovers.
    // OUTSIDE the try (r15 review finding #4): an exception mid-pass —
    // an interrupted settle() sleep, a re-run scaffold failure — must
    // not ship the flags with an empty unadjudicated list, which is
    // exactly the silent-pass hole this field exists to close.
    unadjudicatedNames ++=
      breachedNames.filterNot(isolatedMap.contains).distinct
    if (unadjudicatedNames.nonEmpty)
      System.err.println(
        s"[bench] ${unadjudicatedNames.size} breach flag(s) NOT " +
          s"isolated (budget/failure): ${unadjudicatedNames.mkString(", ")}")

    // final durable copy (the driver's bounded log tail truncated round 5's
    // JSON; flush() has also been keeping a partial artifact all along)
    flush()
    // stop the session BEFORE printing: the state-store maintenance
    // thread's shutdown-time IllegalStateException (round-9 artifact)
    // otherwise lands in the log tail AFTER the JSON line and breaks the
    // driver's parse — printed last, the JSON is the final stdout line.
    // Round 10 showed spark.stop() alone is NOT enough: the JVM-wide
    // StateStore maintenance thread kept logging a stack trace after the
    // JSON. So stop that thread pool explicitly first, then print, then
    // exit(0) so no other shutdown hook can write to stdout after us.
    try org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    catch { case e: Throwable =>
      System.err.println(s"[bench] StateStore.stop() threw (ignored): $e")
    }
    try spark.stop()
    catch { case e: Throwable =>
      System.err.println(s"[bench] spark.stop() threw (ignored): $e")
    }
    println(resultJson())
    // Round-11 verdict, blocker (b): the driver's stdout tail window is
    // ~2,000 bytes while the full JSON above is ~18 KB — the tail starts
    // mid-object and can never parse. So the TRUE final line is a compact
    // summary that fits whole inside the tail: total + provenance + the
    // BASELINE.md-overlap scenarios (3-decimal seconds, ~1.2 KB); if the
    // line ever outgrows the window, the queries map is dropped first.
    // The full per-scenario map stays in target/bench.json (flushed
    // above) and the committed BENCH_r*_local.json artifact.
    println(compactSummaryJson())
    Console.out.flush()
    System.out.flush()
    System.exit(0)
  }

  private def tempDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-bench-$tag").toString

  private def deleteRecursively(dir: String): Unit = {
    import java.nio.file.{Files, Paths}
    val root = Paths.get(dir)
    if (Files.exists(root)) {
      val walk = Files.walk(root)
      try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => Files.deleteIfExists(p))
      finally walk.close()
    }
  }

  /** Best-effort [[deleteRecursively]]: state-store MAINTENANCE threads
    * keep flushing snapshot files briefly after a query stops, so a
    * walk-then-delete can race a concurrent create
    * (DirectoryNotEmptyException — this voided two whole measured runs
    * before). One short-delay retry, then give up: these are temp dirs,
    * and a leaked dir must never void the numbers. */
  private def deleteQuietly(dirs: Iterable[String]): Unit = dirs.foreach { d =>
    try deleteRecursively(d)
    catch {
      case _: java.io.IOException =>
        Thread.sleep(500)
        try deleteRecursively(d) catch { case _: java.io.IOException => () }
    }
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  // ---- the store load: one shape for every backend ----

  private def mid(n: Int) = f"00000000-0000-0000-0000-$n%012d"
  private val Payload = """{"data":"""" + "x" * 256 + """"}"""
  /** Messages in one [[load]]. */
  private val Loaded = 2000

  /** The store load of the parquet, JDBC and HTTP families: 20 batches of
    * 100 messages, round-robin into 8 streams. */
  private def load(store: StreamStore): Unit =
    (0 until Loaded / 100).foreach { b =>
      store.appendToStream(s"stream-${b % 8}", ExpectedVersion.Any,
        (0 until 100).map(i => NewStreamMessage(mid(b * 100 + i), "t", Payload)))
    }

  /** Page through the whole log forwards; the number of messages seen. */
  private def scan(store: StreamStore, pageSize: Int): Int = {
    var page = store.readAllForwards(Position.Start, maxCount = pageSize)
    var n = page.messages.size
    while (!page.isEnd) { page = page.readNext(); n += page.messages.size }
    n
  }

  /** [[scan]] of a store holding exactly one [[load]]. */
  private def scanLoaded(store: StreamStore, pageSize: Int): Unit = {
    val n = scan(store, pageSize)
    require(n == Loaded, s"scan saw $n messages, loaded $Loaded")
  }

  // ---- scenario families ----

  /** Spark's built-in HLL++ approximate distinct (bench-only: ITS
    * estimates are engine-specific; the exact counterpart is the
    * oracled distinct_counts gate, and graft's own integer-register
    * HLL is fully oracled since round 12 — hll_registers/hll_state/
    * hll_merge_registers hash-match a DuckDB recomputation), and
    * t-digest-style approximate quantiles (bench-only for the same
    * reason: the exact counterparts are the oracled length_quantiles /
    * mad_outliers rank-rule gates). One pass, mergeable partials — the
    * 100 TB answer when the rank-rule's per-group sort isn't affordable
    * corpus-wide. */
  private def approxScenario(spark: SparkSession, sfDir: String): Seq[(String, Double)] = {
    import org.apache.spark.sql.functions._
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    def approx(): Unit = noop(li
      .groupBy("l_returnflag")
      .agg(
        approx_count_distinct(col("l_partkey")).as("parts"),
        approx_count_distinct(col("l_suppkey")).as("supps")))
    approx()
    val distinctSec = median3(approx())
    def approxQ(): Unit = noop(li
      .groupBy("l_returnflag")
      .agg(percentile_approx(col("l_extendedprice"),
        array(lit(0.5), lit(0.95), lit(0.99)), lit(10000)).as("price_q")))
    approxQ()
    Seq("approx_distinct_counts" -> distinctSec,
        "approx_quantiles" -> median3(approxQ()))
  }

  /** SimHash NEAR-dup pairs (dist 1-3) on the dup fixture — bench-only
    * (the banding is engine-hash-dependent, so the ORACLED gate is the
    * dist-0 simhash_exact_dups; recall vs exact Hamming pairs is
    * spec-pinned in OperatorsSpec). This is the scenario BASELINE.md's
    * `simhash_near_dups` row binds on; until round 12 no scenario
    * carried that name and the 2x check silently skipped it. */
  private def simhashScenario(spark: SparkSession, sfDir: String): Seq[(String, Double)] = {
    import org.apache.spark.sql.functions._
    val d = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text")
    // +1e7/+2e7 offsets: far above any fixture's id space (the
    // incremental scenario's convention) so copies never collide with
    // genuine doc_ids at larger SFs
    val docs = d.unionAll(
        d.filter(col("doc_id") < 100)
          .select((col("doc_id") + 10000000L).as("doc_id"), col("text")))
      .unionAll(
        d.filter(col("doc_id") < 40)
          .select((col("doc_id") + 20000000L).as("doc_id"),
            col("text").substr(lit(11), lit(100000)).as("text")))
    def near(): Unit = noop(graft.operators.Dedup
      .simHashNearDups(docs, "text", "doc_id", maxDist = 3))
    near()
    Seq("simhash_near_dups" -> median3(near()))
  }

  /** Runtime bloom-filter join pruning, measured ON vs OFF on the same
    * selective dim⋈fact shuffle join (broadcast disabled so the join
    * matches the too-big-to-broadcast regime the feature exists for;
    * thresholds matched to bench data — the defaults only engage above
    * 10 GB scans, i.e. the 100 TB regime). PlanShapeSpec pins the
    * injection itself; this records what it buys. */
  private def bloomJoinScenario(spark: SparkSession, sfDir: String): Seq[(String, Double)] = {
    import org.apache.spark.sql.functions.{col, count, lit}
    val keys = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val saved = keys.map(k =>
      k -> scala.util.Try(spark.conf.get(k)).toOption.filter(_ != null))
    def run(): Unit = noop(spark.read.parquet(s"$sfDir/lineitem.parquet")
      .join(spark.read.parquet(s"$sfDir/orders.parquet")
        .filter(col("o_orderpriority") === "1-URGENT"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n")))
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      run()
      val onSec = median3(run())
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "false")
      run()
      Seq("bloom_join_on" -> onSec, "bloom_join_off" -> median3(run()))
    } finally saved.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  /** Stream-store scenarios mirroring the reference LoadTests
    * (src/LoadTests: ReadAllForwards, AppendExpectedVersionAnyParallel,
    * StreamSubscription). ONE repetition: fresh temp dir + store, the
    * full scenario sequence, then teardown — so [[medianScenarios]] reps
    * are independent and the medians are honest. */
  private def storeScenarioRep(spark: SparkSession): Seq[(String, Double)] = {
    import graft.streaming.Subscriptions

    val dir = tempDir("store")
    val store = new SparkStreamStore(spark, dir)
    val appendSec = time(load(store))
    val readAllSec = time(scanLoaded(store, pageSize = 1000))

    val catchupSec = time {
      val latch = new java.util.concurrent.CountDownLatch(1)
      val seen = new java.util.concurrent.atomic.AtomicLong
      val sub = Subscriptions.subscribeToAll(store, None,
        _ => seen.incrementAndGet(),
        caughtUp => if (caughtUp && seen.get() >= Loaded) latch.countDown(),
        pageSize = 1000)
      latch.await(120, java.util.concurrent.TimeUnit.SECONDS)
      sub.close()
    }

    // appends to a MaxCount-capped stream: every append past the cap
    // scavenges (round 1 rewrote the whole log per append here; now a
    // cutoff tombstone) — ref: LoadTests/AppendStreamWithMaxCount.cs
    val scavengeSec = time {
      store.setStreamMetadata("capped", maxCount = Some(50))
      (0 until 200).foreach { i =>
        store.appendToStream("capped", ExpectedVersion.Any,
          Seq(NewStreamMessage(mid(100000 + i), "t", Payload)))
      }
    }

    // single-message deletes (tombstone + $message-deleted event each)
    val deleteSec = time {
      (0 until 20).foreach { i =>
        store.deleteMessage(s"stream-${i % 8}", mid(i))
      }
    }

    // maintenance: merge tombstones physically + re-tier the log into
    // position-range files (the background job autoCompactEvery schedules
    // off the append path) — the one store surface the bench didn't time
    val compactSec = time {
      store.compact()
      // post-compact scan sanity: the log still reads end to end (the
      // deleted/scavenged rows are physically gone; tombstone-tracking
      // events in $deleted remain, so assert readability, not a count)
      require(scan(store, pageSize = 10000) > 0, "post-compaction scan returned nothing")
    }

    // reopen: journal replay + tail scan, not a full-log aggregate
    val reopenSec = time {
      store.close()
      val reopened = new SparkStreamStore(spark, dir)
      require(reopened.readHeadPosition() >= Loaded - 1)
      reopened.close()
    }
    deleteRecursively(dir)

    Seq(
      "store_append_2k_msgs" -> appendSec,
      "store_read_all_scan" -> readAllSec,
      "store_subscription_catchup" -> catchupSec,
      "store_scavenge_200_appends" -> scavengeSec,
      "store_delete_20_msgs" -> deleteSec,
      "store_compact_merge" -> compactSec,
      "store_reopen_recovery" -> reopenSec)
  }

  /** Bulk-load path: the whole sf events table imported into a fresh
    * store log in one cluster job ([[graft.store.BulkImport]]), then the
    * two read surfaces the import unlocks — a full DSv2 segment-table
    * scan, and the footer-stats head probe (max(position) answered
    * without opening a row group; contrast store_read_all_scan's paged
    * API walk). One repetition (fresh dir per rep). */
  private def bulkImportScenarioRep(spark: SparkSession, sfDir: String): Seq[(String, Double)] = {
    import org.apache.spark.sql.functions._
    val dir = tempDir("bulk")
    val events = spark.read.parquet(s"$sfDir/events.parquet")
    val (imported, importSec) = timed(graft.store.BulkImport.importMessages(
      spark,
      events.select(
        concat(lit("u"), col("user_id")).as("sid"),
        concat(lit("m-"), col("event_id")).as("mid"),
        col("event_type"), col("props"), col("event_id")),
      dir, orderCol = "event_id", streamIdCol = "sid", messageIdCol = "mid",
      typeCol = "event_type", dataCol = "props"))
    def readLog = spark.read.format("graft.sources.LogSegmentSource")
      .option("path", dir).load()
    val scanSec = time(noop(readLog))
    val headSec = time {
      val head = readLog.agg(max(col("position"))).collect().head.getLong(0)
      require(head == imported - 1, s"head $head != ${imported - 1}")
    }
    deleteRecursively(dir)
    Seq(
      "store_bulk_import_events" -> importSec,
      "store_dsv2_full_scan" -> scanSec,
      "store_head_probe_metadata" -> headSec)
  }

  /** The same load and scan against the JDBC backend (embedded Derby),
    * so backend throughput is directly comparable in one run. One
    * repetition (see [[storeScenarioRep]]). */
  private def jdbcScenarioRep(spark: SparkSession): Seq[(String, Double)] = {
    val dir = tempDir("jdbc")
    val store = new JdbcStreamStore(spark, s"jdbc:derby:$dir/db;create=true")
    val appendSec = time(load(store))
    val readAllSec = time(scanLoaded(store, pageSize = 1000))
    val sparkReadSec = time {
      require(store.allMessages().count() == Loaded)
    }
    store.close()
    deleteRecursively(dir)
    Seq(
      "jdbc_append_2k_msgs" -> appendSec,
      "jdbc_read_all_scan" -> readAllSec,
      "jdbc_spark_partitioned_read" -> sparkReadSec)
  }

  /** End-to-end HTTP surface throughput (ref: `src/LoadTests/` exercises
    * the HTTP client the same way): a parquet-backed store behind
    * [[graft.http.StreamStoreHttpServer]], scanned page-by-page through
    * [[graft.http.HttpStreamStore]] — server JSON encode + client decode
    * + pagination. The load goes straight to the backing store, untimed
    * (append cost is store_append_2k_msgs' number); the scan times the
    * wire read. */
  private def httpScenarios(spark: SparkSession): Seq[(String, Double)] = {
    val dir = tempDir("http")
    val store = new SparkStreamStore(spark, dir)
    load(store)
    val server = new graft.http.StreamStoreHttpServer(store)
    val client = new graft.http.HttpStreamStore(server.baseUrl)
    scanLoaded(client, pageSize = 200) // warm
    val scanSec = median3(scanLoaded(client, pageSize = 200))

    // append through the wire (ref: LoadTests/AppendExpectedVersionAnyParallel):
    // JSON encode + POST + expected-version header round trip per batch
    var appendBase = 100000
    def appendRun(): Unit = {
      (0 until 10).foreach { b =>
        client.appendToStream(s"http-w-${b % 4}", ExpectedVersion.Any,
          (0 until 100).map(i => NewStreamMessage(mid(appendBase + b * 100 + i), "t", Payload)))
      }
      appendBase += 1000
    }
    appendRun() // warm
    val appendSec = median3(appendRun())

    client.close(); server.close(); store.close()
    deleteRecursively(dir)
    Seq("http_read_all_scan" -> scanSec, "http_append_1k_msgs" -> appendSec)
  }

  /** Structured Streaming micro-batch throughput: the stateful operators
    * replay the events table through a MemoryStream in 6 event-time-
    * ordered micro-batches. The batch twins in `queries` measure the
    * PLAN; these measure the incremental machinery — state store
    * get/put, watermark advance, checkpointing — that batch mode never
    * touches. Per-micro-batch checkpoint commit (~0.5-0.7 s on local
    * disk) dominates at bench scale; data volume is secondary.
    *
    * The replays run at EIGHT state partitions, not the session's 32:
    * the state-store partition count is the deployment dial a real
    * pipeline sizes to key cardinality (here: hundreds of users), and
    * each partition is a separate store whose per-micro-batch commit
    * fsyncs its delta — at 32 partitions the interval join (FOUR stores
    * per partition: two per side) was committing 128 stores per
    * micro-batch, 53 s of pure commit machinery at any data scale.
    * Result parity across partition counts is exactly what
    * StatefulStreamingSpec pins (it runs the same operators at 4). */
  private def streamingScenarios(spark: SparkSession, sfDir: String): Seq[(String, Double)] = {
    import graft.streaming.{EventTimeOps, LogEvent, StatefulOps, TransformWithStateOps}
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    import spark.implicits._

    val savedParts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    val checkpoints = mutable.Buffer.empty[String]
    try {
      val events = StatefulOps.typedEvents(spark.read.parquet(s"$sfDir/events.parquet"))
        .collect().sortBy(_.tsNanos)
      val sixBatches = events.grouped(math.max(1, events.length / 6)).toSeq
      val providerKey = "spark.sql.streaming.stateStore.providerClass"
      val gapMicros = 12L * 3600L * 1000000L

      /** One timed replay: a fresh MemoryStream per input (`inputs`
        * selects each input's share of a batch) and a fresh checkpoint,
        * each of `batches` fed as one micro-batch into `query` with a
        * `noop` sink. One transient streaming failure (checkpoint fs
        * races show up rarely under parallel load) must not zero the
        * whole family: the replay builds fresh state, so one retry is
        * safe; a second failure still propagates to [[guarded]]. */
      def replay(name: String, mode: String = "append", rocksDb: Boolean = false,
          batches: Seq[Array[LogEvent]] = sixBatches,
          inputs: Seq[Array[LogEvent] => Array[LogEvent]] = Seq(identity))(
          query: Seq[Dataset[LogEvent]] => Dataset[_]): (String, Double) = {
        def once(): Double = time {
          if (rocksDb) spark.conf.set(providerKey,
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
          try {
            val ins = inputs.map(_ => MemoryStream[LogEvent](spark))
            val ckpt = java.nio.file.Files.createTempDirectory("graft-bench-ckpt").toString
            checkpoints += ckpt
            val q = query(ins.map(_.toDS())).writeStream.format("noop").outputMode(mode)
              .option("checkpointLocation", ckpt).start()
            try batches.foreach { b =>
              ins.zip(inputs).foreach { case (in, select) => in.addData(select(b).toIndexedSeq) }
              q.processAllAvailable()
            } finally q.stop()
          } finally if (rocksDb) spark.conf.unset(providerKey)
        }
        name -> (try once() catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed once ($e); retrying")
          once()
        })
      }

      Seq(
        replay("streaming_session_replay")(in =>
          StatefulOps.sessionizeWithState(in.head, gapMicros = gapMicros)),
        // the same sessionization replay on the RocksDB state store — the
        // production provider once state outgrows executor heaps (the
        // 100 TB configuration); kept as a SEPARATE scenario so the
        // HDFS-provider numbers stay comparable across rounds.
        // StatefulStreamingSpec pins result parity between the providers.
        replay("streaming_session_replay_rocksdb", rocksDb = true)(in =>
          StatefulOps.sessionizeWithState(in.head, gapMicros = gapMicros)),
        replay("streaming_window_replay") { in =>
          val df = in.head.toDF().select(
            col("userId").as("user_id"), col("tsNanos").as("ts"),
            col("eventType").as("event_type"),
            (col("valueMicros") / 1000000L).cast("double").as("value"))
          EventTimeOps.windowedStats(df, "ts", "event_type", "value",
            windowDuration = "6 hours", watermarkDelay = "1 hour")
        },
        // stream-stream interval join over the same replay — the funnel
        // drop-off shape ("views followed by a purchase within the
        // window"): left = view events, right = purchase events,
        // watermark-closed state (O(window) per key, never O(history)) —
        // the measured number the O(window) state claim was missing
        // (round-6 verdict #5). Cost is ~fixed machinery, not data: the
        // symmetric hash join commits FOUR state stores (two per side)
        // per partition per micro-batch, ~4x the session replay's single
        // store. NOTE: each micro-batch logs a WARN from
        // StreamingJoinHelper ("Cannot evaluate expression: ts_a/ts_b") —
        // Spark cannot derive a state watermark from the exact RAW-LONG
        // range predicate, which is expected and benign: state eviction
        // comes from the coarse EVENT-TIME bound intervalJoined adds for
        // precisely this purpose (t_b in [t_a, t_a + within + slack]).
        replay("streaming_interval_replay", inputs = Seq(
            _.filter(_.eventType == "view"), _.filter(_.eventType == "purchase"))) { in =>
          val Seq(views, purchases) = in.map(_.toDF().select(
            col("userId").as("user_id"), col("tsNanos").as("ts_ns"),
            xxhash64(col("userId"), col("tsNanos")).as("eid")))
          EventTimeOps.intervalJoin(views, purchases,
            "user_id", "ts_ns", "eid", withinNanos = 600L * 1000000000L)
        },
        // incremental SCD2 maintenance — the CDC-log → type-2 dimension
        // projection (closed intervals emit per batch, one open run per
        // user in state). Single state store, so the cost sits near
        // streaming_session_replay's checkpoint-commit floor.
        replay("streaming_scd2_replay")(in => StatefulOps.scd2WithState(in.head)),
        // the arbitrary-state API replay (transformWithState + MapState)
        // on RocksDB — one state ENTRY per (user, type): the
        // delta-proportional update path next to the blob-state operators
        replay("streaming_tws_replay", "update", rocksDb = true)(in =>
          TransformWithStateOps.typeCountsWithState(in.head)),
        // the ListState ring replay (last-5 feed per user): whole-ring
        // rewrite per touched user, O(n) state forever
        replay("streaming_feed_replay", "update", rocksDb = true)(in =>
          TransformWithStateOps.recentFeedWithState(in.head, n = 5)),
        // the bounded-state top-k replay (Space-Saving MapState, k=20 per
        // event type): k entries per key FOREVER, O(k·|keys|) state no
        // matter how long the replay runs
        replay("streaming_topk_replay", "update", rocksDb = true)(in =>
          TransformWithStateOps.topKWithState(in.head, k = 20)),
        // funnel CEP replay (A → B → C within 7 days): buffering state,
        // exactly-once close on watermark; the batch twin is the
        // funnel_state_batch gate, parity pinned in StatefulStreamingSpec
        replay("streaming_funnel_replay")(in =>
          StatefulOps.funnelWithState(in.head, Seq("view", "click", "purchase"),
            windowMicros = 7L * 86400L * 1000000L)),
        // commit-cost attribution (r17, verdict #3): the SAME event stream
        // as streaming_session_replay ingested as ONE micro-batch instead
        // of six; the delta between the two is five micro-batch cycles'
        // worth of state-store commit + offset/commit-log fsync — the
        // "commit floor" the replay family's cost model claims.
        replay("streaming_session_1batch_replay", batches = Seq(events))(in =>
          StatefulOps.sessionizeWithState(in.head, gapMicros = gapMicros)))
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", savedParts)
      deleteQuietly(checkpoints)
    }
  }

  /** The MACRO number: the whole training-data pipeline composed end to
    * end over the documents table ([[corpusPipeline]]) — one lineage, so
    * Spark plans ACROSS stage boundaries (subtree reuse, broadcast
    * decisions over intermediate sizes) the way a real corpus build runs
    * it. Single run (its heavy stages are the already median-benched
    * minhash/CC scenarios; this measures composition, not operator
    * variance). Mirrors `tools/PipelineDemo` stage for stage.
    *
    * Per-stage breakdown (r12 verdict #6): the fused number kept
    * absorbing stages (10.3 s r10 → 16.2 s r12) and a single number
    * can't say WHICH stage grew. The staged twin runs the same stages
    * with a materialization boundary after each, so every delta is
    * attributable to one stage. The stage SUM exceeds the fused number by
    * construction (checkpoint materialization + lost cross-stage
    * planning) — the headline stays the fused run; the stage rows exist
    * to localize growth. */
  private def pipelineScenario(spark: SparkSession, sfDir: String): Seq[(String, Double)] = {
    def raw = spark.read.parquet(s"$sfDir/documents.parquet")
    val fusedSec = time(corpusPipeline(raw, None))
    val stages = mutable.LinkedHashMap.empty[String, Double]
    corpusPipeline(raw, Some(stages))
    ("pipeline_docs_end_to_end" -> fusedSec) +: stages.toSeq
  }

  /** Quality filter → exact dedup → near-dup removal (MinHash-LSH +
    * connected components) → decontamination → deterministic split →
    * token-budget mixture plan → sequence packing → sharded shuffle.
    *
    * Fused (`stages` = None), the lineage is materialized only at the
    * fan-out frames (r13, from the per-stage breakdown): `exact` and
    * `deduped` each feed two consumers, and `clean` feeds THREE terminal
    * actions (mixture plan, packing, shard shuffle) plus the weights
    * frame. Left fused, Spark re-derived the whole upstream once per
    * consumer — 17.4 s for 6.9 s of actual stage work at sf0.1. A
    * production corpus build persists exactly these boundaries (stage
    * outputs land on disk between phases); the single-consumer chains on
    * either side stay fused so cross-stage planning is still exercised.
    * Staged, every stage is materialized and timed into `stages` as
    * `pipeline_stage_<name>`. */
  private def corpusPipeline(raw: DataFrame, stages: Option[mutable.Map[String, Double]]): Unit = {
    import graft.operators._
    import org.apache.spark.sql.functions._
    def stage[A](name: String)(f: => A): A = stages.fold(f) { m =>
      val (a, sec) = timed(f)
      m(s"pipeline_stage_$name") = sec
      a
    }
    def pin(df: DataFrame, fanOut: Boolean): DataFrame =
      if (fanOut || stages.isDefined) df.localCheckpoint() else df
    val kept = stage("quality") {
      pin(raw.join(TextCorpus.qualityFlags(raw).filter(col("keep")).select("doc_id"), "doc_id"),
        fanOut = false)
    }
    val exact = stage("exact_dedup") {
      pin(Dedup.exactDedup(kept, "text", "doc_id"), fanOut = true)
    }
    val deduped = stage("near_dup") {
      val pairs = Dedup.nearDupPairs(exact, "text", "doc_id", threshold = 0.5)
      val groups = Dedup.connectedComponents(pairs.select("id_a", "id_b"))
      val drop = groups.filter(col("id") =!= col("component"))
        .select(col("id").as("doc_id"))
      pin(exact.join(drop, Seq("doc_id"), "left_anti"), fanOut = true)
    }
    val clean = stage("decontam") {
      val bench = raw.orderBy("doc_id").limit(5)
        .select((col("doc_id") + 900000).as("doc_id"), col("text"))
      val contaminated = Dedup.contamination(deduped, bench, "text", "doc_id",
          minOverlap = 150)
        .select(col("corpus_id").as("doc_id")).distinct()
      pin(deduped.join(contaminated, Seq("doc_id"), "left_anti"), fanOut = true)
    }
    val train = stage("split_mixture") {
      val split = clean.withColumn("split",
        Sampling.deterministicSplit(col("doc_id"), salt = "bench-v1", trainPct = 80, valPct = 10))
      val tr = pin(split.filter(col("split") === "train"), fanOut = false)
      val weights = clean.select("source").distinct()
        .select(col("source"), (substring(col("source"), 4, 10).cast("int") % 4 + 1).as("weight"))
      noop(Sampling.mixturePlan(tr, weights, budgetTokens = 10000L))
      tr
    }
    stage("packing") {
      val withCost = train.withColumn("n_tokens", TextAnalysis.tokenCount(col("text")))
      noop(Packing.binStats(withCost, "doc_id", "n_tokens", budget = 512L, chunkSize = 1000L))
    }
    stage("shuffle") {
      noop(TextCorpus.shardedShuffle(train, shards = 4, salt = "epoch-0"))
    }
  }

  /** Layout A/B: the SAME events table written two ways — time-clustered
    * (the layout an ingest-by-arrival pipeline naturally produces; range-
    * partitioned + sorted by ts) and Z-ordered by (user_id, epoch-day)
    * ([[graft.sources.ZOrder.writeZOrdered]]) — then an identical
    * selective 2-D box query (a user band × one week) scanned against
    * both. The z-layout keeps BOTH columns' parquet min/max stats tight
    * per file/row-group, so the box prunes on either predicate; the
    * time layout prunes only the day side and must read every user. The
    * write costs are recorded too: the one range exchange is what any
    * clustered layout pays, amortized across every repeat reader — the
    * Delta/Iceberg `OPTIMIZE ZORDER` economics, measured. */
  private def layoutScenario(spark: SparkSession, sfDir: String): Seq[(String, Double)] = {
    import org.apache.spark.sql.functions._
    val dir = tempDir("layout")
    val ev = spark.read.parquet(s"$sfDir/events.parquet")
      .withColumn("day", datediff(to_date(col("ts")), lit("1970-01-01")))
    // box bounds from one tiny off-the-clock agg: ~10% of users × 7 days
    val b = ev.agg(min("user_id"), max("user_id"), min("day")).collect().head
    val (uLo, uHi0, dLo) = (b.getLong(0), b.getLong(1), b.getInt(2))
    val uHi = uLo + math.max(1L, (uHi0 - uLo) / 10)
    val plainWriteSec = time {
      ev.repartitionByRange(32, col("ts")).sortWithinPartitions("ts")
        .write.mode("overwrite").parquet(s"$dir/plain")
    }
    val zWriteSec = time {
      graft.sources.ZOrder.writeZOrdered(ev, s"$dir/zorder", "user_id", "day",
        files = 32)
    }
    def scan(path: String, pred: org.apache.spark.sql.Column): Unit =
      noop(spark.read.parquet(path)
        .filter(pred)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("value").as("v")))
    // 2-D box: user band × one week — z prunes both dims, time layout
    // prunes only the day side
    val boxPred = col("user_id").between(uLo, uHi) &&
      col("day").between(dLo + 7, dLo + 13)
    // user band over ALL history: the dimension a time layout cannot
    // prune at all (full scan) while the z layout still skips ~90%
    val bandPred = col("user_id").between(uLo, uHi)
    scan(s"$dir/plain", boxPred); scan(s"$dir/zorder", boxPred) // warm
    val plainBoxSec = median3(scan(s"$dir/plain", boxPred))
    val zBoxSec = median3(scan(s"$dir/zorder", boxPred))
    val plainBandSec = median3(scan(s"$dir/plain", bandPred))
    val zBandSec = median3(scan(s"$dir/zorder", bandPred))
    deleteRecursively(dir)
    Seq(
      "layout_plain_write" -> plainWriteSec,
      "layout_zorder_write" -> zWriteSec,
      "layout_plain_box_scan" -> plainBoxSec,
      "layout_zorder_box_scan" -> zBoxSec,
      "layout_plain_band_scan" -> plainBandSec,
      "layout_zorder_band_scan" -> zBandSec)
  }

  /** Sketch-rollup economics: maintain a per-day HLL sketch table of
    * distinct users ONCE (the incremental aggregate a 100 TB pipeline
    * appends to as partitions land), then answer month-level distincts
    * by UNIONING sketches — versus re-scanning the raw events for an
    * exact COUNT(DISTINCT) every time. Sketches are mergeable, so the
    * rollup query touches |days| rows instead of |events|. HONEST at
    * bench scale: both query paths sit at the ~0.15 s planning/noop
    * floor (600 k raw rows are as cheap as 60 sketch rows locally), so
    * the two numbers come out nearly equal — the artifact records the
    * BUILD cost and the shape; the gap appears when |events| outgrows
    * the floor, and at 100 TB the exact rescan is a full-corpus
    * shuffle while the sketch query stays metadata-sized. Estimates
    * are engine-specific (no oracle — the exact twin is the oracled
    * distinct_counts gate). */
  private def sketchRollupScenario(spark: SparkSession, sfDir: String): Seq[(String, Double)] = {
    import org.apache.spark.sql.functions._
    val dir = tempDir("sketch")
    val ev = spark.read.parquet(s"$sfDir/events.parquet")
      .withColumn("day", to_date(col("ts")))
    val buildSec = time {
      ev.groupBy("day")
        .agg(hll_sketch_agg(col("user_id")).as("users_sk"),
          count(lit(1)).as("n_events"))
        .write.mode("overwrite").parquet(s"$dir/daily")
    }
    def fromSketches(): Unit = noop(spark.read.parquet(s"$dir/daily")
      .groupBy(trunc(col("day"), "month").as("month"))
      .agg(hll_sketch_estimate(hll_union_agg(col("users_sk"))).as("users"),
        sum("n_events").as("n_events")))
    def exactRescan(): Unit = noop(ev
      .groupBy(trunc(col("day"), "month").as("month"))
      .agg(countDistinct(col("user_id")).as("users"),
        count(lit(1)).as("n_events")))
    fromSketches(); exactRescan()
    val sketchSec = median3(fromSketches())
    val exactSec = median3(exactRescan())
    deleteRecursively(dir)
    Seq(
      "sketch_rollup_build" -> buildSec,
      "sketch_rollup_query" -> sketchSec,
      "sketch_exact_rescan" -> exactSec)
  }

  /** Q-digest quantile sketch: the one data-sized leaf aggregate + 16
    * compression rounds on the reduced frame, then five broadcast rank
    * probes from the finished digest. */
  private def qdigestScenario(spark: SparkSession, sfDir: String): Seq[(String, Double)] = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val cents = spark.read.parquet(s"$sfDir/events.parquet")
      .select(round(col("value") * 100).cast("long").as("v"))
    val (sketch, buildSec) = timed(graft.operators.Sketches
      .qdigestBuild(cents, col("v"), logUniverse = 16, k = 256)
      .localCheckpoint())
    val probes = Seq(2500L, 5000L, 10000L, 20000L, 40000L).toDF("x")
    val querySec = time(noop(graft.operators.Sketches.qdigestRanks(sketch, probes)))
    Seq("sketch_qdigest_build" -> buildSec, "sketch_qdigest_ranks" -> querySec)
  }

  /** The five `Online*` foreachBatch sinks' replay cost (r13 verdict
    * #7: state-vs-throughput is what dies first at scale, and the
    * streaming families had no measured 1×→10× ratios): the three
    * state-heaviest sinks — [[graft.streaming.OnlineDedup]] (LSH index
    * maintenance), [[graft.streaming.OnlineAnn]] (IVF cell appends),
    * [[graft.streaming.OnlineFrontier]] (standing-frontier admission) —
    * each replaying the corpus as FOUR micro-batches (`id % 4`) into a
    * fresh rootDir, exactly the foreachBatch call pattern. Single-run
    * like the other replay scenarios (multi-batch cost is stable
    * run-to-run; the dominant term is per-batch parquet round-trips). */
  private def onlineSinksScenario(spark: SparkSession, sfDir: String): Seq[(String, Double)] = {
    import graft.streaming.{OnlineAnn, OnlineDedup, OnlineFrontier}
    import org.apache.spark.sql.functions._
    val roots = mutable.Buffer.empty[String]
    def fresh(tag: String): String = {
      val d = tempDir(s"online-$tag")
      roots += d
      d
    }
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "source", "text").localCheckpoint()
    val vecs = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding").localCheckpoint()

    val tDedup = time {
      val online = new OnlineDedup(fresh("dedup"))
      (0 to 3).foreach(i =>
        online.processBatch(docs.filter(col("doc_id") % 4 === i), i.toLong))
    }
    val tAnn = time {
      val online = new OnlineAnn(fresh("ann"), k = 16)
      (0 to 3).foreach(i =>
        online.processBatch(vecs.filter(col("vec_id") % 4 === i), i.toLong))
    }
    val tFrontier = time {
      // pages linking three ways: a unique per-doc URL (all admit, the
      // frontier's linear term), a shared slot colliding across docs
      // (the discovers-once anti-join earns its keep), and a
      // blocklisted host (drops). One policy rule per source host.
      val pages = docs.select(col("doc_id"), concat(
        lit("<html><body><a href=\"https://"), col("source"),
        lit(".example.com/a/"), col("doc_id"), lit("\">x</a>"),
        lit("<a href=\"https://cdn."), col("source"),
        lit(".example.org/b/"), col("doc_id") % 500, lit("\">y</a>"),
        lit("<a href=\"https://ads.example.net/c/"), col("doc_id"),
        lit("\">z</a></body></html>")).as("html"))
      val rules = docs.select("source").distinct()
        .select(concat(col("source"), lit(".example.com")).as("host"),
          lit("/private/").as("path_prefix"), lit(false).as("allow"))
      val online = new OnlineFrontier(fresh("frontier"), rules,
        blockedDomains = Seq("example.net"),
        suffixes = Seq("example.com", "example.org", "example.net"),
        perDomainCap = 10000)
      (0 to 3).foreach(i =>
        online.processBatch(pages.filter(col("doc_id") % 4 === i), i.toLong))
    }
    val tKmv = time {
      // grouped standing sketch (one per source): per batch one
      // delta-sized distinct + WindowGroupLimit top-K + a |groups|·k
      // merge — the r14 KMV family's streaming maintenance cost
      val online = new graft.streaming.OnlineKmv(
        fresh("kmv"), "text", k = 256, by = Seq("source"))
      (0 to 3).foreach(i =>
        online.processBatch(docs.filter(col("doc_id") % 4 === i), i.toLong))
    }
    val tSuffix = time {
      // streaming ExactSubstr: per batch one O(batch-chars) window
      // projection + an index equi-join probe + the removal tail; the
      // standing index grows by discover-once hashes
      val online = new graft.streaming.OnlineSuffixDedup(
        fresh("suffix"), minLen = 50)
      (0 to 3).foreach(i =>
        online.processBatch(docs.filter(col("doc_id") % 4 === i), i.toLong))
    }
    deleteQuietly(roots)
    Seq("online_dedup_replay" -> tDedup, "online_ann_replay" -> tAnn,
      "online_frontier_replay" -> tFrontier, "online_kmv_replay" -> tKmv,
      "online_suffix_replay" -> tSuffix)
  }

  /** Standing-index compaction (r15 verdict #4): an OnlineSuffixDedup
    * index accreted over 64 micro-batches — the small-files regime,
    * where the probe's file listing starts to rival the equi-join it
    * serves — probed by one REPLAYED batch before and after
    * [[graft.streaming.OnlineSuffixDedup.compactIndex]]. The replay is
    * bit-identical work against the identical standing hash set; the
    * delta between the two numbers is pure layout (64 batch dirs vs
    * one 8-file generation). */
  private def onlineCompactScenario(spark: SparkSession, sfDir: String): Seq[(String, Double)] = {
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").filter(col("doc_id") < 512).localCheckpoint()
    val root = tempDir("online-compact")
    val online = new graft.streaming.OnlineSuffixDedup(root, minLen = 50)
    (0 until 64).foreach(i =>
      online.processBatch(docs.filter(col("doc_id") % 64 === i), i.toLong))
    val probe = docs.filter(col("doc_id") % 64 === 63)
    val tBefore = time { online.processBatch(probe, 63L) }
    online.compactIndex(spark)
    val tAfter = time { online.processBatch(probe, 63L) }
    deleteQuietly(Seq(root))
    Seq("online_index_64batch_probe" -> tBefore,
      "online_index_compacted_probe" -> tAfter)
  }

  /** Suffix-family stress shapes (r15 verdict #8). `suffix_big_doc`:
    * the per-document lead() window's worst case — ONE 1 MB document
    * (a single million-position sort partition) plus a 50 KB copied
    * slice to witness a real span, over the sf docs table.
    * `suffix_l200`: L=200 needs TWO fan-in-8 tuple rounds (8→64→200)
    * instead of one — the round-count term measured directly. */
  private def suffixStressScenario(spark: SparkSession, sfDir: String): Seq[(String, Double)] = {
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").localCheckpoint()
    val tBigDoc = time {
      // 1 MB of pseudo-random text: 32768 chained md5 blocks of 32
      // chars — incompressible, so rank classes stay honest (no
      // degenerate all-equal windows)
      val big = spark.range(1).select(
        lit(-1L).as("doc_id"),
        expr("array_join(transform(sequence(1, 32768), " +
          "i -> md5(concat('graft-big-doc-', i))), '')").as("text"))
      // a 50 KB slice copied into a second doc: the cross-doc span
      val slice = big.select(lit(-2L).as("doc_id"),
        expr("substring(text, 100001, 50000)").as("text"))
      val corpus = docs.unionByName(big).unionByName(slice)
      noop(graft.operators.SuffixDedup.duplicatedSpans(corpus, minLen = 50))
    }
    val tL200 = time {
      val withDups = docs.unionByName(
        docs.filter(col("doc_id") < 100)
          .select((col("doc_id") + 10000).as("doc_id"), col("text")))
      noop(graft.operators.SuffixDedup.duplicatedSpans(withDups, minLen = 200))
    }
    Seq("suffix_big_doc" -> tBigDoc, "suffix_l200" -> tL200)
  }

  /** Adversarial-shape probes (r14 verdict #8): the grouped KMV sketch
    * table at HIGH group cardinality (one sketch per order — the
    * WindowGroupLimit path where |groups|·k is the exchanged state),
    * and frontier scheduling under a HOT-HOST skew (80% of the frontier
    * on one host: the per-host queue window's worst documented case —
    * partitions bounded by host queue length means ONE long queue, and
    * this measures what that costs). */
  private def stressProbesScenario(spark: SparkSession, sfDir: String): Seq[(String, Double)] = {
    import org.apache.spark.sql.functions._
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
      .select("o_orderkey", "o_custkey").localCheckpoint()
    val tKmvHi = time {
      val lineitem = spark.read.parquet(s"$sfDir/lineitem.parquet")
        .select("l_orderkey", "l_partkey")
      noop(graft.operators.Sketches
        .kmvSketchBy(lineitem, Seq("l_orderkey"), col("l_partkey"), 8))
    }
    val tFrontierSkew = time {
      val host =
        when(col("o_orderkey") % 5 =!= 0, lit("big.example.com"))
          .otherwise(concat(lit("h"), pmod(col("o_custkey"), lit(997)).cast("string"),
            lit(".example.com")))
      val frontier = orders.select(host.as("host"),
        concat(lit("https://"), host, lit("/o/"),
          col("o_orderkey").cast("string")).as("url_norm"))
      val hostGraph = frontier.select(col("host").as("src_host")).distinct()
        .withColumn("dst_host", lit("big.example.com"))
      noop(graft.operators.Web
        .frontierSchedule(frontier, hostGraph, politenessSec = 1L, batchSize = 1000))
    }
    Seq("kmv_grouped_hi" -> tKmvHi, "frontier_skewed" -> tFrontierSkew)
  }

  /** The operational daily-growth twin of `pipeline_docs_end_to_end`
    * (r11 verdict #7): a ~10%-sized batch of NEW documents processed
    * against STANDING corpus state — LSH-index probe (the
    * [[graft.streaming.OnlineDedup]] idiom: index read back from
    * parquet, batch buckets broadcast), incremental survivors,
    * [[graft.operators.Merge.maintainAgg]] rollup merge, leakage-safe
    * cluster split of the delta, and the index-delta append. The
    * standing state (index, rollup) is built UNTIMED — in production it
    * already sits on disk; the timed number is |delta|-bounded work
    * plus the one unavoidable standing-index scan, which is the whole
    * point vs the from-scratch scenario's full recompute.
    * IncrementalPipelineSpec pins delta-result ≡ full-recompute
    * restricted to new ids, end to end. */
  private def incrementalPipelineScenario(spark: SparkSession, sfDir: String): Seq[(String, Double)] = {
    import graft.operators._
    import org.apache.spark.sql.functions._
    val tmp = tempDir("inc")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text", "source")
    val standing = docs.filter(col("doc_id") % 10 =!= 0)
    // the daily batch: new ids ABOVE the standing id space (the
    // incremental contract); half exact copies of STANDING docs (index
    // hits — the copy must take a standing doc's text: doc_id%20==0 is
    // itself outside standing, so its own text would never match the
    // index; doc_id+1 is %10==1, i.e. always standing) and half
    // fresh-tailed text (survivors)
    val standingText = docs.filter(col("doc_id") % 10 === 1)
      .select((col("doc_id") - 1).as("doc_id"), col("text").as("standing_text"))
    val batch = docs.filter(col("doc_id") % 10 === 0)
      .join(standingText, Seq("doc_id"), "left")
      .select((col("doc_id") + 10000000L).as("doc_id"),
        when(col("doc_id") % 20 === 0 && col("standing_text").isNotNull,
          col("standing_text"))
          .otherwise(concat(col("text"), lit(" fresh "), col("doc_id")))
          .as("text"),
        col("source"))
      .localCheckpoint()
    // ---- standing state, untimed: exists on disk in production ----
    val (sb, ssh) = Dedup.nearDupIndex(standing, "text", "doc_id")
    sb.write.mode("overwrite").parquet(s"$tmp/index-buckets")
    ssh.write.mode("overwrite").parquet(s"$tmp/index-shingles")
    standing.withColumn("n_tokens", TextAnalysis.tokenCount(col("text")))
      .groupBy("source")
      .agg(sum("n_tokens").as("n_tokens"), count(lit(1)).as("n"))
      .write.mode("overwrite").parquet(s"$tmp/rollup")
    val sec = time {
      val buckets = spark.read.parquet(s"$tmp/index-buckets")
      val shingles = spark.read.parquet(s"$tmp/index-shingles")
      val pairs = Dedup.incrementalNearDupPairs(batch, buckets, shingles,
          "text", "doc_id", threshold = 0.5)
        .localCheckpoint() // three consumers below; probe once
      val survivors = batch.join(
          pairs.select(col("new_id").as("doc_id")).distinct(),
          Seq("doc_id"), "left_anti")
        .localCheckpoint()
      // rollup merge: |sources| + |delta| work, never the standing corpus
      noop(Merge.maintainAgg(
        spark.read.parquet(s"$tmp/rollup"),
        survivors.withColumn("n_tokens", TextAnalysis.tokenCount(col("text")))
          .select("source", "n_tokens"),
        Seq("source"), Seq("n_tokens"), countCol = "n"))
      // leakage-safe split of the delta: matched docs key on their
      // smallest match (standing ids < batch ids, so a standing match
      // wins), unmatched docs are singletons
      val groups = pairs.groupBy(col("new_id").as("doc_id"))
        .agg(min("match_id").as("group_id"))
      noop(Sampling.clusterSplit(batch, groups, salt = "inc-v1"))
      // index delta: exactly the survivors' rows append to the index
      val (nb, nsh) = Dedup.nearDupIndex(survivors, "text", "doc_id")
      nb.write.mode("overwrite").parquet(s"$tmp/index-buckets-delta")
      nsh.write.mode("overwrite").parquet(s"$tmp/index-shingles-delta")
    }
    deleteRecursively(tmp)
    Seq("pipeline_docs_incremental" -> sec)
  }
}
