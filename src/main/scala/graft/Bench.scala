package graft

/** Benchmark main: times every SparkEntry query on
  * SPARK_GRAFT_SF_DIR, prints ONE JSON line.
  *
  * Methodology (recorded in BASELINE.md): one untimed warmup pass runs
  * every query first so the timed passes measure steady-state plan
  * execution, not Janino/JIT compilation of each query's codegen —
  * the regime a long-running cluster actually operates in. Disable
  * with SPARK_GRAFT_WARMUP=0.
  *
  * Contention tolerance (r8, per the r7 verdict): the timed
  * measurement is the PER-QUERY MEDIAN across SPARK_GRAFT_PASSES
  * full-suite passes (default 3). A single timed pass absorbs
  * co-tenant CPU bursts wholesale — the r7 driver record carried a
  * 47× environmental spike on one query that the artifact could not
  * distinguish from a regression. Passes run suite-major (pass 1 runs
  * every query, then pass 2, ...), so a burst localized in time lands
  * in at most one of a query's samples and the median discards it.
  * The full per-pass spread is recorded in bench_full.json
  * ("spread": query -> [t_pass1, t_pass2, ...]) so a contaminated run
  * is self-evident from the artifact alone. SPARK_GRAFT_PASSES=1
  * restores the old single-pass behavior for quick local smokes.
  *
  * The stdout JSON line reports the full-suite total plus per-query
  * timings for a fixed headline set (and the slowest stragglers) —
  * the suite has grown past 80 queries and the full map no longer
  * fits collectors that keep only a bounded stdout tail. The complete
  * per-query map is written to bench_full.json in the working
  * directory on every run.
  */
object Bench {

  /** The three-signal contention verdict, extracted pure so
    * BenchRoutingSpec can replay documented scenarios (r15 verdict
    * item 5). Signals: the CPU calibration probe's band, the
    * median-of-ratios and sum-of-medians ratios over queries shared
    * with the pinned record, and the legacy per-query-scaled wall
    * ratio. sharedSumRatio drives contended (identical work compared);
    * wallRatio is DISCARD-ONLY (r15 advice): it can inflate from an
    * IO co-tenant the CPU probe can't see, but it also drifts when the
    * suite grows heavier rows, so disagreement with a quiet
    * sharedSumRatio demotes to "borderline" (manual adjudication),
    * never to "contended" on its own.
    */
  private[graft] def signalVerdict(calMax: Double,
      sharedRatio: Option[Double], sharedSumRatio: Option[Double],
      wallRatio: Option[Double]): String =
    if (calMax >= 0.40 || sharedRatio.exists(_ >= 1.15) ||
        sharedSumRatio.exists(_ >= 1.15)) "contended"
    else if (calMax <= 0.37 && sharedRatio.forall(_ <= 1.10) &&
        sharedSumRatio.forall(_ <= 1.10) && wallRatio.forall(_ < 1.15)) "quiet"
    else "borderline"

  /** Contended-run routing (r15 verdict item 5): a contract run must
    * not clobber the pinned record when EITHER the calibration probe
    * crossed the discard band (host noise the CPU probe always sees),
    * OR the pinned record self-identified "quiet" and this run's
    * computed verdict is "contended" (the ratio-only IO-co-tenant
    * case that needed a manual `git checkout` two rounds running).
    * The regression-must-not-dodge property is preserved: when the
    * pinned record is NOT a quiet-verdict record (old format, or
    * itself borderline), ratio signals alone never auto-route — a
    * genuine regression lands in bench_full.json for adjudication.
    */
  private[graft] def shouldRouteContended(isContractRun: Boolean,
      hasPrior: Boolean, priorVerdictQuiet: Boolean, calMax: Double,
      verdict: String): Boolean =
    isContractRun && hasPrior &&
      (calMax >= 0.40 || (priorVerdictQuiet && verdict == "contended"))

  /** The queries BASELINE.md tracks individually: the heavy dedup /
    * similarity / pipeline block plus representative relational ones.
    */
  private val headline: Set[String] = Set(
    "q1_agg", "q_join_multi", "q_dedup_ngram", "q_dedup_minhash",
    "q_dedup_simhash", "q_dedup_incremental", "q_pipeline_corpus",
    "q_emb_neardup", "q_ann_topk", "q_ann_ivf", "q_stream_session",
    "q_text_chunks", "q_train_split", "q_topk", "q_window_rank",
    "q_unpivot", "q_global_agg",
    "q_tpch_q3", "q_tpch_q5", "q_sessionize", "q_tf_idf",
    "q_dedup_cluster", "q_bigram_pmi", "q_concurrency", "q_tpch_q18",
    // round-11 cost families, tracked individually since their records
    "q_entities", "q_entities_increment", "q_mmr_rerank",
    "q_url_canonical", "q_link_predict", "q_lang_spans",
    // round-12 fixture-staging targets (PQ training state + the dedup
    // sweep block's shared shingling), tracked through their records
    "q_pq_gain", "q_pq_trained", "q_pq_topk", "q_dedup_plan",
    "q_dedup_sweep", "q_winnow_pairs", "q_media_headers",
    // round-14 staging targets + the new decode row, tracked through
    // their records
    "q_dedup_verified", "q_classify_confusion", "q_media_jpeg",
    // round-15 staging target (stored SQ8 bounds), its recall row, the
    // int8 code-table serving variant, and the color JPEG decode row
    "q_sq8_topk", "q_sq8_recall", "q_sq8_codes", "q_ivf_sq8",
    "q_media_jpeg_color",
    // round-16: the composed-path accuracy row + the local-SQ8 family
    "q_ivf_sq8_recall", "q_sq8_local_gain", "q_ivf_sq8_local",
    "q_media_jpeg_prog")

  def main(args: Array[String]): Unit = {
    val wallStart = System.nanoTime()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val warmup = sys.env.getOrElse("SPARK_GRAFT_WARMUP", "1") != "0"
    val spark = Sessions.local("graft-bench")

    // optional args = subset of query names, for targeted local profiling;
    // the driver invokes with no args and gets the full suite
    val names0 = SparkEntry.queries.keys.toSeq.sorted
    val names = if (args.nonEmpty) names0.filter(args.toSet) else names0
    if (warmup) names.foreach { name =>
      try SparkEntry.queries(name)(spark, sfDir).count()
      catch { case _: Throwable => () }
      spark.catalog.clearCache() // operators persist signature tables
    }
    // a full warmup pass leaves ~300 queries of broadcast blocks and
    // codegen classes awaiting reference-queue cleanup, and Spark's
    // ContextCleaner only reclaims them when a GC runs — the r9
    // artifact showed that cleanup churn landing on the first ~20
    // ALPHABETICAL queries of timed pass 1 (q_c*/q_d* rows at 2-10x
    // their own later passes). Force the collection to complete BEFORE
    // timing starts, and again between passes, so no timed query pays
    // for a previous pass's garbage.
    def settle(): Unit = (1 to 3).foreach { _ => System.gc(); Thread.sleep(300) }
    val passes = math.max(1, sys.env.getOrElse("SPARK_GRAFT_PASSES", "3").toInt)
    val errors = scala.collection.mutable.LinkedHashSet[String]()
    // self-calibration (r10 verdict item 2): a fixed, deterministic
    // CPU-bound probe — a constant-size in-memory aggregate, no IO, no
    // shuffle variance — timed at the start of every pass, plus a
    // /proc/loadavg sample. On a quiet box the probe lands in a narrow
    // band (the committed reference in BASELINE.md); a contended run
    // inflates it proportionally, so the artifact itself distinguishes
    // co-tenancy from regression without a judge re-run.
    def calibrate(): Double = {
      val t0 = System.nanoTime()
      spark.range(0L, 200000000L, 1L, 32)
        .selectExpr("sum(id * 3 + 1) AS s").collect()
      (System.nanoTime() - t0) / 1e9
    }
    def loadavg(): Double =
      try scala.io.Source.fromFile("/proc/loadavg").mkString
        .split(" ")(0).toDouble
      catch { case _: Throwable => -1.0 }
    calibrate() // untimed codegen warmup for the probe itself
    val calibrations = scala.collection.mutable.ArrayBuffer[Double]()
    val loads = scala.collection.mutable.ArrayBuffer[Double]()
    // suite-major: pass p times every query once, so a co-tenant burst
    // localized in time contaminates at most one of a query's samples
    // per-pass WALL clock (r11 verdict item 2): the calibration case
    // study in BASELINE.md showed host co-tenancy that neither the CPU
    // probe nor loadavg fully sees — but suite wall time does (997 s vs
    // 890 s for identical work was the clearest tell). Each pass's wall
    // covers settle + calibration + every query, so the array is
    // directly comparable across runs of the same suite.
    val walls = scala.collection.mutable.ArrayBuffer[Double]()
    val samples: Seq[Seq[(String, Double)]] = (1 to passes).map { _ =>
      val passStart = System.nanoTime()
      settle()
      loads += loadavg()
      calibrations += calibrate()
      val passTimes = names.map { name =>
        val t0 = System.nanoTime()
        try SparkEntry.queries(name)(spark, sfDir).count()
        catch { case e: Throwable =>
          // a failing query must be VISIBLE, not recorded as a fast run
          errors += name
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
        }
        val t = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache()
        name -> t
      }
      walls += (System.nanoTime() - passStart) / 1e9
      passTimes
    }
    def median(ts: Seq[Double]): Double = {
      val s = ts.sorted
      // even counts take the LOWER middle: with 2 passes a single
      // contaminated sample must not average into the record
      s((s.size - 1) / 2)
    }
    val byName: Map[String, Seq[Double]] =
      samples.flatten.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val results = names.map(n => n -> median(byName(n)))
    val errorNames = errors.toSeq
    def toJson(rs: Seq[(String, Double)]): String =
      rs.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
        .mkString("{", ",", "}")
    val spreadJson = names.map { n =>
      "\"" + n + "\":[" + byName(n).map(t => f"$t%.3f").mkString(",") + "]"
    }.mkString("{", ",", "}")
    val total = results.map(_._2).sum
    // stdout line: headline set + up to 6 slowest non-headline queries,
    // so a regression anywhere is still visible in the bounded tail
    val reported =
      if (args.nonEmpty) results
      else {
        val extra = results.filterNot(r => headline(r._1))
          .sortBy(-_._2).take(6).map(_._1).toSet
        results.filter(r => headline(r._1) || extra(r._1))
      }
    val errJson = errorNames.map("\"" + _ + "\"").mkString("[", ",", "]")
    // per-query MIN alongside the median (r8 verdict item 5): on a
    // contaminated run the min is the intrinsic cost floor, so a
    // median/min spread > 2x flags co-tenancy rather than a regression
    val minsJson = toJson(names.map(n => n -> byName(n).min))
    val calJson = calibrations.map(t => f"$t%.3f").mkString("[", ",", "]")
    val loadJson = loads.map(l => f"$l%.2f").mkString("[", ",", "]")
    val wallJson = walls.map(t => f"$t%.1f").mkString("[", ",", "]")
    val wallTotal = f"${(System.nanoTime() - wallStart) / 1e9}%.1f"
    // the committed bench_full.json is the contractual FULL-suite sf0.1
    // record — a smoke run at another SF (or a subset run) must not
    // clobber it (this exact clobber shipped twice; see ADVICE r5). Off-
    // contract runs land in bench_full_smoke.json instead.
    // basename comparison, not endsWith: a trailing slash must not
    // demote a real contract run, and ".../archive-sf0.1" must not be
    // promoted into one
    val isContractRun = new java.io.File(sfDir).getName == "sf0.1" && args.isEmpty
    // ---- contention discard signals (r13 verdict item 8) ----
    // BASELINE.md's three-signal reading rule, computed INTO the
    // artifact so a contended run self-identifies instead of relying on
    // prose: (1) the calibration probe's quiet band (<= 0.37 s on this
    // box; >= 0.40 has meant discard in every documented case), (2)
    // per-pass wall vs the pinned record's walls scaled by suite size,
    // (3) the median inflation ratio over queries shared with the
    // pinned record (>= 0.1 s floor keeps sub-100ms noise out). The
    // pinned reference is the bench_full.json present at launch — on a
    // contract run that is the last committed record.
    case class Prior(queries: Map[String, Double], walls: Seq[Double], n: Int,
      total: Double, verdict: String)
    val prior: Option[Prior] =
      if (!isContractRun) None
      else try {
        val f = new java.io.File("bench_full.json")
        if (!f.exists()) None
        else {
          import scala.jdk.CollectionConverters._
          val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(f)
          val qmap = root.get("queries").fields().asScala
            .map(e => e.getKey -> e.getValue.asDouble).toMap
          val pw = root.get("wall").elements().asScala.map(_.asDouble).toSeq
          Some(Prior(qmap, pw, root.get("n_queries").asInt,
            root.get("value").asDouble,
            root.path("discard_signals").path("verdict").asText("")))
        }
      } catch { case _: Throwable => None }
    val calMax = if (calibrations.nonEmpty) calibrations.max else 0.0
    val sharedRatio: Option[Double] = prior.flatMap { p =>
      val rs = results.collect {
        case (n, v) if p.queries.get(n).exists(_ >= 0.1) => v / p.queries(n)
      }
      if (rs.size >= 20) Some(median(rs)) else None
    }
    // wall-style ratio from the SUM of shared-query medians (r14 advice):
    // the old count-scaled pass-wall form assumed uniform per-query cost,
    // so adding heavier-than-average rows (or staging wins) drifted it
    // toward the discard band on a genuinely quiet run. The shared-sum
    // form compares identical work only; the legacy wall_per_query_ratio
    // is still recorded for continuity but no longer drives the verdict.
    val sharedSumRatio: Option[Double] = prior.flatMap { p =>
      val shared = results.collect {
        case (n, v) if p.queries.contains(n) => (v, p.queries(n))
      }
      val priorSum = shared.map(_._2).sum
      if (shared.size >= 20 && priorSum > 0)
        Some(shared.map(_._1).sum / priorSum)
      else None
    }
    val wallRatio: Option[Double] = prior.flatMap { p =>
      if (p.walls.nonEmpty && p.n > 0 && walls.nonEmpty)
        Some(median(walls.toSeq) /
          (median(p.walls) * results.size.toDouble / p.n))
      else None
    }
    val sigVerdict = signalVerdict(calMax, sharedRatio, sharedSumRatio, wallRatio)
    def optJson(o: Option[Double]): String =
      o.map(v => f"$v%.3f").getOrElse("null")
    // vs_record_delta (r14 verdict item 7): the pinned-record comparison
    // set, emitted so BASELINE.md's "expected quiet total = pinned +
    // intrinsic new - removed" projection is mechanical. New rows use
    // per-query MINS for the projection (the contention-robust floor);
    // their medians are also recorded.
    val deltaJson: String = prior.map { p =>
      val newQ = results.filterNot(r => p.queries.contains(r._1))
      val remQ = p.queries.keys.filterNot(byName.contains).toSeq.sorted
      def strArr(xs: Seq[String]) = xs.map("\"" + _ + "\"").mkString("[", ",", "]")
      val newSumMed = newQ.map(_._2).sum
      val newSumMin = newQ.map(r => byName(r._1).min).sum
      val remSum = remQ.map(p.queries).sum
      val projected = p.total - remSum + newSumMin
      s"""{"prior_total":${f"${p.total}%.3f"},"new_queries":${strArr(newQ.map(_._1))},"new_sum_median":${f"$newSumMed%.3f"},"new_sum_min":${f"$newSumMin%.3f"},"removed_queries":${strArr(remQ)},"removed_sum":${f"$remSum%.3f"},"projected_quiet_total":${f"$projected%.3f"}}"""
    }.getOrElse("null")
    val signalsJson =
      s"""{"calibration_max":${f"$calMax%.3f"},"calibration_quiet_band":0.37,"calibration_discard_band":0.40,"shared_median_ratio":${optJson(sharedRatio)},"shared_sum_ratio":${optJson(sharedSumRatio)},"wall_per_query_ratio":${optJson(wallRatio)},"ratio_discard_band":1.15,"vs_record_n_queries":${prior.map(_.n.toString).getOrElse("null")},"verdict":"$sigVerdict"}"""
    val fullLine =
      s"""{"metric":"total","value":${f"$total%.3f"},"unit":"sec","n_queries":${results.size},"passes":$passes,"calibration":$calJson,"loadavg":$loadJson,"wall":$wallJson,"wall_total":$wallTotal,"discard_signals":$signalsJson,"vs_record_delta":$deltaJson,"queries":${toJson(results)},"mins":$minsJson,"spread":$spreadJson,"errors":$errJson,"sf":"$sfDir"}"""
    // Contended-run routing — see shouldRouteContended's scaladoc for
    // the full rule (calibration discard band, OR quiet-pinned-record
    // vs contended-computed-verdict; regression-must-not-dodge
    // preserved). Guarded on prior.nonEmpty so a fresh checkout still
    // writes its first record.
    val routeContended = shouldRouteContended(isContractRun, prior.nonEmpty,
      prior.exists(_.verdict == "quiet"), calMax, sigVerdict)
    val fullPath =
      if (routeContended) "bench_full_contended.json"
      else if (isContractRun) "bench_full.json"
      else "bench_full_smoke.json"
    try {
      val w = new java.io.PrintWriter(fullPath)
      try w.println(fullLine) finally w.close()
    } catch { case _: Throwable => () }
    // per-query MINS in the stdout line too (r15 verdict item 6): the
    // driver-side capture is routinely contended and the min is the
    // contention-robust floor — but duplicating the whole reported map
    // would bust the ~2000-char collector budget, so emit mins ONLY
    // for reported rows whose median is inflated >= 10% over the min
    // (>= 0.1 s floor), worst absolute gap first, capped at 12: near-
    // empty on a quiet run, exactly the rows needing a corrected read
    // on a contended one. bench_full*.json carries the complete map.
    val minsFlagged = reported
      .map { case (n, med) => (n, med, byName(n).min) }
      .filter { case (_, med, mi) => med >= 0.1 && med >= mi * 1.10 }
      .sortBy { case (_, med, mi) => -(med - mi) }
      .take(12)
      .map { case (n, _, mi) => n -> mi }
    // errors surface in the JSON + stderr; exit stays 0 so the driver
    // still collects the line
    println(s"""{"metric":"total","value":${f"$total%.3f"},"unit":"sec","n_queries":${results.size},"passes":$passes,"calibration":$calJson,"loadavg":$loadJson,"wall":$wallJson,"wall_total":$wallTotal,"discard_signals":$signalsJson,"vs_record_delta":$deltaJson,"queries":${toJson(reported)},"mins":${toJson(minsFlagged)},"errors":$errJson,"sf":"$sfDir"}""")
    spark.stop()
  }
}
