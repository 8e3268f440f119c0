package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** User-behavior analytics over the events log: revenue attribution
  * and RFM segmentation — the rollups a growth/analytics stack runs
  * daily over interaction data. Like the rest of the event family,
  * everything is per-user windows or tiny aggregates over ONE shuffle
  * on the user key.
  */
object Behavior {

  /** Last-touch attribution: each conversion event is credited to the
    * user's most recent touch event within `windowSec` BEFORE it
    * (strictly earlier seconds), or left unattributed. No self-join:
    * the candidate touch rides a RANGE window frame over epoch
    * seconds, and the (second, event_id) pair is packed into one
    * BIGINT so the frame MAX is both order-independent and
    * replayable in any engine (struct-max support varies; integer max
    * doesn't). event ids must stay below the 1e8 packing modulus.
    *
    * Returns one row per conversion: (event_id, user_id, es, value,
    * touch_event_id │ NULL, attributed).
    */
  def lastTouchAttribution(events: DataFrame, userCol: String,
      tsCol: String, idCol: String, typeCol: String, valueCol: String,
      touchType: String, convType: String,
      windowSec: Long = 7L * 24 * 3600): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val packMod = 100000000L
    val w = Window.partitionBy(col("u")).orderBy(col("es"))
      .rangeBetween(-windowSec, -1)
    events
      .select(col(userCol).cast("long").as("u"),
        unix_timestamp(col(tsCol)).as("es"),
        col(idCol).cast("long").as("eid"),
        col(typeCol).as("ty"), col(valueCol).as("v"))
      .withColumn("_touch",
        max(when(col("ty") === touchType,
          col("es") * packMod + col("eid"))).over(w))
      .filter(col("ty") === convType)
      .select(col("eid").as("event_id"), col("u").as("user_id"),
        col("es"), col("v").as("value"),
        (col("_touch") % packMod).as("touch_event_id"),
        col("_touch").isNotNull.as("attributed"))
  }

  /** RFM segmentation: per-user Recency (latest event second),
    * Frequency (event count) and Monetary (integer-cents value sum —
    * summing cents keeps the aggregate engine-exact where a double sum
    * is order-dependent), each bucketed into `buckets` quintile-style
    * groups equal to NTILE under a TOTAL order (metric, then user id —
    * an untied NTILE is what makes the segment assignment
    * cross-engine-deterministic). Higher bucket = better (more recent
    * / more active / more spend). One aggregate to user grain — after
    * which ANY corpus size has collapsed to |users| rows — but |users|
    * at 100 TB is itself hundreds of millions, so the tiles are NOT
    * computed by an unpartitioned NTILE window (the r8 shape: three
    * single-task sorts of the user frame). Instead [[exactTile]]
    * finds each user's exact global rank with the two-level
    * rough-bucket shape (rank windows partitioned by bucket; the one
    * ordered-unpartitioned window runs over a ≤64-row histogram) and
    * maps rank → tile with NTILE's own arithmetic, reproducing the
    * window function value for value.
    */
  def rfmSegments(events: DataFrame, userCol: String, tsCol: String,
      valueCol: String, buckets: Int = 5): DataFrame = {
    require(buckets >= 2, "buckets >= 2")
    val per = events
      .select(col(userCol).cast("long").as("user_id"),
        unix_timestamp(col(tsCol)).as("es"),
        round(col(valueCol) * 100).cast("long").as("cents"))
      .groupBy(col("user_id"))
      .agg(max(col("es")).as("last_es"), count(lit(1)).as("n_events"),
        sum(col("cents")).as("cents"))
    // The three cut-point sets and N come from ONE aggregate over
    // `per`: each tile's metric passes through the nesting unchanged,
    // N is the same at every level, and the cuts shape only bucket
    // balance, never the tile (see exactTile). They are pinned as
    // literals (same reasoning as Layout.orderStats): percentile_approx
    // is merge-order-sensitive and each cut array fans out to a
    // histogram and a rank path, so it must be evaluated exactly once.
    // Accuracy 100, not 1000: the cuts never decide a tile, and 1000
    // made this head() the dominant single-task job of q_rfm.
    val nRough = 64
    val probs = array((1 until nRough).map(i => lit(i.toDouble / nRough)): _*)
    val tiles = Seq("last_es" -> "r", "n_events" -> "f", "cents" -> "m")
    val cutsRow = per.agg(count(lit(1)), tiles.map { case (metric, _) =>
      percentile_approx(col(metric).cast("double"), probs, lit(100)) }: _*).head()
    val nTotal = cutsRow.getLong(0)
    tiles.zipWithIndex.foldLeft(per) { case (df, ((metric, outCol), i)) =>
      val cutVals =
        if (cutsRow.isNullAt(i + 1)) Seq.empty[Double] else cutsRow.getSeq[Double](i + 1)
      exactTile(df, col(metric), cutVals, nTotal, buckets, outCol)
    }
      .withColumn("segment", concat_ws("-", col("r"), col("f"), col("m")))
  }

  /** `NTILE(k) OVER (ORDER BY metric, user_id)` without the
    * unpartitioned window: the exact 1-based global rank comes from
    * rough order-preserving buckets (percentile_approx cut points —
    * accuracy shapes only bucket balance, never the rank, because
    * equal metrics share a bucket and bucket order follows metric
    * order), per-bucket `row_number` PARTITIONED by bucket, plus the
    * bucket-histogram prefix offset (the one ordered-unpartitioned
    * window, over ≤64 rows). Rank r of N then maps to NTILE's tile by
    * its spec arithmetic: the first N mod k tiles take ⌈N/k⌉ rows,
    * the rest ⌊N/k⌋ — integer-exact, so the result is the window
    * function's value for value.
    */
  private def exactTile(df: DataFrame, metric: Column, cutVals: Seq[Double],
      nTotal: Long, buckets: Int, outCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // codegen'd CutBucket binary search instead of an interpreted HOF
    // fold — same rationale and identical semantics as Layout.orderStats
    val b = df
      .withColumn("_N", lit(nTotal))
      .withColumn("_b", graft.functions.RankExpressions.cut_bucket(
        metric.cast("double"), cutVals))
    val hist = b.groupBy(col("_b")).agg(count(lit(1)).as("_n"))
    val wOff = Window.orderBy(col("_b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = hist.withColumn("_off",
        coalesce(sum(col("_n")).over(wOff), lit(0L)))
      .select(col("_b"), col("_off"))
    val wRank = Window.partitionBy(col("_b"))
      .orderBy(metric, col("user_id"))
    val q = ((col("_N") - pmod(col("_N"), lit(buckets))) / buckets)
      .cast("long")
    val rem = pmod(col("_N"), lit(buckets)).cast("long")
    val big = rem * (q + 1L) // rows covered by the ⌈N/k⌉-sized tiles
    val r = col("_r")
    b.join(offs, Seq("_b"))
      .withColumn("_r", col("_off") + row_number().over(wRank).cast("long"))
      .withColumn(outCol,
        when(r <= big, floor((r + q).cast("double") / (q + 1L).cast("double")))
          .otherwise(rem + floor((r - big + q - 1L).cast("double") /
            greatest(q, lit(1L)).cast("double")))
          .cast("int"))
      .drop("_b", "_off", "_r", "_N")
  }

  /** Exponentially time-decayed per-user value — the recency-weighted
    * engagement score a feature store maintains ("spend now counts
    * full, spend h days ago counts half"). Decay is bucketed per
    * half-life period and kept in INTEGER space: an event aged
    * `b = ⌊age_days / halfLifeDays⌋` half-lives weighs 2^(H−1−b)
    * integer units (H = maxHalfLives; older than H half-lives → 0),
    * cents·weight sums are exact commutative BIGINTs, and the final
    * score divides once by 2^(H−1) — a power of two, so even the
    * double is exact. Order-independent where a float Σ v·e^(−λt) is
    * not, which is what makes the score verifiable AND incrementally
    * mergeable (partial sums add).
    *
    * `asOf` anchors age; one map-combinable user aggregate is the only
    * shuffle. Overflow headroom: max |Σ cents·2^(H−1)| must fit int64 —
    * the default H = 8 leaves 2^55 cents ≈ 360 trillion dollars.
    */
  def decayedValue(events: DataFrame, userCol: String, tsCol: String,
      valueCol: String, asOf: Column, halfLifeDays: Int = 4,
      maxHalfLives: Int = 8): DataFrame = {
    require(halfLifeDays >= 1, "halfLifeDays >= 1")
    require(maxHalfLives >= 1 && maxHalfLives <= 16, "maxHalfLives in [1,16]")
    val bucket = floor((unix_timestamp(asOf) - unix_timestamp(col(tsCol))) /
      lit(86400L * halfLifeDays))
    val weight = when(bucket >= 0 && bucket < maxHalfLives,
      pow(lit(2.0), lit(maxHalfLives - 1) - bucket).cast("long")).otherwise(lit(0L))
    events
      .select(col(userCol).cast("long").as("user_id"),
        round(col(valueCol) * 100).cast("long").as("cents"),
        weight.as("w"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("cents")).as("cents_total"),
        sum(col("cents") * col("w")).as("_dec2"))
      .select(col("user_id"), col("n_events"), col("cents_total"),
        (col("_dec2").cast("double") /
          lit(math.pow(2.0, maxHalfLives - 1))).as("decayed_cents"))
  }

  /** CUPED-adjusted experiment lift (Deng et al., WSDM 2013): reduce
    * the variance of an A/B metric with the pre-period covariate,
    * θ = cov(X,Y)/var(X) pooled across arms, adjusted lift =
    * (Ȳt−Ȳc) − θ(X̄t−X̄c). Assignment is an md5 hash split (salted, so
    * concurrent experiments are independent), X/Y are integer-cents
    * sums per user in the pre/post periods — ONE user-grain aggregate
    * (the only corpus-scale shuffle) collapses any event volume to
    * |users| rows, and a second 1-row aggregate of exact BIGINT sums
    * (Σx, Σy, Σx², Σxy, Σy²) yields θ, lifts, and ρ² (the variance-
    * reduction factor) as deterministic double expressions an oracle
    * mirrors term for term.
    *
    * NULL guards: θ/adjusted lift when var(X)=0, lifts when an arm is
    * empty — undefined, not zero.
    */
  def cupedLift(events: DataFrame, userCol: String, tsCol: String,
      valueCol: String, splitTs: String, salt: String = "exp1"): DataFrame = {
    val cents = round(col(valueCol) * 100).cast("long")
    val pre = col(tsCol) < lit(splitTs).cast("timestamp")
    val per = events
      .select(col(userCol).cast("long").as("u"),
        when(pre, cents).otherwise(lit(0L)).as("xc"),
        when(!pre, cents).otherwise(lit(0L)).as("yc"))
      .groupBy(col("u"))
      .agg(sum(col("xc")).as("x"), sum(col("yc")).as("y"))
      .withColumn("t",
        substring(md5(concat_ws(":", lit(salt), col("u"))), 1, 1) < "8")
    val g = per.agg(
      count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("y") * col("y")).as("syy"),
      sum(col("t").cast("long")).as("nt"),
      sum(when(col("t"), col("x")).otherwise(lit(0L))).as("sxt"),
      sum(when(col("t"), col("y")).otherwise(lit(0L))).as("syt"))
    val nD = col("n").cast("double")
    val covN = nD * col("sxy").cast("double") -
      col("sx").cast("double") * col("sy").cast("double")
    val varXN = nD * col("sxx").cast("double") -
      col("sx").cast("double") * col("sx").cast("double")
    val varYN = nD * col("syy").cast("double") -
      col("sy").cast("double") * col("sy").cast("double")
    val theta = covN / varXN
    val nc = col("n") - col("nt")
    val ntD = col("nt").cast("double")
    val ncD = nc.cast("double")
    val xbarT = col("sxt").cast("double") / ntD
    val xbarC = (col("sx") - col("sxt")).cast("double") / ncD
    val ybarT = col("syt").cast("double") / ntD
    val ybarC = (col("sy") - col("syt")).cast("double") / ncD
    val bothArms = col("nt") > 0 && nc > 0
    val rawLift = ybarT - ybarC
    g.select(
      col("n"), col("nt").as("n_treat"), nc.as("n_control"),
      when(bothArms, round(ybarT, 6)).as("y_mean_treat"),
      when(bothArms, round(ybarC, 6)).as("y_mean_control"),
      when(bothArms, round(rawLift, 6)).as("raw_lift"),
      when(varXN > 0, round(theta, 6)).as("theta"),
      when(bothArms && varXN > 0,
        round(rawLift - theta * (xbarT - xbarC), 6)).as("adj_lift"),
      when(varXN > 0 && varYN > 0,
        round(covN * covN / (varXN * varYN), 6)).as("rho2"))
  }

  /** Bot-likeness audit: per-user inter-event timing statistics —
    * exact median gap (R-7 percentile over BIGINT second gaps),
    * sub-`fastSec` gap fraction, and the busiest single hour — with
    * deterministic flag rules (≥ `minEvents` events AND more than half
    * the gaps fast, OR any hour above `maxPerHour`). Returns ONLY the
    * flagged users with their evidence and a reason code; every
    * number is a ratio/percentile of exact integers, so the flag set
    * is engine-exact. One user-key shuffle (the LAG window) plus
    * user-grain aggregates — the abuse-detection pre-filter that runs
    * before any behavior analytics at 100 TB.
    */
  def botFlags(events: DataFrame, userCol: String, tsCol: String,
      fastSec: Long = 1L, minEvents: Long = 20L,
      maxPerHour: Long = 100L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(userCol)).orderBy(col(tsCol))
    val es = unix_timestamp(col(tsCol))
    val gaps = events
      .select(col(userCol).as("u"), es.as("_es"),
        date_trunc("hour", col(tsCol)).as("_h"))
      .withColumn("_gap", col("_es") - lag(col("_es"), 1).over(
        Window.partitionBy(col("u")).orderBy(col("_es"))))
    val perUser = gaps.groupBy(col("u"))
      .agg(count(lit(1)).as("n_events"),
        percentile(col("_gap"), lit(0.5)).as("median_gap_s"),
        sum((col("_gap") <= fastSec).cast("long")).as("n_fast"),
        count(col("_gap")).as("n_gaps"))
    val hourly = gaps.groupBy(col("u"), col("_h"))
      .agg(count(lit(1)).as("_nh"))
      .groupBy(col("u")).agg(max(col("_nh")).as("max_events_hour"))
    val fastFrac = round(col("n_fast").cast("double") /
      col("n_gaps").cast("double"), 6)
    val fastRule = col("n_events") >= minEvents &&
      col("n_fast") * 2L > col("n_gaps")
    val burstRule = col("max_events_hour") > maxPerHour
    perUser.join(hourly, Seq("u"))
      .filter(fastRule || burstRule)
      .select(col("u").as("user_id"), col("n_events"),
        col("median_gap_s"), fastFrac.as("fast_frac"),
        col("max_events_hour"),
        when(fastRule && burstRule, lit("fast+burst"))
          .when(fastRule, lit("fast")).otherwise(lit("burst")).as("reason"))
  }

  /** Peak-hour concentration per event type: the busiest hour-of-day
    * and its traffic share — the load-shape synopsis capacity planning
    * reads. Argmax under (n DESC, hour ASC); shares are exact-count
    * ratios. Two tiny aggregates over one corpus-scale
    * (type, hour) count.
    */
  def peakHours(events: DataFrame, typeCol: String,
      tsCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hourly = events
      .select(col(typeCol).as("event_type"),
        hour(col(tsCol)).cast("long").as("hod"))
      .groupBy(col("event_type"), col("hod"))
      .agg(count(lit(1)).as("n"))
    val tot = hourly.groupBy(col("event_type"))
      .agg(sum(col("n")).as("n_total"))
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("n").desc, col("hod"))
    hourly.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .join(tot, Seq("event_type"))
      .select(col("event_type"), col("hod").as("peak_hour"),
        col("n").as("peak_n"), col("n_total"),
        round(col("n").cast("double") / col("n_total").cast("double"), 6)
          .as("peak_share"))
  }

  /** Day-of-week seasonal index per event type: the multiplicative
    * ratio (type's per-active-day rate on that weekday) / (type's
    * overall per-active-day rate) — >1 means the weekday runs hot.
    * Active-day counts come from the OBSERVED calendar (distinct event
    * dates in the table), so a partial first/last week doesn't bias
    * the index; every term is a ratio of exact BIGINTs. dow is
    * 1=Sunday..7=Saturday (Spark's dayofweek; the oracle maps DuckDB's
    * 0-based dayofweek by +1). One (type, dow) count plus a
    * dates-frame aggregate — nothing corpus-scale after the counts.
    */
  def seasonalIndex(events: DataFrame, typeCol: String,
      tsCol: String): DataFrame = {
    val d = events.select(col(typeCol).as("event_type"),
      to_date(col(tsCol)).as("d"),
      dayofweek(col(tsCol)).cast("long").as("dow"))
    val byDow = d.groupBy(col("event_type"), col("dow"))
      .agg(count(lit(1)).as("n_dow"))
    val byType = d.groupBy(col("event_type")).agg(count(lit(1)).as("n_type"))
    val days = d.select(col("d"), col("dow")).distinct()
    val dowDays = days.groupBy(col("dow")).agg(count(lit(1)).as("days_dow"))
    val allDays = days.agg(count(lit(1)).as("days_all"))
    byDow.join(byType, Seq("event_type"))
      .join(broadcast(dowDays), Seq("dow"))
      .crossJoin(broadcast(allDays))
      .select(col("event_type"), col("dow"), col("n_dow"), col("days_dow"),
        round((col("n_dow").cast("double") / col("days_dow").cast("double")) /
          (col("n_type").cast("double") / col("days_all").cast("double")), 6)
          .as("seasonal_index"))
  }

  /** Kaplan-Meier survival estimate of user lifetime (Kaplan & Meier
    * 1958) with right-censoring: a user's lifetime is last−first event
    * day; users whose last event is within `censorDays` of the
    * observation end are CENSORED (they may still be alive), everyone
    * else churned. Risk sets are suffix sums over the timepoint frame
    * (deaths and same-day censors both count as at-risk, the standard
    * deaths-before-censors convention), and
    * S(t) = Π_{t'≤t} (1 − d_{t'}/n_{t'}) is computed as an ORDERED
    * left fold over the ≤|distinct durations| factor list — each
    * factor is one IEEE division of exact BIGINTs and the fold order
    * is total, so the rounded curve is bit-identical in any engine
    * that folds the same list (DuckDB list_reduce).
    *
    * Scale shape: one user-grain aggregate is the only corpus-scale
    * shuffle; the timepoint frame is |distinct durations| rows (days,
    * ≤ observation span), so the unpartitioned suffix-sum window and
    * the t×t' fold join are both trivially small.
    */
  def kaplanMeier(events: DataFrame, userCol: String, tsCol: String,
      censorDays: Int = 7): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val endFrame = events.agg(max(to_date(col(tsCol))).as("_end"))
    val lab = events
      .groupBy(col(userCol).as("u"))
      .agg(min(to_date(col(tsCol))).as("d0"), max(to_date(col(tsCol))).as("d1"))
      .crossJoin(broadcast(endFrame))
      .select(datediff(col("d1"), col("d0")).cast("long").as("t"),
        (datediff(col("_end"), col("d1")) >= censorDays).as("churned"))
    val tp = lab.groupBy(col("t"))
      .agg(sum(col("churned").cast("long")).as("n_churn"),
        sum((!col("churned")).cast("long")).as("n_cens"))
    val wDesc = Window.orderBy(col("t").desc)
    val rk = tp.withColumn("n_risk",
      sum(col("n_churn") + col("n_cens")).over(wDesc))
    val f = rk.withColumn("_f",
      lit(1.0) - col("n_churn").cast("double") / col("n_risk").cast("double"))
    // prefix product via the tiny t×t' fold join: mirrors DuckDB's
    // list_reduce over list(f ORDER BY t) exactly (same order, same
    // 1.0 seed), so survival is engine-exact, not just close
    val s = f.select(col("t"), col("_f"))
      .join(f.select(col("t").as("t2"), col("_f").as("_f2")),
        col("t2") <= col("t"))
      .groupBy(col("t"))
      .agg(round(aggregate(
        transform(array_sort(collect_list(struct(col("t2"), col("_f2")))),
          x => x.getField("_f2")),
        lit(1.0), (acc, x) => acc * x), 6).as("survival"))
    rk.join(s, Seq("t"))
      .select(col("t"), col("n_risk"), col("n_churn"), col("n_cens"),
        col("survival"))
  }

  /** Weekly cohort-retention matrix: users are grouped by their first
    * active week (epoch-week = epoch-seconds DIV 604800 — an integer
    * every engine derives identically, with no Monday-vs-Sunday
    * week-start convention to mirror), and cell (cohort_wk, offset)
    * counts how many of that cohort were active `offset` weeks later.
    * The retention rate is the ONE division in the output, rounded
    * once — IEEE division is correctly rounded, so it is engine-exact
    * on the integer counts.
    *
    * Scale shape: distinct to user-week grain (one shuffle of (user,
    * week) pairs — the corpus collapses before anything else), a
    * user-keyed min-aggregate for the cohort week, a user-keyed join
    * that is CO-PARTITIONED with it (no extra shuffle under AQE), and
    * a final aggregate at (cohort, offset) grain — weeks², tiny. The
    * cohort-size join broadcasts the weeks-sized cohort frame.
    */
  def cohortRetention(events: DataFrame, userCol: String,
      tsCol: String): DataFrame = {
    val uw = events
      .select(col(userCol).cast("long").as("user_id"),
        (unix_timestamp(col(tsCol)) - pmod(unix_timestamp(col(tsCol)),
          lit(604800L))).as("_ws"))
      .select(col("user_id"), (col("_ws") / 604800L).cast("long").as("wk"))
      .distinct()
    val firstW = uw.groupBy(col("user_id"))
      .agg(min(col("wk")).as("cohort_wk"))
    val cells = uw.join(firstW, Seq("user_id"))
      .groupBy(col("cohort_wk"),
        (col("wk") - col("cohort_wk")).as("week_offset"))
      .agg(count(lit(1)).as("n_active"))
    val sizes = cells.filter(col("week_offset") === 0)
      .select(col("cohort_wk"), col("n_active").as("cohort_size"))
    cells.join(broadcast(sizes), Seq("cohort_wk"))
      .select(col("cohort_wk"), col("week_offset"), col("n_active"),
        col("cohort_size"),
        round(col("n_active").cast("double") /
          col("cohort_size").cast("double"), 6).as("retention"))
  }

  /** CUSUM level-shift detection over the daily event-count series,
    * in INTEGER space: with D days, N total events and daily count
    * n_t, the deviation dev_t = n_t·D − N (the count minus the mean,
    * scaled by D to stay integral), prefix_t = Σ dev, and the classic
    * one-sided CUSUM recursions S⁺_t = max(0, S⁺_{t−1} + dev_t),
    * S⁻_t = max(0, S⁻_{t−1} − dev_t) are NOT computed recursively but
    * by their closed prefix form — S⁺_t = prefix_t − min(0, min_{j≤t}
    * prefix_j), S⁻_t = max(0, max_{j≤t} prefix_j) − prefix_t — which
    * is pure window algebra any engine replays exactly. The alarm
    * fires when a CUSUM exceeds `alarmMeanDays` mean-days of
    * cumulative drift (threshold h·mean·D = h·N, still integral).
    *
    * Scale shape: ONE corpus-scale map-combinable aggregate to the
    * days frame; every window after runs ordered-unpartitioned over
    * that frame, which is bounded by CALENDAR DAYS (≤366/year at any
    * corpus size) — the whitelisted bounded-carry shape, not a data
    * window.
    */
  def cusumChangepoint(events: DataFrame, tsCol: String,
      alarmMeanDays: Int = 3): DataFrame = {
    require(alarmMeanDays >= 1, "alarmMeanDays >= 1")
    import org.apache.spark.sql.expressions.Window
    val daily = events
      .select((unix_timestamp(col(tsCol)) - pmod(unix_timestamp(col(tsCol)),
        lit(86400L))).as("_ds"))
      .select((col("_ds") / 86400L).cast("long").as("day_idx"))
      .groupBy(col("day_idx")).agg(count(lit(1)).as("n"))
    val tot = daily.agg(sum(col("n")).as("_N"),
      count(lit(1)).as("_D"))
    val wRun = Window.orderBy(col("day_idx"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pre = daily.crossJoin(broadcast(tot))
      .withColumn("_dev", col("n") * col("_D") - col("_N"))
      .withColumn("_pre", sum(col("_dev")).over(wRun))
    pre
      .withColumn("_runmin", min(col("_pre")).over(wRun))
      .withColumn("_runmax", max(col("_pre")).over(wRun))
      .select(col("day_idx"), col("n"),
        (col("_pre") - least(col("_runmin"), lit(0L))).as("cusum_pos"),
        (greatest(col("_runmax"), lit(0L)) - col("_pre")).as("cusum_neg"),
        (col("_pre") - least(col("_runmin"), lit(0L)) >
          lit(alarmMeanDays) * col("_N")).as("alarm_pos"),
        (greatest(col("_runmax"), lit(0L)) - col("_pre") >
          lit(alarmMeanDays) * col("_N")).as("alarm_neg"))
  }

  /** Ordered-step funnel over the events log: for steps s₀…s_{m−1},
    * a user reaches step i at m_i = the EARLIEST s_i event at or after
    * their step-(i−1) time and within `windowSec` of their FIRST-step
    * time (the classic conversion-window funnel). The chain is m−1
    * dependent minima, but each is a per-user window aggregate over
    * the SAME unordered user partition, so Catalyst stacks all m
    * Window nodes on ONE user-key shuffle with no sort — never a
    * per-step self-join. A null m_{i−1} nulls every later condition,
    * so drop-off propagates for free.
    *
    * Returns one row per step: (step_idx, step, n_users,
    * conv_prev │ NULL at step 0, conv_first). Counts are exact
    * integers; the two ratios are single correctly rounded IEEE
    * divisions — engine-exact. The summary is m rows regardless of
    * corpus size; everything after the user shuffle is a per-user
    * constant-column collapse plus an m-row frame.
    */
  def funnelSteps(events: DataFrame, userCol: String, tsCol: String,
      typeCol: String, steps: Seq[String],
      windowSec: Long = 7L * 24 * 3600): DataFrame = {
    require(steps.size >= 2, "a funnel needs at least two steps")
    require(steps.distinct.size == steps.size, "steps must be distinct")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("u"))
    val base = events.select(col(userCol).cast("long").as("u"),
      unix_timestamp(col(tsCol)).as("es"), col(typeCol).as("ty"))
    val chained = steps.zipWithIndex.foldLeft(base) { case (df, (s, i)) =>
      val cond =
        if (i == 0) col("ty") === s
        else col("ty") === s && col("es") >= col(s"m${i - 1}") &&
          col("es") <= col("m0") + windowSec
      df.withColumn(s"m$i", min(when(cond, col("es"))).over(w))
    }
    val perUser = chained.groupBy(col("u")).agg(
      min(col("m0")).as("m0"),
      (1 until steps.size).map(i => min(col(s"m$i")).as(s"m$i")): _*)
    val counts = perUser.agg(
      count(col("m0")).as("n0"),
      (1 until steps.size).map(i => count(col(s"m$i")).as(s"n$i")): _*)
    val rows = steps.zipWithIndex.map { case (s, i) =>
      val n = col(s"n$i")
      val prev = if (i == 0) lit(null).cast("long") else col(s"n${i - 1}")
      struct(lit(i).as("step_idx"), lit(s).as("step"), n.as("n_users"),
        when(prev.isNotNull && prev > 0,
          round(n.cast("double") / prev.cast("double"), 6)).as("conv_prev"),
        when(col("n0") > 0,
          round(n.cast("double") / col("n0").cast("double"), 6))
          .as("conv_first"))
    }
    counts
      .select(explode(array(rows: _*)).as("_r"))
      .select(col("_r.step_idx").as("step_idx"), col("_r.step").as("step"),
        col("_r.n_users").as("n_users"), col("_r.conv_prev").as("conv_prev"),
        col("_r.conv_first").as("conv_first"))
  }
}
