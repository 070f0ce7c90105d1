package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Ora.dec

/** Event-stream behavioral analytics: funnel conversion, cohort retention,
  * and exponentially-weighted smoothing — the classic product-analytics
  * operators over an (id, ts, user, type, value) event relation.
  */
object Behavior {

  /** Ordered funnel conversion with first-occurrence semantics: a user
    * clears step k at the EARLIEST step-k event strictly after their
    * step-(k−1) clear time. Returns one row per step with the surviving
    * user count and the conversion rate vs step 1.
    *
    * Scale shape: one filtered keyed agg per step (map-side combinable
    * min) plus a join against the previous step's |users|-row result —
    * never a per-user event sort or window. Step results are small
    * (≤ |users| rows) so the per-step joins broadcast under AQE at any
    * realistic fan-in.
    *
    * NOTE: construction is EAGER — each step localCheckpoints its
    * |users|-row clear table, so building the returned DataFrame (even
    * just to explain it) runs |steps| Spark jobs. The repo's
    * materialize-small-intermediates pattern, traded deliberately: the
    * checkpoint is consumed up to three times per step.
    */
  def funnel(events: DataFrame, userCol: String, tsCol: String,
             typeCol: String, steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    val stepTimes = steps.zipWithIndex.foldLeft(List.empty[(Int, String, DataFrame)]) {
      case (acc, (step, i)) =>
        val mine = events.filter(col(typeCol) === step)
          .select(col(userCol), col(tsCol))
        val cleared = acc.headOption match {
          case None => mine
          case Some((_, _, prev)) =>
            mine.join(prev.select(col(userCol), col("__t").as("__pt")), Seq(userCol))
              .filter(col(tsCol) > col("__pt"))
              .select(col(userCol), col(tsCol))
        }
        // each step's clear table is consumed up to three times (the next
        // step's join, its own count, the step-1 conversion base) — a
        // |users|-row localCheckpoint beats re-running the corpus filter
        // chain per consumer
        val t = cleared.groupBy(col(userCol)).agg(min(col(tsCol)).as("__t"))
          .localCheckpoint()
        (i, step, t) :: acc
    }.reverse
    val counts = stepTimes.map { case (i, step, t) =>
      t.agg(count(lit(1)).as("n_users"))
        .select(lit(i + 1).as("step"), lit(step).as("event_type"), col("n_users"))
    }.reduceLeft(_ unionAll _)
    val base = counts.filter(col("step") === 1)
      .select(col("n_users").as("__base"))
    counts.crossJoin(broadcast(base))
      .select(col("step"), col("event_type"), col("n_users"),
        when(col("__base") > 0,
          round(col("n_users").cast("double") / col("__base"), 6))
          .otherwise(lit(0.0)).as("conversion"))
  }

  /** Cohort retention matrix: users are cohorted by the calendar day of
    * their first event; a cohort's day-k retention is the fraction of its
    * users active (any event) k days after the cohort day. One keyed agg
    * for cohorts, one distinct over (user, day), one matrix agg — the
    * (cohort, offset) result is |days|² rows however large the corpus.
    */
  def cohortRetention(events: DataFrame, userCol: String,
                      tsCol: String): DataFrame = {
    val day = to_date(col(tsCol))
    val cohort = events.groupBy(col(userCol)).agg(min(day).as("cohort"))
    val active = events.select(col(userCol), day.as("day")).distinct()
    val sizes = cohort.groupBy(col("cohort")).agg(count(lit(1)).as("cohort_size"))
    active.join(cohort, Seq(userCol))
      .groupBy(col("cohort"), datediff(col("day"), col("cohort")).as("day_offset"))
      .agg(count(lit(1)).as("n_active"))
      .join(sizes, Seq("cohort"))
      .select(col("cohort"), col("day_offset").cast("int").as("day_offset"),
        col("n_active"),
        round(col("n_active").cast("double") / col("cohort_size"), 6).as("retention"))
  }

  /** L-lag truncated exponentially-weighted moving average per key
    * (pandas `ewm(adjust=True)` semantics, window-bounded): over each
    * key's events in (ts, id) order,
    *   ewma_n = Σ_{j<L} (1−α)^j · x_{n−j} / Σ_{j<L, n−j ≥ 0} (1−α)^j.
    * The truncation makes the operator exactly defined (and exactly
    * mirrorable) instead of recursive: with α = 1/2 the dropped tail is
    * below 2⁻⁸ of the weight mass at L = 8, and the lag window keeps the
    * shuffle bounded at one per-key sort — no unbounded running state.
    */
  def ewma(events: DataFrame, keyCol: String, tsCol: String, idCol: String,
           valCol: String, alpha: Double = 0.5, lags: Int = 8): DataFrame = {
    require(alpha > 0 && alpha < 1, s"ewma needs 0 < alpha < 1; got $alpha")
    require(lags > 0, s"ewma needs a positive lag window; got $lags")
    val w = Window.partitionBy(col(keyCol)).orderBy(col(tsCol), col(idCol))
    def wj(j: Int): Double = math.pow(1.0 - alpha, j)
    val terms = (0 until lags).map { j =>
      val x = if (j == 0) col(valCol) else lag(col(valCol), j).over(w)
      (x, lit(wj(j)))
    }
    val num = terms.map { case (x, c) => when(x.isNotNull, x * c).otherwise(lit(0.0)) }
      .reduceLeft(_ + _)
    val den = terms.map { case (x, c) => when(x.isNotNull, c).otherwise(lit(0.0)) }
      .reduceLeft(_ + _)
    events.select(col(idCol), col(keyCol), col(tsCol), col(valCol),
      round(num / den, 6).as("ewma"))
  }

  /** Longest consecutive-day activity streak per user — the classic
    * gaps-and-islands reduction: distinct active days, then
    * (day-number − row-number) is constant exactly within a run of
    * consecutive days, so one per-user window + one count per island
    * finds every streak. Output per user: total active days, number of
    * islands, longest streak. One distinct + one bounded per-user window.
    */
  def longestStreak(events: DataFrame, userCol: String,
                    tsCol: String): DataFrame = {
    val day = to_date(col(tsCol))
    val active = events.select(col(userCol), day.as("day")).distinct()
    val w = Window.partitionBy(col(userCol)).orderBy(col("day"))
    val islands = active
      .withColumn("__grp",
        datediff(col("day"), lit("1970-01-01").cast("date")) -
          row_number().over(w))
      .groupBy(col(userCol), col("__grp"))
      .agg(count(lit(1)).as("__len"))
    islands.groupBy(col(userCol))
      .agg(sum(col("__len")).as("n_active_days"),
        count(lit(1)).as("n_streaks"),
        max(col("__len")).as("longest_streak"))
  }

  /** "Eventually follows" matrix: for every ordered pair of event types
    * (a, b), how many users saw their FIRST a strictly before their first
    * b. One (user, type) min-ts contraction, then a per-user self-join of
    * the ≤|types| first-occurrence rows — |types|² work per user, never a
    * join of raw events.
    */
  def eventuallyFollows(events: DataFrame, userCol: String, tsCol: String,
                        typeCol: String): DataFrame = {
    val firsts = events.groupBy(col(userCol), col(typeCol).as("t"))
      .agg(min(col(tsCol)).as("ft"))
    firsts.select(col(userCol), col("t").as("a"), col("ft").as("ta"))
      .join(firsts.select(col(userCol), col("t").as("b"), col("ft").as("tb")),
        Seq(userCol))
      .filter(col("a") =!= col("b") && col("ta") < col("tb"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n_users"))
  }

  /** Top-k entry paths: each user's first `len` event types in (ts, id)
    * order joined with `>`, ranked by how many users share the path.
    * Users with fewer than `len` events contribute their full shorter
    * path (concat_ws skips the missing positions — identical NULL-skip
    * semantics in both engines).
    *
    * Scale shape: one per-user window (bounded by a user's own events),
    * a positional pivot to one row per user, and a map-side-combinable
    * path count; the ranking runs on the |distinct paths| relation,
    * bounded by |types|^len however many users exist.
    */
  /** Length-3 sequential-pattern support (a PrefixSpan-style mining pass
    * bounded by the type alphabet): pattern (ta, tb, tc) is supported by a
    * user iff their event sequence — ordered by (ts, tie) — contains
    * positions i < j < k with those types. The subsequence test contracts
    * to "some tb event at position p has min-pos(ta) < p < max-pos(tc)",
    * so it needs only each user's per-type min/max positions joined
    * against their events: per-event fan-out is ≤ |types|², never the
    * event count, and no per-user subsequence enumeration ever happens
    * (a user with L events has O(L³) subsequences; this pass touches
    * O(L·|types|²) rows). Support = distinct supporting users.
    *
    * Scale shape: one per-user position window (the per-key window
    * contract), two user-keyed joins against |users|·|types|-row min/max
    * relations, then a map-combinable distinct + count per pattern.
    */
  def sequencePatternSupport(events: DataFrame, userCol: String,
                             tsCol: String, tieCol: String, typeCol: String,
                             minSupport: Long): DataFrame = {
    val w = Window.partitionBy(col(userCol)).orderBy(col(tsCol), col(tieCol))
    // null timestamps are dropped up front (the processDfg rule): engines
    // disagree on NULL sort placement, so a null ts inside the position
    // window would make the support relation engine-dependent
    val pos = events
      .filter(col(tsCol).isNotNull)
      .select(col(userCol).as("u"), col(typeCol).as("ty"),
        row_number().over(w).as("p"))
      .persist()
    val extremes = pos.groupBy(col("u"), col("ty"))
      .agg(min(col("p")).as("mnp"), max(col("p")).as("mxp"))
    val supported = pos.select(col("u"), col("ty").as("tb"), col("p"))
      .join(extremes.select(col("u"), col("ty").as("ta"), col("mnp")), Seq("u"))
      .filter(col("mnp") < col("p"))
      .join(extremes.select(col("u"), col("ty").as("tc"), col("mxp")), Seq("u"))
      .filter(col("p") < col("mxp"))
      .select(col("u"), col("ta"), col("tb"), col("tc"))
      .distinct()
    val result = supported.groupBy(col("ta"), col("tb"), col("tc"))
      .agg(count(lit(1)).as("support"))
      .filter(col("support") >= minSupport)
    // the result is bounded by |types|³ — materialize it eagerly so the
    // per-event cache can be released before returning (repeated query
    // invocations must not accumulate pinned relations in executor storage)
    val out = result.localCheckpoint()
    pos.unpersist()
    out
  }

  /** Multi-touch attribution: each conversion event distributes credit
    * over the user's touch events (types in `touchTypes`) that happened
    * strictly before it and within `windowDays` — linear credit 1/n per
    * touch, last-touch credit 1 to the latest touch (ties → larger tie
    * id). Conversions with no in-window touch credit the synthetic
    * 'direct' channel in full. Returns per channel: conversions reached,
    * linear credit (decimal-exact sum of the 1/n shares), last-touch
    * credit.
    *
    * Scale shape: one user-keyed conversion×touch join whose fan-out is
    * bounded by per-user activity inside the window, one window over each
    * conversion's touch set (per-key contract), one map-combinable final
    * agg. The no-touch remainder is an anti-join on the conversion key.
    */
  def attribution(events: DataFrame, userCol: String, tsCol: String,
                  tieCol: String, typeCol: String, convType: String,
                  touchTypes: Seq[String], windowDays: Int): DataFrame = {
    require(touchTypes.nonEmpty && !touchTypes.contains(convType),
      "attribution needs touch types disjoint from the conversion type")
    val conv = events.filter(col(typeCol) === convType)
      .select(col(userCol).as("u"), col(tsCol).as("cts"),
        col(tieCol).as("cid"))
    val touch = events.filter(col(typeCol).isin(touchTypes: _*))
      .select(col(userCol).as("u"), col(tsCol).as("tts"),
        col(tieCol).as("tid"), col(typeCol).as("channel"))
    // lazy persist: both the credit branch and the 'direct' anti-join
    // consume this relation inside the one final action
    val joined = conv.join(touch, Seq("u"))
      .filter(col("tts") < col("cts") &&
        col("tts") >= col("cts") - expr(s"INTERVAL $windowDays DAYS"))
      .persist()
    val wConv = Window.partitionBy(col("u"), col("cid"))
    val wLast = wConv.orderBy(col("tts").desc, col("tid").desc)
    val credited = joined
      .withColumn("__n", count(lit(1)).over(wConv))
      .withColumn("__rn", row_number().over(wLast))
      .select(col("channel"), col("u"), col("cid"),
        (lit(1.0) / col("__n").cast("double")).as("linear"),
        when(col("__rn") === 1, lit(1L)).otherwise(lit(0L)).as("last"))
    // two-stage: contract to one row per (channel, conversion) first —
    // the conversion count is then a plain COUNT and the decimal shares
    // stay exact through both stages
    val perConv = credited.groupBy(col("channel"), col("u"), col("cid"))
      .agg(sum(dec(col("linear"))).as("linear"),
        max(col("last")).as("last"))
    val attributed = perConv.groupBy(col("channel"))
      .agg(count(lit(1)).as("conversions"),
        round(sum(col("linear")), 6).cast("double").as("linear_credit"),
        sum(col("last")).as("last_touch_credit"))
    // anti-join against the PRE-window join relation: the touched (u, cid)
    // set is identical, and the second branch then never re-runs the
    // per-conversion window
    val direct = conv
      .join(joined.select(col("u"), col("cid")).distinct(),
        Seq("u", "cid"), "left_anti")
      .agg(count(lit(1)).as("conversions"))
      .select(lit("direct").as("channel"), col("conversions"),
        col("conversions").cast("double").as("linear_credit"),
        col("conversions").as("last_touch_credit"))
      .filter(col("conversions") > 0)
    // per-channel result is tiny — materialize it eagerly so the join
    // cache can be released before returning (repeated invocations must
    // not accumulate pinned relations in executor storage)
    val out = attributed.unionByName(direct).localCheckpoint()
    joined.unpersist()
    out
  }

  /** Process-mining direct-follows graph: for every consecutive event
    * pair inside a user's trace (ordered by ts, tie), the (from, to)
    * edge with its frequency and gap statistics — the relation a process
    * map renders. The median gap is EXACT via value counting: gaps are
    * integer seconds, so per edge the (gap, count) contraction is bounded
    * by the distinct-gap domain (not the event count), and the median is
    * a cumulative-count selection over that contracted relation — no
    * per-edge sort of raw events ever happens (an edge can hold half the
    * corpus; its distinct gaps cannot).
    */
  def processDfg(events: DataFrame, userCol: String, tsCol: String,
                 tieCol: String, typeCol: String): DataFrame = {
    val w = Window.partitionBy(col(userCol)).orderBy(col(tsCol), col(tieCol))
    // null timestamps are dropped up front: engines disagree on NULL sort
    // placement, so a null ts inside the lag window would make the edge
    // relation engine-dependent
    val edges = events
      .filter(col(tsCol).isNotNull)
      .select(col(userCol), col(typeCol).as("to_type"),
        unix_timestamp(col(tsCol)).as("__t"),
        lag(col(typeCol), 1).over(w).as("from_type"),
        lag(unix_timestamp(col(tsCol)), 1).over(w).as("__pt"))
      .filter(col("from_type").isNotNull)
      .select(col("from_type"), col("to_type"),
        (col("__t") - col("__pt")).as("gap"))
    val counted = edges.groupBy(col("from_type"), col("to_type"), col("gap"))
      .agg(count(lit(1)).as("cnt"))
    val wEdge = Window.partitionBy(col("from_type"), col("to_type"))
    val wCum = wEdge.orderBy(col("gap"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = counted
      .withColumn("m", sum(col("cnt")).over(wEdge))
      .withColumn("cum", sum(col("cnt")).over(wCum))
    val kLo = floor((col("m") + 1).cast("double") / 2.0).cast("long")
    val kHi = floor(col("m").cast("double") / 2.0).cast("long") + 1
    ranked.groupBy(col("from_type"), col("to_type"))
      .agg(max(col("m")).as("n"),
        min(col("gap")).as("min_gap_s"),
        max(col("gap")).as("max_gap_s"),
        min(when(col("cum") >= kLo, col("gap"))).as("__lo"),
        min(when(col("cum") >= kHi, col("gap"))).as("__hi"))
      .select(col("from_type"), col("to_type"), col("n"),
        col("min_gap_s"), col("max_gap_s"),
        ((col("__lo") + col("__hi")).cast("double") / 2.0).as("median_gap_s"))
  }

  def pathTopK(events: DataFrame, userCol: String, tsCol: String,
               idCol: String, typeCol: String, len: Int = 3,
               k: Int = 10): DataFrame = {
    require(len >= 1 && len <= 8, s"pathTopK: len must be in [1,8]; got $len")
    val w = Window.partitionBy(col(userCol)).orderBy(col(tsCol), col(idCol))
    val firstN = events
      .select(col(userCol), col(typeCol), row_number().over(w).as("__rn"))
      .filter(col("__rn") <= len)
    val positions = (1 to len).map(i =>
      max(when(col("__rn") === i, col(typeCol))).as(s"__p$i"))
    val paths = firstN.groupBy(col(userCol))
      .agg(positions.head, positions.tail: _*)
      .select(concat_ws(">", (1 to len).map(i => col(s"__p$i")): _*).as("path"))
      .groupBy(col("path")).agg(count(lit(1)).as("n_users"))
    // bounded top-k by (n_users DESC, path ASC): k paths per partial
    // buffer instead of a global single-partition sort of the distinct
    // path relation, whose cardinality grows with |event types|^len
    val topk = udaf(new graft.functions.Aggregators.TopKStr(k))
    paths.agg(topk(col("n_users").cast("double"), col("path")).as("hits"))
      .select(posexplode(col("hits")))
      .select((col("pos") + 1).cast("int").as("rank"),
        col("col.id").as("path"),
        col("col.score").cast("long").as("n_users"))
  }
}
