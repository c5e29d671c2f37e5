package graft.operators

import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Batch sessionization: split each user's event stream into sessions at
  * inactivity gaps > `gapSeconds`.
  *
  * Classic two-window formulation: a boundary flag from `lag(ts)`, then a
  * running sum of boundaries as the per-user session ordinal. Both windows
  * partition by user — state is bounded by a single user's history, the
  * natural (and skew-safe, users are many) partitioning at 100 TB.
  */
object Sessionize {

  def sessions(events: DataFrame, userCol: String, tsCol: String,
               tieBreak: String, gapSeconds: Long): DataFrame = {
    val byUser = Window.partitionBy(col(userCol)).orderBy(col(tsCol), col(tieBreak))
    val prevMs = lag(unix_millis(col(tsCol)), 1).over(byUser)
    val boundary = when(
      prevMs.isNull || (unix_millis(col(tsCol)) - prevMs) > gapSeconds * 1000L, 1L)
      .otherwise(0L)
    events
      .withColumn("_boundary", boundary)
      .withColumn("session_id",
        sum(col("_boundary")).over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .drop("_boundary")
  }

  /** Per-session rollup: bounds + event count (string bounds — second
    * precision — so results compare exactly across engines).
    */
  def sessionStats(events: DataFrame, userCol: String, tsCol: String,
                   tieBreak: String, gapSeconds: Long): DataFrame =
    sessions(events, userCol, tsCol, tieBreak, gapSeconds)
      .groupBy(col(userCol), col("session_id"))
      .agg(
        count(lit(1)).as("n_events"),
        date_format(min(col(tsCol)), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        date_format(max(col(tsCol)), "yyyy-MM-dd HH:mm:ss").as("session_end"))
      .orderBy(col(userCol), col("session_id"))

  /** Integer-exact exponential moving average per key — the
    * inter-arrival-smoothing feature behind per-user activity baselines
    * and anomaly scores: `s_1 = v_1`, `s_t = (num·v_t + (den−num)·s_{t−1})
    * div den` over the key's `(ts, tiebreak)`-ordered events, in integral
    * units with TRUNCATING division (the [[graft.operators.Graph]] /
    * stableAvg fixed-point discipline, so the trajectory replays exactly
    * in any engine — a DuckDB recursive CTE grades every step).
    *
    * Why typed `flatMapGroups` and not a window: [[sessions]]' recurrence
    * is a running SUM (window-expressible); the EWMA recurrence with
    * integer division is not expressible as any Spark window aggregate —
    * each state depends non-linearly on the previous. This is exactly the
    * per-key ordered-scan case the brief's escape-hatch ordering reserves
    * typed groups for. One exchange on the key, per-key sort in task
    * memory — state bounded by a single key's history (the sessionize
    * bound); for unbounded histories, [[ewmaChunked]] processes
    * time-chunks with the final state carried (identical trajectories,
    * per-chunk task memory), or use the streaming
    * [[graft.streaming.Streams.asofEnrich]]-style keyed state.
    */
  def ewmaFixedPoint(events: DataFrame, userCol: String, tsCol: String,
                     tieBreak: String, valueCol: String,
                     alphaNum: Long, alphaDen: Long): DataFrame = {
    require(alphaNum > 0 && alphaNum < alphaDen,
      s"ewmaFixedPoint: alpha must be in (0,1), got $alphaNum/$alphaDen")
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col(userCol).cast("long"), unix_micros(col(tsCol)),
        col(tieBreak).cast("long"), col(valueCol).cast("long"))
      .as[(Long, Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (k, it) =>
        val evs = it.toArray.sortBy(e => (e._2, e._3))
        var s = 0L
        var first = true
        evs.iterator.map { e =>
          s = if (first) { first = false; e._4 }
          else (alphaNum * e._4 + (alphaDen - alphaNum) * s) / alphaDen
          (k, e._3, e._4, s)
        }
      }
      .toDF(userCol, tieBreak, "value_units", "ewma_units")
  }

  /** Chunked carry-state EWMA — bit-identical trajectories to
    * [[ewmaFixedPoint]] with task memory bounded by ONE KEY'S EVENTS PER
    * CHUNK instead of its whole history: the unbounded-history variant
    * [[ewmaFixedPoint]]'s scaladoc promises.
    *
    * The recurrence's truncating division makes chunk results
    * non-composable (no algebraic merge exists), so chunks run
    * SEQUENTIALLY in chunk order: each chunk is ONE distributed cogroup
    * of its events with the carried per-key state, emitting the chunk's
    * output rows and each key's final state from the same pass (keys
    * silent in a chunk pass their carry through — no separate merge).
    * The cogroup result is persisted and the state slice forced, so
    * cross-chunk lineage is cut — plan depth stays O(1) per chunk, not
    * O(chunks) nested. At warehouse scale the carry would land as a
    * keyed table per chunk (the [[graft.reddit.PostsTable]] pattern);
    * here it stays a persisted O(keys + chunk) relation.
    *
    * `chunkExpr` must be integral and MONOTONE in event time — chunk
    * order has to agree with `(ts, tieBreak)` order within every key, or
    * the replayed trajectory would interleave wrongly. That contract is
    * ENFORCED, not assumed: one map-side-combinable pass computes each
    * (key, chunk)'s time bounds and any overlap between consecutive
    * chunks fails loudly with the violation count.
    */
  def ewmaChunked(events: DataFrame, userCol: String, tsCol: String,
                  tieBreak: String, valueCol: String,
                  alphaNum: Long, alphaDen: Long,
                  chunkExpr: Column): DataFrame = {
    require(alphaNum > 0 && alphaNum < alphaDen,
      s"ewmaChunked: alpha must be in (0,1), got $alphaNum/$alphaDen")
    val spark = events.sparkSession
    import spark.implicits._
    val base = events.select(
      col(userCol).cast("long").as("_k"),
      unix_micros(col(tsCol)).as("_t"),
      col(tieBreak).cast("long").as("_tb"),
      col(valueCol).cast("long").as("_v"),
      chunkExpr.cast("long").as("_c"))

    // chunk-monotonicity gate: consecutive chunks of a key must not
    // overlap in (ts, tiebreak) — lexicographic struct compare
    val bounds = base.groupBy("_k", "_c").agg(
      min(struct(col("_t"), col("_tb"))).as("lo"),
      max(struct(col("_t"), col("_tb"))).as("hi"))
    val byKey = Window.partitionBy(col("_k")).orderBy(col("_c"))
    // ONE action for both pre-pass facts (r20): the monotonicity-gate
    // violation count and the distinct chunk list both derive from the
    // same (key, chunk) bounds aggregate — previously two sequential jobs
    // each re-scanning base. Values unchanged.
    val gate = bounds
      .withColumn("prev_hi", lag(col("hi"), 1).over(byKey))
      .agg(
        // coalesce: a global sum over an EMPTY bounds relation is NULL,
        // where the old count() read 0
        coalesce(sum(when(col("prev_hi").isNotNull && col("prev_hi") >= col("lo"), 1L)
          .otherwise(0L)), lit(0L)).as("violations"),
        collect_set(col("_c")).as("chunks"),
        // collect_set drops NULL, and so would the rows of a NULL chunk
        coalesce(sum(when(col("_c").isNull, 1L)), lit(0L)).as("null_chunks"))
      .collect()(0)
    val nullChunks = gate.getAs[Long]("null_chunks")
    require(nullChunks == 0,
      s"ewmaChunked: chunkExpr is NULL for $nullChunks key(s); every event " +
      "needs a chunk id")
    val violations = gate.getAs[Long]("violations")
    require(violations == 0,
      s"ewmaChunked: chunk order disagrees with ($tsCol, $tieBreak) order " +
      s"for $violations (key, chunk) pairs — chunkExpr must be monotone " +
      "in event time")

    val chunks = gate.getAs[scala.collection.Seq[Long]]("chunks").toArray.sorted
    var carry: DataFrame = Seq.empty[(Long, Long)].toDF("_k", "_s")
    var acc: DataFrame = null
    chunks.foreach { c =>
      val ev = base.filter(col("_c") === c)
        .select(col("_k"), col("_t"), col("_tb"), col("_v"))
      // one cogroup emits BOTH the chunk's data rows (_st=false) and each
      // key's final state (_st=true) — silent carried keys pass their
      // state through, so no separate full-outer merge pass exists
      val out = ev.as[(Long, Long, Long, Long)].groupByKey(_._1)
        .cogroup(carry.as[(Long, Long)].groupByKey(_._1)) { (k, evIt, stIt) =>
          val evs = evIt.toArray.sortBy(e => (e._2, e._3))
          var s = 0L
          var first = true
          stIt.toSeq.headOption.foreach { st => s = st._2; first = false }
          if (evs.isEmpty) {
            if (first) Iterator.empty
            else Iterator.single((true, k, 0L, 0L, 0L, s))
          } else {
            val rows = evs.map { e =>
              s = if (first) { first = false; e._4 }
              else (alphaNum * e._4 + (alphaDen - alphaNum) * s) / alphaDen
              (false, k, e._2, e._3, e._4, s)
            }
            rows.iterator ++ Iterator.single((true, k, 0L, 0L, 0L, s))
          }
        }
        .toDF("_st", "_k", "_t", "_tb", "_v", "_s")
      // Eager localCheckpoint materializes the cogroup NOW and truncates
      // the carry's lineage, so later chunks' plans never re-walk this
      // one. Nothing stays persisted per chunk — the previous shape
      // (.persist() per chunk, never unpersisted) leaked one cached
      // relation per chunk for the life of the job, i.e. exactly the
      // many-chunk unbounded-history workloads this operator exists for.
      // Cost: one cogroup recompute per chunk when the final union is
      // consumed, against O(keys) checkpoint blocks held per chunk.
      carry = out.filter(col("_st")).select(col("_k"), col("_s"))
        .localCheckpoint(true)
      val data = out.filter(!col("_st"))
      acc = if (acc == null) data else acc.union(data)
    }
    if (acc == null) return Seq.empty[(Long, Long, Long, Long)]
      .toDF(userCol, tieBreak, "value_units", "ewma_units")
    acc.select(col("_k").as(userCol), col("_tb").as(tieBreak),
      col("_v").as("value_units"), col("_s").as("ewma_units"))
  }

  /** Ordered funnel: how many users complete the first `s` steps of
    * `steps` IN ORDER — each step's event strictly after the previous
    * step's, in `(ts, tieBreak)` order (the product-analytics
    * view→click→purchase question). Greedy earliest-match semantics: a
    * user is at stage `s` iff taking the EARLIEST qualifying event for
    * each step in turn reaches step `s` — greedy is optimal here (an
    * earlier step-i match can only admit more step-i+1 candidates), so
    * this equals "any subsequence matches".
    *
    * One exchange on the user key, one ordered in-task scan holding
    * O(steps) state per user — NOT O(events): unlike [[ewmaFixedPoint]]
    * nothing needs the full history buffered, so this streams unbounded
    * per-user histories safely. The complementary plan to
    * [[Temporal.funnelStages]] (per-stage conditional-min joins — better
    * when stages are few and per-stage selectivity is high; this one-pass
    * shape wins on deep funnels or when the per-stage timestamps aren't
    * needed, and is the only one that breaks same-timestamp ties
    * deterministically). Output: one row per stage with the count of
    * users whose furthest stage is ≥ it.
    */
  def funnel(events: DataFrame, userCol: String, tsCol: String,
             tieBreak: String, typeCol: String,
             steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty, "funnel: no steps")
    val spark = events.sparkSession
    import spark.implicits._
    val stepIdx = steps.zipWithIndex.toMap
    val nSteps = steps.length
    // secondary sort, not mapGroups: repartition on the user key, sort
    // (user, ts, tiebreak) inside each partition (external, spillable),
    // then ONE streaming pass holding only the current user's stage —
    // per-task memory is O(steps) regardless of history length
    val reached = events
      .select(col(userCol).cast("long").as("_u"),
        unix_micros(col(tsCol)).as("_t"),
        col(tieBreak).cast("long").as("_tb"),
        col(typeCol).cast("string").as("_e"))
      .repartition(col("_u"))
      .sortWithinPartitions(col("_u"), col("_t"), col("_tb"))
      .as[(Long, Long, Long, String)]
      .mapPartitions { it =>
        new Iterator[(Long, Long)] {
          private var curUser = 0L
          private var curStage = 0
          private var open = false
          private var out: (Long, Long) = _
          private var ready = false
          private def advance(): Unit = {
            while (!ready && it.hasNext) {
              val (u, _, _, e) = it.next()
              if (!open) { open = true; curUser = u; curStage = 0 }
              else if (u != curUser) {
                out = (curUser, curStage.toLong); ready = true
                curUser = u; curStage = 0
              }
              if (curStage < nSteps && stepIdx.get(e).contains(curStage))
                curStage += 1
            }
            if (!ready && !it.hasNext && open) {
              out = (curUser, curStage.toLong); ready = true; open = false
            }
          }
          def hasNext: Boolean = { advance(); ready }
          def next(): (Long, Long) = {
            advance()
            if (!ready) throw new NoSuchElementException
            ready = false; out
          }
        }
      }
      .toDF(userCol, "stage_reached")
    val aggs = steps.indices.map(s =>
      sum(when(col("stage_reached") > s, 1L).otherwise(0L)).as(s"_s$s"))
    val counts = reached.groupBy().agg(aggs.head, aggs.tail: _*)
    val rows = steps.indices.map(s =>
      counts.select(lit(s + 1L).as("stage"), lit(steps(s)).as("step"),
        col(s"_s$s").as("n_users")))
    rows.reduce(_.unionByName(_)).orderBy("stage")
  }

  /** Holt linear-trend smoothing (double exponential smoothing) per key,
    * in the [[ewmaFixedPoint]] integer fixed-point discipline so the
    * coupled recurrence replays EXACTLY in a SQL recursive CTE:
    *
    *   l_1 = x_1, b_1 = 0
    *   l_t = (aNum·x_t + (aDen−aNum)·(l + b)) quot aDen
    *   b_t = (gNum·(l_t − l) + (gDen−gNum)·b)  quot gDen
    *
    * with quot the truncate-toward-zero division both Scala `/` and
    * DuckDB `//` implement (negative trends stay engine-identical).
    * Emits per event the smoothed level, the trend, and the one-step
    * forecast l+b — the metric-drift detector a pipeline runs over
    * per-source daily volumes to flag "this source is trending away
    * from its history" (the trend term catches ramps EWMA lags on).
    *
    * Scale shape: one exchange on the key, per-key sequential fold
    * (inherent to the recurrence), O(one key's events) task memory —
    * the [[ewmaFixedPoint]] cost class; for unbounded histories the
    * [[ewmaChunked]] carry-state pattern applies unchanged because the
    * carried state is the same O(1) (level, trend) pair per key.
    */
  def holtFixedPoint(events: DataFrame, userCol: String, tsCol: String,
                     tieBreak: String, valueCol: String,
                     aNum: Long, aDen: Long,
                     gNum: Long, gDen: Long): DataFrame = {
    require(aNum > 0 && aNum < aDen && gNum > 0 && gNum < gDen,
      s"holtFixedPoint: smoothing factors must be in (0,1), " +
        s"got $aNum/$aDen and $gNum/$gDen")
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col(userCol).cast("long"), unix_micros(col(tsCol)),
        col(tieBreak).cast("long"), col(valueCol).cast("long"))
      .as[(Long, Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (k, it) =>
        val evs = it.toArray.sortBy(e => (e._2, e._3))
        var l = 0L
        var b = 0L
        var first = true
        evs.iterator.map { e =>
          if (first) { first = false; l = e._4; b = 0L }
          else {
            val prev = l + b
            val l2 = (aNum * e._4 + (aDen - aNum) * prev) / aDen
            b = (gNum * (l2 - l) + (gDen - gNum) * b) / gDen
            l = l2
          }
          (k, e._3, e._4, l, b, l + b)
        }
      }
      .toDF(userCol, tieBreak, "value_units", "level_units", "trend_units",
        "forecast_units")
  }

  /** Two-sided CUSUM change-point detection (Page 1954) per key in pure
    * integer units — the drift-detection trio's third member beside
    * [[ewmaFixedPoint]] (lagging mean) and [[holtFixedPoint]] (ramps):
    * CUSUM accumulates small persistent deviations and fires on LEVEL
    * SHIFTS fast, which is how a pipeline catches "this source's quality
    * metric stepped down on Tuesday".
    *
    *   s⁺_t = max(0, s⁺ + (x_t − ref) − slack)
    *   s⁻_t = max(0, s⁻ + (ref − x_t) − slack)
    *
    * with an alarm when either side exceeds `threshold`. All longs — no
    * division at all, so the oracle recursive CTE replays it with
    * greatest(0, …) and nothing else.
    *
    * Scale shape: identical to [[ewmaFixedPoint]] — one exchange on the
    * key, per-key sequential fold, O(1) carry state (s⁺, s⁻), so the
    * [[ewmaChunked]] persisted-carry pattern applies unchanged.
    */
  def cusumFixedPoint(events: DataFrame, userCol: String, tsCol: String,
                      tieBreak: String, valueCol: String,
                      ref: Long, slack: Long, threshold: Long): DataFrame = {
    require(slack >= 0 && threshold > 0,
      s"cusumFixedPoint: bad slack=$slack threshold=$threshold")
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col(userCol).cast("long"), unix_micros(col(tsCol)),
        col(tieBreak).cast("long"), col(valueCol).cast("long"))
      .as[(Long, Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (k, it) =>
        val evs = it.toArray.sortBy(e => (e._2, e._3))
        var sp = 0L
        var sn = 0L
        evs.iterator.map { e =>
          sp = math.max(0L, sp + (e._4 - ref) - slack)
          sn = math.max(0L, sn + (ref - e._4) - slack)
          (k, e._3, e._4, sp, sn, sp > threshold, sn > threshold)
        }
      }
      .toDF(userCol, tieBreak, "value_units", "cusum_pos", "cusum_neg",
        "alarm_up", "alarm_down")
  }

  /** First-order Markov transition matrix over per-key event sequences:
    * count every adjacent `(from_state → to_state)` pair (ordered by
    * time with a unique tiebreak) and report row-normalized transition
    * probabilities at 6dp — the behavioral-analytics summary ("after a
    * click, what happens next?") and the generator a sequence simulator
    * samples from.
    *
    * Scale shape: one exchange on the key for the lag window (O(1)
    * look-behind state), then one tiny hash agg on (from, to) — state
    * count squared rows out, regardless of input size.
    */
  def markovTransitions(events: DataFrame, userCol: String, tsCol: String,
                        tieBreak: String, stateCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(userCol)).orderBy(col(tsCol), col(tieBreak))
    val pairs = events
      .select(col(userCol), col(tsCol), col(tieBreak),
        col(stateCol).as("to_state"))
      .withColumn("from_state", lag(col("to_state"), 1).over(w))
      .filter(col("from_state").isNotNull)
      .groupBy("from_state", "to_state").agg(count(lit(1)).as("n"))
    val totals = pairs.groupBy("from_state").agg(sum(col("n")).as("row_total"))
    pairs.join(totals, Seq("from_state"))
      .select(col("from_state"), col("to_state"), col("n"), col("row_total"),
        round(col("n") / col("row_total"), 6).as("p"))
  }
}
