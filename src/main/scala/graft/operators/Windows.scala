package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Riemann's temporal/windowed operators (reference
  * src/riemann/streams.clj:292-1241, 2032-2248) as batch-relational
  * plans over the event view. Every operator partitions by its key
  * columns, so on a cluster the shuffle is exactly one exchange on the
  * key — the reference's `by`-substream (streams.clj:1556-1612) is our
  * partitioning. Ordering ties are always broken by `event_id` so plans
  * are deterministic under any parallelism.
  *
  * Streaming equivalents of the stateful members live in
  * [[graft.streaming]]; these batch forms are the oracle-checkable
  * semantics.
  */
object Windows {

  private val D = DecimalType(18, 6)
  private def keyW(keys: Seq[String]) =
    Window.partitionBy(keys.map(col): _*).orderBy(col("time_s"), col("event_id"))

  /** `fixed-offset-time-window n` (streams.clj:420-431): epoch-aligned
    * tumbling buckets; here each bucket aggregates instead of emitting a
    * vector (the vector form is `collect_list` over the same grouping). */
  def fixedOffsetTimeWindow(df: DataFrame, seconds: Long, keys: Seq[String]): DataFrame =
    df.withColumn("window_start", (col("time_s") - (col("time_s") % seconds)))
      .groupBy((keys.map(col) :+ col("window_start")): _*)
      .agg(count(lit(1)).as("n_events"),
        sum(col("metric").cast(D)).cast("double").as("sum_metric"))

  /** `fixed-event-window n` (streams.clj:305-320): tumbling count
    * windows per key; batch id = ordinal div n. The reference emits
    * only FULL windows (the trailing partial stays buffered) —
    * `completeOnly = true` reproduces that; the default keeps the
    * partial tail, which batch consumers usually want. */
  def fixedEventWindow(df: DataFrame, n: Int, keys: Seq[String],
      completeOnly: Boolean = false): DataFrame = {
    val w = df.withColumn("batch_id",
      ((row_number().over(keyW(keys)) - 1) / n).cast("long"))
      .groupBy((keys.map(col) :+ col("batch_id")): _*)
      .agg(count(lit(1)).as("n_events"),
        sum(col("metric").cast(D)).cast("double").as("sum_metric"),
        max("time_s").as("last_time"))
    if (completeOnly) w.filter(col("n_events") === n) else w
  }

  /** `moving-event-window n` (streams.clj:292-303): sliding last-n
    * events, one emission per event. */
  def movingEventWindow(df: DataFrame, n: Int, keys: Seq[String]): DataFrame =
    df.withColumn("moving_sum",
      sum(col("metric").cast(D)).over(keyW(keys).rowsBetween(-(n - 1), 0))
        .cast("double"))
      .withColumn("moving_n", count(lit(1)).over(keyW(keys).rowsBetween(-(n - 1), 0)))

  /** `moving-time-window n` (streams.clj:322-353): all events within the
    * last n seconds of each event. */
  def movingTimeWindow(df: DataFrame, seconds: Long, keys: Seq[String]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("time_s")).rangeBetween(-(seconds - 1), 0)
    df.withColumn("window_sum", sum(col("metric").cast(D)).over(w).cast("double"))
      .withColumn("window_n", count(lit(1)).over(w))
  }

  /** `rate interval` (streams.clj:841-883): sum(metric)/interval per
    * interval bucket. */
  def rate(df: DataFrame, seconds: Long, keys: Seq[String]): DataFrame =
    fixedOffsetTimeWindow(df, seconds, keys)
      .withColumn("rate", col("sum_metric") / seconds)
      .drop("sum_metric", "n_events")

  /** `rate interval` with the reference's expiry semantics
    * (streams.clj:841-883 ttl decay, golden: streams_test.clj
    * rate-expiration): between events the poller keeps emitting
    * zero-rate ticks, carrying the latest event's ttl decremented per
    * interval, and stops once that ttl lapses (the stream "expires");
    * the next event restarts it. Batch reading: per (key, bucket),
    * zero-fill forward from each observed bucket until either the ttl
    * decays to 0 or the next observed bucket takes over; emitted time
    * is the tick (window END, when the reference's flush fires). A null
    * ttl never expires — interior gaps fill fully; after the LAST
    * bucket a null ttl emits nothing (batch has no "now" to run the
    * poller against). One aggregation + one lead() on the same
    * exchange; the fill is a per-row sequence, never a driver loop. */
  /** Pin a gap-emission window's exchange to the configured shuffle
    * width (r21, guide §2.2/§2.5): AQE sizes post-shuffle partitions by
    * the PRE-explode bytes of the tiny bucket relation, so the
    * per-bucket emission explode — 10-30× the input rows — ran in ONE
    * coalesced task (q_interpolate's emission stage: 1 task, 1.3 s of
    * a 2.3 s query at local[32]). An explicit keyed repartition at the
    * configured width satisfies the window's clustering requirement
    * (no extra exchange is added — this replaces the implicit one) and
    * opts exactly that exchange out of AQE coalescing; at cluster
    * scale the configured width is the properly sized one. */
  private def emissionSpread(df: DataFrame, keys: Seq[String]): DataFrame =
    if (keys.isEmpty) df
    else {
      val n = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
      df.repartition(n, keys.map(col): _*)
    }

  def rateExpiring(df: DataFrame, seconds: Long, keys: Seq[String]): DataFrame = {
    val obs = df
      .withColumn("window_start", col("time_s") - (col("time_s") % seconds))
      .groupBy((keys.map(col) :+ col("window_start")): _*)
      .agg(sum(col("metric").cast(D)).cast("double").as("sum_metric"),
        // ttl carried forward = the ttl of the newest event in the bucket
        max_by(col("ttl"), struct(col("time_s"), col("event_id"))).as("carry_ttl"))
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col("window_start"))
    val withNext = emissionSpread(obs, keys)
      .withColumn("next_ws", lead("window_start", 1).over(w))
    // last fill bucket: strictly before ttl lapse (ws' − ws < ttl) and
    // strictly before the next observed bucket
    val ttlBound = when(col("carry_ttl").isNotNull,
      col("window_start") +
        ((ceil(col("carry_ttl") / seconds).cast("long") - 1) * seconds))
    val fillEnd = least(
      coalesce(col("next_ws") - seconds, ttlBound),
      coalesce(ttlBound, col("next_ws") - seconds))
    // ONE linear plan: each bucket row emits [live ++ fills] through a
    // single explode. A Union of live and fill branches would
    // re-execute the aggregation (and re-scan the source) once per
    // branch — Spark does not dedupe common subtrees under Union.
    val liveEm = struct(col("window_start"),
      (col("sum_metric") / seconds).as("rate"), col("carry_ttl").as("ttl"))
    val fillSeq = when(fillEnd >= col("window_start") + seconds,
      sequence(col("window_start") + lit(seconds), fillEnd, lit(seconds)))
      .otherwise(array().cast("array<bigint>"))
    val fillEms = transform(fillSeq, f => struct(f.as("window_start"),
      lit(0.0).as("rate"),
      (col("carry_ttl") - (f - col("window_start"))).as("ttl")))
    withNext
      .select(keys.map(col) :+
        explode(concat(array(liveEm), fillEms)).as("em"): _*)
      .select(keys.map(col) :+ col("em.window_start").as("window_start") :+
        col("em.rate").as("rate") :+ col("em.ttl").as("ttl") :+
        (col("em.window_start") + seconds).as("time_s"): _*)
  }

  /** `percentiles interval points` (streams.clj:885-898 +
    * folds.clj:16-49 sorted-sample): one row per (interval, point),
    * service renamed `"svc p"`; nearest-rank over actual metrics. */
  def percentiles(df: DataFrame, seconds: Long, points: Seq[Double]): DataFrame = {
    val bucketed = df
      .withColumn("window_start", col("time_s") - (col("time_s") % seconds))
      .groupBy(col("service"), col("window_start"))
      .agg(sort_array(collect_list("metric")).as("ms"))
    val pts = array(points.map(lit): _*)
    // nearest-rank (folds.clj:16-49 sorted-sample-extract): element at
    // (min (floor (* p count)) (dec count)) of the sorted sample
    bucketed
      .select(col("service"), col("window_start"), col("ms"), explode(pts).as("point"))
      .withColumn("idx",
        least(floor(col("point") * size(col("ms"))), size(col("ms")) - 1).cast("int"))
      .select(
        concat(col("service"), lit(" "), col("point").cast("string")).as("service_pt"),
        col("window_start"), col("point"),
        // all-null-metric buckets collect an empty sample: emit null
        // (element_at would reject index 0)
        when(size(col("ms")) > 0, element_at(col("ms"), col("idx") + 1))
          .as("metric"))
  }

  /** [[percentiles]] for the 100 TB path: `percentile_approx` replaces
    * the exact grouped sort — mergeable bounded sketch, map-side
    * partials, no per-group sample materialization (a hot (service,
    * interval) group can exceed executor memory under collect_list).
    * Use the exact form where nearest-rank bit-parity matters; this one
    * at scale. Output shape matches [[percentiles]]. */
  def percentilesApprox(df: DataFrame, seconds: Long, points: Seq[Double],
      accuracy: Int = 10000): DataFrame = {
    val pts = array(points.map(lit): _*)
    df.withColumn("window_start", col("time_s") - (col("time_s") % seconds))
      .groupBy(col("service"), col("window_start"))
      .agg(percentile_approx(col("metric"), pts, lit(accuracy)).as("qs"))
      .select(col("service"), col("window_start"),
        posexplode(col("qs")).as(Seq("qi", "metric")))
      .withColumn("point", element_at(pts, col("qi") + 1))
      .select(
        concat(col("service"), lit(" "), col("point").cast("string"))
          .as("service_pt"),
        col("window_start"), col("point"), col("metric"))
  }

  /** `rate+latency` (instrumentation.clj:26-59): the engine's
    * self-instrumentation surface — per (service, interval) emit one
    * throughput-rate event (`"riemann <svc> rate"`) plus one event per
    * latency quantile (`"riemann <svc> latency <q>"`), latencies
    * entering in nanoseconds and emitted as milliseconds. Quantiles are
    * nearest-rank over the actual samples (the reference keeps a
    * uniform reservoir; exact here — batch has no memory bound per
    * group since collect_list spills). Scale shape: one grouped sort
    * per interval, identical to [[percentiles]]. */
  def instrument(df: DataFrame, seconds: Long, latencyNs: Column,
      quantiles: Seq[Double] = Seq(0.0, 0.5, 0.95, 0.99, 0.999)): DataFrame = {
    val b = df
      .withColumn("window_start", col("time_s") - (col("time_s") % seconds))
      .withColumn("_lat", latencyNs.cast("long"))
      .groupBy(col("service"), col("window_start"))
      .agg(count(lit(1)).as("n"),
        sort_array(collect_list(col("_lat"))).as("ls"))
    val rateRows = b.select(
      concat(lit("riemann "), col("service"), lit(" rate")).as("service_out"),
      col("window_start"),
      (col("n") / lit(seconds.toDouble)).as("metric"))
    val latRows = b
      .select(col("service"), col("window_start"), col("ls"),
        explode(array(quantiles.map(lit): _*)).as("q"))
      .withColumn("idx",
        least(floor(col("q") * size(col("ls"))), size(col("ls")) - 1).cast("int"))
      .select(
        concat(lit("riemann "), col("service"), lit(" latency "),
          col("q").cast("string")).as("service_out"),
        col("window_start"),
        when(size(col("ls")) > 0,
          element_at(col("ls"), col("idx") + 1) * lit(1e-6)).as("metric"))
    rateRows.unionByName(latRows)
  }

  /** [[instrument]] for the 100 TB path: `percentile_approx` replaces
    * the exact grouped sort — a mergeable bounded sketch (partial
    * aggregation on the map side, no per-group sample materialization),
    * the honest Spark analog of the reference's bounded uniform
    * reservoir (instrumentation.clj:59 `uniform-reservoir`). Use the
    * exact form where bit-parity matters; this one where a single
    * (service, interval) group can hold billions of samples. */
  def instrumentApprox(df: DataFrame, seconds: Long, latencyNs: Column,
      quantiles: Seq[Double] = Seq(0.0, 0.5, 0.95, 0.99, 0.999),
      accuracy: Int = 10000): DataFrame = {
    val b = df
      .withColumn("window_start", col("time_s") - (col("time_s") % seconds))
      .withColumn("_lat", latencyNs.cast("long"))
      .groupBy(col("service"), col("window_start"))
      .agg(count(lit(1)).as("n"),
        percentile_approx(col("_lat"),
          array(quantiles.map(lit): _*), lit(accuracy)).as("qs"))
    val rateRows = b.select(
      concat(lit("riemann "), col("service"), lit(" rate")).as("service_out"),
      col("window_start"),
      (col("n") / lit(seconds.toDouble)).as("metric"))
    val latRows = b
      .select(col("service"), col("window_start"),
        posexplode(col("qs")).as(Seq("qi", "lat")))
      .withColumn("q", element_at(
        array(quantiles.map(lit): _*), col("qi") + 1))
      .select(
        concat(lit("riemann "), col("service"), lit(" latency "),
          col("q").cast("string")).as("service_out"),
        col("window_start"),
        (col("lat") * lit(1e-6)).as("metric"))
    rateRows.unionByName(latRows)
  }

  /** `apdex` (streams.clj:2103-2157): (satisfied + tolerated/2) / total
    * per interval. */
  def apdex(df: DataFrame, seconds: Long, satisfied: Column, tolerated: Column,
      keys: Seq[String], nowS: Option[Column] = None): DataFrame = {
    // reference cond semantics (streams.clj:2126-2129): satisfied wins —
    // an event matching BOTH predicates counts once as satisfied, never
    // also as tolerated; expired events are ignored entirely (:2118).
    // Full expired? needs a reference clock for the ttl-lapse half —
    // pass nowS to get it; without one only state="expired" is dropped.
    val sat = coalesce(satisfied, lit(false))
    val tol = !sat && coalesce(tolerated, lit(false))
    val expired = nowS match {
      case Some(now) => (col("state") <=> "expired") ||
        coalesce(now - col("time_s") > col("ttl"), lit(false))
      case None => col("state") <=> "expired"
    }
    df.filter(!expired)
      .withColumn("window_start", col("time_s") - (col("time_s") % seconds))
      .groupBy((keys.map(col) :+ col("window_start")): _*)
      .agg(((sum(when(sat, 1).otherwise(0)) +
        sum(when(tol, 1).otherwise(0)) / lit(2.0)) /
        count(lit(1))).as("apdex"))
  }

  /** `ddt` (streams.clj:776-839): d(metric)/dt between successive
    * events per key. */
  def ddt(df: DataFrame, keys: Seq[String]): DataFrame = {
    val w = keyW(keys)
    df.withColumn("prev_metric", lag("metric", 1).over(w))
      .withColumn("prev_time", lag("time_s", 1).over(w))
      .filter(col("prev_time").isNotNull && col("time_s") =!= col("prev_time"))
      .withColumn("ddt", (col("metric") - col("prev_metric")) /
        (col("time_s") - col("prev_time")))
  }

  /** `counter` (streams.clj:900-932): running sum per key; the reset
    * tag (reference: "reset") restarts the accumulator at the reset
    * event's own metric (via segment ids); `init` seeds the count
    * before the first reset — the reference's `(counter 100)` arity. */
  def counter(df: DataFrame, keys: Seq[String],
      resetTag: String = "reset", init: Double = 0.0): DataFrame = {
    val w = keyW(keys)
    val seg = sum(when(array_contains(col("tags"), resetTag), 1).otherwise(0))
      .over(w.rowsBetween(Window.unboundedPreceding, 0))
    val segW = Window.partitionBy((keys.map(col) :+ col("segment")): _*)
      .orderBy(col("time_s"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    // the segment sum is NULL until the first metric-bearing row; the
    // coalesce keeps the seeded count visible from the very first event
    // (the reference's counter atom holds `init` while metric-less
    // events pass through, streams.clj:920-931)
    df.withColumn("segment", seg)
      .withColumn("running_sum",
        (coalesce(sum(col("metric").cast(D)).over(segW), lit(0.0).cast(D)) +
        when(col("segment") === 0, lit(init)).otherwise(lit(0.0)).cast(D))
        .cast("double"))
  }

  /** The reference's deprecated-but-shipped running aggregates
    * (streams.clj:934-963, deprecation points at counter /
    * ewma-timeless): `sum-over-time` re-emits each event with the
    * running sum of all metrics so far, `mean-over-time` with the
    * running mean. Null-metric events are dropped (the `when-let`
    * gate). Decimal-exact cumulative arithmetic keeps emissions
    * independent of partition merge order. */
  def sumOverTime(df: DataFrame, keys: Seq[String]): DataFrame = {
    val w = keyW(keys).rowsBetween(Window.unboundedPreceding, 0)
    df.filter(col("metric").isNotNull)
      .withColumn("running_sum",
        sum(col("metric").cast(D)).over(w).cast("double"))
  }

  def meanOverTime(df: DataFrame, keys: Seq[String]): DataFrame = {
    val w = keyW(keys).rowsBetween(Window.unboundedPreceding, 0)
    df.filter(col("metric").isNotNull)
      .withColumn("running_mean",
        (sum(col("metric").cast(D)).over(w).cast("double") /
          count(lit(1)).over(w)))
  }

  /** `ewma-timeless r` (streams.clj:961-977): the accumulator starts at
    * **0** (`(atom 0)`), update m ← (1−r)·m + r·x, so after n events
    * sₙ = Σ r(1−r)^(n−i)·xᵢ — every event weighted r(1−r)^(n−i),
    * including the first. Batch closed form = one weighted sum instead
    * of a sequential scan. Null metrics are skipped (reference
    * `when-let`) without consuming a decay step, matching the filter. */
  def ewmaTimeless(df: DataFrame, r: Double, keys: Seq[String]): DataFrame = {
    val nn = df.filter(col("metric").isNotNull)
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("time_s"), col("event_id"))
    val cnt = Window.partitionBy(keys.map(col): _*)
    nn.withColumn("idx", row_number().over(w))
      .withColumn("n", count(lit(1)).over(cnt))
      .withColumn("weight", lit(r) * pow(lit(1 - r), col("n") - col("idx")))
      .groupBy(keys.map(col): _*)
      .agg(round(sum((col("weight") * col("metric"))
        .cast(DecimalType(38, 18))).cast("double"), 4).as("ewma"))
  }

  /** `ewma halflife` (streams.clj:979-1013): time-aware EWMA with
    * r = 2^(−1/halflife), update m ← (1−r)·x + m·r^Δt (zero-init,
    * out-of-order handled by additive correction). All three reference
    * branches (pos/neg/zero Δt) collapse to the closed form
    * m = Σ (1−r)·xᵢ·r^(t_max − t_i), which is what we aggregate — the
    * non-positive exponents also make every term ≤ xᵢ, so no overflow.
    * Emits the final ewma per key. */
  def ewma(df: DataFrame, halflife: Double, keys: Seq[String]): DataFrame = {
    val r = math.pow(2.0, -1.0 / halflife)
    val nn = df.filter(col("metric").isNotNull)
    val tmax = Window.partitionBy(keys.map(col): _*)
    nn.withColumn("t_max", max("time_s").over(tmax))
      .groupBy(keys.map(col): _*)
      .agg(round(sum((lit(1 - r) * col("metric") *
        pow(lit(r), col("t_max") - col("time_s")))
        .cast(DecimalType(38, 18))).cast("double"), 4).as("ewma"))
  }

  /** `fixed-time-window n` (streams.clj:355-418): tumbling windows
    * anchored at the FIRST event's time (not epoch-aligned) — window k
    * spans [t₀+k·n, t₀+(k+1)·n). Per key, t₀ = min event time; the
    * reference's late-drop (events older than the current window start)
    * cannot occur in batch where t₀ is the true minimum. */
  def fixedTimeWindow(df: DataFrame, seconds: Long, keys: Seq[String]): DataFrame = {
    val t0 = Window.partitionBy(keys.map(col): _*)
    df.withColumn("t0", min("time_s").over(t0))
      .withColumn("window_id", expr(s"(time_s - t0) div $seconds"))
      .groupBy((keys.map(col) :+ col("window_id")): _*)
      .agg(count(lit(1)).as("n_events"),
        sum(col("metric").cast(D)).cast("double").as("sum_metric"),
        min("time_s").as("window_min_time"))
  }

  /** `fold-interval interval f` (streams.clj:663-681): apply any fold
    * (an aggregate Column from [[graft.functions.Folds]]) to each
    * epoch-aligned interval's events. */
  def foldInterval(df: DataFrame, seconds: Long, keys: Seq[String],
      folds: (String, Column)*): DataFrame =
    df.withColumn("window_start", col("time_s") - (col("time_s") % seconds))
      .groupBy((keys.map(col) :+ col("window_start")): _*)
      .agg(folds.head._2.as(folds.head._1),
        folds.tail.map { case (n, c) => c.as(n) }: _*)

  /** `batch n dt` (streams.clj:1158-1185): size-or-time bounded
    * batches. Batch-relational analog: split each dt bucket into runs
    * of ≤ n events (reference anchors dt at the first event of each
    * batch; epoch-aligned buckets are the deterministic batch reading —
    * every emitted batch still spans ≤ dt seconds and ≤ n events). */
  def batchNDt(df: DataFrame, n: Int, seconds: Long, keys: Seq[String]): DataFrame = {
    val w = Window
      .partitionBy((keys.map(col) :+ col("window_start")): _*)
      .orderBy(col("time_s"), col("event_id"))
    df.withColumn("window_start", col("time_s") - (col("time_s") % seconds))
      .withColumn("batch_seq", ((row_number().over(w) - 1) / n).cast("long"))
      .groupBy((keys.map(col) :+ col("window_start") :+ col("batch_seq")): _*)
      .agg(count(lit(1)).as("n_events"),
        sum(col("metric").cast(D)).cast("double").as("sum_metric"),
        max("time_s").as("flush_time"))
  }

  /** `fill-in interval filler` / `interpolate-constant`
    * (streams.clj:683-774): synthesize one event per empty interval so
    * downstream rates see continuous data. Batch form: per key, emit the
    * observed interval aggregates PLUS a filler row for every
    * epoch-aligned interval between the key's first and last event that
    * saw no events (metric = `fillMetric`, n_events = 0). One linear
    * plan: each observed bucket explodes into itself plus the filler
    * rows up to the NEXT observed bucket (lead()) — no driver loop, and
    * no spans+join shape, which would re-execute the bucket aggregation
    * on both sides. Scales as one shuffle on (key, window_start) plus a
    * bucket-level (not event-level) window. */
  def fillIn(df: DataFrame, seconds: Long, keys: Seq[String],
      fillMetric: Double): DataFrame = {
    val observed = df
      .withColumn("window_start", col("time_s") - (col("time_s") % seconds))
      .groupBy((keys.map(col) :+ col("window_start")): _*)
      .agg(count(lit(1)).as("n_events"),
        sum(col("metric").cast(D)).cast("double").as("sum_metric"))
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col("window_start"))
    // observed bucket sums stay as-is (an all-null-metric bucket keeps
    // its null sum — it saw real events); only gaps get the filler
    val liveEm = struct(col("window_start"), col("n_events"),
      col("sum_metric"))
    val gapSeq = when(col("next_ws") - seconds >= col("window_start") + seconds,
      sequence(col("window_start") + lit(seconds),
        col("next_ws") - lit(seconds), lit(seconds)))
      .otherwise(array().cast("array<bigint>"))
    val fillEms = transform(gapSeq, f => struct(f.as("window_start"),
      lit(0L).as("n_events"), lit(fillMetric).as("sum_metric")))
    emissionSpread(observed, keys)
      .withColumn("next_ws", lead("window_start", 1).over(w))
      .select(keys.map(col) :+
        explode(concat(array(liveEm), fillEms)).as("em"): _*)
      .select(keys.map(col) :+ col("em.window_start").as("window_start") :+
        col("em.n_events").as("n_events") :+
        col("em.sum_metric").as("sum_metric"): _*)
  }

  /** `fill-in-last interval` (streams.clj:720-741): like fill-in but
    * the filler copies the last seen value forward. */
  def fillInLast(df: DataFrame, seconds: Long, keys: Seq[String]): DataFrame = {
    val filled = fillIn(df, seconds, keys, 0.0)
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col("window_start"))
      .rowsBetween(Window.unboundedPreceding, 0)
    filled.withColumn("sum_metric",
      when(col("n_events") > 0, col("sum_metric"))
        .otherwise(last(when(col("n_events") > 0, col("sum_metric")),
          ignoreNulls = true).over(w)))
  }

  /** `interpolate-constant interval` (streams.clj:753-774): emit the
    * latest event's value at every interval tick, stopping when an
    * expired event arrives (the expired event itself is still forwarded
    * once, and filling resumes at the next live event). Batch reading:
    * one row per (key, epoch-aligned tick) carrying the newest event at
    * or before the tick; ticks whose carried state is "expired" are
    * dropped unless the expiry was observed in that tick. Where several
    * events share a tick the newest wins (the reference, sampling on a
    * wall-clock timer, would emit whichever states the ticks land on).
    * Same single-pass lead()+explode shape as [[fillIn]] — scales as
    * one shuffle on (key, window_start), no driver loop, no re-executed
    * aggregation. */
  def interpolateConstant(df: DataFrame, seconds: Long, keys: Seq[String]): DataFrame = {
    val latest = df
      .withColumn("window_start", col("time_s") - (col("time_s") % seconds))
      .groupBy((keys.map(col) :+ col("window_start")): _*)
      .agg(count(lit(1)).as("n_events"),
        max(struct(col("time_s"), col("event_id"), col("metric"),
          col("state"))).as("latest"))
      .select(keys.map(col) :+ col("window_start") :+ col("n_events") :+
        col("latest.metric").as("obs_metric") :+
        col("latest.state").as("obs_state"): _*)
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col("window_start"))
    // each observed bucket emits itself plus the empty ticks up to the
    // next observed bucket; the carry is resolved IN the emission (the
    // gap rows copy this bucket's observation), so no second window
    // pass over the ticks is needed
    val liveEm = struct(col("window_start"), col("n_events"),
      col("obs_metric").as("m"), col("obs_state").as("st"))
    val gapSeq = when(col("next_ws") - seconds >= col("window_start") + seconds,
      sequence(col("window_start") + lit(seconds),
        col("next_ws") - lit(seconds), lit(seconds)))
      .otherwise(array().cast("array<bigint>"))
    val fillEms = transform(gapSeq, f => struct(f.as("window_start"),
      lit(null).cast("long").as("n_events"),
      col("obs_metric").as("m"), col("obs_state").as("st")))
    emissionSpread(latest, keys)
      .withColumn("next_ws", lead("window_start", 1).over(w))
      .select(keys.map(col) :+
        explode(concat(array(liveEm), fillEms)).as("em"): _*)
      // expired carries stop the fill (the expiry row itself forwards)
      .filter(col("em.n_events").isNotNull ||
        !(col("em.st") <=> lit("expired")))
      .select(keys.map(col) :+ col("em.window_start").as("window_start") :+
        col("em.m").as("metric") :+ col("em.st").as("state") :+
        coalesce(col("em.n_events"), lit(0L)).as("n_events"): _*)
  }

  /** `sreduce f` (streams.clj:206-250): running reduce with visible
    * intermediates. Batch form for the associative folds: a running
    * window aggregate per key (one value per event, in time order).
    * Each fold is an aggregate expression (e.g. `sum(col("metric"))`);
    * the running frame is applied here. */
  def sreduceRunning(df: DataFrame, keys: Seq[String],
      folds: (String, Column)*): DataFrame = {
    val w = keyW(keys).rowsBetween(Window.unboundedPreceding, 0)
    folds.foldLeft(df) { case (d, (name, agg)) =>
      d.withColumn(name, agg.over(w))
    }
  }

  /** Two-phase salted aggregation for skewed keys: phase 1 aggregates
    * on (key, hash-salt) — splitting a hot key across `salts` reducers —
    * phase 2 merges the partials on the key alone. For sums/counts
    * (decimal-exact, so the re-association changes nothing). Spark's
    * hash aggregate already does map-side partials, which covers most
    * skew; use this where the partial-combine itself is the bottleneck
    * (e.g. huge collect-style states or extreme single-key skew), and
    * prefer AQE skew-join splitting for skewed JOIN sides. */
  def saltedSumCount(df: DataFrame, keys: Seq[String], valueCol: String,
      salts: Int = 16): DataFrame = {
    val partial = df
      .withColumn("_salt", pmod(hash(col("event_id")), lit(salts)))
      .groupBy((keys.map(col) :+ col("_salt")): _*)
      .agg(sum(col(valueCol).cast(D)).as("_psum"),
        count(col(valueCol)).as("_pcnt"))
    partial.groupBy(keys.map(col): _*)
      .agg(sum("_psum").cast("double").as("sum_metric"),
        sum("_pcnt").as("n_metric"))
  }

  /** `top k f` (streams.clj:1015-1100), batch form: rank keys by a
    * grouped metric, keep top k. Deterministic tie-break on the key.
    * Plan note: `orderBy().limit(k)` compiles to TakeOrderedAndProject
    * (per-partition top-k, driver merges k·p rows) — no global
    * single-partition Window sort, so it survives high key cardinality. */
  def topK(df: DataFrame, k: Int, keys: Seq[String]): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(sum(col("metric").cast(D)).cast("double").as("total_metric"))
      .orderBy((col("total_metric").desc +: keys.map(col)): _*)
      .limit(k)

  /** `throttle n dt` (streams.clj:1102-1118): ≤ n events per key per dt
    * bucket. */
  def throttle(df: DataFrame, n: Int, seconds: Long, keys: Seq[String]): DataFrame = {
    val w = Window
      .partitionBy((keys.map(col) :+ col("window_start")): _*)
      .orderBy(col("time_s"), col("event_id"))
    df.withColumn("window_start", col("time_s") - (col("time_s") % seconds))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= n)
      .drop("rn")
  }

  /** `rollup n dt` (streams.clj:1120-1156): pass n per bucket, buffer
    * the overflow, emit the buffered events with the bucket summary —
    * `rolled_metrics` carries the buffered events' metrics in event
    * order (the reference's end-of-period vector emission). */
  def rollup(df: DataFrame, n: Int, seconds: Long, keys: Seq[String]): DataFrame = {
    val w = Window
      .partitionBy((keys.map(col) :+ col("window_start")): _*)
      .orderBy(col("time_s"), col("event_id"))
    df.withColumn("window_start", col("time_s") - (col("time_s") % seconds))
      .withColumn("rn", row_number().over(w))
      .withColumn("rolled_up", col("rn") > n)
      .groupBy((keys.map(col) :+ col("window_start")): _*)
      .agg(sum(when(!col("rolled_up"), 1).otherwise(0)).as("passed"),
        sum(when(col("rolled_up"), 1).otherwise(0)).as("rolled"),
        expr("transform(sort_array(collect_list(CASE WHEN rolled_up THEN " +
          "struct(time_s, event_id, metric) END)), x -> x.metric)")
          .as("rolled_metrics"))
  }

  /** `ddt-real n` (streams.clj:776-839, the sampled variant): the
    * metric's rate of change sampled at n-second boundaries — last
    * event per bucket, slope between consecutive buckets' samples. */
  def ddtReal(df: DataFrame, seconds: Long, keys: Seq[String]): DataFrame = {
    val sampled = df
      .withColumn("window_start", col("time_s") - (col("time_s") % seconds))
      .groupBy((keys.map(col) :+ col("window_start")): _*)
      .agg(max(struct(col("time_s"), col("event_id"), col("metric")))
        .as("last"))
      .select((keys.map(col) :+ col("window_start") :+
        col("last.metric").as("sample")): _*)
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col("window_start"))
    sampled
      .withColumn("prev_sample", lag("sample", 1).over(w))
      .withColumn("prev_start", lag("window_start", 1).over(w))
      .filter(col("prev_start").isNotNull)
      .withColumn("ddt", (col("sample") - col("prev_sample")) /
        (col("window_start") - col("prev_start")))
      .drop("prev_sample", "prev_start")
  }

  /** `changed f` / `changed-state` (streams.clj:1614-1659): pass only
    * when the extracted value differs from the previous one per key. */
  def changed(df: DataFrame, field: String, keys: Seq[String],
      init: Option[String] = None): DataFrame = {
    val w = keyW(keys)
    val prev = lag(col(field), 1, init.orNull).over(w)
    df.withColumn("prev_value", prev)
      .filter(!(col(field) <=> col("prev_value")))
  }

  /** `runs n field` (streams.clj:1918-1934): newest event after n
    * consecutive equal values of `field`. Zero/negative-width runs emit
    * nothing, matching the reference (streams_test.clj runs-test). */
  def runs(df: DataFrame, n: Int, field: String, keys: Seq[String]): DataFrame = {
    if (n <= 0) return df.limit(0)
    val w = keyW(keys)
    val changedFlag = when(col(field) <=> lag(col(field), 1).over(w), 0).otherwise(1)
    val seg = sum(changedFlag).over(w.rowsBetween(Window.unboundedPreceding, 0))
    val segW = Window.partitionBy((keys.map(col) :+ col("segment")): _*)
      .orderBy(col("time_s"), col("event_id"))
    df.withColumn("segment", seg)
      .withColumn("run_len", row_number().over(segW))
      .filter(col("run_len") >= n)
  }

  /** `stable dt f` (streams.clj:1936-2030): de-flapping — the reference
    * BUFFERS events while a new value is on probation and delivers the
    * whole buffer once the value has persisted ≥ dt (discarding it if
    * the value flaps sooner). Batch reading: a run of equal values is
    * stable iff it spans ≥ dt seconds, and then ALL its events pass —
    * not just the post-probation tail. */
  def stable(df: DataFrame, dtSeconds: Long, field: String, keys: Seq[String]): DataFrame = {
    val w = keyW(keys)
    val changedFlag = when(col(field) <=> lag(col(field), 1).over(w), 0).otherwise(1)
    val seg = sum(changedFlag).over(w.rowsBetween(Window.unboundedPreceding, 0))
    val segFull = Window.partitionBy((keys.map(col) :+ col("segment")): _*)
    df.withColumn("segment", seg)
      .withColumn("segment_start", min("time_s").over(segFull))
      .withColumn("segment_last", max("time_s").over(segFull))
      .filter(col("segment_last") - col("segment_start") >= dtSeconds)
      .drop("segment_last")
  }

  /** `predict-linear n s` (streams.clj:2197-2248): OLS over each key's
    * events, predict metric s seconds past the newest event. OLS from
    * decimal-exact moments over x rebased to the key's min time (keeps
    * magnitudes small and makes the result independent of partition
    * merge order — `regr_slope` over raw epoch seconds is neither). */
  def predictLinear(df: DataFrame, aheadSeconds: Long, keys: Seq[String]): DataFrame = {
    val D38 = DecimalType(38, 6)
    val kw = Window.partitionBy(keys.map(col): _*)
    df.filter(col("metric").isNotNull)
      .withColumn("x", (col("time_s") - min("time_s").over(kw)).cast(D38))
      .groupBy(keys.map(col): _*)
      .agg(
        count(lit(1)).cast("double").as("n"),
        sum(col("x")).cast("double").as("sx"),
        sum(col("metric").cast(D38)).cast("double").as("sy"),
        sum(col("x") * col("metric").cast(D38)).cast("double").as("sxy"),
        sum(col("x") * col("x")).cast("double").as("sxx"),
        max("time_s").as("last_time"),
        max(col("x")).cast("double").as("x_last"))
      .withColumn("slope", (col("n") * col("sxy") - col("sx") * col("sy")) /
        (col("n") * col("sxx") - col("sx") * col("sx")))
      .withColumn("intercept", (col("sy") - col("slope") * col("sx")) / col("n"))
      .withColumn("predicted",
        round(col("intercept") + col("slope") * (col("x_last") + aheadSeconds), 4))
      .select((keys.map(col) :+ col("last_time") :+ col("predicted")): _*)
  }

  /** `clock-skew` (streams.clj:2159-2195): each host's latest clock vs
    * the median of all hosts' latest clocks. */
  def clockSkew(df: DataFrame): DataFrame = {
    val latest = df.groupBy("host").agg(max("time_s").as("host_time"))
    val median = latest.agg(expr("percentile(host_time, 0.5)").as("median_time"))
    latest.crossJoin(median)
      .withColumn("skew_s", round(col("host_time") - col("median_time"), 1))
      .drop("median_time")
  }

  /** Z-score anomaly detection: flag events whose metric deviates from
    * their key-group's population mean by >= `threshold` standard
    * deviations — the standard "this latency is off" monitoring alarm
    * riemann configs build by hand from `fold`/`where`. Moments come
    * from the decimal-exact sums ([[graft.functions.Folds]] — the same
    * partition-order-independent discipline as the fold surface), so
    * the flagged set is deterministic; degenerate groups (sigma = 0)
    * flag nothing. Scale shape: one aggregation to |keys| rows,
    * broadcast back over the events — a narrow map-side filter, never
    * a second shuffle of the data. */
  def zscore(df: DataFrame, keys: Seq[String], threshold: Double): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    import graft.functions.Folds
    val nn = df.filter(col("metric").isNotNull)
    val stats = nn.groupBy(keys.map(col): _*)
      .agg(Folds.meanExact(col("metric")).as("mu"),
        Folds.stddevPopExact(col("metric")).as("sigma"))
      .filter(col("sigma") > 0)
    nn.join(broadcast(stats), keys)
      .withColumn("z", round((col("metric") - col("mu")) / col("sigma"), 4))
      .filter(abs(col("z")) >= threshold)
      .select((Seq("event_id") ++ keys ++ Seq("metric")).map(col) :+
        round(col("mu"), 4).as("mu") :+
        round(col("sigma"), 4).as("sigma") :+ col("z"): _*)
  }
}
