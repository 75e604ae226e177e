package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-sequence analytics over keyed, time-ordered streams: the Markov
  * transition matrix and ordered-funnel progression every product/behavior
  * pipeline computes, in exact-integer form (counts only — nothing float,
  * nothing order-fragile).
  *
  * Scale shape: both operators shuffle ONCE on the sequence key. The
  * transition matrix is a codegen'd lag window followed by a partial+final
  * count aggregate; the funnel folds each user's sorted event list with a
  * constant-size integer state (greedy earliest subsequence matching —
  * provably equivalent to the iterated min-after formulation the SQL
  * oracle uses, which is how the two independent algorithms can
  * cross-check each other). Per-user state is O(events of that user);
  * hot users are the same tail the as-of join documents. */
object Sequences {

  /** (prev_type, next_type, n) counts of adjacent event-type pairs within
    * each key's stream, ordered by (`tsCol`, `tieCol`). */
  def transitionCounts(events: DataFrame, keyCol: String, tsCol: String,
                       typeCol: String, tieCol: String): DataFrame = {
    val w = Window.partitionBy(keyCol).orderBy(col(tsCol).asc, col(tieCol).asc)
    events
      .select(col(keyCol), col(tsCol), col(tieCol), col(typeCol).as("next_type"))
      .withColumn("prev_type", lag(col("next_type"), 1).over(w))
      .where(col("prev_type").isNotNull)
      .groupBy("prev_type", "next_type").agg(count(lit(1)).as("n"))
  }

  /** Top-k ordered event paths: every ADJACENT `len`-step window of each
    * key's (`tsCol`, `tieCol`)-ordered stream becomes a `a>b>c` path
    * string; exact counts, global top `topK` by (count desc, path asc) —
    * the deterministic rank rule that makes the listing hash-exact. The
    * clickstream path-mining primitive ("what do users do right before
    * churning/buying").
    *
    * Shape: ONE per-key sort window computing len-1 `lead`s (no
    * self-joins — the wave-18 transition shape generalized), one hash
    * aggregate over at most |types|^len path strings, and the top-k
    * plans as TakeOrderedAndProject (driver holds k rows, never the
    * distribution). Type values must not contain the '>' separator —
    * loudly checked, a silent collision would merge distinct paths.
    * HOT-KEY CAVEAT: the per-key window sorts a whole key in one task —
    * for keys with millions of events use [[topPathsBucketed]]
    * (identical output, (key, bucket)-sized tasks). */
  def topPaths(events: DataFrame, keyCol: String, tsCol: String,
               typeCol: String, tieCol: String, len: Int, topK: Int): DataFrame = {
    require(len >= 2, s"len must be >= 2: $len")
    require(topK >= 1, s"topK must be >= 1: $topK")
    val w = Window.partitionBy(keyCol).orderBy(col(tsCol).asc, col(tieCol).asc)
    val base = events.select(col(keyCol), col(tsCol), col(tieCol),
      col(typeCol).as("__s0"))
    val withSteps = (1 until len).foldLeft(base) { case (df, i) =>
      df.withColumn(s"__s$i", lead(col("__s0"), i).over(w))
    }
    val sepFree = (0 until len).map(i => !col(s"__s$i").contains(">")).reduce(_ && _)
    val path = concat_ws(">", (0 until len).map(i => col(s"__s$i")): _*)
    withSteps
      .where((1 until len).map(i => col(s"__s$i").isNotNull).reduce(_ && _))
      .withColumn("__ok", when(sepFree, true)
        .otherwise(raise_error(lit(s"topPaths: type value contains the '>' separator"))))
      .where(col("__ok"))
      .select(path.as("path"))
      .groupBy("path").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("path").asc)
      .limit(topK)
  }

  /** Per-key CUSUM drift alarms over an INTEGER series — the classic
    * change-point detector s_i = max(0, s_{i-1} + (x_i - k)), computed
    * WITHOUT a sequential fold via the prefix-min identity
    *   s_i = p_i - least(min_{j<=i} p_j, 0),   p_i = Σ_{j<=i} (x_j - k)
    * (the running max-clamp recurrence equals the prefix sum minus its
    * clamped running minimum), so the whole detector is TWO window frames
    * over ONE key exchange — no UDF fold, no iteration, pure int64,
    * hash-exact against the identical-window SQL replay. Emits one row
    * per key: (n points, alarms where s > h, max s).
    *
    * `k` is the drift allowance (the detector integrates x - k), `h` the
    * alarm threshold, both in x's units. Same hot-key caveat as every
    * per-key window (one pathological key sorts in one task). */
  def cusumAlarms(events: DataFrame, keyCol: String, tsCol: String,
                  tieCol: String, xCol: String, k: Long, h: Long): DataFrame = {
    require(h > 0, s"h must be positive: $h")
    val w = Window.partitionBy(keyCol).orderBy(col(tsCol).asc, col(tieCol).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val p = events.select(col(keyCol), col(tsCol), col(tieCol),
        col(xCol).cast("long").as("__x"))
      .withColumn("__p", sum(col("__x") - lit(k)).over(w))
    val s = p.withColumn("__s", col("__p") - least(min(col("__p")).over(w), lit(0L)))
    s.groupBy(keyCol).agg(
      count(lit(1)).as("n"),
      sum(when(col("__s") > h, 1L).otherwise(0L)).as("alarms"),
      max(col("__s")).as("max_s"))
  }

  /** Ordered-funnel progression: for each key, the greedy depth reached
    * through `steps` as a SUBSEQUENCE of its (`tsCol`, `tieCol`)-ordered
    * stream (other events may interleave); returns (depth, n_keys) over
    * ALL keys, depth 0 included. Greedy earliest matching is optimal for
    * subsequence progress, so depth equals the iterated
    * min-ts-after-previous-step formulation. HOT-KEY CAVEAT: one task
    * folds a whole key's sorted list — use [[funnelDepthsBucketed]]
    * (identical output) for keys with millions of events. */
  def funnelDepths(events: DataFrame, keyCol: String, tsCol: String,
                   typeCol: String, tieCol: String,
                   steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty && steps.distinct.size == steps.size,
      s"funnel steps must be non-empty and distinct: $steps")
    val stepsArr = array(steps.map(lit): _*)
    val perKey = events
      .groupBy(keyCol)
      .agg(sort_array(collect_list(struct(col(tsCol).as("ts"),
        col(tieCol).as("tie"), col(typeCol).as("t")))).as("evs"))
      .withColumn("depth",
        aggregate(col("evs"), lit(0),
          (acc, e) => when(acc < steps.size &&
            e.getField("t") === element_at(stepsArr, acc + 1), acc + 1)
            .otherwise(acc)))
    perKey.groupBy("depth").agg(count(lit(1)).as("n_keys"))
  }

  /** CONVERSION-WINDOW funnel: depth reached through `steps` where every
    * later step must land in `(anchor, anchor + windowSec]` of SOME
    * first-step occurrence (the anchor), and steps stay ordered — the
    * product-analytics semantics ("converted within 12 h of a view").
    * Greedy-earliest matching within a fixed window is optimal, and a
    * later anchor can succeed where the first fails, so depth is the max
    * over anchors. Returns (depth, n_keys) over ALL keys.
    *
    * Shape: one equi-join on the key per step, each with range predicates
    * (the interval-join shape) and an immediate (key, anchor) min
    * aggregate — candidate fan is per-anchor events inside the window,
    * never a cross join. The SQL oracle replays this same formulation;
    * SequencesSpec cross-checks it against an independent per-anchor
    * driver-side brute force. */
  def windowedFunnel(events: DataFrame, keyCol: String, tsCol: String,
                     typeCol: String, steps: Seq[String],
                     windowSec: Long): DataFrame = {
    require(steps.size >= 2 && steps.distinct.size == steps.size,
      s"need >= 2 distinct steps: $steps")
    require(windowSec > 0, s"windowSec must be positive: $windowSec")
    val ev = events.select(col(keyCol).as("__k"), col(tsCol).as("__ts"),
      col(typeCol).as("__t"))
    val allKeys = ev.select(col("__k")).distinct()
    val anchors = ev.where(col("__t") === steps.head)
      .select(col("__k"), col("__ts").as("__t1"))
    val deadline = col("__t1") + expr(s"INTERVAL $windowSec SECOND")

    var cur = anchors.withColumn("__prev", col("__t1"))
    var reached = anchors.select(col("__k")).distinct()
      .withColumn("depth", lit(1))
    for ((st, i) <- steps.drop(1).zipWithIndex) {
      val nxt = ev.where(col("__t") === st)
        .select(col("__k").as("__k2"), col("__ts").as("__ts2"))
      cur = cur.join(nxt, col("__k") === col("__k2") &&
          col("__ts2") > col("__prev") && col("__ts2") <= deadline)
        .groupBy(col("__k"), col("__t1"))
        .agg(min(col("__ts2")).as("__prev"))
      reached = reached.unionByName(
        cur.select(col("__k")).distinct().withColumn("depth", lit(i + 2)))
    }
    val perKey = allKeys.join(
        reached.groupBy("__k").agg(max("depth").as("depth")), Seq("__k"), "left")
      .withColumn("depth", coalesce(col("depth"), lit(0)))
    perKey.groupBy("depth").agg(count(lit(1)).as("n_keys"))
  }

  /** Per-entity exponentially-weighted moving average — the online
    * smoothing/feature op (monitoring baselines, per-user signal state):
    * s_1 = x_1, s_i = alpha * x_i + (1 - alpha) * s_{i-1} over each key's
    * (`tsCol`, `tieCol`)-ordered values. Returns (tieCol, ewma) per event.
    *
    * Exactness: the fold is pure mult/add in a deterministic order
    * (sorted-list aggregate), so for a dyadic alpha the doubles are
    * bit-reproducible and a SQL oracle replaying the same prefix folds
    * hash-matches them exactly — the Geary's-C discipline for float
    * output. One shuffle on the key; per-key state is O(that key's
    * events), and the array-building fold is QUADRATIC in key size
    * (each step copies the accumulator), so a 10^6-event key does not
    * terminate usefully — [[ewmaBucketed]] is the hot-key path
    * (fp-equal within 1e-9, not bit-exact). */
  def ewma(events: DataFrame, keyCol: String, tsCol: String, tieCol: String,
           valueCol: String, alpha: Double): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0, 1]: $alpha")
    val sorted = events.groupBy(keyCol)
      .agg(sort_array(collect_list(struct(col(tsCol).as("ts"),
        col(tieCol).as("tie"), col(valueCol).cast("double").as("v")))).as("evs"))
    val folded = sorted.withColumn("ewmas",
      aggregate(col("evs"), array().cast("array<double>"),
        (acc, e) => concat(acc, array(
          when(size(acc) === 0, e.getField("v"))
            .otherwise(lit(alpha) * e.getField("v") +
              lit(1.0 - alpha) * element_at(acc, -1))))))
    folded
      .select(explode(arrays_zip(col("evs"), col("ewmas"))).as("z"))
      .select(col("z.evs.tie").as(tieCol), col("z.ewmas").as("ewma"))
  }

  /** Per-entity Holt double-exponential smoothing — [[ewma]]'s sibling
    * for signals with drift: a level AND a trend state folded over each
    * key's (`tsCol`, `tieCol`)-ordered values,
    *
    *   l_1 = x_1, b_1 = 0
    *   l_i = α·x_i + (1−α)·(l_{i−1} + b_{i−1})
    *   b_i = β·(l_i − l_{i−1}) + (1−β)·b_{i−1}
    *
    * returning each key's FINAL (level, trend) — the per-entity forecast
    * state (next-step prediction = level + trend). Returns (keyCol,
    * n_obs, level, trend).
    *
    * Exactness: the fold is the same deterministic sorted-list aggregate
    * as [[ewma]], the (1−α)/(1−β) complements are spelled as literal
    * constants on both engines, and b_i recomputes l_i's expression
    * verbatim rather than referencing it — so for dyadic α/β every step
    * is the identical IEEE tree and a SQL oracle folding the same
    * transformed list hash-matches bit-for-bit. One shuffle on the key;
    * per-key state is O(that key's events), the documented hot-key
    * tail. Pass dyadic α/β (0.25, 0.125, …) when hash-exactness against
    * a replaying oracle matters. */
  def holt(events: DataFrame, keyCol: String, tsCol: String, tieCol: String,
           valueCol: String, alpha: Double, beta: Double): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0, 1]: $alpha")
    require(beta >= 0 && beta <= 1, s"beta must be in [0, 1]: $beta")
    val ca = 1.0 - alpha
    val cb = 1.0 - beta
    val sorted = events.where(col(valueCol).isNotNull).groupBy(keyCol)
      .agg(sort_array(collect_list(struct(col(tsCol).as("ts"),
        col(tieCol).as("tie"), col(valueCol).cast("double").as("v")))).as("evs"))
    def lNext(acc: org.apache.spark.sql.Column,
              v: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      lit(alpha) * v + lit(ca) * (element_at(acc, 1) + element_at(acc, 2))
    val folded = sorted.withColumn("lb",
      aggregate(col("evs"), array().cast("array<double>"),
        (acc, e) => when(size(acc) === 0, array(e.getField("v"), lit(0.0)))
          .otherwise(array(
            lNext(acc, e.getField("v")),
            lit(beta) * (lNext(acc, e.getField("v")) - element_at(acc, 1)) +
              lit(cb) * element_at(acc, 2)))))
    folded.select(col(keyCol), size(col("evs")).cast("long").as("n_obs"),
      element_at(col("lb"), 1).as("level"), element_at(col("lb"), 2).as("trend"))
  }

  // --- skew-hardened (bucketed) variants of the sequence family ---------
  //
  // The plain operators above shuffle once on the key and give each task
  // a WHOLE key's events (the documented hot-key tail: one key with 10^6
  // events sorts in one task). The *Bucketed variants below generalize
  // [[AsOfJoin.asOfBucketed]]'s two-pass shape — a per-(key, bucket) fold
  // plus a tiny per-key summary carry — so no task ever receives more
  // than one bucket of the hot key (SequenceSkewSpec plants the 10^6-row
  // key and pins both the boundedness and the output equality).
  // `bucketFor` must be a NON-DECREASING function of the time column
  // (e.g. `t => unix_micros(t) div 3600000000L`); empty time buckets are
  // handled by densifying to each key's occupied buckets first.

  /** (key, ts, tie, payload cols) extended with the key's DENSE bucket
    * index `__dbkt` (1-based over its OCCUPIED buckets — so "next
    * bucket" is well-defined even when time buckets are empty). The
    * dense-rank window runs over per-(key, bucket) DISTINCT rows:
    * #buckets per key, never events. */
  private def withDenseBucket(df: DataFrame, keyCol: String, tsCol: String,
                              bucketFor: org.apache.spark.sql.Column => org.apache.spark.sql.Column): DataFrame = {
    val marked = df.withColumn("__bkt0", bucketFor(col(tsCol)))
    val wB = Window.partitionBy(keyCol).orderBy(col("__bkt0"))
    val dense = marked.select(col(keyCol), col("__bkt0")).distinct()
      .withColumn("__dbkt", row_number().over(wB))
    marked.join(dense, Seq(keyCol, "__bkt0")).drop("__bkt0")
  }

  /** Skew-hardened [[topPaths]]: IDENTICAL output (same path strings,
    * same counts, same rank rule), but every window runs per
    * (key, dense bucket) with the first `len - 1` events of the key's
    * REMAINING stream borrowed into each bucket — exactly the lookahead
    * the len-step window needs across the seam, even when the following
    * buckets hold fewer than len-1 events each (a 3-path can span three
    * buckets). The borrow set comes from the per-bucket head candidates
    * (any event among the first len-1 of a suffix is among the first
    * len-1 of its own bucket), assigned to their target-bucket RANGE via
    * one bounded lag + sequence-explode over candidate rows — at most
    * (len-1) x buckets rows per key, never events. Paths STARTING at a
    * borrowed row are dropped (their home bucket emits them), so every
    * adjacent len-window is counted exactly once. */
  def topPathsBucketed(events: DataFrame, keyCol: String, tsCol: String,
                       typeCol: String, tieCol: String, len: Int, topK: Int,
                       bucketFor: org.apache.spark.sql.Column => org.apache.spark.sql.Column): DataFrame = {
    require(len >= 2, s"len must be >= 2: $len")
    require(topK >= 1, s"topK must be >= 1: $topK")
    val base = withDenseBucket(
      events.select(col(keyCol), col(tsCol), col(tieCol), col(typeCol).as("__s0")),
      keyCol, tsCol, bucketFor)
    val wIn = Window.partitionBy(col(keyCol), col("__dbkt"))
      .orderBy(col(tsCol).asc, col(tieCol).asc)
    val cands = base.withColumn("__rn", row_number().over(wIn))
      .where(col("__rn") <= len - 1).drop("__rn")
    // candidate c (in per-key candidate order) is among the first len-1
    // events after bucket k exactly when its (len-1)-th predecessor sits
    // in bucket <= k — so c serves targets k in [lag(dbkt, len-1), own-1]
    // (no such predecessor -> from bucket 1)
    val wCand = Window.partitionBy(col(keyCol))
      .orderBy(col("__dbkt"), col(tsCol).asc, col(tieCol).asc)
    val heads = cands
      .withColumn("__lo", coalesce(lag(col("__dbkt"), len - 1).over(wCand), lit(1)))
      .where(col("__lo") <= col("__dbkt") - 1)
      .withColumn("__tgt", explode(sequence(col("__lo"), col("__dbkt") - 1)))
      .withColumn("__dbkt", col("__tgt")).drop("__tgt", "__lo")
      .withColumn("__borrow", lit(true))
    val un = base.withColumn("__borrow", lit(false)).unionByName(heads)
    val withSteps = (1 until len).foldLeft(un) { case (df, i) =>
      df.withColumn(s"__s$i", lead(col("__s0"), i).over(wIn))
    }
    val sepFree = (0 until len).map(i => !col(s"__s$i").contains(">")).reduce(_ && _)
    val path = concat_ws(">", (0 until len).map(i => col(s"__s$i")): _*)
    withSteps
      .where(!col("__borrow"))
      .where((1 until len).map(i => col(s"__s$i").isNotNull).reduce(_ && _))
      .withColumn("__ok", when(sepFree, true)
        .otherwise(raise_error(lit(s"topPaths: type value contains the '>' separator"))))
      .where(col("__ok"))
      .select(path.as("path"))
      .groupBy("path").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("path").asc)
      .limit(topK)
  }

  /** Skew-hardened [[transitionCounts]]: identical (prev_type, next_type,
    * n) output via the borrowed-head construction with lookahead 1 (an
    * adjacent pair is a 2-path). */
  def transitionCountsBucketed(events: DataFrame, keyCol: String, tsCol: String,
                               typeCol: String, tieCol: String,
                               bucketFor: org.apache.spark.sql.Column => org.apache.spark.sql.Column): DataFrame = {
    val base = withDenseBucket(
      events.select(col(keyCol), col(tsCol), col(tieCol), col(typeCol).as("prev_type")),
      keyCol, tsCol, bucketFor)
    val wIn = Window.partitionBy(col(keyCol), col("__dbkt"))
      .orderBy(col(tsCol).asc, col(tieCol).asc)
    val heads = base.withColumn("__rn", row_number().over(wIn))
      .where(col("__rn") <= 1)
      .withColumn("__dbkt", col("__dbkt") - 1)
      .withColumn("__borrow", lit(true)).drop("__rn")
    base.withColumn("__borrow", lit(false)).unionByName(heads)
      .withColumn("next_type", lead(col("prev_type"), 1).over(wIn))
      .where(!col("__borrow") && col("next_type").isNotNull)
      .groupBy("prev_type", "next_type").agg(count(lit(1)).as("n"))
  }

  /** Per-bucket funnel TRANSITION VECTOR: element d (0-based) is the
    * depth reached after folding the bucket's ordered types starting
    * from depth d. Greedy subsequence matching is a deterministic
    * integer fold, so composing bucket vectors in bucket order replays
    * the global fold EXACTLY. */
  private def funnelVectorUdf(steps: Seq[String]) = udf { types: Seq[String] =>
    Array.tabulate(steps.size + 1) { d0 =>
      var d = d0
      types.foreach { t => if (d < steps.size && t == steps(d)) d += 1 }
      d
    }
  }

  /** Skew-hardened [[funnelDepths]]: identical (depth, n_keys) output.
    * Pass 1 folds each (key, bucket)'s ordered types into a
    * (steps+1)-int transition vector; pass 2 composes each key's bucket
    * vectors in order from depth 0 — per-key state is one tiny vector
    * per OCCUPIED bucket, never the events. Bucket width is
    * TASK-SIZING: pass 1 collects one bucket's rows into a list, so
    * choose `bucketFor` to keep buckets in the ~100k-row range (the
    * window-based [[topPathsBucketed]]/[[transitionCountsBucketed]]
    * only SORT per bucket and tolerate much larger ones). */
  def funnelDepthsBucketed(events: DataFrame, keyCol: String, tsCol: String,
                           typeCol: String, tieCol: String, steps: Seq[String],
                           bucketFor: org.apache.spark.sql.Column => org.apache.spark.sql.Column): DataFrame = {
    require(steps.nonEmpty && steps.distinct.size == steps.size,
      s"funnel steps must be non-empty and distinct: $steps")
    val vecOf = funnelVectorUdf(steps)
    val compose = udf { vecs: Seq[Seq[Int]] =>
      var d = 0
      vecs.foreach { v => d = v(d) }
      d
    }
    withDenseBucket(
        events.select(col(keyCol), col(tsCol), col(tieCol), col(typeCol).as("__t")),
        keyCol, tsCol, bucketFor)
      .groupBy(col(keyCol), col("__dbkt"))
      .agg(vecOf(expr("transform(sort_array(collect_list(" +
        s"struct($tsCol AS ts, $tieCol AS tie, __t AS t))), x -> x.t)")).as("__vec"))
      .groupBy(col(keyCol))
      .agg(compose(expr("transform(sort_array(collect_list(" +
        "struct(__dbkt AS b, __vec AS v))), x -> x.v)")).as("depth"))
      .groupBy("depth").agg(count(lit(1)).as("n_keys"))
  }

  /** Skew-hardened [[ewma]]. Pass 1 folds each (key, bucket)'s ordered
    * values into an affine summary (the bucket maps incoming state s to
    * `a * s + b` with a = (1-alpha)^n); pass 2 composes summaries in
    * bucket order to the bucket's INCOMING state (first bucket uses the
    * s_1 = x_1 rule); pass 3 re-folds each bucket from its incoming
    * state, emitting per-event values. No task ever holds more than one
    * bucket of a key.
    *
    * NUMERICS: mathematically identical to [[ewma]], but the affine
    * recombination rounds differently than the straight-line fold, so
    * results agree to fp tolerance, NOT bit-for-bit — use [[ewma]] when
    * hash-exactness against a replaying oracle matters
    * (SequenceSkewSpec bounds the divergence at 1e-9 relative). */
  def ewmaBucketed(events: DataFrame, keyCol: String, tsCol: String, tieCol: String,
                   valueCol: String, alpha: Double,
                   bucketFor: org.apache.spark.sql.Column => org.apache.spark.sql.Column): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0, 1]: $alpha")
    // (a, b, bFirst): s_out = a*s_in + b; bFirst = fold applying s_1 = x_1
    val summarize = udf { vs: Seq[Double] =>
      var a = 1.0; var b = 0.0
      vs.foreach { v => a *= (1.0 - alpha); b = alpha * v + (1.0 - alpha) * b }
      var sFirst = 0.0; var first = true
      vs.foreach { v =>
        if (first) { sFirst = v; first = false }
        else sFirst = alpha * v + (1.0 - alpha) * sFirst
      }
      (a, b, sFirst)
    }
    // incoming state per bucket: null for bucket 1; else compose summaries
    val incoming = udf { sums: Seq[Row] =>
      // sums sorted by bucket; emit s_in for each bucket (null for first)
      val out = new Array[java.lang.Double](sums.size)
      var s: java.lang.Double = null
      sums.zipWithIndex.foreach { case (r, i) =>
        out(i) = s
        s = if (s == null) r.getDouble(2) // first bucket: its own s_1=x_1 fold
            else r.getDouble(0) * s + r.getDouble(1)
      }
      out
    }
    val refold = udf { (vs: Seq[Double], sIn: java.lang.Double) =>
      val out = new Array[Double](vs.size)
      var s = 0.0; var first = sIn == null
      if (!first) s = sIn
      var i = 0
      while (i < vs.size) {
        if (first) { s = vs(i); first = false }
        else s = alpha * vs(i) + (1.0 - alpha) * s
        out(i) = s
        i += 1
      }
      out
    }
    val buckets = withDenseBucket(
        events.select(col(keyCol), col(tsCol), col(tieCol),
          col(valueCol).cast("double").as("__v")),
        keyCol, tsCol, bucketFor)
      .groupBy(col(keyCol), col("__dbkt"))
      .agg(expr(s"sort_array(collect_list(struct($tsCol AS ts, $tieCol AS tie, __v AS v)))").as("__evs"))
      .withColumn("__vs", expr("transform(__evs, x -> x.v)"))
      .withColumn("__sum", summarize(col("__vs")))
    val states = buckets
      .groupBy(col(keyCol))
      .agg(expr("sort_array(collect_list(struct(__dbkt AS b, __sum AS s)))").as("__bs"))
      .select(col(keyCol), posexplode(incoming(expr("transform(__bs, x -> x.s)"))))
      .select(col(keyCol), (col("pos") + 1).as("__dbkt"), col("col").as("__sin"))
    buckets.join(states, Seq(keyCol, "__dbkt"))
      .withColumn("__ewmas", refold(col("__vs"), col("__sin")))
      .select(explode(arrays_zip(col("__evs"), col("__ewmas"))).as("z"))
      .select(col("z.__evs.tie").as(tieCol), col("z.__ewmas").as("ewma"))
  }

  /** Cohort retention: keys grouped by their FIRST-activity day, counted
    * distinct-active per (cohort_date, day offset). Returns (cohort_date,
    * offset_days, n_keys) — the classic retention triangle, all dates and
    * counts (integer-exact).
    *
    * Shape: the cohort table is one partial-aggregated min per key; the
    * activity table one distinct per (key, day); the join is an equi-join
    * on the key (the cohort side is exactly one row per key — broadcast
    * when it fits, plain shuffle otherwise) and the final rollup a
    * partial+final count-distinct. Nothing is ever per-event after the
    * first two aggregates. */
  def cohortRetention(events: DataFrame, keyCol: String, tsCol: String): DataFrame = {
    val cohorts = events.groupBy(keyCol)
      .agg(min(to_date(col(tsCol))).as("cohort_date"))
    val activity = events
      .select(col(keyCol), to_date(col(tsCol)).as("active_date")).distinct()
    activity.join(cohorts, keyCol)
      .withColumn("offset_days", datediff(col("active_date"), col("cohort_date")))
      .groupBy("cohort_date", "offset_days")
      .agg(count_distinct(col(keyCol)).as("n_keys"))
  }
}
