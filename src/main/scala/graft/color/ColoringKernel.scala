package graft.color

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The iterative graph-coloring kernel — the rebuild of the reference's
  * per-k fixpoint (`coloring.py:73-132`, `coloring_optimized.py:70-146`) and
  * outer minimal-color search (`coloring.py:212-231`), re-expressed as a
  * driver loop over declarative DataFrame rounds (SURVEY.md §3, §7 step 4).
  *
  * Per round (given palette size k):
  *   1. first-fit candidate — map-side from the vertex's used-color mask,
  *      W = ceil(k/64) long words carried in the state ([[maskFirstFit]];
  *      O13, `coloring_optimized.py:150-166`; -3 ⇒ infeasible ⇒ the
  *      k-attempt fails, `coloring.py:104-108`);
  *   2. same-color conflict resolution between adjacent candidates
  *      (O15-O17) by Jones–Plassmann priority (see [[Strategy.Jp]]);
  *   3. apply the admitted colors — left join + `coalesce`
  *      (O20, `coloring.py:121-127`) — and push them into the neighbors'
  *      masks (the reference's color probe O10/O11 as a delta, kept fully
  *      distributed: no `collectAsMap` on the driver, SURVEY.md §7 risk 5).
  *
  * Strategies:
  *   - [[Strategy.Jp]] (default): the DataFrame rounds above. A node keeps
  *     its candidate iff no *adjacent* node competing for the same
  *     candidate has higher (degree, id desc-asc) priority. Pure joins,
  *     **deterministic under any partitioning**, guaranteed progress (every
  *     conflict component admits its max-priority node), and the natural
  *     100 TB formulation: one edges-shuffle per round, no per-node adjacency
  *     arrays shuffled around.
  *   - [[Strategy.GreedyRdd]]: the reference-shaped two-phase greedy
  *     independent set per color bucket (`aggregateByKey`,
  *     `coloring_optimized.py:120-126`), run by [[GreedyRddKernel]]; k > 64
  *     or oversized buckets route to Jp ([[resolveStrategy]]).
  *   - [[Strategy.GraphX]]: the Jp semantics as `aggregateMessages` rounds,
  *     run by [[GraphXKernel]].
  *
  * Driver-side control flow stays a plain Scala loop — same stance as GraphX
  * `Pregel` (SURVEY.md §4): only counts cross to the driver. Lineage growth
  * across rounds is truncated with `localCheckpoint` (SURVEY.md §7 risk 4).
  */
object ColoringKernel {

  sealed trait Strategy
  object Strategy {
    case object Jp extends Strategy
    /** Delegate rounds to [[GreedyRddKernel]] — the [[GreedyIS]]
      * partial/merge admit executed as a raw `aggregateByKey` loop over
      * co-partitioned RDDs (~0.35 s vs ~1.5 s per round for DataFrame
      * rounds at sf0.1). 64-bit mask only — k > 64 routes to Jp. */
    case object GreedyRdd extends Strategy
    /** Delegate rounds to [[GraphXKernel]] (aggregateMessages message
      * passing). Same speculative first-fit + priority-admit semantics;
      * lowest per-round fixed cost (no Catalyst planning per round) —
      * bench-selected default for the corpus kernel queries (7 s vs 18 s
      * for the DataFrame rounds at sf0.1). */
    case object GraphX extends Strategy
  }

  final case class Colored(colors: DataFrame, k: Int, rounds: Int)

  /** Rounds between eager local checkpoints on the persist-backed fast path.
    * Between checkpoints the state is only cached, so at cluster scale a
    * lost cached partition recomputes through the uncached lineage — the
    * cadence bounds that recompute depth to < CheckpointEvery rounds
    * instead of all the way back to round 0 — safe because the Jp rounds
    * are deterministic, so a recompute reproduces the committed state. */
  private val CheckpointEvery = 4

  /** Distinct vertices of a symmetric edge list. */
  private def verticesOf(edges: DataFrame): DataFrame =
    edges.select(col("src").as("id")).distinct()

  /** Expected-rows-per-color-bucket bound for the greedy strategy. The
    * GreedyIS admit reduces each color bucket in ONE reducer — the merge is
    * inherently serial per bucket (the reference's own aggregateByKey
    * shape), so the scale ceiling is ~V/k rows through a single task.
    * Session-configurable so a test can inject a tiny bound and observe
    * the switch.
    *
    * Default = the MEASURED crossover (r13, paired A/Bs on the kernel
    * graph, k = 63, canary-calm box): GreedyRdd vs Jp wall 3.9/28.3 s at
    * V/k = 317 (sf0.1), 21.7/35.4 s at 3 175 (10×), 78.2/52.4 s at 9 524
    * (30×), 567.9/110.3 s at 31 746 (100× — the serial merge was 9.7% of
    * the whole r12 leg). The reference-parity strategy wins below ~5–6 k
    * rows/bucket, Jp above; 2¹³ sits between the measured winners on the
    * conservative (reference-parity) side, so 30×-and-larger runs
    * auto-route to Jp while gate-scale corpora keep the aggregateByKey
    * shape. The old 4 M default never fired before the merge dominated. */
  val GreedyMaxBucketRowsKey = "graft.greedy.maxBucketRows"
  val DefaultGreedyMaxBucketRows: Long = 8192L

  /** Route a greedy request to the deterministic Jp strategy when
    * [[GreedyRddKernel]] cannot take it: a palette wider than its 64-bit
    * mask (k > 64), or an expected per-bucket size V/k past the configured
    * bound — the documented skew ceiling of the ≤k-key reduce, enforced in
    * code rather than by caller choice. Two-tier size signal: the free Catalyst
    * estimate (E rows upper-bound V at ~24 B per (src,dst) UnsafeRow)
    * decides when it can; only when it reads "too big" — including the
    * unknown-stats Long.Max default of RDD-backed inputs — is an exact
    * vertex count worth one job, negligible next to the run it guards. */
  private[graft] def resolveStrategy(
      spark: SparkSession, edges: DataFrame, requested: Strategy, k: Int): Strategy =
    requested match {
      case Strategy.GreedyRdd if k > 64 => Strategy.Jp
      case Strategy.GreedyRdd =>
        val maxBucket = spark.conf
          .get(GreedyMaxBucketRowsKey, DefaultGreedyMaxBucketRows.toString).toLong
        val kk = math.max(k, 1).toLong
        val sz = edges.queryExecution.optimizedPlan.stats.sizeInBytes
        val estRows =
          if (sz > BigInt(Long.MaxValue)) Long.MaxValue else (sz / 24).toLong max 1L
        val v = if (estRows / kk <= maxBucket) estRows else verticesOf(edges).count()
        if (v / kk > maxBucket) Strategy.Jp else requested
      case s => s
    }

  /** Attempt a k-coloring of `edges` (symmetric, irreflexive `(src,dst)`).
    * `init` optionally supplies extra vertices (isolated nodes never appear
    * in an edge list). Returns None when k colors are infeasible for the
    * first-fit rule or progress stalls past `maxRounds` (SURVEY.md §7
    * risk 6).
    */
  def tryColor(
      spark: SparkSession,
      edges: DataFrame,
      k: Int,
      strategy: Strategy = Strategy.Jp,
      extraVertices: Option[DataFrame] = None,
      maxRounds: Int = 200,
      preparedBase: Option[org.apache.spark.graphx.Graph[Int, Unit]] = None)
      : Option[Colored] = {

    if (strategy == Strategy.GraphX) {
      val result = preparedBase match {
        case Some(base) => GraphXKernel.tryColorOn(spark, base, k, maxRounds)
        case None => GraphXKernel.tryColor(spark, edges, k, maxRounds)
      }
      return result.map(df => Colored(
        materialize(spark, appendIsolated(df, extraVertices)), k, rounds = -1))
    }
    // Greedy's mask width and serial-per-bucket merge bound: auto-route
    // oversized runs to the deterministic Jp strategy (resolveStrategy
    // scaladoc) instead of leaving the ceilings to caller discipline.
    if (resolveStrategy(spark, edges, strategy, k) == Strategy.GreedyRdd) {
      return GreedyRddKernel.tryColor(spark, edges, k, maxRounds)
        .map { case (df, rounds) => Colored(
          materialize(spark, appendIsolated(df, extraVertices)), k, rounds) }
    }

    val e = edges.persist(StorageLevel.MEMORY_AND_DISK)
    // Degree once, carried in the state so rounds don't re-join it (O8/O23).
    val degree = e.groupBy(col("src")).agg(count(lit(1)).cast("int").as("deg"))

    // The per-vertex used-color set rides the state as W = ceil(k/64)
    // 64-bit mask words, updated incrementally from each round's
    // newly-colored delta (see applyWithMask scaladoc).
    val words = math.max(1, (k + 63) / 64)

    // O6 init: isolated vertices → color 0, everything else -1
    // (changeColorFirstIteration, coloring.py:12-17).
    val connected = verticesOf(e).withColumn("color", lit(-1))
    val isolated = extraVertices
      .map(_.select(col("id")).except(verticesOf(e)).withColumn("color", lit(0)))
    var state = materialize(spark, isolated.fold(connected)(connected.unionByName(_))
      .join(degree, col("id") === col("src"), "left_outer")
      .select(Seq(col("id"), col("color"), coalesce(col("deg"), lit(0)).as("deg")) ++
        (0 until words).map(w => lit(0L).as(usedCol(w))): _*))

    var rounds = 0
    var uncolored = state.filter(col("color") === -1).count()
    var failed = false
    // Persisted handle backing `state` (the wrapper itself is not persisted).
    var stateCache: DataFrame = null

    while (uncolored > 0 && !failed) {
      rounds += 1
      if (rounds > maxRounds) { failed = true }
      else {
        val roundCaches = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
        val next = jpRound(e, state, k, words, roundCaches, uncolored)
        // The round's ONE aggregate action reads progress + feasibility
        // together (-3 is the reference's infeasible sentinel,
        // coloring.py:53-54) and doubles as the cache materialization: the
        // next state is persisted (reference analog: the persist/unpersist
        // dance at coloring.py:126,219) and then re-wrapped in a fresh
        // LogicalRDD reading through the cache — that wrapper truncates the
        // per-round lineage AND resets Catalyst stats (see materialize
        // scaladoc) without the separate localCheckpoint job an eager
        // checkpoint per round would cost.
        val persisted = next.persist(StorageLevel.MEMORY_AND_DISK)
        val stats = persisted.agg(
          sum(when(col("color") === -1, 1).otherwise(0)),
          sum(when(col("color") === -3, 1).otherwise(0))).head()
        val nextUncolored = stats.getLong(0)
        val infeasible = stats.getLong(1)
        if (infeasible > 0) failed = true
        else if (nextUncolored >= uncolored) {
          // No progress. Jp always colors the top-priority node of every
          // uncolored component, so a round with uncolored candidates
          // commits ≥1 color; this only fires as the bounded-round
          // backstop (risk 6).
          failed = rounds >= maxRounds
        }
        roundCaches.foreach(_.unpersist())
        if (stateCache != null) stateCache.unpersist()
        state.unpersist()
        // Checkpoint policy: the deterministic rounds are recompute-safe, so
        // they keep the cheap persist-backed wrapper and checkpoint only
        // every CheckpointEvery rounds to bound the recompute depth.
        if (rounds % CheckpointEvery == 0) {
          state = materialize(spark, persisted)
          persisted.unpersist()
          stateCache = null
        } else {
          stateCache = persisted
          // Stats-reset wrapper reading THROUGH the cache, internal rows
          // end to end (r15 — see materialize).
          state = org.apache.spark.sql.GraftInternalRows.fromInternal(spark,
            org.apache.spark.sql.GraftInternalRows.internalRdd(persisted),
            persisted.schema)
        }
        uncolored = nextUncolored
      }
    }

    e.unpersist()
    if (failed) {
      state.unpersist()
      if (stateCache != null) stateCache.unpersist()
      None
    } else {
      // The returned coloring must outlive the per-round cache: checkpoint
      // once at the end (lineage through `stateCache` would recompute the
      // whole run after the unpersist below).
      val out = materialize(spark, state.select(col("id"), col("color")))
      if (stateCache != null) stateCache.unpersist()
      Some(Colored(out, k, rounds))
    }
  }

  /** Isolated extra vertices never reach an edge-derived graph; append them
    * with color 0 (O6 init rule, changeColorFirstIteration). */
  private def appendIsolated(df: DataFrame, extraVertices: Option[DataFrame]): DataFrame =
    extraVertices.fold(df) { vs =>
      df.unionByName(vs.select(col("id"))
        .except(df.select(col("id")))
        .withColumn("color", lit(0)))
    }

  /** Materialize an iteration state: localCheckpoint truncates lineage, and
    * rebuilding the DataFrame from the checkpointed RDD RESETS Catalyst
    * statistics. `Dataset.localCheckpoint` alone preserves the source plan's
    * `sizeInBytes`, so in an iterative loop each round's estimate is a
    * product over the previous round's — the BigInt bit-length grows
    * exponentially with rounds until stats arithmetic dominates the driver
    * (measured: 70 s/round of BigInteger.multiply by round 13; flat 1 s with
    * the reset). */
  private def materialize(spark: SparkSession, df: DataFrame): DataFrame = {
    // Internal rows end to end (r15): the previous `.rdd` +
    // createDataFrame reset paid an InternalRow→Row→InternalRow double
    // conversion on every downstream scan of the state.
    val ck = df.localCheckpoint(true)
    org.apache.spark.sql.GraftInternalRows.fromInternal(
      spark, org.apache.spark.sql.GraftInternalRows.internalRdd(ck), df.schema)
  }

  /** Priority = (degree desc, id asc): a strict total order (ids unique)
    * as a lexicographically comparable struct — the optimized reference's
    * resolution order (coloring_optimized.py:170-172) with the id tiebreak
    * that makes results partitioning-independent (SURVEY.md §7 risk 1). */
  private def prio(idCol: Column, degCol: Column): Column =
    struct(degCol.as("d"), (-idCol).as("ni"))

  /** State column of used-mask word `w`: colors [64·w, 64·w + 64). */
  private def usedCol(w: Int): String = s"used$w"

  /** First-fit over the W-word used-color mask, entirely from codegen'd
    * builtins: in word w, lowbit(~m) isolates the smallest free color and
    * `bit_count(lowbit−1)` + 64·w is its index; the lowest word with a free
    * bit decides. Index ≥ k ⇒ the −3 infeasible sentinel (when every word
    * is full, the last word's lowbit = 0 and bit_count(−1) = 64 puts the
    * index at 64·W ≥ k). No join, no array allocation — the whole candidate
    * step is map-side. A word whose only free bit is bit 63 leaves
    * free = Long.MinValue, which ANSI arithmetic cannot negate; that case is
    * answered directly. */
  private def maskFirstFit(words: Int, k: Int): Column = {
    val perWord = (0 until words).map { w =>
      val free = bitwise_not(col(usedCol(w)))
      val idx = when(free === Long.MinValue, lit(63))
        .otherwise(bit_count(free.bitwiseAND(-free) - 1))
      (free, idx + 64 * w)
    }
    val idx = perWord.init.foldRight(perWord.last._2) { case ((free, i), rest) =>
      when(free =!= 0L, i).otherwise(rest)
    }
    when(idx < k, idx.cast("int")).otherwise(lit(-3))
  }

  /** Apply a round's updates and push each newly admitted color into the
    * adjacent used masks — the incremental (delta) formulation of the
    * per-round neighbor-color gather: an edge contributes to its src's mask
    * exactly once over the whole run (the round its dst is colored), so
    * total gather work is O(E) summed over ALL rounds. The full regather it
    * replaces joined every edge against the entire colored state every
    * round — measured flat ~1 s/round at sf0.1 even with 3 uncolored
    * vertices left. `updates` is (uid, new_color) and must be persisted by
    * the caller (referenced by both the apply join and the delta). */
  private def applyWithMask(e: DataFrame, state: DataFrame, updates: DataFrame,
      words: Int, updBound: Long): DataFrame = {
    val delta = updates.filter(col("new_color") >= 0)
      .select(col("uid").as("nid"), col("new_color").as("ncolor"))
    // `1L << c` wraps at 64 (the shift count is taken mod 64), so each
    // word ORs only the colors of its own range.
    val bit = call_function("shiftleft", lit(1L), col("ncolor"))
    val gains = (0 until words).map { w =>
      bit_or(when(shiftright(col("ncolor"), 6) === w, bit)).as(s"gained$w")
    }
    // Row-bound broadcast (the exact uncolored count): AQE's byte
    // threshold flips this probe to an E-shuffling SMJ right around the
    // 10× leg's state size (measured: the minimal-colors run's shuffle
    // grew ×42 for ×10 edges); the explicit hint keeps every round's edge
    // probe map-side until the row policy says stop (oversized hints are
    // stripped by StripOversizedBroadcastHints).
    val gained = e.join(graft.ops.Broadcasts.maybeBroadcast(delta, updBound),
        col("dst") === col("nid"))
      .groupBy(col("src"))
      .agg(gains.head, gains.tail: _*)
    // Color changes and mask gains are both tiny relative to the state —
    // merge them first (small ⟗ small) so the V-sized state is shuffled
    // through ONE join per round, not two.
    val chg = updates.select(col("uid").as("cid"), col("new_color"))
      .join(gained.withColumnRenamed("src", "cid"), Seq("cid"), "full_outer")
    state.join(graft.ops.Broadcasts.maybeBroadcast(chg, 2L * updBound),
        col("id") === col("cid"), "left_outer")
      .select(Seq(col("id"),
        coalesce(col("new_color"), col("color")).cast("int").as("color"),
        col("deg")) ++ (0 until words).map(w => col(usedCol(w))
          .bitwiseOR(coalesce(col(s"gained$w"), lit(0L))).as(usedCol(w))): _*)
  }

  /** One speculative-coloring round: every uncolored vertex picks its
    * first-fit candidate from the carried mask, map-side (O13), then keeps
    * it iff no adjacent vertex chose the same candidate with higher
    * (degree, id) priority; only this rival check touches the edge list,
    * and the used-mask update is delta-driven ([[applyWithMask]]). Converges
    * in ~O(chromatic) rounds (measured 13 rounds on the sf0.1 kernel graph
    * vs 78+ for classic local-maximum Jones–Plassmann, which serializes on
    * priority chains). Correctness: same-candidate adjacent vertices are
    * totally ordered, only the maximum keeps the color, so no conflict can
    * commit; every conflict component commits its top vertex, so progress
    * is guaranteed. No free color in [0,k) → the -3 infeasible sentinel. */
  private def jpRound(e: DataFrame, state: DataFrame, k: Int, words: Int,
      roundCaches: scala.collection.mutable.ArrayBuffer[DataFrame],
      uncolored: Long): DataFrame = {
    val cand = state.filter(col("color") === -1)
      .select(col("id"), col("deg"), maskFirstFit(words, k).as("cand"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    roundCaches += cand
    // Candidate sides carry exactly `uncolored` rows — row-bound broadcast
    // hints keep the rival probe exchange-free on the E side past AQE's
    // byte threshold (see applyWithMask's note; same ×42 shuffle signal).
    val candA = graft.ops.Broadcasts.maybeBroadcast(
      cand.select(col("id").as("a_id"), col("cand").as("a_cand"),
        col("deg").as("a_deg")), uncolored)
    val candB = graft.ops.Broadcasts.maybeBroadcast(
      cand.select(col("id").as("b_id"), col("cand").as("b_cand"),
        col("deg").as("b_deg")), uncolored)
    val rival = e
      .join(candA, col("src") === col("a_id"))
      .join(candB, col("dst") === col("b_id"))
      .filter(col("a_cand") >= 0 && col("a_cand") === col("b_cand"))
      .groupBy(col("a_id"))
      .agg(max(prio(col("b_id"), col("b_deg"))).as("rival"))
    val updates = cand
      .join(rival, col("id") === col("a_id"), "left_outer")
      .select(col("id").as("uid"),
        when(col("cand") === -3, lit(-3))
          .when(col("rival").isNull || prio(col("id"), col("deg")) > col("rival"),
            col("cand"))
          .otherwise(lit(-1)).as("new_color"))
      .filter(col("new_color") =!= -1)
      .persist(StorageLevel.MEMORY_AND_DISK)
    roundCaches += updates
    applyWithMask(e, state, updates, words, uncolored)
  }

  /** Outer minimal-color search (O25, `coloring.py:212-231`), with the
    * reference's failed-attempt-output bug fixed (SURVEY.md §5 bug 1): the
    * returned coloring is always the last *successful* attempt.
    *
    * Scale divergence from the reference (documented): instead of starting
    * at Δ+1 and decrementing by 1 — O(Δ) full recolorings — the first
    * attempt runs at k = Δ+1 (always succeeds for first-fit), then restarts
    * from `distinct colors actually used`, which first-fit greedy makes a
    * far tighter upper bound; each success retries with k−1 until failure.
    *
    * For the DETERMINISTIC strategies (Jp, GraphX) even the retries are
    * redundant and are skipped: the per-round trace does not depend on k
    * except through the palette-exhausted sentinel (first-fit picks the
    * smallest free color regardless of k; priority admit is k-blind), so
    * the k' < k attempt replays the identical rounds until the first round
    * where the Δ+1 trace committed a color ≥ k' — at which point that
    * vertex gets −3 and the attempt fails. Hence for this kernel family,
    * tryColor(k') succeeds iff k' ≥ colors-used-at-Δ+1: one run at Δ+1
    * already witnesses the kernel's minimal k (measured: 40 s → 14 s for
    * q_minimal_colors at sf0.1 — the k−1 probe replayed all 13 rounds with
    * bit-identical uncolored counts before failing on the last one).
    * GreedyRdd keeps the descending search: its admitted sets depend on
    * partitioning (reference-faithful), so no single trace is a proof.
    */
  def minimalColors(
      spark: SparkSession,
      edges: DataFrame,
      strategy: Strategy = Strategy.Jp,
      extraVertices: Option[DataFrame] = None,
      maxAttempts: Int = 16,
      preparedBase: Option[org.apache.spark.graphx.Graph[Int, Unit]] = None)
      : Colored = {

    // GraphX attempts share one prepared base graph: the DF→RDD conversion,
    // Graph.fromEdges shuffle, and degree join run once for the whole
    // descending-k search instead of per attempt. A caller-provided base
    // (ColorQueries shares one across the kernel queries) is not unpersisted
    // here.
    val ownsBase = strategy == Strategy.GraphX && preparedBase.isEmpty
    val graphxBase =
      if (strategy == Strategy.GraphX)
        preparedBase.orElse(Some(GraphXKernel.prepare(spark, edges)))
      else None
    def attempt(k: Int): Option[Colored] = graphxBase match {
      case Some(base) =>
        GraphXKernel.tryColorOn(spark, base, k)
          .map(df => Colored(
            materialize(spark, appendIsolated(df, extraVertices)), k, rounds = -1))
      case None => tryColor(spark, edges, k, strategy, extraVertices)
    }

    try {
      val maxDeg = graphxBase.map(GraphXKernel.maxDegree).getOrElse {
        edges.groupBy(col("src")).agg(count(lit(1)).as("d"))
          .agg(max(col("d"))).head().getLong(0).toInt
      }
      val first = attempt(maxDeg + 1)
        .getOrElse(sys.error(s"k=Δ+1=${maxDeg + 1} must be colorable"))

      // The Δ+1 run's coloring already witnesses k = colors-actually-used —
      // no revalidation run needed, just relabel (first-fit never exceeds
      // the palette it was given).
      var k = usedColors(first.colors)
      if (strategy == Strategy.Jp || strategy == Strategy.GraphX) {
        // Deterministic kernel: the Δ+1 trace is the proof (scaladoc above);
        // a k−1 attempt would replay it and fail.
        first.copy(k = k)
      } else {
        var best = first.copy(k = k)
        var attempts = 0
        var done = false
        while (!done && attempts < maxAttempts && k > 1) {
          attempts += 1
          attempt(k - 1) match {
            case Some(c) =>
              val prev = best
              best = c
              k = usedColors(c.colors)
              if (prev.colors ne best.colors) prev.colors.unpersist()
            case None => done = true
          }
        }
        best.copy(k = usedColors(best.colors))
      }
    } finally if (ownsBase) graphxBase.foreach(_.unpersist(blocking = false))
  }

  /** Number of distinct colors in a complete coloring. */
  def usedColors(colors: DataFrame): Int =
    colors.filter(col("color") >= 0).select(col("color")).distinct().count().toInt

  /** O22 validation invariants (`validate_graph_coloring`,
    * `coloring.py:149-162`): (#uncolored, #conflicting edge pairs) — both
    * must be 0 for a valid coloring. */
  def validate(edges: DataFrame, colors: DataFrame): (Long, Long) = {
    // One aggregate gives the uncolored invariant AND the exact V that
    // decides the broadcast below.
    val head = colors.agg(
      count(lit(1)),
      sum(when(col("color") === -1, 1L).otherwise(0L))).head()
    val v = head.getLong(0)
    val uncolored = if (head.isNullAt(1)) 0L else head.getLong(1)
    // V-sized colors vs E-sized edges: broadcast both probes so the edge
    // list streams through one map-side pass (a checkpointed colors DF has
    // no useful stats, so AQE alone would plan sort-merge). Conditional on
    // the exact V just counted: past the executor-memory broadcast bound
    // (Broadcasts.maxRows, ~10^8 vertices) the hints drop and the same
    // joins shuffle — one edges pass either way.
    import graft.ops.Broadcasts.maybeBroadcast
    // ONE broadcast probe, aliased for both endpoints: identical child
    // plans let Spark reuse the broadcast exchange (ReusedExchange) instead
    // of building and shipping the V-sized map twice.
    val probe = maybeBroadcast(colors.select(col("id"), col("color")), v)
    val conflicts = edges.as("e")
      .join(probe.as("ca"), col("e.src") === col("ca.id"))
      .join(probe.as("cb"), col("e.dst") === col("cb.id"))
      .filter(col("ca.color") === col("cb.color"))
      .count()
    (uncolored, conflicts)
  }
}
