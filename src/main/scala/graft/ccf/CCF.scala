package graft.ccf

import graft.Checkpoints.EagerOps
import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._

/**
 * CCF (Connected Component Finder) — Spark-DataFrame-native implementation of
 * the min-label-propagation fixpoint from Kardes, Agrawal, Wang & Sun,
 * "CCF: Fast and Scalable Connected Component Computation in MapReduce"
 * (CIKM 2014), the algorithm the reference implements with RDD
 * `groupByKey`/`flatMap` kernels (reference: `ccf_connected_components.py:44-154`,
 * `CCFConnectedComponents.scala:45-140`).
 *
 * Semantics (exactly the reference's — see SURVEY.md §1.1 / §2a):
 *  - Input: an edge list with two equally-typed, orderable columns. Node IDs may
 *    be strings (reference semantics: LEXICOGRAPHIC min — "10" < "9") or any
 *    other orderable Spark type (LongType for the TPC-H-derived graphs: numeric
 *    min). The column `<` / `min()` ordering of the input type decides the
 *    component representative.
 *  - Output: `(node, component)` where `component` is the smallest node ID in
 *    the node's connected component, and — invariant from the reference — the
 *    representative itself has NO output row (the reduce only emits pairs whose
 *    label is strictly smaller than the node, `ccf_connected_components.py:72-79`).
 *  - Convergence: iterate until an iteration produces zero "new pairs", where a
 *    new pair is an emitted `(value, min)` for a non-min neighbor `value` of a
 *    re-labeled key (`CCFConnectedComponents.scala:64-77`). The final iteration
 *    (the one that emits 0) IS counted, matching the reference's loop which
 *    increments the iteration counter before testing convergence
 *    (`CCFConnectedComponents.scala:192-224`).
 *
 * Spark-first formulation (NOT a port of the RDD kernel): instead of
 * materializing per-key neighbor lists with `groupByKey` + a handwritten
 * reducer, each round is a declarative plan that Catalyst fully optimizes and
 * whole-stage-codegens:
 *
 *   bi     = pairs UNION ALL swap(pairs)                    -- O2 bidirect
 *   stats  = bi GROUP BY src AGG min(dst) AS mn             -- partial+final hash agg
 *            WHERE mn < src                                 -- re-labeled keys only
 *   emit1  = (src, mn)            per re-labeled key        -- the (key, min) emit
 *   emit2  = (dst, mn)            for every neighbor dst of a re-labeled key
 *            with dst != mn       (bi JOIN stats ON src)    -- the (value, min) emits
 *   newPairs = COUNT(emit2)                                 -- deterministic counter
 *   next   = DISTINCT(emit1 UNION ALL emit2)                -- O7 CCF-Dedup
 *
 * Why this beats a literal port at scale:
 *  - `min()` is a partial (map-side) aggregate: hub vertices with millions of
 *    neighbors never materialize a neighbor list in one reducer — the exact
 *    skew weakness the reference flags (`RESULTS.md:119`) disappears for the
 *    aggregation; the remaining join skew is handled by AQE skew-join splitting.
 *  - The whole round stays inside whole-stage codegen (no opaque lambdas).
 *  - The shuffle of `bi` by `src` is REUSED between the aggregation and the
 *    join (same exchange), so a round costs ~2 big shuffles, same as the
 *    reference's groupByKey+reduceByKey.
 *  - `newPairs` is a count over a materialized dataset, not an accumulator:
 *    accumulators in transformations over-count on task retry/recompute; a
 *    count is deterministic and drives convergence reproducibly.
 *
 * Per-round lineage is truncated with an eager checkpoint — without it
 * the logical plan (and analysis time) grows with the iteration count, the #1
 * DataFrame trap for iterative algorithms (SURVEY.md §7.4). The default is
 * `localCheckpoint` (speed over fault-tolerance — a lost block reruns the
 * job); on a real cluster with preemption, set `spark.graft.checkpointDir`
 * to a DFS path and every round routes through reliable `checkpoint()`
 * instead (see [[graft.Checkpoints]]; CCFSpec proves both modes converge
 * identically).
 *
 * 100 TB notes: each round shuffles O(|pairs|) rows hash-partitioned by node
 * id — the same distribution as the reference's MapReduce jobs, which the CCF
 * paper scaled to 6B nodes / 92B edges. Iteration count is O(log d) in the
 * component diameter. Old checkpoint blocks are dropped explicitly each round,
 * so peak storage is ~2 rounds of pairs.
 *
 * Intermediate-data caveat (measured, intrinsic to CCF — not this port): on
 * LONG-DIAMETER graphs the per-round pair set grows ~2x per round until
 * stars collapse (each chain node's degree doubles while its running min
 * keeps improving), peaking near n x 2^rounds — a 20k-node path peaks at
 * ~40M pairs. This is why the reference benchmarks chains only to n=500.
 * Real large graphs (web/social/co-purchase) have small effective diameter
 * and collapse fast; genuinely long paths call for a pointer-jumping
 * variant, which is outside the reference's surface.
 */
object CCF {

  /** Which iterate kernel to use; both produce identical results (reference
    * `report.md:161`). Basic = declarative min-agg + join (preferred, codegen).
    * SecondarySort = sort-within-partitions streaming kernel, the honest Spark
    * analogue of the paper's Fig. 3 O(1)-memory reducer. */
  sealed trait Variant
  case object Basic extends Variant
  case object SecondarySort extends Variant

  /** @param assignments (node, component) — representative has no row
    * @param iterations rounds run, counting the final 0-new-pair round
    * @param converged false iff maxIterations hit first
    * @param newPairsHistory newPairs per round, oldest first
    * @param engine which kernel(s) produced the result: "ccf", "pj", or
    *               "ccf+pj" (auto's mid-fixpoint rescue) */
  final case class CCFResult(
      assignments: DataFrame,
      iterations: Int,
      converged: Boolean,
      newPairsHistory: Seq[Long],
      engine: String = "ccf")

  // Freeing a local checkpoint that is never re-read is intentional; silence
  // Spark's per-RDD "cannot be recomputed after unpersisting" warning once per
  // JVM (a prior version saved/restored the level around every run — 2 log4j
  // Configurator round-trips per fixpoint, pure overhead on the 34-run
  // experiment matrix; the muted logger carries nothing but this warning).
  private val checkpointWarnsMuted = new java.util.concurrent.atomic.AtomicBoolean(false)
  private def muteCheckpointWarnsOnce(): Unit =
    if (checkpointWarnsMuted.compareAndSet(false, true)) {
      try org.apache.logging.log4j.core.config.Configurator.setLevel(
        "org.apache.spark.rdd.MapPartitionsRDD", org.apache.logging.log4j.Level.ERROR)
      catch { case _: Throwable => () }
    }

  /** Observed metrics with a bounded wait (ADVICE r03): `Observation.get`
    * blocks forever if a Spark version/config ever stops routing the eager
    * checkpoint through `withAction` metric delivery. The checkpoint action
    * has completed by the time this is called, so metrics normally arrive on
    * the first poll (`getOrEmpty` itself waits ≤100 ms per call); past the
    * deadline, fall back LOUDLY to counting the materialized checkpoint —
    * correct, one extra job — rather than hanging.
    *
    * EXCEPTION-SAFE (VERDICT r11 #1): `Observation.getOrEmpty` converts the
    * stored metrics `Row` lazily via `row.schema()`, which can be null when
    * the row is delivered without schema under concurrent load — the read
    * then THROWS (observed: NPE in ScaleSpec under full-suite concurrency)
    * instead of returning empty. A throwing poll is treated exactly like a
    * not-yet-delivered one: keep polling until the deadline, then take the
    * same loud count() fallback. A metrics race must never kill a fixpoint
    * that has a correct recovery path one count() away. */
  private[graft] def observedOrCount(obs: Observation, what: String, deadlineMs: Long = 30000L)
                             (fallback: => Map[String, Long]): Map[String, Long] =
    pollMetrics(() => org.apache.spark.sql.graft.Bridge.observedOrEmpty(obs),
      what, deadlineMs)(fallback)

  /** The poll loop behind [[observedOrCount]], parametric in the read so the
    * throwing-read path is unit-testable without racing a real Observation.
    * `read` normally blocks ≤100 ms internally; the extra 5 ms sleep only
    * runs after a FAILED poll, so the delivered-first-try path pays nothing. */
  private[graft] def pollMetrics(read: () => Map[String, Any], what: String,
                                 deadlineMs: Long)
                                (fallback: => Map[String, Long]): Map[String, Long] = {
    val deadline = System.nanoTime() + deadlineMs * 1000000L
    val safeRead = () => try read() catch { case scala.util.control.NonFatal(_) => Map.empty[String, Any] }
    var got = safeRead()
    while (got.isEmpty && System.nanoTime() < deadline) {
      Thread.sleep(5)
      got = safeRead()
    }
    if (got.nonEmpty) got.map { case (k, v) => k -> v.asInstanceOf[Number].longValue() }
    else {
      System.err.println(s"[graft.ccf] observed metrics for $what not delivered within " +
        s"${deadlineMs}ms; falling back to count() over the checkpoint")
      fallback
    }
  }

  /**
   * Run CCF to convergence.
   *
   * ENGINE SELECTION BY SIZE (observe-then-choose, like [[auto]]'s density
   * rule): below [[MicroFixpoint.Threshold]] input pairs (when the kernel
   * supports the key type), the whole fixpoint runs on [[MicroFixpoint]] —
   * the same algorithm on the RDD layer with zero per-round Catalyst
   * planning. Rounds whose input is under the same threshold run back to
   * back inside one task, with no per-round job or shuffle; a round that
   * emits more is shuffled over reducers sized from its observed row count.
   * Measured on the reference's 34-run matrix, per-round planning + exchange
   * setup for the declarative path is ~150 ms while the data is <100k rows —
   * two orders of magnitude over the compute. At scale the declarative path
   * below wins (codegen, AQE skew handling, partial aggregation) and is the
   * engine of record.
   *
   * Declarative path: per round, ONE Spark job — the round's tagged emits
   * are eagerly `localCheckpoint`'ed (truncating lineage), and the NewPair
   * counter rides that same materialization as an observed metric
   * (`Dataset.observe` — computed task-side during the checkpoint job,
   * delivered with its completion event), instead of a second count() job
   * over the checkpoint. The CCF-Dedup `distinct` is folded INTO the
   * checkpoint job (r18; below the observe, so the counter still sees
   * pre-dedup emits): dedup once per round, and the next round's bidirect
   * reads the deduped blocks directly instead of re-aggregating the
   * pre-dedup emit set in both union branches. Lineage depth stays O(1).
   *
   * NOT thread-safe per session: the fixpoint scopes
   * `spark.sql.shuffle.partitions` (and, for sub-100k-pair inputs, disables
   * AQE — per-stage re-planning latency dominates sub-second rounds) on the
   * session for the duration of the loop and restores it after; queries
   * planned concurrently on the SAME session would see the override. Run
   * concurrent fixpoints on separate sessions (`spark.newSession()`).
   *
   * @param edges two-column DataFrame (src, dst); any orderable column type,
   *              both columns the same type. Column names are irrelevant.
   */
  def run(edges: DataFrame, variant: Variant = Basic, maxIterations: Int = 100): CCFResult =
    runSwitchable(edges, variant, maxIterations, blowupFactor = 0L) match {
      case Left(r) => r
      case Right(_) => throw new IllegalStateException("unreachable: blowup switch disabled")
    }

  /**
   * Engine auto-selection (VERDICT r05 #4): run [[CCF]] — the right engine for
   * the short-effective-diameter graphs real corpora produce — but watch the
   * per-round OBSERVED pair count the loop already collects, and when it
   * exceeds `blowupFactor x nInput` for 2 consecutive rounds (the long-diameter
   * doubling signature from the class scaladoc), abandon the edge-rewriting
   * fixpoint and finish with [[PointerJump]] on the CURRENT pair set. The
   * caller never has to know which shape their graph is.
   *
   * Soundness of the mid-fixpoint hand-off — each CCF round preserves exactly
   * what connected components need:
   *  - Node set: every node of the current graph survives into the next pair
   *    set. The larger endpoint u of any edge has a neighbor < u, so u is
   *    re-labeled and emits (u, mn); a group-local minimum survives as the
   *    `mn` target of its neighbors' emits (each neighbor sees it in its
   *    neighborhood, so their group min is <= it, and equality puts it in
   *    emit1's dst).
   *  - Component partition: every emitted pair (x, mn) links nodes of one
   *    original component (mn is a neighborhood min), so components never
   *    merge; and each original edge (k, v)'s endpoints stay connected through
   *    the re-labeled endpoint's star center mn, so components never split.
   * PointerJump on that pair set therefore yields the same (node, component)
   * assignment — same minima, same rep-has-no-row contract — as CCF would
   * have at convergence.
   *
   * Iterations/history report the CCF rounds run plus PointerJump's rounds
   * (its changed-label counts), oldest first.
   *
   * Second rule, decided UP FRONT: DENSE graphs (mean degree >
   * `denseDegree`) go straight to [[PointerJump]]. CCF's re-emit step
   * multiplies every re-labeled key's full neighborhood each round — on the
   * sf0.1 co-purchase graph (20k nodes, 1.2M edges, degree ~120) round 2
   * alone emits 3.9M pairs and CCF runs 2.5x slower than the n-row label
   * table (BENCH_NOTES r06). The density estimate is one pass over the edge
   * list with sketch cardinality (approx_count_distinct, ±5%) — a 16x
   * threshold needs no better — and at 100 TB that pass is a map-side
   * partial aggregate, not a shuffle of the key space. A mid-fixpoint switch
   * cannot recover this case: by the time pair counts look bad, the pair set
   * handed over is already degree-amplified past the original edge list.
   *
   * 100 TB notes: the runtime detector costs nothing (the row count is
   * already an observed metric of the round's checkpoint job) and triggers
   * before the exponential rounds dominate — at `blowupFactor`=8 a doubling
   * graph runs ~4 extra cheap rounds and hands PointerJump a pair set
   * O(blowupFactor x |E|), while a web/social-shaped graph (pair sets peak
   * ~2-3x input) never switches and keeps CCF's cheaper rounds.
   *
   * `variant` picks the kernel for the CCF phase (VERDICT r06 #6): on shapes
   * that trip the blowup detector, [[SecondarySort]]'s fused dedup rides the
   * sort shuffle and roughly halves per-round shuffle volume on exactly the
   * blowup rounds that dominate before the switch; results are identical
   * either way (variant agreement is spec-proven).
   */
  def auto(edges: DataFrame, maxIterations: Int = 100, blowupFactor: Long = 8L,
           denseDegree: Double = 16.0, variant: Variant = Basic): CCFResult = {
    require(edges.columns.length == 2,
      s"edge list must have 2 columns, got ${edges.columns.mkString(", ")}")
    if (denseDegree > 0) {
      val Array(a, b) = edges.columns
      val est = edges.agg(count(lit(1)).as("m"),
        approx_count_distinct(col(a), 0.05).as("na"),
        approx_count_distinct(col(b), 0.05).as("nb")).head()
      val m = est.getLong(0)
      // |V| >= max(nd(a), nd(b)); mean degree 2|E|/|V| <= 2m/max — an upper
      // bound tight enough for a 16x threshold (exact |V| needs the union)
      val nV = math.max(1L, math.max(est.getLong(1), est.getLong(2)))
      if (m > 0 && 2.0 * m / nV > denseDegree)
        return PointerJump.run(edges, maxIterations)
    }
    runSwitchable(edges, variant, maxIterations, blowupFactor) match {
      case Left(r) => r
      case Right(sw) if sw.iterations >= maxIterations =>
        // budget exhausted exactly at the switch point: honor the cap the
        // way run() does — current pair set as-is, converged = false, zero
        // extra rounds (previously PointerJump was granted a bonus round
        // past the caller's maxIterations)
        CCFResult(sw.pairs.toDF("node", "component"), sw.iterations,
          converged = false, sw.history, engine = "ccf")
      case Right(sw) =>
        val pj = PointerJump.run(sw.pairs, maxIterations - sw.iterations)
        // PointerJump has eagerly materialized its own topology checkpoint;
        // the CCF rounds' backing blocks are no longer referenced.
        sw.ckpts.foreach(freeCheckpoint)
        CCFResult(pj.assignments, sw.iterations + pj.iterations, pj.converged,
          sw.history ++ pj.newPairsHistory, engine = "ccf+pj")
    }
  }

  /** Hand-off state when the blowup detector fires: the current pair set (same
    * components as the input — see [[auto]]), the checkpoints backing it (for
    * the caller to free once done; empty from the micro engine, whose rounds
    * live in persist blocks the ContextCleaner reclaims), and the
    * rounds/history so far. */
  private[ccf] final case class Switched(pairs: DataFrame, ckpts: Seq[DataFrame],
                                         iterations: Int, history: Seq[Long])

  private def runSwitchable(edges: DataFrame, variant: Variant, maxIterations: Int,
                            blowupFactor: Long): Either[CCFResult, Switched] = {
    muteCheckpointWarnsOnce()
    require(edges.columns.length == 2, s"edge list must have 2 columns, got ${edges.columns.length}")

    val inputDF = edges.toDF("src", "dst")
    // When the optimized input is a driver-local relation its row count is
    // already known — skip the materialization job entirely; round 1 reads the
    // local rows directly (they appear twice in the plan via bidirect, which
    // is free for driver-local data). Arbitrary plans (scans, joins, prior
    // fixpoint outputs) keep the observe+checkpoint job so they are evaluated
    // exactly once.
    val localCount: Option[Long] =
      inputDF.queryExecution.optimizedPlan match {
        case lr: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
          Some(lr.data.length.toLong)
        case _ => None
      }
    var pairs: DataFrame = null
    var prevCkpt: DataFrame = null // checkpoint backing `pairs` (null: local input)
    val nInput = localCount match {
      case Some(n) =>
        pairs = inputDF
        n
      case None =>
        // Initial materialization + size estimate in one job: count(*)
        // observed on the input's checkpoint (a prior version ran a separate
        // count()).
        val inObs = Observation()
        val inCkpt = inputDF.observe(inObs, count(lit(1)).as("n")).eagerCheckpoint()
        val n = observedOrCount(inObs, "input")(Map("n" -> inCkpt.count()))("n")
        // Reset the checkpoint's carried-over Statistics to the observed truth —
        // localCheckpoint copies the origin plan's ESTIMATE, and per-round join
        // estimates compound (square) across checkpoints until planning time
        // drowns in BigInteger arithmetic (see Bridge.withStats).
        pairs = org.apache.spark.sql.graft.Bridge.withStats(inCkpt, n)
        prevCkpt = pairs
        n
    }

    // Size-gated engine choice (see [[MicroFixpoint]]): sub-threshold graphs
    // run the same kernel on the RDD layer with no per-round planning; the
    // armed blowup detector ([[auto]]) runs inside that loop on the same
    // observed row counts. Not taken for key types without a typed kernel, or
    // when the session opted into reliable checkpoints
    // (spark.graft.checkpointDir: a preemptible cluster, where the declarative
    // loop's per-round DFS checkpoint is the point — micro rounds live in
    // executor blocks only).
    val reliableCkpt = edges.sparkSession.conf
      .getOption(graft.Checkpoints.DirKey).exists(_.nonEmpty)
    if (!reliableCkpt && nInput < MicroFixpoint.Threshold) {
      MicroFixpoint.runDF(pairs, maxIterations, blowupFactor, nInput) match {
        case Some(r) => return r
        case None    => () // unsupported key type: declarative path below
      }
    }
    var olderCkpt: DataFrame = null // checkpoint 2 rounds back (freeable)
    var iteration = 0
    var converged = false
    val history = scala.collection.mutable.ArrayBuffer.empty[Long]
    // Right-size the per-round shuffles: small graphs at the session default
    // (e.g. 32+) are task-scheduling-bound, ~1 s/fixpoint of pure overhead.
    // Target ~100k pairs/partition, clamped to [1, session default]; restored
    // after the loop (the loop's jobs are all eager, so scoping is exact).
    // Intermediate growth beyond the estimate is handled by AQE skew/coalesce
    // — which is itself disabled for toy inputs, where its per-stage
    // re-planning costs more than any re-plan could save.
    val spark = edges.sparkSession
    val shuffleKey = "spark.sql.shuffle.partitions"
    val aqeKey = "spark.sql.adaptive.enabled"
    val codegenKey = "spark.sql.codegen.wholeStage"
    val broadcastKey = "spark.sql.autoBroadcastJoinThreshold"
    val preferSmjKey = "spark.sql.join.preferSortMergeJoin"
    val origShuffle = spark.conf.get(shuffleKey)
    val origAqe = spark.conf.get(aqeKey)
    val origCodegen = spark.conf.get(codegenKey)
    val origBroadcast = spark.conf.get(broadcastKey)
    val origPreferSmj = spark.conf.get(preferSmjKey)
    val sized = math.max(1L, math.min(origShuffle.toLong, nInput / 100000L + 1L))
    val toyInput = nInput < 100000L
    spark.conf.set(shuffleKey, sized.toString)
    if (toyInput) {
      // Sub-second rounds are latency-bound, not throughput-bound: AQE's
      // per-stage re-planning and whole-stage codegen's source generation +
      // compile-cache lookups cost more than they save below ~100k pairs.
      // Both stay ON for real inputs, where they are the scale path (measured
      // r4: AQE off on the 1.2M-pair sf0.1 fixpoint is ~30% SLOWER — its
      // per-exchange coalescing beats the loop's one-size-per-round number).
      spark.conf.set(aqeKey, "false")
      spark.conf.set(codegenKey, "false")
      // Prefer a shuffled-hash join over broadcast for the re-emit join: at
      // toy scale the broadcast's driver collect+publish round-trip per round
      // costs more than the 1-partition hash join, whose probe-side exchange
      // is REUSED from the min-aggregation's shuffle (same key) — the round
      // collapses to one map + one reduce stage, the reference's MR shape.
      spark.conf.set(broadcastKey, "-1")
      spark.conf.set(preferSmjKey, "false")
    }
    // Per-round timing trace for perf work: SPARK_GRAFT_CCF_TRACE=1
    val trace = sys.env.get("SPARK_GRAFT_CCF_TRACE").contains("1")
    // Blowup detector state (see [[auto]]); inert when blowupFactor == 0.
    var consecutiveBlowups = 0
    var switchOut = false
    try {
    while (iteration < maxIterations && !converged && !switchOut) {
      iteration += 1
      val t0 = if (trace) System.nanoTime() else 0L
      // tagged = (src, dst, isNew); isNew marks the (value, min) emits that the
      // reference counts in its NewPair counter.
      val tagged = variant match {
        case Basic         => iterateBasic(pairs)
        case SecondarySort => iterateSecondarySort(pairs, dedupAdjacent = iteration > 1)
      }
      val obs = Observation()
      val observed = tagged
        .observe(obs, coalesce(sum(when(col("isNew"), 1L)), lit(0L)).as("newPairs"),
          count(lit(1)).as("rows"))
      // CCF-Dedup placement (r18, guide §2.4/§7.2): for the Basic kernel the
      // distinct used to stay LAZY and fuse into the NEXT round's plan — but
      // bidirect unions two branches over it, so the dedup's final
      // HashAggregate executed TWICE per round over the full pre-dedup emit
      // set (the exchange is reused, the aggregate above it is not; measured
      // at sf0.1 co-purchase: round 3 re-aggregates round 2's 3.88M-row
      // checkpoint in both branches). Folding the distinct INTO the
      // checkpoint job dedups once, materializes the (often far smaller)
      // deduped set with 2 columns instead of 3, and next round's bidirect
      // reads materialized blocks directly. newPairs semantics unchanged:
      // the observe sits BELOW the distinct, so it still counts pre-dedup
      // per-occurrence emits exactly like the reference's reduce-side
      // counter (iteration parity with the reference CSV is re-verified in
      // the Experiments matrix). Applies to BOTH kernels: SecondarySort's
      // within-group adjacent dedup (dedupAdjacent) masked duplicates from
      // the emitted stream but still SHUFFLED the full pre-dedup set into
      // every round's sort (measured at sf0.1 co-purchase: round 3 sorted
      // 2x3.88M pre-dedup rows to emit 273k); deduping in the checkpoint
      // shrinks the sort input to the distinct pair set instead.
      // r19 (ADVICE r18, medium): a second observation ON TOP of the
      // distinct rides the same checkpoint job and yields the DEDUPED row
      // count — the one the materialized checkpoint actually holds. Stamping
      // the checkpoint with the pre-dedup count (up to ~14x larger on
      // blowup rounds) broke the "exact leaf stats" invariant and inflated
      // next-round join-size estimates. Pre-dedup `rows` still feeds
      // newPairs/blowup/shuffle sizing below, unchanged.
      val dedupObs = Observation()
      val emitted0 = observed.select("src", "dst").distinct()
        .observe(dedupObs, count(lit(1)).as("rows"))
        .eagerCheckpoint() // materialize once, truncate lineage
      // the previous round's checkpoint is no longer referenced (this round's
      // emits have been evaluated into `emitted0`)
      if (olderCkpt != null) freeCheckpoint(olderCkpt)
      olderCkpt = prevCkpt
      prevCkpt = emitted0
      // Fallback recomputes the round's TAGGED plan (pre-dedup) over the
      // previous checkpoint — the checkpointed frame no longer carries
      // isNew on the Basic path; loud + one extra job, like before.
      val ms = observedOrCount(obs, s"round $iteration")(Map(
        "newPairs" -> tagged.where(col("isNew")).count(), "rows" -> tagged.count()))
      val newPairs = ms("newPairs")
      val rows = ms("rows")
      // observed DEDUPED row count → exact leaf stats (anti-compounding);
      // fallback counts the materialized checkpoint blocks directly
      val dedupRows = observedOrCount(dedupObs, s"round $iteration dedup")(
        Map("rows" -> emitted0.count()))("rows")
      val emitted = org.apache.spark.sql.graft.Bridge.withStats(emitted0, dedupRows)
      history += newPairs
      if (blowupFactor > 0L && rows > blowupFactor * math.max(1L, nInput)) {
        consecutiveBlowups += 1
        if (consecutiveBlowups >= 2) switchOut = true
      } else consecutiveBlowups = 0
      // Re-size next round's shuffles from the OBSERVED pair count: the
      // intermediate pair set can blow up orders of magnitude past the input
      // (string-keyed chains — see the class scaladoc), and a partition count
      // sized once from the input would serialize those rounds. This is the
      // latency path's stand-in for AQE (disabled for toy inputs above); with
      // AQE on, its coalescing does the same from runtime stats.
      val resized = MicroFixpoint.partitions(rows, origShuffle.toInt)
      if (resized != spark.conf.get(shuffleKey).toInt)
        spark.conf.set(shuffleKey, resized.toString)
      // CCF-Dedup: already materialized in the checkpoint above (r18).
      pairs = emitted
      converged = newPairs == 0L
      if (trace) System.err.println(f"[ccf-trace] round $iteration%2d rows=$rows%9d " +
        f"newPairs=$newPairs%9d parts=$resized%3d ${(System.nanoTime() - t0) / 1e9}%6.3f s")
    }
    } finally {
      spark.conf.set(shuffleKey, origShuffle)
      spark.conf.set(aqeKey, origAqe)
      spark.conf.set(codegenKey, origCodegen)
      spark.conf.set(broadcastKey, origBroadcast)
      spark.conf.set(preferSmjKey, origPreferSmj)
    }
    if (switchOut && !converged)
      // Keep BOTH live checkpoints until the successor engine has materialized
      // its own topology from `pairs` (which reads prevCkpt); freed by [[auto]].
      return Right(Switched(pairs.toDF("src", "dst"),
        Seq(prevCkpt, olderCkpt).filter(_ != null), iteration, history.toSeq))
    if (olderCkpt != null) freeCheckpoint(olderCkpt)

    // Between-round pairs are globally deduped in the checkpoint (r18) for
    // both kernels — no defensive final distinct needed.
    Left(CCFResult(pairs.toDF("node", "component"), iteration, converged, history.toSeq))
  }

  /** One CCF-Iterate round, Basic kernel (paper Fig. 2; reference
    * `CCFConnectedComponents.scala:45-81`) as a declarative plan.
    * Returns (src, dst, isNew) rows, pre-dedup.
    *
    * Join strategy for the re-emit join (bi ⋈ stats on src) is left to the
    * planner: at scale, AQE picks from observed sizes (stats is bounded by
    * the node count — broadcast only if it truly fits); on sub-100k-pair
    * fixpoints [[run]] steers it to a shuffled-hash join whose probe-side
    * exchange is reused from the aggregation's shuffle (both hash by src),
    * so a round is one map + one reduce stage — at toy scale a broadcast's
    * driver collect+publish round-trip per round costs more than the join. */
  private[ccf] def iterateBasic(pairs: DataFrame): DataFrame = {
    val bi = bidirect(pairs)
    val stats = bi.groupBy("src").agg(min("dst").as("mn")).where(col("mn") < col("src"))
    val emit1 = stats.select(col("src"), col("mn").as("dst"), lit(false).as("isNew"))
    val emit2 = bi
      .join(stats, "src")
      .where(col("dst") =!= col("mn"))
      .select(col("dst").as("src"), col("mn").as("dst"), lit(true).as("isNew"))
    emit1.unionAll(emit2)
  }

  /**
   * One CCF-Iterate round, SecondarySort kernel (paper Fig. 3; reference
   * `CCFConnectedComponents.scala:104-140`). The reference's RDD port sorts a
   * materialized per-key list — losing the paper's O(1) reducer memory
   * (`report.md:151`). This is the REAL Spark analogue: hash-repartition by
   * key, sort within partitions on (key, value), then stream each group once —
   * first value is the group min, no list is ever built. `mapPartitions` is
   * justified here (SURVEY.md §7.3 escape hatch): the semantics are genuinely
   * per-group imperative streaming, and this variant exists precisely to
   * demonstrate the O(1)-memory shape.
   *
   * @param dedupAdjacent CCF-Dedup fused into the streaming reducer: the
   *   caller passes PRE-dedup pairs (skipping the separate distinct shuffle)
   *   and the reducer drops duplicate values, which the sort has made
   *   adjacent — the MapReduce-combiner move, one full shuffle per round
   *   cheaper. Only valid from round 2 on (emits are single-orientation
   *   src > dst, so ordered-pair dedup == pair dedup); round 1 must count
   *   per-occurrence on raw input exactly like the reference's first iterate.
   */
  private[ccf] def iterateSecondarySort(pairs: DataFrame, dedupAdjacent: Boolean = false): DataFrame =
    pairs.schema.fields(0).dataType.typeName match {
      case "string" => secondarySortString(pairs, dedupAdjacent)
      case "long"   => secondarySortLong(pairs, dedupAdjacent)
      case "integer" =>
        // Run the long kernel, then cast back so both variants return the
        // input's column type (int32-keyed graphs would otherwise diverge
        // from the Basic variant's schema).
        secondarySortLong(pairs, dedupAdjacent).select(
          col("src").cast("int").as("src"),
          col("dst").cast("int").as("dst"),
          col("isNew"))
      case _ => iterateBasic(pairs) // equivalent declarative plan
    }

  /** Explicitly free the block-manager storage behind an eager
    * `localCheckpoint` so peak storage stays at ~2 rounds of pairs. The
    * checkpointed RDD sits behind a `LogicalRDD` plan leaf; `Dataset.unpersist`
    * only knows cacheManager entries, so unpersist the RDD directly. Safe
    * because the DataFrame is never used again after this call. */
  private[graft] def freeCheckpoint(df: DataFrame): Unit =
    try {
      df.queryExecution.analyzed.collectLeaves().foreach {
        case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.unpersist(false)
        case _ => ()
      }
    } catch { case _: Throwable => () } // best-effort; ContextCleaner is the backstop

  private def secondarySortString(pairs: DataFrame, dedupAdjacent: Boolean): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val bi = bidirect(pairs).as[(String, String)]
    val sorted = bi
      .repartition(col("src"))
      .sortWithinPartitions(col("src"), col("dst"))
      .as[(String, String)]
    val out = sorted.mapPartitions { it =>
      streamGroups[String](it, dedupAdjacent)(Ordering.String)
    }
    out.toDF("src", "dst", "isNew")
  }

  private def secondarySortLong(pairs: DataFrame, dedupAdjacent: Boolean): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val bi = bidirect(pairs.select(col("src").cast("long"), col("dst").cast("long"))).as[(Long, Long)]
    val sorted = bi
      .repartition(col("src"))
      .sortWithinPartitions(col("src"), col("dst"))
      .as[(Long, Long)]
    val out = sorted.mapPartitions { it =>
      streamGroups[Long](it, dedupAdjacent)(Ordering.Long)
    }
    out.toDF("src", "dst", "isNew")
  }

  /** Stream a (key, value) iterator sorted by (key, value): per group, head
    * value is the min; emit (key, min) then (value, min) for the rest — exactly
    * the paper's Fig. 3 reducer, O(1) memory. With `dedupAdjacent`, duplicate
    * values within a group (adjacent after the sort) are emitted once — the
    * fused CCF-Dedup (see [[iterateSecondarySort]]). */
  private[ccf] def streamGroups[K](it: Iterator[(K, K)], dedupAdjacent: Boolean = false)(implicit ord: Ordering[K]): Iterator[(K, K, Boolean)] = {
    new Iterator[(K, K, Boolean)] {
      private var nextRow: (K, K, Boolean) = _
      private var cur: Option[(K, K)] = if (it.hasNext) Some(it.next()) else None
      private var groupKey: K = _
      private var groupMin: K = _
      private var prevVal: K = _ // last value seen in the group (sorted: dups adjacent)
      private var inGroup = false // emitting (value, min) tail of a re-labeled group

      private def advance(): Boolean = {
        while (true) {
          if (inGroup) {
            cur match {
              case Some((k, v)) if k == groupKey =>
                cur = if (it.hasNext) Some(it.next()) else None
                val dup = dedupAdjacent && ord.equiv(v, prevVal)
                prevVal = v
                if (!dup && !ord.equiv(v, groupMin)) { nextRow = (v, groupMin, true); return true }
              case _ => inGroup = false
            }
          } else {
            cur match {
              case None => return false
              case Some((k, v)) =>
                // start of a new group; v is the min (sorted within key)
                groupKey = k; groupMin = v; prevVal = v
                cur = if (it.hasNext) Some(it.next()) else None
                if (ord.lt(groupMin, k)) {
                  inGroup = true
                  nextRow = (k, groupMin, false)
                  return true
                } else {
                  // min >= key: skip the whole group
                  while (cur.exists(_._1 == k)) cur = if (it.hasNext) Some(it.next()) else None
                }
            }
          }
        }
        false
      }

      private var ready = false
      override def hasNext: Boolean = { if (!ready) ready = advance(); ready }
      override def next(): (K, K, Boolean) = { if (!ready && !advance()) throw new NoSuchElementException; ready = false; nextRow }
    }
  }

  /** O2: emit both orientations of every pair (UNION ALL keeps multiplicity,
    * matching the reference's flatMap double-emit). */
  def bidirect(pairs: DataFrame): DataFrame = {
    val Array(a, b) = pairs.columns
    pairs.toDF("src", "dst")
      .unionAll(pairs.select(col(b).as("src"), col(a).as("dst")))
  }

  /** O10: number of components = distinct component labels in the converged
    * assignment (reference `ccf_experiments.py:137`). */
  def componentCount(assignments: DataFrame): Long =
    assignments.select("component").distinct().count()

  /** O11: component → sorted member list, re-adding the representative (which
    * has no assignment row) — reference `CCFConnectedComponents.scala:287-295`. */
  def membership(assignments: DataFrame): DataFrame =
    assignments
      .groupBy("component")
      .agg(sort_array(array_union(collect_set(col("node")), array(col("component")))).as("members"))
}
