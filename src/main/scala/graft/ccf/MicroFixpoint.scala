package graft.ccf

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

import scala.reflect.ClassTag

/**
 * Small-input CCF fixpoint on the RDD layer — the LATENCY engine behind
 * [[CCF.run]] for sub-[[Threshold]]-pair graphs. On the reference's matrix
 * (`ccf_experiments.py:146-260` — 34 runs, every graph ≤15k edges) a
 * declarative round pays ~150 ms of fixed Catalyst planning, exchange setup
 * and checkpointing for a few hundred KB of data. Here no round is planned,
 * and most rounds are not even a job of their own. At scale the declarative
 * path in [[CCF]] (codegen, partial min, AQE) stays the engine of record.
 * Both engines share the round kernel [[CCF.streamGroups]] — one emit rule,
 * one per-occurrence NewPair rule, one fused-dedup schedule, one
 * representative-has-no-row contract — and CCFSpec pins assignments,
 * iterations and per-round NewPair counts across the two.
 *
 * Two round shapes, picked per job from the OBSERVED row count of the round
 * before (emitted pairs can grow orders of magnitude past the input on
 * string-keyed chains, so the input size alone cannot pick them):
 *  - In the task: a round whose input is below [[Threshold]] rows runs in one
 *    task that reads the previous round's blocks through `coalesce(1)` (a
 *    narrow dependency: no shuffle). The task then runs the following rounds
 *    back to back in memory and stops at the first of: convergence (0
 *    NewPairs), the `maxIterations` budget, the round where the blowup
 *    detector fires, or a round that emits ≥ [[Threshold]] rows. One job
 *    covers all those rounds.
 *  - Shuffled: a round whose input has ≥ [[Threshold]] rows is one job of two
 *    stages over [[partitions]]`(rows, maxParts)` reducers. Each map task
 *    bidirects its pairs into one chunk per reducer, and `partitionBy` moves
 *    the chunks keyed by reducer id with no aggregator.
 * Both shapes run one reducer body, [[reduceRound]]: group the bidirected rows
 * by source with destinations sorted ([[groupBySource]]) and stream them
 * through the kernel (paper Fig. 3; from round 2 on, adjacent duplicates are
 * skipped — CCF-Dedup fused, valid because later emits are
 * single-orientation). The two variants' emitted multisets are identical,
 * so both run this kernel. The emitted multiset does not depend on the shape,
 * so neither do the results. A job's output is one [[Block]] per partition,
 * cached MEMORY_AND_DISK deserialized: an evicted round would recompute its
 * whole lineage, and memory pressure spills a round rather than evicting it.
 * Only the per-round (NewPairs, rows) counts reach the driver, never pairs.
 *
 * Why not per-record caching and `groupByKey`: a JFR profile of the 4-run
 * benchmark matrix on a 4-vCPU host put 40% of CPU samples in Spark's
 * `SizeEstimator` — 24% from the MemoryStore sizing each round's cached
 * `(K, K, Boolean)` tuples, 15% from `groupByKey`'s
 * `SizeTrackingAppendOnlyMap` — memory accounting, not CCF work. A block is
 * sized once per partition, and no size-tracked map is left.
 *
 * Memory bound: an in-task round reads < [[Threshold]] rows (round 1 reads
 * the input, which [[CCF.run]] sends here only under [[Threshold]]), so it
 * holds < 2 x [[Threshold]] bidirected rows in flat columns, the grouped row
 * array and the sort index, plus its emitted block (at most as many rows as
 * it bidirected). A shuffled round's reducer holds the same for its partition;
 * [[partitions]] gives one per 32k input rows (~64k bidirected) up to
 * `maxParts`, and only a blowup past `maxParts x 32k` rows, which
 * [[CCF.auto]]'s detector stops after two rounds, grows a partition beyond
 * that. None of it spills the way `groupByKey`'s map could.
 */
object MicroFixpoint {

  /** Input-pair count below which [[CCF.run]] routes here (per-round planning
    * dominates below it, codegen + partial aggregation pay above), and the
    * round-input row count below which a round runs in the task. */
  val Threshold: Long = 100000L

  /** (src, dst) pairs as flat columns: a job's output partition, or a map
    * task's chunk for one reducer. `rounds` holds the (NewPairs, emitted
    * rows) of each round the producing task ran, oldest first: one for a
    * shuffled round's reducer, one or more for an in-task run, none for a
    * chunk or the input. */
  final case class Block[K](src: Array[K], dst: Array[K], rounds: Array[(Long, Long)])

  /** Fixpoint outcome on the RDD layer; `assignments` is (node, component),
    * representative has no row — the same contract as [[CCF.CCFResult]].
    * When `switched` (blowup detector fired — see [[CCF.auto]]), it is the
    * CURRENT pair set instead (same components as the input; pre-dedup). */
  final case class MicroResult[K](assignments: RDD[(K, K)], iterations: Int,
                                  converged: Boolean, history: Seq[Long],
                                  switched: Boolean = false)

  /** Shuffle partitions for a round of `rows` pairs: one per 32k rows,
    * clamped to [1, maxParts]. */
  private[ccf] def partitions(rows: Long, maxParts: Int): Int =
    math.max(1L, math.min(maxParts.toLong, rows / 32000L + 1L)).toInt

  /** The blowup detector's count of consecutive rounds past
    * `blowupFactor x nInput` rows, after a round that emitted `rows`; it
    * fires at 2. Off when `blowupFactor` is 0. */
  private def blowups(run: Int, rows: Long, blowupFactor: Long, nInput: Long): Int =
    if (blowupFactor > 0L && rows > blowupFactor * math.max(1L, nInput)) run + 1 else 0

  /** Run the fixpoint for any ordered key type. `parts0` picks round 1's
    * shape: 1 runs it in the task, more shuffles it over `parts0` reducers.
    * Later rounds pick theirs from the observed row count (see the object
    * doc), shuffled rounds over at most `maxParts` reducers (the session's
    * shuffle-partition default). With `blowupFactor > 0`, runs
    * [[CCF.auto]]'s blowup detector on the same observed per-round row
    * counts: 2 consecutive rounds past `blowupFactor x nInput` end the run
    * with `switched = true`. With `SPARK_GRAFT_CCF_TRACE=1` set, prints one
    * line per job to stderr: its round range and shape, its partitions, the
    * emitted rows of its last and of its largest round, and its seconds
    * (per-round NewPairs are in `history`). */
  def run[K: ClassTag](pairs0: RDD[(K, K)], maxIterations: Int, parts0: Int = 1,
                       blowupFactor: Long = 0L, nInput: Long = 0L,
                       maxParts: Int = 32)(implicit ord: Ordering[K]): MicroResult[K] = {
    val sc = pairs0.sparkContext
    // an input with no partitions (an empty local relation) still runs round 1
    val input = if (pairs0.getNumPartitions > 0) pairs0 else sc.parallelize(Seq.empty[(K, K)], 1)
    var blocks: RDD[Block[K]] = input.mapPartitions(it => Iterator.single(columns(it)))
    var prevCached: RDD[Block[K]] = null
    var olderCached: RDD[Block[K]] = null
    var iteration = 0
    var converged = false
    var switched = false
    var consecutiveBlowups = 0
    var parts = math.max(1, parts0)
    var inTask = parts == 1
    val history = scala.collection.mutable.ArrayBuffer.empty[Long]
    val trace = sys.env.get("SPARK_GRAFT_CCF_TRACE").contains("1")
    while (iteration < maxIterations && !converged && !switched) {
      val t0 = if (trace) System.nanoTime() else 0L
      val first = iteration + 1
      val job =
        if (inTask) {
          val blowupRun = consecutiveBlowups
          blocks.coalesce(1).mapPartitions(it => Iterator.single(
            runInTask(it, first, maxIterations, blowupRun, blowupFactor, nInput)))
        } else shuffledRound(blocks, dedupAdjacent = first > 1, parts)
      // One job materializes the job's rounds and brings back their counts:
      // each partition holds one block, read as it is cached.
      job.persist(StorageLevel.MEMORY_AND_DISK)
      val counts = sc.runJob(job, (it: Iterator[Block[K]]) => it.next().rounds)
      var rows = 0L
      var peakRows = 0L
      for (r <- counts.head.indices) { // every partition ran the same rounds
        val newPairs = counts.map(_(r)._1).sum
        rows = counts.map(_(r)._2).sum
        peakRows = math.max(peakRows, rows)
        iteration += 1
        history += newPairs
        converged = newPairs == 0L
        consecutiveBlowups = blowups(consecutiveBlowups, rows, blowupFactor, nInput)
        switched = consecutiveBlowups >= 2
      }
      if (olderCached != null) olderCached.unpersist(false)
      olderCached = prevCached
      prevCached = job
      blocks = job
      if (trace) System.err.println(f"[ccf-micro] rounds $first%2d-$iteration%-2d " +
        f"${if (inTask) "in-task" else "shuffled"}%-8s parts=${job.getNumPartitions}%3d " +
        f"rows=$rows%9d peak=$peakRows%9d ${(System.nanoTime() - t0) / 1e9}%6.3f s")
      inTask = rows < Threshold
      parts = partitions(rows, maxParts)
    }
    val pairs = blocks.flatMap(b => b.src.iterator.zip(b.dst.iterator))
    // Converged emits are one (key, min) row per key — already distinct; a
    // capped run's pair set is pre-dedup, so it is deduplicated like the
    // declarative loop's. The switched hand-off passes it as-is (the successor
    // engine tolerates duplicates) and leaves the older round to the
    // ContextCleaner.
    if (switched) MicroResult(pairs, iteration, converged, history.toSeq, switched)
    else {
      if (olderCached != null) olderCached.unpersist(false)
      MicroResult(if (converged) pairs else pairs.distinct(parts), iteration, converged,
        history.toSeq)
    }
  }

  /** Pairs as one [[Block]] with no rounds. */
  private def columns[K: ClassTag](it: Iterator[(K, K)]): Block[K] = {
    val src = Array.newBuilder[K]
    val dst = Array.newBuilder[K]
    it.foreach { case (a, b) => src += a; dst += b }
    Block(src.result(), dst.result(), Array.empty)
  }

  /** Rounds `first`, `first + 1`, ... over all of `blocks` in this task, each
    * round's output the next one's input, until convergence, the
    * `maxIterations` budget, the round where the blowup detector fires
    * (`blowupRun` is its count going in), or a round that emits
    * ≥ [[Threshold]] rows. Returns the last round's pairs with the counts of
    * every round run. */
  private def runInTask[K: ClassTag](blocks: Iterator[Block[K]], first: Int, maxIterations: Int,
                                     blowupRun: Int, blowupFactor: Long, nInput: Long)
                                    (implicit ord: Ordering[K]): Block[K] = {
    @annotation.tailrec
    def loop(src: Array[K], dst: Array[K], round: Int, blowupRun: Int,
             done: List[(Long, Long)]): Block[K] = {
      val out = reduceRound(src, dst, dedupAdjacent = round > 1)
      val (newPairs, rows) = out.rounds.head
      val run = blowups(blowupRun, rows, blowupFactor, nInput)
      if (newPairs == 0L || round >= maxIterations || run >= 2 || rows >= Threshold)
        Block(out.src, out.dst, ((newPairs, rows) :: done).reverse.toArray)
      else loop(Array.concat(out.src, out.dst), Array.concat(out.dst, out.src), round + 1, run,
        (newPairs, rows) :: done)
    }
    val in = blocks.toArray
    loop(Array.concat(in.map(_.src) ++ in.map(_.dst): _*),
      Array.concat(in.map(_.dst) ++ in.map(_.src): _*), first, blowupRun, Nil)
  }

  /** One shuffled CCF-Iterate round → one [[Block]] per reduce partition:
    * bidirect into per-reducer chunks, shuffle the chunks, and run
    * [[reduceRound]] on each reducer's rows. */
  private def shuffledRound[K: ClassTag](blocks: RDD[Block[K]], dedupAdjacent: Boolean, parts: Int)
                                        (implicit ord: Ordering[K]): RDD[Block[K]] =
    blocks
      .mapPartitions { it =>
        val part = new HashPartitioner(parts)
        val src = Array.fill(parts)(Array.newBuilder[K])
        val dst = Array.fill(parts)(Array.newBuilder[K])
        it.foreach { b =>
          var i = 0
          while (i < b.src.length) {
            val a = b.src(i)
            val c = b.dst(i)
            val ra = part.getPartition(a); src(ra) += a; dst(ra) += c
            val rc = part.getPartition(c); src(rc) += c; dst(rc) += a
            i += 1
          }
        }
        Iterator.tabulate(parts)(r => (r, Block(src(r).result(), dst(r).result(), Array.empty)))
      }
      .partitionBy(new HashPartitioner(parts))
      .mapPartitions { it =>
        val chunks = it.map(_._2).toArray
        Iterator.single(reduceRound(Array.concat(chunks.map(_.src): _*),
          Array.concat(chunks.map(_.dst): _*), dedupAdjacent))
      }

  /** One CCF-Iterate reducer over bidirected (src, dst) rows → the emitted
    * pairs, pre-dedup, with this round's (NewPairs, rows). From round 2 on
    * (`dedupAdjacent`) the between-round CCF-Dedup is fused as the
    * adjacent-duplicate skip: emits are single-orientation, so deduping a
    * key's sorted neighbor run equals pair-distinct before bidirect — same
    * counts as the declarative path, one shuffle cheaper. Round 1 keeps raw
    * multiplicity (the reference's first iterate counts per occurrence). */
  private def reduceRound[K: ClassTag](src: Array[K], dst: Array[K], dedupAdjacent: Boolean)
                                      (implicit ord: Ordering[K]): Block[K] = {
    val outSrc = Array.newBuilder[K]
    val outDst = Array.newBuilder[K]
    var newPairs = 0L
    CCF.streamGroups(groupBySource(src, dst).iterator, dedupAdjacent).foreach { case (s, d, isNew) =>
      outSrc += s; outDst += d
      if (isNew) newPairs += 1
    }
    val emitted = outSrc.result()
    Block(emitted, outDst.result(), Array((newPairs, emitted.length.toLong)))
  }

  /** The (src, dst) rows reordered so each source's rows are contiguous and
    * sorted by destination — the input [[CCF.streamGroups]] needs. Groups
    * follow source hash order (a primitive sort of packed (hash, index)
    * longs), so `ord` only compares rows within one hash run. */
  private def groupBySource[K](src: Array[K], dst: Array[K])
                              (implicit ord: Ordering[K]): Array[(K, K)] = {
    val n = src.length
    val packed = Array.tabulate(n)(i => (src(i).##.toLong << 32) | i)
    java.util.Arrays.sort(packed)
    val out = Array.tabulate(n) { i => val j = packed(i).toInt; (src(j), dst(j)) }
    val pairOrd = Ordering.Tuple2(ord, ord)
    var from = 0
    while (from < n) {
      var to = from + 1
      while (to < n && (packed(to) >> 32) == (packed(from) >> 32)) to += 1
      java.util.Arrays.sort(out, from, to, pairOrd)
      from = to
    }
    out
  }

  /** DataFrame adapter: run the micro engine when the key type has a kernel
    * (string/long/int — the same set the SecondarySort streaming kernel
    * supports), else None and the caller stays on the declarative path.
    * `pairs` must be a materialized-or-cheap 2-column (src, dst) frame of
    * `nInput` rows. Returns Left(result) on convergence / iteration cap,
    * Right(switched hand-off) when the armed blowup detector fired (see
    * [[CCF.auto]]). */
  private[ccf] def runDF(pairs: DataFrame, maxIterations: Int, blowupFactor: Long, nInput: Long)
      : Option[Either[CCF.CCFResult, CCF.Switched]] = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val maxParts = math.max(1, spark.conf.get("spark.sql.shuffle.partitions").toInt)
    def toResult[K](r: MicroResult[K], toDF: RDD[(K, K)] => DataFrame)
        : Either[CCF.CCFResult, CCF.Switched] =
      if (r.switched)
        Right(CCF.Switched(toDF(r.assignments).toDF("src", "dst"),
          Seq.empty, r.iterations, r.history))
      else
        Left(CCF.CCFResult(toDF(r.assignments).toDF("node", "component"), r.iterations,
          r.converged, r.history, engine = "ccf"))
    def micro[K: ClassTag: Ordering](rdd: RDD[(K, K)]): MicroResult[K] =
      run(rdd, maxIterations, blowupFactor = blowupFactor, nInput = nInput, maxParts = maxParts)
    val tupled = pairs.toDF("_1", "_2")
    pairs.schema.fields(0).dataType.typeName match {
      case "string" =>
        Some(toResult[String](micro(tupled.as[(String, String)].rdd), _.toDF()))
      case "long" =>
        Some(toResult[Long](micro(tupled.as[(Long, Long)].rdd), _.toDF()))
      case "integer" =>
        Some(toResult[Int](micro(tupled.as[(Int, Int)].rdd), _.toDF()))
      case _ => None
    }
  }
}
