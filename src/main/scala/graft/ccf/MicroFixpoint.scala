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
 * and checkpointing for a few hundred KB of data; here a round is ONE job of
 * two stages whose closures are compiled once, and the NewPair/row counters
 * ride the job that materializes the round. At scale the declarative path
 * in [[CCF]] (codegen, partial min, AQE) stays the engine of record. Both
 * engines share the round kernel [[CCF.streamGroups]] — one emit rule, one
 * per-occurrence NewPair rule, one fused-dedup schedule, one
 * representative-has-no-row contract — and CCFSpec pins assignments,
 * iterations and per-round NewPair counts across the two.
 *
 * Round representation: one [[Block]] per reduce partition — the emitted
 * pairs as two flat columns (primitive arrays for long/int keys) plus the
 * NewPair count. The shuffle is columnar too: each map task bidirects its
 * pairs into one chunk per reducer, and `partitionBy` moves the chunks keyed
 * by reducer id with no aggregator (bypass-merge writer; `parts` records per
 * map task instead of one tuple per row). The reducer groups its rows by
 * source with destinations sorted ([[groupBySource]]) and streams them
 * through the kernel (paper Fig. 3; from round 2 on, adjacent duplicates are
 * skipped — CCF-Dedup fused, valid because later emits are
 * single-orientation). The two variants' emitted multisets are identical,
 * so both run this kernel.
 *
 * Why not per-record caching and `groupByKey`: a JFR profile of the 4-run
 * benchmark matrix on a 4-vCPU host put 40% of CPU samples in Spark's
 * `SizeEstimator` — 24% from the MemoryStore sizing each round's cached
 * `(K, K, Boolean)` tuples, 15% from `groupByKey`'s
 * `SizeTrackingAppendOnlyMap` — memory accounting, not CCF work. A block is
 * sized once per partition, and no size-tracked map is left (0.2% after).
 *
 * Memory bound: a map task holds its bidirected pairs in flat chunks; a
 * reducer holds its partition's bidirected pairs in the chunks, the grouped
 * row array and the sort index, plus the emitted block (at most as many
 * rows) — none of it spills the way `groupByKey`'s map could. [[partitions]]
 * sizes each round from the OBSERVED row count (one partition per 32k
 * emitted rows, ~64k bidirected rows each) up to `maxParts`; only a blowup
 * past `maxParts x 32k` rows, which [[CCF.auto]]'s detector stops after two
 * rounds, grows a partition beyond that. Cached blocks are MEMORY_AND_DISK:
 * memory pressure spills a round rather than evicting it.
 */
object MicroFixpoint {

  /** Input-pair count below which [[CCF.run]] routes here: per-round
    * planning dominates below it, codegen + partial aggregation pay above. */
  val Threshold: Long = 100000L

  /** A slice of (src, dst) pairs as flat columns: a reduce partition's round
    * output with its NewPair count, or a map task's chunk for one reducer. */
  final case class Block[K](src: Array[K], dst: Array[K], newPairs: Long)

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

  /** Run the fixpoint for any ordered key type. `parts0` sizes the first
    * round's shuffle; later rounds re-size from the OBSERVED pair count up
    * to `maxParts` (the session's shuffle-partition default) — intermediate
    * pair sets can blow up orders of magnitude past the input (string-keyed
    * chains), and a cap derived from the input size would serialize exactly
    * those rounds. With `blowupFactor > 0`, runs [[CCF.auto]]'s blowup
    * detector on the same observed per-round row counts: 2 consecutive
    * rounds past `blowupFactor x nInput` end the run with
    * `switched = true`. */
  def run[K: ClassTag](pairs0: RDD[(K, K)], maxIterations: Int, parts0: Int,
                       blowupFactor: Long = 0L, nInput: Long = 0L,
                       maxParts: Int = 32)(implicit ord: Ordering[K]): MicroResult[K] = {
    val sc = pairs0.sparkContext
    var pairs = pairs0
    var prevCached: RDD[Block[K]] = null
    var olderCached: RDD[Block[K]] = null
    var iteration = 0
    var converged = false
    var switched = false
    var consecutiveBlowups = 0
    var parts = math.max(1, parts0)
    val history = scala.collection.mutable.ArrayBuffer.empty[Long]
    val trace = sys.env.get("SPARK_GRAFT_CCF_TRACE").contains("1")
    while (iteration < maxIterations && !converged && !switched) {
      iteration += 1
      val t0 = if (trace) System.nanoTime() else 0L
      val blocks = iterate(pairs, dedupAdjacent = iteration > 1, parts)
      // One job materializes and counts the round: the result handler reads
      // each block as it is cached (an evicted round would recompute its
      // whole lineage, so MEMORY_AND_DISK).
      blocks.persist(StorageLevel.MEMORY_AND_DISK)
      val counts = sc.runJob(blocks, (it: Iterator[Block[K]]) =>
        it.foldLeft((0L, 0L))((acc, b) => (acc._1 + b.newPairs, acc._2 + b.src.length)))
      val newPairs = counts.map(_._1).sum
      val rows = counts.map(_._2).sum
      if (olderCached != null) olderCached.unpersist(false)
      olderCached = prevCached
      prevCached = blocks
      history += newPairs
      converged = newPairs == 0L
      if (blowupFactor > 0L && rows > blowupFactor * math.max(1L, nInput)) {
        consecutiveBlowups += 1
        if (consecutiveBlowups >= 2) switched = true
      } else consecutiveBlowups = 0
      parts = partitions(rows, maxParts)
      pairs = blocks.flatMap(b => b.src.iterator.zip(b.dst.iterator))
      if (trace) System.err.println(f"[ccf-micro] round $iteration%2d rows=$rows%9d " +
        f"newPairs=$newPairs%9d parts=$parts%3d ${(System.nanoTime() - t0) / 1e9}%6.3f s")
    }
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

  /** One CCF-Iterate round → one [[Block]] per reduce partition, pre-dedup:
    * bidirect into per-reducer chunks, shuffle the chunks, group each
    * reducer's rows by source with destinations sorted, and stream them
    * through [[CCF.streamGroups]]. From round 2 on (`dedupAdjacent`) the
    * between-round CCF-Dedup is fused as the adjacent-duplicate skip: emits
    * are single-orientation, so deduping a key's sorted neighbor run equals
    * pair-distinct before bidirect — same counts as the declarative path, one
    * shuffle cheaper. Round 1 keeps raw multiplicity (the reference's first
    * iterate counts per occurrence). */
  private def iterate[K: ClassTag](pairs: RDD[(K, K)], dedupAdjacent: Boolean, parts: Int)
                                  (implicit ord: Ordering[K]): RDD[Block[K]] =
    pairs
      .mapPartitions { it =>
        val part = new HashPartitioner(parts)
        val src = Array.fill(parts)(Array.newBuilder[K])
        val dst = Array.fill(parts)(Array.newBuilder[K])
        it.foreach { case (a, b) =>
          val ra = part.getPartition(a); src(ra) += a; dst(ra) += b
          val rb = part.getPartition(b); src(rb) += b; dst(rb) += a
        }
        Iterator.tabulate(parts)(r => (r, Block(src(r).result(), dst(r).result(), 0L)))
      }
      .partitionBy(new HashPartitioner(parts))
      .mapPartitions { it =>
        val chunks = it.map(_._2).toArray
        val rows = groupBySource(Array.concat(chunks.map(_.src): _*),
          Array.concat(chunks.map(_.dst): _*))
        val src = Array.newBuilder[K]
        val dst = Array.newBuilder[K]
        var newPairs = 0L
        CCF.streamGroups(rows.iterator, dedupAdjacent).foreach { case (s, d, isNew) =>
          src += s; dst += d
          if (isNew) newPairs += 1
        }
        Iterator.single(Block(src.result(), dst.result(), newPairs))
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
    val parts = partitions(nInput, maxParts)
    def toResult[K](r: MicroResult[K], toDF: RDD[(K, K)] => DataFrame)
        : Either[CCF.CCFResult, CCF.Switched] =
      if (r.switched)
        Right(CCF.Switched(toDF(r.assignments).toDF("src", "dst"),
          Seq.empty, r.iterations, r.history))
      else
        Left(CCF.CCFResult(toDF(r.assignments).toDF("node", "component"), r.iterations,
          r.converged, r.history, engine = "ccf"))
    val tupled = pairs.toDF("_1", "_2")
    pairs.schema.fields(0).dataType.typeName match {
      case "string" =>
        val rdd = tupled.as[(String, String)].rdd
        Some(toResult[String](run(rdd, maxIterations, parts, blowupFactor, nInput, maxParts), _.toDF()))
      case "long" =>
        val rdd = tupled.as[(Long, Long)].rdd
        Some(toResult[Long](run(rdd, maxIterations, parts, blowupFactor, nInput, maxParts), _.toDF()))
      case "integer" =>
        val rdd = tupled.as[(Int, Int)].rdd
        Some(toResult[Int](run(rdd, maxIterations, parts, blowupFactor, nInput, maxParts), _.toDF()))
      case _ => None
    }
  }
}
