package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

/** The JVM side of the benchmark; `perfbench/run.py` builds and launches it.
  *
  * One JVM, `local[cpus]`, one caller: every item runs, then is checked, and
  * only then does the next one start. A pass is every item of the workload
  * once, after the program's memoized builds are cleared, so each pass pays
  * its builds again. Set-up is session start, input generation and two
  * untimed warm-up passes (on 4 cpus, after one the next pass still ran
  * about 1.25x slower than later ones while the JIT compiled); then timed
  * passes run until `--seconds` have passed. With `--trace 1` the timed part
  * is a traced, an untraced and a traced pass, for the per-layer numbers, the
  * tracing overhead (traced minus untraced wall, drift cancelled by the order)
  * and the exactness of counters.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *          --data DIR --expected FILE --scratch DIR --out FILE
  *        perfbench.Main --fingerprint DIR --scratch DIR --out FILE
  *          (every key, two passes)
  */
object Main {
  private val json = new ObjectMapper()

  private def toJava(v: Any): Any = v match {
    case m: collection.Map[_, _] => m.map { case (k, x) => k.toString -> toJava(x) }.asJava
    case s: Iterable[_] => s.map(toJava).asJava
    case o: Option[_] => o.map(toJava).orNull
    case x => x
  }
  private def write(path: String, v: Any): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), json.writeValueAsString(toJava(v)))

  def session(cpus: Int, scratch: String): SparkSession = {
    val spark = SparkSession.builder().master(s"local[$cpus]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", s"$scratch/spark-local")
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Clears the program's memoized builds, as `graft.Bench` does per pass. */
  def clearCaches(spark: SparkSession): Unit = {
    graft.queries.DedupQueries.clearCaches(spark)
    graft.queries.GraphQueries.clearCaches(spark)
    graft.queries.SimilarityQueries.clearCaches(spark)
    graft.queries.PipelineQueries.clearCaches(spark)
    graft.queries.SharedBuilds.reset()
  }

  final case class PassResult(wall: Double, cpu: Double, gc: Double, heapPeakMb: Double,
                              t0Ms: Long, t1Ms: Long, failures: Seq[(String, String)],
                              attempted: Int)

  /** A traced pass: per-item counters and self times, idle time, CCF runs. */
  final case class Traced(pass: PassResult, perItem: Map[String, Map[String, Double]],
                          idleS: Double, ccf: List[CcfStat])

  /** Counters that repeat exactly on deterministic work; their movement
    * between two traced passes is reported per item. */
  private val workCounters = Set("spark.jobs", "spark.stages", "spark.tasks",
    "spark.shuffle_write_bytes", "spark.shuffle_read_bytes", "spark.shuffle_records",
    "sql.executions", "sql.broadcast_bytes")

  val builds = Seq("pipeline_day2_admission", "pipeline_day1", "pipeline_day3_curated",
    "jaccard_pairs", "substring_spans", "kmeans_centroids", "ivf_index_persist", "ivf_inc_index",
    "gram_postings", "copurchase_edges", "ccf_assignments_Basic", "ccf_assignments_SecondarySort")

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    if (a.contains("fingerprint")) return fingerprints(a("fingerprint"), a("scratch"), a("out"))
    val workload = a("workload")
    val seed = a("seed").toInt
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val cpus = Runtime.getRuntime.availableProcessors
    val loadStart = Jvm.loadAvg
    val spark = session(cpus, a("scratch"))
    val expectedFile = new java.io.File(a("expected"))
    val expected = if (!expectedFile.exists) Map.empty[String, Fp]
      else json.readTree(expectedFile).get("fingerprints").fields().asScala.map { e =>
        val v = e.getValue
        e.getKey -> Fp(v.get(0).asLong, v.get(1).asLong, v.get(2).asLong)
      }.toMap
    val ccfStats = mutable.ArrayBuffer.empty[CcfStat]
    val items = Workloads(workload, spark, a("data"), seed, expected, ccfStats)

    def pass(t: Tracer, counters: Option[Counters]): PassResult = {
      clearCaches(spark)
      counters.foreach(_.reset())
      Jvm.resetHeapPeak()
      val failures = mutable.ArrayBuffer.empty[(String, String)]
      val (gc0, cpu0, t0Ms, t0) = (Jvm.gcSeconds, Jvm.cpuSeconds, System.currentTimeMillis(), System.nanoTime())
      for (it <- items) {
        t.item = it.id
        counters.foreach(_.item = it.id)
        if (t.traced) spark.sparkContext.setJobGroup(it.id, it.id)
        val outcome =
          try t.span("item")(it.run(t))
          catch { case e: Throwable => Some(s"threw ${e.getClass.getName}: ${e.getMessage}") }
        outcome.foreach(why => failures += it.id -> why)
        if (t.traced) {
          spark.sparkContext.clearJobGroup()
          org.apache.spark.BenchBus.drain(spark.sparkContext)
        }
      }
      val wall = (System.nanoTime() - t0) / 1e9
      PassResult(wall, Jvm.cpuSeconds - cpu0, Jvm.gcSeconds - gc0, Jvm.heapPeakMb,
        t0Ms, System.currentTimeMillis(), failures.toSeq, items.size)
    }

    val warm = Seq.fill(2)(pass(new Tracer(false), None))
    ccfStats.clear()
    val firstTimedMs = System.currentTimeMillis()
    val untraced = new Tracer(false)
    val timed = mutable.ArrayBuffer.empty[PassResult]
    val untracedStats = mutable.ArrayBuffer.empty[CcfStat]
    // VmHWM after set-up and the first timed pass: how many more passes fit
    // in `--seconds` depends on speed, and each one can raise the mark.
    var peakRssMb = -1.0
    def untracedPass(): Unit = {
      val n0 = ccfStats.size
      timed += pass(untraced, None)
      untracedStats ++= ccfStats.drop(n0)
      if (peakRssMb < 0) peakRssMb = Jvm.peakRssMb
    }
    val start = System.nanoTime()
    if (!traced) {
      do untracedPass()
      while ((System.nanoTime() - start) / 1e9 < seconds)
    }

    val layers = mutable.LinkedHashMap.empty[String, Any]
    val itemsOut = mutable.LinkedHashMap.empty[String, Any]
    var tracer: Tracer = null
    val tracedPasses = mutable.ArrayBuffer.empty[PassResult]
    if (traced) {
      tracer = new Tracer(true)
      val counters = new Counters(spark)
      counters.register()
      val perPass = for (p <- 1 to 2) yield {
        if (p == 2) { counters.unregister(); untracedPass(); counters.register() }
        tracer.pass = p
        val n0 = ccfStats.size
        val r = pass(tracer, Some(counters))
        tracedPasses += r
        val self = tracer.selfSeconds(p)
        val perItem = items.map { it =>
          val c = counters.perItem.get(it.id).map(_.toMap).getOrElse(Map.empty[String, Double])
          val s = self.collect { case ((i, name), v) if i == it.id && name != "item" => s"self.$name" -> v }
          it.id -> (c ++ s)
        }.toMap
        Traced(r, perItem, counters.idleSeconds(r.t0Ms, r.t1Ms), ccfStats.drop(n0).toList)
      }
      counters.unregister()
      for (it <- items) {
        val (x, y) = (perPass(0).perItem(it.id), perPass(1).perItem(it.id))
        val counted = (x.keySet ++ y.keySet).filter(k => !k.startsWith("self.") &&
          !k.endsWith("_s") && k != "spark.peak_exec_mem_bytes")
        val repeated = counted.filter(k => x.getOrElse(k, 0.0) == y.getOrElse(k, 0.0))
        itemsOut(it.id) = Map("pass1" -> x, "pass2" -> y,
          "repeated" -> repeated.toSeq.sorted, "moved" -> (counted -- repeated).toSeq.sorted,
          "work_moved" -> (counted -- repeated).intersect(workCounters).toSeq.sorted)
      }
      def mean(f: Traced => Double) = perPass.map(f).sum / perPass.size
      def total(k: String) = mean(_.perItem.values.map(_.getOrElse(k, 0.0)).sum)
      val wall = mean(_.pass.wall)
      layers("trace.overhead_s") = wall - timed.head.wall
      layers("trace.overhead_share") = (wall - timed.head.wall) / timed.head.wall
      layers("queries.call_s") = total("self.queries.call")
      layers("queries.action_s") = total("self.queries.action")
      val buildSpans = tracer.spans.filter(_.name.startsWith("build:"))
      layers("builds.s") = buildSpans.map(_.seconds).sum / 2
      layers("builds.count") = buildSpans.size / 2.0
      for (b <- builds)
        layers(s"builds.${b}_s") = buildSpans.filter(_.name == s"build:$b").map(_.seconds).sum / 2
      val runS = mean(_.ccf.map(_.seconds).sum)
      val rounds = mean(_.ccf.map(_.rounds.toDouble).sum)
      layers("ccf.run_s") = runS
      layers("ccf.action_s") = total("self.ccf.action")
      layers("ccf.rounds") = rounds
      layers("ccf.s_per_round") = if (rounds > 0) runS / rounds else 0.0
      layers("ccf.new_pairs") = mean(_.ccf.map(_.newPairs.toDouble).sum)
      val ref = perPass(0).ccf.map(_.refSeconds).sum
      layers("ccf.ref_ratio") = if (ref > 0) runS / ref else 0.0
      for (k <- Seq("spark.jobs", "spark.stages", "spark.tasks")) layers(k) = total(k)
      layers("spark.tasks_per_stage") =
        if (total("spark.stages") > 0) total("spark.tasks") / total("spark.stages") else 0.0
      layers("spark.idle_s") = mean(_.idleS)
      layers("spark.executor_run_s") = total("spark.executor_run_s")
      layers("spark.busy_share") = total("spark.executor_run_s") / (wall * cpus)
      for (k <- Seq("spark.shuffle_write_bytes", "spark.shuffle_read_bytes", "spark.shuffle_records",
                    "spark.input_bytes", "spark.output_bytes", "spark.result_bytes",
                    "spark.spill_bytes", "spark.task_gc_s"))
        layers(k) = total(k)
      layers("spark.peak_exec_mem_bytes") =
        perPass.flatMap(_.perItem.values.map(_.getOrElse("spark.peak_exec_mem_bytes", 0.0))).max
      for (k <- Seq("sql.executions", "sql.planning_s", "sql.broadcast_bytes")) layers(k) = total(k)
      layers("jvm.gc_s") = mean(_.pass.gc)
      layers("jvm.heap_peak_mb") = perPass.map(_.pass.heapPeakMb).max
    }

    val all = timed ++ tracedPasses
    val out = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "cpus" -> cpus,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "loadavg_start" -> loadStart, "loadavg_end" -> Jvm.loadAvg,
      "first_timed_ms" -> firstTimedMs,
      "warmup" -> Map("wall_s" -> warm.map(_.wall),
        "failures" -> warm.flatMap(_.failures.map(f => Seq(f._1, f._2)))),
      "passes" -> timed.map(p => Map("wall_s" -> p.wall, "cpu_s" -> p.cpu)),
      "traced_passes" -> tracedPasses.map(p => Map("wall_s" -> p.wall, "cpu_s" -> p.cpu)),
      "ccf" -> untracedStats.map(s => Map("item" -> s.item, "seconds" -> s.seconds,
        "rounds" -> s.rounds, "ref_seconds" -> s.refSeconds)),
      "attempted" -> all.map(_.attempted).sum,
      "failures" -> all.flatMap(_.failures.map(f => Seq(f._1, f._2))),
      "peak_rss_mb" -> peakRssMb,
      "layers" -> layers, "items" -> itemsOut,
      "spans" -> Option(tracer).map(_.spans.map(s => Seq(s.name, s.item, s.pass, s.parent,
        s.startNs, s.endNs, s.derived))).getOrElse(Nil))
    write(a("out"), out)
    spark.stop()
  }

  /** Fingerprints of every key over `dir`, twice in one JVM, for deriving the
    * expected values (`perfbench/derive.py`). */
  def fingerprints(dir: String, scratch: String, outPath: String): Unit = {
    val spark = session(Runtime.getRuntime.availableProcessors, scratch)
    val keys = graft.SparkEntry.queries.keys.toSeq.sorted
    val runs = for (_ <- 1 to 2) yield {
      clearCaches(spark)
      keys.flatMap { k =>
        try Some(k -> Fp.of(graft.SparkEntry.queries(k)(spark, dir)))
        catch { case e: Throwable => System.err.println(s"[perfbench] $k threw $e"); None }
      }.toMap
    }
    write(outPath, keys.map(k => k -> Seq(runs(0).get(k), runs(1).get(k)).map(
      _.map(f => Seq(f.rows, f.lo, f.hi)))).toMap)
    spark.stop()
  }
}
