package graft.ccf

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

/** CCF core: golden Fig.-5 graph, variant agreement, reference invariants,
  * and the edge cases the reference never exercises (FIXTURES.md §A.5). */
class CCFSpec extends SparkSpec {

  private def edges(pairs: (String, String)*): DataFrame =
    Generators.toDF(spark, pairs)

  private def asgn(result: CCF.CCFResult): Set[(String, String)] =
    result.assignments.collect().map(r => (r.getString(0), r.getString(1))).toSet

  private val fig5 = Seq(
    "A" -> "B", "B" -> "D", "D" -> "E", "A" -> "C", "A" -> "E", "F" -> "G", "F" -> "H")

  // Expected per the reference's worked example
  // (`ccf_connected_components.py:242-247`): representative has NO self-row.
  private val fig5Expected = Set(
    "B" -> "A", "C" -> "A", "D" -> "A", "E" -> "A", "G" -> "F", "H" -> "F")

  test("golden Fig.5 graph, Basic variant") {
    val r = CCF.run(edges(fig5: _*))
    assert(asgn(r) === fig5Expected)
    assert(r.converged)
    assert(r.newPairsHistory.last === 0L)
  }

  test("golden Fig.5 graph, SecondarySort variant agrees") {
    val r = CCF.run(edges(fig5: _*), CCF.SecondarySort)
    assert(asgn(r) === fig5Expected)
    assert(r.converged)
  }

  test("reliable-checkpoint mode (spark.graft.checkpointDir) converges identically") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    spark.conf.set(graft.Checkpoints.DirKey, dir)
    try {
      val r = CCF.run(edges(fig5: _*))
      assert(asgn(r) === fig5Expected)
      assert(r.converged)
      // the rounds really went through reliable checkpoint(): files on disk
      val rddDirs = new java.io.File(spark.sparkContext.getCheckpointDir.get
        .stripPrefix("file:")).listFiles()
      assert(rddDirs != null && rddDirs.exists(_.getName.startsWith("rdd-")),
        s"no rdd-* checkpoint dirs under $dir")
    } finally {
      spark.conf.unset(graft.Checkpoints.DirKey)
    }
  }

  test("membership rollup re-adds the representative, sorted") {
    val r = CCF.run(edges(fig5: _*))
    val members = CCF.membership(r.assignments)
      .collect().map(row => row.getString(0) -> row.getSeq[String](1).toList).toMap
    assert(members === Map("A" -> List("A", "B", "C", "D", "E"), "F" -> List("F", "G", "H")))
  }

  test("component count") {
    val r = CCF.run(edges(fig5: _*))
    assert(CCF.componentCount(r.assignments) === 2L)
  }

  test("string semantics: lexicographic min is the representative") {
    // numeric min is 2, lexicographic min is "10"
    val r = CCF.run(edges("2" -> "10", "10" -> "100"))
    assert(asgn(r) === Set("2" -> "10", "100" -> "10"))
  }

  test("long keys: numeric min is the representative") {
    import spark.implicits._
    val df = Seq((2L, 10L), (10L, 100L)).toDF("src", "dst")
    val r = CCF.run(df)
    val got = r.assignments.collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(got === Set((10L, 2L), (100L, 2L)))
  }

  test("empty edge list") {
    val r = CCF.run(edges())
    assert(r.assignments.count() === 0L)
    assert(r.converged)
  }

  test("single edge") {
    val r = CCF.run(edges("A" -> "B"))
    assert(asgn(r) === Set("B" -> "A"))
  }

  test("self-loop only") {
    val r = CCF.run(edges("X" -> "X"))
    assert(r.assignments.count() === 0L)
    assert(r.converged)
  }

  test("duplicate input edges are harmless") {
    val r = CCF.run(edges("A" -> "B", "A" -> "B", "B" -> "A"))
    assert(asgn(r) === Set("B" -> "A"))
  }

  test("two chains stay separate components") {
    val r = CCF.run(edges("a" -> "b", "b" -> "c", "x" -> "y", "y" -> "z"))
    assert(asgn(r) === Set("b" -> "a", "c" -> "a", "y" -> "x", "z" -> "x"))
  }

  test("star graph (hub skew shape)") {
    val star = (1 to 50).map(i => "hub" -> f"leaf$i%02d")
    val r = CCF.run(edges(star: _*))
    val a = asgn(r)
    assert(a.size === 50)
    assert(a.forall(_._2 == "hub")) // "hub" < "leafNN" lexicographically
  }

  test("maxIterations caps the loop and reports non-convergence") {
    val chain = Generators.chainGraph(64)
    val r = CCF.run(Generators.toDF(spark, chain), maxIterations = 2)
    assert(!r.converged)
    assert(r.iterations === 2)
  }

  test("iteration counts match the reference on chain graphs (BASELINE.md exp 2)") {
    // (n, expected iterations) from experiment_results_scala.csv rows 14-23
    for ((n, iters) <- Seq(10 -> 6, 50 -> 8, 100 -> 9)) {
      val r = CCF.run(Generators.toDF(spark, Generators.chainGraph(n)))
      assert(r.iterations === iters, s"chain n=$n")
      val r2 = CCF.run(Generators.toDF(spark, Generators.chainGraph(n)), CCF.SecondarySort)
      assert(r2.iterations === iters, s"chain n=$n secondary-sort")
    }
  }

  test("cluster graph invariant: 0 inter-edges => components == clusters") {
    val g = Generators.clusterGraph(nClusters = 5, nodesPerCluster = 20)
    val r = CCF.run(Generators.toDF(spark, g))
    assert(CCF.componentCount(r.assignments) === 5L)
  }

  test("random graph at reference density is one component") {
    val g = Generators.randomGraph(100, 300)
    val r = CCF.run(Generators.toDF(spark, g))
    assert(CCF.componentCount(r.assignments) === 1L)
  }

  test("variants agree on all three generator families") {
    val graphs = Seq(
      Generators.chainGraph(50),
      Generators.randomGraph(100, 300),
      Generators.clusterGraph(5, 20, interEdges = 4))
    for (g <- graphs) {
      val df = Generators.toDF(spark, g)
      val basic = CCF.run(df)
      val ss = CCF.run(df, CCF.SecondarySort)
      assert(asgn(basic) === asgn(ss))
      assert(basic.iterations === ss.iterations)
    }
  }

  test("engines agree: micro vs declarative on string, long and int keys, both variants") {
    import org.apache.spark.sql.functions.col
    val generated = Seq(
      "chain50" -> Generators.chainGraph(50),
      "random100x300" -> Generators.randomGraph(100, 300),
      "cluster5x20" -> Generators.clusterGraph(5, 20, interEdges = 4))
    def keyed(df: DataFrame, t: String) =
      df.select(col("src").cast(t).as("src"), col("dst").cast(t).as("dst"))
    // chain500/string peaks at 107,620 emitted rows (round 9): rounds 1-9 run
    // in the task, round 10 is shuffled, rounds 11-12 run in the task again
    val graphs = ("fig5/string" -> edges(fig5: _*)) +:
      generated.flatMap { case (name, g) =>
        val df = Generators.toDF(spark, g)
        Seq(s"$name/string" -> df, s"$name/long" -> keyed(df, "long"),
          s"$name/int" -> keyed(df, "int"))
      } :+ ("chain500/string" -> Generators.toDF(spark, Generators.chainGraph(500)))
    def declarative[T](body: => T): T = {
      val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
      spark.conf.set(graft.Checkpoints.DirKey, dir)
      try body finally spark.conf.unset(graft.Checkpoints.DirKey)
    }
    for ((name, df) <- graphs; variant <- Seq(CCF.Basic, CCF.SecondarySort)) {
      val what = s"$name $variant"
      val micro = CCF.run(df, variant)
      val decl = declarative(CCF.run(df, variant))
      assert(micro.assignments.collect().toSet === decl.assignments.collect().toSet, what)
      assert(micro.iterations === decl.iterations, what)
      assert(micro.newPairsHistory === decl.newPairsHistory, what)
      val microCapped = CCF.run(df, variant, maxIterations = 2)
      val declCapped = declarative(CCF.run(df, variant, maxIterations = 2))
      assert(microCapped.assignments.collect().toSet ===
        declCapped.assignments.collect().toSet, s"$what capped")
      assert(microCapped.iterations === declCapped.iterations, s"$what capped")
      assert(microCapped.newPairsHistory === declCapped.newPairsHistory, s"$what capped")
    }
  }

  test("micro engine: in-task rounds stop where the blowup detector fires and at the budget") {
    val chain = Generators.chainGraph(500)
    def micro(maxIterations: Int, parts0: Int, blowupFactor: Long) =
      MicroFixpoint.run(spark.sparkContext.parallelize(chain, 2), maxIterations, parts0,
        blowupFactor, nInput = 499L)
    // every round of chain(500) emits more than 499 rows: round 2 is the
    // detector's second consecutive blowup
    val sw = micro(100, 1, blowupFactor = 1L)
    assert(sw.switched)
    assert(sw.iterations === 2)
    assert(sw.history.length === 2)
    val capped = micro(1, 1, blowupFactor = 0L)
    assert(capped.iterations === 1)
    assert(!capped.switched)
    assert(!capped.converged)
    // round 1 shuffled over 4 reducers instead of run in the task
    for (blowupFactor <- Seq(0L, 1L)) {
      val inTask = micro(100, 1, blowupFactor)
      val shuffled = micro(100, 4, blowupFactor)
      assert(shuffled.iterations === inTask.iterations, s"blowupFactor $blowupFactor")
      assert(shuffled.history === inTask.history, s"blowupFactor $blowupFactor")
      assert(shuffled.switched === inTask.switched, s"blowupFactor $blowupFactor")
      assert(shuffled.assignments.collect().toSet === inTask.assignments.collect().toSet,
        s"blowupFactor $blowupFactor")
    }
  }

  test("micro engine: empty shuffle partitions write empty blocks and still converge") {
    // every key is 0 mod 4, so round 1 hashes all rows into one of 4 partitions
    val pairs = Seq(4L -> 8L, 12L -> 16L)
    val r = MicroFixpoint.run(spark.sparkContext.parallelize(pairs, 2), maxIterations = 100,
      parts0 = 4, maxParts = 4)
    val (nodes, labels) = graft.tools.UnionFindOracle.labelsLong(pairs.iterator)
    val expected = nodes.zip(labels).filter { case (n, c) => n != c }.toSet
    assert(r.converged)
    assert(!r.switched)
    assert(r.assignments.collect().toSet === expected)
    assert(expected === Set(8L -> 4L, 16L -> 12L))
  }

  test("SS fallback pin: non-streaming key types (decimal, date) agree with Basic") {
    // VERDICT r05 #8: for key types outside {string, long, int} the
    // SecondarySort variant silently runs the Basic declarative plan
    // (CCF.iterateSecondarySort's catch-all). Pin that fallback: same
    // assignments, same round count, same column type out.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val longEdges = Seq((2L, 10L), (10L, 100L), (7L, 3L), (3L, 100L), (42L, 41L))
      .toDF("src", "dst")
    def day(c: org.apache.spark.sql.Column) =
      date_add(to_date(lit("2020-01-01")), c.cast("int"))
    val keyed = Seq(
      "decimal" -> longEdges.select(
        col("src").cast("decimal(20,2)"), col("dst").cast("decimal(20,2)")),
      "date" -> longEdges.select(day(col("src")).as("src"), day(col("dst")).as("dst")))
    for ((name, df) <- keyed) {
      val basic = CCF.run(df)
      val ss = CCF.run(df, CCF.SecondarySort)
      assert(basic.assignments.schema === ss.assignments.schema, name)
      assert(basic.assignments.collect().toSet === ss.assignments.collect().toSet, name)
      assert(basic.iterations === ss.iterations, name)
      assert(basic.assignments.schema("node").dataType.typeName.startsWith(name), name)
    }
  }

  test("pollMetrics: a throwing read is retried, then delivered metrics win") {
    // VERDICT r11 #1: Observation.getOrEmpty can THROW (Row.schema() null
    // under concurrent metric delivery), not just return empty. A throwing
    // poll must behave exactly like not-yet-delivered: retry to deadline,
    // never propagate. Stub throws NPE twice, then delivers.
    var calls = 0
    val got = CCF.pollMetrics({ () =>
      calls += 1
      if (calls <= 2) throw new NullPointerException("schema null (simulated race)")
      Map[String, Any]("newPair" -> java.lang.Long.valueOf(7L))
    }, "stub", deadlineMs = 5000L)(fail("fallback must not run: metrics arrived"))
    assert(got === Map("newPair" -> 7L))
    assert(calls === 3)
  }

  test("pollMetrics: a read that always throws takes the loud count() fallback") {
    var fellBack = false
    val got = CCF.pollMetrics({ () =>
      throw new NullPointerException("schema null (simulated race)")
    }, "stub", deadlineMs = 50L) { fellBack = true; Map("newPair" -> 3L) }
    assert(got === Map("newPair" -> 3L))
    assert(fellBack)
  }

  test("pollMetrics: fatal errors are not swallowed") {
    // NonFatal only: an OOM mid-poll must propagate, not be retried into
    // a misleading metrics-timeout fallback.
    intercept[OutOfMemoryError] {
      CCF.pollMetrics({ () => throw new OutOfMemoryError("simulated") },
        "stub", deadlineMs = 50L)(Map("n" -> 0L))
    }
  }
}
