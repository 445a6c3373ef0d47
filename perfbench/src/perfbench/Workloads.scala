package perfbench

import graft.ccf.{CCF, Generators}
import graft.tools.UnionFindOracle
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Row count plus an order-insensitive hash of every output column. */
final case class Fp(rows: Long, lo: Long, hi: Long) {
  override def toString: String = s"[$rows,$lo,$hi]"
}

object Fp {
  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case a: ArrayType => hasMap(a.elementType)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _ => false
  }

  /** The full-output action: unlike `count()`, it makes Spark compute every
    * column. Map columns are hashed through their JSON form (xxhash64 rejects
    * maps). The two 32-bit halves are summed separately so the sum cannot
    * overflow. */
  def of(df: DataFrame): Fp = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.toSeq.map(f =>
      if (hasMap(f.dataType)) to_json(col(f.name)) else col(f.name))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = named.select(h.as("h")).agg(
      count(lit(1)),
      coalesce(sum(col("h").bitwiseAND(lit(0xFFFFFFFFL))), lit(0L)),
      coalesce(sum(shiftrightunsigned(col("h"), 32)), lit(0L))).head()
    Fp(r.getLong(0), r.getLong(1), r.getLong(2))
  }
}

/** One unit of closed-loop work: it runs, then is checked before the next
  * item starts. `run` returns None when the output is correct, else why not. */
trait Item {
  def id: String
  def run(t: Tracer): Option[String]
}

/** A query key from `SparkEntry.queries`, checked against the committed
  * fingerprint of its DuckDB-oracle-verified output. */
final case class KeyItem(id: String, spark: SparkSession, dir: String, expected: Option[Fp])
    extends Item {
  def run(t: Tracer): Option[String] = {
    val df = t.span("queries.call", builds = true)(graft.SparkEntry.queries(id)(spark, dir))
    val fp = t.span("queries.action", builds = true)(Fp.of(df))
    expected match {
      case None => Some("no expected fingerprint")
      case Some(e) if e != fp => Some(s"fingerprint $fp, expected $e")
      case _ => None
    }
  }
}

/** Fixpoint stats of the CCF.run items of one pass, for the ccf layer. */
final case class CcfStat(item: String, seconds: Double, rounds: Int, newPairs: Long, refSeconds: Double)

/** One `CCF.run` on a generated graph. Its full-output action collects the
  * assignments, which are checked against `expected`, union-find's
  * (node -> component) map of the same edges, representatives left out.
  * `parity` holds the reference's (iterations, components) when the graph is
  * the reference's own (seed 42). */
final case class FixpointItem(id: String, edges: DataFrame, variant: CCF.Variant,
                              expected: Map[Any, Any], components: Long,
                              parity: Option[(Int, Long)], refSeconds: Double,
                              stats: scala.collection.mutable.ArrayBuffer[CcfStat]) extends Item {
  def run(t: Tracer): Option[String] = {
    val t0 = System.nanoTime()
    val r = t.span("ccf.run")(CCF.run(edges, variant))
    stats += CcfStat(id, (System.nanoTime() - t0) / 1e9, r.iterations, r.newPairsHistory.sum, refSeconds)
    val rows = t.span("ccf.action")(r.assignments.collect())
    if (rows.length != expected.size || !rows.forall(x => expected.get(x.get(0)).contains(x.get(1))))
      Some(s"${rows.length} assignments differ from union-find's ${expected.size}")
    else if (!r.converged) Some("did not converge")
    else parity.collect {
      case (it, comps) if it != r.iterations || comps != components =>
        s"iterations ${r.iterations} components $components, reference $it / $comps"
    }
  }
}

object Workloads {
  val names: Seq[String] = Seq("ccf_matrix", "planned_sf0.01")

  /** planned_sf0.01's query keys before and after its sparse CCF.run item;
    * perfbench/run.py says what each workload covers. */
  val graphKeys = Seq("ccf_component_count", "ccf_components_pj")
  val curationKeys = Seq("p1_pipeline", "d14_substring_dedup", "t1_token_stats")

  /** The matrix configurations kept, with the reference Scala column of
    * BASELINE.md: (iterations, components, seconds) per variant. */
  private final case class Config(name: String, edges: Int => Seq[(String, String)],
                                  iterations: Int, components: Long, refBasic: Double, refSS: Double)
  private val matrix = Seq(
    Config("random_5000_15000", s => Generators.randomGraph(5000, 15000, s), 6, 1, 0.838, 0.775),
    Config("cluster_20_50_19", s => Generators.clusterGraph(20, 50, 19, s), 10, 4, 0.698, 0.877))

  /** Mean degree about 6: nodes = edges / 3. */
  val SparseEdges = 30000L

  /** Union-find's assignments (representatives left out) and component count. */
  private def unionFind[T](labels: (Array[T], Array[T])): (Map[Any, Any], Long) = {
    val (nodes, comp) = labels
    val m: Map[Any, Any] = nodes.indices.collect { case i if nodes(i) != comp(i) => nodes(i) -> comp(i) }.toMap
    (m, nodes.length.toLong - m.size)
  }

  /** Builds the items of `workload` and generates its seeded inputs. */
  def apply(workload: String, spark: SparkSession, dataDir: String, seed: Int,
            expected: Map[String, Fp],
            stats: scala.collection.mutable.ArrayBuffer[CcfStat]): Seq[Item] = {
    import spark.implicits._
    def keyItems(keys: Seq[String]) = keys.map(k => KeyItem(k, spark, dataDir, expected.get(k)))
    workload match {
      case "ccf_matrix" =>
        for (c <- matrix; (v, ref) <- Seq(CCF.Basic -> c.refBasic, CCF.SecondarySort -> c.refSS)) yield {
          val edges = c.edges(seed)
          val (uf, comps) = unionFind(UnionFindOracle.labelsString(edges.iterator))
          FixpointItem(s"${c.name}_$v", edges.toDF("src", "dst"), v, uf, comps,
            if (seed == 42) Some((c.iterations, c.components)) else None, ref, stats)
        }
      case "planned_sf0.01" =>
        val sparse = Generators.randomDF(spark, SparseEdges / 3, SparseEdges, seed)
          .as[(Long, Long)].collect().toSeq
        val (uf, comps) = unionFind(UnionFindOracle.labelsLong(sparse.iterator))
        (keyItems(graphKeys) :+ FixpointItem("sparse_random_ccf", sparse.toDF("src", "dst"),
          CCF.Basic, uf, comps, None, 0.0, stats)) ++ keyItems(curationKeys)
      case w => throw new IllegalArgumentException(s"unknown workload $w; one of ${names.mkString(", ")}")
    }
  }
}
