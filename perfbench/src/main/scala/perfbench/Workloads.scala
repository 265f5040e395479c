package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.color.ColoringKernel
import graft.color.ColoringKernel.Strategy
import graft.model.GraphIO

/** One timed operation: named, owned by one engine module, and split into
  * the spans the benchmark records around the public calls it makes. */
final case class Op(name: String, module: String, run: SparkSession => OpOut)

/** What an operation hands back: its spans in order (their sum is the op's
  * wall), plus whatever the correctness check needs. `check` runs after the
  * wall clock stops and returns an error message for a wrong output. */
final case class OpOut(
    spans: Seq[(String, Double)],
    rows: Long = -1L,
    digest: String = "",
    colors: Int = -1,
    rounds: Int = -1,
    check: () => Option[String] = () => None)

object Workloads {

  /** Engine modules the queries live in, as `package.Object` below `graft`. */
  val Modules: Seq[String] = Seq(
    "ops.GraphOps", "ops.ColorQueries", "ops.Relational", "ops.EventAnalytics",
    "ops.Sketches", "ops.Skew", "ops.StreamQueries", "ops.Linkage",
    "llm.TextStats", "llm.Dedup", "llm.Similarity", "llm.Tokenizer",
    "llm.Multimodal", "sources.SinkQueries")

  /** Queries whose sink path is hard-wired under /tmp (SinkQueries.sinkDir):
    * the benchmark may write only inside its checkout, so they are left out.
    * q_join_bucketed writes to the session warehouse, which is redirected. */
  val WritesOutsideCheckout: Set[String] = Set(
    "q_write_partitioned", "q_source_csv", "q_source_binary", "q_source_json",
    "q_source_orc", "q_zorder", "q_compact", "q_schema_drift")

  private def squash(s: String): String = s.replace("_", "").toLowerCase

  /** query name -> module, found by reflection on the module objects'
    * methods (`q_window_leadlag` is `Relational.qWindowLeadLag`). */
  lazy val moduleOf: Map[String, String] = {
    val byMethod = Modules.flatMap { m =>
      Class.forName(s"graft.$m$$").getMethods.map(meth => squash(meth.getName) -> m)
    }.toMap
    SparkEntry.queries.keys.map(q => q -> byMethod.getOrElse(squash(q), "other")).toMap
  }

  /** The `queries` workload, run in name order in one session per pass:
    * every graph-family query (modules GraphOps and ColorQueries: the
    * iterative loops, the session memos and the coloring routes), plus a
    * fixed stratified sample of the other queries. All of those take about
    * 80 s on 4 cores, more than a run can hold, so the sample is every
    * [[CorpusStride]]-th query of each module in name order, starting with
    * the first, and every module keeps at least one query. */
  val CorpusStride = 8

  def queries: Seq[String] = {
    val all = SparkEntry.queries.keys.toSeq.sorted.filterNot(WritesOutsideCheckout)
    val (graph, corpus) = all.partition(q => Set("ops.GraphOps", "ops.ColorQueries")(moduleOf(q)))
    val sample = corpus.groupBy(moduleOf).values
      .flatMap(_.sorted.zipWithIndex.collect { case (q, i) if i % CorpusStride == 0 => q })
    (graph ++ sample).sorted
  }

  /** Order-independent digest of every column of every row: each row is
    * rendered with `to_json` (all types, nested included), hashed two ways,
    * and the hashes are summed exactly and xor-ed. Columns are renamed by
    * position, so duplicate output names cannot collide. */
  def digest(df: DataFrame): (Long, String) = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val js = to_json(struct(named.columns.map(col).toIndexedSeq: _*))
    val r = named.select(xxhash64(js).as("h"), hash(js).as("m"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)")), bit_xor(col("m")))
      .head()
    val s = if (r.isNullAt(1)) "0" else r.getDecimal(1).toPlainString
    val x = if (r.isNullAt(2)) 0 else r.getInt(2)
    (r.getLong(0), f"$s:$x%08x")
  }

  def queryOp(name: String, corpusDir: String): Op = {
    val fn = SparkEntry.queries(name)
    Op(name, moduleOf(name), { spark =>
      val t0 = System.nanoTime()
      val df = fn(spark, corpusDir)
      val t1 = System.nanoTime()
      val (rows, dg) = digest(df)
      val t2 = System.nanoTime()
      OpOut(Seq("eager_s" -> (t1 - t0) / 1e9, "action_s" -> (t2 - t1) / 1e9), rows, dg)
    })
  }

  /** The `Coloring --input` path: read the reference-format graph, search the
    * minimal coloring with the JP kernel, validate it, write it. The written
    * file is then checked against the input graph by [[GraphCheck]]. When
    * `corrupt` is set, the harness damages the written file before the check
    * (a self-test that a conflicting coloring is caught). */
  def coloringOp(graphPath: String, outPath: String, graph: => GraphCheck, corrupt: Boolean): Op =
    Op("coloring", "color", { spark =>
      val t0 = System.nanoTime()
      val nodes = GraphIO.readNodes(spark, graphPath)
      val edges = GraphIO.edges(nodes)
      val vertices = GraphIO.vertices(nodes).select(col("id"))
      val t1 = System.nanoTime()
      val best = ColoringKernel.minimalColors(spark, edges, Strategy.Jp, Some(vertices))
      val t2 = System.nanoTime()
      val (uncolored, conflicts) = ColoringKernel.validate(edges, best.colors)
      val t3 = System.nanoTime()
      GraphIO.writeColoring(best.colors, outPath)
      val t4 = System.nanoTime()
      best.colors.unpersist(blocking = false)
      OpOut(
        Seq("read_s" -> (t1 - t0) / 1e9, "search_s" -> (t2 - t1) / 1e9,
          "validate_s" -> (t3 - t2) / 1e9, "write_s" -> (t4 - t3) / 1e9),
        colors = best.k, rounds = best.rounds,
        check = () => {
          if (corrupt) GraphCheck.corrupt(outPath, graph)
          if (uncolored != 0L || conflicts != 0L)
            Some(s"kernel validate reported uncolored=$uncolored conflicts=$conflicts")
          else graph.verify(outPath, best.k)
        })
    })
}

/** Reference-format graph parsed by the benchmark itself, used to check a
  * written coloring independently of the engine. */
final class GraphCheck(val adj: Map[Long, Array[Long]]) {
  val maxDegree: Int = if (adj.isEmpty) 0 else adj.values.map(_.length).max

  /** None when the coloring file colors every vertex once, no edge joins two
    * equal colors, and it uses `k` colors with `k <= maxDegree + 1`. */
  def verify(coloringPath: String, k: Int): Option[String] = {
    val colors = GraphCheck.readColoring(coloringPath)
    val missing = adj.keysIterator.count(id => colors.get(id).forall(_ < 0))
    val extra = colors.keysIterator.count(id => !adj.contains(id))
    val conflicts = adj.iterator.map { case (u, ns) =>
      ns.count(v => colors.get(u).isDefined && colors.get(u) == colors.get(v))
    }.sum
    val used = colors.values.filter(_ >= 0).toSet.size
    if (missing > 0) Some(s"$missing vertices uncolored")
    else if (extra > 0) Some(s"$extra colored ids are not vertices")
    else if (conflicts > 0) Some(s"$conflicts edges join equal colors")
    else if (used != k) Some(s"file uses $used colors, kernel reported $k")
    else if (k > maxDegree + 1) Some(s"$k colors exceed max degree + 1 = ${maxDegree + 1}")
    else None
  }
}

object GraphCheck {
  private val NodeRe = """"id":\s*(-?\d+),\s*"neighbors":\s*\[([^\]]*)\]""".r
  private val ColorRe = """"id":\s*(-?\d+),\s*"color":\s*(-?\d+)""".r

  def read(graphPath: String): GraphCheck = {
    val text = Files.readString(Paths.get(graphPath))
    val adj = NodeRe.findAllMatchIn(text).map { m =>
      val ns = m.group(2).split(',').map(_.trim).filter(_.nonEmpty).map(_.toLong)
      m.group(1).toLong -> ns
    }.toMap
    new GraphCheck(adj)
  }

  def readColoring(path: String): Map[Long, Int] = {
    val text = Files.readString(Paths.get(path))
    val m = mutable.HashMap.empty[Long, Int]
    ColorRe.findAllMatchIn(text).foreach { x =>
      val id = x.group(1).toLong
      // A duplicated id is as wrong as a missing one: mark it uncolored.
      m(id) = if (m.contains(id)) -1 else x.group(2).toInt
    }
    m.toMap
  }

  /** Give the lowest-id vertex with a neighbour that neighbour's color. */
  def corrupt(path: String, g: GraphCheck): Unit = {
    val colors = readColoring(path)
    val (u, ns) = g.adj.filter(_._2.nonEmpty).minBy(_._1)
    val body = colors.toSeq.sortBy(_._1).map { case (id, c) =>
      val cc = if (id == u) colors(ns.head) else c
      s"""    {\n        "id": $id,\n        "color": $cc\n    }"""
    }.mkString("[\n", ",\n", "\n]")
    Files.writeString(Paths.get(path), body)
  }
}
