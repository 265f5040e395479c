package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._

import graft.model.{GraphIO, RandomGraph}

/** One benchmark run inside one JVM: set up, run the workload's operations
  * in a closed loop on the driver thread for `--seconds`, and write the raw
  * per-operation record that `run.py` turns into metrics.
  *
  * Usage (normally through run.py):
  *   perfbench.Main --workload coloring|queries
  *     --seed N --seconds S --trace 0|1 --root CHECKOUT --work DIR --out FILE
  *     --t0-ms EPOCH_MS [--break-op I] [--break-coloring I]
  */
object Main {
  /** Coloring input: the paper's generator at a size where one operation
    * takes a few seconds, so a run holds several. */
  val ColoringNodes = 20000L
  val ColoringMaxDegree = 10
  val WarmupNodes = 2000L
  val CorpusScale = "sf0.001"
  val CorpusTables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")
  /** Set-up steps that can be repeated are run this many times; the median
    * is reported. */
  val SetupReps = 3

  private def parse(args: Array[String]): Map[String, String] =
    args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def secs[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private def storageMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val workload = a("workload")
    require(Set("coloring", "queries")(workload), s"unknown workload $workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val root = a("root")
    val work = a("work")
    val t0Ms = a("t0-ms").toLong
    val breakOp = a.get("break-op").map(_.toInt).getOrElse(-1)
    val breakColoring = a.get("break-coloring").map(_.toInt).getOrElse(-1)
    val nproc = Runtime.getRuntime.availableProcessors
    Files.createDirectories(Paths.get(work))

    // The CLI's session for the coloring job; graft.Bench's for the queries.
    val builder = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
    val spark =
      if (workload == "coloring") builder.withExtensions(new graft.functions.GraftExtensions).getOrCreate()
      else builder.config("spark.io.compression.codec", "zstd").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - t0Ms) / 1e3

    // ---- set-up: one warm-up, then input preparation SetupReps times
    val corpusSrc = s"$root/perfbench/corpus/$CorpusScale"
    val corpusDir = s"$work/corpus/$CorpusScale"
    val graphPath = s"$work/graph.json"
    // Warm-up once, before the input is prepared: JIT and classloading land
    // in set-up, in neither the first preparation nor the first timed op.
    val (_, warmupS) = secs {
      if (workload == "coloring") {
        // The whole path, generator included, on a small graph of its own.
        val p = s"$work/warmup-graph.json"
        GraphIO.writeGraph(RandomGraph.nodes(spark, WarmupNodes, ColoringMaxDegree, seed), p)
        Workloads.coloringOp(p, s"$work/warmup-coloring.json", GraphCheck.read(p), corrupt = false)
          .run(spark).check()
      } else {
        // Generic scan/aggregate/join/window/sort/write work in a throwaway
        // session: no query runs and no session memo is built.
        val s = spark.newSession()
        val w = s.range(0, 20000).selectExpr(
          "id", "id % 97 AS k", "CAST(id AS DOUBLE) * 1.5 AS v", "CAST(id AS STRING) AS t")
        w.groupBy("k").agg(sum("v"), count(lit(1)), max("t"))
          .join(w.filter("id < 1000"), "k")
          .selectExpr("*", "row_number() OVER (PARTITION BY k ORDER BY id) AS r")
          .orderBy("k", "id").write.mode("overwrite").parquet(s"$work/warmup")
        s.read.parquet(s"$work/warmup").agg(sum("v")).collect()
        s.read.parquet(s"$corpusSrc/lineitem.parquet").groupBy("l_returnflag").count().collect()
      }
    }
    val prepS = (1 to SetupReps).map { _ =>
      secs {
        if (workload == "coloring")
          GraphIO.writeGraph(RandomGraph.nodes(spark, ColoringNodes, ColoringMaxDegree, seed), graphPath)
        else {
          Files.createDirectories(Paths.get(corpusDir))
          CorpusTables.foreach { t =>
            Files.copy(Paths.get(s"$corpusSrc/$t.parquet"), Paths.get(s"$corpusDir/$t.parquet"),
              StandardCopyOption.REPLACE_EXISTING)
            spark.read.parquet(s"$corpusDir/$t.parquet").schema
          }
        }
      }._2
    }
    lazy val graph = GraphCheck.read(graphPath)
    val ops: Seq[Op] = workload match {
      case "coloring" => Seq(Workloads.coloringOp(graphPath, s"$work/coloring.json", graph, corrupt = false))
      case _ => Workloads.queries.map(Workloads.queryOp(_, corpusDir))
    }

    // ---- timed region: whole passes over `ops` until `seconds` have passed
    val tracer = if (trace) Some(new Tracer) else None
    tracer.foreach(spark.sparkContext.addSparkListener)
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)
    heapPools.foreach(_.resetPeakUsage())
    val setupS = (System.currentTimeMillis() - t0Ms) / 1e3 - (prepS.sum - median(prepS))
    // Process CPU per operation: in local mode the executors are threads of
    // this JVM, so this is executor plus driver CPU, with no Spark hook.
    val os = ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
    // JIT compiler threads and collector pauses, from the JVM's own beans.
    val jit = ManagementFactory.getCompilationMXBean
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
    val records = Seq.newBuilder[Json.Obj]
    val windows = Seq.newBuilder[(Int, Long, Long)]
    var residentPeak = 0.0
    var i = 0
    var pass = 0
    val tStart = System.nanoTime()
    while (pass == 0 || (System.nanoTime() - tStart) / 1e9 < seconds) {
      // A user pays session memos once per session: every pass is a new one.
      val session = if (workload == "coloring") spark else spark.newSession()
      tracer.foreach(session.listenerManager.register)
      ops.foreach { op =>
        val damaged = workload == "coloring" && i == breakColoring
        val run = if (damaged) Workloads.coloringOp(graphPath, s"$work/coloring.json", graph, corrupt = true) else op
        session.sparkContext.setLocalProperty(Tracer.OpKey, i.toString)
        val cgCount0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        val cgNs0 = CodeGenerator.compileTime
        val genNs0 = WholeStageCodegenExec.codeGenTime
        val cpu0 = os.getProcessCpuTime
        val jit0 = jit.getTotalCompilationTime
        val gc0 = gcs.map(_.getCollectionTime).sum
        val startMs = System.currentTimeMillis()
        val t0 = System.nanoTime()
        val (out, err) =
          try {
            if (i == breakOp) throw new IllegalStateException(s"injected failure in operation $i")
            (Some(run.run(session)), None)
          } catch { case e: Throwable =>
            (None, Some(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"))
          }
        val wallS = (System.nanoTime() - t0) / 1e9
        val endMs = System.currentTimeMillis()
        val cpuS = (os.getProcessCpuTime - cpu0) / 1e9
        val jitS = (jit.getTotalCompilationTime - jit0) / 1e3
        val gcS = (gcs.map(_.getCollectionTime).sum - gc0) / 1e3
        val cgCount = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cgCount0
        val cgS = (CodeGenerator.compileTime - cgNs0) / 1e9
        val genS = (WholeStageCodegenExec.codeGenTime - genNs0) / 1e9
        session.sparkContext.setLocalProperty(Tracer.OpKey, null)
        val checkErr = err.orElse(out.flatMap { o =>
          try o.check() catch { case e: Throwable => Some(s"check failed: ${e.getMessage}") }
        })
        val residentMb = if (trace) {
          val mb = storageMb(spark)
          residentPeak = math.max(residentPeak, mb)
          mb
        } else -1.0
        checkErr.foreach(e => System.err.println(s"[perfbench] FAILED ${op.name}: $e"))
        windows += ((i, startMs, endMs))
        records += Json.obj(
          "i" -> i, "pass" -> pass, "name" -> op.name, "module" -> op.module,
          "ok" -> checkErr.isEmpty, "err" -> checkErr, "wall_s" -> wallS, "cpu_s" -> cpuS, "jit_s" -> jitS, "gc_s" -> gcS,
          "spans" -> out.map(o => Json.Obj(o.spans)).getOrElse(Json.obj()),
          "rows" -> out.map(_.rows).getOrElse(-1L), "digest" -> out.map(_.digest).getOrElse(""),
          "colors" -> out.map(_.colors).getOrElse(-1), "rounds" -> out.map(_.rounds).getOrElse(-1),
          "codegen_compiles" -> cgCount, "codegen_compile_s" -> cgS, "codegen_generate_s" -> genS,
          "resident_mb" -> residentMb, "start_ms" -> startMs, "end_ms" -> endMs)
        i += 1
      }
      pass += 1
    }
    val timedS = (System.nanoTime() - tStart) / 1e9
    val heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

    // ---- per-operation layer counters (traced runs only)
    val layers = tracer.map { t =>
      t.drain()
      val residentEnd = storageMb(spark)
      val perOp = windows.result().map { case (op, s, e) =>
        val c = t.counters.get(op)
        def sum(f: t.Counters => Long): Long = c.map(f).getOrElse(0L)
        val ph = t.phases.asScala.filter(p => p.startMs >= s && p.startMs <= e)
        Json.obj(
          "i" -> op,
          "plan_executions" -> ph.size,
          "plan_analysis_s" -> ph.map(_.analysisMs).sum / 1e3,
          "plan_optimization_s" -> ph.map(_.optimizationMs).sum / 1e3,
          "plan_planning_s" -> ph.map(_.planningMs).sum / 1e3,
          "driver_gap_s" -> t.gapMs(op, s, e) / 1e3,
          "jobs" -> sum(_.jobs.sum), "stages" -> sum(_.stages.sum),
          "stages_skipped" -> t.skippedStages(op), "tasks" -> sum(_.tasks.sum),
          "empty_tasks" -> sum(_.emptyTasks.sum), "run_s" -> sum(_.runMs.sum) / 1e3,
          "cpu_s" -> sum(_.cpuNs.sum) / 1e9, "gc_s" -> sum(_.gcMs.sum) / 1e3,
          "shuffle_read_mb" -> sum(_.shReadB.sum) / 1048576.0,
          "shuffle_write_mb" -> sum(_.shWriteB.sum) / 1048576.0,
          "spill_mb" -> sum(_.spillB.sum) / 1048576.0)
      }
      Json.obj(
        "per_op" -> perOp,
        "storage_resident_mb_end" -> residentEnd,
        "storage_peak_mb" -> math.max(residentPeak, residentEnd))
    }
    val rssPeakMb = scala.util.Try {
      Files.readAllLines(Paths.get("/proc/self/status")).asScala
        .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)
    }.getOrElse(-1.0)

    val raw = Json.obj(
      "stamp" -> Json.obj(
        "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
        "nproc" -> nproc, "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
        "spark_version" -> spark.version, "java_version" -> System.getProperty("java.version"),
        "corpus" -> (if (workload == "coloring") s"RandomGraph(n=$ColoringNodes, maxDegree=$ColoringMaxDegree, seed=$seed)"
          else s"perfbench/corpus/$CorpusScale"),
        "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions")),
      "setup" -> Json.obj("session_s" -> sessionS, "warmup_s" -> warmupS, "prep_s" -> prepS,
        "setup_s" -> setupS),
      "passes" -> pass, "timed_s" -> timedS,
      "heap_peak_mb" -> heapPeakMb, "rss_peak_mb" -> rssPeakMb,
      "ops" -> records.result(),
      "layers" -> layers)
    Files.writeString(Paths.get(a("out")), Json(raw))
    spark.stop()
  }
}
