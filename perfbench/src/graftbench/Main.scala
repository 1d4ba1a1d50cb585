package graftbench

import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one Spark session in one process (`local[nproc]`), one
  * closed-loop client running one workload, then one JSON object of raw
  * figures written to `--out` (run.py turns it into the result line).
  *
  * Usage: Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *             --data <sf dir> --docs <sf dir> --work <dir> --out <file> */
object Main {

  def workload(name: String, data: String, docs: String): Workload = name match {
    case "bdb_pipeline" => new BdbPipeline
    case "registry_queries" => new RegistryQueries(data, docs)
    case other => sys.error(s"unknown workload $other")
  }

  /** The one Spark session of a run: `local[nproc]`, scratch space under `work`. */
  def session(data: String, work: java.io.File): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors
    val spark = graft.GraftSession.builder(cores, data)
      .config("spark.local.dir", new java.io.File(work, "local").getPath)
      .config("spark.sql.warehouse.dir", new java.io.File(work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Workload.log("start")
    val traced = opt("trace") == "1"
    val work = new java.io.File(opt("work"))
    work.mkdirs()
    val (spark, sessionS) = Workload.timed(session(opt("data"), work))
    val trace = new Trace(spark, traced)
    val (rdds0, storage0) = leftBehind(spark)
    val out = workload(opt("workload"), opt("data"), opt("docs"))
      .run(spark, trace, opt("seed").toLong, opt("seconds").toDouble, traced, work)
    val (rdds1, storage1) = leftBehind(spark)
    Workload.log("workload done")

    val layers = if (!traced) Map.empty[String, Double] else out.layers ++
      layerFigures(trace) ++ Map(
        "session.start_s" -> sessionS,
        "session.persisted_rdds_left" -> (rdds1 - rdds0).toDouble,
        "session.storage_mb_left" -> (storage1 - storage0) / 1e6)
    val json = JsonOut.obj(Seq(
      "setup_s" -> JsonOut.num(sessionS + out.setupS),
      "round_walls" -> JsonOut.arr(out.roundWalls.map(JsonOut.num)),
      "items" -> JsonOut.num(out.items),
      "item_seconds" -> JsonOut.num(out.itemSeconds),
      "peak_rss_mb" -> JsonOut.num(peakRssMb),
      "attempted" -> JsonOut.num(out.attempted),
      "failures" -> JsonOut.arr(out.failures.map(JsonOut.str)),
      "layers" -> JsonOut.obj(layers.toSeq.sortBy(_._1).map { case (k, v) => k -> JsonOut.num(v) }),
      "oracle" -> JsonOut.obj(out.oracle.toSeq.sortBy(_._1).map { case (k, v) => k -> JsonOut.str(v) }),
      "oracle_dir" -> JsonOut.str(out.oracleDir),
      "known" -> JsonOut.obj(out.known.toSeq.sortBy(_._1).map { case (k, v) => k -> JsonOut.str(v) })))
    java.nio.file.Files.write(java.nio.file.Paths.get(opt("out")), json.getBytes("UTF-8"))
    spark.stop()
    Workload.log("session stopped")
  }

  /** Persisted RDD count and storage memory in use. */
  private def leftBehind(spark: SparkSession): (Int, Long) = {
    val sc = spark.sparkContext
    (sc.getPersistentRDDs.size,
      sc.getExecutorMemoryStatus.values.map { case (max, free) => max - free }.sum)
  }

  private def peakRssMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  private val bdbPhases = Seq("normalize_kinematics", "separation", "labels",
    "route_features", "route_kmeans", "route_exec_iq", "sequence_features",
    "gbt_train", "gbt_score", "scorecard")
  private val families = Seq("joins", "relational", "events", "text", "dedup", "ann", "sketch")

  /** Per-layer figures from the spans and listener events of the traced window. */
  private def layerFigures(trace: Trace): Map[String, Double] = {
    val stages = trace.stageList
    def part(span: String): Seq[(String, Double)] = {
      val own = stages.filter(_.span == span)
      Seq(s"$span.wall_s" -> trace.wallsOf(span).sum,
        s"$span.cpu_s" -> own.map(_.cpuNs).sum / 1e9,
        s"$span.shuffle_mb" -> own.map(_.shuffleBytes).sum / 1e6)
    }
    val (w0, w1) = trace.windowSpan
    val covered = Trace.unionLength(stages.map(s => (s.submitMs, s.endMs)))
    val skew = stages.filter(s => s.tasks > 1 && s.endMs > s.submitMs)
      .map(s => s.maxTaskMs.toDouble / (s.endMs - s.submitMs))
    val plan = trace.planTotals
    val lstm = stages.filter(_.span == "ml.lstm_score")
    (bdbPhases.map(p => s"bdb.$p") ++ families.map(f => s"operators.$f")).flatMap(part).toMap ++
      Map(
        "ml.lstm_score.wall_s" -> trace.wallsOf("ml.lstm_score").sum,
        "ml.lstm_score.cpu_s" -> lstm.map(_.cpuNs).sum / 1e9,
        "queries.build_ms" -> trace.wallsOf("queries.build").sum * 1000,
        "catalyst.analysis_ms" -> plan.analysisMs.toDouble,
        "catalyst.optimization_ms" -> plan.optimizationMs.toDouble,
        "catalyst.planning_ms" -> plan.planningMs.toDouble,
        "exec.jobs" -> trace.jobs.toDouble,
        "exec.tasks" -> stages.map(_.tasks.toDouble).sum,
        "exec.dead_s" -> ((w1 - w0) - covered) / 1000.0,
        "exec.gc_s" -> stages.map(_.gcMs).sum / 1000.0,
        "exec.spill_mb" -> stages.map(_.spillBytes).sum / 1e6,
        "exec.max_task_share" -> Workload.median(skew))
  }
}

/** Minimal JSON writer for the raw-figures file. */
object JsonOut {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
  def num(v: Int): String = v.toString
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}

/** The `Registry.headline` queries the `registry_queries` workload runs:
  * two per operator family, including the three whose consumed cost differs
  * most from their `count()` cost (q1_pricing_summary, t_fingerprint,
  * d_dup_spans). */
object RegistryPicks {
  val names: Seq[String] = Seq(
    "j_star_chain", "j_bloom_join",
    "q1_pricing_summary", "a2_residual_stats",
    "e_sessionize", "e_asof_join",
    "t_fingerprint", "t_bigram_lm",
    "d_minhash_lsh_pairs", "d_dup_spans",
    "s_knn_brute", "s_lsh_knn_multiprobe",
    "a_hll_mergeable", "a_cms_topk")
}
