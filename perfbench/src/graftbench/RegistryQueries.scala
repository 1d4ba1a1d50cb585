package graftbench

import graft.queries._
import graft.streaming.StreamingNearDedup
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Registry queries from a fresh session, then the near-duplicate ingest
  * write path. One round is: every picked `Registry.headline` query and the
  * `t_bpe_apply` path (merges trained in set-up), in a seeded order, each
  * consumed by collecting its full result; then a seeded document stream ingested
  * batch by batch through `StreamingNearDedup.ingestBatch` into a fresh
  * store and corpus. The first round's query results are written to
  * parquet afterwards (untimed) for run.py's checks, and a fixed fixture
  * stream is ingested (untimed) for a known-answer corpus. */
final class RegistryQueries(dataDir: String, docsDir: String) extends Workload {
  import RegistryQueries._
  import Workload._

  /** Operator family of each registry query, by the module defining it. */
  private val familyOf: Map[String, String] = Seq(
    "joins" -> JoinQueries.defs,
    "relational" -> (RelationalQueries.defs ++ AggQueries.defs ++
      WindowQueries.defs ++ SetOpQueries.defs),
    "events" -> EventQueries.defs,
    "text" -> (TextQueries.defs ++ BpeQueries.defs),
    "dedup" -> DedupQueries.defs,
    "ann" -> SimilarityQueries.defs,
    "sketch" -> (SketchQueries.defs ++ ModelQueries.defs)
  ).flatMap { case (f, ds) => ds.map(_.name -> f) }.toMap

  private def setUp(spark: SparkSession): Built = {
    val docs = graft.sources.Tables.documents(spark, dataDir)
    val bpe = logged("setup bpe train")(graft.operators.Bpe.train(docs, "text", 32))
    val pool = graft.sources.Tables.documents(spark, docsDir)
      .orderBy("doc_id").select("text").collect().map(_.getString(0)).toSeq

    val byName = Registry.headline.map(q => q.name -> q).toMap
    val registryOps = RegistryPicks.names.map { n =>
      val q = byName(n)
      Op(n, familyOf(n), q.oracle, () => q.run(spark, dataDir))
    }
    val bpeApply = Op("t_bpe_apply", "text", None,
      () => graft.operators.Bpe.tokenizeCompiled(docs, "text", bpe.merges))
    Built(registryOps :+ bpeApply, pool, () => graft.Checkpoints.release(bpe.words))
  }

  def run(spark: SparkSession, trace: Trace, seed: Long, seconds: Double,
      traced: Boolean, work: java.io.File): Outcome = {
    val reps = (1 to SetupReps).map { i =>
      val (b, s) = timed(setUp(spark))
      if (i < SetupReps) b.cleanup()
      (b, s)
    }
    val built = reps.last._1
    val ops = Inputs.queryOrder(built.ops, seed)
    val stream = Inputs.docStream(built.pool, seed, BatchDocs * Batches, DupShare)
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    var attempted = 0
    val batchWalls = scala.collection.mutable.ArrayBuffer.empty[Double]
    var results = Map.empty[String, (Array[Row], org.apache.spark.sql.types.StructType)]
    val ingestDir = new java.io.File(work, "ingest")

    val walls = trace.window(rounds(seconds) {
      timed {
        ops.foreach { op =>
          attempted += 1
          try {
            val rows = logged(op.name)(trace.span(s"operators.${op.family}") {
              val df = trace.span("queries.build")(op.build())
              (df.collect(), df.schema)
            })
            if (!results.contains(op.name)) results += op.name -> rows
          } catch { case e: Exception =>
            System.err.println(s"[bench] ${op.name} failed: $e"); failures += op.name }
        }
        deleteTree(ingestDir)
        stream.grouped(BatchDocs).foreach { batch =>
          attempted += 1
          val df = Inputs.rowsOf(spark, batch)
          if (traced) trace.span("streaming.minhash_sig")(
            noop(graft.operators.MinHash.bands(graft.operators.MinHash.signatures(df))))
          try batchWalls += timed(logged("ingest batch")(trace.span("streaming.ingest")(
            ingest(df, ingestDir))))._2
          catch { case e: Exception =>
            System.err.println(s"[bench] ingest batch failed: $e"); failures += "ingest_batch" }
        }
      }._2
    })

    // ingest checks: every input doc is either in the corpus or dropped, once
    log("round done")
    val inputIds = stream.map(_._1).toSet
    val corpusIds = corpusOf(spark, ingestDir)
    if (corpusIds.isEmpty || corpusIds.distinct.length != corpusIds.length ||
        !corpusIds.forall(inputIds)) failures += "ingest_corpus_plus_dropped_is_input"
    val storeRows = spark.read.parquet(new java.io.File(ingestDir, "store").getPath).count()
    val (written, files) = dirStats(ingestDir)

    // result dump for the oracle check (untimed)
    log("ingest checked")
    val outDir = new java.io.File(work, "results")
    deleteTree(outDir)
    results.foreach { case (name, (rows, schema)) =>
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .write.parquet(new java.io.File(outDir, name).getPath)
    }
    val oracle = ops.map(o => o.name -> o.oracle.getOrElse("")).toMap
    log("results written")

    // known answer: the corpus of a fixed stream, whatever the seed
    val fixtureDir = new java.io.File(work, "fixture_ingest")
    Inputs.docStream(built.pool, FixtureSeed, FixtureBatchDocs * 2, DupShare)
      .grouped(FixtureBatchDocs).foreach(b => ingest(Inputs.rowsOf(spark, b), fixtureDir))
    val known = Map("ingest_fixture_corpus_ids" -> corpusOf(spark, fixtureDir).sorted.mkString(","))
    log("fixture ingested")
    val overhead = if (!traced) Map.empty[String, Double] else {
      val probe = ops.filter(_.family == "relational").take(2)
      Map("trace.overhead_share" -> overheadShare(trace)(probe.foreach(_.build().collect())))
    }

    built.cleanup()
    Outcome(median(reps.map(_._2)), walls, BatchDocs.toDouble, median(batchWalls.toSeq),
      attempted, failures.toSeq,
      overhead ++ Map(
        "streaming.minhash_sig_ms" -> median(trace.wallsOf("streaming.minhash_sig")) * 1000,
        "streaming.batch_p50_ms" -> median(batchWalls.toSeq) * 1000,
        "streaming.batch_max_ms" -> batchWalls.max * 1000,
        "streaming.batch_samples" -> batchWalls.size.toDouble,
        "streaming.drop_ratio" -> (1.0 - corpusIds.length.toDouble / inputIds.size),
        "sources.store_rows" -> storeRows.toDouble,
        "sources.written_mb" -> written / 1e6,
        "sources.files_written" -> files.toDouble),
      oracle, outDir.getPath, known)
  }

  private def dirStats(dir: java.io.File): (Long, Long) = {
    val fs = org.apache.commons.io.FileUtils.listFiles(dir, null, true)
      .toArray(Array.empty[java.io.File]).filter(f => !f.getName.startsWith(".") &&
        !f.getName.startsWith("_"))
    (fs.map(_.length).sum, fs.length.toLong)
  }
}

object RegistryQueries {
  /** Ingest stream: 3 batches of 50 documents, 20 % injected near-duplicates
    * (see perfbench/NOTES.md for why). */
  private val BatchDocs = 50
  private val Batches = 3
  private val DupShare = 0.2
  private val SetupReps = 3
  /** The fixed stream of the known-answer corpus: 2 batches of 40. */
  private val FixtureSeed = 0L
  private val FixtureBatchDocs = 40

  /** One batch into the store and corpus under `dir`. */
  private def ingest(batch: DataFrame, dir: java.io.File): Unit =
    StreamingNearDedup.ingestBatch(batch, new java.io.File(dir, "store").getPath,
      new java.io.File(dir, "corpus").getPath)

  private def corpusOf(spark: SparkSession, dir: java.io.File): Array[Long] =
    spark.read.parquet(new java.io.File(dir, "corpus").getPath)
      .select("doc_id").collect().map(_.getLong(0))

  private final case class Op(name: String, family: String, oracle: Option[String],
      build: () => DataFrame)

  private final case class Built(ops: Seq[Op], pool: Seq[String], cleanup: () => Unit)
}
