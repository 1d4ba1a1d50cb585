package graftbench

import graft.bdb._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The paper's EP1 job, run once per fresh JVM as a batch job would be:
  * `Pipeline.run` with all four outputs consumed, then the trained LSTM's
  * residuals over the same labeled frames. The traced run instead calls the
  * pipeline's phases one by one (the same public functions `Pipeline.run`
  * composes), materializing each, so every phase gets its own span. */
final class BdbPipeline extends Workload {
  import BdbPipeline._
  import Workload._

  private def setUp(spark: SparkSession, seed: Long): Inputs0 = {
    val tracking = Inputs.tracking(spark, seed, Games, PlaysPerGame).cache()
    val frames = tracking.count()
    val supp = Inputs.supplementary(tracking, seed).cache()
    supp.count()
    val labeled = SequenceFeatures.add(Pipeline.labeledFeatures(tracking, supp)._2).cache()
    labeled.count()
    val (lstm, trainS) = timed(TrainedLstmModel.train(labeled, None, features,
      epochs = LstmEpochs, batchesPerEpoch = 2, seed = seed))
    Inputs0(tracking, supp, labeled, lstm, frames, trainS)
  }

  def run(spark: SparkSession, trace: Trace, seed: Long, seconds: Double,
      traced: Boolean, work: java.io.File): Outcome = {
    val (in, setupS) = timed(logged("setup")(setUp(spark, seed)))
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    var attempted = 0

    def check(name: String)(ok: => Boolean): Unit = {
      val passed = try ok catch { case e: Exception =>
        System.err.println(s"[bench] check $name threw: $e"); false }
      if (!passed) failures += name
    }

    val (walls, layers) = if (!traced) {
      val walls = rounds(seconds) {
        attempted += 1
        val (out, wall) = timed {
          val out = logged("pipeline")(trace.span("bdb.pipeline") {
            val r = Pipeline.run(in.tracking, Synth.output(in.tracking), in.supp)
            Seq(r.perPlay, r.routeFeatures).foreach(noop)
            // the two small outputs are consumed by collecting them, for the checks
            (r, r.scorecard.collect(), r.modelMetrics.collect())
          })
          logged("lstm score")(trace.span("ml.lstm_score")(noop(in.lstm.withResidual(in.labeled))))
          out
        }
        val (r, scorecard, metrics) = out
        logged("checks")(checkResult(r, scorecard, metrics, check))
        r.features.unpersist(true)
        wall
      }
      (walls, Map.empty[String, Double])
    } else {
      attempted += 1
      val (layers, wall) = timed(trace.window(phases(in, trace)))
      // probed on one game's frames: the op runs seven times
      val oneGame = in.labeled.filter(col("game_id") === 1)
      val overhead = overheadShare(trace)(noop(in.lstm.withResidual(oneGame)))
      (Seq(wall), layers + ("trace.overhead_share" -> overhead))
    }
    Seq(in.tracking, in.supp, in.labeled).foreach(_.unpersist(true))
    val known = logged("known answers")(knownAnswers(spark))
    Outcome(setupS, walls, in.frames.toDouble, median(walls), attempted, failures.toSeq,
      layers + ("ml.lstm_train_s" -> in.lstmTrainS), known = known)
  }

  private def checkResult(r: Pipeline.Result, scorecard: Array[Row], metrics: Array[Row],
      check: String => (=> Boolean) => Unit): Unit = {
    check("one_nearest_defender_per_receiver_frame") {
      val keys = Seq("game_id", "play_id", "nfl_id", "frame_id").map(col)
      val row = r.features.agg(count(lit(1)), countDistinct(keys.head, keys.tail: _*),
        count(col("defender_separation"))).head()
      row.getLong(0) == row.getLong(1) && row.getLong(0) == row.getLong(2) && row.getLong(0) > 0
    }
    check("scorecard_indices_within_0_100") {
      val cols = Seq("true_speed", "route_execution", "air_play_iq")
        .filter(r.scorecard.columns.contains)
      scorecard.nonEmpty && scorecard.forall(row => cols.forall { c =>
        val v = row.getAs[Any](c)
        v == null || { val d = v.asInstanceOf[Number].doubleValue; d >= 0 && d <= 100 }
      })
    }
    check("validation_r2_at_or_above_floor") {
      val r2 = metrics.head.getAs[Double]("r2")
      System.err.println(s"[bench] validation r2 = $r2")
      r2 >= R2Floor
    }
  }

  /** Digests of the deterministic phases on a fixed fixture input, which
    * run.py compares with the digests recorded in perfbench/expected.json:
    * labeled frames (normalize, kinematics, separation, labels), sequence
    * features and route features. */
  private def knownAnswers(spark: SparkSession): Map[String, String] = {
    val tracking = Inputs.tracking(spark, FixtureSeed, FixtureGames, FixturePlays).cache()
    val supp = Inputs.supplementary(tracking, FixtureSeed).cache()
    val (receivers, labeled0) = Pipeline.labeledFeatures(tracking, supp)
    val labeled = labeled0.cache()
    val out = Map(
      "bdb_fixture_labeled" -> labeled,
      "bdb_fixture_sequence_features" -> SequenceFeatures.add(labeled),
      "bdb_fixture_route_features" -> Routes.routeFeatures(routeFrames(receivers, supp))
    ).map { case (k, df) => k -> f"${roundedDigest(df)}%016x" }
    Seq(tracking, supp, labeled).foreach(_.unpersist(true))
    out
  }

  /** Pipeline.run's composition, phase by phase, each phase materialized
    * and cached under its own span, so each phase's figures are its own
    * (Pipeline.run caches only the labeled frames); returns the phase run's
    * ml figure. */
  private def phases(in: Inputs0, trace: Trace): Map[String, Double] = {
    val cached = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def keep(df: DataFrame): DataFrame = { val c = df.cache(); c.count(); cached += c; c }
    def sp[T](phase: String)(body: => T): T = logged(phase)(trace.span(s"bdb.$phase")(body))

    val frames = sp("normalize_kinematics")(keep(Kinematics.addDirectionChange(
      Kinematics.addFrameIndex(Kinematics.addBallGeometry(
        Kinematics.addVelocity(Normalize.notebookStyle(in.tracking)))))))
    val receivers = frames.filter(col("player_role") === "Targeted Receiver")
    val defenders = frames.filter(col("player_side") === "Defense")
    val separation = sp("separation")(keep(
      Separation.nearestDefenderPerFrame(receivers, defenders)))
    val labeled = sp("labels")(keep(Labels.addConvergeRate(
      Labels.filterToCompletedPasses(Separation.attachSeparation(receivers, separation),
        in.supp))))
    val routeFeats = sp("route_features")(keep(Routes.routeFeatures(
      routeFrames(receivers, in.supp))))
    val clustered = sp("route_kmeans") {
      val c = Routes.clusterRoutes(routeFeats, k = 4); keep(c.assigned)
    }
    val withIq = sp("route_exec_iq")(keep(Routes.routeExecIQ(Routes.routeDeviation(clustered))))
    val seq = sp("sequence_features")(keep(SequenceFeatures.add(labeled)))
    val (train, valid) = ModelEval.splitByGame(seq, 0.2)
    val model = sp("gbt_train")(GbtModel.train(train, features, maxIter = 100,
      maxDepth = 3, minInstancesPerNode = 10, subsamplingRate = 0.8))
    val scored = sp("gbt_score") {
      val s = keep(model.withResidual(seq))
      val scoredValid = model.withResidual(valid)
      val lastW = Window.partitionBy(Schemas.trajectoryKeys.map(col): _*)
      val causalValid = scoredValid
        .withColumn("__last", col("frame_id") === max(col("frame_id")).over(lastW))
        .filter(!col("__last")).drop("__last")
      ModelEval.regressionMetrics(scoredValid)
        .crossJoin(broadcast(ModelEval.regressionMetrics(causalValid)
          .select(col("r2").as("r2_excl_final"), col("rmse").as("rmse_excl_final"))))
        .collect()
      s
    }
    sp("scorecard") {
      val perPlay = Metrics.trueSpeedPerPlay(scored)
      val perPlaySep = scored.groupBy("game_id", "play_id", "nfl_id")
        .agg(avg("defender_separation").as("defender_separation"))
      val perPlayIq = Metrics.hybridAirPlayIq(perPlay.join(perPlaySep, Schemas.trajectoryKeys))
      val airIq = perPlayIq.groupBy("nfl_id").agg(avg("air_play_iq").as("air_play_iq"))
      val playerPlays = receivers
        .select("game_id", "play_id", "nfl_id", "player_name").distinct()
        .join(broadcast(in.supp), Schemas.playKeys)
        .join(perPlay.select("game_id", "play_id", "nfl_id", "residual_mean"),
          Schemas.trajectoryKeys, "left")
        .join(withIq.select("game_id", "play_id", "nfl_id", "route_exec_iq"),
          Schemas.trajectoryKeys, "left")
      val scorecard = Metrics.archetypes(Metrics.scorecard(playerPlays))
        .join(airIq, Seq("nfl_id"), "left")
      scorecard.collect(); noop(perPlayIq)
    }
    val lstmWall = trace.span("ml.lstm_score")(timed(noop(in.lstm.withResidual(in.labeled)))._2)
    cached.foreach(_.unpersist(true))
    Map("ml.lstm_score.frames_per_s" -> in.labeled.count() / lstmWall)
  }
}

object BdbPipeline {
  /** Season size: 8 games × 20 plays × 14 players, about 67 k frames
    * (see perfbench/NOTES.md for why). */
  private val Games = 8
  private val PlaysPerGame = 20
  private val LstmEpochs = 3
  /** Lowest validation R² accepted; seeds 201–211 gave 0.78–0.89. */
  private val R2Floor = 0.5
  /** The fixed input of the known-answer digests. */
  private val FixtureSeed = 0L
  private val FixtureGames = 2
  private val FixturePlays = 6

  private val features = Seq("dist_to_ball", "heading_align_cos", "vx", "vy", "s",
    "defender_separation", "time_since_start") ++ SequenceFeatures.cols

  /** Receiver frames of plays with a real route, as Pipeline.run feeds
    * Routes.routeFeatures. */
  private def routeFrames(receivers: DataFrame, supp: DataFrame): DataFrame =
    receivers.join(
      broadcast(supp.filter(!col("route_of_targeted_receiver")
        .isin(Schemas.junkRoutes: _*)).select("game_id", "play_id")),
      Schemas.playKeys, "left_semi")

  private final case class Inputs0(tracking: DataFrame, supp: DataFrame,
      labeled: DataFrame, lstm: TrainedLstmModel, frames: Long, lstmTrainS: Double)
}
