package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded benchmark inputs. The same seed gives the same inputs; the program
  * under test only ever sees the generated frames. */
object Inputs {

  /** Tracking frames with the columns and invariants of `graft.bdb.Synth`
    * (contiguous frame_id per trajectory, one targeted receiver per play,
    * constant ball_land and direction per play, 14 players per play), but
    * with the seed mixed into every per-play and per-player hash, so each
    * seed draws a different season. Game ids stay 1..nGames, which keeps
    * the game-level train/validation split of the pipeline non-empty. */
  def tracking(spark: SparkSession, seed: Long, nGames: Int,
      playsPerGame: Int): DataFrame = {
    val s = lit(seed)
    def h(cols: org.apache.spark.sql.Column*) = hash((cols :+ s): _*)
    val plays = spark.range(0, nGames.toLong * playsPerGame)
      .select(
        (col("id") / playsPerGame + 1).cast("long").as("game_id"),
        (col("id") % playsPerGame + 1).cast("long").as("play_id"))
      .withColumn("n_frames", pmod(h(col("game_id"), col("play_id")), lit(21)) + 20)
      .withColumn("play_direction",
        when(pmod(h(col("game_id"), col("play_id"), lit(0)), lit(2)) === 0, "left")
          .otherwise("right"))
      .withColumn("ball_land_x",
        lit(40.0) + pmod(h(col("game_id"), col("play_id"), lit(1)), lit(400)) / 10.0)
      .withColumn("ball_land_y",
        lit(10.0) + pmod(h(col("game_id"), col("play_id"), lit(2)), lit(330)) / 10.0)

    plays
      .crossJoin(spark.range(1, 15).select(col("id").as("pidx")))
      .withColumn("nfl_id", col("game_id") * 100 + col("pidx"))
      .withColumn("player_side", when(col("pidx") <= 7, "Offense").otherwise("Defense"))
      .withColumn("player_role",
        when(col("pidx") === 1, "Targeted Receiver")
          .when(col("pidx") <= 7, "Other Route Runner")
          .otherwise("Defensive Coverage"))
      .withColumn("player_to_predict", col("pidx") === 1)
      .withColumn("player_position",
        when(col("pidx") === 1, "WR").when(col("pidx") <= 7, "TE").otherwise("CB"))
      .withColumn("player_name", concat(lit("Player "), col("nfl_id")))
      .withColumn("frame_id", explode(sequence(lit(1L), col("n_frames"))))
      .withColumn("x0", lit(20.0) + pmod(h(col("nfl_id"), col("play_id")), lit(200)) / 10.0)
      .withColumn("y0", lit(5.0) + pmod(h(col("nfl_id"), col("game_id"), col("play_id")),
        lit(430)) / 10.0)
      .withColumn("prog", col("frame_id") / col("n_frames"))
      .withColumn("x", col("x0") + (col("ball_land_x") - col("x0")) * col("prog") * 0.8)
      .withColumn("y", col("y0") + (col("ball_land_y") - col("y0")) * col("prog") * 0.8)
      .withColumn("s", pmod(h(col("nfl_id"), col("play_id"), col("frame_id")), lit(90)) / 10.0)
      .withColumn("a", lit(0.0))
      .withColumn("dir",
        pmod(degrees(atan2(col("ball_land_x") - col("x"), col("ball_land_y") - col("y"))),
          lit(360.0)))
      .withColumn("o", col("dir"))
      .withColumn("absolute_yardline_number",
        (pmod(h(col("play_id"), lit(7)), lit(99)) + 1).cast("long"))
      .withColumn("player_height", concat(lit("6-"), pmod(hash(col("nfl_id")), lit(6))))
      .withColumn("player_weight", (pmod(hash(col("nfl_id"), lit(8)), lit(80)) + 180).cast("long"))
      .withColumn("player_birth_date",
        concat(lit("199"), pmod(hash(col("nfl_id"), lit(9)), lit(10)), lit("-06-15")))
      .withColumn("num_frames_output",
        (pmod(h(col("game_id"), col("play_id"), lit(10)), lit(20)) + 5).cast("long"))
      .select("game_id", "play_id", "player_to_predict", "nfl_id", "frame_id",
        "play_direction", "absolute_yardline_number", "player_name",
        "player_height", "player_weight", "player_birth_date",
        "player_position", "player_side", "player_role",
        "x", "y", "s", "a", "dir", "o",
        "num_frames_output", "ball_land_x", "ball_land_y")
  }

  /** Play context for [[tracking]]: the `graft.bdb.Synth.supplementary`
    * columns, with the seed mixed into the pass-result and route draws. */
  def supplementary(tracking: DataFrame, seed: Long): DataFrame = {
    val s = lit(seed)
    def h(i: Int) = hash(col("game_id"), col("play_id"), lit(i), s)
    val routes = array(Seq("GO", "POST", "OUT", "SLANT", "CROSS", "HITCH",
      "CORNER", "SCREEN", "FLAT").map(lit): _*)
    tracking.select("game_id", "play_id").distinct()
      .withColumn("pass_result",
        when(pmod(h(3), lit(4)) <= 1, "C").when(pmod(h(3), lit(4)) === 2, "I").otherwise("IN"))
      .withColumn("route_of_targeted_receiver",
        element_at(routes, (pmod(h(4), lit(9)) + 1).cast("int")))
      .withColumn("yards_gained", pmod(h(5), lit(35)).cast("long"))
      .withColumn("expected_points_added", pmod(h(6), lit(100)) / 20.0 - 2.0)
  }

  /** A document arrival stream: `n` documents drawn from `pool` in a seeded
    * order, of which a seeded share are edited copies of a document that
    * arrived earlier (one word dropped), so the ingest sees both natural and
    * injected near-duplicates. Ids are the arrival positions. */
  def docStream(pool: Seq[String], seed: Long, n: Int,
      dupShare: Double): IndexedSeq[(Long, String)] = {
    val rnd = new scala.util.Random(seed)
    val order = rnd.shuffle(pool.indices.toVector)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    var next = 0
    while (out.size < n) {
      val text =
        if (out.size > 0 && rnd.nextDouble() < dupShare) {
          val words = out(rnd.nextInt(out.size))._2.split(' ')
          if (words.length > 3) words.patch(rnd.nextInt(words.length), Nil, 1).mkString(" ")
          else words.mkString(" ") + " again"
        } else { next += 1; pool(order((next - 1) % order.size)) }
      out += ((out.size.toLong, text))
    }
    out.toIndexedSeq
  }

  /** The seeded query order: a permutation of `names`. */
  def queryOrder[A](items: Seq[A], seed: Long): Seq[A] =
    new scala.util.Random(seed ^ 0x5DEECE66DL).shuffle(items)

  def rowsOf(spark: SparkSession, docs: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    docs.toDF("doc_id", "text")
  }
}
