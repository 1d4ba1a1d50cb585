package graftbench

/** Loads the classes a session start and a first query need, so that the
  * build can dump them into the class-data-sharing archive every measured
  * run maps: starts the session as [[Main]] does, runs one shuffle, one
  * parquet round trip and one testdata read, and stops.
  *
  * Usage: Warm --data <sf dir> --work <dir> */
object Warm {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = new java.io.File(opt("work"))
    val spark = Main.session(opt("data"), work)
    val out = new java.io.File(work, "warm").getPath
    spark.range(10000).selectExpr("id % 7 AS k", "id").groupBy("k").count()
      .write.mode("overwrite").parquet(out)
    spark.read.parquet(out).collect()
    graft.sources.Tables.documents(spark, opt("data")).limit(5).collect()
    spark.stop()
  }
}
