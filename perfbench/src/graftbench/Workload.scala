package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** What a workload hands back to [[Main]]: timings, the operation tally,
  * the per-layer figures its traced run measured, the results run.py checks
  * against the DuckDB oracle, and the known answers it checks against
  * perfbench/expected.json. */
final case class Outcome(
    setupS: Double,
    roundWalls: Seq[Double],
    items: Double,
    itemSeconds: Double,
    attempted: Int,
    failures: Seq[String],
    layers: Map[String, Double],
    oracle: Map[String, String] = Map.empty,
    oracleDir: String = "",
    known: Map[String, String] = Map.empty)

trait Workload {
  def run(spark: SparkSession, trace: Trace, seed: Long, seconds: Double,
      traced: Boolean, work: java.io.File): Outcome
}

object Workload {
  /** Consume every column of `df` without keeping the rows. */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else { val s = xs.sorted; s(s.size / 2) }

  /** Run `round` until `seconds` have passed, at least once; its walls. */
  def rounds(seconds: Double)(round: => Double): Seq[Double] = {
    val t0 = System.nanoTime()
    val out = scala.collection.mutable.ArrayBuffer(round)
    while ((System.nanoTime() - t0) / 1e9 < seconds) out += round
    out.toSeq
  }

  /** A progress line in the run log. */
  def log(msg: String): Unit =
    System.err.println(s"[bench] ${java.time.LocalTime.now()} $msg")

  /** `body` and its wall, logged under `what`. */
  def logged[T](what: String)(body: => T): T = {
    val (r, s) = timed(body)
    log(f"$what%-28s $s%8.3f s")
    r
  }

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Tracing overhead as a share of the untraced time: `op` is run once to
    * warm, then three times each with the listeners detached and attached,
    * alternating; medians are compared. */
  def overheadShare(trace: Trace)(op: => Unit): Double = {
    op
    val pairs = (1 to 3).map { _ =>
      trace.detach()
      val off = timed(op)._2
      trace.attach()
      (off, timed(op)._2)
    }
    val off = median(pairs.map(_._1))
    (median(pairs.map(_._2)) - off) / off
  }

  /** Order-independent digest of a frame: the sum of 64-bit row hashes,
    * with doubles rounded to six decimals so that a change in the order of
    * a floating-point sum does not change it. */
  def roundedDigest(df: DataFrame): Long = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val cols = df.schema.fields.toSeq.map { f =>
      val c = col(s"`${f.name}`")
      f.dataType match {
        case DoubleType | FloatType => round(c, 6)
        case ArrayType(DoubleType | FloatType, _) => transform(c, x => round(x, 6))
        case _ => c
      }
    }
    Option(df.agg(sum(xxhash64(cols: _*).cast("decimal(38,0)"))).head().getDecimal(0))
      .map(_.longValue).getOrElse(0L)
  }

  def deleteTree(f: java.io.File): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(f)
}
