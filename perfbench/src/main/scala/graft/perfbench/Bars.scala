package graft.perfbench

import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** One hourly bar in the pipeline's canonical input schema. */
final case class Bar(symbol: String, epochMs: Long, open: Double,
    high: Double, low: Double, close: Double, volume: Long)

/** Seeded bar generator: a geometric random walk per symbol, hourly bars
  * from a fixed start. A symbol's series depends only on (seed, symbol
  * index), and a longer series extends a shorter one, so the daily
  * re-run's new raw file is the same history plus one more day. */
object Bars {
  val startMs: Long = Instant.parse("2024-01-02T00:00:00Z").toEpochMilli
  val hourMs: Long = 3600L * 1000L
  val barsPerDay = 24

  def symbol(i: Int): String = f"S$i%04d"

  def series(seed: Long, index: Int, n: Int): IndexedSeq[Bar] = {
    val rnd = new SplittableRandom(seed * 1000003L + index)
    var close = 20.0 + 480.0 * rnd.nextDouble()
    val baseVolume = 1e4 * math.exp(3.0 * rnd.nextDouble())
    (0 until n).map { t =>
      def z(): Double = gaussian(rnd)
      val open = round4(close * (1.0 + 0.0005 * z()))
      val c = round4(open * math.exp(0.004 * z()))
      val high = round4(math.max(open, c) * (1.0 + 0.002 * math.abs(z())))
      val low = round4(math.min(open, c) * (1.0 - 0.002 * math.abs(z())))
      val volume = math.round(baseVolume * math.exp(0.5 * z()))
      close = c
      Bar(symbol(index), startMs + t * hourMs, open, high, low, c, volume)
    }
  }

  def generate(seed: Long, symbols: Int, n: Int): IndexedSeq[Bar] =
    (0 until symbols).flatMap(series(seed, _, n))

  private def gaussian(rnd: SplittableRandom): Double = {
    // Box-Muller; SplittableRandom has no nextGaussian on JDK 17
    val u = 1.0 - rnd.nextDouble()
    math.sqrt(-2.0 * math.log(u)) * math.cos(2.0 * math.Pi * rnd.nextDouble())
  }

  private def round4(x: Double): Double = math.rint(x * 1e4) / 1e4

  val schema: StructType = StructType(Seq(
    StructField("symbol", StringType, nullable = false),
    StructField("Datetime", TimestampType, nullable = false),
    StructField("Open", DoubleType, nullable = false),
    StructField("High", DoubleType, nullable = false),
    StructField("Low", DoubleType, nullable = false),
    StructField("Close", DoubleType, nullable = false),
    StructField("Volume", LongType, nullable = false)))

  def toDF(spark: SparkSession, bars: Seq[Bar]): DataFrame = {
    val rows = bars.map(b => Row(b.symbol, new java.sql.Timestamp(b.epochMs),
      b.open, b.high, b.low, b.close, b.volume))
    spark.createDataFrame(spark.sparkContext.parallelize(rows,
      spark.sparkContext.defaultParallelism), schema)
  }
}

/** One row of the predictions zone. */
final case class Prediction(symbol: String, predictedClose: Double,
    lastDate: String, mse: Double)

/** The independent check: per-symbol OLS of the next close on
  * [open, high, low, volume] plus an intercept, computed in plain Scala on
  * the driver from the generated bars. It solves the centred least-squares
  * problem by Householder QR rather than the engine's normal equations, so
  * the two share no numerics. */
object OlsCheck {
  private val fmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
    .withZone(ZoneOffset.UTC)

  def expected(bars: Seq[Bar]): Map[String, Prediction] =
    bars.groupBy(_.symbol).map { case (sym, bs) =>
      sym -> fit(sym, bs.sortBy(_.epochMs).toIndexedSeq)
    }

  /** Fit on the (bar, next close) pairs; forecast from the last pair, as the
    * predictions contract does. */
  def fit(sym: String, bs: IndexedSeq[Bar]): Prediction = {
    val n = bs.length - 1
    require(n >= 2, s"$sym: need at least 3 bars, got ${bs.length}")
    val x = Array.tabulate(n, 4) { (i, j) =>
      val b = bs(i)
      j match { case 0 => b.open; case 1 => b.high; case 2 => b.low
                case _ => b.volume.toDouble }
    }
    val y = Array.tabulate(n)(i => bs(i + 1).close)
    val mx = Array.tabulate(4)(j => x.map(_(j)).sum / n)
    val my = y.sum / n
    val a = Array.tabulate(n, 4)((i, j) => x(i)(j) - mx(j))
    val beta = leastSquares(a, y.map(_ - my))
    val b0 = my - (0 until 4).map(j => beta(j) * mx(j)).sum
    def predict(row: Array[Double]): Double =
      b0 + (0 until 4).map(j => beta(j) * row(j)).sum
    val mse = (0 until n).map { i => val r = y(i) - predict(x(i)); r * r }
      .sum / n
    Prediction(sym, predict(x(n - 1)), fmt.format(
      Instant.ofEpochMilli(bs(n - 1).epochMs)), mse)
  }

  /** Householder QR least squares, columns scaled to unit norm first. */
  private def leastSquares(a0: Array[Array[Double]], b0: Array[Double])
      : Array[Double] = {
    val m = a0.length
    val k = a0(0).length
    val scale = Array.tabulate(k)(j =>
      math.max(math.sqrt(a0.map(r => r(j) * r(j)).sum), 1e-300))
    val a = a0.map(r => Array.tabulate(k)(j => r(j) / scale(j)))
    val b = b0.clone()
    for (j <- 0 until k) {
      val norm = math.sqrt((j until m).map(i => a(i)(j) * a(i)(j)).sum)
      val alpha = if (a(j)(j) > 0) -norm else norm
      val v = Array.tabulate(m - j)(i => a(i + j)(j))
      v(0) -= alpha
      val vv = v.map(e => e * e).sum
      if (vv > 0) {
        for (c <- j until k) {
          val d = 2 * (0 until m - j).map(i => v(i) * a(i + j)(c)).sum / vv
          for (i <- 0 until m - j) a(i + j)(c) -= d * v(i)
        }
        val d = 2 * (0 until m - j).map(i => v(i) * b(i + j)).sum / vv
        for (i <- 0 until m - j) b(i + j) -= d * v(i)
      }
    }
    val beta = new Array[Double](k)
    for (j <- k - 1 to 0 by -1) {
      val s = (j + 1 until k).map(c => a(j)(c) * beta(c)).sum
      beta(j) = (b(j) - s) / a(j)(j)
    }
    Array.tabulate(k)(j => beta(j) / scale(j))
  }

  /** Mismatches of `got` against `want`, within the contract's rounding
    * (predicted_close to 2 places, mse to 4) plus a small numeric slack. */
  def mismatches(want: Map[String, Prediction],
      got: Map[String, Prediction]): Seq[String] = {
    def off(w: Double, g: Double, half: Double): Boolean =
      !(math.abs(w - g) <= half + 1e-6 * math.max(1.0, math.abs(w)))
    val missing = (want.keySet -- got.keySet).toSeq.map(s => s"$s: missing")
    val extra = (got.keySet -- want.keySet).toSeq.map(s => s"$s: unexpected")
    val wrong = want.keySet.intersect(got.keySet).toSeq.flatMap { s =>
      val (w, g) = (want(s), got(s))
      if (w.lastDate != g.lastDate || off(w.predictedClose, g.predictedClose,
          0.005) || off(w.mse, g.mse, 0.00005)) Some(s"$s: want $w got $g")
      else None
    }
    (missing ++ extra ++ wrong).sorted
  }
}
