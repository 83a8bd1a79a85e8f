package graft.perfbench

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.pipeline.DataQuality

/** The benchmark's own checks of its inputs and its independent check;
  * run by perfbench/test_perfbench.py. Exits non-zero on the first failure. */
object SelfTest {
  private def check(what: String)(ok: => Boolean): Unit = {
    require(ok, s"self-test failed: $what")
    println(s"ok  $what")
  }

  def main(args: Array[String]): Unit = {
    check("the bar generator is deterministic per seed") {
      Bars.generate(7, 3, 200) == Bars.generate(7, 3, 200) &&
        Bars.generate(7, 3, 200) != Bars.generate(8, 3, 200)
    }
    check("a longer series extends a shorter one (the re-run's new file)") {
      Bars.series(7, 1, 224).take(200) == Bars.series(7, 1, 200)
    }
    check("bars are well formed: low <= open, close <= high; volume > 0") {
      Bars.generate(3, 4, 500).forall(b => b.low <= math.min(b.open, b.close)
        && math.max(b.open, b.close) <= b.high && b.volume > 0)
    }

    // the independent OLS check recovers an exact linear relation and
    // tells a forecast off by a cent from one within the contract's rounding
    val exact = {
      val rnd = new java.util.Random(5)
      val feats = (0 until 60).map(_ => Array.fill(4)(10 + rnd.nextDouble()))
        .map(f => f.updated(3, math.floor(f(3) * 1000)))
      def next(f: Array[Double]) =
        1.5 + 0.3 * f(0) - 0.2 * f(1) + 0.7 * f(2) + 0.0001 * f(3)
      feats.indices.map { i =>
        val f = feats(i)
        val close = if (i == 0) 10.0 else next(feats(i - 1))
        Bar("X", Bars.startMs + i * Bars.hourMs, f(0), f(1), f(2), close,
          f(3).toLong)
      }
    }
    val fit = OlsCheck.fit("X", exact)
    val truth = 1.5 + 0.3 * exact(58).open - 0.2 * exact(58).high +
      0.7 * exact(58).low + 0.0001 * exact(58).volume
    check("OLS check recovers an exact linear fit") {
      math.abs(fit.predictedClose - truth) < 1e-6 && fit.mse < 1e-12
    }
    val want = Map("X" -> fit)
    def got(dp: Double) = Map("X" -> fit.copy(
      predictedClose = math.rint(fit.predictedClose * 100) / 100 + dp))
    check("OLS check accepts the contract's rounding, rejects a cent off") {
      OlsCheck.mismatches(want, got(0)).isEmpty &&
        OlsCheck.mismatches(want, got(0.01)).nonEmpty &&
        OlsCheck.mismatches(want, Map.empty).nonEmpty
    }

    check("every query is in exactly one listed pack") {
      val listed = QueryMix.packs.flatMap(_._2.defs.keys)
      listed.length == listed.distinct.length &&
        listed.toSet == SparkEntry.queries.keySet
    }
    check("the warm order is deterministic per seed; only its order moves") {
      QueryMix.warmOrder(11, 3) == QueryMix.warmOrder(11, 3) &&
        QueryMix.warmOrder(11, 3).sorted == QueryMix.mix.sorted &&
        (3 to 12).map(QueryMix.warmOrder(11, _)).distinct.length > 1
    }
    check("the mix takes one query from each of the four largest packs") {
      QueryMix.mix.map(QueryMix.packOf).sorted == QueryMix.largestPacks.sorted
    }

    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false").getOrCreate()
    try {
      spark.sparkContext.setLogLevel("ERROR")
      val df = Bars.toDF(spark, Bars.generate(9, 3, 100))
      check("generated bars have the canonical schema") {
        df.columns.toSeq ==
          Seq("symbol", "Datetime", "Open", "High", "Low", "Close", "Volume")
      }
      check("generated bars pass DataQuality.barChecks") {
        DataQuality.report(df, DataQuality.barChecks).collect()
          .forall(_.getAs[Boolean]("passed"))
      }
    } finally spark.stop()
  }
}
