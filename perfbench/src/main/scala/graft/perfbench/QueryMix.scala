package graft.perfbench

import graft.QueryPack
import graft.queries._

/** The query side of a workload: a mix of `SparkEntry.queries`, stratified
  * by query pack. */
object QueryMix {
  val packs: Seq[(String, QueryPack)] = Seq(
    "ArrayQueries" -> ArrayQueries, "CoreQueries" -> CoreQueries,
    "CorpusStatsQueries" -> CorpusStatsQueries,
    "CurationQueries" -> CurationQueries, "DedupQueries" -> DedupQueries,
    "EvalQueries" -> EvalQueries, "EventOpsQueries" -> EventOpsQueries,
    "ExtraQueries" -> ExtraQueries, "FlagshipQueries" -> FlagshipQueries,
    "GraphQueries" -> GraphQueries, "JoinQueries" -> JoinQueries,
    "MultimodalQueries" -> MultimodalQueries,
    "QualityModelQueries" -> QualityModelQueries,
    "QualityQueries" -> QualityQueries, "ScaleQueries" -> ScaleQueries,
    "SimilarityQueries" -> SimilarityQueries,
    "TemporalQueries" -> TemporalQueries, "TextQueries" -> TextQueries,
    "TpchQueries" -> TpchQueries)

  /** The mix: one query from each of the four largest packs, which hold
    * two fifths of all queries. Each pack's query is its median by warm
    * build + noop-write latency at sf0.01 (4 cores, measured when the mix
    * was chosen), so the mix is typical of its packs and fits a run's time.
    * Membership is fixed: query costs span two orders of magnitude, so a
    * seeded draw would move the mix's total more than a change under test
    * does. */
  val mix: Seq[String] = Seq("q252_capped_balance", "q159_boilerplate_prefix",
    "q207_dominant_supplier", "q378_label_noise_ann")

  /** The packs the mix draws from: the four with the most queries. */
  def largestPacks: Seq[String] =
    packs.sortBy { case (n, p) => (-p.defs.size, n) }.take(4).map(_._1)

  /** The run order of warm pass `pass`: the mix shuffled by (seed, pass).
    * Cold and next-day passes run the mix as listed: the first query of a
    * process pays the process's warm-up, so a seeded order there would move
    * the cold total with the seed. */
  def warmOrder(seed: Long, pass: Int): Seq[String] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(mix)

  def packOf(query: String): String =
    packs.collectFirst { case (n, p) if p.defs.contains(query) => n }
      .getOrElse(sys.error(s"$query is in no listed pack"))
}
