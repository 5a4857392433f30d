package graft

/** The query registry split by family object, in `SparkEntry`'s order.
  * The family objects are package-private, so the benchmark reads them
  * from inside the package. */
object PerfbenchFamilies {
  val families: Seq[(String, Seq[String])] = Seq(
    "relational" -> queries.RelationalQueries.queries,
    "text" -> queries.TextQueries.queries,
    "dedup" -> queries.DedupQueries.queries,
    "similarity" -> queries.SimilarityQueries.queries,
    "curation" -> queries.CurationQueries.queries,
    "eval" -> queries.EvalQueries.queries,
    "stats" -> queries.StatsQueries.queries,
    "events" -> queries.EventsQueries.queries,
    "profiling" -> queries.ProfilingQueries.queries,
    "tradein" -> TradeInQueries.queries,
    "media" -> MediaQueries.queries,
  ).map { case (family, qs) => family -> qs.keys.toSeq.sorted }
}
