package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered query: the Spark implementation plus (when SQL-expressible)
  * the equivalent DuckDB oracle SQL over the same parquet tables. Column names
  * MUST match between the two — the driver sorts columns by name then hashes
  * values. Every query ends with a deterministic ORDER BY over a unique key so
  * the row order is oracle-stable. */
final case class QueryDef(
    name: String,
    doc: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    /** Excluded from the timed bench sweep (still verified by Verify +
      * selfcheck). For queries whose work a still-timed query contains:
      * the ANN paths x34/x35/x38/x39/x109 (stages of x363's residual PQ)
      * and the streaming parity drains x133, x138, x207 and x231 (special
      * cases of x323, x242, the TWS ValueState queries and x362). Timing
      * them re-measures the same operators; verification is unaffected. */
    benchSkip: Boolean = false)

/** Every registered query, grouped by operator family. The ten families
  * that perfbench's analytics mix samples (`relational` … `pipeline`) come
  * first, spelled as in its `MIX_POOL`, then the five it does not sample.
  * Each family is one `<Family>Queries` object; a family too large for one
  * file is split into objects named by topic (stats: `TimeSeriesQueries`;
  * analytics: `ExperimentQueries`), listed here under the family.
  *
  * A query that fits two families lives where its main operator lives:
  * a streaming-vs-batch parity check is `streaming` whatever it computes,
  * a media decode is `multimodal`, an estimator audited against the
  * engine's own statistics is `engine_ops`. Helpers live with the family
  * whose queries use them most; other families call them qualified. */
object Registry {
  import queries._

  lazy val families: Seq[(String, Seq[QueryDef])] = Seq(
    "relational" -> RelationalQueries.defs,
    "etl" -> EtlQueries.defs,
    "text" -> TextQueries.defs,
    "dedup" -> DedupQueries.defs,
    "similarity" -> SimilarityQueries.defs,
    "retrieval" -> RetrievalQueries.defs,
    "graph" -> GraphQueries.defs,
    "streaming" -> StreamingQueries.defs,
    "multimodal" -> MultimodalQueries.defs,
    "pipeline" -> PipelineQueries.defs,
    "stats" -> (StatsQueries.defs ++ TimeSeriesQueries.defs),
    "analytics" -> (AnalyticsQueries.defs ++ ExperimentQueries.defs),
    "training" -> TrainingQueries.defs,
    "curation" -> CurationQueries.defs,
    "engine_ops" -> EngineOpsQueries.defs)

  lazy val all: Seq[QueryDef] = families.flatMap(_._2)

  lazy val byName: Map[String, QueryDef] = all.map(q => q.name -> q).toMap
}
