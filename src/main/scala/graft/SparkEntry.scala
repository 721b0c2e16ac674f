package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.functions.GraftFunctions
import graft.operators.{Analytics, Core, Curation, Dedup, Extensions, Graph, Multimodal, Pipeline, Portfolio, Similarity, Stats, TextOps}
import graft.streaming.EventStream

/** One declared query: its key, its Spark body, and the DuckDB-equivalent
  * ANSI SQL over the same parquet tables (column names/aliases match the
  * Spark result exactly; the driver sorts columns by name before hashing).
  * The body is a pure `(SparkSession, sfDir) => DataFrame` with
  * deterministic multiset output. */
final case class Q(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: String)

/** Driver contract — see SURVEY.md §7. `queries` and `oracleSql` are both
  * derived from the one `registry`, so a key can't exist in one and not
  * the other. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The reference's flagship is the denormalization join feeding
    * employees_by_dept (reference README.md:892-985) → q09. */
  def entry(spark: SparkSession): DataFrame =
    Core.q09DenormJoin(spark, "/root/testdata/sf0.001")

  /** Every declared query, each exactly once: a name declared twice fails
    * here, at load, instead of one declaration silently shadowing the
    * other. */
  val registry: Seq[Q] = {
    val all = Seq(Core.registry, Extensions.registry, Dedup.registry,
      Similarity.registry, TextOps.registry, Multimodal.registry,
      Pipeline.registry, Graph.registry, Analytics.registry,
      Stats.registry, Portfolio.registry, Curation.registry,
      EventStream.registry).flatten
    val dups = all.groupBy(_.name).collect {
      case (n, qs) if qs.sizeIs > 1 => n
    }
    require(dups.isEmpty,
      s"query names declared twice: ${dups.toSeq.sorted.mkString(", ")}")
    all
  }

  /** Each body runs after the native functions are registered in its
    * session, so whether they resolve never depends on which query ran
    * before it. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { q =>
      q.name -> { (s: SparkSession, d: String) =>
        GraftFunctions.registerAll(s)
        q.run(s, d)
      }
    }.toMap

  val oracleSql: Map[String, String] =
    registry.map(q => q.name -> q.oracle).toMap
}
