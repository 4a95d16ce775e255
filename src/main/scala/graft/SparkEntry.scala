package graft

import graft.gates._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — the declared operator surface (SURVEY.md §2) with a
  * DuckDB oracle per SQL-expressible query. Each gate is one [[Gate]]
  * record in its family's module under `graft.gates`; the maps below are
  * derived from those records, so a gate's name is written once. */
object SparkEntry {

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q01_pricing_summary")(spark, "/root/testdata/sf0.001")

  /** Every gate, family by family in README's gate-index order. */
  val gates: Seq[Gate] =
    RelationalGates.all ++ DocTextGates.all ++ DocQualityGates.all ++
      DocDedupGates.all ++ DocCurationGates.all ++ DedupGates.all ++
      SimilarityGates.all ++ TokenizeGates.all ++ StreamingGates.all ++
      EventGates.all ++ MultimodalGates.all ++ GraphGates.all ++
      SourceGates.all ++ PrivacyGates.all ++ JoinGates.all

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    gates.map(g => g.name -> g.build).toMap

  def oracleSql: Map[String, String] = gates.map(g => g.name -> g.oracle).toMap

  def oracleSqlScale: Map[String, String] =
    gates.flatMap(g => g.scaleTwin.map(g.name -> _)).toMap

  /** The queries a dev run names in a comma-separated list, or all of
    * them when there is no list. Fails listing every unknown name: a
    * typo must not quietly run zero gates. */
  def select(names: Option[String]): Map[String, (SparkSession, String) => DataFrame] =
    names.fold(queries) { csv =>
      val all = queries
      val wanted = csv.split(",").map(_.trim).toSet
      val unknown = wanted -- all.keySet
      require(unknown.isEmpty,
        s"unknown gate name(s): ${unknown.toSeq.sorted.mkString(", ")}")
      all.filter { case (n, _) => wanted(n) }
    }
}
