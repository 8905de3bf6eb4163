package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.spark.{Queries, S2Data, S2Functions, S2Join}

/** Query entry-point contract — see SURVEY.md §7. */
object SparkEntry {

  /** Flagship query (reference README.md:14-19): countries x cities spatial
    * join via the cover-then-refine plan; 210 rows expected. */
  def entry(spark: SparkSession): DataFrame = {
    import spark.implicits._
    S2Functions.register(spark)
    val countries = S2Data.countries(spark).select($"name".as("country"), $"geog".as("cgeog"))
    val cities = S2Data.cities(spark).select($"name".as("city"), $"geog")
    S2Join.intersects(countries, "cgeog", cities, "geog", level = 4)
      .select("country", "city")
  }

  /** One entry per implemented operator from SURVEY.md §2 + LLM ops. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Queries.all.map { case (n, q, _) => n -> q }.toMap

  /** DuckDB-equivalent SQL per query (driver's correctness oracle). */
  def oracleSql: Map[String, String] =
    Queries.all.collect { case (n, _, Some(o)) => n -> o }.toMap
}
