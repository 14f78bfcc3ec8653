package graft.etl

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** FillMissingCountryData (J12; /root/reference/synth/etl.py:674-769):
  * resolve a free-text town to a country code against a geonames-style city
  * table.
  *
  * Resolution precedence (reference order preserved):
  *  1. manual override map (unmatched_home_institutions.json, etl.py:714-715)
  *  2. exact match of lower(trim(town)) against name ∪ alternatenames
  *  3. delimiter fallback — split on `", "`, `" - "`, `". "` IN ORDER and
  *     match the first segment; the first delimiter that yields candidates
  *     wins (etl.py:721-728)
  *  4. ambiguity: all candidates same country → that country; otherwise the
  *     max-population candidate wins (etl.py:731-750 — including its
  *     documented Islamabad-style mismatch, which is semantics, not a bug)
  *
  * Spark shape: the per-town linear scan over ~25k cities (find_cities,
  * etl.py:689-696) becomes one explode of name variants + an equi-join.
  * Each town that needs a country explodes to its stage keys — the exact
  * key and one key per delimiter, tagged by stage — and those join the
  * city variants once. One `groupBy(town)` resolves every stage with
  * per-stage conditional aggregates, precedence is a coalesce over the
  * manual map and the stages in order, and the per-town result is
  * broadcast-joined back on the town. O(towns + cities), no per-town
  * loop — at 100 TB the towns side streams.
  */
object Geo {

  /** Explode the city table to one row per lowercase name variant. */
  def cityVariants(cities: DataFrame): DataFrame =
    cities.select(
      explode(array_union(array(col("name")),
        col("alternatenames").cast("array<string>"))).as("variant"),
      col("countrycode"), col("population"))
      .select(lower(col("variant")).as("variant"), col("countrycode"), col("population"))

  /** Fill home_institution_country where NULL/empty and a town is present
    * (etl.py:752-769). `manual` maps town (verbatim, pre-trim — matching the
    * reference's `town in manually_mapped`) → country code; `countryMapping`
    * maps code → Country id (J7).
    */
  def fillMissingCountry(
      visitorProject: DataFrame, cities: DataFrame,
      manual: Map[String, String], countryMapping: DataFrame): DataFrame = {

    val town = col("geo_town")
    val towns = visitorProject
      .filter((col("home_institution_country").isNull ||
        col("home_institution_country") === 0) && col("home_institution_town").isNotNull &&
        col("home_institution_town") =!= "")
      .select(col("home_institution_town").as("geo_town"))

    // stage 0: the exact key; stage i: the first segment of the split on
    // delimiter i, when the town contains it (else no key)
    val delims = Seq(", ", " - ", ". ")
    def stageKey(stage: Int, key: Column) = struct(lit(stage).as("stage"), key.as("key"))
    val stageKeys = stageKey(0, lower(trim(town))) +: delims.zipWithIndex.map { case (d, i) =>
      val parts = split(town, java.util.regex.Pattern.quote(d))
      stageKey(i + 1, when(size(parts) > 1, lower(trim(element_at(parts, 1)))))
    }
    val keyed = towns
      .select(town, explode(array(stageKeys: _*)).as("k"))
      .select(town, col("k.stage").as("stage"), col("k.key").as("key"))
      .filter(col("key").isNotNull)

    // left: every town keeps its exact-key row, so a town resolved only by
    // the manual map still reaches the coalesce
    val variants = cityVariants(cities)
    val candidates = keyed.join(variants, keyed("key") === variants("variant"), "left")

    // per stage: candidates all in one country → that country, otherwise
    // the max-population candidate's. One country ⇔ min = max over the
    // non-null codes; with no code both are NULL and max_by decides, as a
    // distinct-country count of 0 would.
    val stages = 0 to delims.size
    def inStage(s: Int, c: Column): Column = when(col("stage") === s, c)
    val cc = col("countrycode")
    val aggs = stages.flatMap { s =>
      Seq(min(inStage(s, cc)).as(s"lo$s"), max(inStage(s, cc)).as(s"hi$s"),
        max_by(inStage(s, cc), inStage(s, struct(col("population"), cc))).as(s"big$s"))
    }
    val perStage = candidates.groupBy(town).agg(aggs.head, aggs.tail: _*)
    val code = coalesce(
      element_at(typedLit(manual), town) +:
        stages.map(s => when(col(s"lo$s") === col(s"hi$s"), col(s"lo$s")).otherwise(col(s"big$s"))): _*)

    val updates = perStage
      .select(town, code.as("code"))
      .join(broadcast(countryMapping.select(col("original_id").as("code"),
        col("new_id").as("resolved_country"))), Seq("code"))
      .select(town, col("resolved_country"))

    visitorProject.join(broadcast(updates),
        visitorProject("home_institution_town") === updates("geo_town"), "left")
      .withColumn("home_institution_country",
        coalesce(
          when(col("home_institution_country") === 0, lit(null)) // falsy-empty
            .otherwise(col("home_institution_country")),
          col("resolved_country")))
      .drop("geo_town", "resolved_country")
  }
}
