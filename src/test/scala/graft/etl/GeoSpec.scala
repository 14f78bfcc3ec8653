package graft.etl

import graft.SparkSpec
import org.apache.spark.sql.functions._

class GeoSpec extends SparkSpec {
  import spark.implicits._

  private val cities = Seq(
    (1, "London", Seq("londres"), "GB", 9000000L),
    (2, "London", Seq.empty[String], "CA", 400000L),
    (3, "Moscow", Seq("moskva"), "RU", 12000000L),
    (4, "Moscow", Seq.empty[String], "US", 25000L),
    (5, "Paris", Seq("paname"), "FR", 2100000L),
    (6, "Springfield", Seq.empty[String], "US", 150000L),
    (7, "Springfield", Seq.empty[String], "US", 60000L),
    (8, "Moscow - Idaho", Seq.empty[String], "US", 20000L),
    (9, "Gare du Nord", Seq("paris - nord"), "CA", 1000L))
    .toDF("geonameid", "name", "alternatenames", "countrycode", "population")

  private val countryMapping = Seq(("GB", 1), ("CA", 2), ("RU", 3), ("US", 4), ("FR", 5), ("DE", 6))
    .toDF("original_id", "new_id")

  private def vp(rows: (Int, Option[Int], String)*) =
    rows.toSeq.toDF("id", "home_institution_country", "home_institution_town")

  private def resolve(rows: (Int, Option[Int], String)*) =
    Geo.fillMissingCountry(vp(rows: _*), cities, Map("Atlantis" -> "DE", "Springfield, ZZ" -> "ZZ"), countryMapping)
      .select("id", "home_institution_country")
      .collect().map(r => r.getInt(0) -> Option(r.get(1)).map(_.asInstanceOf[Int])).toMap

  test("exact match resolves; case/trim-insensitive; alternate names count (etl.py:689-696)") {
    val r = resolve((1, None, "  paris "), (2, None, "moskva"))
    assert(r(1) === Some(5)) // FR
    assert(r(2) === Some(3)) // RU via alternate name
  }

  test("ambiguous names: same country → fine; different countries → max population (etl.py:731-750)") {
    val r = resolve((1, None, "Springfield"), (2, None, "Moscow"), (3, None, "London"))
    assert(r(1) === Some(4)) // both US → US
    assert(r(2) === Some(3)) // Moscow RU beats Moscow US on population
    assert(r(3) === Some(1)) // London GB beats London CA
  }

  test("delimiter fallback 'Town, Country' / 'Town - X' / 'Town. X' (etl.py:721-728)") {
    val r = resolve((1, None, "Paris, France"), (2, None, "Moscow - Russia"), (3, None, "London. UK"))
    assert(r(1) === Some(5))
    assert(r(2) === Some(3))
    assert(r(3) === Some(1))
  }

  test("manual override takes precedence (etl.py:714-715)") {
    val r = resolve((1, None, "Atlantis"))
    assert(r(1) === Some(6)) // DE from the manual map, not geonames
  }

  test("already-filled countries untouched; unresolvable stay NULL (etl.py:764-769)") {
    val r = resolve((1, Some(2), "Paris"), (2, None, "Nowhereville"))
    assert(r(1) === Some(2)) // pre-existing value kept
    assert(r(2) === None)
  }

  test("an exact match beats a delimiter match for the same town") {
    val r = resolve((1, None, "Moscow - Idaho"))
    assert(r(1) === Some(4)) // exact US, not the " - " fallback's RU
  }

  test("the first delimiter with candidates beats a later one") {
    val r = resolve((1, None, "Paris - Nord, Gare"))
    assert(r(1) === Some(2)) // ", " → "paris - nord" (CA), not " - " → "paris" (FR)
  }

  test("a manual code missing from the country table leaves NULL") {
    val r = resolve((1, None, "Springfield, ZZ"))
    assert(r(1) === None) // the manual "ZZ" wins over the ", " fallback's US
  }

  test("a 0 country is filled from a resolvable town, else becomes NULL") {
    val r = resolve((1, Some(0), "Paris"), (2, Some(0), "Nowhereville"))
    assert(r(1) === Some(5))
    assert(r(2) === None)
  }

  test("rows sharing a town all resolve; a filled one keeps its country") {
    val r = resolve((1, None, "London"), (2, None, "London"), (3, Some(6), "London"))
    assert(r === Map(1 -> Some(1), 2 -> Some(1), 3 -> Some(6)))
  }
}
