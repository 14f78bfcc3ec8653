package graft

import java.nio.charset.StandardCharsets.UTF_8
import org.scalatest.funsuite.AnyFunSuite

/** Pins every registry oracle: `oracle_sql.sha256` holds one SHA-256 of the
  * UTF-8 oracle string per query name, tab-separated. A change that alters
  * an oracle on purpose updates that line in the same diff. To regenerate,
  * run `scripts/run.sh graft.Verify <sfDir> <out> none` (no query is run,
  * every oracle is written to `<out>/oracle_sql.json`) and hash each value.
  */
class OracleGuardSpec extends AnyFunSuite {
  private def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(s.getBytes(UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString

  private lazy val pinned: Map[String, String] = {
    val src = scala.io.Source.fromResource("oracle_sql.sha256", getClass.getClassLoader)
    try src.getLines().map(_.split('\t')).map { case Array(k, h) => k -> h }.toMap
    finally src.close()
  }

  test("every oracle matches its pinned digest, key for key") {
    val got = SparkEntry.oracleSql
    assert(got.keySet === pinned.keySet)
    val changed = pinned.keys.filter(k => sha256(got(k)) != pinned(k)).toSeq.sorted
    assert(changed.isEmpty, s"oracles that differ from the pinned digest: $changed")
  }

  test("264 uniquely named queries, each with a non-empty oracle") {
    val specs = SparkEntry.specs()
    assert(specs.size === 264)
    assert(specs.map(_.name).distinct.size === 264)
    assert(specs.forall(_.oracle.trim.nonEmpty))
    assert(SparkEntry.queries.keySet === specs.map(_.name).toSet)
  }

  test("oracles at another index root read that root and never the default") {
    val root = "/scratch/index_root"
    val default = SparkEntry.specs()
    val moved = SparkEntry.specs(root)
    assert(moved.map(_.name) === default.map(_.name))
    assert(moved.forall(!_.oracle.contains(SparkEntry.defaultIndexRoot)))
    // every oracle that reads an index reads it under the root it was given
    default.zip(moved).foreach { case (d, m) =>
      assert(m.oracle === d.oracle.replace(SparkEntry.defaultIndexRoot, root), d.name)
    }
    assert(moved.count(_.oracle.contains(root)) === 16)
  }
}
