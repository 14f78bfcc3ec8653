package graft

/** ensureIndexNamed: the build-once/reuse contract and the stale-sibling
  * cleanup that the listingKey keys depend on — same-`n` different-
  * fingerprint siblings are deleted (a regenerated state must never
  * double-read), different-`n` entries COEXIST (the cross-SF contract:
  * sf0.01 and sf0.1 keys must not clobber each other), a missing
  * `built/_SUCCESS` marker forces a rebuild, and a rebuild starts from an
  * empty entry.
  */
class EnsureIndexSpec extends SparkSpec {

  private val fs = org.apache.hadoop.fs.FileSystem.get(
    spark.sparkContext.hadoopConfiguration)

  private def exists(p: String): Boolean =
    fs.exists(new org.apache.hadoop.fs.Path(p))

  private def build(kind: String, name: String): (String, Int) = {
    var builds = 0
    val path = queries.QueryCommon.ensureIndexNamed(spark, SharedSpark.indexRoot, kind,
        name) { p =>
      builds += 1
      spark.range(1).toDF("x").write.mode("overwrite").parquet(s"$p/tbl")
    }
    (path, builds)
  }

  test("build once, reuse after; a deleted marker forces a rebuild") {
    val kind = s"spec_${System.nanoTime()}"
    val (p1, b1) = build(kind, "n100_xaaaa")
    assert(b1 === 1 && exists(s"$p1/built/_SUCCESS"))
    val (p2, b2) = build(kind, "n100_xaaaa")
    assert(p2 === p1 && b2 === 0, "an intact index must be reused")
    fs.delete(new org.apache.hadoop.fs.Path(s"$p1/built/_SUCCESS"), false)
    val (_, b3) = build(kind, "n100_xaaaa")
    assert(b3 === 1, "a half-built index (no marker _SUCCESS) must rebuild")
  }

  test("a marker-less entry is cleared before the build: a stray file is gone") {
    val kind = s"spec_${System.nanoTime()}"
    // debris in a table the writer does not overwrite, as an interrupted
    // streamed build leaves its batch log
    val stray = s"${SharedSpark.indexRoot}/$kind/n100_xaaaa/log/batch=0/part-stray.parquet"
    fs.create(new org.apache.hadoop.fs.Path(stray)).close()
    val (p, b) = build(kind, "n100_xaaaa")
    assert(b === 1 && exists(s"$p/built/_SUCCESS") && exists(s"$p/tbl/_SUCCESS"))
    assert(!exists(stray), "crash debris in a marker-less entry survived the build")
  }

  test("listingKey re-fingerprints an in-place same-size edit (mtime rides " +
      "in the roster)") {
    val dir = java.nio.file.Files.createTempDirectory("listing_key_spec")
    val f = dir.resolve("seg.dat")
    java.nio.file.Files.write(f, "0123456789".getBytes("UTF-8"))
    val k1 = graft.sources.Tables.listingKey(spark, dir.toString)
    assert(k1 === graft.sources.Tables.listingKey(spark, dir.toString),
      "an unchanged listing must key identically")
    // in-place regeneration: same name, same byte length, different content.
    // mtime is bumped explicitly (filesystem mtime granularity can be 1s —
    // coarser than this test): the CONTRACT is 'any rewrite carries a new
    // mtime', which real rewrites satisfy by walltime passing.
    java.nio.file.Files.write(f, "9876543210".getBytes("UTF-8"))
    java.nio.file.Files.setLastModifiedTime(f,
      java.nio.file.attribute.FileTime.fromMillis(
        java.nio.file.Files.getLastModifiedTime(f).toMillis + 5000))
    val k2 = graft.sources.Tables.listingKey(spark, dir.toString)
    assert(k1 !== k2,
      "a same-size in-place rewrite must change the listing key")
    // the byte-total n prefix is unchanged (cross-SF coexistence keys on n)
    assert(k1.takeWhile(_ != '_') === k2.takeWhile(_ != '_'))
  }

  test("same-n different-fingerprint siblings are deleted; different-n " +
      "entries coexist (the cross-SF contract)") {
    val kind = s"spec_${System.nanoTime()}"
    val (pOld, _) = build(kind, "n100_xaaaa")
    // different n = a different corpus/scale: must NOT disturb n100
    val (pOther, _) = build(kind, "n200_xcccc")
    assert(exists(s"$pOld/tbl/_SUCCESS") && exists(s"$pOther/tbl/_SUCCESS"))
    // same n, new fingerprint = the state regenerated: the stale sibling
    // must be deleted so a glob over the kind can never double-read
    val (pNew, b) = build(kind, "n100_xbbbb")
    assert(b === 1)
    assert(!exists(pOld), s"stale sibling $pOld survived")
    assert(exists(s"$pNew/tbl/_SUCCESS"))
    assert(exists(s"$pOther/tbl/_SUCCESS"), "different-n entry was clobbered")
  }
}
