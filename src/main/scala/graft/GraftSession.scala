package graft

import org.apache.spark.sql.SparkSession

/** Central SparkSession factory — ALL entrypoints (Bench, Verify, tests) go
  * through here so verify and bench run identical configs.
  *
  * Scale stance: these configs are the local[32] analogs of what we'd set on
  * a 1000-executor cluster — AQE on (runtime coalesce + skew-join handling),
  * shuffle partitions sized to the parallelism actually available rather than
  * the 200 default, UTC session time zone for oracle parity, parquet
  * timestamps as TIMESTAMP_MICROS (portable, no INT96 legacy).
  *
  * Codegen cache: `spark.sql.codegen.cache.maxEntries` is 4000 (Spark's
  * default is 100). It is a static conf, read once per JVM when the first
  * class is compiled, so it is set here rather than per query. It is sized
  * to the measured working sets, in cache entries (the compiles of a first
  * pass, `local[4]`): all 264 registry queries take 3479 at sf0.01 with
  * stage ids in class names and 2790 at sf0.001 without; the benchmark's
  * `interactive` list takes 201, one `rebuild` 276. With 100 entries an LRU
  * sweep recompiled nearly all of them on every warm pass (interactive: 210
  * of 212; rebuild: 308 of 314), and even one query such as
  * `graph_components` (86 entries) recompiled 20-26 classes per warm run,
  * because the cache splits its bound over four segments. At 4000 a warm
  * interactive pass compiles nothing, and the second and third rebuilds 7
  * and 0 classes; `PlanInvariantsSpec`'s compile-reuse test holds the line.
  *
  * `spark.sql.codegen.useIdInClassName` is off, so a whole-stage class is
  * named `GeneratedIterator` rather than after its codegen stage id. AQE
  * numbers stages in the order it re-plans them, which follows the order
  * shuffles finish in, so the same pipeline came back under a new id (and
  * so as new code) on some warm runs; without the id it is one cache entry.
  */
object GraftSession {
  def builder(master: String = "local[32]", shufflePartitions: Int = 32): SparkSession.Builder =
    SparkSession
      .builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.parquet.filterPushdown", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      // the events table carries TIMESTAMP(NANOS) which parquet-mr maps to
      // INT64; read it as long and convert in Tables.load (no nanos type in
      // Spark SQL)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", "4000")
      .config("spark.sql.codegen.useIdInClassName", "false")
      .config("spark.ui.enabled", "false")

  /** Note: `getOrCreate` returns any pre-existing session unchanged — the
    * master/shufflePartitions arguments only apply to the first call in a
    * JVM. Entrypoints each run in their own forked JVM, so in practice the
    * config always applies.
    */
  def get(master: String = "local[32]", shufflePartitions: Int = 32): SparkSession = {
    val spark = builder(master, shufflePartitions).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
