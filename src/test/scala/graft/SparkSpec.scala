package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session, local[2],
  * tiny shuffle fan-out — fixtures are rows, not datasets).
  */
object SharedSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder("local[2]", shufflePartitions = 2).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** The index root tests build persisted indexes and fixtures under, apart
    * from the registry's default root.
    */
  lazy val indexRoot: String = new java.io.File("target/graft_ann_index").getAbsolutePath
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SharedSpark.spark
}
