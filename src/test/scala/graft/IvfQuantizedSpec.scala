package graft

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{IvfQuantized, RqIndex, SqIndex}

/** Serve-contract cases of the shared [[IvfQuantized]] skeleton, run for
  * the families whose own spec does not cover them (PqSpec has the PQ
  * shrink case). */
class IvfQuantizedSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  /** 500 deterministic 16-d vectors: component i of row r is sin(r·(i+1)). */
  private def embeddings = spark.range(0, 500).select(col("id").as("vec_id"),
    array((0 until 16).map(i => sin(col("id") * (i + 1)).cast("float")): _*).as("embedding"))
  private val query = Array.tabulate(16)(i => math.sin(i + 1.0).toFloat)

  test("serve budget: a shrunk budget evicts immediately (SQ, RQ)") {
    val families: Seq[(String, IvfQuantized, String => Any)] = Seq(
      ("sq", SqIndex, SqIndex.build(embeddings, "vec_id", "embedding", _, nlist = 8)),
      ("rq", RqIndex, RqIndex.build(embeddings, "vec_id", "embedding", _, nlist = 8)))
    for ((name, family, build) <- families) {
      val idx = Files.createTempDirectory(s"ivfq_${name}_").toString
      build(idx)
      family.serveUnpersist(idx)
      spark.conf.set(family.ServeCodesBudgetKey, "8")
      try {
        family.serveWarm(spark, idx, "vec_id", "embedding")
        assert(family.serveCacheSize == 8, s"$name: ${family.serveCacheSize} resident")
        spark.conf.set(family.ServeCodesBudgetKey, "3")
        family.serveLocal(spark, idx, "vec_id", "embedding", query, 5,
          nprobes = 2)
        assert(family.serveCacheSize <= 3,
          s"$name: shrunk budget left ${family.serveCacheSize} resident")
      } finally {
        spark.conf.unset(family.ServeCodesBudgetKey)
        family.serveUnpersist(idx)
      }
    }
  }
}
