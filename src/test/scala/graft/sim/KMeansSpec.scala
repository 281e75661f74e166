package graft.sim

import graft.SharedSpark
import graft.Tables
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class KMeansSpec extends AnyFunSuite with SharedSpark {
  private def vecs = Tables.embeddings(spark, "/root/testdata/sf0.01")
    .select(col("vec_id"), col("embedding").cast("array<double>").as("v"),
      col("label"))

  test("Lloyd iterations improve (or hold) the spherical objective") {
    val seed = KMeans.train(vecs, iterations = 0)
    val refined = KMeans.train(vecs, iterations = 2)
    val before = KMeans.objective(vecs, seed)
    val after = KMeans.objective(vecs, refined)
    assert(after >= before - 1e-9, s"objective regressed: $before -> $after")
  }

  test("training is deterministic and keeps k clusters") {
    val a = KMeans.train(vecs, iterations = 1).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val b = KMeans.train(vecs, iterations = 1).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(a === b)
    assert(a.size === 10)
    assert(a.values.forall(_.length === 64))
  }

  test("every vector gets exactly one cluster") {
    val assigned = KMeans.assign(vecs.select(col("vec_id"), col("v")),
      KMeans.train(vecs, iterations = 1))
    assert(assigned.count() === 500)
    assert(assigned.select("vec_id").distinct().count() === 500)
  }
}
