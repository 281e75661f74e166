package graft.operators

import graft.SharedSpark
import org.scalatest.funsuite.AnyFunSuite

class ConnectedComponentsSpec extends AnyFunSuite with SharedSpark {
  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val px = parent.getOrElse(x, x)
      if (px == x) x else { val r = find(px); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    edges.flatMap(e => Seq(e._1, e._2)).distinct.map(n => n -> find(n)).toMap
  }

  private def ccLabels(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    ConnectedComponents.run(edges.toDF("u", "v")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("long chain collapses to its minimum (log-round convergence)") {
    val chain = (0L until 99L).map(i => (i, i + 1))
    assert(ccLabels(chain) === unionFind(chain))
  }

  test("high-degree hub (the skew case) resolves in few rounds") {
    // hub node 500 connected to 0..499: plain propagation funnels all
    // 500 edges through one reducer key; large-star redistributes them
    val star = (0L until 500L).map(i => (500L, i))
    val got = ccLabels(star)
    assert(got === unionFind(star))
    assert(got.values.toSet === Set(0L))
  }

  test("random graph with duplicate and reversed edges matches union-find") {
    // deterministic LCG — no RNG seed dependency on the test framework
    var x = 42L
    def next(): Long = { x = (x * 6364136223846793005L + 1442695040888963407L); math.abs(x) }
    val edges = (1 to 400).map { _ =>
      val a = next() % 300; val b = next() % 300
      if (a == b) (a, b + 1) else (a, b)
    } ++ Seq((7L, 3L), (3L, 7L), (7L, 3L)) // dup + reversed
    assert(ccLabels(edges) === unionFind(edges))
  }

  test("int-typed edge columns converge identically (round-15: the " +
    "accumulator sig reads physical ints where SQL sum() coerced)") {
    import spark.implicits._
    val edges = Seq((1, 2), (2, 3), (3, 4), (10, 11), (11, 10), (20, 21))
    val got = ConnectedComponents.run(edges.toDF("u", "v")).collect()
      .map(r => r.getInt(0).toLong -> r.getInt(1).toLong).toMap
    assert(got === unionFind(edges.map { case (a, b) => (a.toLong, b.toLong) }))
    assert(got.values.toSet === Set(1L, 10L, 20L))
  }

  test("short-typed edge columns (SQL signature) and null-holding " +
    "nullable int columns (null-checked accumulators) converge like " +
    "union-find") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{DataType, IntegerType, ShortType,
      StructField, StructType}
    import scala.jdk.CollectionConverters._
    val edges = Seq((1, 2), (2, 3), (3, 4), (10, 11), (11, 10), (20, 21))
    val want = unionFind(edges.map { case (a, b) => (a.toLong, b.toLong) })
    def run(t: DataType, rows: Seq[Row]): Map[Long, Long] = {
      val schema = StructType(Seq(StructField("u", t), StructField("v", t)))
      ConnectedComponents.run(spark.createDataFrame(rows.asJava, schema))
        .collect().map(r => (r.get(0), r.get(1)) match {
          case (a: Short, b: Short) => a.toLong -> b.toLong
          case (a: Int, b: Int) => a.toLong -> b.toLong
        }).toMap
    }
    assert(run(ShortType,
      edges.map { case (a, b) => Row(a.toShort, b.toShort) }) === want)
    // a null endpoint is no edge: least/greatest skip it and the self-
    // loop filter drops the row
    assert(run(IntegerType, edges.map { case (a, b) => Row(a, b) } :+
      Row(null, 5) :+ Row(7, null) :+ Row(null, null)) === want)
  }

  test("disjoint components keep distinct roots") {
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (21L, 22L))
    val got = ccLabels(edges)
    assert(got === unionFind(edges))
    assert(got.values.toSet === Set(1L, 10L, 20L))
  }
}
