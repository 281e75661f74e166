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

  test("int-typed edge columns converge like union-find") {
    import spark.implicits._
    val edges = Seq((1, 2), (2, 3), (3, 4), (10, 11), (11, 10), (20, 21))
    val got = ConnectedComponents.run(edges.toDF("u", "v")).collect()
      .map(r => r.getInt(0).toLong -> r.getInt(1).toLong).toMap
    assert(got === unionFind(edges.map { case (a, b) => (a.toLong, b.toLong) }))
    assert(got.values.toSet === Set(1L, 10L, 20L))
  }

  test("short-typed and null-holding edge columns match union-find") {
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

  /** Seeded graph shapes over `n` nodes with ids scattered from `base`:
    * chains and cycles (over a shuffled id order), hubs, and random
    * edges; a quarter of the edges repeat, half of those reversed. */
  private def randomGraph(rnd: scala.util.Random, shape: Int,
                          base: Long): Seq[(Long, Long)] = {
    val n = 2 + rnd.nextInt(40)
    val ids = rnd.shuffle((0 until n).map(i => base + i * 7L)).toVector
    val edges = shape match {
      case 0 => ids.sliding(2).map(p => (p(0), p(1))).toSeq // chain
      case 1 => (ids :+ ids.head).sliding(2).map(p => (p(0), p(1))).toSeq
      case 2 => ids.tail.map(v => (ids.head, v)) // hub at a random id
      case _ => (1 to n + rnd.nextInt(2 * n)).map(_ =>
        (ids(rnd.nextInt(n)), ids(rnd.nextInt(n))))
    }
    edges ++ edges.filter(_ => rnd.nextInt(4) == 0)
      .map(e => if (rnd.nextBoolean()) e.swap else e)
  }

  test("60 seeded random graphs (chains, cycles, hubs, random edges, " +
    "duplicate and reversed edges) match union-find graph by graph") {
    val rnd = new scala.util.Random(20261019)
    val graphs = (0 until 60).map(g => randomGraph(rnd, g % 4, g * 1000L))
    // ten disjoint graphs per run: every graph keeps its own
    // components, so each is checked on its own against union-find
    graphs.grouped(10).foreach { batch =>
      val got = ccLabels(batch.flatten)
      batch.zipWithIndex.foreach { case (edges, i) =>
        val want = unionFind(edges.filter { case (a, b) => a != b })
        assert(want.keySet.forall(got.contains) &&
          want.forall { case (k, v) => got(k) == v },
          s"graph $i of its batch (${edges.size} edges) diverged")
      }
      // and no node outside the batch's edges is labelled
      assert(got.keySet === batch.flatten
        .filter { case (a, b) => a != b }
        .flatMap(e => Seq(e._1, e._2)).toSet)
    }
  }

  test("an input that already is a star forest runs no round; one " +
    "that is not needs rounds") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    // stars centred on their minimum, edges in either orientation and
    // repeated: already the fixpoint
    val forest = (0 until 12).flatMap { k =>
      val centre = k * 100L
      (1 to 1 + rnd.nextInt(9)).map(i => centre + i)
        .flatMap(v => Seq((centre, v), (v, centre)).take(1 + rnd.nextInt(2)))
    }
    val got = ConnectedComponents.run(forest.toDF("u", "v"), maxIters = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === unionFind(forest))
    // a star centred above one member is no star forest in canonical
    // orientation (3 is both child of 1 and parent of 7)
    val offCentre = Seq((3L, 1L), (3L, 7L), (3L, 9L))
    val e = intercept[IllegalArgumentException](
      ConnectedComponents.run(offCentre.toDF("u", "v"), maxIters = 0)
        .collect())
    assert(e.getMessage.contains("did not converge"))
    assert(ccLabels(offCentre) === unionFind(offCentre))
  }

  test("disjoint components keep distinct roots") {
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (21L, 22L))
    val got = ccLabels(edges)
    assert(got === unionFind(edges))
    assert(got.values.toSet === Set(1L, 10L, 20L))
  }
}
