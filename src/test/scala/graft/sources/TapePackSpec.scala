package graft.sources

import org.scalatest.funsuite.AnyFunSuite

/** [[TapeListing.pack]] is a pure function of the slices' sizes: no
  * files and no Spark session.
  */
class TapePackSpec extends AnyFunSuite {

  private def slices(sizes: Seq[Long]): Seq[TapeFileSlice] =
    sizes.zipWithIndex.map { case (size, i) =>
      TapeFileSlice(s"mem:/t/dt=2024-01-01/$i-$i.txt", "2024-01-01", size,
        0L, i.toLong, i.toLong)
    }

  private def loads(bins: Seq[Seq[TapeFileSlice]]): Seq[Long] =
    bins.map(_.map(_.size).sum)

  private def assertEachSliceOnce(in: Seq[TapeFileSlice],
                                  bins: Seq[Seq[TapeFileSlice]]): Unit = {
    assert(bins.flatten.size === in.size)
    assert(bins.flatten.map(_.file).toSet === in.map(_.file).toSet)
  }

  test("46 log-normal slices at parallelism 4: 4 bins within 1.15x of " +
    "the mean") {
    // sigma 0.5: a recorded tape's flush files differ a few-fold in
    // size, and no slice outweighs a mean bin (one that did would bound
    // any packing, not this one)
    (1 to 20).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val in = slices(Seq.fill(46)(
        (100000 * math.exp(0.5 * rnd.nextGaussian())).toLong))
      val bins = TapeListing.pack(in, parallelism = 4)
      assert(bins.size === 4)
      val l = loads(bins)
      val mean = l.sum.toDouble / l.size
      assert(l.max <= 1.15 * mean, s"seed $seed: bin bytes $l")
      assertEachSliceOnce(in, bins)
    }
  }

  test("never more bins than slices") {
    val in = slices(Seq(10L, 3000L))
    val bins = TapeListing.pack(in, parallelism = 4)
    assert(bins.size === 2)
    assertEachSliceOnce(in, bins)
    assert(TapeListing.pack(Seq.empty, parallelism = 4).isEmpty)
  }

  test("a tape larger than one split per core gets one bin per split") {
    val in = slices(Seq.fill(100)(10L * 1000 * 1000)) // 1 GB of 10 MB
    val bins = TapeListing.pack(in, parallelism = 4)
    assert(bins.size >= 8)
    assert(loads(bins).max <= TapeListing.TargetSplit)
    assertEachSliceOnce(in, bins)
  }
}
