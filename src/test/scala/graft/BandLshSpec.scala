package graft

import org.apache.spark.sql.functions._
import graft.operators.BandLsh

class BandLshSpec extends SparkSpec {
  import spark.implicits._

  test("scalar and Column first-matching-band checks agree at 16x4, 2x32 and 4x4") {
    val rnd = new scala.util.Random(14)
    for ((bandBits, nBands) <- Seq((16, 4), (2, 32), (4, 4))) {
      val width = bandBits * nBands
      val sigMask = if (width == 64) -1L else (1L << width) - 1
      // sb = sa with one bit flipped in each band with a per-pair
      // probability, so the first matching band spreads over the band
      // indexes and some pairs share none
      val pairs = Seq.tabulate(400) { p =>
        val sa = rnd.nextLong() & sigMask
        val pFlip = rnd.nextDouble()
        val flips = (0 until nBands).filter(_ => rnd.nextDouble() < pFlip)
          .map(j => 1L << (j * bandBits + rnd.nextInt(bandBits))).foldLeft(0L)(_ | _)
        (p, sa, sa ^ flips)
      }
      val expected = pairs.map { case (p, sa, sb) => p -> BandLsh.firstMatchingBand(sa, sb, bandBits, nBands) }
        .filter(_._2 >= 0).sorted
      assert(expected.map(_._2).distinct.size > 1, "the pairs exercise more than one first band")
      assert(expected.size < pairs.size, "some pairs share no band")
      // the band join's rows: one per (pair, shared band key)
      val df = pairs.toDF("p", "sa", "sb")
      val shared = df.select(col("p"), col("sa"), col("sb"), BandLsh.bandKeys(col("sa"), bandBits, nBands).as("band"))
        .join(df.select(col("p"), BandLsh.bandKeys(col("sb"), bandBits, nBands).as("band")), Seq("p", "band"))
      val kept = shared
        .where(BandLsh.firstMatchingBand(col("sa"), col("sb"), col("band"), bandBits, nBands))
        .select(col("p"), shiftrightunsigned(col("band"), bandBits).cast("int"))
        .as[(Int, Int)].collect().toSeq.sorted
      assert(kept == expected, s"${bandBits}x$nBands")
    }
  }
}
