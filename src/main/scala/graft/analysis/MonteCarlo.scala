package graft.analysis

import scala.util.Random

import graft.plant.PlantData

/** The Monte-Carlo steps the analyses share, one copy each: the argument
  * checks, the reanalysis product list, the parameter draws on the
  * reference's grids and the summary of the draws. Each draw makes the
  * same RNG call, with the same arithmetic, as the analyses made inline,
  * so their random streams are unchanged.
  */
private[analysis] object MonteCarlo {

  /** A sampling range must be (lo, hi) with lo <= hi. */
  def requireRange[T](name: String, r: (T, T))(implicit ord: Ordering[T]): Unit =
    require(ord.lteq(r._1, r._2), s"$name must be (lo, hi) with lo <= hi, got $r")

  /** UQ needs at least one draw; without UQ an analysis runs one. */
  def requireSims(uq: Boolean, numSim: Int): Unit =
    require(!uq || numSim >= 1, s"numSim must be >= 1 with uq, got $numSim")

  /** The reanalysis products an analysis draws from, sorted: the loaded
    * subset `restrict` names, or every loaded product. An empty list is
    * rejected here rather than failing later inside the draw loop.
    */
  def products(plant: PlantData, restrict: Option[Seq[String]]): Seq[String] = {
    restrict.foreach(_.foreach(p =>
      require(plant.reanalysis.contains(p), s"unknown reanalysis product '$p'")))
    val ps = restrict.getOrElse(plant.reanalysis.keys.toSeq).sorted
    require(ps.nonEmpty, "reanalysisProducts must name at least one loaded reanalysis " +
      s"product, got $restrict with ${plant.reanalysis.size} loaded")
    ps
  }

  /** Uniform integer in [lo, hi], both ends included (numpy's
    * `randint(lo, hi + 1)`).
    */
  def inclusive(rng: Random, lo: Int, hi: Int): Int = lo + rng.nextInt(hi - lo + 1)

  /** Uniform on the grid lo, lo + 1/perUnit, ..., hi of range `r`. */
  def onGrid(rng: Random, r: (Double, Double), perUnit: Int): Double =
    r._1 + rng.nextInt(((r._2 - r._1) * perUnit).round.toInt + 1) / perUnit.toDouble

  /** One of `xs`, uniformly. */
  def pick[T](rng: Random, xs: Seq[T]): T = xs(rng.nextInt(xs.size))

  /** Multiplicative Gaussian error 1 + N(0, 1) * sigma. */
  def jitter(rng: Random, sigma: Double): Double = 1.0 + rng.nextGaussian() * sigma

  def mean(xs: Iterable[Double]): Double = xs.sum / xs.size

  /** Sample standard deviation (n - 1 denominator); 0 for a single draw. */
  def std(xs: Iterable[Double]): Double =
    if (xs.size < 2) 0.0
    else {
      val m = mean(xs)
      math.sqrt(xs.map(x => (x - m) * (x - m)).sum / (xs.size - 1))
    }
}
