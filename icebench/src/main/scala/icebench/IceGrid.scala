package icebench

import java.nio.file.Path

import graft.sources.NetcdfClassic

/** Seeded sea-ice forecast fields on the shared 25 km grid. Every cell value
  * is a pure function of (seed, date, leadtime, y, x), so the checks can
  * recompute any expected answer from the arrays without reading the
  * warehouse.
  *
  * About 15% of cells are land (NaN in every file) and about 15% carry a
  * concentration <= 0; both are dropped by ingest. Landed values are
  * (k + 0.5) / 1000 as a float, so none sits on the 0.15 extent threshold.
  */
final class IceGrid(seed: Long, val nY: Int, val nX: Int) {
  val yc: Array[Double] = Array.tabulate(nY)(j => -537.5 + 25.0 * j)
  val xc: Array[Double] = Array.tabulate(nX)(i => -262.5 + 25.0 * i)
  /** 2021-01-01 as days since the epoch: date index 0. */
  val BaseDay = 18628L

  def epochDay(d: Int): Long = BaseDay + d
  def timeMicros(d: Int): Long = epochDay(d) * 86400L * 1000000L
  def xm(x: Int): Int = (xc(x) * 1000).toInt
  def ym(y: Int): Int = (yc(y) * 1000).toInt

  private def mix(z0: Long): Long = { // splitmix64 finalizer
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  private def h(d: Int, l: Int, y: Int, x: Int): Long =
    mix(mix(mix(mix(seed ^ 0x51CE) + d) + l) + y * 100003L + x)

  def land(y: Int, x: Int): Boolean = java.lang.Long.remainderUnsigned(
    mix(seed * 31 + y * 7919L + x), 100L) < 15

  def mean(d: Int, l: Int, y: Int, x: Int): Float =
    if (land(y, x)) Float.NaN
    else {
      val u = java.lang.Long.remainderUnsigned(h(d, l, y, x), 1000L).toInt
      if (u < 176) -(u % 8) / 100f // <= 0: masked out by ingest
      else (u + 0.5f) / 1000f
    }

  def stddev(d: Int, l: Int, y: Int, x: Int): Float =
    if (land(y, x)) Float.NaN
    else ((h(d, l, y, x) >>> 40) % 100).toFloat / 1000f

  def landed(d: Int, l: Int, y: Int, x: Int): Boolean = mean(d, l, y, x) > 0f

  /** Landed rows of date `d` over leadtimes 1..nLead. */
  def landedRows(d: Int, nLead: Int): Long = {
    var n = 0L
    for (l <- 1 to nLead; y <- 0 until nY; x <- 0 until nX)
      if (landed(d, l, y, x)) n += 1
    n
  }

  /** Writes a CDF-1 file with `time` as the record dimension holding the
    * given dates, leadtimes 1..nLead, NC_FLOAT data.
    */
  def writeNc(path: Path, dates: Seq[Int], nLead: Int): Unit = {
    val n = dates.size * nLead * nY * nX
    val m = new Array[Double](n)
    val s = new Array[Double](n)
    var i = 0
    for (d <- dates; l <- 1 to nLead; y <- 0 until nY; x <- 0 until nX) {
      m(i) = mean(d, l, y, x).toDouble
      s(i) = stddev(d, l, y, x).toDouble
      i += 1
    }
    NetcdfClassic.write(path.toString, dates.map(timeMicros).toArray,
      Array.tabulate(nLead)(_ + 1), yc, xc, m, s,
      recordTime = true, floatData = true)
  }
}
