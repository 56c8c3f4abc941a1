package graft.sources

/** Deterministic gridded fixture for the end-to-end source oracles
  * (the `gridded_ingest*` queries in [[graft.SparkEntry]]): every cell value is a pure
  * closed-form function of its (time, lead, y, x) indices using only exact
  * integer arithmetic and single double divisions, so an independent engine
  * (the DuckDB oracle) can regenerate the identical values from
  * `generate_series` without ever touching the binary file — which is the
  * point: the Spark side must prove that the NetCDF / HDF5 write -> DSv2
  * read -> Ingest.load reproduces the mathematically-defined content exactly.
  *
  * Shape mirrors a small IceNet drop (SURVEY.md §1.1): 2 generation dates x
  * 3 leadtimes x 6 yc x 8 xc, with NaN cells (masked/land, dropped by P3)
  * on two independent index patterns so the mean-null and stddev-null drop
  * paths are both exercised.
  */
object GridFixture {
  val NTime = 2
  val NLead = 3
  val NY = 6
  val NX = 8

  /** 2020-03-01T00:00Z and +1 day, micros since epoch. */
  val TimesMicros: Array[Long] =
    Array.tabulate(NTime)(t => (1583020800L + 86400L * t) * 1000000L)
  val Leadtimes: Array[Int] = Array.tabulate(NLead)(_ + 1)
  /** Fractional-km axes so the x1000 int downcast (P5) is non-trivial. */
  val Yc: Array[Double] = Array.tabulate(NY)(j => -537.5 + 25.0 * j)
  val Xc: Array[Double] = Array.tabulate(NX)(i => -262.5 + 25.0 * i)

  def meanAt(t: Int, l: Int, y: Int, x: Int): Double =
    if ((t + l + y + x) % 11 == 0) Double.NaN
    else ((7 * t + 5 * l + 3 * y + x) % 19) / 10.0 - 0.4

  def stddevAt(t: Int, l: Int, y: Int, x: Int): Double =
    if ((t + l + y + x + 1) % 13 == 0) Double.NaN
    else {
      val k = (7 * t + 5 * l + 3 * y + x) % 19
      (k * k % 7) / 100.0
    }

  private def flat(f: (Int, Int, Int, Int) => Double): Array[Double] = {
    val out = new Array[Double](NTime * NLead * NY * NX)
    var i = 0
    for (t <- 0 until NTime; l <- 0 until NLead; y <- 0 until NY; x <- 0 until NX) {
      out(i) = f(t, l, y, x); i += 1
    }
    out
  }

  /** The fixture as a REAL NetCDF classic file: CDF-1 with `time` as the
    * unlimited record dimension and NC_DOUBLE data, so the
    * `gridded_ingest` oracle proves the NetCDF byte path against DuckDB
    * end to end. Written once (idempotent; the oracle query may
    * run several times per session — bench warmup + timed passes).
    */
  def ensureWrittenNc(): String =
    ensureWith("graft_grid_fixture_v1.nc") { tmp =>
      NetcdfClassic.write(tmp, TimesMicros, Leadtimes, Yc, Xc,
        flat(meanAt), flat(stddevAt), recordTime = true)
    }

  /** Same logical content as a NetCDF-4/HDF5 container (superblock v0,
    * contiguous f64 datasets) — decodes to the bit-identical DataFrame, so
    * the `gridded_ingest_hdf5` oracle proves the HDF5 byte path against
    * DuckDB end to end, exactly like the classic `.nc` fixture does.
    */
  def ensureWrittenH5(): String =
    ensureWith("graft_grid_fixture_h5_v1.nc") { tmp =>
      Hdf5Netcdf.write(tmp, TimesMicros, Leadtimes, Yc, Xc,
        flat(meanAt), flat(stddevAt))
    }

  /** Same logical content in the "latest format" HDF5 dialect (superblock
    * v3, v2 `OHDR` headers, link-message group, layout v4 with fixed-array
    * chunk indexes, shuffle+deflate) — what `libver='latest'` writers emit.
    * Decodes to the bit-identical DataFrame, giving the latest-format
    * decoder its own independent-engine oracle
    * (`gridded_ingest_hdf5_latest`).
    */
  def ensureWrittenH5Latest(): String =
    ensureWith("graft_grid_fixture_h5_latest_v1.nc") { tmp =>
      Hdf5Netcdf.write(tmp, TimesMicros, Leadtimes, Yc, Xc,
        flat(meanAt), flat(stddevAt), chunkX = Some(5), filters = Seq(2, 1),
        latestFormat = true)
    }

  /** Same logical content with the time dimension UNLIMITED (appendable)
    * in the latest-format dialect — layout-v4 extensible-array chunk
    * index, the shape a daily-appending `libver='latest'` writer
    * produces. Oracle: `gridded_ingest_hdf5_unlim`.
    */
  def ensureWrittenH5Unlim(): String =
    ensureWith("graft_grid_fixture_h5_unlim_v1.nc") { tmp =>
      Hdf5Netcdf.write(tmp, TimesMicros, Leadtimes, Yc, Xc,
        flat(meanAt), flat(stddevAt), chunkX = Some(3), filters = Seq(2, 1),
        latestFormat = true, unlimitedTime = true)
    }

  /** Same logical content indexed by a v2 B-TREE chunk index (layout v4
    * type 5, `BTHD`/`BTLF`, filtered type-11 records) — the chunk index
    * `libver='latest'` writers emit for datasets with more than one
    * unlimited dimension. Oracle: `gridded_ingest_hdf5_bt2`.
    */
  def ensureWrittenH5Bt2(): String =
    ensureWith("graft_grid_fixture_h5_bt2_v1.nc") { tmp =>
      Hdf5Netcdf.write(tmp, TimesMicros, Leadtimes, Yc, Xc,
        flat(meanAt), flat(stddevAt), chunkX = Some(5), filters = Seq(2, 1),
        latestFormat = true, btreeV2Index = true)
    }

  /** Same logical content under DENSE (fractal-heap) group storage with
    * enough pad links to force a root INDIRECT heap block and a depth-1
    * type-5 name B-tree — the many-variable `libver='latest'` root-group
    * shape. Oracle: `gridded_ingest_hdf5_dense`.
    */
  def ensureWrittenH5Dense(): String =
    ensureWith("graft_grid_fixture_h5_dense_v1.nc") { tmp =>
      Hdf5Netcdf.write(tmp, TimesMicros, Leadtimes, Yc, Xc,
        flat(meanAt), flat(stddevAt), chunkX = Some(5), filters = Seq(2, 1),
        latestFormat = true, denseLinks = true, denseLinkPad = 40)
    }

  /** Dense link storage whose fractal heap carries an indirect CHILD
    * block (the very-wide-group structure): 230 pad links push past the
    * root's direct rows into the row-3 child.
    */
  def ensureWrittenH5DenseIndirect(): String =
    ensureWith("graft_grid_fixture_h5_dense_ind_v1.nc") { tmp =>
      Hdf5Netcdf.write(tmp, TimesMicros, Leadtimes, Yc, Xc,
        flat(meanAt), flat(stddevAt), chunkX = Some(5), filters = Seq(2, 1),
        latestFormat = true, denseLinks = true, denseLinkPad = 230,
        denseIndirectChild = true)
    }

  /** Writes the fixture file `name` under java.io.tmpdir once and returns
    * its absolute path, which is stable for the JVM. The write is atomic
    * (temp file + rename): existence-as-done caching would otherwise trust
    * a truncated file left by a crashed writer forever.
    */
  private def ensureWith(name: String)(write: String => Unit): String =
    synchronized {
      val f = new java.io.File(System.getProperty("java.io.tmpdir"), name)
      if (!f.exists()) {
        f.getParentFile.mkdirs()
        val tmp = new java.io.File(f.getParentFile, f.getName + ".tmp")
        write(tmp.getAbsolutePath)
        java.nio.file.Files.move(tmp.toPath, f.toPath,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      }
      f.getAbsolutePath
    }
}
