package graft

import graft.icenet.TableOps

/** Upsert-semantics tests (S5/S6/S7): the reference's ON CONFLICT behavior
  * must hold — first-write-wins converges, last-write-wins overwrites, and
  * re-running is always a fixed point (processor.py:256,333,395-401,444-448).
  */
class TableOpsSpec extends SparkSpec {
  import spark.implicits._

  test("S5 insertIgnore: first write wins, re-ingest is a fixed point") {
    val path = tmpDir("s5") + "/t"
    val v1 = Seq((1, "a"), (2, "b")).toDF("k", "v")
    val v2 = Seq((1, "CHANGED"), (3, "c")).toDF("k", "v")
    TableOps.insertIgnore(spark, path, v1, Seq("k"))
    TableOps.insertIgnore(spark, path, v2, Seq("k"))
    val got = TableOps.read(spark, path).as[(Int, String)].collect().toSet
    assert(got == Set((1, "a"), (2, "b"), (3, "c"))) // key 1 kept original
    TableOps.insertIgnore(spark, path, v2, Seq("k")) // re-run converges
    assert(TableOps.read(spark, path).count() == 3)
  }

  test("S5 insertIgnore collapses duplicate keys within one batch") {
    val path = tmpDir("s5dup") + "/t"
    val batch = Seq((1, "x"), (1, "y"), (2, "z")).toDF("k", "v")
    TableOps.insertIgnore(spark, path, batch, Seq("k"))
    assert(TableOps.read(spark, path).count() == 2)
  }

  test("S6 upsert: last write wins on matched keys, keeps unmatched") {
    val path = tmpDir("s6") + "/t"
    val v1 = Seq((1, 10L), (2, 20L)).toDF("k", "n")
    val v2 = Seq((2, 99L), (3, 30L)).toDF("k", "n")
    TableOps.upsert(spark, path, v1, Seq("k"))
    TableOps.upsert(spark, path, v2, Seq("k"))
    val got = TableOps.read(spark, path).as[(Int, Long)].collect().toSet
    assert(got == Set((1, 10L), (2, 99L), (3, 30L)))
    TableOps.upsert(spark, path, v2, Seq("k")) // idempotent
    assert(TableOps.read(spark, path).as[(Int, Long)].collect().toSet == got)
  }

  test("S7 overwriteView: full recompute replaces previous content") {
    val path = tmpDir("s7") + "/v"
    TableOps.overwriteView(spark, path, Seq((1, "old")).toDF("k", "v"), "old")
    TableOps.overwriteView(spark, path, Seq((2, "new")).toDF("k", "v"), "new")
    val got = TableOps.read(spark, path).as[(Int, String)].collect().toSet
    assert(got == Set((2, "new")))
  }

  test("partitioned write: date-partition columns survive round-trip") {
    val path = tmpDir("part") + "/t"
    val df = Seq(("2020-01-01", 1), ("2020-01-02", 2))
      .toDF("d", "n").withColumn("d", org.apache.spark.sql.functions.to_date($"d"))
    TableOps.insertIgnore(spark, path, df, Seq("d", "n"), partitionCols = Seq("d"))
    val got = TableOps.read(spark, path)
    assert(got.count() == 2 && got.columns.toSet == Set("d", "n"))
  }

  test("freshRows prunes the existing side to the incoming partition values") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val path = tmpDir("prune") + "/t"
    val existing = Seq(("2020-01-01", 1), ("2020-01-02", 2), ("2020-01-03", 3))
      .toDF("d", "n").withColumn("d", org.apache.spark.sql.functions.to_date($"d"))
    TableOps.insertIgnore(spark, path, existing, Seq("d", "n"), partitionCols = Seq("d"))
    val incoming = Seq(("2020-01-02", 2), ("2020-01-02", 9))
      .toDF("d", "n").withColumn("d", org.apache.spark.sql.functions.to_date($"d"))
    val fresh = TableOps.freshRows(spark, path, incoming, Seq("d", "n"), Seq("d"))
    // the existing-side scan must carry a partition filter (pruning, not a
    // full-table key scan on every one-date ingest)
    val scans = fresh.queryExecution.sparkPlan.collect {
      case f: FileSourceScanExec => f
    }
    val tableScans = scans.filter(_.relation.location.rootPaths
      .exists(_.toString.contains("prune")))
    assert(tableScans.nonEmpty)
    assert(tableScans.forall(_.partitionFilters.nonEmpty),
      s"expected PartitionFilters on the existing-side scan:\n$fresh")
    // and the semantics still hold: only the genuinely-new row is fresh
    assert(fresh.select("d", "n").as[(java.sql.Date, Int)].collect().toSet ==
      Set((java.sql.Date.valueOf("2020-01-02"), 9)))
  }

  test("insertIgnore into escaped and null partitions, with caller-given values") {
    val path = tmpDir("landed") + "/t"
    def insert(rows: Seq[(String, Int)], known: Map[String, Seq[Any]] = Map.empty) =
      TableOps.insertIgnore(spark, path, rows.toDF("p", "n"), Seq("p", "n"),
        partitionCols = Seq("p"), knownValues = known)
    def contents = TableOps.read(spark, path).select("p", "n").as[(String, Int)].collect().toSet
    insert(Seq(("a/b c", 1), (null, 2)))
    assert(contents == Set(("a/b c", 1), (null, 2)))
    insert(Seq(("a/b c", 1)))
    assert(contents == Set(("a/b c", 1), (null, 2)), "a known row must not land again")
    // a new row in a partition whose directory name is escaped, in the null
    // partition, in a new partition
    insert(Seq(("a/b c", 3)))
    assert(contents == Set(("a/b c", 1), (null, 2), ("a/b c", 3)))
    insert(Seq((null, 4)))
    assert(contents == Set(("a/b c", 1), (null, 2), ("a/b c", 3), (null, 4)))
    insert(Seq(("d", 5)))
    assert(contents == Set(("a/b c", 1), (null, 2), ("a/b c", 3), (null, 4), ("d", 5)))
    // caller-known values may be a superset
    insert(Seq(("a/b c", 3)), Map("p" -> Seq("a/b c", "zz", null)))
    assert(contents == Set(("a/b c", 1), (null, 2), ("a/b c", 3), (null, 4), ("d", 5)))
    insert(Seq(("a/b c", 6)), Map("p" -> Seq("a/b c", "zz")))
    assert(contents ==
      Set(("a/b c", 1), (null, 2), ("a/b c", 3), (null, 4), ("d", 5), ("a/b c", 6)))
  }

  test("insertIgnore matches a key that holds a null: a re-insert lands nothing") {
    Seq[(String, Seq[String])]("flat" -> Nil, "byK" -> Seq("k"))
      .foreach { case (name, partitionCols) =>
        val path = tmpDir(s"nullKey$name") + "/t"
        def insert() = TableOps.insertIgnore(spark, path,
          Seq(("a", null: String)).toDF("k", "v"), Seq("k", "v"), partitionCols)
        insert()
        insert()
        assert(TableOps.read(spark, path).select("k", "v").as[(String, String)].collect().toSeq ==
          Seq(("a", null)), s"partitioned by [${partitionCols.mkString(",")}]")
      }
  }

  test("appendWith: None writes nothing, rows append in the table's column order") {
    import org.apache.hadoop.fs.Path
    val path = tmpDir("appendWith") + "/t"
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def files = fs.listStatus(new Path(path)).map(f => f.getPath.getName -> f.getLen).toSet
    TableOps.appendWith(spark, path) { t =>
      assert(t.isEmpty)
      Some(Seq((1, "a")).toDF("k", "v"))
    }
    val first = files
    TableOps.appendWith(spark, path) { t =>
      assert(t.map(_.count()).contains(1L))
      None
    }
    assert(files == first)
    TableOps.appendWith(spark, path)(_ => Some(Seq(("b", 2)).toDF("v", "k")))
    assert(TableOps.read(spark, path).as[(Int, String)].collect().toSet ==
      Set((1, "a"), (2, "b")))
    intercept[IllegalArgumentException] {
      TableOps.appendWith(spark, path)(_ => Some(Seq((3, "c", 1.0)).toDF("k", "v", "x")))
    }
  }

  /** Crash-safety of the replace swap: simulate a kill at each window of
    * the sequence (write .staging -> rename cur->.old -> rename .staging->cur
    * -> delete .old) and assert a reader still sees ONE complete committed
    * version, and that the next write self-heals.
    */
  test("replace crash windows: reader always sees a complete version") {
    import org.apache.hadoop.fs.Path
    val fs = new Path("/tmp").getFileSystem(spark.sparkContext.hadoopConfiguration)
    def setState(base: String): String = {
      val path = base + "/t"
      TableOps.overwriteView(spark, path, Seq((1, "v1")).toDF("k", "v"), "v1")
      path
    }

    // window A: crash after .staging written, before any rename — the
    // current table is untouched
    val pa = setState(tmpDir("crashA"))
    Seq((2, "v2")).toDF("k", "v").write.parquet(pa + ".staging")
    assert(TableOps.read(spark, pa).as[(Int, String)].collect().toSet ==
      Set((1, "v1")))

    // window B: crash after cur -> .old, before .staging -> cur — the
    // reader falls back to .old (last committed version)
    val pb = setState(tmpDir("crashB"))
    Seq((2, "v2")).toDF("k", "v").write.parquet(pb + ".staging")
    fs.rename(new Path(pb), new Path(pb + ".old"))
    assert(TableOps.exists(spark, pb))
    assert(TableOps.read(spark, pb).as[(Int, String)].collect().toSet ==
      Set((1, "v1")))
    // the next write heals: .old is promoted back before the new swap, and
    // a subsequent upsert sees the healed data
    TableOps.upsert(spark, pb, Seq((2, "v2")).toDF("k", "v"), Seq("k"))
    assert(TableOps.read(spark, pb).as[(Int, String)].collect().toSet ==
      Set((1, "v1"), (2, "v2")))
    assert(!fs.exists(new Path(pb + ".old")))

    // window C: crash after .staging -> cur, before delete .old — the new
    // version is committed and wins over the leftover .old
    val pc = setState(tmpDir("crashC"))
    TableOps.overwriteView(spark, pc + ".tmpnew", Seq((2, "v2")).toDF("k", "v"), "v2")
    fs.rename(new Path(pc), new Path(pc + ".old"))
    fs.rename(new Path(pc + ".tmpnew"), new Path(pc))
    assert(TableOps.read(spark, pc).as[(Int, String)].collect().toSet ==
      Set((2, "v2")))
  }

  test("sourceOf: the record commits with its view, so a crash between renames reads .old's") {
    import org.apache.hadoop.fs.Path
    val fs = new Path("/tmp").getFileSystem(spark.sparkContext.hadoopConfiguration)
    val path = tmpDir("source") + "/v"
    assert(TableOps.sourceOf(spark, path).isEmpty)
    TableOps.overwriteView(spark, path, Seq((1, "v1")).toDF("k", "v"), "built from v1")
    assert(TableOps.sourceOf(spark, path).contains("built from v1"))
    // crash after cur -> .old, before .staging -> cur: the staged successor
    // and its record are not committed, the reader falls back to .old
    TableOps.overwriteView(spark, path + ".tmpnew", Seq((2, "v2")).toDF("k", "v"), "built from v2")
    fs.rename(new Path(path + ".tmpnew"), new Path(path + ".staging"))
    fs.rename(new Path(path), new Path(path + ".old"))
    assert(TableOps.read(spark, path).as[(Int, String)].collect().toSet == Set((1, "v1")))
    assert(TableOps.sourceOf(spark, path).contains("built from v1"))
    // the next refresh heals, and its record replaces the old one
    TableOps.overwriteView(spark, path, Seq((3, "v3")).toDF("k", "v"), "built from v3")
    assert(TableOps.read(spark, path).as[(Int, String)].collect().toSet == Set((3, "v3")))
    assert(TableOps.sourceOf(spark, path).contains("built from v3"))
    assert(!fs.exists(new Path(path + ".old")) && !fs.exists(new Path(path + ".staging")))
  }

  test("schema drift is rejected, not silently appended") {
    val path = tmpDir("drift") + "/t"
    TableOps.insertIgnore(spark, path, Seq((1, "a")).toDF("k", "v"), Seq("k"))
    val drifted = Seq((2, "b", 9.9)).toDF("k", "v", "extra")
    intercept[IllegalArgumentException] {
      TableOps.insertIgnore(spark, path, drifted, Seq("k"))
    }
    intercept[IllegalArgumentException] {
      TableOps.upsert(spark, path, drifted, Seq("k"))
    }
    // column ORDER differences are fine - appends normalize to table order
    TableOps.insertIgnore(spark, path, Seq(("c", 3)).toDF("v", "k"), Seq("k"))
    assert(TableOps.read(spark, path).as[(Int, String)].collect().toSet ==
      Set((1, "a"), (3, "c")))
  }

  test("compact: shrinks the file count, content identical, crash-safe path") {
    val path = tmpDir("compact") + "/t"
    // simulate many one-batch ingests -> many small files
    (1 to 8).foreach { i =>
      TableOps.insertIgnore(spark, path,
        Seq((i, s"v$i")).toDF("k", "v").repartition(3), Seq("k"))
    }
    def parquetFiles = {
      val d = new java.io.File(path)
      d.listFiles().count(f => f.getName.endsWith(".parquet"))
    }
    val before = TableOps.read(spark, path).as[(Int, String)].collect().toSet
    val filesBefore = parquetFiles
    TableOps.compact(spark, path)
    assert(parquetFiles < filesBefore)
    assert(parquetFiles == 1) // tiny table -> single target-size file
    assert(TableOps.read(spark, path).as[(Int, String)].collect().toSet == before)
  }

  test("type drift is rejected, not silently appended") {
    val path = tmpDir("typeDrift") + "/t"
    TableOps.insertIgnore(spark, path, Seq((1, 10)).toDF("k", "n"), Seq("k"))
    intercept[IllegalArgumentException] {
      TableOps.insertIgnore(spark, path, Seq((2, "ten")).toDF("k", "n"), Seq("k"))
    }
  }

  test("compact with sortCols: content identical, files range-clustered") {
    val path = tmpDir("compactSort") + "/t"
    // interleaved keys across many small appends -> no natural clustering
    (0 until 6).foreach { i =>
      TableOps.insertIgnore(spark, path,
        (0 until 20).map(j => (j * 6 + i, s"v${j * 6 + i}")).toDF("k", "v"),
        Seq("k"))
    }
    val before = TableOps.read(spark, path).as[(Int, String)].collect().toSet
    TableOps.compact(spark, path, targetBytes = 2048, sortCols = Seq("k"))
    assert(TableOps.read(spark, path).as[(Int, String)].collect().toSet == before)
    // every output file holds a contiguous, disjoint key range (this is
    // what makes parquet min/max stats prune files for key predicates)
    val files = new java.io.File(path).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath)
    assert(files.length > 1, "need multiple files to prove clustering")
    val ranges = files.map { f =>
      val ks = spark.read.parquet(f).select("k").as[Int].collect()
      assert(ks.sorted.sameElements(ks), s"file $f must be sorted by k")
      (ks.min, ks.max)
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, hi), (lo, _)) => assert(hi < lo, "file ranges must be disjoint")
      case _ =>
    }
  }

  test("append after a healed crash does not shadow committed data") {
    import org.apache.hadoop.fs.Path
    val fs = new Path("/tmp").getFileSystem(spark.sparkContext.hadoopConfiguration)
    val path = tmpDir("crashAppend") + "/t"
    TableOps.insertIgnore(spark, path, Seq((1, "a")).toDF("k", "v"), Seq("k"))
    // crashed swap state: table dir gone, .old holds the committed version
    fs.rename(new Path(path), new Path(path + ".old"))
    TableOps.insertIgnore(spark, path, Seq((2, "b")).toDF("k", "v"), Seq("k"))
    assert(TableOps.read(spark, path).as[(Int, String)].collect().toSet ==
      Set((1, "a"), (2, "b")))
  }

  test("cdcSnapshot: latest change wins, deletes drop keys, re-inserts survive") {
    val changelog = Seq(
      // key 1: insert -> update (survives with v=12)
      (1L, 1L, "upsert", 11),
      (1L, 2L, "upsert", 12),
      // key 2: insert -> delete (absent)
      (2L, 1L, "upsert", 21),
      (2L, 2L, "delete", 0),
      // key 3: insert -> delete -> RE-insert (survives with v=33)
      (3L, 1L, "upsert", 31),
      (3L, 2L, "delete", 0),
      (3L, 3L, "upsert", 33),
      // key 4: delete arrives LAST by seq even though same ts group (absent)
      (4L, 1L, "upsert", 41),
      (4L, 2L, "delete", 0)
    ).toDF("k", "seq", "op", "v")
    val snap = TableOps.cdcSnapshot(changelog, keys = Seq("k"), orderBy = Seq("seq"))
      .select("k", "v").as[(Long, Int)].collect().toMap
    assert(snap == Map(1L -> 12, 3L -> 33))
  }

  test("partitionStats envelope + pruneCandidates skip non-intersecting partitions") {
    import org.apache.spark.sql.functions.{col, lit}
    val df = Seq(
      (1L, 10L, Some(1.0)), (1L, 20L, None), // part 1: k in [10,20], one null v
      (2L, 30L, Some(2.0)), (2L, 40L, Some(3.0)), // part 2: k in [30,40]
      (3L, 90L, Some(4.0)) // part 3: k = 90
    ).toDF("p", "k", "v")
    val stats = TableOps.partitionStats(df, "p", Seq("k", "v"))
    val byPart = stats.collect().map(r => r.getAs[Long]("p") -> r).toMap
    assert(byPart(1L).getAs[Long]("min_k") == 10L)
    assert(byPart(1L).getAs[Long]("max_k") == 20L)
    assert(byPart(1L).getAs[Long]("nulls_v") == 1L)
    assert(byPart(1L).getAs[Long]("n_rows") == 2L)
    // a predicate on k in [25, 50] can only touch partition 2: partitions
    // 1 and 3 are skipped from the stats alone, no file ever opened
    val survivors = TableOps.pruneCandidates(stats, "p", "k", lit(25L), lit(50L))
      .as[Long].collect().toSet
    assert(survivors == Set(2L))
    // a point lookup below every envelope prunes everything
    assert(TableOps.pruneCandidates(stats, "p", "k", lit(0L), lit(5L)).count() == 0)
  }

  test("columnStats collects min/max/nulls/ndv in one long-form pass") {
    val df = Seq(
      (Some(3), Some("x")), (Some(1), None), (None, Some("y")), (Some(3), Some("x"))
    ).toDF("a", "b")
    val got = TableOps.columnStats(df, Seq("a", "b"))
      .as[(String, String, String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(got == Map(
      "a" -> (("1", "3", 1L, 2L)),
      "b" -> (("x", "y", 1L, 2L))))
  }

  test("writer lock: every keyed write fails fast while a lock exists, forceUnlock clears it") {
    val path = tmpDir("lock") + "/t"
    TableOps.insertIgnore(spark, path, Seq((1, "a")).toDF("k", "v"), Seq("k"))
    val lock = new java.io.File(path + ".lock")
    assert(lock.createNewFile(), "precondition: a foreign writer's lock")
    def contents = TableOps.read(spark, path).as[(Int, String)].collect().toSet
    val incoming = Seq((2, "b")).toDF("k", "v")
    var rowsAsked = false
    val writes = Seq[(String, () => Unit)](
      "insertIgnore" -> (() => TableOps.insertIgnore(spark, path, incoming, Seq("k"))),
      "upsert" -> (() => TableOps.upsert(spark, path, incoming, Seq("k"))),
      "overwriteView" -> (() => TableOps.overwriteView(spark, path, incoming, "b")),
      "appendWith" -> (() => TableOps.appendWith(spark, path) { _ =>
        rowsAsked = true; Some(incoming) }))
    writes.foreach { case (op, write) =>
      val e = intercept[IllegalStateException](write())
      assert(e.getMessage.contains(path + ".lock"), s"$op: ${e.getMessage}")
      assert(lock.exists(), s"$op must not remove another writer's lock")
      assert(contents == Set((1, "a")), s"$op changed a locked table")
    }
    assert(!rowsAsked, "appendWith must not read the table without the lock")
    TableOps.forceUnlock(spark, path)
    assert(!lock.exists())
    TableOps.insertIgnore(spark, path, incoming, Seq("k"))
    assert(contents == Set((1, "a"), (2, "b")))
    assert(!lock.exists(), "a finished write releases its lock")
  }

  test("writer lock: a body that throws still releases the lock") {
    val path = tmpDir("lockthrow") + "/t"
    val e = intercept[RuntimeException] {
      TableOps.withTableLock(spark, path) {
        assert(new java.io.File(path + ".lock").exists(), "the body runs under the lock")
        throw new RuntimeException("body failed")
      }
    }
    assert(e.getMessage == "body failed")
    assert(!new java.io.File(path + ".lock").exists())
    TableOps.insertIgnore(spark, path, Seq((1, "a")).toDF("k", "v"), Seq("k"))
    assert(TableOps.read(spark, path).count() == 1)
  }
}
