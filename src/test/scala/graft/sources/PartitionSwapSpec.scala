package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The partition-location-swap publish must give a new table version at
  * DELTA cost: affected partitions come from a freshly written delta
  * directory, unaffected partitions reference the base table's files IN
  * PLACE — never read, rewritten, or copied. These specs prove the
  * mechanics end to end on the same (in-memory) catalog the mains run:
  * read-back equivalence to a full publish, byte-stability of the
  * unaffected files, delta-only write volume, the emptied-partition edge
  * case, CHAINED publishes (a version used as the next base — partition
  * resolution must come from the catalog, not the filesystem), the
  * ownership rule (rebuilding a base referenced by a live version is
  * refused until the version is dropped), generation GC on republish,
  * stray-partition rejection, and value escaping.
  */
class PartitionSwapSpec extends SparkSpec {

  private def baseRows = Seq(
    (1L, "a", 10L), (2L, "b", 10L), (3L, "c", 10L),
    (4L, "d", 20L), (5L, "e", 20L),
    (6L, "f", 30L), (7L, "g", 30L),
    (8L, "h", 40L))

  /** Warehouse ledgers persist across JVMs by design; reclaim this
    * test's version names so a rerun in the same warehouse starts clean.
    */
  private def reclaim(versions: String*): Unit =
    versions.foreach(v => ParquetSink.dropIndexVersion(spark, v))

  private def mkBase(tbl: String): Unit = {
    val s = spark
    import s.implicits._
    ParquetSink.writePartitionedSnapshot(
      baseRows.toDF("id", "payload", "bucket"), tbl, "bucket", Seq("id"))
  }

  /** (path, length, mtime) of every data file under the partition dirs. */
  private def fileStamps(tbl: String): Map[String, (Long, Long)] = {
    val root = ParquetSink.tableLocation(spark, tbl)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = scala.collection.mutable.Map.empty[String, (Long, Long)]
    def walk(p: org.apache.hadoop.fs.Path): Unit =
      fs.listStatus(p).foreach { st =>
        if (st.isDirectory) walk(st.getPath)
        else if (!st.getPath.getName.startsWith("_"))
          out += st.getPath.toString -> (st.getLen, st.getModificationTime)
      }
    walk(root)
    out.toMap
  }

  private def asSet(tbl: String): Set[(Long, String, Long)] =
    spark.table(tbl).select("id", "payload", "bucket").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet

  test("swap publish ≡ full publish, with unaffected files byte-stable") {
    val s = spark
    import s.implicits._
    reclaim("pswap_v2")
    mkBase("pswap_base")
    val before = fileStamps("pswap_base")

    // upsert: bucket 20 gains id 9 and drops id 4; bucket 40 empties;
    // buckets 10 and 30 untouched
    val affected = Set("20", "40")
    val delta = Seq((5L, "e", 20L), (9L, "i", 20L))
      .toDF("id", "payload", "bucket")
    ParquetSink.publishPartitionSwap(spark, "pswap_base", "pswap_v2",
      "bucket", affected, delta)

    val want = baseRows.toSet --
      Set((4L, "d", 20L), (8L, "h", 40L)) + ((9L, "i", 20L))
    assert(asSet("pswap_v2") === want)

    // base files untouched — same paths, lengths, mtimes
    assert(fileStamps("pswap_base") === before)

    // v2's unaffected partitions resolve INTO the base directory (shared
    // files, not copies); delta dir holds ONLY the affected partition
    // inputFiles render as file:// URIs; compare on the path suffix
    val baseLoc = ParquetSink.tableLocation(spark, "pswap_base").toUri.getPath
    val deltaLoc = ParquetSink.tableLocation(spark, "pswap_v2_delta_g1")
    val fs = deltaLoc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val deltaDirs = fs.listStatus(deltaLoc)
      .filter(_.isDirectory).map(_.getPath.getName).toSet
    assert(deltaDirs === Set("bucket=20"))
    val v2Files = spark.table("pswap_v2").inputFiles
    assert(v2Files.exists(f => new java.net.URI(f).getPath.startsWith(baseLoc)),
      s"unaffected partitions should read base files in place: ${v2Files.toSeq}")
    assert(!v2Files.exists(_.contains("bucket=40")),
      "emptied partition must vanish from v2")
  }

  test("partition filters prune v2 to single directories") {
    val s = spark
    import s.implicits._
    reclaim("pswap_v2b")
    mkBase("pswap_base2")
    ParquetSink.publishPartitionSwap(spark, "pswap_base2", "pswap_v2b",
      "bucket", Set("10"), Seq((1L, "z", 10L)).toDF("id", "payload", "bucket"))
    val pruned = spark.table("pswap_v2b").filter(col("bucket") === 30L)
    assert(pruned.inputFiles.forall(_.contains("bucket=30")),
      s"expected partition pruning, scanned: ${pruned.inputFiles.toSeq}")
    assert(pruned.select("id").collect().map(_.getLong(0)).toSet === Set(6L, 7L))
  }

  test("republish over an existing v2 is clean and GCs superseded generations") {
    val s = spark
    import s.implicits._
    reclaim("pswap_v2c")
    mkBase("pswap_base3")
    val delta = Seq((9L, "i", 20L)).toDF("id", "payload", "bucket")
    ParquetSink.publishPartitionSwap(spark, "pswap_base3", "pswap_v2c",
      "bucket", Set("20"), delta)
    val first = asSet("pswap_v2c")
    ParquetSink.publishPartitionSwap(spark, "pswap_base3", "pswap_v2c",
      "bucket", Set("20"), delta)
    assert(asSet("pswap_v2c") === first)
    // generation 1's dirs are superseded and unreferenced — GC'd;
    // generation 2 is live
    val fs = ParquetSink.tableLocation(spark, "pswap_v2c")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(ParquetSink.tableLocation(spark, "pswap_v2c_delta_g1")))
    assert(fs.exists(ParquetSink.tableLocation(spark, "pswap_v2c_delta_g2")))
  }

  test("chained publish: a swap-published version works as the next base") {
    val s = spark
    import s.implicits._
    reclaim("pswap_v3d", "pswap_v2d")
    mkBase("pswap_base4")
    // v2: bucket 20 gains id 9
    ParquetSink.publishPartitionSwap(spark, "pswap_base4", "pswap_v2d",
      "bucket", Set("20"),
      Seq((4L, "d", 20L), (5L, "e", 20L), (9L, "i", 20L))
        .toDF("id", "payload", "bucket"))
    // v3 FROM v2: bucket 30 drops id 6 — v3 must carry bucket 10 (base
    // files), bucket 20 (v2's delta files), and bucket 40 (base files)
    ParquetSink.publishPartitionSwap(spark, "pswap_v2d", "pswap_v3d",
      "bucket", Set("30"),
      Seq((7L, "g", 30L)).toDF("id", "payload", "bucket"))
    val want = baseRows.toSet + ((9L, "i", 20L)) - ((6L, "f", 30L))
    assert(asSet("pswap_v3d") === want)
    // the carried bucket-20 partition resolves into v2's DELTA dir — the
    // catalog resolution a filesystem listing of v2's root cannot give
    val v3Files = spark.table("pswap_v3d").inputFiles.toSeq
    assert(v3Files.exists(_.contains("pswap_v2d_delta_g1")),
      s"v3 should reference v2's delta files in place: $v3Files")
    val baseLoc = ParquetSink.tableLocation(spark, "pswap_base4").toUri.getPath
    assert(v3Files.exists(f => new java.net.URI(f).getPath.startsWith(baseLoc)),
      s"v3 should still reference the original base's files: $v3Files")
  }

  test("rebuilding a base under a live version is refused until the version drops") {
    val s = spark
    import s.implicits._
    reclaim("pswap_v2e")
    mkBase("pswap_base5")
    ParquetSink.publishPartitionSwap(spark, "pswap_base5", "pswap_v2e",
      "bucket", Set("20"), Seq((9L, "i", 20L)).toDF("id", "payload", "bucket"))
    // overwriting the base would dangle v2e's carried partitions
    val ex = intercept[IllegalStateException] { mkBase("pswap_base5") }
    assert(ex.getMessage.contains("pswap_v2e"))
    // v2 still reads correctly after the refused rebuild
    assert(asSet("pswap_v2e") ===
      baseRows.toSet -- Set((4L, "d", 20L), (5L, "e", 20L)) + ((9L, "i", 20L)))
    // dropping the version releases the base for rebuild
    ParquetSink.dropIndexVersion(spark, "pswap_v2e")
    mkBase("pswap_base5")
    assert(asSet("pswap_base5") === baseRows.toSet)
  }

  test("delta rows outside `affected` are rejected, not silently shadowed") {
    val s = spark
    import s.implicits._
    reclaim("pswap_v2f")
    mkBase("pswap_base6")
    val ex = intercept[IllegalArgumentException] {
      ParquetSink.publishPartitionSwap(spark, "pswap_base6", "pswap_v2f",
        "bucket", Set("20"),
        Seq((9L, "i", 20L), (99L, "x", 30L)).toDF("id", "payload", "bucket"))
    }
    assert(ex.getMessage.contains("30"))
    reclaim("pswap_v2f")
  }

  test("string partition values with quotes escape cleanly") {
    val s = spark
    import s.implicits._
    reclaim("pswap_v2g")
    val base = Seq((1L, "it's"), (2L, "plain"), (3L, "it's"))
      .toDF("id", "tag")
    ParquetSink.writePartitionedSnapshot(base, "pswap_base7", "tag", Seq("id"))
    ParquetSink.publishPartitionSwap(spark, "pswap_base7", "pswap_v2g",
      "tag", Set("it's"),
      Seq((1L, "it's"), (4L, "it's")).toDF("id", "tag"))
    val got = spark.table("pswap_v2g").select("id", "tag").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got === Set((1L, "it's"), (4L, "it's"), (2L, "plain")))
  }

  test("adoptPartitionedTable re-registers on-disk data after a catalog restart") {
    val s = spark
    import s.implicits._
    // simulate the fresh-JVM state: partitioned DATA at the table's
    // conventional warehouse location, no catalog entry
    val loc = ParquetSink.tableLocation(spark, "pswap_adopt")
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
    spark.sql("DROP TABLE IF EXISTS `pswap_adopt`")
    baseRows.toDF("id", "payload", "bucket")
      .repartition(col("bucket"))
      .write.partitionBy("bucket").parquet(loc.toString)
    val before = {
      val out = scala.collection.mutable.Map.empty[String, Long]
      def walk(p: org.apache.hadoop.fs.Path): Unit =
        fs.listStatus(p).foreach { st =>
          if (st.isDirectory) walk(st.getPath)
          else out += st.getPath.toString -> st.getModificationTime
        }
      walk(loc); out.toMap
    }

    assert(ParquetSink.adoptPartitionedTable(spark, "pswap_adopt",
      "bucket", "BIGINT"))
    // adopted, not rebuilt: files untouched, full content back, the
    // partition column typed LONG (no INT narrowing from dir names),
    // partition pruning live
    assert(asSet("pswap_adopt") === baseRows.toSet)
    assert(spark.table("pswap_adopt").schema("bucket").dataType ===
      org.apache.spark.sql.types.LongType)
    val pruned = spark.table("pswap_adopt").filter(col("bucket") === 20L)
    assert(pruned.inputFiles.forall(_.contains("bucket=20")))
    val after = {
      val out = scala.collection.mutable.Map.empty[String, Long]
      def walk(p: org.apache.hadoop.fs.Path): Unit =
        fs.listStatus(p).foreach { st =>
          if (st.isDirectory) walk(st.getPath)
          else out += st.getPath.toString -> st.getModificationTime
        }
      walk(loc); out.toMap
    }
    assert(after === before)
    // a published version can chain off the adopted base
    reclaim("pswap_adopt_v2")
    ParquetSink.publishPartitionSwap(spark, "pswap_adopt", "pswap_adopt_v2",
      "bucket", Set("20"), Seq((9L, "i", 20L)).toDF("id", "payload", "bucket"))
    assert(asSet("pswap_adopt_v2") ===
      baseRows.toSet -- Set((4L, "d", 20L), (5L, "e", 20L)) + ((9L, "i", 20L)))
    reclaim("pswap_adopt_v2")
  }

  test("adoptBucketedTable re-registers a bucketed index with bucket-local joins intact") {
    val s = spark
    import s.implicits._
    val df = (1L to 200L).map(i => (i, s"p$i")).toDF("id", "payload")
    ParquetSink.writeBucketedSnapshot(df, "badopt_src", Seq("id"), buckets = 4)
    // simulate the fresh-JVM state for a SECOND table: same files on
    // disk at its conventional location, no catalog entry
    val conf = spark.sparkContext.hadoopConfiguration
    val srcLoc = ParquetSink.tableLocation(spark, "badopt_src")
    val dstLoc = ParquetSink.tableLocation(spark, "badopt_dst")
    val fs = dstLoc.getFileSystem(conf)
    if (fs.exists(dstLoc)) fs.delete(dstLoc, true)
    spark.sql("DROP TABLE IF EXISTS `badopt_dst`")
    org.apache.hadoop.fs.FileUtil.copy(fs, srcLoc, fs, dstLoc, false, conf)

    assert(ParquetSink.adoptBucketedTable(spark, "badopt_dst", Seq("id"),
      Seq("id"), buckets = 4))
    assert(spark.table("badopt_dst").count() === 200L)
    // the adopted table must behave as BUCKETED: a (non-broadcast)
    // sort-merge join of the original and the adopted copy on the
    // bucket column plans with ZERO shuffle exchanges — both sides
    // scan bucket-locally
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("badopt_src")
        .join(spark.table("badopt_dst"), "id")
      assert(joined.count() === 200L)
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"adopted bucketed table lost bucket-local join:\n${plan.take(1500)}")
      assert(plan.contains("SortMergeJoin"))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
  }

  /** An EXTERNAL base at the conventional location: `DROP TABLE` then
    * only forgets the catalog entry (data persists) — the honest
    * simulation of a JVM restart, where managed-table data also
    * persists because nothing drops it.
    */
  private def mkBaseExternal(tbl: String): Unit = {
    val s = spark
    import s.implicits._
    val loc = ParquetSink.tableLocation(spark, tbl)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    spark.sql(s"DROP TABLE IF EXISTS `$tbl`")
    if (fs.exists(loc)) fs.delete(loc, true)
    baseRows.toDF("id", "payload", "bucket")
      .repartition(col("bucket"))
      .write.partitionBy("bucket").parquet(loc.toString)
    assert(ParquetSink.adoptPartitionedTable(spark, tbl, "bucket", "BIGINT"))
  }

  test("manifest: a published version survives a catalog restart (adopt-by-manifest)") {
    val s = spark
    import s.implicits._
    reclaim("pswap_v3m", "pswap_v2m")
    mkBaseExternal("pswap_base_m")
    ParquetSink.publishPartitionSwap(spark, "pswap_base_m", "pswap_v2m",
      "bucket", Set("20"), Seq((9L, "i", 20L)).toDF("id", "payload", "bucket"))
    val want = asSet("pswap_v2m")
    val wantFiles = spark.table("pswap_v2m").inputFiles.toSet
    // simulate the fresh JVM: the in-memory catalog forgets every entry
    // while data files and sidecar manifests persist
    spark.sql("DROP TABLE IF EXISTS `pswap_v2m`")
    spark.sql("DROP TABLE IF EXISTS `pswap_base_m`")
    assert(ParquetSink.adoptPublishedVersion(spark, "pswap_v2m"),
      "adopt-by-manifest should succeed with files and manifest intact")
    // row-identical, SAME underlying files (base partitions still
    // referenced in place — nothing was copied or rebuilt)
    assert(asSet("pswap_v2m") === want)
    assert(spark.table("pswap_v2m").inputFiles.toSet === wantFiles)
    // partition pruning is alive on the adopted entry
    val pruned = spark.table("pswap_v2m").filter(col("bucket") === 30L)
    assert(pruned.inputFiles.forall(_.contains("bucket=30")),
      s"expected pruning on adopted version, scanned: ${pruned.inputFiles.toSeq}")
    // and a chained publish can use the ADOPTED version as its base —
    // the catalog entry the manifest rebuilt is publish-equivalent
    ParquetSink.publishPartitionSwap(spark, "pswap_v2m", "pswap_v3m",
      "bucket", Set("10"), Seq((1L, "a2", 10L)).toDF("id", "payload", "bucket"))
    val wantV3 = want -- Set((1L, "a", 10L), (2L, "b", 10L), (3L, "c", 10L)) +
      ((1L, "a2", 10L))
    assert(asSet("pswap_v3m") === wantV3)
    // the chained version adopts too (its manifest references BOTH the
    // original base's dirs and v2's delta dirs)
    spark.sql("DROP TABLE IF EXISTS `pswap_v3m`")
    assert(ParquetSink.adoptPublishedVersion(spark, "pswap_v3m"))
    assert(asSet("pswap_v3m") === wantV3)
    val v3Files = spark.table("pswap_v3m").inputFiles.toSeq
    assert(v3Files.exists(_.contains("pswap_v2m_delta_g1")), s"got: $v3Files")
    val baseLoc = ParquetSink.tableLocation(spark, "pswap_base_m").toUri.getPath
    assert(v3Files.exists(f => new java.net.URI(f).getPath.startsWith(baseLoc)),
      s"got: $v3Files")
  }

  test("manifest: adopt refuses when the manifest or referenced files are gone") {
    val s = spark
    import s.implicits._
    reclaim("pswap_v2n")
    mkBase("pswap_base_n")
    val delta = Seq((9L, "i", 20L)).toDF("id", "payload", "bucket")
    ParquetSink.publishPartitionSwap(spark, "pswap_base_n", "pswap_v2n",
      "bucket", Set("20"), delta)
    // dropIndexVersion retires the manifest with the version
    ParquetSink.dropIndexVersion(spark, "pswap_v2n")
    assert(!ParquetSink.adoptPublishedVersion(spark, "pswap_v2n"),
      "a dropped version must not adopt back")
    // a manifest whose referenced partition dir vanished out-of-band
    // must NOT register a dangling table
    ParquetSink.publishPartitionSwap(spark, "pswap_base_n", "pswap_v2n",
      "bucket", Set("20"), delta)
    spark.sql("DROP TABLE IF EXISTS `pswap_v2n`")
    val b10 = new org.apache.hadoop.fs.Path(
      ParquetSink.tableLocation(spark, "pswap_base_n"), "bucket=10")
    val fs = b10.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(b10, true)
    assert(!ParquetSink.adoptPublishedVersion(spark, "pswap_v2n"),
      "adopt must refuse a manifest pointing at vanished files")
    reclaim("pswap_v2n")
  }

  test("publish lock: concurrent publisher refused; success and failure both release") {
    val s = spark
    import s.implicits._
    reclaim("pswap_v2l")
    mkBase("pswap_base_l")
    val delta = Seq((9L, "i", 20L)).toDF("id", "payload", "bucket")
    val lock = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), "pswap_v2l__publish.lock")
    val fs = lock.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(lock, false).close() // a concurrent publisher holds the lock
    val ex = intercept[IllegalStateException] {
      ParquetSink.publishPartitionSwap(spark, "pswap_base_l", "pswap_v2l",
        "bucket", Set("20"), delta)
    }
    assert(ex.getMessage.contains("pswap_v2l") && ex.getMessage.contains("lock"))
    // recovery path 1: delete the stale lock and rerun
    fs.delete(lock, false)
    ParquetSink.publishPartitionSwap(spark, "pswap_base_l", "pswap_v2l",
      "bucket", Set("20"), delta)
    assert(!fs.exists(lock), "a successful publish must release its lock")
    // a FAILED publish (stray-partition reject) must release it too
    intercept[IllegalArgumentException] {
      ParquetSink.publishPartitionSwap(spark, "pswap_base_l", "pswap_v2l",
        "bucket", Set("20"), Seq((9L, "x", 30L)).toDF("id", "payload", "bucket"))
    }
    assert(!fs.exists(lock), "a failed publish must release its lock")
    // recovery path 2: dropIndexVersion clears a crashed publisher's lock
    fs.create(lock, false).close()
    ParquetSink.dropIndexVersion(spark, "pswap_v2l")
    assert(!fs.exists(lock))
  }

  test("publish lock: two publishers of one version in one JVM, one refused") {
    val s = spark
    import s.implicits._
    reclaim("pswap_v2c")
    mkBase("pswap_base_c")
    val delta = Seq((9L, "i", 20L)).toDF("id", "payload", "bucket")
    val start = new java.util.concurrent.CyclicBarrier(2)
    val refused = new java.util.concurrent.CountDownLatch(1)
    // the lock holder waits in its first phase until the other publisher
    // has been refused, so the two publishes always overlap
    val holdUntilRefused = new graft.PhaseTimer {
      def apply[A](label: String)(f: => A): A = {
        refused.await(30, java.util.concurrent.TimeUnit.SECONDS); f
      }
    }
    val outcomes = new java.util.concurrent.ConcurrentLinkedQueue[Either[Throwable, Unit]]()
    val threads = (1 to 2).map { _ =>
      new Thread(() => {
        start.await()
        outcomes.add(
          try Right(ParquetSink.publishPartitionSwap(spark, "pswap_base_c",
            "pswap_v2c", "bucket", Set("20"), delta, timer = holdUntilRefused))
          catch { case e: Throwable => refused.countDown(); Left(e) })
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    val (failed, ok) = outcomes.toArray.toSeq
      .map(_.asInstanceOf[Either[Throwable, Unit]]).partition(_.isLeft)
    assert(ok.size == 1 && failed.size == 1, outcomes)
    val ex = failed.head.swap.toOption.get
    assert(ex.isInstanceOf[IllegalStateException] &&
      ex.getMessage.contains("publish lock for 'pswap_v2c'"), ex)
    assert(asSet("pswap_v2c") ===
      baseRows.toSet -- Set((4L, "d", 20L), (5L, "e", 20L)) + ((9L, "i", 20L)))
    val lock = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), "pswap_v2c__publish.lock")
    assert(!lock.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(lock))
    reclaim("pswap_v2c")
  }

  test("published v2 root exists on disk (no FileStreamSink probe noise)") {
    val s = spark
    import s.implicits._
    reclaim("pswap_v2r")
    mkBase("pswap_base_r")
    ParquetSink.publishPartitionSwap(spark, "pswap_base_r", "pswap_v2r",
      "bucket", Set("20"), Seq((9L, "i", 20L)).toDF("id", "payload", "bucket"))
    val root = ParquetSink.tableLocation(spark, "pswap_v2r_g1")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(root),
      "the v2 root must physically exist — Spark's FileStreamSink " +
      "metadata probe logs a FileNotFoundException stack per read otherwise")
  }

  test("empty-diff publish: zero affected partitions gives a pure carry-over v2") {
    val s = spark
    import s.implicits._
    reclaim("pswap_v2e0")
    mkBase("pswap_base_e0")
    val delta = Seq.empty[(Long, String, Long)].toDF("id", "payload", "bucket")
    ParquetSink.publishPartitionSwap(spark, "pswap_base_e0", "pswap_v2e0",
      "bucket", Set.empty, delta)
    assert(asSet("pswap_v2e0") === baseRows.toSet)
    // every partition references the base in place; nothing was written
    val baseLoc = ParquetSink.tableLocation(spark, "pswap_base_e0").toUri.getPath
    val files = spark.table("pswap_v2e0").inputFiles.toSeq
    assert(files.nonEmpty &&
      files.forall(f => new java.net.URI(f).getPath.startsWith(baseLoc)),
      s"pure carry-over expected: $files")
    // and the manifest round-trips it like any other version
    spark.sql("DROP TABLE IF EXISTS `pswap_v2e0`")
    assert(ParquetSink.adoptPublishedVersion(spark, "pswap_v2e0"))
    assert(asSet("pswap_v2e0") === baseRows.toSet)
  }

  test("sortCols lays affected partitions out in the snapshot's sort order") {
    val s = spark
    import s.implicits._
    reclaim("pswap_v2h")
    mkBase("pswap_base8")
    ParquetSink.publishPartitionSwap(spark, "pswap_base8", "pswap_v2h",
      "bucket", Set("20"),
      Seq((9L, "i", 20L), (4L, "d", 20L), (5L, "e", 20L))
        .toDF("id", "payload", "bucket"),
      sortCols = Seq("id"))
    // single file per partition: parquet preserves written row order
    val ids = spark.table("pswap_v2h").filter(col("bucket") === 20L)
      .select("id").collect().map(_.getLong(0)).toSeq
    assert(ids === ids.sorted, s"affected partition should be id-sorted: $ids")
  }
}
