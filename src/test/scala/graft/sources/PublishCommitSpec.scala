package graft.sources

import graft.SparkSpec

/** Publish and compaction commit through one step order (see
  * [[ParquetSink.publishPartitionSwap]]), and one ownership rule decides
  * what a version's refs ledger pins. These specs pin the two properties
  * that order and rule give: a publish that dies at its manifest write
  * leaves the durable (previous) version fully pinned, and a committed
  * ledger is exactly what [[ParquetSink.repairVersionLedger]] rebuilds
  * from the manifest.
  */
class PublishCommitSpec extends SparkSpec {

  private def baseRows = Seq(
    (1L, "a", 10L), (2L, "b", 10L), (3L, "c", 10L),
    (4L, "d", 20L), (5L, "e", 20L),
    (6L, "f", 30L), (7L, "g", 30L),
    (8L, "h", 40L))

  private def reclaim(versions: String*): Unit =
    versions.foreach(v => ParquetSink.dropIndexVersion(spark, v))

  private def mkBase(tbl: String): Unit = {
    val s = spark
    import s.implicits._
    ParquetSink.writePartitionedSnapshot(
      baseRows.toDF("id", "payload", "bucket"), tbl, "bucket", Seq("id"))
  }

  private def publish(base: String, v2: String, bucket: Long): Unit = {
    val s = spark
    import s.implicits._
    ParquetSink.publishPartitionSwap(spark, base, v2, "bucket",
      Set(bucket.toString), Seq((9L, "i", bucket)).toDF("id", "payload", "bucket"),
      sortCols = Seq("id"))
  }

  private def asSet(tbl: String): Set[(Long, String, Long)] =
    spark.table(tbl).select("id", "payload", "bucket").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet

  private def whPath(name: String) =
    new org.apache.hadoop.fs.Path(spark.conf.get("spark.sql.warehouse.dir"), name)

  private def fs = whPath("x").getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def readText(p: org.apache.hadoop.fs.Path): Option[String] =
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(in.readAllBytes(), "UTF-8")) finally in.close()
    }

  test("a publish that dies at its manifest write leaves the durable version fully pinned") {
    reclaim("pcommit_v2"); mkBase("pcommit_base")
    publish("pcommit_base", "pcommit_v2", 20L) // generation 1
    val gen1 = baseRows.toSet -- Set((4L, "d", 20L), (5L, "e", 20L)) + ((9L, "i", 20L))
    assert(asSet("pcommit_v2") === gen1)
    // a directory where MetaFiles.replace creates the manifest's temp
    // file: the republish fails exactly at its manifest write
    val tmp = whPath("pcommit_v2__manifest.txt.__tmp")
    assert(fs.mkdirs(tmp))
    intercept[java.io.IOException](publish("pcommit_base", "pcommit_v2", 30L))
    assert(fs.delete(tmp, true))
    // a fresh catalog adopts the last durable version, generation 1
    spark.sql("DROP TABLE `pcommit_v2`")
    assert(ParquetSink.adoptPublishedVersion(spark, "pcommit_v2"))
    assert(asSet("pcommit_v2") === gen1)
    // every base partition generation 1 reads (30 included) is still pinned
    val errors = ParquetSink.fsckPublishedVersion(spark, "pcommit_v2")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
      .filter(_._1 == "error")
    assert(errors.isEmpty, s"error findings: ${errors.toSeq}")
    intercept[IllegalStateException](mkBase("pcommit_base"))
    reclaim("pcommit_v2")
  }

  test("after a publish, the version's ledger equals what repairVersionLedger rebuilds") {
    reclaim("pcommit_v3", "pcommit_v2r"); mkBase("pcommit_rbase")
    publish("pcommit_rbase", "pcommit_v2r", 20L)
    publish("pcommit_v2r", "pcommit_v3", 30L) // chained: foreign deltas too
    Seq("pcommit_v2r", "pcommit_v3").foreach { v =>
      val refs = whPath(s"${v}__refs.txt")
      val committed = readText(refs)
      assert(committed.exists(_.nonEmpty), s"$v references base partitions")
      assert(ParquetSink.repairVersionLedger(spark, v))
      assert(readText(refs) === committed, s"ledger of $v")
    }
    reclaim("pcommit_v3", "pcommit_v2r")
  }
}
