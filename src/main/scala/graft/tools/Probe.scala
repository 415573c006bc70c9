package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev probe for plans and scaling (outside `graft.Verify`/`graft.Bench`),
  * one mode per run, selected by env var:
  *  - `SCALEGEN=k:dir` writes a k-x replica of SPARK_GRAFT_SF_DIR to dir;
  *  - `SCALE=k1,k2` fits the scaling exponent of the SCALEQ entries;
  *  - `PLANS=q1,q2` dumps each entry's formatted and AQE-final plan;
  *  - `AUDIT=q1,q2` (the default) counts exchanges, broadcasts and codegen
  *    stages and prints the pushed filters.
  * Timing and per-layer attribution are the benchmark's traced run
  * (`python3 perfbench/run.py --trace 1`), not a probe mode.
  */
object Probe {

  /** Content-perturbed k-x replica of an sf dir (the SCALE probe's
    * replication scheme — see the SCALE block below for why perturbation
    * keeps dup density constant). Dims stay 1x plain file copies. Events
    * scale by shifting (event_id, user_id) per replica — k× the users,
    * per-user stream structure (and so window/sessionize/funnel shape)
    * identical to the base. SCALEGEN_TABLES=a,b restricts which tables
    * replicate (the rest copy 1x) — used to build table-focused probe
    * dirs without paying a full multi-GB replica.
    */
  def buildScaledDir(spark: SparkSession, sfDir: String, k: Int,
                     dir: String): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    val shift = 10000000L
    val only: Option[Set[String]] =
      sys.env.get("SCALEGEN_TABLES").map(_.split(",").map(_.trim).toSet)
    def copy1x(t: String): Unit = {
      val source = java.nio.file.Paths.get(s"$sfDir/$t.parquet")
      val target = java.nio.file.Paths.get(s"$dir/$t.parquet")
      // a prior replicated build into the same dir leaves a DIRECTORY
      // layout here — recursive-delete it, and fall back to a Spark
      // read/write copy when the source itself is a directory (a plain
      // Files.copy of a directory copies an empty dir)
      if (java.nio.file.Files.isDirectory(target)) {
        import scala.jdk.CollectionConverters._
        val walk = java.nio.file.Files.walk(target)
        try walk.iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.delete)
        finally walk.close()
      } else java.nio.file.Files.deleteIfExists(target)
      if (java.nio.file.Files.isDirectory(source))
        spark.read.parquet(source.toString)
          .write.mode("overwrite").parquet(target.toString)
      else { java.nio.file.Files.copy(source, target); () }
    }
    def replicate(table: String, keyCols: Seq[String],
                  perturb: (DataFrame, Int) => DataFrame): Unit =
      if (!only.forall(_.contains(table))) copy1x(table)
      else {
        val base = spark.read.parquet(s"$sfDir/$table.parquet")
        // replica key ranges must not overlap, or replicas silently
        // merge (users sharing streams, orders sharing lineitems)
        val maxAgg = keyCols.map(c => max(col(c))) match {
          case Seq(one) => one
          case many => greatest(many: _*)
        }
        // max over an EMPTY table is NULL, and a non-BIGINT key column
        // arrives as Int/Decimal — read null-safely via Number (an empty
        // source trivially cannot overlap, so the guard is vacuous there)
        val maxRow = base.agg(maxAgg).head()
        if (!maxRow.isNullAt(0)) {
          val maxKey = maxRow.getAs[Number](0).longValue
          require(maxKey < shift,
            s"$table max key $maxKey >= replica shift $shift — replicas would overlap")
        }
        val parts = (0 until k).map { i =>
          perturb(keyCols.foldLeft(base) { (d, c) =>
            d.withColumn(c, col(c) + lit(i * shift)) }, i)
        }
        parts.reduce(_ unionByName _).write.mode("overwrite")
          .parquet(s"$dir/$table.parquet")
      }
    replicate("lineitem", Seq("l_orderkey"), (d, _) => d)
    replicate("orders", Seq("o_orderkey", "o_custkey"), (d, _) => d)
    replicate("events", Seq("event_id", "user_id"), (d, _) => d)
    replicate("documents", Seq("doc_id"), (d, i) =>
      if (i == 0) d
      else d.withColumn("text", regexp_replace(col("text"), "(\\w+)", s"$$1_$i")))
    replicate("embeddings", Seq("vec_id"), (d, i) =>
      if (i == 0) d
      else {
        val rng = new scala.util.Random(i)
        val signs = Array.fill(64)(if (rng.nextBoolean()) 1.0f else -1.0f)
        d.withColumn("embedding",
          zip_with(col("embedding"), lit(signs), (x, s) => x * s))
      })
    for (t <- Seq("customer", "supplier", "part", "nation", "region"))
      copy1x(t)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    if (sys.env.contains("SCALEGEN")) {
      // Persistent scale-up dir: SCALEGEN="10:/root/repo/target/sf1"
      // builds a content-perturbed 10x replica of SPARK_GRAFT_SF_DIR
      // (same perturbation scheme as the SCALE probe: injective token
      // suffixes for documents, orthogonal sign-flips for embeddings —
      // constant dup density, realistic corpus growth) and leaves it on
      // disk for the sf1 correctness/bench gate.
      val Array(kStr, outDir) = sys.env("SCALEGEN").split(":", 2)
      buildScaledDir(spark, sfDir, kStr.toInt, outDir)
      println(s"[scalegen] wrote ${kStr}x replica of $sfDir to $outDir")
      spark.stop(); return
    }
    if (sys.env.contains("SCALE")) {
      // Scale-up probe: replicate sf0.1 at each factor in SCALE (e.g.
      // SCALE=10,100) and measure SCALEQ operators, fitting the scaling
      // exponent from log t vs log k — evidence for SURVEY §3.
      //
      // Replicas are CONTENT-PERTURBED so near-dup workloads keep a
      // constant dup density (the realistic corpus-growth shape) instead
      // of the k^2 pair blowup identical copies would manufacture:
      //  - documents: every word in replica i>0 gets an `_i` suffix — an
      //    injective token map, so intra-replica jaccard structure is
      //    EXACTLY the base corpus's while cross-replica shingle overlap
      //    is zero;
      //  - embeddings: replica i>0 is reflected by a seeded random ±1
      //    sign pattern per dimension — an orthogonal transform, so
      //    intra-replica cosines are EXACTLY the base corpus's while
      //    cross-replica cosines collapse to ~N(0, 1/64).
      val factors = sys.env("SCALE").split(",").map(_.trim.toInt).filter(_ > 1)
      def buildDir(k: Int): String = {
        val dir = java.nio.file.Files.createTempDirectory(s"graft-scale-$k").toString
        buildScaledDir(spark, sfDir, k, dir)
        dir
      }
      val dirs: Seq[(Int, String)] =
        (1, sfDir) +: factors.toSeq.map(k => k -> buildDir(k))
      // Probe-only composition: embedding clusters with the FULL kmeans‖
      // quantizer (initCentroids k ≈ √n + distributed reduction) instead
      // of the primary entry's stride sample — measures what the refined
      // quantizer costs at scale. The round-3 probe-only scale configs
      // (stride √n centroids, capped ksub) were PROMOTED to the primary
      // inventory entries in round 4, so SCALEQ now probes those
      // directly by name.
      val fixedK: Map[String, (org.apache.spark.sql.SparkSession, String) => DataFrame] = Map(
        "embedding_clusters_kmeans" -> { (s, d) =>
          val emb = graft.Tables.embeddings(s, d)
          val k = math.max(16, math.sqrt(emb.count().toDouble).toInt)
          val cents = graft.operators.Ann.initCentroids(
            emb, "vec_id", "embedding", k = k, seed = 7L)
          val assign = graft.operators.Ann.ivfAssign(
            emb, cents, "vec_id", "embedding", "centroid_id", "cv")
          graft.operators.Clustering.dedupClusters(
            graft.operators.Ann.bucketedCosinePairs(
              emb, assign, "vec_id", "embedding", 0.4),
            "id_a", "id_b")
        })
      val names = sys.env.getOrElse("SCALEQ",
        "q1_pricing_agg,snapshot_diff_updates,tile_assign,dedup_exact,doc_fingerprint,counter_deltas").split(",")
      for (name <- names) {
        def run(d: String): Double = {
          val t0 = System.nanoTime()
          fixedK.getOrElse(name, graft.SparkEntry.queries(name))(spark, d)
            .write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }
        // warm every input (code paths + page cache + file listings),
        // then time each on its second run — a cold first scan otherwise
        // lands only on the scaled points and inflates the exponent
        val times = dirs.map { case (k, d) => run(d); k -> run(d) }
        // least-squares slope of log t over log k = the scaling exponent
        val pts = times.map { case (k, t) => (math.log(k), math.log(t)) }
        val n = pts.size
        val (sx, sy) = (pts.map(_._1).sum, pts.map(_._2).sum)
        val exp = (n * pts.map(p => p._1 * p._2).sum - sx * sy) /
          (n * pts.map(p => p._1 * p._1).sum - sx * sx)
        val series = times.map { case (k, t) => f"${k}x=$t%.2f s" }.mkString(" ")
        println(f"[scale] $name: $series exponent=$exp%.2f (1.0 = linear)")
      }
      // replica dirs are GBs at 100x — don't leave them in /tmp
      dirs.drop(1).foreach { case (_, d) =>
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d))
      }
      spark.stop(); return
    }
    // PLANS=q1,q2 PLANDIR=plans/r14 PLANSUFFIX=before — dump each entry's
    // explain("formatted") (plus the executed/finalized adaptive plan) to
    // <PLANDIR>/<name>_<PLANSUFFIX>.txt for the round's plan artifacts.
    if (sys.env.contains("PLANS")) {
      val dir = java.nio.file.Paths.get(sys.env.getOrElse("PLANDIR", "plans/r14"))
      java.nio.file.Files.createDirectories(dir)
      val suffix = sys.env.getOrElse("PLANSUFFIX", "before")
      for (name <- sys.env("PLANS").split(",").map(_.trim).filter(_.nonEmpty)) {
        val df = graft.SparkEntry.queries(name)(spark, sfDir)
        val exec = df.queryExecution.executedPlan
        // run the plan so AQE finalizes (join strategies, coalesced reads)
        exec.execute().foreachPartition(
          (_: Iterator[org.apache.spark.sql.catalyst.InternalRow]) => ())
        val formatted = df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        val body = formatted + "\n\n== Executed (AQE-final) plan ==\n" + exec.toString
        java.nio.file.Files.write(dir.resolve(s"${name}_$suffix.txt"),
          body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        println(s"[plans] wrote ${dir.resolve(s"${name}_$suffix.txt")}")
      }
      spark.stop(); return
    }
    for (name <- sys.env.getOrElse("AUDIT", "q1_pricing_agg").split(",")) {
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      // Execute THIS plan instance (a writer would build its own
      // QueryExecution and leave this AdaptiveSparkPlan un-finalized,
      // hiding the codegen stages from the string).
      val exec = df.queryExecution.executedPlan
      exec.execute().foreachPartition(
        (_: Iterator[org.apache.spark.sql.catalyst.InternalRow]) => ())
      val plan = exec.toString
      // codegen stages appear as `*(N)` operator prefixes in the plan
      // string — count DISTINCT stage ids, not occurrences
      val wscg = """\*\((\d+)\)""".r.findAllMatchIn(plan).map(_.group(1)).toSet.size
      println(s"[audit] $name: exchanges=" + "Exchange hashpartitioning".r.findAllIn(plan).length +
        " broadcasts=" + "BroadcastExchange".r.findAllIn(plan).length +
        s" wscg=$wscg")
      plan.linesIterator.filter(l => l.contains("PushedFilters") || l.contains("ReadSchema"))
        .take(6).foreach(l => println("[audit]   " + l.trim.take(240)))
    }
    spark.stop()
  }
}
