package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.operators.{Cdc, Skew, Transforms}

/** Property-style checks over generated inputs. ScalaCheck supplies the
  * generators; sampling is explicit (fixed seeds) so failures reproduce,
  * and DataFrame-level properties batch all samples into one plan instead
  * of one job per case.
  */
class PropertiesSpec extends SparkSpec {

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))

  test("deflate/inflate round-trips arbitrary unicode strings") {
    val strs = samples(Gen.listOf(Gen.choose(0, 0x10ffff)
      .suchThat(c => !(0xd800 to 0xdfff).contains(c))
      .map(Character.toChars(_).mkString)).map(_.mkString), 300)
    (strs :+ "" :+ "\u0000\u0000" :+ "0x" * 10000).foreach { s =>
      val bytes = s.getBytes("UTF-8")
      assert(new String(Transforms.inflate(Transforms.deflate(bytes)), "UTF-8") == s)
    }
  }

  test("tile assignments are total and in range for random keys and tile counts") {
    val spark0 = spark
    import spark0.implicits._
    val keys = samples(Gen.long, 500)
    val df = keys.toDF("k")
    for (tiles <- Seq(1, 7, 32, 257)) {
      val out = df.select(
        Cdc.tileMd5(col("k"), tiles).as("m"),
        Cdc.tileXxhash64(Seq(col("k")), tiles).as("x")).collect()
      assert(out.forall(r => r.getInt(0) >= 0 && r.getInt(0) < tiles))
      assert(out.forall(r => r.getLong(1) >= 0 && r.getLong(1) < tiles))
    }
  }

  test("compressColumn/decompressColumn round-trips a DataFrame column") {
    val spark0 = spark
    import spark0.implicits._
    val strs = samples(Gen.asciiPrintableStr, 200).zipWithIndex
      .map { case (s, i) => (i.toLong, s) }
    val df = strs.toDF("id", "payload")
    val back = Transforms.decompressColumn(
        Transforms.compressColumn(df, "payload", "packed"), "packed", "unpacked")
      .select(col("id"), (col("unpacked") <=> col("payload")).as("ok"))
    assert(back.collect().forall(_.getBoolean(1)))
  }

  test("saltedJoin equals the plain join on random key distributions") {
    val spark0 = spark
    import spark0.implicits._
    // skewed keys: most mass on key 0
    val leftRows = samples(Gen.frequency(8 -> Gen.const(0), 2 -> Gen.choose(1, 20)), 400)
      .zipWithIndex.map { case (k, i) => (k, i) }
    val rightRows = (0 to 20).map(k => (k, s"v$k"))
    val left = leftRows.toDF("k", "payload")
    val right = rightRows.toDF("k", "tag")
    for (factor <- Seq(1, 5)) {
      val salted = Skew.saltedJoin(left, right, Seq("k"), factor)
        .collect().map(_.toSeq).toSet
      val plain = left.join(right, Seq("k")).collect().map(_.toSeq).toSet
      assert(salted == plain && plain.nonEmpty)
    }
  }

  test("bloomPrefilteredJoin equals the plain inner join") {
    val spark0 = spark
    import spark0.implicits._
    val big = samples(Gen.choose(0L, 500L), 600).zipWithIndex
      .map { case (k, i) => (k, i.toLong) }.toDF("bk", "payload")
    // sparse small side → most big rows should be rejected pre-shuffle
    val small = Seq(3L, 77L, 250L, 499L, 1000L).toDF("sk")
    val bloomed = Skew.bloomPrefilteredJoin(big, small, "bk", "sk", fpp = 0.01)
      .collect().map(_.toSeq).toSet
    val plain = big.join(small, col("bk") === col("sk"))
      .collect().map(_.toSeq).toSet
    assert(bloomed === plain)
    // no false negatives by construction: every plain-join row survived
    assert(plain.subsetOf(bloomed))
  }

  test("mvMaintain mutations replay the prev view into exactly the curr view") {
    val spark0 = spark
    import spark0.implicits._
    val rowGen = Gen.zip(Gen.choose(0L, 40L), Gen.choose(0L, 5L),
      Gen.choose(1L, 50L))
    for (seed <- 0 until 3) {
      val prevRows = samples(rowGen, 30 + seed).distinctBy(_._1)
      // curr shares ids with prev but moves keys / bumps ts / adds / drops
      val currRows = samples(rowGen, 35).distinctBy(_._1)
      val prev = prevRows.toDF("id", "vk", "ts")
      val curr = currRows.toDF("id", "vk", "ts")
      val muts = graft.operators.Cdc.mvMaintain(prev, curr, Seq("id"), "vk")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3)))
      // replay against the prev view keyed by (vk, id)
      var view = prevRows.map { case (id, vk, ts) => (vk, id) -> ts }.toMap
      muts.foreach {
        case ("delete", vk, id, _)  => view -= ((vk, id))
        case ("insert", vk, id, ts) => view += ((vk, id) -> ts)
        case ("update", vk, id, ts) => view += ((vk, id) -> ts)
        case other                  => fail(s"unexpected mutation $other")
      }
      val want = currRows.map { case (id, vk, ts) => (vk, id) -> ts }.toMap
      assert(view === want, s"seed $seed")
    }
  }

  test("aggViewMaintain equals a from-scratch recompute on random change feeds") {
    val spark0 = spark
    import spark0.implicits._
    val rowGen = Gen.zip(Gen.choose(0L, 50L), Gen.choose(0L, 5L),
      Gen.choose(1, 100))
    for (seed <- 0 until 3) {
      val prevRows = samples(rowGen, 40 + seed).distinctBy(_._1)
        .map { case (k, g, v) => (k, g, v.toDouble / 4) }
      val currRows = samples(rowGen, 45).distinctBy(_._1)
        .map { case (k, g, v) => (k, g, v.toDouble / 4) }
      val prev = prevRows.toDF("id", "g", "v")
      val curr = currRows.toDF("id", "g", "v")
      val maintained = Cdc.aggViewMaintain(prev, curr, Seq("id"), "g", "v")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val direct = curr.groupBy("g")
        .agg(count(lit(1)).cast("long").as("n"),
          round(sum(col("v").cast("decimal(38,6)")).cast("double"), 6)
            .as("sum_v"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(maintained === direct)
    }
  }

  test("applying the CDC diff to prev reproduces curr, for random snapshots") {
    val spark0 = spark
    import spark0.implicits._
    // random prev/curr with overlapping keys and null-able ts
    val rowGen = Gen.zip(Gen.choose(0L, 60L),
      Gen.option(Gen.choose(0L, 5L)))
    for (seed <- 0 until 3) {
      val prevRows = samples(rowGen, 40 + seed).distinctBy(_._1)
      val currRows = samples(rowGen, 40)
        .map { case (k, ts) => (k + seed, ts) }.distinctBy(_._1)
      val prev = prevRows.toDF("k", "ts")
      val curr = currRows.toDF("k", "ts")
      val next = Cdc.applyDelta(prev,
          Cdc.inserts(curr, prev, Seq("k")),
          Cdc.updates(curr, prev, Seq("k"), "ts"),
          Cdc.deletes(curr, prev, Seq("k")), Seq("k"))
        .collect().map(r => (r.getLong(0), Option(r.get(1)))).toSet
      val expect = currRows.map { case (k, ts) => (k, ts: Option[Any]) }.toSet
      assert(next == expect, s"seed $seed")
    }
  }

  test("connectedComponents matches a union-find reference on random graphs") {
    val spark0 = spark
    import spark0.implicits._
    // Sparse ids in random order, so label order is unrelated to the
    // graph's shape: paths, random trees, and random multigraphs with
    // duplicate edges and self-loops.
    val ids = Gen.choose(2, 40)
      .flatMap(n => Gen.listOfN(n, Gen.choose(0L, 999999L))).map(_.distinct)
    val path = ids.map(v => v.zip(v.tail))
    val tree = ids.flatMap(v => Gen.sequence[List[(Long, Long)], (Long, Long)](
      v.indices.tail.map(i => Gen.choose(0, i - 1).map(j => (v(j), v(i))))))
    val random = ids.flatMap(v =>
      Gen.listOfN(v.size, Gen.zip(Gen.oneOf(v), Gen.oneOf(v))))
    // every sample in one call over disjoint id ranges: the union's
    // components are the samples' components
    val edges = samples(Gen.oneOf(path, tree, random), 24).zipWithIndex
      .flatMap { case (g, i) =>
        g.map { case (a, b) => (a + i * 1000000L, b + i * 1000000L) } }
    val got = graft.operators.Clustering
      .connectedComponents(edges.toDF("a", "b"), "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == UnionFind.components(edges))
  }

  test("cqlLiteral text quoting survives embedded quotes (spec unescape)") {
    val spark0 = spark
    import spark0.implicits._
    val strs = samples(Gen.listOf(Gen.oneOf(Gen.alphaNumChar, Gen.const('\'')))
      .map(_.mkString), 150).distinct.zipWithIndex
      .map { case (s, i) => (i.toLong, s) }
    val out = strs.toDF("id", "s")
      .select(col("id"), Transforms.cqlLiteral(col("s"), "text").as("lit"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    strs.foreach { case (i, s) =>
      val lit = out(i)
      assert(lit.head == '\'' && lit.last == '\'')
      assert(lit.drop(1).dropRight(1).replace("''", "'") == s, s"id $i")
    }
  }

  test("FloatVecCosine codegen matches a JVM-computed reference") {
    val spark0 = spark
    import spark0.implicits._
    val vecGen = Gen.listOfN(16, Gen.choose(-1.0f, 1.0f)).map(_.toArray)
    val pairs = samples(Gen.zip(vecGen, vecGen), 100).zipWithIndex
      .map { case ((a, b), i) => (i.toLong, a, b) }
    def ref(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) dot += a(i).toDouble * b(i).toDouble
      for (i <- a.indices) { val v = a(i).toDouble; na += v * v }
      for (i <- b.indices) { val v = b(i).toDouble; nb += v * v }
      dot / math.sqrt(na) / math.sqrt(nb)
    }
    val out = pairs.toDF("id", "a", "b")
      .select(col("id"), graft.operators.Ann.cosine(col("a"), col("b")).as("c"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    pairs.foreach { case (i, a, b) =>
      val expect = ref(a, b)
      assert(out(i) == expect || (out(i).isNaN && expect.isNaN),
        s"id $i: ${out(i)} != $expect")
    }
  }
}
