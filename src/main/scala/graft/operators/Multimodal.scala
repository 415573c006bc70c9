package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: media payloads as opaque binary columns with
  * typed metadata, plus partition-wise decode stages.
  *
  * The IMAGE path is REAL: `javax.imageio` (pure JDK — PNG/BMP/GIF/JPEG)
  * decodes and resizes actual encoded bytes inside the typed
  * `mapPartitions` dataflow ([[decodeImages]], [[resizeImages]]), and the
  * decode is oracle-verified through a lossless PNG round trip
  * ([[syntheticPngs]]). Audio/video codecs remain STUBBED (the container
  * ships none) behind the same partition-batched shape — binary column +
  * metadata projection stay in codegen; the decode runs as a typed
  * `mapPartitions` (the Scala analogue of `mapInPandas` batch UDFs) so a
  * real codec drops in per-partition with zero plan changes.
  */
object Multimodal {

  final case class MediaRow(doc_id: Long, payload: Array[Byte])

  /** Order-sensitive polynomial checksum of a BINARY payload, fully
    * relational: fold (acc·31 + byteᵢ) mod 1 000 000 007 over the bytes
    * with `aggregate` + the [[byteAtSql]] read — native Catalyst
    * higher-order functions, no UDF, no mapPartitions (this retired the
    * last stubbed decode body). The modulus keeps every intermediate
    * < 2⁶⁰ (acc·31⁴⁰⁹⁶-partial products reduce mod p before multiplying),
    * ANSI-safe; an empty payload checksums to 0.
    *
    * CHUNKED evaluation: the fold runs per 4 KiB slice and combines the
    * per-slice partials with acc·(31^len mod p) + partial — the
    * polynomial-hash combine law — so a multi-MB media payload only ever
    * materializes one 4096-element index array at a time plus an
    * n/4096-element chunk list, never a per-byte sequence over the whole
    * payload ([[payloadChecksumByteFold]] is the one-shot reference
    * form; spec-proven equal on multi-chunk, exact-multiple, sub-chunk
    * and empty payloads).
    */
  def payloadChecksum(payloadCol: String): org.apache.spark.sql.Column = {
    val p = 1000000007L
    val chunk = 4096
    val pow31Chunk = BigInt(31).modPow(BigInt(chunk), BigInt(p)).toLong
    val n = s"cast(octet_length($payloadCol) as bigint)"
    // per-chunk byte fold; the k = 0 guard keeps the dominant
    // document-sized (single-chunk) case at exactly the one-shot fold's
    // cost — no multiplier, no pow loop
    val partial =
      s"""aggregate(
         |        sequence(1, cast(least($chunk, $n - k * $chunk) as int)),
         |        0L,
         |        (a, i) -> pmod(a * 31 + ${byteAtSql(payloadCol, s"k * $chunk + i")}, $p))""".stripMargin
    expr(
      s"""CASE WHEN $n = 0 THEN 0L
         |ELSE aggregate(
         |  sequence(0L, ($n + ${chunk - 1}) div $chunk - 1),
         |  0L,
         |  (acc, k) -> CASE WHEN k = 0 THEN $partial
         |    ELSE pmod(
         |      acc * (CASE WHEN (k + 1) * $chunk <= $n THEN ${pow31Chunk}L
         |             ELSE aggregate(sequence(1, cast($n - k * $chunk as int)),
         |               1L, (pw, j) -> pmod(pw * 31, $p)) END)
         |      + $partial,
         |      $p) END)
         |END""".stripMargin)
  }

  /** The one-shot whole-payload byte fold — the reference form
    * [[payloadChecksum]]'s chunked evaluation must equal (and did serve
    * as the production expression until round 8). Kept for the spec and
    * for payloads known small.
    */
  private[operators] def payloadChecksumByteFold(
      payloadCol: String): org.apache.spark.sql.Column =
    expr(
      s"""CASE WHEN octet_length($payloadCol) = 0 THEN 0L
         |ELSE aggregate(sequence(1, octet_length($payloadCol)), 0L,
         |  (acc, i) -> pmod(acc * 31 + ${byteAtSql(payloadCol, "i")}, 1000000007))
         |END""".stripMargin)

  /** Pure-SQL metadata + fingerprint over a binary payload column: byte
    * length, header magic (first 4 bytes, lower hex), frame count at a
    * fixed 256-byte frame size — ceil division, consistent with
    * [[frameSlices]] (an exact multiple of 256 is that many frames,
    * empty is zero) — and the byte-exact [[payloadChecksum]].
    */
  def payloadMeta(df: DataFrame, idCol: String, payloadCol: String): DataFrame =
    df.select(
      col(idCol).as("doc_id"),
      octet_length(col(payloadCol)).cast("long").as("n_bytes"),
      lower(hex(substring(col(payloadCol), 1, 4))).as("header_hex"),
      expr(s"(octet_length($payloadCol) + 255) div 256").cast("long").as("n_frames"),
      payloadChecksum(payloadCol).as("checksum"))

  /** documents.text rendered as an opaque binary payload — the testdata has
    * no real media column, so the text bytes play that role.
    */
  def payloadsFromDocuments(spark: SparkSession, docs: DataFrame): Dataset[MediaRow] = {
    import spark.implicits._
    docs.select(col("doc_id").cast("long"),
        encode(col("text"), "UTF-8").as("payload"))
      .as[MediaRow]
  }

  // ------------------------------------------------------------- frames

  final case class FrameRow(doc_id: Long, frame_idx: Long, frame: Array[Byte])

  final case class FrameFeature(doc_id: Long, frame_idx: Long, feature: Long)

  /** Frame sampling: one payload row explodes into fixed-size byte frames
    * (video-frame / audio-window analogue). Pure relational — explode over
    * a frame-index sequence plus binary substring — so slicing runs
    * distributed with no UDF; the expensive per-frame decode happens later
    * in [[frameFeatures]] only on the frames that survive whatever
    * filtering sits between.
    */
  def frameSlices(df: DataFrame, idCol: String, payloadCol: String,
                  frameBytes: Int = 256): DataFrame =
    df.select(col(idCol).as("doc_id"), col(payloadCol).as("p"))
      .withColumn("n_frames",
        expr(s"(octet_length(p) + ${frameBytes - 1}) div $frameBytes"))
      .filter(col("n_frames") > 0) // empty payloads produce no frames
      .select(col("doc_id"),
        explode(expr("sequence(0L, n_frames - 1)")).as("frame_idx"),
        col("p"))
      .select(col("doc_id"), col("frame_idx"),
        expr(s"substring(p, CAST(frame_idx * $frameBytes + 1 AS INT), $frameBytes)")
          .as("frame"))

  final case class DownscaledImage(doc_id: Long, width: Int, height: Int,
                                   out_w: Int, out_h: Int, sum_resized: Long,
                                   pixel_checksum: Long)

  /** REAL pixel-domain downscale with EXACT arithmetic: decode through
    * `javax.imageio`, then area-average (box-filter) each `factor`×
    * `factor` input block into one output luma — partial edge blocks
    * average their actual pixels — using integer sums and floor
    * division, so the result is a pure integer function of the decoded
    * pixels that a codec-free oracle reproduces arithmetically (the
    * Graphics2D bilinear path in [[resizeImages]] is real too, but its
    * resampling is implementation-defined — fine for serving, not for an
    * oracle gate). Emits the resized grid pinned two ways: the plain
    * luma sum and a position-weighted checksum Σ v·(1 + x + 17·y) that
    * breaks if ANY single output pixel is wrong. Same typed
    * mapPartitions dataflow as every decode stage; undecodable payloads
    * drop.
    */
  def areaDownscale(ds: Dataset[MediaRow], factor: Int): Dataset[DownscaledImage] = {
    require(factor >= 1, "factor must be >= 1")
    val spark = ds.sparkSession
    import spark.implicits._
    ds.mapPartitions { it =>
      it.flatMap { r =>
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(r.payload))
        if (img == null) None
        else {
          val w = img.getWidth
          val h = img.getHeight
          val ow = (w + factor - 1) / factor
          val oh = (h + factor - 1) / factor
          var sum = 0L
          var checksum = 0L
          var oy = 0
          while (oy < oh) {
            var ox = 0
            while (ox < ow) {
              var blockSum = 0L
              var cnt = 0L
              var iy = oy * factor
              while (iy < math.min((oy + 1) * factor, h)) {
                var ix = ox * factor
                while (ix < math.min((ox + 1) * factor, w)) {
                  blockSum += img.getRGB(ix, iy) & 0xff // blue = luma on gray
                  cnt += 1
                  ix += 1
                }
                iy += 1
              }
              val v = blockSum / cnt
              sum += v
              checksum += v * (1L + ox + 17L * oy)
              ox += 1
            }
            oy += 1
          }
          Some(DownscaledImage(r.doc_id, w, h, ow, oh, sum, checksum))
        }
      }
    }
  }

  /** Unsigned byte value at 1-based `pos` of a BINARY payload, as the SQL
    * fragment `cast(conv(hex(substring(b, pos, 1)), 16, 10) as int)` —
    * valid for ALL 256 byte values (an `ascii()` text proxy caps at 7-bit
    * ASCII and a UTF-8 `substring` splits multi-byte runes), and every
    * piece is a plain codegen'd builtin, so byte extraction rides
    * whole-stage codegen like any other projection.
    */
  private def byteAtSql(bin: String, pos: String): String =
    s"cast(conv(hex(substring($bin, cast($pos as int), 1)), 16, 10) as int)"

  /** Deterministic synthetic PCM payloads: REAL binary bytes spanning the
    * full 0-255 range (beyond any ASCII text proxy), with length and every
    * sample integer functions of the id — n = 200 + id % 300 samples,
    * byte j = (id·31 + j²·7 + j·13) mod 256 — so a codec-free oracle
    * reproduces frame energies and gradient signs arithmetically, the
    * [[syntheticPngs]] discipline. Construction is pure relational and
    * fully codegen'd (r14 optimization): j²·7 + j·13 mod 256 has period
    * 256 in j, so byte j = P_c[j] where c = (id·31) mod 256 and P_c is
    * one of 256 plan-time-constant 512-byte patterns (n ≤ 499 < 512) —
    * the payload is one array lookup + one substring per row, where the
    * former transform(sequence…, j -> lpad(hex(…))) lambda evaluated
    * INTERPRETED per byte (HOFs are CodegenFallback; the probe measured
    * the construction alone at ~0.9 s of the ~2.2 s audio entry at
    * sf0.1). Byte-identity with the formula is spec-gated.
    */
  def syntheticPcm(df: DataFrame, idCol: String): DataFrame = {
    val patterns: Seq[Array[Byte]] = Seq.tabulate(256) { c =>
      Array.tabulate(512) { j =>
        ((c + (7L * j * j + 13L * j) % 256) % 256).toByte
      }
    }
    // Repartition the BARE IDS before constructing payloads (r14): the
    // sf corpus is one single-row-group parquet file, so the scan is one
    // task and everything until the first exchange ran on one core; the
    // id shuffle is 8 bytes/row at any scale, the payload construction
    // and every downstream per-byte stage parallelize, and a downstream
    // groupBy(doc_id, …) — audioFrameEnergy's — is already satisfied by
    // this partitioning, so its exchange DISAPPEARS (net exchanges
    // unchanged, moved from after the per-sample explode to before
    // payload construction: strictly fewer bytes).
    Scans.spreadByKeyWide(df.select(col(idCol).cast("long").as("doc_id")),
        col("doc_id"))
      .withColumn("payload",
        element_at(typedLit(patterns),
            pmod(col("doc_id") * 31, lit(256)).cast("int") + 1)
          .substr(lit(1), (lit(200) + col("doc_id") % 300).cast("int")))
  }

  /** Perceptual hash (dHash family) over a decoded byte stream: sample
    * `nBits`+1 evenly-strided bytes, bit j = sample(j+1) > sample(j),
    * assembled into one long — the gradient-sign signature used for
    * near-identical media dedup (re-encoded/rescaled copies keep byte
    * gradients even when checksums differ). The real pipeline hashes
    * decoded pixels; here the "decoded stream" is a BINARY payload column
    * read byte-by-byte via hex/conv ([[byteAtSql]]), exact for all 256
    * byte values on any engine.
    *
    * ONE codegen'd plan node (r14 optimization): the strided gradient
    * loop runs as a plain JVM kernel behind a StaticInvoke
    * ([[org.apache.spark.sql.graft.GraftByteOps.phash]], the srpSign
    * discipline) with direct byte access. The former HOF `aggregate`
    * lambda evaluated interpreted (CodegenFallback, substring+hex+conv
    * against the payload twice per bit, ~0.9 s/trial at sf0.1); an
    * intermediate unrolled-63-column form executed fast but cost ~1 s of
    * Catalyst PLANNING per query (planning 1.03 s vs 0.06 s warm
    * execution — see ByteOps.scala). Bit-for-bit
    * equality of the kernel with the relational byte-read form is
    * spec-gated. nBits ≤ 62 keeps the signature non-negative in an
    * int64. Payloads shorter than nBits+1 bytes carry no gradient signal
    * and are dropped (stride 0 would re-read byte 1).
    */
  def perceptualHash(df: DataFrame, idCol: String, payloadCol: String,
                     nBits: Int = 62): DataFrame = {
    require(nBits >= 1 && nBits <= 62, "nBits must be in [1, 62]")
    df.filter(octet_length(col(payloadCol)) >= nBits + 1)
      .select(col(idCol).as("doc_id"),
        org.apache.spark.sql.graft.ByteOpsFunctions
          .phash(col(payloadCol), nBits).as("phash"))
  }

  /** Exact-signature duplicate groups over [[perceptualHash]]: the first
    * cut of media dedup (hamming-near grouping layers the SimHash
    * bit-band machinery on the same column). One vocabulary-sized groupBy.
    */
  def phashDupGroups(phashes: DataFrame): DataFrame =
    phashes.groupBy("phash")
      .agg(count(lit(1)).cast("long").as("n_docs"),
        min(col("doc_id")).as("canonical_doc"))
      .filter(col("n_docs") > 1)

  /** Windowed audio energy over a PCM-style sample stream: each payload
    * byte is an unsigned 8-bit sample centered at 128, frames are
    * `frameBytes` consecutive samples, and each frame reports its sample
    * count, total energy Σ(s-128)² and peak |s-128| — the
    * silence-detection / loudness-profiling stage of an audio curation
    * pipeline (silence trim = drop frames under a peak threshold;
    * clipping detection = peak at 127). The real pipeline runs this over
    * codec-decoded PCM; here the "decoded stream" is a BINARY payload
    * column read byte-by-byte via hex/conv ([[byteAtSql]]) — exact for
    * the full 0-255 sample range on any engine, where the former ASCII
    * text proxy capped at 7 bits.
    *
    * ONE codegen'd kernel pass per payload (r14 optimization): the
    * per-frame triples come from [[org.apache.spark.sql.graft.GraftByteOps
    * .frameEnergies]] (StaticInvoke, direct byte access — the srpSign
    * discipline) and posexplode emits one row per FRAME — where the
    * former shape exploded one row per BYTE (copying the whole payload
    * into every per-sample row), read each byte through
    * conv∘hex∘substring, and re-grouped the samples through a
    * (doc, frame) shuffle. No shuffle remains; values are identical and
    * the kernel-vs-relational equality is spec-gated. All integer
    * arithmetic.
    */
  def audioFrameEnergy(df: DataFrame, idCol: String, payloadCol: String,
                       frameBytes: Int = 64): DataFrame = {
    require(frameBytes >= 1, "frameBytes must be >= 1")
    df.select(col(idCol).as("doc_id"), col(payloadCol).as("b"))
      .filter(octet_length(col("b")) > 0)
      .select(col("doc_id"),
        posexplode(org.apache.spark.sql.graft.ByteOpsFunctions
          .frameEnergies(col("b"), frameBytes)).as(Seq("fi", "st")))
      .select(col("doc_id"),
        col("fi").cast("long").as("frame_idx"),
        col("st").getItem(0).as("n_samples"),
        col("st").getItem(1).as("energy"),
        col("st").getItem(2).as("peak"))
  }

  /** STUB per-frame decode/feature-extract (batched mapPartitions — where a
    * real codec or model batch-inference call drops in).
    */
  def frameFeatures(frames: Dataset[FrameRow]): Dataset[FrameFeature] = {
    val spark = frames.sparkSession
    import spark.implicits._
    frames.mapPartitions { it =>
      it.map { f =>
        // STUB: stands in for per-frame decode + embedding
        var sum = 0L
        var i = 0
        while (i < f.frame.length) { sum = sum * 131 + (f.frame(i) & 0xff); i += 1 }
        FrameFeature(f.doc_id, f.frame_idx, sum)
      }
    }
  }

  // ------------------------------------- REAL image codec path (pure JDK)

  final case class ImageFeature(doc_id: Long, width: Int, height: Int,
                                sum_luma: Long)

  /** Deterministic synthetic grayscale PNGs: REAL encoded PNG bytes
    * (`javax.imageio` — the testdata carries no media column), with
    * dimensions and pixel values integer functions of the id
    * (w = 8 + id%5, h = 8 + id%7, luma(x,y) = (id·31 + x·7 + y·13) % 256)
    * so an arithmetic oracle can verify the full encode→decode round
    * trip without its own codec. Runs in the same typed mapPartitions
    * shape as every decode stage — no shuffle, no driver involvement.
    */
  def syntheticPngs(ids: Dataset[java.lang.Long]): Dataset[MediaRow] = {
    val spark = ids.sparkSession
    import spark.implicits._
    // Repartition the BARE IDS before encoding (r14): the single-file
    // test corpus scans as one task, which serialized the whole PNG
    // encode (and the caller's decode) onto one core; ids are 8
    // bytes/row at any scale, the codec work parallelizes.
    Scans.spreadByKeyWide(ids.toDF(), col(ids.columns.head)).as[java.lang.Long]
      .mapPartitions { it =>
      it.map { idBoxed =>
        val id = idBoxed.longValue()
        val w = (8 + id % 5).toInt
        val h = (8 + id % 7).toInt
        val img = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val l = ((id * 31 + x * 7 + y * 13) % 256).toInt
            img.setRGB(x, y, (l << 16) | (l << 8) | l)
            x += 1
          }
          y += 1
        }
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", bos)
        MediaRow(id, bos.toByteArray)
      }
    }
  }

  /** REAL image decode (`javax.imageio`, pure JDK — PNG/BMP/GIF/JPEG):
    * width, height, and the exact luma sum of the decoded pixels.
    * Payloads ImageIO cannot decode are dropped (flatMap), so the stage
    * composes with non-image payload tables. PNG is lossless, so the
    * decoded pixels of [[syntheticPngs]] reproduce the generator's
    * integer formula bit-for-bit — the oracle checks THIS decode, not a
    * checksum stand-in.
    */
  def decodeImages(ds: Dataset[MediaRow]): Dataset[ImageFeature] = {
    val spark = ds.sparkSession
    import spark.implicits._
    ds.mapPartitions { it =>
      it.flatMap { r =>
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(r.payload))
        if (img == null) None
        else {
          var sum = 0L
          var y = 0
          while (y < img.getHeight) {
            var x = 0
            while (x < img.getWidth) {
              sum += img.getRGB(x, y) & 0xff // blue channel = luma on gray
              x += 1
            }
            y += 1
          }
          Some(ImageFeature(r.doc_id, img.getWidth, img.getHeight, sum))
        }
      }
    }
  }

  /** REAL pixel-domain resize: decode, bilinear-scale through
    * `java.awt.Graphics2D`, re-encode PNG. The production image-resize
    * stage of a multimodal pipeline in the same partition-batched
    * dataflow as [[resizeStub]]; undecodable payloads are dropped.
    */
  def resizeImages(ds: Dataset[MediaRow], outW: Int, outH: Int): Dataset[MediaRow] = {
    require(outW >= 1 && outH >= 1, "target dims must be >= 1")
    val spark = ds.sparkSession
    import spark.implicits._
    ds.mapPartitions { it =>
      it.flatMap { r =>
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(r.payload))
        if (img == null) None
        else {
          val out = new java.awt.image.BufferedImage(
            outW, outH, java.awt.image.BufferedImage.TYPE_INT_RGB)
          val g = out.createGraphics()
          try {
            g.setRenderingHint(
              java.awt.RenderingHints.KEY_INTERPOLATION,
              java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
            g.drawImage(img, 0, 0, outW, outH, null)
          } finally g.dispose()
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(out, "png", bos)
          Some(MediaRow(r.doc_id, bos.toByteArray))
        }
      }
    }
  }
}
