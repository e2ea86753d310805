package graft.operators

import graft.{SparkTestSession, Tables}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Specs for the non-SQL-expressible pipeline operators: LSH recall
  * against brute-force ground truth, signature determinism, multimodal
  * plumbing shape.
  */
class LlmOpsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._
  private val sf = "/root/testdata/sf0.001"

  test("minhash-LSH finds a high fraction of true Jaccard pairs") {
    val docs = Tables.documents(spark, sf)
    // The operator's contract: candidates come from 3-shingle MinHash (an
    // estimator of SHINGLE-set Jaccard), verification filters on
    // TOKEN-set Jaccard. Ground truth for recall is therefore pairs that
    // are near-dups under BOTH metrics — word-order-scrambled rewrites
    // (token-similar, shingle-dissimilar) are out of contract by design.
    val t = docs.filter($"n_chars" < 200)
      .select($"doc_id", split(lower(trim($"text")), "\\s+").as("tk"))
      .select($"doc_id", array_distinct($"tk").as("toks"),
        array_distinct(when(size($"tk") >= 3,
          transform(sequence(lit(0), size($"tk") - 3),
            i => concat_ws(" ", slice($"tk", i + 1, lit(3)))))
          .otherwise(array(concat_ws(" ", $"tk")))).as("shin"))
    val a = t.select($"doc_id".as("a_id"), $"toks".as("a_toks"), $"shin".as("a_shin"))
    val b = t.select($"doc_id".as("b_id"), $"toks".as("b_toks"), $"shin".as("b_shin"))
    val truth = a.join(b, $"a_id" < $"b_id")
      .withColumn("inter", size(array_intersect($"a_toks", $"b_toks")).cast("double"))
      .withColumn("j", $"inter" / (size($"a_toks") + size($"b_toks") - $"inter"))
      .withColumn("sinter", size(array_intersect($"a_shin", $"b_shin")).cast("double"))
      .withColumn("sj", $"sinter" / (size($"a_shin") + size($"b_shin") - $"sinter"))
      .filter($"j" >= 0.5 && $"sj" >= 0.5)
      .select($"a_id", $"b_id")
    val truthSet = truth.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truthSet.nonEmpty, "fixture has no true near-dup pairs")

    val found = MinHashLSH.nearDuplicates(docs.filter($"n_chars" < 200),
        "doc_id", "text", shingleSize = 3, numHashes = 64, bands = 32, threshold = 0.5)
      .select($"a_id", $"b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = truthSet.intersect(found).size.toDouble / truthSet.size
    assert(recall >= 0.8, s"LSH recall $recall too low (truth=${truthSet.size}, found=${found.size})")
    // verification step guarantees precision = 1.0 against the threshold
    assert(found.subsetOf(
      a.join(b, $"a_id" < $"b_id")
        .withColumn("inter", size(array_intersect($"a_toks", $"b_toks")).cast("double"))
        .withColumn("j", $"inter" / (size($"a_toks") + size($"b_toks") - $"inter"))
        .filter($"j" >= 0.5).select($"a_id", $"b_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet))
  }

  test("candidate budget: cap shrinks deterministically; results unchanged when under") {
    // chooseBucketCap: exact arithmetic on the histogram
    //   100 buckets of 3 (300 pairs) + 10 of 50 (12 250) + 1 of 5000 (over base cap)
    val hist = Seq((3L, 100L), (50L, 10L), (5000L, 1L))
    assert(MinHashLSH.chooseBucketCap(hist, 4096, 500L) === 3)     // 300 fits, +12 250 does not
    assert(MinHashLSH.chooseBucketCap(hist, 4096, 13000L) === 4096) // all under-cap sizes fit
    assert(MinHashLSH.chooseBucketCap(hist, 40, 13000L) === 40)     // the 50s are above the BASE cap
    assert(MinHashLSH.chooseBucketCap(Nil, 4096, 0L) === 4096)      // nothing to drop
    // saturation: even size-2 buckets blow the budget -> loud, names the knob
    val e = intercept[IllegalArgumentException](
      MinHashLSH.chooseBucketCap(Seq((2L, 100L)), 4096, 10L))
    assert(e.getMessage.contains("maxCandidates"), e.getMessage)

    // End to end on a fixture with EXACT bucket arithmetic: three groups
    // of identical texts -> per band one bucket of 8, one of 4, one of 2
    // (x16 bands). Ascending pair sums: 16 (cap 2), +96 = 112 (cap 4),
    // +448 = 560 (cap >= 8).
    val docs = (
      (1L to 8L).map(i => (i, "alpha beta gamma delta epsilon")) ++
      (11L to 14L).map(i => (i, "zeta eta theta iota kappa")) ++
      Seq((21L, "lambda mu nu xi omicron"), (22L, "lambda mu nu xi omicron"))
    ).toDF("doc_id", "text")
    def run(budget: Long) =
      MinHashLSH.nearDuplicates(docs, "doc_id", "text", 3, 64, 16, 0.5,
          maxCandidates = budget)
        .select($"a_id", $"b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = run(Long.MaxValue)
    assert(full.size === 28 + 6 + 1, s"expected all within-group pairs, got $full")
    // generous budgets (incl. the default) reproduce the unbudgeted answer
    assert(run(MinHashLSH.DefaultMaxCandidates) === full)
    assert(run(560L) === full)
    // a budget excluding the 8-group keeps the 4- and 2-groups, exactly
    val tight = run(112L)
    assert(tight.size === 6 + 1 && tight.subsetOf(full) && run(112L) === tight)
    // a budget excluding all but the 2-group
    assert(run(16L).size === 1)
    // even size-2 buckets over budget: loud saturation failure, and the
    // throw leaves no cache behind (banded signatures, collision buckets)
    spark.catalog.clearCache()
    val rddsBefore = spark.sparkContext.getPersistentRDDs.keySet
    assert(intercept[IllegalArgumentException](run(15L))
      .getMessage.contains("maxCandidates"))
    assert(spark.sharedState.cacheManager.isEmpty, "saturation throw leaked a cached plan")
    assert(spark.sparkContext.getPersistentRDDs.keySet.diff(rddsBefore).isEmpty,
      "saturation throw leaked a persisted RDD")
  }

  test("candidate budget resolution: explicit wins, conf overrides, cluster-aware default with floor") {
    import MinHashLSH._
    // explicit argument always wins
    assert(resolvedMaxCandidates(spark, 42L) === 42L)
    // the derived default scales with the deployment's ACTUAL core count
    // (defaultParallelism — not the shuffle.partitions knob, whose
    // untuned default of 200 says nothing about capacity), floored at
    // the measured single-node constant (a node-sized budget must not
    // throttle a 1000-executor cluster)
    val cores = spark.sparkContext.defaultParallelism.toLong
    assert(resolvedMaxCandidates(spark, AutoMaxCandidates) ===
      math.max(DefaultMaxCandidates, cores * PerCoreCandidates))
    // the calibration puts a 32-thread local session exactly AT the
    // measured single-node floor — and an untuned wide
    // shuffle.partitions can no longer inflate the budget 12.5×
    assert(32L * PerCoreCandidates === DefaultMaxCandidates)
    // session conf overrides the derivation END TO END: a 15-candidate
    // budget saturates even one bucket of 2 (16 bands x 1 pair = 16)
    val docs = Seq((1L, "a b c d e f"), (2L, "a b c d e f")).toDF("doc_id", "text")
    spark.conf.set(MaxCandidatesConf, "15")
    try {
      val e = intercept[IllegalArgumentException](
        MinHashLSH.nearDuplicates(docs, "doc_id", "text").count())
      assert(e.getMessage.contains(MaxCandidatesConf), e.getMessage)
    } finally spark.conf.unset(MaxCandidatesConf)
    // with the conf gone the same call rides the derived default
    assert(MinHashLSH.nearDuplicates(docs, "doc_id", "text").count() === 1L)
  }

  test("simhash signatures are deterministic and near-dup blocking works") {
    val docs = Tables.documents(spark, sf).limit(100)
    val s1 = SimHash.signatures(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val s2 = SimHash.signatures(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(s1 == s2)
    // identical docs → distance 0 → found by blocking
    val dup = docs.union(docs.withColumn("doc_id", $"doc_id" + 10000))
    val pairs = SimHash.nearDuplicates(dup, "doc_id", "text", maxDistance = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.length >= 100)
    pairs.take(5).foreach { case (x, y) => assert(y - x == 10000 || s1.get(x) == s1.get(y % 10000)) }
  }

  test("LSH ANN recall@5 vs brute force") {
    val e = Tables.embeddings(spark, sf)
    val q = e.filter($"vec_id" < 10)
    val brute = Similarity.bruteForceTopK(e, q, 5).select($"query_id", $"cand_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ann = Similarity.lshTopK(e, q, 5, nbits = 4).select($"query_id", $"cand_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = brute.intersect(ann).size.toDouble / brute.size
    assert(recall >= 0.4, s"ANN recall@5 $recall unexpectedly low for 4-bit multi-probe buckets")
    // top-1 cosine sanity: brute-force best neighbor similarity is within [−1, 1]
    val best = Similarity.bruteForceTopK(e, q, 1).agg(max($"cos")).as[Double].head()
    assert(best <= 1.0 && best >= -1.0)
  }

  test("multimodal stub pipeline: schema, determinism, partition parallelism") {
    val media = Multimodal.mediaFromDocuments(spark, Tables.documents(spark, sf))
    val feats = Multimodal.extractFeatures(media.repartition(8))
    val rows = feats.collect()
    assert(rows.length == 500)
    assert(rows.forall(f => f.width >= 1 && f.width <= 64 && f.channels == 3))
    val again = Multimodal.extractFeatures(media.repartition(3)).collect()
    assert(rows.sortBy(_.doc_id).toSeq == again.sortBy(_.doc_id).toSeq,
      "features depend on partitioning — not allowed")
  }

  test("multimodal resize + frame-sample stubs: shape, determinism, bounds") {
    val media = Multimodal.mediaFromDocuments(spark, Tables.documents(spark, sf))

    val resized = Multimodal.resizeStub(media, 32, 32).collect()
    assert(resized.length == 500)
    assert(resized.forall(r => r.width == 32 && r.height == 32 &&
      r.payload.length <= 32 * 32 / 16 && r.payload.nonEmpty))
    val resizedAgain = Multimodal.resizeStub(media.repartition(5), 32, 32).collect()
    assert(resized.sortBy(_.doc_id).map(_.payload.toSeq).toSeq ==
      resizedAgain.sortBy(_.doc_id).map(_.payload.toSeq).toSeq)

    val frames = Multimodal.frameSample(media, 4)
    val byDoc = frames.collect().groupBy(_.doc_id)
    assert(byDoc.size == 500)
    byDoc.values.foreach { fs =>
      assert(fs.length == 4, "every doc is long enough for 4 stub frames")
      val offs = fs.sortBy(_.frameIndex).map(_.offsetBytes).toSeq
      assert(offs == offs.sorted && offs.distinct.length == offs.length,
        "frame offsets must advance monotonically")
    }
  }

  private def pngBytes(w: Int, h: Int, rgb: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgb)
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    out.toByteArray
  }

  private def bmpBytes(w: Int, h: Int, rgb: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgb)
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "bmp", out)
    out.toByteArray
  }

  test("real image decode: PNG/BMP payloads yield exact dims, channels, entropy") {
    import Multimodal.MediaRecord
    val media = Seq(
      MediaRecord(1L, "image/png", pngBytes(37, 21, 0x3366cc)),
      MediaRecord(2L, "image/bmp", bmpBytes(64, 48, 0xff0000)),
      MediaRecord(3L, "text/plain", "not an image at all".getBytes("UTF-8"))
    ).toDS().repartition(3)
    val feats = Multimodal.extractFeatures(media).collect().map(f => f.doc_id -> f).toMap
    // real decode: exact pixel dimensions, 3 RGB channels, and a solid
    // color has zero luminance entropy -> bucket 0
    assert(feats(1L).width === 37 && feats(1L).height === 21)
    assert(feats(1L).channels === 3 && feats(1L).byteEntropyBucket === 0)
    assert(feats(2L).width === 64 && feats(2L).height === 48)
    assert(feats(2L).channels === 3 && feats(2L).byteEntropyBucket === 0)
    // non-image payloads keep the documented stub fallback
    val stub = Multimodal.decodeStub(MediaRecord(3L, "text/plain",
      "not an image at all".getBytes("UTF-8")))
    assert(feats(3L) === stub)
  }

  test("real image resize: pixels are actually scaled, re-decodable at target dims") {
    import Multimodal.MediaRecord
    val media = Seq(MediaRecord(7L, "image/png", pngBytes(40, 40, 0x00ff00))).toDS()
    val resized = Multimodal.resize(media, 8, 6).collect()
    assert(resized.length === 1)
    val r = resized.head
    assert(r.width === 8 && r.height === 6 && r.mime === "image/png")
    // round-trip the resized payload through a decoder: exact target
    // dims and the solid color must survive bilinear scaling exactly
    val back = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(r.payload))
    assert(back.getWidth === 8 && back.getHeight === 6)
    assert((back.getRGB(4, 3) & 0xffffff) === 0x00ff00)
  }

  test("real WAV decode: JDK codec round trip with closed-form features") {
    import Multimodal.MediaRecord
    // 600-frame square wave, amp 5000, half-period 6, mono 8 kHz
    val samples = Array.tabulate(600)(f => (if ((f / 6) % 2 == 0) 5000 else -5000).toShort)
    val wav = Multimodal.encodeWavPcm16(8000, 1, samples)
    assert(Multimodal.looksWav(wav))
    val f = Multimodal.decodeWav(MediaRecord(1L, "audio/wav", wav)).get
    assert(f.sampleRate === 8000 && f.channels === 1 && f.nFrames === 600L)
    assert(f.sumSq === 600L * 5000 * 5000)
    assert(f.zeroCrossings === 599 / 6)
    // stereo doubles the energy, channel-0 crossings unchanged
    val st = Array.tabulate(1200)(i => samples(i / 2))
    val f2 = Multimodal.decodeWav(
      MediaRecord(2L, "audio/wav", Multimodal.encodeWavPcm16(16000, 2, st))).get
    assert(f2.channels === 2 && f2.nFrames === 600L)
    assert(f2.sumSq === 2L * 600 * 5000 * 5000 && f2.zeroCrossings === f.zeroCrossings)
    // non-WAV payloads are dropped, not faked
    val feats = Multimodal.extractAudioFeatures(Seq(
      MediaRecord(1L, "audio/wav", wav),
      MediaRecord(3L, "text/plain", "not audio".getBytes("UTF-8"))).toDS().repartition(2))
      .collect()
    assert(feats.map(_.doc_id).toSeq === Seq(1L))
  }

  private def jpegBytes(w: Int, h: Int, rgb: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val g = img.createGraphics()
    try { g.setColor(new java.awt.Color(rgb)); g.fillRect(0, 0, w, h) } finally g.dispose()
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", out)
    out.toByteArray
  }

  test("real AVI demux: mux round trip, true offsets, decodable JPEG frames") {
    import Multimodal.MediaRecord
    val frames = (0 until 10).map(i => jpegBytes(40, 30, 0x101010 * (i % 16)))
    val avi = Multimodal.muxAviMjpeg(40, 30, 33333L, frames)
    assert(Multimodal.looksAvi(avi))
    val v = Multimodal.demuxAvi(avi).get
    assert(v.width === 40 && v.height === 30 && v.microSecPerFrame === 33333L)
    assert(v.frames.size === 10)
    // demuxed bytes are the EXACT muxed frames at true file offsets
    v.frames.zipWithIndex.foreach { case ((off, bytes), i) =>
      assert(bytes.toSeq === frames(i).toSeq, s"frame $i bytes differ")
      assert(avi.slice(off.toInt, off.toInt + bytes.length).toSeq === bytes.toSeq,
        s"frame $i offset $off does not point at the frame in the container")
    }
    assert(v.frames.map(_._1) === v.frames.map(_._1).sorted, "offsets advance")

    // frameSample: real path picks evenly spaced decodable frames
    val sampled = Multimodal.frameSample(
      Seq(MediaRecord(9L, "video/x-msvideo", avi)).toDS(), 4).collect().sortBy(_.frameIndex)
    assert(sampled.length === 4)
    assert(sampled.map(f => f.payload.toSeq) ===
      Seq(0, 2, 5, 7).map(i => frames(i).toSeq), "sampled src indices i*10/4")
    sampled.foreach { f =>
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(f.payload))
      assert(img.getWidth === 40 && img.getHeight === 30)
    }
    // a truncated container falls back to None → stub slices, not a crash
    val broken = java.util.Arrays.copyOfRange(avi, 0, 64)
    assert(Multimodal.demuxAvi(broken).isEmpty)
  }

  private def animatedGif(w: Int, h: Int, n: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    val ios = javax.imageio.ImageIO.createImageOutputStream(out)
    try {
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      (0 until n).foreach { i =>
        val img = new java.awt.image.BufferedImage(w, h,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        val g = img.createGraphics()
        try { g.setColor(new java.awt.Color(17 * i % 256, 40, 200)); g.fillRect(0, 0, w, h) }
        finally g.dispose()
        writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
      }
      writer.endWriteSequence()
    } finally { writer.dispose(); ios.close() }
    out.toByteArray
  }

  test("real GIF demux: block walk matches ImageIO's multi-frame reader") {
    import Multimodal.MediaRecord
    val gif = animatedGif(24, 18, 10)
    assert(Multimodal.looksGif(gif) && !Multimodal.looksAvi(gif))

    // independent count through the stock multi-frame reader
    val reader = javax.imageio.ImageIO.getImageReadersByFormatName("gif").next()
    val iis = javax.imageio.ImageIO.createImageInputStream(
      new java.io.ByteArrayInputStream(gif))
    reader.setInput(iis)
    assert(reader.getNumImages(true) === 10)

    val v = Multimodal.demuxGif(gif).get
    assert(v.width === 24 && v.height === 18)
    assert(v.frames.size === 10)
    v.frames.foreach { case (off, slice) =>
      assert((slice(0) & 0xff) === 0x2c, "slice starts at the image separator")
      assert(gif.slice(off.toInt, off.toInt + slice.length).toSeq === slice.toSeq,
        s"offset $off does not point at the frame slice in the container")
      assert(Multimodal.gifFrameDims(slice) === Some((24, 18)))
    }
    assert(v.frames.map(_._1) === v.frames.map(_._1).sorted, "offsets advance")

    // frameSample routes GIF payloads through the real demux path
    val sampled = Multimodal.frameSample(
      Seq(MediaRecord(7L, "image/gif", gif)).toDS(), 4).collect().sortBy(_.frameIndex)
    assert(sampled.length === 4)
    assert(sampled.map(_.payload.toSeq) ===
      Seq(0, 2, 5, 7).map(i => v.frames(i)._2.toSeq), "sampled src indices i*10/4")
    // the sampled source frames decode through ImageIO at those indices
    Seq(0, 2, 5, 7).foreach { i =>
      val img = reader.read(i)
      assert(img.getWidth === 24 && img.getHeight === 18)
    }
    reader.dispose(); iis.close()

    // fewer frames than the sample budget clamps, like the AVI path
    val short = Multimodal.demuxGif(animatedGif(8, 8, 2)).get
    assert(short.frames.size === 2)
    // truncation / non-GIF bytes fall back to None, not a crash
    assert(Multimodal.demuxGif(java.util.Arrays.copyOfRange(gif, 0, 20)).isEmpty)
    assert(Multimodal.demuxGif("GIF89a-but-not-really".getBytes).isEmpty)
  }
}
