package graft

import org.apache.spark.sql.functions._
import graft.ops.Multimodal

class MultimodalSpec extends SparkSpec {

  private lazy val figures =
    Multimodal.figuresFromDocuments(Tables.load(spark, Sf0001, "documents")).cache()

  test("figures table: binary payload with typed metadata, schema stable") {
    assert(figures.schema.fieldNames.toSeq ==
      Multimodal.figureSchema.fieldNames.toSeq)
    assert(figures.filter(col("payload").isNull).count() == 0)
    assert(figures.count() == 500)
  }

  test("decode: deterministic stub yields dims + normalized 8-dim feature") {
    val out = Multimodal.decode(figures).cache()
    assert(out.schema == Multimodal.decodedSchema)
    assert(out.filter(size(col("feature")) =!= 8).count() == 0)
    // feature is a normalized histogram -> sums to ~1
    val sums = out.select(aggregate(col("feature"),
      lit(0.0), (a, x) => a + x).as("s"))
    assert(sums.filter(abs(col("s") - 1.0) > 1e-5).count() == 0)
    // deterministic: same input -> same output
    val again = Multimodal.decode(figures)
    assert(out.exceptAll(again).count() == 0)
  }

  test("decode keeps byte_len consistent with the payload") {
    val joined = Multimodal.decode(figures)
      .join(figures.select(col("figure_id"), octet_length(col("payload")).as("pl")),
        "figure_id")
    assert(joined.filter(col("byte_len") =!= col("pl")).count() == 0)
  }

  test("sampleFrames: generator shape, frames sliced from the payload") {
    val frames = Multimodal.sampleFrames(figures, frameBytes = 16, stride = 2)
    assert(frames.count() >= figures.count()) // at least one frame each
    val bad = frames.filter(octet_length(col("frame")) > 16)
    assert(bad.count() == 0)
  }

  test("aHashBands: identical payloads hash identically; a local edit stays near; structure differs far") {
    import spark.implicits._
    val base = ("x" * 100) + ("Q" * 100) + ("x" * 100) // high-contrast blocks
    val near = ("x" * 100) + ("Q" * 99) + "R" + ("x" * 100) // one byte changed
    val far = ("Qx" * 150) // same bytes, alternating layout
    val figs = Seq(("a", base), ("b", base), ("c", near), ("d", far), ("e", "tiny"))
      .toDF("figure_id", "t")
      .select(col("figure_id"), col("t").cast("binary").as("payload"))
    val out = Multimodal.aHashBands(figs).collect()
      .map(r => r.getString(0) -> r.getSeq[Int](1)).toMap
    assert(!out.contains("e"), "payloads under 64 bytes have no 8x8 grid")
    assert(out("a") == out("b"), "identical payloads must hash identically")
    def ham(x: Seq[Int], y: Seq[Int]) =
      x.zip(y).map { case (u, v) => java.lang.Integer.bitCount(u ^ v) }.sum
    assert(ham(out("a"), out("c")) <= 4, "one-byte edit must stay within a few bits")
    assert(ham(out("a"), out("d")) > 16, "different byte layout must land far")
  }

  test("m4 real codec: ImageIO round-trips the formula pixels exactly; twins band-match") {
    import spark.implicits._
    val ids = Seq(0L, 7L, 12345L).toDF("doc_id")
    val figs = Multimodal.pngFigures(ids, "a")
    // payloads are REAL PNGs (magic bytes), not raw pixel dumps
    val payloads = figs.select("figure_id", "payload").collect()
      .map(r => r.getString(0) -> r.getAs[Array[Byte]](1)).toMap
    payloads.values.foreach { p =>
      assert((p.take(4).map(_ & 0xff).toSeq == Seq(0x89, 0x50, 0x4e, 0x47)),
        "pngFigures must emit actual PNG containers")
    }
    // decoding gives back the formula pixels exactly (lossless)
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(payloads("fig_012345_a")))
    assert(img.getWidth == Multimodal.PngW && img.getHeight == Multimodal.PngH)
    for (y <- 0 until Multimodal.PngH; x <- 0 until Multimodal.PngW)
      assert(img.getRaster.getSample(x, y, 0) ==
        ((12345L * 31 + x * 7 + y * 13) % 256).toInt,
        s"pixel ($x,$y) must survive the PNG round-trip")
    // identical pixels → identical bands; different docs differ
    val hashed = Multimodal.aHashPixels(
        figs.unionByName(Multimodal.pngFigures(ids, "b")))
      .collect().map(r => r.getString(0) ->
        (r.getInt(3), r.getInt(4), r.getInt(5), r.getInt(6))).toMap
    assert(hashed("fig_000007_a") == hashed("fig_000007_b"))
    assert(hashed("fig_000007_a") != hashed("fig_012345_a"))
  }

  test("m5 real audio codec: the WAV container round-trips header and PCM samples exactly") {
    import spark.implicits._
    val figs = Multimodal.wavFigures(Seq(42L).toDF("doc_id"), "a")
    val payload = figs.select("payload").head().getAs[Array[Byte]](0)
    // a real RIFF/WAVE container, not a raw PCM dump
    assert(new String(payload.take(4), "US-ASCII") == "RIFF" &&
      new String(payload.slice(8, 12), "US-ASCII") == "WAVE")
    val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(payload))
    assert(ais.getFormat.getSampleRate == Multimodal.WavRate &&
      ais.getFormat.getChannels == 1 &&
      ais.getFrameLength == Multimodal.WavSamples)
    val body = ais.readAllBytes()
    for (i <- 0 until Multimodal.WavSamples) {
      val got = ((body(2 * i) & 0xff) | (body(2 * i + 1) << 8)).toShort.toInt
      assert(got == (((42L * 131 + i.toLong * 7919) % 65536) - 32768).toInt,
        s"sample $i must survive the WAV round-trip")
    }
  }

  test("m3 frame df-cap bounds a hot frame's join fan-in (cap under stress)") {
    // the generator never produces a frame shared by > FrameDfCap
    // figures, so the cap had never actually fired — synthesize the
    // hot frame (one 64-byte block shared by 25 figures, 2.5x the
    // cap) and measure the inverted-index fan-in with and without
    // the cap, the same way d2's df-cap evidence was produced.
    import spark.implicits._
    val cap = graft.queries.TextQ.FrameDfCap
    val nHot = 25
    val hotBlock = "H" * 256 // sampled frame 0 (frameBytes=64, stride=4)
    // unique tail per figure -> second sampled frame is figure-private
    val hot = (0 until nHot).map(i => (f"hot_$i%03d", hotBlock + f"u$i%03d" * 64))
    val cold = (0 until 10).map(i => (f"cold_$i%03d", f"c$i%03d" * 128))
    val figs = (hot ++ cold).toDF("figure_id", "t")
      .select(col("figure_id"), col("t").cast("binary").as("payload"))
    val frames = Multimodal.sampleFrames(figs, frameBytes = 64, stride = 4)
      .select(col("figure_id"), md5(col("frame")).as("fh")).distinct()
    def fanIn(kept: org.apache.spark.sql.DataFrame): Long =
      kept.select(col("figure_id").as("a_fig"), col("fh"))
        .join(kept.select(col("figure_id").as("b_fig"), col("fh")), Seq("fh"))
        .filter(col("a_fig") < col("b_fig")).count()
    val dfc = frames.groupBy(col("fh")).agg(count(lit(1)).as("nfig"))
    val capped = frames.join(
      dfc.filter(col("nfig") <= cap).select(col("fh")), "fh")
    val uncapped = fanIn(frames)
    val cappedFan = fanIn(capped)
    // uncapped: the hot bucket alone contributes C(25,2) = 300 pairs
    assert(uncapped >= nHot.toLong * (nHot - 1) / 2,
      s"hot frame must dominate the uncapped fan-in (got $uncapped)")
    // capped: the hot bucket (df = 25 > cap) drops out entirely, so
    // the worst remaining bucket is bounded by C(cap, 2)
    assert(cappedFan <= cap.toLong * (cap - 1) / 2,
      s"cap must bound every bucket's fan-in (got $cappedFan)")
    assert(cappedFan < uncapped,
      "the cap must strictly reduce fan-in when a hot frame exists")
  }
}
