package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, rng}
import graft.ops.{Chunker, TextFns, VectorOps}

/** Property-style invariants (SURVEY.md §5.3) — seeded ScalaCheck
  * generators drive a single Spark job per property (one job per
  * sample would be pathologically slow on a local session).
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def samples[T](g: Gen[T], n: Int, seed: Long): Seq[T] =
    Iterator.iterate((rng.Seed(seed), Option.empty[T])) { case (s, _) =>
      (s.next, g.apply(Gen.Parameters.default, s))
    }.drop(1).map(_._2).flatten.take(n).toSeq

  test("chunker invariants hold for arbitrary section lengths") {
    val ns = samples(Gen.choose(1, 2000), 60, seed = 42L).distinct
    val df = ns.map(n => (s"p$n", "body", (1 to n).map(i => s"w$i").mkString(" ")))
      .toDF("paper_id", "section_name", "text")
    val chunks = Chunker.chunk(df, "paper_id", "section_name", "text",
      size = 200, overlap = 30, minWords = 30).cache()

    // word_count ∈ [min, size]
    assert(chunks.filter(col("word_count") < 30 || col("word_count") > 200).count() == 0)
    // windows start at stride multiples: chunk_ord == start/170 and
    // the reconstructed distinct word set covers the section exactly
    val cover = chunks
      .select(col("paper_id"), explode(split(col("text_content"), " ")).as("w"))
      .groupBy("paper_id").agg(countDistinct("w").as("n_words"))
    val expected = df.filter(TextFns.wordCount(col("text")) >= 30)
      .select(col("paper_id"), TextFns.wordCount(col("text")).as("n"))
    assert(cover.join(expected, "paper_id")
      .filter(col("n_words") =!= col("n")).count() == 0)
    // sections under minWords produce nothing
    val shortIds = ns.filter(_ < 30).map(n => s"p$n")
    if (shortIds.nonEmpty)
      assert(chunks.filter(col("paper_id").isin(shortIds: _*)).count() == 0)
  }

  test("cosine(v, v) == 1 for arbitrary non-zero vectors") {
    val gen = Gen.listOfN(16, Gen.choose(-100.0f, 100.0f))
      .suchThat(_.exists(v => math.abs(v) > 1e-3))
    val vs = samples(gen, 50, seed = 7L).map(_.toArray)
    val df = vs.map(Tuple1(_)).toDF("v")
    val bad = df.select(VectorOps.cosine(col("v"), col("v")).as("c"))
      .filter(abs(col("c") - 1.0) > 1e-6)
    assert(bad.count() == 0)
  }

  test("hash60 stays within [0, 2^60) for arbitrary strings") {
    val strs = samples(Gen.asciiPrintableStr, 200, seed = 13L)
    val df = strs.toDF("s")
    val out = df.select(TextFns.hash60(col("s")).as("h"))
      .filter(col("h") < 0 || col("h") >= lit(1L << 60))
    assert(out.count() == 0)
  }

  test("generator tokenize equals Spark split(trim) on arbitrary whitespace soup") {
    val wsChar = Gen.oneOf(' ', '\t', '\n', '\r', 'a', 'b', 'Z', '9', '.')
    val gen = Gen.listOfN(30, wsChar).map(_.mkString)
    val strs = samples(gen, 150, seed = 21L)
    val df = strs.toDF("s")
    val viaSpark = df.select(col("s"),
        when(length(trim(col("s"))) === 0, array().cast("array<string>"))
          .otherwise(split(trim(col("s")), "\\s+")).as("toks"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1).toList).toMap
    strs.foreach { s =>
      val mine = graft.functions.ChunkGenerator.tokenize(s).toList
      assert(mine == viaSpark(s), s"tokenize mismatch on ${s.map(_.toInt)}")
    }
  }

  test("TopK.perKey equals sort-and-take per key on random data") {
    val gen = Gen.zip(Gen.choose(0, 6), Gen.choose(-1000, 1000))
    val rows = samples(gen, 300, seed = 33L).zipWithIndex
      .map { case ((k, v), i) => (i.toLong, k, v) }
    val df = rows.toDF("id", "k", "v")
    for (topk <- Seq(1, 4)) {
      val fast = graft.plans.TopK.perKey(df, Seq("k"),
          Seq(col("v").desc, col("id")), topk)
        .select("id").collect().map(_.getLong(0)).toSet
      val expected = rows.groupBy(_._2).values.flatMap(g =>
        g.sortBy(r => (-r._3, r._1)).take(topk).map(_._1)).toSet
      assert(fast == expected, s"topk=$topk")
    }
  }

  test("AsofJoin matches per-row brute-force max on random timelines") {
    val gen = Gen.zip(Gen.choose(0, 4), Gen.choose(0L, 100L))
    val leftRows = samples(gen, 80, seed = 55L).zipWithIndex
      .map { case ((k, t), i) => (i.toLong, k.toLong, new java.sql.Timestamp(t * 1000)) }
    val rightRows = samples(gen, 80, seed = 56L).zipWithIndex
      // dedupe per (key, time): keep max synthetic id (the operator contract)
      .map { case ((k, t), i) => (k.toLong, t, 1000L + i) }
      .groupBy(x => (x._1, x._2)).values.map(_.maxBy(_._3)).toSeq
      .map { case (k, t, rid) => (rid, k, new java.sql.Timestamp(t * 1000)) }
    val left = leftRows.toDF("lid", "k", "t")
    val right = rightRows.toDF("rid", "rk", "rt")
    val got = graft.ops.AsofJoin.backward(left, right, "k", "rk", "t", "rt",
        Seq("rid"), "m")
      .select(col("lid"), col("m.rid").as("rid")).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    val rightByKey = rightRows.groupBy(_._2)
    leftRows.foreach { case (lid, k, t) =>
      val expect = rightByKey.getOrElse(k, Seq.empty)
        .filter(!_._3.after(t))
        .sortBy(r => (r._3.getTime, r._1)).lastOption.map(_._1)
      assert(got(lid) == expect, s"lid=$lid")
    }
  }

  test("RangeJoin equals brute-force containment on random timelines") {
    // random points and random-width intervals (some wider than the
    // bucket, some zero-length) — the binned join must return exactly
    // the cross-join-and-filter answer at an arbitrary bucket width
    val ptGen = Gen.choose(0L, 100000L)
    val ivGen = for {
      s <- Gen.choose(0L, 100000L)
      w <- Gen.choose(0L, 5000L)
    } yield (s, s + w)
    val pts = samples(ptGen, 300, seed = 7L).zipWithIndex
      .map { case (t, i) => (i.toLong, new java.sql.Timestamp(t * 1000L)) }
      .toDF("pid", "ts")
    val ivs = samples(ivGen, 80, seed = 8L).zipWithIndex
      .map { case ((a, b), i) =>
        (i.toLong, new java.sql.Timestamp(a * 1000L), new java.sql.Timestamp(b * 1000L)) }
      .toDF("iid", "start", "end")
    val brute = pts.crossJoin(ivs)
      .filter(col("ts") >= col("start") && col("ts") <= col("end"))
      .select("pid", "iid").orderBy("pid", "iid").collect().toSeq
    for (width <- Seq(600, 5000, 100000)) {
      val got = graft.ops.RangeJoin
        .pointInInterval(pts, ivs, "ts", "start", "end", width)
        .select("pid", "iid").orderBy("pid", "iid").collect().toSeq
      assert(got == brute, s"bucketWidth=$width diverges from brute force")
    }
  }

  test("SQ8 invariants hold for arbitrary vectors") {
    import graft.ops.Sq
    // include degenerate shapes: all-zero, single-spike, negative-only
    val gen = Gen.listOfN(16, Gen.choose(-1000.0f, 1000.0f))
    val vs = samples(gen, 60, seed = 21L).map(_.toArray) ++
      Seq(Array.fill(16)(0.0f), Array.fill(16)(-3.5f),
        (Array.fill(15)(0.0f) :+ 123.4f))
    val df = vs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("vec_id", "embedding")
    val enc = Sq.encode(df, "vec_id", "embedding")
    // codes bounded
    assert(enc.select(explode(col("codes")).as("c"))
      .filter(abs(col("c")) > 127).count() == 0)
    // reconstruction within scale/2 per element, including the
    // all-zero vector (scale 0 reconstructs exact zeros)
    val bad = df.join(Sq.reconstruct(enc, "vec_id"), "vec_id")
      .join(enc.select(col("vec_id"), col("scale")), "vec_id")
      .withColumn("err", aggregate(
        zip_with(col("embedding").cast("array<double>"), col("vec_hat"),
          (x, xh) => abs(x - xh)),
        lit(0.0), (a, e) => greatest(a, e)))
      .filter(col("err") > col("scale") / 2 + lit(1e-9))
    assert(bad.count() == 0)
  }

  test("percentile switchover modes agree with a driver-side sort on arbitrary groups") {
    import graft.ops.Percentiles
    val gen = for {
      g <- Gen.oneOf("a", "b", "c")
      v <- Gen.choose(-1000.0, 1000.0)
    } yield (g, v)
    val rows = samples(gen, 400, seed = 31L)
    val df = rows.toDF("g", "v")
    val exact = Percentiles.grouped(df, "g", "v", Seq("p50" -> 0.5)).collect()
    // Spark's exact percentile is the linear-interpolated order stat —
    // recompute it driver-side from the raw values
    def interp(xs: Seq[Double], p: Double): Double = {
      val s = xs.sorted
      val pos = p * (s.length - 1)
      val lo = s(pos.toInt)
      val hi = s(math.min(pos.toInt + 1, s.length - 1))
      lo + (pos - pos.toInt) * (hi - lo)
    }
    val byG = rows.groupBy(_._1).map { case (g, vs) => g -> vs.map(_._2) }
    exact.foreach { r =>
      val want = interp(byG(r.getString(0)), 0.5)
      assert(math.abs(r.getAs[Double]("p50") - want) < 1e-9, r)
      assert(r.getAs[Boolean]("exact"))
    }
  }

  test("co-occurrence pair count equals sum of C(k,2) over chunks") {
    // random entity lists per chunk -> edge weights must satisfy the
    // combinatorial identity regardless of duplicates
    val gen = Gen.listOfN(12, Gen.oneOf("alpha", "beta", "gamma", "delta", "epsilon"))
    val rows = samples(gen, 40, seed = 99L).zipWithIndex
      .map { case (ents, i) => (s"c$i", s"p${i % 5}", ents.mkString(" ")) }
    val df = rows.toDF("chunk_id", "paper_id", "text_content")
    val emap = graft.pipeline.Ingest.entityMap(
      df.withColumn("chunk_index", lit(0)))
    val edges = graft.pipeline.Ingest.edges(emap)
    val expected = emap.groupBy("chunk_id").agg(countDistinct("node_id").as("k"))
      .select(sum(col("k") * (col("k") - 1) / 2)).head.getDouble(0)
    val got = edges.agg(sum("weight")).head.getDouble(0)
    assert(got == expected)
  }
}
