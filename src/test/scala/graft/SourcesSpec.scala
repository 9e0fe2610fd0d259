package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.Sources

class SourcesSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("name", StringType),
    StructField("score", DoubleType)))

  private val df = Seq((1L, "a", 1.5), (2L, "b,with,commas", 2.5), (3L, null, 3.5))
    .toDF("id", "name", "score")

  test("csv round trip preserves rows incl. quoting and nulls") {
    val dir = java.nio.file.Files.createTempDirectory("src").toString
    Sources.writeCsv(df, s"$dir/csv")
    val back = Sources.readCsv(spark, s"$dir/csv", schema)
    assert(back.orderBy("id").collect().toSeq == df.orderBy("id").collect().toSeq)
  }

  test("jsonl round trip + append grows the log (S7)") {
    val dir = java.nio.file.Files.createTempDirectory("src").toString
    Sources.appendJsonl(df, s"$dir/log")
    Sources.appendJsonl(df.filter(col("id") === 1), s"$dir/log")
    val back = Sources.readJsonl(spark, s"$dir/log", schema)
    assert(back.count() == 4)
    assert(back.filter(col("id") === 1).count() == 2)
  }

  test("driver-side JSON lines match the Spark JSON writer and append atomically (S7)") {
    import scala.jdk.CollectionConverters._
    val dir = java.nio.file.Files.createTempDirectory("src").toString
    // a null field, a timestamp and an array of structs: what the sinks carry
    val rec = df.withColumn("ts", lit(java.sql.Timestamp.valueOf("2024-01-02 03:04:05.678")))
      .withColumn("xs", array(struct(col("id"), col("name"))))
    Sources.appendJsonl(rec, s"$dir/spark")
    val written = new java.io.File(s"$dir/spark").listFiles.toSeq
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".json"))
      .flatMap(f => java.nio.file.Files.readAllLines(f.toPath).asScala)
    val lines = Sources.jsonLines(rec)
    assert(lines.length == 3 && lines.toSet == written.toSet)
    Sources.appendJsonLines(spark, lines, s"$dir/log")
    Sources.appendJsonLines(spark, lines.take(1), s"$dir/log")
    val names = new java.io.File(s"$dir/log").list.toSeq
    assert(names.count(n => n.startsWith("part-") && n.endsWith(".json")) == 2)
    assert(!names.exists(_.contains(".tmp")), s"temp file left behind: $names")
    val back = spark.read.schema(rec.schema).json(s"$dir/log")
    assert(back.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 1L, 2L, 3L))
  }

  test("malformed csv rows yield nulls under PERMISSIVE (P6)") {
    val dir = java.nio.file.Files.createTempDirectory("src").toString
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/bad.csv"),
      "id,name,score\n1,a,1.5\nnot_a_long,b,xyz\n")
    val back = Sources.readCsv(spark, s"$dir/bad.csv", schema)
    assert(back.count() == 2)
    assert(back.filter(col("id").isNull).count() == 1)
  }

  test("partitioned parquet write prunes partitions on read") {
    val dir = java.nio.file.Files.createTempDirectory("src").toString
    val ev = Tables.load(spark, Sf0001, "events")
      .withColumn("etype", col("event_type"))
    Sources.writeParquet(ev, s"$dir/part", partitionBy = Seq("etype"))
    val one = spark.read.parquet(s"$dir/part").filter(col("etype") === "error")
    val plan = one.queryExecution.executedPlan.toString
    assert(one.count() > 0)
    // partition filter must reach the scan, not a post-scan filter
    assert(plan.contains("PartitionFilters: [isnotnull(etype"))
  }

  test("compactParquet merges small files to the byte-target count") {
    val in = java.nio.file.Files.createTempDirectory("compact_in").toString
    val out = java.nio.file.Files.createTempDirectory("compact_out").toString
    // scatter the orders table across 16 small files
    val orders = Tables.load(spark, Sf0001, "orders")
    orders.repartition(16).write.mode("overwrite").parquet(in)
    val fs = new org.apache.hadoop.fs.Path(in)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def files(dir: String) = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .count(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
    assert(files(in) == 16)
    // generous byte target -> everything folds into very few files
    val n = graft.sources.Sources.compactParquet(spark, in, out,
      targetBytes = 64L * 1024 * 1024)
    assert(n < 16 && n >= 1 && files(out) == n)
    // content preserved exactly
    val a = orders.orderBy("o_orderkey").collect()
    val b = spark.read.parquet(out).orderBy("o_orderkey").collect()
    assert(a.sameElements(b))
  }

  test("shard writer: ordered range shards, bounded files, manifest matches") {
    val dir = java.nio.file.Files.createTempDirectory("shards").toString + "/out"
    val docs = Tables.load(spark, Sf0001, "documents").select("doc_id", "text")
    val total = docs.count()
    val nFiles = Sources.writeShards(docs, dir, "doc_id",
      numShards = 4, maxRecordsPerFile = 20)
    // maxRecordsPerFile splits each range shard into ceil(rows/20) files
    assert(nFiles >= 4, s"expected at least 4 shard files, got $nFiles")
    val back = spark.read.parquet(dir)
    assert(back.count() == total)
    // every file individually honors the record cap and is sorted
    val files = new java.io.File(dir).listFiles()
      .filter(f => f.getName.endsWith(".parquet")).map(_.getPath)
    files.foreach { f =>
      val ids = spark.read.parquet(f)
        .select("doc_id").as[Long](org.apache.spark.sql.Encoders.scalaLong)
        .collect().toSeq
      assert(ids.size <= 20, s"$f exceeds maxRecordsPerFile")
      assert(ids == ids.sorted, s"$f is not internally sorted")
    }
    // manifest agrees with the directory
    val manifest = java.nio.file.Files.readString(
      java.nio.file.Paths.get(dir, "_manifest.json"))
    assert(manifest.contains(s""""n_rows":$total"""))
    assert(files.forall(f => manifest.contains(new java.io.File(f).getName)))
    // the HEADLINE property: manifest file order is global key order —
    // max_key of entry k strictly precedes min_key of entry k+1, and
    // the recorded bounds match the actual per-file data
    val entry = """\{"file":"([^"]+)","bytes":\d+,"rows":(\d+),"min_key":(\d+),"max_key":(\d+)\}""".r
    val entries = entry.findAllMatchIn(manifest)
      .map(m => (m.group(1), m.group(2).toLong, m.group(3).toLong, m.group(4).toLong))
      .toSeq
    assert(entries.size == files.length, "manifest must list every data file")
    entries.sliding(2).foreach {
      case Seq((fa, _, _, maxA), (fb, _, minB, _)) =>
        assert(maxA < minB, s"global key order broken between $fa and $fb")
      case _ =>
    }
    entries.foreach { case (name, rows, kmin, kmax) =>
      val ids = spark.read.parquet(s"$dir/$name")
        .select("doc_id").as[Long](org.apache.spark.sql.Encoders.scalaLong)
        .collect().toSeq
      assert(ids.size == rows && ids.min == kmin && ids.max == kmax,
        s"$name: manifest bounds/rows disagree with the file")
    }
  }

  test("manifest-pruned range read skips non-overlapping shard files") {
    val dir = java.nio.file.Files.createTempDirectory("prune").toString + "/out"
    val docs = Tables.load(spark, Sf0001, "documents").select("doc_id", "text")
    Sources.writeShards(docs, dir, "doc_id", numShards = 8)
    val ids = docs.select("doc_id")
      .as[Long](org.apache.spark.sql.Encoders.scalaLong).collect().sorted
    // a range inside the key space, spanning ~an eighth of the rows
    val (lo, hi) = (ids(ids.length / 4), ids(ids.length / 4 + ids.length / 8))
    val (df, read, total) = Sources.readShardRange(spark, dir, lo, hi)
    // correctness: exactly the rows a full-scan filter returns
    val expect = ids.filter(k => k >= lo && k <= hi).toSeq
    val got = df.select("doc_id")
      .as[Long](org.apache.spark.sql.Encoders.scalaLong).collect().sorted.toSeq
    assert(got == expect)
    // the SKIP property: a sub-range must not open every file
    assert(total == 8, s"expected 8 shard files, got $total")
    assert(read < total, s"no files were skipped (read $read of $total)")
    // degenerate range below the key space: zero files, empty result,
    // schema intact
    val (none, r0, _) = Sources.readShardRange(spark, dir, ids.min - 10, ids.min - 1)
    assert(r0 == 0 && none.count() == 0 && none.columns.sameElements(df.columns))
  }

  test("bucketed tables join without any shuffle exchange") {
    val wh = java.nio.file.Files.createTempDirectory("wh").toString
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val li = Tables.load(spark, Sf0001, "lineitem")
        .select("l_orderkey", "l_quantity")
      val o = Tables.load(spark, Sf0001, "orders")
        .select("o_orderkey", "o_totalprice")
      Sources.writeBucketed(li, "li_b", "l_orderkey", 4)
      Sources.writeBucketed(o, "o_b", "o_orderkey", 4)
      val joined = spark.table("li_b")
        .join(spark.table("o_b"), col("l_orderkey") === col("o_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join should not shuffle:\n$plan")
      assert(joined.count() == li.count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.sql("DROP TABLE IF EXISTS li_b")
      spark.sql("DROP TABLE IF EXISTS o_b")
    }
  }
}
