package graft

import org.apache.spark.sql.functions._
import graft.sources.Snapshots

/** The copy-on-write snapshot log's visibility contract (x24's
  * operator): versions are immutable, the log — not the directory
  * tree — defines what exists, and pinned reads are isolated from
  * later commits.
  */
class SnapshotsSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(): String = {
    val dir = java.nio.file.Files.createTempDirectory("snap").toString + "/t"
    dir
  }

  test("commit/read round-trip and latest resolution") {
    val dir = freshDir()
    val v1 = Snapshots.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), dir)
    val v2 = Snapshots.commit(Seq((1L, "a2"), (3L, "c")).toDF("id", "v"), dir)
    assert(v1 == 1 && v2 == 2 && Snapshots.versions(spark, dir) == Seq(1, 2))
    assert(Snapshots.read(spark, dir).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((1L, "a2"), (3L, "c")))
  }

  test("a pinned read is isolated from later commits") {
    val dir = freshDir()
    Snapshots.commit(Seq((1L, 10.0)).toDF("id", "bal"), dir)
    // capture the pinned plan BEFORE the refresh lands, execute after
    val pinned = Snapshots.read(spark, dir, Some(1))
    Snapshots.commit(Seq((1L, 99.0), (2L, 5.0)).toDF("id", "bal"), dir)
    assert(pinned.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      Seq((1L, 10.0)), "v1 files must be untouched by the v2 commit")
    assert(Snapshots.read(spark, dir, Some(1)).count() == 1)
    assert(Snapshots.read(spark, dir).count() == 2)
  }

  test("the log, not the directory tree, defines visibility") {
    val dir = freshDir()
    Snapshots.commit(Seq((1L, "a")).toDF("id", "v"), dir)
    // simulate a crashed half-commit: a v2 directory with data files
    // but NO log entry — it must be invisible garbage
    Seq((9L, "torn")).toDF("id", "v")
      .write.mode("overwrite").parquet(s"$dir/v2")
    assert(Snapshots.versions(spark, dir) == Seq(1))
    assert(Snapshots.read(spark, dir).orderBy("id").collect()
      .map(_.getLong(0)).toSeq == Seq(1L), "torn v2 must not be readable as latest")
    intercept[IllegalArgumentException] {
      Snapshots.read(spark, dir, Some(2))
    }
  }

  test("a torn entry publication (crash before the link) never loses or fakes versions") {
    val dir = freshDir()
    Snapshots.commit(Seq((1L, "a")).toDF("id", "v"), dir)
    Snapshots.commit(Seq((2L, "b")).toDF("id", "v"), dir)
    // simulate a commit that crashed mid-publication: a partial entry
    // temp file exists, the atomic link never happened — the log must
    // be intact, v3 must not exist, and the next commit must land v3
    val torn = java.nio.file.Paths.get(dir, "_entry_v3.json.tmpdeadbeef")
    java.nio.file.Files.writeString(torn, "{\"version\":3,\"n_fi")
    assert(Snapshots.versions(spark, dir) == Seq(1, 2),
      "a torn temp file must not affect the committed log")
    assert(Snapshots.read(spark, dir).count() == 1)
    val v3 = Snapshots.commit(Seq((3L, "c")).toDF("id", "v"), dir)
    assert(v3 == 3 && Snapshots.versions(spark, dir) == Seq(1, 2, 3),
      "the crashed writer's temp must not block the next commit from landing v3")
    assert(Snapshots.read(spark, dir, Some(1)).count() == 1,
      "pre-crash versions stay readable after recovery")
  }

  test("sequential commits from one writer never drop entries") {
    val dir = freshDir()
    (1 to 5).foreach { i =>
      Snapshots.commit(Seq((i.toLong, s"r$i")).toDF("id", "v"), dir)
    }
    assert(Snapshots.versions(spark, dir) == (1 to 5),
      "every sequential commit must have a log entry")
    (1 to 5).foreach { i =>
      assert(Snapshots.read(spark, dir, Some(i)).select("v").as[String].collect()
        .toSeq == Seq(s"r$i"))
    }
  }

  test("concurrent PLAIN commits all land: the entry claim serializes writers, no lost entries") {
    // the old whole-file log was single-writer (read-modify-rename
    // could drop a concurrent entry); per-version entry files make
    // plain multi-writer safe — every committer lands, in claim order
    val dir = freshDir()
    Snapshots.commit(Seq((0L, "base")).toDF("id", "v"), dir)
    val barrier = new java.util.concurrent.CyclicBarrier(4)
    val got = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val threads = (1 to 4).map { i =>
      new Thread(() => {
        val df = Seq((i.toLong, s"w$i")).toDF("id", "v")
        barrier.await()
        got.add(Snapshots.commit(df, dir))
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(got.toArray(Array.empty[Integer]).map(_.toInt).sorted.toSeq == Seq(2, 3, 4, 5),
      "all four racing plain commits must land distinct consecutive versions")
    assert(Snapshots.versions(spark, dir) == (1 to 5),
      "no concurrent commit may drop another's log entry")
    // each version reads back exactly its writer's row
    val seen = (2 to 5).map(v => Snapshots.read(spark, dir, Some(v))
      .select("v").as[String].collect().toSeq)
    assert(seen.flatten.sorted == Seq("w1", "w2", "w3", "w4"),
      s"each landed version must hold exactly one writer's rows: $seen")
  }

  test("the entry claim is exclusive across two independent FileSystem instances (no shared JVM state)") {
    // two committers that share NOTHING but the directory — separate
    // FileSystem handles standing in for separate processes (the
    // claim primitive is the kernel's link(2)/create-exclusive, so
    // JVM-local monitors play no part): exactly one wins the version
    val dir = freshDir()
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(dir)
    val fsA = org.apache.hadoop.fs.FileSystem.newInstance(p.toUri, conf)
    val fsB = org.apache.hadoop.fs.FileSystem.newInstance(p.toUri, conf)
    assert(!(fsA eq fsB), "the test needs two distinct FileSystem instances")
    fsA.mkdirs(p)
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val wins = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val racers = Seq(("A", fsA), ("B", fsB)).map { case (tag, fs) =>
      new Thread(() => {
        barrier.await()
        if (Snapshots.tryPublishEntry(fs, p, 1,
          s"""{"version":1,"dir":"v1-$tag","winner":"$tag"}""")) wins.add(tag)
      })
    }
    racers.foreach(_.start()); racers.foreach(_.join())
    assert(wins.size == 1, s"exactly one claim must win: $wins")
    // the surviving entry is the winner's, fully written (never torn)
    val text = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "_entry_v1.json")))
    assert(text.contains(s""""winner":"${wins.peek()}""""),
      s"the entry content must be the claim winner's: $text")
    fsA.close(); fsB.close()
  }

  test("partitioned commit: hive layout round-trips, listing counts files per dir") {
    val dir = freshDir()
    val df = Seq((1L, "a", 0), (2L, "a", 0), (3L, "b", 1))
      .toDF("id", "grp", "bin")
    Snapshots.commit(df.repartition(col("grp"), col("bin")), dir,
      partitionBy = Seq("grp", "bin"))
    // partition columns restored on read, content identical
    val back = Snapshots.read(spark, dir)
      .select(col("id"), col("grp"), col("bin").cast("int"))
      .orderBy("id").collect()
    assert(back.map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSeq ==
      Seq((1L, "a", 0), (2L, "a", 0), (3L, "b", 1)))
    // repartition-by-partition-cols colocates each value into ONE file
    val perDir = Snapshots.filesPerDir(spark, dir, 1)
    assert(perDir.size == 2 && perDir.values.forall(_ == 1),
      s"expected one data file per partition dir, got $perDir")
  }

  test("deletion vector: merge-on-read anti-join, base files untouched") {
    val dir = freshDir()
    Snapshots.commit(
      Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "a", 30L)).toDF("id", "grp", "n"), dir)
    val sig = Snapshots.fileSignature(spark, dir, 1)
    assert(sig.nonEmpty)
    Snapshots.commitDeletes(Seq(2L).toDF("id"), dir, base = 1)
    // the DV commit wrote only keys; the base's files are byte-identical
    assert(Snapshots.fileSignature(spark, dir, 1) == sig,
      "a deletion-vector commit must never touch the base's data files")
    assert(Snapshots.readResolved(spark, dir).orderBy("id")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 3L))
    // the pinned base still reads the FULL pre-delete state
    assert(Snapshots.readResolved(spark, dir, Some(1)).count() == 3)
  }

  test("partition overwrite: only the replaced partition changes, others ride the base") {
    val dir = freshDir()
    Snapshots.commit(
      Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "a", 30L)).toDF("id", "grp", "n"), dir)
    val sig = Snapshots.fileSignature(spark, dir, 1)
    Snapshots.commitReplace(
      Seq((1L, "a", 100L), (3L, "a", 300L), (4L, "a", 400L)).toDF("id", "grp", "n"),
      dir, base = 1, pcol = "grp", pval = "a")
    assert(Snapshots.fileSignature(spark, dir, 1) == sig,
      "a partition overwrite must never touch the base's data files")
    // v2's directory holds exactly the replaced hive partition
    assert(Snapshots.filesPerDir(spark, dir, 2).keys.forall(_.contains("grp=a")))
    val got = Snapshots.readResolved(spark, dir)
      .select(col("id"), col("grp"), col("n")).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(got == Seq((1L, "a", 100L), (2L, "b", 20L), (3L, "a", 300L), (4L, "a", 400L)))
  }

  test("logical commits chain: a delete on top of a replace resolves recursively") {
    val dir = freshDir()
    Snapshots.commit(Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("id", "grp", "n"), dir)
    Snapshots.commitReplace(Seq((1L, "a", 100L)).toDF("id", "grp", "n"),
      dir, base = 1, pcol = "grp", pval = "a")
    Snapshots.commitDeletes(Seq(2L).toDF("id"), dir, base = 2)
    assert(Snapshots.readResolved(spark, dir).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSeq == Seq((1L, 100L)))
    // every intermediate state stays pinned-readable
    assert(Snapshots.readResolved(spark, dir, Some(1)).count() == 2)
    assert(Snapshots.readResolved(spark, dir, Some(2))
      .filter(col("n") === 100L).count() == 1)
  }

  test("logical commits validate their base version") {
    val dir = freshDir()
    Snapshots.commit(Seq((1L, "a")).toDF("id", "v"), dir)
    intercept[IllegalArgumentException] {
      Snapshots.commitDeletes(Seq(1L).toDF("id"), dir, base = 9)
    }
    intercept[IllegalArgumentException] {
      Snapshots.commitReplace(Seq((1L, "a")).toDF("id", "v"), dir,
        base = 9, pcol = "v", pval = "a")
    }
  }

  test("vacuum removes expired versions, keeps survivors readable, fails vacuumed reads loudly") {
    val dir = freshDir()
    (1 to 3).foreach { i =>
      Snapshots.commit(Seq((i.toLong, s"r$i")).toDF("id", "v"), dir)
    }
    val dropped = Snapshots.vacuum(spark, dir, keepLast = 2)
    assert(dropped == Seq(1))
    assert(Snapshots.versions(spark, dir) == Seq(2, 3))
    assert(!Snapshots.versionDirExists(spark, dir, 1),
      "the expired version's directory must be physically gone")
    assert(Snapshots.read(spark, dir, Some(2)).count() == 1)
    assert(Snapshots.read(spark, dir).select("v").as[String].collect().toSeq == Seq("r3"))
    intercept[IllegalArgumentException] { Snapshots.read(spark, dir, Some(1)) }
    // idempotent when nothing is expired
    assert(Snapshots.vacuum(spark, dir, keepLast = 2).isEmpty)
  }

  test("vacuum protects a kept logical version's base chain") {
    val dir = freshDir()
    Snapshots.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), dir)
    Snapshots.commitDeletes(Seq(2L).toDF("id"), dir, base = 1)
    // keepLast = 1 keeps only the DV — but its base must survive too,
    // or the DV's read path would dangle
    assert(Snapshots.vacuum(spark, dir, keepLast = 1).isEmpty)
    assert(Snapshots.versions(spark, dir) == Seq(1, 2))
    assert(Snapshots.readResolved(spark, dir).collect().map(_.getLong(0)).toSeq == Seq(1L))
    // a data version on top releases the chain: vacuum now drops both
    Snapshots.commit(Seq((9L, "z")).toDF("id", "v"), dir)
    assert(Snapshots.vacuum(spark, dir, keepLast = 1).sorted == Seq(1, 2))
    assert(Snapshots.versions(spark, dir) == Seq(3))
    assert(!Snapshots.versionDirExists(spark, dir, 1) &&
      !Snapshots.versionDirExists(spark, dir, 2))
  }

  test("restore: metadata-only rollback, vacuum protects the target, history stays travelable") {
    val dir = freshDir()
    Snapshots.commit(Seq((1L, "good"), (2L, "good")).toDF("id", "v"), dir)
    Snapshots.commit(Seq((1L, "BAD"), (2L, "BAD"), (3L, "BAD")).toDF("id", "v"), dir)
    val v3 = Snapshots.commitRestore(spark, dir, 1)
    assert(v3 == 3)
    // latest resolves to the v1 state through the restore pointer
    assert(Snapshots.read(spark, dir).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "good"), (2L, "good")))
    // the restore wrote no data file, and the bad version is still
    // time-travelable (forensics: nothing is lost by a rollback)
    assert(Snapshots.fileSignature(spark, dir, v3).isEmpty)
    assert(Snapshots.read(spark, dir, Some(2)).count() == 3)
    // the change feed of the restore step is the v2→v1 diff
    val feed = Snapshots.stepChanges(spark, dir, v3, Seq("id"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(feed == Set(("U", 1L), ("U", 2L), ("D", 3L)))
    // vacuum's base-chain closure protects the restore target: only
    // the bad middle version is collectible
    assert(Snapshots.vacuum(spark, dir, keepLast = 1).sorted == Seq(2))
    assert(Snapshots.versions(spark, dir) == Seq(1, 3))
    assert(Snapshots.read(spark, dir).count() == 2)
    // restoring to an unpublished version fails loudly
    intercept[IllegalArgumentException] {
      Snapshots.commitRestore(spark, dir, 99)
    }
  }

  test("purge skips restore versions but reaches their base (erasure through the pointer)") {
    val dir = freshDir()
    Snapshots.commit(Seq((1L, "keep"), (7L, "secret")).toDF("id", "v"), dir)
    Snapshots.commit(Seq((1L, "keep2"), (7L, "secret2")).toDF("id", "v"), dir)
    val v3 = Snapshots.commitRestore(spark, dir, 1)
    val rewritten = Snapshots.purgeKeys(spark, dir, Seq(7L).toDF("id"))
    // both data versions rewrote; the restore (no data of its own)
    // was skipped, yet its resolved content no longer holds the key
    assert(rewritten.sorted == Seq(1, 2))
    assert(Snapshots.fileSignature(spark, dir, v3).isEmpty)
    (1 to 3).foreach { v =>
      assert(Snapshots.readResolved(spark, dir, Some(v))
        .filter(col("id") === 7L).count() == 0, s"v$v still holds the key")
    }
  }

  test("timed commits: AS OF resolves at-or-before, guards monotonicity and timed-throughout") {
    val dir = freshDir()
    Snapshots.commitAt(Seq((1L, "v1")).toDF("id", "v"), dir, 1000L)
    Snapshots.commitAt(Seq((1L, "v2")).toDF("id", "v"), dir, 2000L)
    // boundary inclusive, between-commits stays on the older version
    assert(Snapshots.versionAsOf(spark, dir, 1000L) == 1)
    assert(Snapshots.versionAsOf(spark, dir, 1999L) == 1)
    assert(Snapshots.versionAsOf(spark, dir, 2000L) == 2)
    assert(Snapshots.read(spark, dir,
        Some(Snapshots.versionAsOf(spark, dir, 1500L))).collect()
      .map(_.getString(1)).toSeq == Seq("v1"))
    // a ts that predates the first commit has no state to read
    intercept[IllegalArgumentException] {
      Snapshots.versionAsOf(spark, dir, 999L)
    }
    // the log must stay monotonic in ts — equal or older fails loudly
    intercept[IllegalArgumentException] {
      Snapshots.commitAt(Seq((1L, "x")).toDF("id", "v"), dir, 2000L)
    }
    // a timed table is timed THROUGHOUT: an untimed commit poisons
    // AS OF resolution loudly, never silently mis-resolves
    Snapshots.commit(Seq((1L, "v3")).toDF("id", "v"), dir)
    intercept[IllegalArgumentException] {
      Snapshots.versionAsOf(spark, dir, 5000L)
    }
  }

  test("aligned reads serve old versions through the latest schema; drops/type-changes fail loudly") {
    val dir = freshDir()
    Snapshots.commit(Seq((1L, "a")).toDF("id", "grp"), dir)
    Snapshots.commit(Seq((2L, "b", 5L)).toDF("id", "grp", "score"), dir)
    val v1 = Snapshots.readAligned(spark, dir, Some(1))
    assert(v1.columns.toSeq == Seq("id", "grp", "score"),
      "aligned read must carry the latest column set and order")
    val row = v1.collect().head
    assert(row.getLong(0) == 1L && row.isNullAt(2),
      "the missing column must come back as a typed null")
    // latest aligned to itself is identity
    assert(Snapshots.readAligned(spark, dir).collect().head.getLong(2) == 5L)
    // a dropped column has no safe answer — loud failure
    Snapshots.commit(Seq((3L, "c")).toDF("id", "grp"), dir)
    intercept[IllegalArgumentException] {
      Snapshots.readAligned(spark, dir, Some(2)).collect()
    }
    // a REPRESENTATION change (long→string) is not widening — loud
    // failure (canUpCast alone would admit it; losslessWiden refuses)
    val dir2 = freshDir()
    Snapshots.commit(Seq((1L, 5L)).toDF("id", "score"), dir2)
    Snapshots.commit(Seq((1L, "five")).toDF("id", "score"), dir2)
    intercept[IllegalArgumentException] {
      Snapshots.readAligned(spark, dir2, Some(1)).collect()
    }
    // x109: a LOSSLESS widening aligns through an upcast — the values
    // survive by construction, recorded or not
    val dir3 = freshDir()
    Snapshots.commit(Seq((1, 5)).toDF("id", "score"), dir3)
    Snapshots.commit(Seq((1L, 5L)).toDF("id", "score")
      .selectExpr("cast(id as bigint) id", "cast(score as bigint) score"), dir3)
    assert(Snapshots.readAligned(spark, dir3, Some(1))
      .schema("score").dataType.typeName == "long")
    assert(Snapshots.readAligned(spark, dir3, Some(1))
      .collect().head.getLong(1) == 5L)
  }

  test("write-audit-publish: staged versions are invisible until published, publication is metadata-only") {
    val dir = freshDir()
    Snapshots.commit(Seq((1L, "a")).toDF("id", "v"), dir)
    val staged = Snapshots.commitStaged(Seq((2L, "b")).toDF("id", "v"), dir)
    assert(staged == 2)
    // readers: latest and the published version list don't know v2
    assert(Snapshots.versions(spark, dir) == Seq(1))
    assert(Snapshots.read(spark, dir).select("v").as[String].collect().toSeq == Seq("a"))
    assert(Snapshots.readResolved(spark, dir).count() == 1)
    // the auditor: an explicit pinned read reaches the staged data
    assert(Snapshots.read(spark, dir, Some(2)).select("v").as[String]
      .collect().toSeq == Seq("b"))
    // a commit while v2 is staged must NOT reuse its number
    assert(Snapshots.commit(Seq((3L, "c")).toDF("id", "v"), dir) == 3)
    // publish flips visibility without touching a data file
    val sig = Snapshots.fileSignature(spark, dir, 2)
    Snapshots.publish(spark, dir, 2)
    assert(Snapshots.fileSignature(spark, dir, 2) == sig,
      "publication must be a metadata-only log rewrite")
    assert(Snapshots.versions(spark, dir) == Seq(1, 2, 3))
    // publishing a non-staged or unknown version fails loudly
    intercept[IllegalArgumentException] { Snapshots.publish(spark, dir, 1) }
    intercept[IllegalArgumentException] { Snapshots.publish(spark, dir, 9) }
  }

  test("epoch commits are idempotent: a replayed micro-batch never double-commits") {
    val dir = freshDir()
    assert(Snapshots.commitEpoch(Seq((1L, "a")).toDF("id", "v"), dir, epochId = 0) == Some(1))
    assert(Snapshots.commitEpoch(Seq((2L, "b")).toDF("id", "v"), dir, epochId = 1) == Some(2))
    // failure recovery replays epoch 1 — the log already carries it
    assert(Snapshots.commitEpoch(Seq((2L, "b")).toDF("id", "v"), dir, epochId = 1).isEmpty)
    assert(Snapshots.versions(spark, dir) == Seq(1, 2))
    assert(Snapshots.read(spark, dir, Some(1)).count() +
      Snapshots.read(spark, dir, Some(2)).count() == 2)
  }

  test("stepChanges derives each commit kind's change rows from the log") {
    val dir = freshDir()
    Snapshots.commit(Seq((1L, "a", 10L), (2L, "a", 20L), (3L, "b", 30L))
      .toDF("id", "grp", "n"), dir)
    Snapshots.commitDeletes(Seq(2L).toDF("id"), dir, base = 1)
    // replace grp=a on v2-state {1}: drop 1, add 4, so the step
    // carries one D and one I (and no U)
    Snapshots.commitReplace(Seq((4L, "a", 400L)).toDF("id", "grp", "n"),
      dir, base = 2, pcol = "grp", pval = "a")
    Snapshots.commit(Seq((3L, "b", 31L), (4L, "a", 400L)).toDF("id", "grp", "n"), dir)
    def ops(v: Int) = Snapshots.stepChanges(spark, dir, v, Seq("id"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq.sorted
    assert(ops(1) == Seq(("I", 1L), ("I", 2L), ("I", 3L)), "first data commit is all-inserts")
    assert(ops(2) == Seq(("D", 2L)), "a DV step is its keys as deletes")
    assert(ops(3) == Seq(("D", 1L), ("I", 4L)), "a replace step diffs only its partition")
    assert(ops(4) == Seq(("U", 3L)), "a data-over-history step is the honest full diff")
  }

  test("optimistic concurrency: a commit against a stale expected version raises, never last-wins") {
    import graft.sources.ConcurrentCommitException
    val dir = freshDir()
    assert(Snapshots.commit(Seq((1L, "a")).toDF("id", "v"), dir) == 1)
    // writer B lands v2 between writer A's read (v1) and A's commit
    assert(Snapshots.commit(Seq((2L, "b")).toDF("id", "v"), dir) == 2)
    intercept[ConcurrentCommitException] {
      Snapshots.commit(Seq((3L, "lost-update")).toDF("id", "v"), dir,
        expectedVersion = 1)
    }
    // B's result was not clobbered and no ghost version appeared
    assert(Snapshots.versions(spark, dir) == Seq(1, 2))
    assert(Snapshots.read(spark, dir).select("v").as[String].collect().toSeq == Seq("b"))
    // re-planned against the new latest, the retry lands
    assert(Snapshots.commit(Seq((3L, "c")).toDF("id", "v"), dir,
      expectedVersion = 2) == 3)
    // expectedVersion = 0 means "only into an empty table"
    intercept[ConcurrentCommitException] {
      Snapshots.commit(Seq((9L, "x")).toDF("id", "v"), dir, expectedVersion = 0)
    }
  }

  test("optimistic concurrency: of two racing writers exactly one wins, the loser raises") {
    import graft.sources.ConcurrentCommitException
    val dir = freshDir()
    Snapshots.commit(Seq((1L, "a")).toDF("id", "v"), dir)
    val results = new java.util.concurrent.ConcurrentLinkedQueue[Either[String, Int]]()
    val threads = Seq("left", "right").map { tag =>
      new Thread(() =>
        try results.add(Right(Snapshots.commit(
          Seq((2L, tag)).toDF("id", "v"), dir, expectedVersion = 1)))
        catch { case _: ConcurrentCommitException => results.add(Left(tag)) })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    val (lost, won) = results.toArray(Array.empty[Either[String, Int]]).partition(_.isLeft)
    assert(won.toSeq == Seq(Right(2)) && lost.size == 1,
      s"exactly one racer must win v2: $results")
    assert(Snapshots.versions(spark, dir) == Seq(1, 2))
    // the winner's rows are intact (the loser's staged files are gone)
    assert(Snapshots.read(spark, dir).count() == 1)
  }

  test("x91: two racing appends planned against one base both land; final state is the union") {
    val dir = freshDir()
    Snapshots.commit(Seq((1L, "base")).toDF("id", "v"), dir)
    val results = new java.util.concurrent.ConcurrentLinkedQueue[Any]()
    val threads = Seq("left", "right").map { tag =>
      new Thread(() =>
        try results.add(Snapshots.commitAppendCommuting(
          Seq((if (tag == "left") 2L else 3L, tag)).toDF("id", "v"),
          dir, base = 1))
        catch { case e: Throwable => results.add(e) })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(results.toArray.toSet == Set(2, 3),
      s"both appends must land (one rebases): $results")
    assert(Snapshots.versions(spark, dir) == Seq(1, 2, 3))
    assert(Snapshots.readResolved(spark, dir).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "base"), (2L, "left"), (3L, "right")),
      "the union of both deltas — neither append may be lost")
  }

  test("x91 at fleet width: EIGHT racing appends planned at one base all land") {
    val dir = freshDir()
    Snapshots.commit(Seq((0L, "base")).toDF("id", "v"), dir)
    val results = new java.util.concurrent.ConcurrentLinkedQueue[Any]()
    val threads = (1 to 8).map { i =>
      new Thread(() =>
        try results.add(Snapshots.commitAppendCommuting(
          Seq((i.toLong, s"w$i")).toDF("id", "v"), dir, base = 1))
        catch { case e: Throwable => results.add(e) })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(results.toArray.toSet == (2 to 9).map(identity[Any]).toSet,
      s"all eight writers must land, serialized by claim order: $results")
    assert(Snapshots.readResolved(spark, dir).count() == 9,
      "the final state is the union of every writer's delta")
  }

  test("x105 mixed fleet: disjoint deletes and keyed appends race at one base; all land, state exact") {
    val dir = freshDir()
    Snapshots.commit((1L to 40L).map(i => (i, s"r$i")).toDF("id", "v"), dir)
    val results = new java.util.concurrent.ConcurrentLinkedQueue[Any]()
    val work: Seq[() => Any] = Seq(
      () => Snapshots.commitDeletesCommuting(
        (1L to 10L).map(Tuple1(_)).toDF("id"), dir, base = 1, keyCol = "id"),
      () => Snapshots.commitDeletesCommuting(
        (21L to 30L).map(Tuple1(_)).toDF("id"), dir, base = 1, keyCol = "id"),
      () => Snapshots.commitAppendCommuting(
        Seq((50L, "a50")).toDF("id", "v"), dir, base = 1, keyCol = Some("id")),
      () => Snapshots.commitAppendCommuting(
        Seq((60L, "a60")).toDF("id", "v"), dir, base = 1, keyCol = Some("id")))
    val threads = work.map(w => new Thread(() =>
      try results.add(w()) catch { case e: Throwable => results.add(e) }))
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(results.toArray.toSet == (2 to 5).map(identity[Any]).toSet,
      s"all four mixed writers must land: $results")
    assert(Snapshots.readResolved(spark, dir).select("id").collect()
      .map(_.getLong(0)).sorted.toSeq ==
      ((11L to 20L) ++ (31L to 40L) ++ Seq(50L, 60L)),
      "final state = base minus both disjoint deletes plus both appends")
  }

  test("x105: two racing disjoint-key deletes both land; overlapping ranges raise") {
    val dir = freshDir()
    Snapshots.commit((1L to 20L).map(i => (i, s"r$i")).toDF("id", "v"), dir)
    val results = new java.util.concurrent.ConcurrentLinkedQueue[Any]()
    val threads = Seq(1L to 5L, 11L to 15L).map { range =>
      new Thread(() =>
        try results.add(Snapshots.commitDeletesCommuting(
          range.map(Tuple1(_)).toDF("id"), dir, base = 1, keyCol = "id"))
        catch { case e: Throwable => results.add(e) })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(results.toArray.toSet == Set(2, 3),
      s"both disjoint deletes must land (one rebases): $results")
    assert(Snapshots.readResolved(spark, dir).select("id").collect()
      .map(_.getLong(0)).sorted.toSeq == ((6L to 10L) ++ (16L to 20L)),
      "both halves deleted — neither DV may be lost")
    // overlap arm: a stale delete whose range intersects v2's raises
    intercept[graft.sources.ConcurrentCommitException] {
      Snapshots.commitDeletesCommuting(
        Seq(Tuple1(4L)).toDF("id"), dir, base = 1, keyCol = "id")
    }
    // DV∥append: a stale keyed append disjoint from both DVs lands …
    assert(Snapshots.commitAppendCommuting(
      Seq((100L, "new")).toDF("id", "v"), dir, base = 1,
      keyCol = Some("id")) == 4)
    // … an UNkeyed stale append cannot prove disjointness and raises
    intercept[graft.sources.ConcurrentCommitException] {
      Snapshots.commitAppendCommuting(
        Seq((200L, "x")).toDF("id", "v"), dir, base = 1)
    }
  }

  test("x91: an append commutes through a layout re-land but NOT past a delete/replace") {
    val dir = freshDir()
    Snapshots.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), dir)
    // a dataChange=false layout rewrite lands between plan and commit
    Snapshots.commitLayout(
      Snapshots.readResolved(spark, dir).repartition(1), dir, base = 1)
    val v3 = Snapshots.commitAppendCommuting(
      Seq((3L, "c")).toDF("id", "v"), dir, base = 1)
    assert(v3 == 3 && Snapshots.readResolved(spark, dir).count() == 3,
      "same logical rows re-laid — the append rebases through")
    // a DELETE is not commutable: the planned-against state is gone
    Snapshots.commitDeletes(Seq(1L).toDF("id"), dir, base = 3)
    intercept[graft.sources.ConcurrentCommitException] {
      Snapshots.commitAppendCommuting(Seq((4L, "d")).toDF("id", "v"),
        dir, base = 3)
    }
  }

  test("x91/x96: an unpublished staged ghost never blocks an expected-version writer") {
    // OCC conflicts are about READER-VISIBLE states: a pending
    // txn/WAP ghost or an open branch's staged chain occupies entry
    // numbers but must not block main's concurrent ingest (x91
    // commuting appends, x93 auto-OPTIMIZE layout re-lands).
    val dir = freshDir()
    Snapshots.commit(Seq((1L, "a")).toDF("id", "v"), dir)
    Snapshots.commitStaged(Seq((9L, "ghost")).toDF("id", "v"), dir) // v2
    val v = Snapshots.commitAppendCommuting(Seq((2L, "b")).toDF("id", "v"),
      dir, base = 1)
    assert(v == 3, "the append steps past the ghost's entry number")
    assert(Snapshots.versions(spark, dir) == Seq(1, 3))
    assert(Snapshots.readResolved(spark, dir).count() == 2,
      "latest = base + append; the ghost stays invisible")
    // a PUBLISHED interleaving still raises for a plain expected commit
    intercept[graft.sources.ConcurrentCommitException] {
      Snapshots.commit(Seq((9L, "x")).toDF("id", "v"), dir,
        expectedVersion = 1)
    }
  }

  test("append commits: base rides by reference, feed is O(Δ), layout re-lands feed nothing") {
    val dir = freshDir()
    Snapshots.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), dir)
    val sig1 = Snapshots.fileSignature(spark, dir, 1)
    Snapshots.commitAppend(Seq((3L, "c")).toDF("id", "v"), dir, base = 1)
    // resolution = base ∪ appended; the base's files were not touched
    assert(Snapshots.readResolved(spark, dir).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "a"), (2L, "b"), (3L, "c")))
    assert(Snapshots.fileSignature(spark, dir, 1) == sig1,
      "an append must never rewrite its base")
    // the append's change feed is its own rows as inserts — no diff job
    assert(Snapshots.stepChanges(spark, dir, 2, Seq("id")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq == Seq(("I", 3L)))
    // a dataChange=false append (layout-only OPTIMIZE re-land of the
    // same logical rows) keeps the state and feeds NOTHING
    Snapshots.commitAppend(Seq((3L, "c")).toDF("id", "v"), dir, base = 1,
      dataChange = false)
    assert(Snapshots.readResolved(spark, dir).count() == 3)
    assert(Snapshots.stepChanges(spark, dir, 3, Seq("id")).isEmpty,
      "a layout commit must not re-feed existing rows as new data")
    // vacuum's transitive chain pinning protects the append's base
    assert(Snapshots.vacuum(spark, dir, keepLast = 1).toSet == Set(2))
    assert(Snapshots.readResolved(spark, dir).count() == 3)
  }

  test("merge-on-read publish: the staged DV is invisible until the append lands (no torn state)") {
    val dir = freshDir()
    Snapshots.commit(Seq((1L, 10.0), (2L, 20.0)).toDF("id", "bal"), dir)
    // stage the mask DV: key 2 is superseded by an update
    val dv = Snapshots.commitDeletes(Seq(2L).toDF("id"), dir, base = 1,
      staged = true)
    // the torn window: latest must still serve the PRE-merge state
    assert(Snapshots.readResolved(spark, dir).orderBy("id")
      .as[(Long, Double)].collect().toSeq == Seq((1L, 10.0), (2L, 20.0)),
      "a reader between the DV and the append must see v1, not the mask alone")
    assert(Snapshots.versions(spark, dir) == Seq(1))
    // ONE append through the staged base is the atomic commit point
    Snapshots.commitAppend(Seq((2L, 99.0), (3L, 30.0)).toDF("id", "bal"),
      dir, base = dv)
    assert(Snapshots.readResolved(spark, dir).orderBy("id")
      .as[(Long, Double)].collect().toSeq ==
      Seq((1L, 10.0), (2L, 99.0), (3L, 30.0)))
    // the base's files were never rewritten — the MoR claim
    assert(Snapshots.fileSignature(spark, dir, 1).nonEmpty)
  }

  test("a MERGE planned against v1 conflicts with an interleaved commit, then lands re-planned") {
    import graft.sources.ConcurrentCommitException
    val dir = freshDir()
    Snapshots.commit(Seq((1L, 10.0), (2L, 20.0)).toDF("id", "bal"), dir)
    def merge(base: Int) = graft.ops.Merge.mergeInto(
      Snapshots.read(spark, dir, Some(base)),
      Seq((2L, 99.0), (3L, 30.0)).toDF("id", "bal"), "id")
    val planned = merge(base = 1)
    // an interleaved writer advances the table between plan and commit
    Snapshots.commit(Seq((1L, 11.0), (2L, 20.0)).toDF("id", "bal"), dir)
    intercept[ConcurrentCommitException] {
      Snapshots.commit(planned, dir, expectedVersion = 1)
    }
    // the interleaved update was not clobbered (no lost write) …
    assert(Snapshots.versions(spark, dir) == Seq(1, 2))
    assert(Snapshots.read(spark, dir).filter(col("id") === 1L)
      .select("bal").as[Double].head() == 11.0)
    // … and the re-planned merge sees it and lands
    assert(Snapshots.commit(merge(base = 2), dir, expectedVersion = 2) == 3)
    assert(Snapshots.read(spark, dir).orderBy("id").as[(Long, Double)]
      .collect().toSeq == Seq((1L, 11.0), (2L, 99.0), (3L, 30.0)))
  }

  test("stepChanges baselines a data commit on the published chain, skipping staged priors") {
    val dir = freshDir()
    Snapshots.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), dir)
    // an unpublished (failed-audit) refresh readers never saw
    Snapshots.commitStaged(Seq((1L, "a"), (2L, "B"), (3L, "ghost")).toDF("id", "v"), dir)
    Snapshots.commit(Seq((1L, "a"), (2L, "b"), (4L, "d")).toDF("id", "v"), dir)
    val ops = Snapshots.stepChanges(spark, dir, 3, Seq("id"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq.sorted
    // vs the staged v2 this would read (D 3, I 4, U 2) — states no
    // reader ever observed; the published feed v1→v3 is one insert
    assert(ops == Seq(("I", 4L)),
      "the v3 feed must diff against published v1, not the staged ghost")
  }

  test("vacuum retention counts published versions; staged ghosts never displace them") {
    val dir = freshDir()
    Snapshots.commit(Seq((1L, "a")).toDF("id", "v"), dir)
    Snapshots.commitStaged(Seq((2L, "b")).toDF("id", "v"), dir)
    // pre-fix this kept ONLY the invisible staged head and deleted
    // every published version, breaking read(latest)
    assert(Snapshots.vacuum(spark, dir, keepLast = 1).isEmpty)
    assert(Snapshots.versions(spark, dir) == Seq(1))
    assert(Snapshots.read(spark, dir).select("v").as[String].collect().toSeq == Seq("a"))
    // the in-window staged version survives pending its audit
    assert(Snapshots.read(spark, dir, Some(2)).count() == 1)
    // a staged version that AGED past the window is collected garbage
    val dir2 = freshDir()
    Snapshots.commitStaged(Seq((1L, "failed-audit")).toDF("id", "v"), dir2)
    Snapshots.commit(Seq((2L, "b")).toDF("id", "v"), dir2)
    Snapshots.commit(Seq((3L, "c")).toDF("id", "v"), dir2)
    assert(Snapshots.vacuum(spark, dir2, keepLast = 1).sorted == Seq(1, 2))
    assert(Snapshots.versions(spark, dir2) == Seq(3))
    assert(!Snapshots.versionDirExists(spark, dir2, 1))
  }

  test("committed schema survives hive partition re-inference (numeric-looking pval)") {
    val dir = freshDir()
    // "2024"/"2025" are the inference trap: spark.read would type the
    // recovered partition column int and break the string comparisons
    Snapshots.commit(Seq((1L, "2024", 10L), (2L, "2025", 20L))
      .toDF("id", "yr", "n"), dir)
    Snapshots.commitReplace(Seq((1L, "2024", 11L), (3L, "2024", 30L))
      .toDF("id", "yr", "n"), dir, base = 1, pcol = "yr", pval = "2024")
    val resolved = Snapshots.readResolved(spark, dir)
    assert(resolved.schema("yr").dataType == org.apache.spark.sql.types.StringType,
      "the replace version must read back with its committed string type")
    assert(resolved.orderBy("id").collect().map(r =>
      (r.getLong(0), r.getString(1), r.getLong(2))).toSeq ==
      Seq((1L, "2024", 11L), (2L, "2025", 20L), (3L, "2024", 30L)))
    val ops = Snapshots.stepChanges(spark, dir, 2, Seq("id"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq.sorted
    assert(ops == Seq(("I", 3L), ("U", 1L)))
    // a plain partitioned commit round-trips its types too
    val dir2 = freshDir()
    Snapshots.commit(Seq((1L, "007", 1L)).toDF("id", "pc", "n"), dir2,
      partitionBy = Seq("pc"))
    val back = Snapshots.read(spark, dir2)
    assert(back.schema("pc").dataType == org.apache.spark.sql.types.StringType)
    assert(back.select("pc").as[String].collect().toSeq == Seq("007"),
      "a zero-padded partition value must not round-trip as the int 7")
  }

  test("zero-copy clone: metadata-only branch, isolated from source advances, loud on vacuumed source") {
    val src = freshDir(); val dst = freshDir()
    Snapshots.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), src)
    val v = Snapshots.commitClone(spark, dst, src, 1)
    assert(v == 1)
    // pure metadata: the clone version owns zero data files
    assert(Snapshots.fileSignature(spark, dst, 1).isEmpty,
      "a shallow clone must not write or copy any data file")
    // serves the pinned source state, through further source commits
    Snapshots.commit(Seq((9L, "z")).toDF("id", "v"), src)
    assert(Snapshots.readResolved(spark, dst).orderBy("id").collect()
      .map(_.getLong(0)).toSeq == Seq(1L, 2L),
      "the clone must keep serving the version it pinned")
    // a clone of a LOGICAL version resolves the chain
    Snapshots.commitDeletes(Seq(1L).toDF("id"), src, base = 2)
    val dst2 = freshDir()
    Snapshots.commitClone(spark, dst2, src, 3)
    assert(Snapshots.readResolved(spark, dst2).collect().map(_.getLong(0)).toSeq
      == Seq(9L), "a clone of a DV version must serve the resolved state")
    // the clone can keep evolving as its own branch
    Snapshots.commit(Seq((7L, "branch")).toDF("id", "v"), dst)
    assert(Snapshots.readResolved(spark, dst).select("id").collect()
      .map(_.getLong(0)).toSeq == Seq(7L))
    assert(Snapshots.stepChanges(spark, dst, 1, Seq("id")).collect()
      .map(r => (r.getString(0), r.getLong(1))).sorted.toSeq ==
      Seq(("I", 1L), ("I", 2L)), "a first clone version feeds as all-inserts")
    // retention caveat: vacuuming the SOURCE below a clone's pinned
    // version breaks that branch LOUDLY (dst pinned src v1; vacuum
    // keeps v3 + its DV base v2, drops v1)
    assert(Snapshots.vacuum(spark, src, keepLast = 1) == Seq(1))
    intercept[Exception] {
      Snapshots.readResolved(spark, dst, Some(1)).collect()
    }
    // dst2 pinned v3, which retention kept — its branch still reads
    assert(Snapshots.readResolved(spark, dst2).collect()
      .map(_.getLong(0)).toSeq == Seq(9L))
  }

  test("x104: rename/drop column are metadata-only; resolution, time travel and aligned reads agree") {
    val dir = freshDir()
    Snapshots.commit(Seq((1L, "a", 10L), (2L, "b", 20L))
      .toDF("id", "name", "n_chars"), dir)                     // v1
    val v2 = Snapshots.alterRenameColumn(spark, dir, "n_chars", "chars")
    val v3 = Snapshots.alterDropColumn(spark, dir, "name")
    assert(Snapshots.fileSignature(spark, dir, v2).isEmpty &&
      Snapshots.fileSignature(spark, dir, v3).isEmpty)
    // latest: renamed + narrowed; values ride through
    assert(Snapshots.readResolved(spark, dir).columns.toSeq == Seq("id", "chars"))
    assert(Snapshots.readResolved(spark, dir)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1L, 10L), (2L, 20L)))
    // historic pinned reads serve their own names, dropped col included
    assert(Snapshots.readResolved(spark, dir, Some(1)).columns.toSeq ==
      Seq("id", "name", "n_chars"))
    assert(Snapshots.readResolved(spark, dir, Some(v2)).columns.toSeq ==
      Seq("id", "name", "chars"))
    // aligned read of v1 translates n_chars forward and excludes the
    // recorded drop
    val aligned = Snapshots.readAligned(spark, dir, Some(1))
    assert(aligned.columns.toSeq == Seq("id", "chars"))
    assert(aligned.orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1L, 10L), (2L, 20L)))
    // x91: an append planned below the alters must re-plan (a
    // pre-alter writer's schema no longer matches the head's)
    intercept[graft.sources.ConcurrentCommitException] {
      Snapshots.commitAppendCommuting(
        Seq((9L, "x", 1L)).toDF("id", "name", "n_chars"), dir, base = 1)
    }
    // appends after the evolution carry the new schema and chain
    Snapshots.commitAppend(Seq((3L, 30L)).toDF("id", "chars"), dir, base = v3)
    assert(Snapshots.readResolved(spark, dir).count() == 3)
    // guards: duplicate target, unknown column, last column, CHECK ref
    intercept[IllegalArgumentException] {
      Snapshots.alterRenameColumn(spark, dir, "id", "chars")
    }
    intercept[IllegalArgumentException] {
      Snapshots.alterDropColumn(spark, dir, "nope")
    }
    Snapshots.addCheckConstraint(spark, dir, "pos_chars", "chars >= 0")
    intercept[IllegalArgumentException] {
      Snapshots.alterDropColumn(spark, dir, "chars")
    }
    intercept[IllegalArgumentException] {
      Snapshots.alterRenameColumn(spark, dir, "chars", "nchars")
    }
    // an implicit narrowing (full commit without a drop entry) still
    // fails aligned reads loudly — no policy was recorded
    Snapshots.commit(Seq(Tuple1(1L)).toDF("id"), dir)
    intercept[IllegalArgumentException] {
      Snapshots.readAligned(spark, dir, Some(1)).collect()
    }
  }

  test("x104×x50: purge by TODAY'S column name erases pre-rename history too") {
    val dir = freshDir()
    Snapshots.commit(Seq((1L, "keep"), (7L, "secret")).toDF("uid", "v"), dir)
    Snapshots.alterRenameColumn(spark, dir, "uid", "user_id")
    Snapshots.commitAppend(Seq((7L, "again"), (9L, "x"))
      .toDF("user_id", "v"), dir, base = 2)
    // the purge set names the CURRENT column; v1's files store `uid`
    val purged = Snapshots.purgeKeys(spark, dir,
      Seq(Tuple1(7L)).toDF("user_id"))
    assert(purged == Seq(1, 3), "BOTH eras' data versions rewrite")
    // key 7 is gone from every version — including pre-rename v1
    assert(Snapshots.read(spark, dir, Some(1))
      .filter(col("uid") === 7L).count() == 0,
      "a rename must not shield old files from the purge")
    assert(Snapshots.readResolved(spark, dir)
      .filter(col("user_id") === 7L).count() == 0)
    assert(Snapshots.readResolved(spark, dir).count() == 2)
  }

  test("x105: string conflict-key ranges compare in UTF-8 binary order (supplementary-plane safe)") {
    val dir = freshDir()
    Snapshots.commit(Seq(("�", "base")).toDF("k", "v"), dir)
    // The append's Spark-recorded range is [U+FFFD, U+1F600]: Spark's
    // min/max on strings is binary UTF-8 order, where the emoji
    // (4-byte, 0xF0…) sorts ABOVE every BMP char. Under Java's UTF-16
    // code-unit order the same hi endpoint (surrogate 0xD83D…) sorts
    // BELOW the lo endpoint — a UTF-16 comparator would see an
    // inverted range and judge a delete of U+FFFD "disjoint",
    // commuting it past an append that re-adds the very key.
    Snapshots.commitAppendCommuting(
      Seq(("�", "dup"), ("😀", "emoji")).toDF("k", "v"),
      dir, base = 1, keyCol = Some("k"))
    intercept[graft.sources.ConcurrentCommitException] {
      Snapshots.commitDeletesCommuting(
        Seq(Tuple1("�")).toDF("k"), dir, base = 1, keyCol = "k")
    }
    // a key genuinely above the range still commutes: U+1F601 > U+1F600
    assert(Snapshots.commitDeletesCommuting(
      Seq(Tuple1("😁")).toDF("k"), dir, base = 1, keyCol = "k") == 3)
    assert(Snapshots.readResolved(spark, dir).count() == 3,
      "base + both appended rows; the overlapping delete never landed")
  }

  test("x105: a NaN conflict-key value is refused loudly, not a parser crash") {
    val dir = freshDir()
    Snapshots.commit(Seq((1.0, "a")).toDF("k", "v"), dir)
    val e = intercept[IllegalArgumentException] {
      Snapshots.commitAppendCommuting(
        Seq((Double.NaN, "bad")).toDF("k", "v"), dir, base = 1,
        keyCol = Some("k"))
    }
    assert(e.getMessage.contains("not orderable"),
      s"the refusal must name the real reason: ${e.getMessage}")
  }

  test("x111: position deletes target ONE of two identical rows; base files untouched; feed serves the deleted row") {
    val dir = freshDir()
    // a KEYLESS table: two bit-identical rows — the case equality
    // deletes cannot express (any key set names both or neither)
    Snapshots.commit(Seq(("a", 1L), ("a", 1L), ("b", 2L)).toDF("k", "v"), dir)
    val sig1 = Snapshots.fileSignature(spark, dir, 1)
    val p0 = Snapshots.readResolvedPos(spark, dir)
      .filter(col("k") === "a")
      .orderBy(col(Snapshots.PosFileCol), col(Snapshots.PosIdxCol))
      .limit(1)
      .select(col(Snapshots.PosFileCol), col(Snapshots.PosIdxCol))
    val v2 = Snapshots.commitPositionDeletes(p0, dir, base = 1)
    assert(v2 == 2)
    val served = Snapshots.readResolved(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    assert(served == Seq(("a", 1L), ("b", 2L)),
      "exactly ONE of the two identical rows is gone — the duplicate survives")
    assert(Snapshots.fileSignature(spark, dir, 1) == sig1,
      "merge-on-read: the base's files are untouched")
    // the change feed serves the DELETED row's values as a D row
    val feed = Snapshots.stepChanges(spark, dir, 2, Seq("k", "v")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(feed == Seq(("D", "a", 1L)))
    // appends chain through position deletes
    Snapshots.commitAppend(Seq(("c", 3L)).toDF("k", "v"), dir, base = 2)
    assert(Snapshots.readResolved(spark, dir).count() == 3)
    // positioned resolution refuses chains without stable positions
    val dir2 = freshDir()
    Snapshots.commit(Seq(("x", 1L)).toDF("k", "v"), dir2)
    Snapshots.commitDeletes(Seq(Tuple1("x")).toDF("k"), dir2, base = 1)
    intercept[RuntimeException] {
      Snapshots.readResolvedPos(spark, dir2).count()
    }
  }

  test("x111: position-delete OCC commutes on disjoint FILE sets, raises on overlap and vs equality DVs") {
    val dir = freshDir()
    Snapshots.commit((1L to 10L).map(i => (i, "x")).toDF("n", "v"), dir) // v1
    Snapshots.commitAppend((11L to 20L).map(i => (i, "y")).toDF("n", "v"),
      dir, base = 1) // v2
    val posV1 = Snapshots.positionsOf(spark, dir, 2,
      col("n") <= 3 && col(Snapshots.PosFileCol).startsWith("v1-"))
    val posV2 = Snapshots.positionsOf(spark, dir, 2,
      col("n") >= 18 && col(Snapshots.PosFileCol).startsWith("v2-"))
    assert(Snapshots.commitPositionDeletes(posV1, dir, base = 2) == 3)
    // stale writer on v2's files only: disjoint file sets → commutes
    assert(Snapshots.commitPositionDeletesCommuting(posV2, dir, base = 2) == 4)
    assert(Snapshots.readResolved(spark, dir).collect().map(_.getLong(0))
      .sorted.toSeq == ((4L to 17L)),
      "both deletes landed — neither position set was lost")
    // overlap: another stale delete on v1's files raises
    intercept[graft.sources.ConcurrentCommitException] {
      Snapshots.commitPositionDeletesCommuting(
        Snapshots.positionsOf(spark, dir, 2,
          col("n") === 5 && col(Snapshots.PosFileCol).startsWith("v1-")),
        dir, base = 2)
    }
    // an equality DV shares no addressing with position deletes:
    // raise (audited here while the chain above base holds ONLY
    // posdeletes, so the refusal is the ("deletes","posdeletes") arm)
    intercept[graft.sources.ConcurrentCommitException] {
      Snapshots.commitDeletesCommuting(
        Seq(Tuple1(9L)).toDF("n"), dir, base = 2, keyCol = "n")
    }
    // an append planned below the position deletes still commutes
    assert(Snapshots.commitAppendCommuting(
      Seq((100L, "z")).toDF("n", "v"), dir, base = 2) == 5)
  }

  test("x115: compaction folds the delete run losslessly; feed empty; bare heads refuse") {
    val dir = freshDir()
    Snapshots.commit((1L to 10L).map(i => (i, "x")).toDF("n", "v"), dir)
    Snapshots.commitPositionDeletes(
      Snapshots.positionsOf(spark, dir, 1, col("n") <= 2), dir, base = 1)
    Snapshots.commitPositionDeletes(
      Snapshots.positionsOf(spark, dir, 2, col("n") === 3), dir, base = 2)
    val state0 = Snapshots.readResolved(spark, dir).collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(state0 == (4L to 10L))
    val v4 = Snapshots.compactPositionDeletes(spark, dir)
    assert(v4 == 4)
    assert(Snapshots.readResolved(spark, dir).collect()
      .map(_.getLong(0)).sorted.toSeq == state0,
      "the folded delete serves the identical state")
    assert(Snapshots.stepChanges(spark, dir, v4, Seq("n", "v")).isEmpty,
      "compaction is maintenance — the CDC feed must be empty")
    assert(Snapshots.readResolved(spark, dir, Some(3)).collect()
      .map(_.getLong(0)).sorted.toSeq == state0,
      "the folded head stays time-travelable")
    // the compacted entry records the UNION file set: a stale delete
    // addressing a file the run touched (n=2 shares pd1's file) sees
    // the overlap and raises — the audit walks ONE folded entry now
    intercept[graft.sources.ConcurrentCommitException] {
      Snapshots.commitPositionDeletesCommuting(
        Snapshots.positionsOf(spark, dir, 1, col("n") === 2), dir, base = 1)
    }
    // a single-delete head has nothing to fold
    intercept[IllegalArgumentException] {
      Snapshots.compactPositionDeletes(spark, dir)
    }
  }

  test("x117: positional update flips atomically and updates ONE of two identical rows") {
    val dir = freshDir()
    Snapshots.commit(Seq(("a", 1L), ("a", 1L), ("b", 2L)).toDF("k", "v"), dir)
    val m = Snapshots.readResolvedPos(spark, dir).filter(col("k") === "a")
      .orderBy(col(Snapshots.PosFileCol), col(Snapshots.PosIdxCol)).limit(1)
    val positions = m.select(
      col(Snapshots.PosFileCol), col(Snapshots.PosIdxCol))
    val images = m.select(col("k"), lit(99L).as("v"))
    // the two halves of commitPositionUpdate, probed mid-flight: the
    // staged DV leaves readers on the untouched base — there is no
    // deleted-but-not-updated middle state
    val dv = Snapshots.commitPositionDeletes(positions, dir, base = 1,
      staged = true)
    assert(Snapshots.versions(spark, dir) == Seq(1),
      "the staged position-DV is invisible to latest readers")
    assert(Snapshots.readResolved(spark, dir).count() == 3)
    Snapshots.commitAppend(images, dir, base = dv)
    val served = Snapshots.readResolved(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    assert(served == Seq(("a", 1L), ("a", 99L), ("b", 2L)),
      "exactly ONE of the two identical rows carries the update")
    // and the positioned scan serves the post-update addressing
    assert(Snapshots.readResolvedPos(spark, dir).count() == 3)
  }

  test("x111 at fleet width: EIGHT racing disjoint-file position deletes all land; state exact") {
    val dir = freshDir()
    // eight appends → eight single-file version dirs, one per writer
    Snapshots.commit((0L until 10L).map(i => (i, "v0")).toDF("n", "v"), dir)
    for (b <- 1 until 8)
      Snapshots.commitAppend(
        (b * 10L until b * 10L + 10L).map(i => (i, s"v$b")).toDF("n", "v"),
        dir, base = b)
    val base = Snapshots.versions(spark, dir).last
    // writer k deletes the first 3 rows of ITS version's files only —
    // eight pairwise-disjoint file sets, all planned at one base
    val results = new java.util.concurrent.ConcurrentLinkedQueue[Any]()
    val threads = (0 until 8).map { k =>
      val pos = Snapshots.positionsOf(spark, dir, base,
        col("n") % 10 < 3 &&
          col(Snapshots.PosFileCol).startsWith(s"v${k + 1}-"))
      new Thread(() =>
        try results.add(Snapshots.commitPositionDeletesCommuting(pos, dir, base))
        catch { case e: Throwable => results.add(e) })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(results.toArray.toSet ==
      (base + 1 to base + 8).map(identity[Any]).toSet,
      s"all eight disjoint-file deletes must land: $results")
    assert(Snapshots.readResolved(spark, dir).collect().map(_.getLong(0))
      .sorted.toSeq == (0L until 80L).filter(_ % 10 >= 3),
      "final state = union of all eight deletes — none lost, none doubled")
  }

  test("x111 OCC: a position delete refuses to rebase past layout re-lands (files replaced)") {
    val dir = freshDir()
    Snapshots.commit((1L to 10L).map(i => (i, "x")).toDF("n", "v"), dir) // v1
    // a TRUE append interleaves: it adds NEW files, the stale delete's
    // positions address existing ones — commutes (unchanged behavior)
    val pos1 = Snapshots.positionsOf(spark, dir, 1, col("n") <= 3)
    Snapshots.commitAppend((11L to 12L).map(i => (i, "y")).toDF("n", "v"),
      dir, base = 1) // v2
    assert(Snapshots.commitPositionDeletesCommuting(pos1, dir, base = 1) == 3)
    assert(Snapshots.readResolved(spark, dir).count() == 9)
    // a LAYOUT re-land interleaves ("data" kind, dataChange=false —
    // x93 auto-OPTIMIZE's commit): it REPLACES the physical files the
    // stale delete's (file,pos) addresses name. Rebasing past it would
    // land a delete whose anti-join matches nothing — rows that must
    // die silently survive. It must raise instead (Iceberg's
    // validateDataFilesExist), and the state must prove no row vanished.
    val base2 = Snapshots.versions(spark, dir).last // 3
    val pos2 = Snapshots.positionsOf(spark, dir, base2, col("n") === 7)
    Snapshots.commitLayout(Snapshots.readResolved(spark, dir), dir,
      base = base2) // v4
    intercept[graft.sources.ConcurrentCommitException] {
      Snapshots.commitPositionDeletesCommuting(pos2, dir, base = base2)
    }
    assert(Snapshots.readResolved(spark, dir).filter(col("n") === 7).count() == 1,
      "the refused delete landed nothing — no silent no-op either way")
    // a dataChange=false APPEND re-land (x55 incremental OPTIMIZE):
    // same physics — existing rows into new files — same refusal
    val base3 = Snapshots.versions(spark, dir).last // 4
    val pos3 = Snapshots.positionsOf(spark, dir, base3, col("n") === 8)
    Snapshots.commitAppend(
      Seq((12L, "y")).toDF("n", "v"), dir, base = base3,
      dataChange = false) // v5: row 12 re-laid into a new file
    intercept[graft.sources.ConcurrentCommitException] {
      Snapshots.commitPositionDeletesCommuting(pos3, dir, base = base3)
    }
  }

  test("x117 OCC: a positional update CAS-refuses when anything interleaves; DELETE DV honors expected") {
    val dir = freshDir()
    Snapshots.commit(Seq(("a", 1L), ("b", 2L)).toDF("k", "v"), dir) // v1
    val m = Snapshots.readResolvedPos(spark, dir).filter(col("k") === "a")
    val positions = m.select(
      col(Snapshots.PosFileCol), col(Snapshots.PosIdxCol))
    val images = m.select(col("k"), lit(99L).as("v"))
    // an append lands between the update's base read and its publish:
    // without the CAS the update's append would chain `latest` through
    // its staged DV to the OLD base and the interleaved rows would
    // silently vanish — the lost-update anomaly. It must raise.
    Snapshots.commitAppend(Seq(("c", 3L)).toDF("k", "v"), dir, base = 1)
    intercept[graft.sources.ConcurrentCommitException] {
      Snapshots.commitPositionUpdate(dir, positions, images, base = 1)
    }
    assert(Snapshots.readResolved(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1))).sorted.toSeq ==
      Seq(("a", 1L), ("b", 2L), ("c", 3L)),
      "the interleaved append's rows survive; the refused update landed nothing")
    // commitDeletes' expected CAS: same interleave, same refusal
    intercept[graft.sources.ConcurrentCommitException] {
      Snapshots.commitDeletes(Seq(Tuple1("b")).toDF("k"), dir, base = 1,
        expected = Some(1))
    }
    // re-planned at the new head, both verbs land
    val head = Snapshots.versions(spark, dir).last
    val m2 = Snapshots.readResolvedPos(spark, dir).filter(col("k") === "a")
    Snapshots.commitPositionUpdate(dir,
      m2.select(col(Snapshots.PosFileCol), col(Snapshots.PosIdxCol)),
      m2.select(col("k"), lit(99L).as("v")), base = head)
    assert(Snapshots.readResolved(spark, dir).filter(col("k") === "a")
      .head().getLong(1) == 99L)
  }

  test("purgeKeys refuses a log holding position deletes (their addresses would dangle)") {
    val dir = freshDir()
    Snapshots.commit(Seq(("a", 1L), ("b", 2L), ("c", 3L)).toDF("k", "v"), dir)
    Snapshots.commitPositionDeletes(
      Snapshots.positionsOf(spark, dir, 1, col("k") === "b"), dir, base = 1)
    // the purge rewrite renames every data file and shifts row_index
    // values — the recorded (file,pos) delete would silently stop
    // excluding row b (an erasure REGRESSION). Refuse loudly.
    val e = intercept[IllegalArgumentException] {
      Snapshots.purgeKeys(spark, dir, Seq(Tuple1("c")).toDF("k"))
    }
    assert(e.getMessage.contains("position-delete"))
    assert(Snapshots.readResolved(spark, dir).collect()
      .map(_.getString(0)).sorted.toSeq == Seq("a", "c"),
      "the refused purge changed nothing; the position delete still serves")
  }

  test("x118: the position-aware feed serves staged D halves, pre-image values, and maintenance silence") {
    val dir = freshDir()
    Snapshots.commit(Seq(("a", 1L), ("a", 1L), ("b", 2L)).toDF("k", "v"), dir) // v1
    // positional update of ONE of the two identical 'a' rows
    val m = Snapshots.readResolvedPos(spark, dir).filter(col("k") === "a")
      .orderBy(col(Snapshots.PosFileCol), col(Snapshots.PosIdxCol)).limit(1)
    Snapshots.commitPositionUpdate(dir,
      m.select(col(Snapshots.PosFileCol), col(Snapshots.PosIdxCol)),
      m.select(col("k"), lit(99L).as("v")), base = 1) // staged v2 + publish v3
    // the KEYED feed's blind spot: v3 feeds only the I half
    assert(Snapshots.stepChanges(spark, dir, 3, Seq("k", "v")).collect()
      .map(_.getString(0)).toSeq == Seq("I"),
      "stepChanges cannot see the staged D half — x117's documented caveat")
    // the POSITION-AWARE feed serves both halves: the D row is the
    // PRE-IMAGE (values + address), the I row the new image
    val step = Snapshots.stepChangesPos(spark, dir, 3)
      .collect().map(r => (r.getString(0), r.getString(3), r.getLong(4)))
      .sorted.toSeq
    assert(step == Seq(("D", "a", 1L), ("I", "a", 99L)),
      "one D pre-image + one I image — exactly the positional update")
    // a published position delete feeds its D pre-images directly
    val pd = Snapshots.positionsOf(spark, dir, 3, col("k") === "b")
    val v4 = Snapshots.commitPositionDeletes(pd, dir, base = 3)
    assert(Snapshots.stepChangesPos(spark, dir, v4).collect()
      .map(r => (r.getString(0), r.getString(3), r.getLong(4))).toSeq ==
      Seq(("D", "b", 2L)))
    // maintenance feeds NOTHING: compact the head run... needs 2+
    Snapshots.commitPositionDeletes(
      Snapshots.positionsOf(spark, dir, v4, col("v") === 99L), dir, base = v4)
    val v6 = Snapshots.compactPositionDeletes(spark, dir)
    assert(Snapshots.stepChangesPos(spark, dir, v6).isEmpty,
      "a dataChange=false compaction must never reach position-aware consumers")
    // kinds without stable positions raise
    val dir2 = freshDir()
    Snapshots.commit(Seq(("x", 1L)).toDF("k", "v"), dir2)
    Snapshots.commitDeletes(Seq(Tuple1("x")).toDF("k"), dir2, base = 1)
    intercept[RuntimeException] {
      Snapshots.stepChangesPos(spark, dir2, 2).count()
    }
    // replica prefix equality: replaying every published step equals
    // the source's resolved state
    val rep = Snapshots.versions(spark, dir).foldLeft(
      Snapshots.stepChangesPos(spark, dir, 1).drop("op").limit(0)) { (cur, v) =>
      val step = Snapshots.stepChangesPos(spark, dir, v)
      cur.join(step.filter(col("op") === "D")
          .select(col(Snapshots.PosFileCol), col(Snapshots.PosIdxCol)),
          Seq(Snapshots.PosFileCol, Snapshots.PosIdxCol), "left_anti")
        .unionByName(step.filter(col("op") === "I").drop("op"))
    }.drop(Snapshots.PosFileCol, Snapshots.PosIdxCol)
    val truth = Snapshots.readResolved(spark, dir)
    assert(rep.exceptAll(truth).isEmpty && truth.exceptAll(rep).isEmpty,
      "the position-aware feed alone reconstructs the resolved state")
  }

  test("pinnedReadOrRaise: a vacuumed pin refuses loudly instead of failing in the scan") {
    val dir = freshDir()
    Snapshots.commit(Seq((1L, "a")).toDF("id", "v"), dir)
    Snapshots.commit(Seq((2L, "b")).toDF("id", "v"), dir)
    Snapshots.commit(Seq((3L, "c")).toDF("id", "v"), dir)
    assert(Snapshots.pinnedReadOrRaise(spark, dir, 1).head().getLong(0) == 1L)
    Snapshots.vacuum(spark, dir, keepLast = 1)
    val e = intercept[graft.sources.ConcurrentCommitException] {
      Snapshots.pinnedReadOrRaise(spark, dir, 1)
    }
    assert(e.getMessage.contains("retention/vacuum"))
  }

  test("x119: defaults follow renames, die with drops, and refuse dangling references") {
    val dir = freshDir()
    Snapshots.commit(Seq((1L, 10L), (2L, 20L)).toDF("id", "qty"), dir)
    // a default referencing a missing column refuses at DECLARATION
    intercept[IllegalArgumentException] {
      Snapshots.alterAddColumnDefault(spark, dir, "bad",
        org.apache.spark.sql.types.LongType, "nope + 1")
    }
    Snapshots.alterAddColumnDefault(spark, dir, "bucket",
      org.apache.spark.sql.types.LongType, "qty % 7")
    assert(Snapshots.columnDefaults(spark, dir) == Map("bucket" -> "qty % 7"))
    // historic rows SERVE the generated expression, not nulls
    assert(Snapshots.readResolved(spark, dir).orderBy("id").collect()
      .map(_.getLong(2)).toSeq == Seq(3L, 6L))
    // the default follows its column through a rename
    Snapshots.alterRenameColumn(spark, dir, "bucket", "b7")
    assert(Snapshots.columnDefaults(spark, dir) == Map("b7" -> "qty % 7"))
    // an insert omitting the defaulted column fills it at write
    val filled = Snapshots.applyWriteDefaults(spark, dir,
      Seq((3L, 14L)).toDF("id", "qty"))
    assert(filled.columns.toSeq == Seq("id", "qty", "b7") &&
      filled.head().getLong(2) == 0L)
    // …and omitting a column with NO default still refuses
    intercept[IllegalArgumentException] {
      Snapshots.applyWriteDefaults(spark, dir, Seq(Tuple1(4L)).toDF("id"))
    }
    // the default dies with its column's drop — a later re-added
    // same-named column inherits nothing
    Snapshots.alterDropColumn(spark, dir, "b7")
    assert(Snapshots.columnDefaults(spark, dir).isEmpty)
    Snapshots.alterAddColumn(spark, dir, "b7",
      org.apache.spark.sql.types.LongType)
    assert(Snapshots.columnDefaults(spark, dir).isEmpty,
      "a re-added column must not inherit the dropped column's default")
    assert(Snapshots.readResolved(spark, dir).filter(col("b7").isNull)
      .count() == 2, "the plain re-add serves typed nulls again")
  }

  test("x121: holds pin chains transitively, tags are promises, release frees") {
    val dir = freshDir()
    Snapshots.commit(Seq((1L, "a")).toDF("id", "v"), dir)          // v1
    Snapshots.commitAppend(Seq((2L, "b")).toDF("id", "v"), dir, 1) // v2
    Snapshots.commit(Seq((3L, "c")).toDF("id", "v"), dir)          // v3
    // holding the append head pins its BASE CHAIN too (the closure):
    // a held logical version must stay resolvable, not just listed
    Snapshots.holdVersion(spark, dir, 2, "bak")
    assert(Snapshots.vacuum(spark, dir, keepLast = 1).isEmpty,
      "v2 held, v1 chained under it, v3 is the kept head — nothing drops")
    assert(Snapshots.readResolved(spark, dir, Some(2)).count() == 2,
      "the held chain still resolves")
    // a tag is a promise: re-holding the SAME version is idempotent,
    // a DIFFERENT version under the same tag refuses loudly
    Snapshots.holdVersion(spark, dir, 2, "bak")
    intercept[IllegalArgumentException] {
      Snapshots.holdVersion(spark, dir, 3, "bak")
    }
    // holds survive the AGE path too (shared keep-set): a horizon in
    // the far future would otherwise collect everything but the head
    Snapshots.vacuumOlderThan(spark, dir,
      horizonMillis = System.currentTimeMillis() + 3600 * 1000L)
    assert(Snapshots.versions(spark, dir) == Seq(1, 2, 3),
      "an age sweep must not collect a held chain")
    Snapshots.releaseHold(spark, dir, "bak")
    assert(Snapshots.vacuum(spark, dir, keepLast = 1) == Seq(1, 2),
      "released, the chain collects normally")
    // holding an unknown version refuses
    intercept[IllegalArgumentException] {
      Snapshots.holdVersion(spark, dir, 99, "nope")
    }
  }

  test("x111 OCC at fleet width: racing position deletes vs a layout re-land never silently no-op") {
    // the round-17 commute fix under an ACTUAL race, not a sequenced
    // one: seven disjoint-file position deletes and one OPTIMIZE
    // layout re-land all race at one base. The invariant is the one
    // the old matrix broke — a delete that RETURNS deleted its rows
    // (rebasing past the layout would have landed a version whose
    // anti-join matches nothing), and a delete that RAISES left its
    // rows untouched. Whichever interleaving the scheduler picks,
    // accounting must close exactly.
    val dir = freshDir()
    Snapshots.commit((0L until 10L).map(i => (i, "v0")).toDF("n", "v"), dir)
    for (b <- 1 until 8)
      Snapshots.commitAppend(
        (b * 10L until b * 10L + 10L).map(i => (i, s"v$b")).toDF("n", "v"),
        dir, base = b)
    val base = Snapshots.versions(spark, dir).last
    // every racer's outcome (racer 7 is the layout re-land): Right(true)
    // returned, Right(false) raised ConcurrentCommitException, Left any
    // other throwable — a racer that died of something else must fail
    // the test by name, never read as "raised"
    val outcome = new java.util.concurrent.ConcurrentHashMap[Int, Either[Throwable, Boolean]]()
    def racer(k: Int)(commit: => Unit): Thread = new Thread(() => {
      outcome.put(k, try { commit; Right(true) } catch {
        case _: graft.sources.ConcurrentCommitException => Right(false)
        case t: Throwable => Left(t)
      }); ()
    })
    val deleters = (0 until 7).map { k =>
      val pos = Snapshots.positionsOf(spark, dir, base,
        col("n") % 10 < 3 &&
          col(Snapshots.PosFileCol).startsWith(s"v${k + 1}-"))
      racer(k) {
        Snapshots.commitPositionDeletesCommuting(pos, dir, base,
          maxAttempts = 50)
      }
    }
    val optimizer = racer(7) {
      Snapshots.commitLayout(
        Snapshots.readResolved(spark, dir, Some(base)), dir, base = base)
    }
    val threads = deleters :+ optimizer
    threads.foreach(_.start()); threads.foreach(_.join())
    // the commit log, one entry a line, for every assertion message
    def log: String = {
      import scala.jdk.CollectionConverters._
      val m = new com.fasterxml.jackson.databind.ObjectMapper()
      val entries = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
        .iterator().asScala.map(_.getFileName.toString)
        .filter(_.matches("_entry_v\\d+\\.json")).map { f =>
          m.readTree(java.nio.file.Files.readString(java.nio.file.Paths.get(dir, f)))
        }.toSeq.sortBy(_.get("version").asInt())
      def field(n: com.fasterxml.jackson.databind.JsonNode, k: String) =
        Option(n.get(k)).fold("-")(_.toString)
      entries.map(n => Seq("version", "kind", "base", "dataChange", "pfiles")
        .map(k => s"$k=${field(n, k)}").mkString(" "))
        .mkString("\ncommit log:\n  ", "\n  ", "")
    }
    val outcomes = (0 to 7).map(k => k -> Option(outcome.get(k)))
    val died = outcomes.collect {
      case (k, Some(Left(t))) => s"racer $k threw ${graft.obs.Failure.describe(t)}"
      case (k, None) => s"racer $k recorded no outcome"
    }
    assert(died.isEmpty, died.mkString("; ") + log)
    val landed = outcomes.collect { case (k, Some(Right(ok))) => k -> ok }.toMap
    val layoutLanded = landed(7)
    val rows = Snapshots.readResolved(spark, dir).collect()
      .map(_.getLong(0)).toSet
    (0 until 7).foreach { k =>
      // writer k addresses the files of version k + 1: rows k·10 .. k·10+9
      val mine = (k * 10L until k * 10L + 3L).toSet
      if (landed(k))
        assert((rows intersect mine).isEmpty,
          s"writer $k returned success — its rows must be GONE (no silent no-op)" +
            s", still visible: ${(rows intersect mine).toSeq.sorted}$log")
      else
        assert(mine.subsetOf(rows),
          s"writer $k raised — its rows must be untouched$log")
    }
    val nLanded = (0 until 7).count(landed)
    assert(rows.size == 80 - 3 * nLanded,
      s"accounting must close exactly: $nLanded landed deletes, " +
        s"layoutLanded=$layoutLanded, ${rows.size} rows$log")
    assert(nLanded >= 1 || layoutLanded,
      s"some racer must make progress (no livelock)$log")
  }

  test("reading an empty or unknown table fails loudly") {
    val dir = freshDir()
    intercept[IllegalArgumentException] { Snapshots.read(spark, dir) }
    Snapshots.commit(Seq((1L, "a")).toDF("id", "v"), dir)
    intercept[IllegalArgumentException] { Snapshots.read(spark, dir, Some(7)) }
    Snapshots.drop(spark, dir)
    assert(Snapshots.versions(spark, dir).isEmpty)
  }
}
