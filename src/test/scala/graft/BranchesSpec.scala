package graft

import graft.sources.{Branches, Snapshots}

/** Named-ref (x96) contracts: branch writes are invisible to main
  * until fast-forward, tags are immutable pins, the ref advance is a
  * CAS (a squatted seq file makes the writer lose loudly), and the
  * fast-forward divergence guard refuses a moved main. */
class BranchesSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(): String =
    java.nio.file.Files.createTempDirectory("branch").toString + "/t"

  test("branch writes stay invisible to latest until fast-forward") {
    val dir = freshDir()
    Snapshots.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), dir)
    Branches.create(spark, dir, "dev", 1)
    Branches.commitTo(Seq((3L, "c")).toDF("id", "v"), dir, "dev")
    Branches.commitTo(Seq((4L, "d")).toDF("id", "v"), dir, "dev")
    assert(Snapshots.versions(spark, dir) == Seq(1), "main must not move")
    assert(Snapshots.read(spark, dir).count() == 2)
    assert(Branches.read(spark, dir, "dev").count() == 4)
    assert(Branches.head(spark, dir, "dev") == 3)
    val published = Branches.fastForward(spark, dir, "dev")
    assert(published == Seq(2, 3))
    assert(Snapshots.versions(spark, dir) == Seq(1, 2, 3))
    assert(Snapshots.readResolved(spark, dir).orderBy("id").collect()
      .map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L, 4L))
  }

  test("tags are immutable pins; fast-forward of a tag raises") {
    val dir = freshDir()
    Snapshots.commit(Seq((1L, "a")).toDF("id", "v"), dir)
    Snapshots.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), dir)
    Branches.createTag(spark, dir, "audit", 1)
    assert(Branches.read(spark, dir, "audit").count() == 1)
    intercept[Branches.RefConflictException] {
      Branches.commitTo(Seq((9L, "x")).toDF("id", "v"), dir, "audit")
    }
    intercept[Branches.RefConflictException] {
      Branches.fastForward(spark, dir, "audit")
    }
    assert(Branches.head(spark, dir, "audit") == 1)
  }

  test("divergence guard: a branch forked below a moved main cannot fast-forward") {
    val dir = freshDir()
    Snapshots.commit(Seq((1L, "a")).toDF("id", "v"), dir)
    Branches.create(spark, dir, "dev", 1)
    Branches.commitTo(Seq((2L, "b")).toDF("id", "v"), dir, "dev")
    Snapshots.commit(Seq((1L, "a"), (9L, "z")).toDF("id", "v"), dir) // main moves
    intercept[Branches.RefConflictException] {
      Branches.fastForward(spark, dir, "dev")
    }
    // main's state is untouched by the refused merge
    assert(Snapshots.read(spark, dir).count() == 2)
  }

  test("a concurrent ref advance is observed: the next write chains on it") {
    val dir = freshDir()
    Snapshots.commit(Seq((1L, "a")).toDF("id", "v"), dir)
    Branches.create(spark, dir, "dev", 1)
    // another writer's advance lands first (seq 2, still at v1 —
    // e.g. a retried advance whose stage was reused)
    val refDir = java.nio.file.Paths.get(dir, "_refs", "dev")
    java.nio.file.Files.writeString(refDir.resolve("_ref_2.json"),
      """{"version":1}""")
    // this writer re-reads the ref, stages on ITS head, claims seq 3
    val v = Branches.commitTo(Seq((2L, "b")).toDF("id", "v"), dir, "dev")
    assert(Branches.head(spark, dir, "dev") == v)
    assert(Branches.read(spark, dir, "dev").count() == 2)
    // main still unmoved — the advance was branch-only
    assert(Snapshots.versions(spark, dir) == Seq(1))
  }

  test("fast-forward re-checks CHECK constraints over the chain before any flip") {
    val dir = freshDir()
    Snapshots.commit(Seq((1L, 10.0)).toDF("id", "bal"), dir)
    Snapshots.addCheckConstraint(spark, dir, "non_negative", "bal >= 0") // v2
    Branches.create(spark, dir, "ingest", 2)
    // a raw commitTo never gates — the stage lands a violating row
    val staged = Branches.commitTo(Seq((3L, -5.0)).toDF("id", "bal"),
      dir, "ingest")
    intercept[graft.sources.ConstraintViolationException] {
      Branches.fastForward(spark, dir, "ingest")
    }
    // nothing of the chain published: the gate runs before the first flip
    assert(!Snapshots.versions(spark, dir).contains(staged))
    assert(Snapshots.readResolved(spark, dir).count() == 1)
    // a compliant branch still merges
    Branches.create(spark, dir, "clean", 2)
    Branches.commitTo(Seq((4L, 7.0)).toDF("id", "bal"), dir, "clean")
    Branches.fastForward(spark, dir, "clean")
    assert(Snapshots.readResolved(spark, dir).count() == 2)
  }

  test("duplicate ref creation raises; list and drop round-trip") {
    val dir = freshDir()
    Snapshots.commit(Seq((1L, "a")).toDF("id", "v"), dir)
    Branches.create(spark, dir, "dev", 1)
    intercept[Branches.RefConflictException] {
      Branches.create(spark, dir, "dev", 1)
    }
    Branches.createTag(spark, dir, "pin", 1)
    assert(Branches.list(spark, dir) ==
      Seq(("dev", 1, false), ("pin", 1, true)))
    Branches.drop(spark, dir, "dev")
    assert(Branches.list(spark, dir) == Seq(("pin", 1, true)))
  }
}
