package graft

import graft.util.SqlRunner

class SqlRunnerSpec extends SparkSpec {

  test("splits on semicolons, strips comment lines and blanks") {
    val script =
      """-- header comment
        |SELECT 1 AS a;
        |
        |SELECT 2 AS b;
        |""".stripMargin
    val stmts = SqlRunner.splitStatements(script)
    assert(stmts == Seq("SELECT 1 AS a", "SELECT 2 AS b"))
  }

  test("runs statements sequentially against the session") {
    Tables.registerAll(spark, Sf0001)
    val out = SqlRunner.runScript(spark,
      "SELECT count(*) AS n FROM region; SELECT count(DISTINCT r_name) AS m FROM region")
    assert(out.map(_.head.getLong(0)).toSeq == Seq(5L, 5L))
  }

  test("snapshot_at binds pinned versions into pure SQL text") {
    import spark.implicits._
    import graft.sources.Snapshots
    val dir = java.nio.file.Files.createTempDirectory("sqlsnap").toString + "/t"
    Snapshots.commit(Seq((1L, 10L), (2L, 20L)).toDF("id", "n"), dir)
    Snapshots.commit(Seq((1L, 11L), (2L, 20L), (3L, 30L)).toDF("id", "n"), dir)
    val out = SqlRunner.runScriptWithSnapshots(spark,
      s"""-- two versions of ONE table, side by side, from SQL text
         |SELECT b.id, a.n AS n_v1, b.n AS n_v2
         |FROM snapshot_at('$dir', 2) b
         |LEFT JOIN snapshot_at('$dir', 1) a USING (id)
         |ORDER BY b.id""".stripMargin).last
      .collect().map(r => (r.getLong(0), Option(r.get(1)), r.getLong(2))).toSeq
    assert(out == Seq((1L, Some(10L), 11L), (2L, Some(20L), 20L), (3L, None, 30L)))
  }

  test("repeated snapshot_at references collapse to one deterministic view") {
    import spark.implicits._
    import graft.sources.Snapshots
    val dir = java.nio.file.Files.createTempDirectory("sqlsnap").toString + "/t"
    Snapshots.commit(Seq((1L, 5L)).toDF("id", "n"), dir)
    val out = SqlRunner.runScriptWithSnapshots(spark,
      s"""SELECT a.n + b.n AS s
         |FROM snapshot_at('$dir', 1) a CROSS JOIN snapshot_at('$dir', 1) b""".stripMargin)
      .last.head.getLong(0)
    assert(out == 10L)
  }

  test("table_changes binds the per-version feed into pure SQL text") {
    import spark.implicits._
    import graft.sources.Snapshots
    val dir = java.nio.file.Files.createTempDirectory("sqlsnap").toString + "/t"
    Snapshots.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), dir)
    Snapshots.commitDeletes(Seq(2L).toDF("id"), dir, base = 1)
    val out = SqlRunner.runScriptWithSnapshots(spark,
      s"""SELECT op, id FROM table_changes('$dir', 1, 'id')
         |UNION ALL SELECT op, id FROM table_changes('$dir', 2, 'id')
         |ORDER BY id, op""".stripMargin).last
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(out == Seq(("I", 1L), ("D", 2L), ("I", 2L)))
  }

  test("snapshot_at_time binds the instant's resolved version; guards fire at bind time") {
    import spark.implicits._
    import graft.sources.Snapshots
    val dir = java.nio.file.Files.createTempDirectory("sqlsnap").toString + "/t"
    Snapshots.commitAt(Seq((1L, "v1")).toDF("id", "v"), dir, 1000L)
    Snapshots.commitAt(Seq((1L, "v2")).toDF("id", "v"), dir, 2000L)
    val out = SqlRunner.runScriptWithSnapshots(spark,
      s"""SELECT a.v, b.v FROM snapshot_at_time('$dir', 1500) a
         |CROSS JOIN snapshot_at_time('$dir', 2500) b""".stripMargin)
      .last.collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(out == Seq(("v1", "v2")))
    // an instant before the first commit fails at BIND time
    intercept[IllegalArgumentException] {
      SqlRunner.runScriptWithSnapshots(spark,
        s"SELECT * FROM snapshot_at_time('$dir', 500)")
    }
  }

  test("hidden_table binds the layout-hiding view; raw-column WHERE prunes") {
    import spark.implicits._
    import graft.plans.{HiddenPartitioning => HP}
    val dir = java.nio.file.Files.createTempDirectory("sqlhp").toString + "/t"
    val rows = (0 until 120).map(i =>
      (i.toLong, java.sql.Timestamp.valueOf(f"1996-${1 + i % 12}%02d-10 00:00:00")))
    HP.write(spark, rows.toDF("id", "ts"), dir, Seq(HP.Month("ts")))
    HP.remove(dir) // the script must recover the spec from the sidecar
    val q = SqlRunner.runScriptWithSnapshots(spark,
      s"""SELECT id FROM hidden_table('$dir')
         |WHERE ts = TIMESTAMP '1996-04-10 00:00:00' ORDER BY id""".stripMargin).last
    assert(HP.partitionsScanned(q) <= 1, "month equality must prune to one dir")
    assert(q.as[Long].collect().toSeq == (0 until 120).filter(_ % 12 == 3).map(_.toLong))
    HP.remove(dir)
  }

  test("an unknown version fails at bind time, before any SQL runs") {
    import spark.implicits._
    import graft.sources.Snapshots
    val dir = java.nio.file.Files.createTempDirectory("sqlsnap").toString + "/t"
    Snapshots.commit(Seq((1L, 5L)).toDF("id", "n"), dir)
    intercept[IllegalArgumentException] {
      SqlRunner.runScriptWithSnapshots(spark,
        s"SELECT * FROM snapshot_at('$dir', 9)")
    }
  }

  test("x81: RESTORE/VACUUM statements — rollback is metadata-only, retention honors the chain") {
    import spark.implicits._
    import graft.sources.Snapshots
    val dir = java.nio.file.Files.createTempDirectory("sqlmx").toString + "/t"
    Snapshots.commit(Seq((1L, "a")).toDF("k", "v"), dir)
    Snapshots.commit(Seq((2L, "b")).toDF("k", "v"), dir)
    val restored = SqlRunner.runScriptWithSnapshots(spark,
      s"RESTORE TABLE '$dir' TO VERSION 1").last.collect().head.getInt(0)
    assert(restored == 3)
    assert(Snapshots.fileSignature(spark, dir, 3).isEmpty,
      "a restore lands zero data files")
    val n = SqlRunner.runScriptWithSnapshots(spark,
      s"VACUUM '$dir' KEEP 1").last.collect().head.getInt(0)
    assert(n == 1, "v2 is outside the restored head's chain — dropped")
    assert(Snapshots.read(spark, dir).collect().map(_.getLong(0)).toSeq == Seq(1L),
      "latest must still serve v1's content through the restore chain")
  }

  test("x80: auto_stats binds the hook's summary; staleness rides the view") {
    import spark.implicits._
    import graft.sources.Snapshots
    import graft.ops.AutoAnalyze
    val dir = java.nio.file.Files.createTempDirectory("sqlas").toString + "/t"
    // unprofiled dir: the binding fails loudly at bind time
    intercept[IllegalArgumentException] {
      SqlRunner.runScriptWithSnapshots(spark,
        s"SELECT * FROM auto_stats('$dir')")
    }
    AutoAnalyze.enable(dir)
    Snapshots.commit(Seq((1L, 2.0), (2L, 4.0)).toDF("k", "v"), dir)
    val rows = SqlRunner.runScriptWithSnapshots(spark,
      s"""SELECT col_name, n_rows, min_num, max_num, fresh
         |FROM auto_stats('$dir') ORDER BY col_name""".stripMargin)
      .last.collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("k", "v"))
    assert(rows.forall(r => r.getLong(1) == 2L && r.getBoolean(4)))
    assert(rows.find(_.getString(0) == "v").get.getDouble(3) == 4.0)
    // an unfoldable delete flips the served verdict
    Snapshots.commitDeletes(Seq(Tuple1(1L)).toDF("k"), dir, base = 1)
    val stale = SqlRunner.runScriptWithSnapshots(spark,
      s"SELECT fresh FROM auto_stats('$dir') LIMIT 1").last.collect()
    assert(!stale.head.getBoolean(0), "the view must serve the stale verdict")
    AutoAnalyze.dropState(spark, dir)
  }

  test("x82: MERGE INTO statement — four arms, OCC commit, equals the Scala API") {
    import spark.implicits._
    import graft.sources.Snapshots
    val dir = java.nio.file.Files.createTempDirectory("sqldml").toString + "/t"
    val target = Seq((1L, "keep", 50.0), (2L, "close", 10.0),
      (3L, "update", 40.0), (4L, "purge", -5.0)).toDF("k", "name", "bal")
    Snapshots.commit(target, dir)
    // source: k=2 restates low (matched delete), k=3 restates high
    // (matched update), k=5 new high (insert), k=6 new low (insert
    // condition rejects); k=1/k=4 unmatched-by-source (4 negative →
    // by-source delete)
    Seq((2L, "close", 15.0), (3L, "update", 99.0),
      (5L, "new", 80.0), (6L, "reject", 1.0)).toDF("k", "name", "bal")
      .createOrReplaceTempView("dml_src")
    val v = SqlRunner.runScriptWithSnapshots(spark,
      s"""MERGE INTO '$dir' USING dml_src ON k
         |WHEN MATCHED AND s.bal < 30.0 THEN DELETE
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED AND s.bal >= 30.0 THEN INSERT *
         |WHEN NOT MATCHED BY SOURCE AND t.bal < 0 THEN DELETE""".stripMargin)
      .last.collect().head.getInt(0)
    assert(v == 2, "the merge lands as one new version")
    val got = Snapshots.read(spark, dir, Some(2))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .sortBy(_._1).toSeq
    assert(got == Seq((1L, "keep", 50.0), (3L, "update", 99.0),
      (5L, "new", 80.0)))
    // the statement route must equal ops.Merge.mergeInto verbatim
    val api = graft.ops.Merge.mergeInto(target,
      spark.table("dml_src"), "k",
      matchedDelete = (_, sr) => sr("bal") < 30.0,
      notMatchedInsert = sr => sr("bal") >= 30.0,
      bySourceDelete = t => t("bal") < 0)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .sortBy(_._1).toSeq
    assert(got == api)
  }

  test("x82: a MERGE with no parseable WHEN clause fails loudly") {
    import spark.implicits._
    import graft.sources.Snapshots
    val dir = java.nio.file.Files.createTempDirectory("sqldml").toString + "/t"
    Snapshots.commit(Seq((1L, 1.0)).toDF("k", "bal"), dir)
    Seq((1L, 2.0)).toDF("k", "bal").createOrReplaceTempView("dml_src2")
    intercept[RuntimeException] {
      SqlRunner.runScriptWithSnapshots(spark,
        s"MERGE INTO '$dir' USING dml_src2 ON k WHEN SOMETHING ELSE")
    }
  }

  test("x83: DELETE statement routes through deletion vectors — base files untouched") {
    import spark.implicits._
    import graft.sources.Snapshots
    val dir = java.nio.file.Files.createTempDirectory("sqldml").toString + "/t"
    Snapshots.commit((1L to 20L).map(i => (i, i % 3 == 0L)).toDF("k", "flag"), dir)
    val sig = Snapshots.fileSignature(spark, dir, 1)
    val v = SqlRunner.runScriptWithSnapshots(spark,
      s"DELETE FROM '$dir' WHERE k % 3 = 0").last.collect().head.getInt(0)
    assert(v == 2)
    assert(Snapshots.fileSignature(spark, dir, 1) == sig,
      "a DELETE must never rewrite the base's files (merge-on-read)")
    // snapshot_resolved serves the post-delete state from SQL text
    val kept = SqlRunner.runScriptWithSnapshots(spark,
      s"SELECT k FROM snapshot_resolved('$dir', 2) ORDER BY k").last
      .as[Long].collect().toSeq
    assert(kept == (1L to 20L).filterNot(_ % 3 == 0))
    // snapshot_at stays the audit view: the DV version's OWN rows
    // are the deleted keys
    val dvRows = SqlRunner.runScriptWithSnapshots(spark,
      s"SELECT k FROM snapshot_at('$dir', 2) ORDER BY k").last
      .as[Long].collect().toSeq
    assert(dvRows == (1L to 20L).filter(_ % 3 == 0))
  }

  test("x84: UPDATE statement is atomic — staged DV + append publish, multi-SET") {
    import spark.implicits._
    import graft.sources.Snapshots
    val dir = java.nio.file.Files.createTempDirectory("sqldml").toString + "/t"
    Snapshots.commit(Seq((1L, "a", 10.0), (2L, "b", -3.0), (3L, "c", -1.0))
      .toDF("k", "name", "bal"), dir)
    val sig = Snapshots.fileSignature(spark, dir, 1)
    val v = SqlRunner.runScriptWithSnapshots(spark,
      s"""UPDATE '$dir' SET bal = bal + 100.0, name = concat(name, '!')
         |WHERE bal < 0""".stripMargin).last.collect().head.getInt(0)
    assert(v == 3, "staged DV owns v2; the published append is v3")
    assert(Snapshots.versions(spark, dir) == Seq(1, 3),
      "the staged DV never publishes — the append is the commit point")
    assert(Snapshots.fileSignature(spark, dir, 1) == sig)
    val got = Snapshots.readResolved(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .sortBy(_._1).toSeq
    assert(got == Seq((1L, "a", 10.0), (2L, "b!", 97.0), (3L, "c!", 99.0)))
  }

  test("MOR DML at fleet width: 8 racing INSERT/DELETE/UPDATE writers, no lost update") {
    // The round-16 gap: runDelete/runUpdate published against a base
    // read with NO CAS, so an append interleaving between a verb's
    // base read and its publish was silently orphaned from `latest`
    // (the verb's entry chained through its DV to the OLD base).
    // Eight writers race at one initial state — four INSERT INTO,
    // two DELETE, two UPDATE, every hit set disjoint — and the final
    // resolved state must equal the serial result exactly: any lost
    // update surfaces as a vanished insert or a missed/doubled
    // update. Per the round-15 lesson this runs at fleet width, not 2.
    import spark.implicits._
    import graft.sources.Snapshots
    val dir = java.nio.file.Files.createTempDirectory("sqldml").toString + "/t"
    Snapshots.commit((1L to 80L).map(k => (k, k.toDouble)).toDF("k", "bal"), dir)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val stmts = Seq(
      s"INSERT INTO '$dir' SELECT id AS k, CAST(id AS DOUBLE) AS bal FROM range(1000, 1005)",
      s"INSERT INTO '$dir' SELECT id AS k, CAST(id AS DOUBLE) AS bal FROM range(1010, 1015)",
      s"INSERT INTO '$dir' SELECT id AS k, CAST(id AS DOUBLE) AS bal FROM range(1020, 1025)",
      s"INSERT INTO '$dir' SELECT id AS k, CAST(id AS DOUBLE) AS bal FROM range(1030, 1035)",
      s"DELETE FROM '$dir' WHERE k >= 1 AND k <= 10",
      s"DELETE FROM '$dir' WHERE k >= 11 AND k <= 20",
      s"UPDATE '$dir' SET bal = bal + 1000.0 WHERE k >= 21 AND k <= 30",
      s"UPDATE '$dir' SET bal = bal + 1000.0 WHERE k >= 31 AND k <= 40")
    val threads = stmts.map { st =>
      new Thread(() =>
        try SqlRunner.runScriptWithSnapshots(spark, st)
        catch { case e: Throwable => errors.add(e) })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errors.isEmpty, s"every writer must land: ${errors.toArray.toSeq}")
    val got = Snapshots.readResolved(spark, dir).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).sorted.toSeq
    val want = ((21L to 40L).map(k => (k, k + 1000.0)) ++
      (41L to 80L).map(k => (k, k.toDouble)) ++
      Seq(1000L, 1010L, 1020L, 1030L).flatMap(b =>
        (b until b + 5).map(k => (k, k.toDouble)))).sorted
    assert(got == want,
      "serial-equivalent state: deletes gone, updates applied exactly " +
        "once, every racing insert's rows present — no lost update")
  }

  test("x122/x123: HOLD/RELEASE statements and the position-feed binding route through the operators") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    import graft.sources.Snapshots
    val dir = java.nio.file.Files.createTempDirectory("sqlhold").toString + "/t"
    Snapshots.commit(Seq((1L, "a")).toDF("id", "v"), dir)
    Snapshots.commit(Seq((2L, "b")).toDF("id", "v"), dir)
    // HOLD pins against the VACUUM statement; table_holds serves it
    SqlRunner.runScriptWithSnapshots(spark,
      s"HOLD TABLE '$dir' VERSION 1 AS bak; VACUUM '$dir' KEEP 1")
    assert(Snapshots.versions(spark, dir) == Seq(1, 2))
    val held = SqlRunner.runScriptWithSnapshots(spark,
      s"SELECT tag, version FROM table_holds('$dir')").last
      .collect().map(r => (r.getString(0), r.getInt(1))).toSeq
    assert(held == Seq(("bak", 1)))
    // holding a missing version refuses from SQL too
    intercept[IllegalArgumentException] {
      SqlRunner.runScriptWithSnapshots(spark,
        s"HOLD TABLE '$dir' VERSION 9 AS x")
    }
    SqlRunner.runScriptWithSnapshots(spark,
      s"RELEASE HOLD '$dir' bak; VACUUM '$dir' KEEP 1")
    assert(Snapshots.versions(spark, dir) == Seq(2))
    // table_changes_pos serves the keyless feed from SQL text
    val pdir = java.nio.file.Files.createTempDirectory("sqlpos").toString + "/t"
    Snapshots.commit(Seq(("a", 1L), ("a", 1L)).toDF("k", "n"), pdir)
    val m = Snapshots.readResolvedPos(spark, pdir)
      .orderBy(col(Snapshots.PosFileCol), col(Snapshots.PosIdxCol)).limit(1)
    Snapshots.commitPositionUpdate(pdir,
      m.select(col(Snapshots.PosFileCol), col(Snapshots.PosIdxCol)),
      m.select(col("k"), lit(9L).as("n")), base = 1)
    val feed = SqlRunner.runScriptWithSnapshots(spark,
      s"SELECT op, n FROM table_changes_pos('$pdir', 3) ORDER BY op").last
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(feed == Seq(("D", 1L), ("I", 9L)),
      "the staged D pre-image and the I image both arrive via pure SQL")
  }

  test("splitTopLevel honors parenthesized commas in SET lists") {
    assert(SqlRunner.splitTopLevel("a = f(x, y), b = c + 1") ==
      Seq("a = f(x, y)", "b = c + 1"))
    assert(SqlRunner.splitTopLevel("a = 1") == Seq("a = 1"))
  }

  test("x87: CTAS commits v1; INSERT INTO appends; plain CREATE of an existing table refuses") {
    import graft.sources.Snapshots
    val dir = s"target/sqlrunner_ctas_${System.nanoTime()}"
    Snapshots.drop(spark, dir)
    spark.range(1, 6).toDF("id").createOrReplaceTempView("ctas_src")
    SqlRunner.runScriptWithSnapshots(spark,
      s"""CREATE TABLE '$dir' AS SELECT id FROM ctas_src WHERE id <= 3;
         |INSERT INTO '$dir' SELECT id FROM ctas_src WHERE id > 3""".stripMargin)
    assert(Snapshots.versions(spark, dir) == Seq(1, 2))
    // the append is an O(Δ) version: v2's own rows are just the delta
    assert(Snapshots.readVersionOwn(spark, dir, 2).count() == 2)
    assert(Snapshots.readResolved(spark, dir).count() == 5)
    // SQL's rule: plain CREATE of an existing table fails loudly
    assertThrows[IllegalArgumentException] {
      SqlRunner.runScriptWithSnapshots(spark,
        s"CREATE TABLE '$dir' AS SELECT id FROM ctas_src")
    }
    // OR REPLACE is history-preserving: the replacement is a full
    // version ON TOP of the log — prior states stay time-travelable
    SqlRunner.runScriptWithSnapshots(spark,
      s"CREATE OR REPLACE TABLE '$dir' AS SELECT id FROM ctas_src WHERE id = 1")
    assert(Snapshots.versions(spark, dir) == Seq(1, 2, 3))
    assert(Snapshots.readResolved(spark, dir).count() == 1)
    assert(Snapshots.readResolved(spark, dir, Some(2)).count() == 5,
      "REPLACE must not destroy the replaced state's history")
    // destroying history is the explicit DROP TABLE verb only
    SqlRunner.runScriptWithSnapshots(spark, s"DROP TABLE '$dir'")
    assert(Snapshots.versions(spark, dir).isEmpty)
    Snapshots.drop(spark, dir)
  }

  test("x92: ALTER TABLE ADD COLUMN is metadata-only; old schema stays pinned; dup add refuses") {
    import graft.sources.Snapshots
    import spark.implicits._
    val dir = s"target/sqlrunner_alter_${System.nanoTime()}"
    Snapshots.drop(spark, dir)
    Snapshots.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), dir)
    SqlRunner.runScriptWithSnapshots(spark,
      s"ALTER TABLE '$dir' ADD COLUMN score double")
    // metadata-only: zero data files, resolved rows carry typed nulls
    assert(Snapshots.fileSignature(spark, dir, 2).isEmpty)
    val resolved = Snapshots.readResolved(spark, dir)
    assert(resolved.schema.fieldNames.toSeq == Seq("id", "v", "score"))
    assert(resolved.filter($"score".isNull).count() == 2)
    // the historic pinned read serves its OWN committed schema
    assert(Snapshots.read(spark, dir, Some(1)).schema.fieldNames.toSeq ==
      Seq("id", "v"))
    // a post-alter append with the new schema chains through
    Snapshots.commitAppend(Seq((3L, "c", 0.5)).toDF("id", "v", "score"),
      dir, base = 2)
    assert(Snapshots.readResolved(spark, dir).count() == 3)
    // the alter feeds NOTHING to CDC consumers
    assert(Snapshots.stepChanges(spark, dir, 2, Seq("id")).count() == 0)
    // adding an existing column refuses loudly
    assertThrows[IllegalArgumentException] {
      SqlRunner.runScriptWithSnapshots(spark,
        s"ALTER TABLE '$dir' ADD COLUMN score double")
    }
    // ALTER inside an open transaction refuses (commits immediately)
    assertThrows[RuntimeException] {
      SqlRunner.runScriptWithSnapshots(spark,
        s"""BEGIN TRANSACTION '$dir-txn' AS 'alter_t';
           |ALTER TABLE '$dir' ADD COLUMN x int""".stripMargin)
    }
    Snapshots.drop(spark, dir)
  }

  test("x95: policy_table masks columns in place, filters rows, and refuses unknown columns") {
    import graft.sources.Snapshots
    import spark.implicits._
    val t = System.nanoTime()
    val (dataDir, polDir) = (s"target/sqlr_pol_d_$t", s"target/sqlr_pol_p_$t")
    Seq(dataDir, polDir).foreach(Snapshots.drop(spark, _))
    Snapshots.commit(Seq((1L, "Alice Smith", 123.45), (7L, "Bob Jones", -50.0),
      (8L, "Carol Wu", 250.0)).toDF("id", "name", "bal"), dataDir)
    Snapshots.commit(graft.ops.Policy.frame(spark, Seq(
      ("mask", "name", "concat(substring(name, 1, 2), '***')"),
      ("filter", null, "id % 7 <> 0"))), polDir)
    val rows = SqlRunner.runScriptWithSnapshots(spark,
      s"SELECT id, name, bal FROM policy_table('$dataDir', '$polDir') ORDER BY id")
      .last.collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(rows.toSeq == Seq((1L, "Al***", 123.45), (8L, "Ca***", 250.0)),
      "mask in place (schema preserved), filtered row gone, unmasked column intact")
    // a policy naming a column the table lacks fails at bind time
    Snapshots.commit(graft.ops.Policy.frame(spark, Seq(
      ("mask", "ghost", "1"))), polDir)
    assertThrows[IllegalArgumentException] {
      SqlRunner.runScriptWithSnapshots(spark,
        s"SELECT * FROM policy_table('$dataDir', '$polDir')")
    }
    // switching the policy is one atomic commit: v3 restores sanity
    Snapshots.commit(graft.ops.Policy.frame(spark, Seq(
      ("mask", "bal", "cast(0.0 as double)"))), polDir)
    val masked = SqlRunner.runScriptWithSnapshots(spark,
      s"SELECT bal FROM policy_table('$dataDir', '$polDir')")
      .last.collect().map(_.getDouble(0))
    assert(masked.forall(_ == 0.0))
    Seq(dataDir, polDir).foreach(Snapshots.drop(spark, _))
  }

  test("MERGE arm conditions refuse quoted literals carrying t./s. tokens") {
    import graft.sources.Snapshots
    val dir = s"target/sqlrunner_armguard_${System.nanoTime()}"
    Snapshots.drop(spark, dir)
    import spark.implicits._
    Snapshots.commit(Seq((1L, "x")).toDF("k", "c_name"), dir)
    Seq((1L, "t.co")).toDF("k", "c_name")
      .createOrReplaceTempView("armguard_src")
    val e = intercept[IllegalArgumentException] {
      SqlRunner.runScriptWithSnapshots(spark,
        s"""MERGE INTO '$dir' USING armguard_src ON k
           |WHEN MATCHED AND s.c_name = 't.co' THEN DELETE""".stripMargin)
    }
    assert(e.getMessage.contains("quoted literal"))
    // no partial commit happened
    assert(Snapshots.versions(spark, dir) == Seq(1))
    Snapshots.drop(spark, dir)
  }

  test("x90: transactional CTAS stages invisibly; explicit COMMIT decides cross-script; ROLLBACK inert") {
    import graft.sources.Snapshots
    import spark.implicits._
    val t = System.nanoTime()
    val (a, b, td) = (s"target/sqlr_txn_a_$t", s"target/sqlr_txn_b_$t",
      s"target/sqlr_txn_d_$t")
    Seq(a, b, td).foreach(Snapshots.drop(spark, _))
    (1 to 5).toDF("id").createOrReplaceTempView("txn_src_spec")
    SqlRunner.runScriptWithSnapshots(spark,
      s"""CREATE TABLE '$a' AS SELECT id FROM txn_src_spec WHERE id <= 2;
         |CREATE TABLE '$b' AS SELECT id FROM txn_src_spec WHERE id <= 2"""
        .stripMargin)
    // stage a refresh, leave the script undecided
    SqlRunner.runScriptWithSnapshots(spark,
      s"""BEGIN TRANSACTION '$td' AS 'spec_txn_$t';
         |CREATE OR REPLACE TABLE '$a' AS SELECT id FROM txn_src_spec;
         |CREATE OR REPLACE TABLE '$b' AS SELECT id FROM txn_src_spec"""
        .stripMargin)
    assert(Snapshots.versions(spark, a) == Seq(1), "stage must be invisible")
    assert(Snapshots.read(spark, a).count() == 2)
    // the explicit form decides with no in-process context
    SqlRunner.runScriptWithSnapshots(spark,
      s"COMMIT TRANSACTION '$td' AS 'spec_txn_$t' TABLES '$a','$b'")
    assert(Snapshots.versions(spark, a) == Seq(1, 2))
    assert(Snapshots.read(spark, a).count() == 5)
    assert(Snapshots.read(spark, b).count() == 5)
    // a rolled-back stage stays inert garbage
    SqlRunner.runScriptWithSnapshots(spark,
      s"""BEGIN TRANSACTION '$td' AS 'spec_txn2_$t';
         |CREATE OR REPLACE TABLE '$a' AS SELECT id FROM txn_src_spec
         |WHERE id = 1""".stripMargin)
    SqlRunner.runScriptWithSnapshots(spark,
      s"ROLLBACK TRANSACTION '$td' AS 'spec_txn2_$t'")
    assert(Snapshots.versions(spark, a) == Seq(1, 2))
    assert(Snapshots.read(spark, a).count() == 5)
    // nested BEGIN refuses
    assertThrows[RuntimeException] {
      SqlRunner.runScriptWithSnapshots(spark,
        s"""BEGIN TRANSACTION '$td' AS 'n1_$t';
           |BEGIN TRANSACTION '$td' AS 'n2_$t'""".stripMargin)
    }
    // a non-stageable mutation inside an open transaction refuses
    // loudly (it would commit immediately and break atomicity)
    assertThrows[RuntimeException] {
      SqlRunner.runScriptWithSnapshots(spark,
        s"""BEGIN TRANSACTION '$td' AS 'n3_$t';
           |INSERT INTO '$a' SELECT id FROM txn_src_spec""".stripMargin)
    }
    assert(Snapshots.versions(spark, a) == Seq(1, 2), "refused insert left no version")
    Seq(a, b, td).foreach(Snapshots.drop(spark, _))
  }

  test("x89: PURGE statement erases keys from every version's history") {
    import graft.sources.Snapshots
    import spark.implicits._
    val dir = s"target/sqlrunner_purge_${System.nanoTime()}"
    Snapshots.drop(spark, dir)
    Snapshots.commit((1 to 20).map(i => (i.toLong, s"s$i")).toDF("id", "v"), dir)
    Snapshots.commit((1 to 30).map(i => (i.toLong, s"s$i")).toDF("id", "v"), dir)
    spark.range(1, 4).toDF("id").createOrReplaceTempView("purge_keys_spec")
    val n = SqlRunner.runScriptWithSnapshots(spark,
      s"PURGE '$dir' KEYS SELECT id FROM purge_keys_spec")
      .last.head.getInt(0)
    assert(n == 2) // both history versions rewritten
    // erased from the PAST, not just latest — the verb DELETE isn't
    assert(Snapshots.read(spark, dir, Some(1)).filter($"id" <= 3).count() == 0)
    assert(Snapshots.read(spark, dir, Some(2)).filter($"id" <= 3).count() == 0)
    assert(Snapshots.read(spark, dir, Some(1)).count() == 17)
    assert(Snapshots.versions(spark, dir) == Seq(1, 2)) // numbers preserved
    Snapshots.drop(spark, dir)
  }

  test("x88: table_files binds the manifest listing; counts match filesPerDir") {
    import graft.sources.Snapshots
    import spark.implicits._
    val dir = s"target/sqlrunner_files_${System.nanoTime()}"
    Snapshots.drop(spark, dir)
    Snapshots.commit((1 to 60).map(i => (i.toLong, i % 3)).toDF("id", "p")
      .repartition($"p"), dir, partitionBy = Seq("p"))
    val rows = SqlRunner.runScriptWithSnapshots(spark,
      s"SELECT dir, n_files FROM table_files('$dir', 1) ORDER BY dir")
      .last.collect()
    val expect = Snapshots.filesPerDir(spark, dir, 1)
    assert(rows.length == expect.size)
    rows.foreach { r =>
      val hit = expect.find(_._1.endsWith(r.getString(0))).map(_._2.toLong)
      assert(hit.contains(r.getLong(1)), s"mismatch for ${r.getString(0)}")
    }
    Snapshots.drop(spark, dir)
  }

  test("x85/x86: OPTIMIZE statement parses with and without ZORDER BY") {
    import graft.sources.Snapshots
    val dir = s"target/sqlrunner_opt_${System.nanoTime()}"
    Snapshots.drop(spark, dir)
    import spark.implicits._
    Snapshots.commit((1 to 100).map(i => (i.toLong, i % 10))
      .toDF("id", "b").repartition($"b"), dir, partitionBy = Seq("b"))
    val v = SqlRunner.runScriptWithSnapshots(spark,
      s"OPTIMIZE '$dir' INTO 2 FILES").last.head.getInt(0)
    assert(v == 2 && Snapshots.filesPerDir(spark, dir, 2).values.sum <= 2)
    val v2 = SqlRunner.runScriptWithSnapshots(spark,
      s"OPTIMIZE '$dir' ZORDER BY (id, b) INTO 4 FILES").last.head.getInt(0)
    assert(v2 == 3)
    assert(Snapshots.readResolved(spark, dir).count() == 100)
    Snapshots.drop(spark, dir)
  }

  test("x98: branch statements, branch_at/table_refs bindings, and the txn guard") {
    import graft.sources.Snapshots
    import spark.implicits._
    val dir = s"target/sqlrunner_branch_${System.nanoTime()}"
    Snapshots.drop(spark, dir)
    Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      .createOrReplaceTempView("branch_src")
    SqlRunner.runScriptWithSnapshots(spark,
      s"""CREATE TABLE '$dir' AS SELECT * FROM branch_src;
         |CREATE BRANCH '$dir' dev AT VERSION 1;
         |CREATE TAG '$dir' pin AT VERSION 1;
         |INSERT INTO BRANCH '$dir' dev SELECT 3 AS id, 'c' AS v""".stripMargin)
    // isolation: latest still v1; branch_at serves the staged head
    assert(Snapshots.versions(spark, dir) == Seq(1))
    assert(SqlRunner.runScriptWithSnapshots(spark,
      s"SELECT COUNT(*) AS n FROM branch_at('$dir', 'dev')")
      .last.head.getLong(0) == 3)
    assert(SqlRunner.runScriptWithSnapshots(spark,
      s"SELECT COUNT(*) AS n FROM branch_at('$dir', 'pin')")
      .last.head.getLong(0) == 2)
    // refs catalog
    val refs = SqlRunner.runScriptWithSnapshots(spark,
      s"SELECT name, version, is_tag FROM table_refs('$dir') ORDER BY name")
      .last.collect().map(r => (r.getString(0), r.getInt(1), r.getBoolean(2)))
    assert(refs.toSeq == Seq(("dev", 2, false), ("pin", 1, true)))
    // fast-forward publishes; the merged read serves all rows
    val n = SqlRunner.runScriptWithSnapshots(spark,
      s"FAST FORWARD '$dir' dev").last.head.getInt(0)
    assert(n == 1 && Snapshots.versions(spark, dir) == Seq(1, 2))
    assert(Snapshots.readResolved(spark, dir).count() == 3)
    // branch verbs refuse inside an open transaction
    val txnDir = s"target/sqlrunner_branch_txn_${System.nanoTime()}"
    val e = intercept[RuntimeException] {
      SqlRunner.runScriptWithSnapshots(spark,
        s"""BEGIN TRANSACTION '$txnDir' AS 'x98_t1';
           |CREATE BRANCH '$dir' dev2 AT VERSION 1""".stripMargin)
    }
    assert(e.getMessage.contains("not transactional"))
    Snapshots.drop(spark, dir)
  }

  test("x99: deep CLONE owns its files and survives the source; shallow pins it; VERSION selects") {
    import graft.sources.Snapshots
    import spark.implicits._
    val root = s"target/sqlrunner_clone_${System.nanoTime()}"
    val (src, deep, deep1, shallow) =
      (s"$root/src", s"$root/deep", s"$root/deep1", s"$root/shallow")
    Snapshots.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), src)
    Snapshots.commit(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"), src)
    SqlRunner.runScriptWithSnapshots(spark,
      s"""CREATE TABLE '$deep' AS CLONE '$src';
         |CREATE TABLE '$deep1' AS CLONE '$src' VERSION 1;
         |CREATE TABLE '$shallow' AS SHALLOW CLONE '$src'""".stripMargin)
    assert(Snapshots.fileSignature(spark, deep, 1).nonEmpty,
      "a deep clone owns its files")
    assert(Snapshots.fileSignature(spark, shallow, 1).isEmpty,
      "a shallow clone is pure metadata")
    assert(Snapshots.readResolved(spark, deep1).count() == 2,
      "VERSION pins the cloned source state")
    assert(Snapshots.readResolved(spark, shallow).count() == 3)
    Snapshots.drop(spark, src)
    assert(Snapshots.readResolved(spark, deep).count() == 3,
      "the deep clone survives the source's drop")
    intercept[Throwable] { Snapshots.readResolved(spark, shallow).count() }
    // refusals: existing destination, and inside an open transaction
    intercept[IllegalArgumentException] {
      SqlRunner.runScriptWithSnapshots(spark,
        s"CREATE TABLE '$deep' AS CLONE '$deep1'")
    }
    val e2 = intercept[RuntimeException] {
      SqlRunner.runScriptWithSnapshots(spark,
        s"""BEGIN TRANSACTION '$root/txn' AS 'x99_t1';
           |CREATE TABLE '$root/other' AS CLONE '$deep'""".stripMargin)
    }
    assert(e2.getMessage.contains("not transactional"))
  }

  test("x102: constraints persist in the log, gate every mutation verb, and refuse bad registrations") {
    import graft.sources.{ConstraintViolationException, Snapshots}
    import spark.implicits._
    val dir = s"target/sqlrunner_check_${System.nanoTime()}"
    Snapshots.drop(spark, dir)
    Seq((1L, 10.0), (2L, 20.0)).toDF("id", "bal")
      .createOrReplaceTempView("check_src")
    SqlRunner.runScriptWithSnapshots(spark,
      s"""CREATE TABLE '$dir' AS SELECT * FROM check_src;
         |ALTER TABLE '$dir' ADD CONSTRAINT pos CHECK (bal >= 0)""".stripMargin)
    assert(Snapshots.checkConstraints(spark, dir) == Seq(("pos", "bal >= 0")))
    // a constraint the table already violates must not register
    intercept[IllegalArgumentException] {
      SqlRunner.runScriptWithSnapshots(spark,
        s"ALTER TABLE '$dir' ADD CONSTRAINT big CHECK (bal > 15)")
    }
    // duplicate name refuses
    intercept[IllegalArgumentException] {
      SqlRunner.runScriptWithSnapshots(spark,
        s"ALTER TABLE '$dir' ADD CONSTRAINT pos CHECK (bal >= 0)")
    }
    // MERGE's new images are gated too
    Seq((1L, -5.0)).toDF("id", "bal").createOrReplaceTempView("check_bad")
    intercept[ConstraintViolationException] {
      SqlRunner.runScriptWithSnapshots(spark,
        s"MERGE INTO '$dir' USING check_bad ON id WHEN MATCHED THEN UPDATE SET *")
    }
    // a compliant write still lands, resolved through the constraint entry
    SqlRunner.runScriptWithSnapshots(spark,
      s"INSERT INTO '$dir' SELECT CAST(3 AS BIGINT) AS id, CAST(5.0 AS DOUBLE) AS bal")
    assert(Snapshots.readResolved(spark, dir).count() == 3)
    // the constraint version is metadata-only and time-travels as its base
    assert(Snapshots.read(spark, dir, Some(2)).count() == 2)
    // branch writes are gated too — else FAST FORWARD would publish
    // rows the CHECK never saw
    SqlRunner.runScriptWithSnapshots(spark,
      s"CREATE BRANCH '$dir' dev AT VERSION 3")
    intercept[ConstraintViolationException] {
      SqlRunner.runScriptWithSnapshots(spark,
        s"INSERT INTO BRANCH '$dir' dev SELECT CAST(9 AS BIGINT) AS id, " +
          "CAST(-1.0 AS DOUBLE) AS bal")
    }
  }

  test("x101: tables_under lists published heads only; a missing root is empty") {
    import graft.sources.Snapshots
    import spark.implicits._
    val root = s"target/sqlrunner_cat_${System.nanoTime()}"
    assert(Snapshots.tablesUnder(spark, root).isEmpty)
    Snapshots.commit(Seq((1L, "a")).toDF("id", "v"), s"$root/t1")
    Snapshots.commitStaged(Seq((2L, "b")).toDF("id", "v"), s"$root/t1")
    assert(Snapshots.tablesUnder(spark, root) == Seq(("t1", 1, 1)),
      "a staged ghost must never surface as the head")
  }

  test("x104: the DML verbs keep working against a renamed column") {
    import spark.implicits._
    import graft.sources.Snapshots
    val dir = java.nio.file.Files.createTempDirectory("sqldml").toString + "/t"
    Snapshots.commit(Seq((1L, 10.0), (2L, -5.0), (3L, 7.0))
      .toDF("uid", "bal"), dir)
    graft.util.SqlRunner.runScriptWithSnapshots(spark,
      s"""ALTER TABLE '$dir' RENAME COLUMN uid TO user_id;
         |UPDATE '$dir' SET bal = bal + 100.0 WHERE user_id = 2;
         |DELETE FROM '$dir' WHERE user_id = 3;
         |INSERT INTO '$dir'
         |SELECT CAST(4 AS BIGINT) AS user_id, CAST(1.0 AS DOUBLE) AS bal""".stripMargin)
    val got = Snapshots.readResolved(spark, dir).orderBy("user_id")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == Seq((1L, 10.0), (2L, 95.0), (4L, 1.0)),
      "update/delete/insert must all resolve through the rename")
    // and the pre-rename version still serves its own name untouched
    assert(Snapshots.readResolved(spark, dir, Some(1)).columns.head == "uid")
  }
}
