package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** SQL STATEMENT SURFACE (x82–x90) — the full daily lakehouse verb
  * set, reachable from pure SQL text through [[graft.util.SqlRunner]]
  * and routed through the SAME operators the Scala API uses:
  *
  *  - x82 `MERGE INTO` → [[graft.ops.Merge.mergeInto]] four-arm
  *    evaluation + one optimistic-concurrency commit (hash-matches
  *    x51's oracle verbatim — same merge, same physics).
  *  - x83 `DELETE FROM … WHERE` → deletion vectors (x27's physics:
  *    base files never touched, listing-checked).
  *  - x84 `UPDATE … SET … WHERE` → x58's merge-on-read two-step
  *    (staged DV + atomic append publish).
  *  - x85/x86 `OPTIMIZE [ZORDER BY]` → [[graft.ops.Optimize]]
  *    whole-table layout rewrites as dataChange=false versions the
  *    change feed skips.
  *  - x87 `CREATE TABLE AS` / `INSERT INTO` → v1 commit / O(Δ) append.
  *  - x88 `table_files(dir, v)` → the manifest-listing layout audit.
  *  - x89 `PURGE … KEYS` → history-wide RTBF erasure (what DELETE
  *    cannot be: the past is rewritten too).
  *  - x90 `BEGIN/COMMIT/ROLLBACK TRANSACTION` → multi-table atomic
  *    publish through x45's decision-marker machinery; transactional
  *    CTAS stages invisibly until the marker commits.
  *
  * The read-backs are pure SQL too (`snapshot_resolved('<dir>', v)`
  * binds [[graft.sources.Snapshots.readResolved]]), so the whole
  * write→read lifecycle works with no Scala in sight — the x54/x78/
  * x81 symmetry rule (every engine artifact reachable from SQL text)
  * extended to mutation, maintenance, governance, and transactions.
  * Reference scripts/run_sql_file.py:19-54 is the statement-runner
  * seam these verbs extend.
  */
object SqlDmlQ {

  def defs: Map[String, (SparkSession, String) => DataFrame] = Map(

    // x82 — MERGE INTO ON THE SQL SURFACE: x51's four-arm changeset
    // stated entirely as SQL text — the changeset view (latest 1997+
    // order restates the balance; key%31 customers open a shifted
    // branch account) is a CREATE TEMPORARY VIEW statement, the merge
    // one MERGE INTO statement, the read-back a snapshot_at + history
    // script (x78's two-script pattern: table references bind before
    // statements run). The hash must equal x51's oracle verbatim:
    // same arms, same OCC commit, zero Scala in the mutation path.
    "x82_sql_merge" -> ((s, d) => {
      import graft.sources.Snapshots
      // base v1 is a pure projection fixture: build once, reuse across
      // sweeps; the MERGE's v2 is truncated away at reuse (Fixtures)
      val dir = Fixtures.ensure(s, d, "x82_snap",
          "customer v1 c_custkey,c_name,c_acctbal") { fdir =>
        Snapshots.commit(
          Tables.load(s, d, "customer")
            .select(col("c_custkey"), col("c_name"), col("c_acctbal")), fdir)
      }
      Tables.load(s, d, "orders").createOrReplaceTempView("orders_x82")
      Tables.load(s, d, "customer").createOrReplaceTempView("customer_x82")
      graft.util.SqlRunner.runScriptWithSnapshots(s,
        s"""CREATE OR REPLACE TEMPORARY VIEW x82_src AS
           |WITH latest AS (
           |  SELECT o_custkey, o_totalprice,
           |    row_number() OVER (PARTITION BY o_custkey
           |      ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
           |  FROM orders_x82
           |  WHERE o_orderdate >= TIMESTAMP '1997-01-01'),
           |restated AS (
           |  SELECT c.c_custkey, c.c_name, l.o_totalprice AS c_acctbal
           |  FROM latest l JOIN customer_x82 c ON l.o_custkey = c.c_custkey
           |  WHERE l.rn = 1)
           |SELECT c_custkey, c_name, c_acctbal FROM restated
           |UNION ALL
           |SELECT c_custkey + ${ExtQ.X51KeyShift}, 'branch of ' || c_name,
           |  c_acctbal
           |FROM restated WHERE c_custkey % 31 = 0;
           |MERGE INTO '$dir' USING x82_src ON c_custkey
           |WHEN MATCHED AND s.c_acctbal < ${ExtQ.X51CloseBelow} THEN DELETE
           |WHEN MATCHED THEN UPDATE SET *
           |WHEN NOT MATCHED AND s.c_acctbal >= ${ExtQ.X51CloseBelow}
           |  THEN INSERT *
           |WHEN NOT MATCHED BY SOURCE AND t.c_acctbal < 0 THEN DELETE"""
          .stripMargin)
      graft.util.SqlRunner.runScriptWithSnapshots(s,
        s"""SELECT b.c_custkey, b.c_name, round(b.c_acctbal, 2) AS c_acctbal,
           |  (SELECT CAST(COUNT(*) AS INT) FROM table_history('$dir'))
           |    AS n_versions
           |FROM snapshot_at('$dir', 2) b
           |ORDER BY c_custkey""".stripMargin).last
    }),

    // x83 — DELETE ON THE SQL SURFACE: x27's GDPR takedown (the
    // hash-derived ~5% of doc_ids) as one DELETE statement; the route
    // is merge-on-read deletion vectors, so `base_files_untouched`
    // (the v1 listing captured before/after, interpolated into the
    // read-back as a literal the oracle pins true) states the commit
    // never rewrote the corpus. The read-back resolves both versions
    // through snapshot_resolved — pure SQL end to end, one hash match
    // proving statement routing + DV physics + resolved-read
    // semantics at once.
    "x83_sql_delete" -> ((s, d) => {
      import graft.sources.Snapshots
      val dir = Fixtures.ensure(s, d, "x83_snap",
          "documents v1 doc_id,source,n_chars") { fdir =>
        Snapshots.commit(
          Tables.load(s, d, "documents")
            .select(col("doc_id"), col("source"), col("n_chars")), fdir)
      }
      val sigBefore = Snapshots.fileSignature(s, dir, 1)
      graft.util.SqlRunner.runScriptWithSnapshots(s,
        s"""DELETE FROM '$dir'
           |WHERE CAST(conv(substring(md5('gdpr|' || CAST(doc_id AS STRING)),
           |  1, 15), 16, 10) AS BIGINT) % 20 = 0""".stripMargin)
      val untouched = Snapshots.fileSignature(s, dir, 1) == sigBefore
      graft.util.SqlRunner.runScriptWithSnapshots(s,
        s"""SELECT v1.source, v1.n_v1, v1.idsum_v1, v2.n_v2, v2.idsum_v2,
           |  $untouched AS base_files_untouched
           |FROM (SELECT source, COUNT(*) AS n_v1,
           |        SUM(doc_id) AS idsum_v1
           |      FROM snapshot_resolved('$dir', 1) GROUP BY source) v1
           |JOIN (SELECT source, COUNT(*) AS n_v2,
           |        SUM(doc_id) AS idsum_v2
           |      FROM snapshot_resolved('$dir', 2) GROUP BY source) v2
           |  USING (source)
           |ORDER BY source""".stripMargin).last
    }),

    // x90 — MULTI-TABLE TRANSACTIONS ON THE SQL SURFACE: the one
    // engine capability Delta doesn't have (and Iceberg only just
    // grew) — x45's Percolator-style decision marker — as statements.
    // A BEGIN opens the transaction, the two CREATE OR REPLACEs
    // STAGE their refreshes (durable, invisible), and the script ends
    // UNDECIDED; the Scala probes pin that neither table's latest
    // moved (invisibility = the whole point), then a SEPARATE script
    // commits by explicit (txnDir, id, tables) — the crash-recovery
    // form, proving the decision needs no in-process context. The
    // hash pins both tables' post-commit states next to the
    // atomic-flip witness.
    "x90_sql_transaction" -> ((s, d) => {
      import graft.sources.Snapshots
      val aDir = freshSnapDir(s, d, "x90_a")
      val bDir = freshSnapDir(s, d, "x90_b")
      val txnDir = freshSnapDir(s, d, "x90_txn")
      Tables.load(s, d, "orders").createOrReplaceTempView("orders_x90")
      // per-run txn id: the process-wide decision-marker cache means a
      // REUSED id whose marker was decided in an earlier run of this
      // JVM would make the fresh stages instantly visible (the cache
      // is correct — markers are immutable — so the id must be new);
      // the id never appears in the hashed output
      val txnId = s"x90_refresh_${System.nanoTime()}"
      def balSql(side: String, cut: String) =
        s"""SELECT o_custkey,
           |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
           |    AS balance,
           |  COUNT(*) AS n_orders
           |FROM orders_x90
           |WHERE o_custkey % 2 = $side $cut
           |GROUP BY o_custkey""".stripMargin
      // seed: v1 of both tables is the pre-1997 state
      graft.util.SqlRunner.runScriptWithSnapshots(s,
        s"""CREATE TABLE '$aDir' AS
           |${balSql("0", "AND o_orderdate < TIMESTAMP '1997-01-01'")};
           |CREATE TABLE '$bDir' AS
           |${balSql("1", "AND o_orderdate < TIMESTAMP '1997-01-01'")}"""
          .stripMargin)
      // stage the coordinated refresh; the script ends UNDECIDED
      graft.util.SqlRunner.runScriptWithSnapshots(s,
        s"""BEGIN TRANSACTION '$txnDir' AS '$txnId';
           |CREATE OR REPLACE TABLE '$aDir' AS ${balSql("0", "")};
           |CREATE OR REPLACE TABLE '$bDir' AS ${balSql("1", "")}"""
          .stripMargin)
      val invisible = Snapshots.versions(s, aDir) == Seq(1) &&
        Snapshots.versions(s, bDir) == Seq(1)
      // decide from a separate script: the explicit crash-recovery form
      graft.util.SqlRunner.runScriptWithSnapshots(s,
        s"COMMIT TRANSACTION '$txnDir' AS '$txnId' " +
          s"TABLES '$aDir','$bDir'")
      val visible = Snapshots.versions(s, aDir) == Seq(1, 2) &&
        Snapshots.versions(s, bDir) == Seq(1, 2)
      graft.util.SqlRunner.runScriptWithSnapshots(s,
        s"""SELECT 'a' AS side, o_custkey, balance, n_orders,
           |  ${invisible && visible} AS atomic_flip
           |FROM snapshot_at('$aDir', 2)
           |UNION ALL
           |SELECT 'b', o_custkey, balance, n_orders,
           |  ${invisible && visible}
           |FROM snapshot_at('$bDir', 2)
           |ORDER BY side, o_custkey""".stripMargin).last
    }),

    // x89 — PURGE ON THE SQL SURFACE: RTBF physical erasure as one
    // statement — `PURGE '<dir>' KEYS <select>` rewrites EVERY
    // version of the table's history without the selected keys
    // (x50's purgeKeys physics: the verb DELETE cannot be, because
    // DELETE leaves the old rows time-travelable). The fixture is a
    // pristine TEMPLATE checked out per run (Fixtures.checkout —
    // purge mutates history in place, so ensure()'s ceiling
    // truncation can never reset it); the read-back scans BOTH
    // rewritten versions in pure SQL and pins the purged key's
    // absence from each next to per-source survivor counts.
    "x89_sql_purge" -> ((s, d) => {
      import graft.sources.Snapshots
      val tmpl = Fixtures.ensure(s, d, "x89_tmpl",
          "docs v1=even v2=all doc_id,source,n_chars") { fdir =>
        val docs = Tables.load(s, d, "documents")
          .select(col("doc_id"), col("source"), col("n_chars"))
        Snapshots.commit(docs.filter(col("doc_id") % 2 === 0), fdir)
        Snapshots.commit(docs, fdir)
      }
      val dir = Fixtures.checkout(s, tmpl,
        s"target/x89_work_${math.abs(d.hashCode)}")
      Tables.load(s, d, "documents").createOrReplaceTempView("docs_x89")
      graft.util.SqlRunner.runScriptWithSnapshots(s,
        s"PURGE '$dir' KEYS SELECT doc_id FROM docs_x89 WHERE doc_id % 97 = 0")
      graft.util.SqlRunner.runScriptWithSnapshots(s,
        s"""SELECT v2.source, v1.n_v1, v2.n_v2,
           |  ((SELECT COUNT(*) FROM snapshot_at('$dir', 1)
           |     WHERE doc_id % 97 = 0) +
           |   (SELECT COUNT(*) FROM snapshot_at('$dir', 2)
           |     WHERE doc_id % 97 = 0)) = 0 AS gone_everywhere
           |FROM (SELECT source, COUNT(*) AS n_v2
           |      FROM snapshot_at('$dir', 2) GROUP BY source) v2
           |LEFT JOIN (SELECT source, COUNT(*) AS n_v1
           |           FROM snapshot_at('$dir', 1) GROUP BY source) v1
           |  USING (source)
           |ORDER BY source""".stripMargin).last
    }),

    // x88 — LAYOUT AUDIT ON THE SQL SURFACE: the file-listing witness
    // every compaction/z-order proof reads from Scala (filesPerDir /
    // fileSignature), bound as `table_files('<dir>', v)` — one row
    // per partition directory with its file count, manifest-sized at
    // any corpus. The hashed frame joins the listing against the
    // version's own per-directory row aggregates: n_files = 1 per
    // directory is the colocated-write contract stated BY THE ORACLE
    // (a layout that fragmented breaks the hash), and the row
    // aggregates replay from source. bytes ride in the view but stay
    // out of the hash (parquet encoding is not engine-portable).
    "x88_sql_table_files" -> ((s, d) => {
      import graft.sources.Snapshots
      val dir = Fixtures.ensure(s, d, "x88_snap",
          "docs 16-dir layout v1 by doc_id%16") { fdir =>
        val docs = Tables.load(s, d, "documents")
          .select(col("doc_id"), col("source"), col("n_chars"))
          .withColumn("g", (col("doc_id") % 16).cast("int"))
        Snapshots.commit(docs.repartition(col("g")), fdir,
          partitionBy = Seq("g"))
      }
      graft.util.SqlRunner.runScriptWithSnapshots(s,
        s"""SELECT CAST(regexp_extract(f.dir, 'g=(\\\\d+)', 1) AS INT) AS g,
           |  f.n_files, a.n_docs, a.idsum
           |FROM table_files('$dir', 1) f
           |JOIN (SELECT g, COUNT(*) AS n_docs, SUM(doc_id) AS idsum
           |      FROM snapshot_at('$dir', 1) GROUP BY g) a
           |  ON CAST(regexp_extract(f.dir, 'g=(\\\\d+)', 1) AS INT) = a.g
           |ORDER BY g""".stripMargin).last
    }),

    // x87 — CTAS + INSERT INTO ON THE SQL SURFACE: the statement set's
    // remaining daily verbs — a table CREATED from a SELECT (rows land
    // as version 1 on the snapshot log) and grown by INSERT INTO (an
    // O(Δ) APPEND version: base files untouched, readers resolve
    // base ∪ delta). The read-back aggregates the resolved union and
    // pins the version count + the head's kind='append' from
    // table_history, so the hash proves CTAS content, append physics,
    // and log classification at once. Plain CREATE of an existing
    // table fails loudly (SqlRunnerSpec); the fixture drops first so
    // version numbers are deterministic per run.
    "x87_sql_ctas_insert" -> ((s, d) => {
      val dir = freshSnapDir(s, d, "x87_snap")
      Tables.load(s, d, "orders").createOrReplaceTempView("orders_x87")
      graft.util.SqlRunner.runScriptWithSnapshots(s,
        s"""CREATE TABLE '$dir' AS
           |SELECT o_orderkey, o_custkey, o_totalprice FROM orders_x87
           |WHERE o_orderdate < TIMESTAMP '1997-01-01';
           |INSERT INTO '$dir'
           |SELECT o_orderkey, o_custkey, o_totalprice FROM orders_x87
           |WHERE o_orderdate >= TIMESTAMP '1997-01-01'""".stripMargin)
      graft.util.SqlRunner.runScriptWithSnapshots(s,
        s"""SELECT o_custkey,
           |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
           |    AS balance,
           |  COUNT(*) AS n_orders,
           |  (SELECT CAST(COUNT(*) AS INT) FROM table_history('$dir'))
           |    AS n_versions,
           |  (SELECT kind FROM table_history('$dir') WHERE version = 2)
           |    AS head_kind
           |FROM snapshot_resolved('$dir', 2)
           |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin).last
    }),

    // x85 — OPTIMIZE ON THE SQL SURFACE (bin-pack): x26's compaction
    // generalized to a one-statement verb over ANY committed table
    // (ops.Optimize.compact — one round-robin exchange into the
    // target file count) and landed as a dataChange=false layout
    // version. The hashed flags pin the three-way contract: the file
    // count actually collapsed (listing-checked), the resolved rows
    // are untouched (per-source aggregates vs the oracle's source
    // replay), and the change feed saw NOTHING (cdc_quiet — a layout
    // commit must never reach downstream consumers as data).
    "x85_sql_optimize" -> ((s, d) => {
      import graft.sources.Snapshots
      val dir = Fixtures.ensure(s, d, "x85_snap",
          "docs fragmented v1 by doc_id%16") { fdir =>
        val docs = Tables.load(s, d, "documents")
          .select(col("doc_id"), col("source"), col("n_chars"))
          .withColumn("g", (col("doc_id") % 16).cast("int"))
        Snapshots.commit(docs.repartition(col("g")), fdir,
          partitionBy = Seq("g"))
      }
      graft.util.SqlRunner.runScriptWithSnapshots(s,
        s"OPTIMIZE '$dir' INTO 4 FILES")
      val before = Snapshots.filesPerDir(s, dir, 1).values.sum
      val after = Snapshots.filesPerDir(s, dir, 2).values.sum
      val compacted = after <= 4 && after < before
      val cdcQuiet =
        Snapshots.stepChanges(s, dir, 2, Seq("doc_id")).count() == 0L
      graft.util.SqlRunner.runScriptWithSnapshots(s,
        s"""SELECT source, COUNT(*) AS n_docs, SUM(doc_id) AS idsum,
           |  SUM(n_chars) AS charsum,
           |  $compacted AS compacted, $cdcQuiet AS cdc_quiet
           |FROM snapshot_resolved('$dir', 2)
           |GROUP BY source ORDER BY source""".stripMargin).last
    }),

    // x86 — OPTIMIZE ZORDER ON THE SQL SURFACE: x52's z-order layout
    // generalized to a one-statement verb over any numeric columns
    // (ops.Optimize.zorder — equi-width 8-bit buckets from the
    // table's own min/max, Morton interleave, ONE global z-rank
    // range exchange sliced into equal-row files). The read-back
    // proves the layout WORKS: per-file zone maps on the raw (ub,tb)
    // columns prune the 2-D box query to a fraction of the 16 files
    // (`pruned`), each slice landed as exactly one file, and the box
    // rows themselves hash against the oracle's plain filter replay.
    "x86_sql_zorder" -> ((s, d) => {
      import graft.sources.Snapshots
      val dir = Fixtures.ensure(s, d, "x86_snap",
          "events slim v1 event_id,ub,tb") { fdir =>
        Snapshots.commit(
          ExtQ.zEvents(s, d).select(col("event_id"), col("ub"), col("tb")),
          fdir)
      }
      graft.util.SqlRunner.runScriptWithSnapshots(s,
        s"OPTIMIZE '$dir' ZORDER BY (ub, tb) INTO 16 FILES")
      val oneFile = Snapshots.filesPerDir(s, dir, 2).values.forall(_ == 1)
      // zone maps over the committed layout (manifest-sized: 16 rows).
      // `_zfile` is WRITE-ONLY (never in the logical schema — a later
      // INSERT INTO must compose), so the layout-audit read serves it
      val zones = Snapshots.readLayout(s, dir, 2)
        .groupBy(col("_zfile"))
        .agg(min(col("ub")).as("ub_lo"), max(col("ub")).as("ub_hi"),
          min(col("tb")).as("tb_lo"), max(col("tb")).as("tb_hi"))
        .collect()
      val (lo, hi) = (ExtQ.ZBoxLo, ExtQ.ZBoxHi)
      val scan = zones.collect {
        case r if r.getAs[Int]("ub_hi") >= lo && r.getAs[Int]("ub_lo") <= hi &&
          r.getAs[Int]("tb_hi") >= lo && r.getAs[Int]("tb_lo") <= hi =>
          r.getAs[Int]("_zfile")
      }.toIndexedSeq
      Snapshots.readLayout(s, dir, 2)
        .filter(col("_zfile").isin(scan: _*)) // pruned dirs never listed
        .filter(col("ub").between(lo, hi) && col("tb").between(lo, hi))
        .select(col("event_id"), col("ub"), col("tb"),
          lit(scan.length < zones.length).as("pruned"),
          lit(oneFile).as("one_file_per_slice"))
        .orderBy(col("event_id"))
    }),

    // x92 — ALTER TABLE ON THE SQL SURFACE: schema evolution existed
    // only as API (x31 — wider commits + readAligned); a pure-SQL
    // consumer could not evolve a schema. `ALTER TABLE ADD COLUMN`
    // lands a METADATA-ONLY log entry (Snapshots.alterAddColumn —
    // zero data files, require()d below from the listing): readers
    // resolve the altered version as its base's rows with the new
    // column as typed nulls, and the follow-up CREATE OR REPLACE
    // backfills it as a full version over the INTACT log (the
    // history-preserving REPLACE). The two legs read post-alter
    // (lang all null — the typed-null contract) and post-backfill
    // states through snapshot_resolved, and the oracle is x31's
    // VERBATIM — the statement route must serve exactly what the
    // Scala evolution route serves. Drops/type changes have no verb
    // (they'd need a policy for historic data) and adding an
    // existing column raises — SqlRunnerSpec.
    "x92_sql_alter_table" -> ((s, d) => {
      import graft.sources.Snapshots
      val dir = Fixtures.ensure(s, d, "x92_snap",
          "docs v1 doc_id,source") { fdir =>
        Snapshots.commit(
          Tables.load(s, d, "documents").select(col("doc_id"), col("source")),
          fdir)
      }
      Tables.load(s, d, "documents").createOrReplaceTempView("docs_x92")
      graft.util.SqlRunner.runScriptWithSnapshots(s,
        s"""ALTER TABLE '$dir' ADD COLUMN lang string;
           |CREATE OR REPLACE TABLE '$dir' AS
           |SELECT doc_id, source, lang FROM docs_x92""".stripMargin)
      // the alter is metadata-only BY CONTRACT: zero data files landed
      // (a violated contract must fail the query, not pass unnoticed)
      require(Snapshots.fileSignature(s, dir, 2).isEmpty,
        "ALTER TABLE must land zero data files")
      def leg(v: Int) =
        s"""SELECT CAST(${v - 1} AS INT) AS version, source, COUNT(*) AS n,
           |  CAST(SUM(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_lang_null,
           |  CAST(SUM(doc_id) AS BIGINT) AS idsum
           |FROM snapshot_resolved('$dir', $v) GROUP BY source""".stripMargin
      graft.util.SqlRunner.runScriptWithSnapshots(s,
        s"""${leg(2)}
           |UNION ALL
           |${leg(3)}
           |ORDER BY version, source""".stripMargin).last
    }),

    // x95 — MASKING POLICIES ON THE SQL SURFACE (read-path
    // governance — x39 audits and x50/x76/x89 erase, but nothing
    // shaped what a READER sees): a policy table (itself a versioned
    // Snapshots table — governance artifacts carry their own
    // provenance) binds column masks + a row filter, and
    // `policy_table('<data>', '<policy>')` serves the data table
    // THROUGH the policy as a view rewrite — masks evaluate in the
    // scan's projection, the row filter sits on the scan
    // (pushdown-eligible), zero added jobs at any corpus size. The
    // policy here: customer names keep a 4-char prefix, balances
    // coarsen to their 100-bucket, and a hash-derived segment of
    // customers is row-filtered out entirely. The oracle states the
    // SAME masking explicitly over the source — a policy that leaked
    // a name suffix, served a fine-grained balance, or let a
    // filtered row through breaks the hash.
    "x95_sql_masking_policy" -> ((s, d) => {
      import graft.sources.Snapshots
      val dataDir = Fixtures.ensure(s, d, "x95_snap",
          "customer v1 c_custkey,c_name,c_acctbal") { fdir =>
        Snapshots.commit(
          Tables.load(s, d, "customer")
            .select(col("c_custkey"), col("c_name"), col("c_acctbal")), fdir)
      }
      val polDir = Fixtures.ensure(s, d, "x95_policy",
          "mask name4+bal100, filter key%7") { fdir =>
        Snapshots.commit(graft.ops.Policy.frame(s, Seq(
          ("mask", "c_name", "concat(substring(c_name, 1, 4), '***')"),
          ("mask", "c_acctbal",
            "cast(floor(c_acctbal / 100) * 100 as double)"),
          ("filter", null, "c_custkey % 7 <> 0"))), fdir)
      }
      graft.util.SqlRunner.runScriptWithSnapshots(s,
        s"""SELECT c_custkey, c_name, c_acctbal
           |FROM policy_table('$dataDir', '$polDir')
           |ORDER BY c_custkey""".stripMargin).last
    }),

    // x98 — BRANCHES ON THE SQL SURFACE (x96's named-ref lifecycle as
    // pure statements + bindings): CREATE BRANCH/TAG pin refs, two
    // INSERT INTO BRANCH statements land staged appends + CAS ref
    // advances (a `latest` reader still resolves the fork while the
    // branch accumulates commits), FAST FORWARD publishes the chain
    // iff main never moved, then the read leg aggregates the merged
    // state through snapshot_resolved with the table_refs catalog
    // joined in as scalar witnesses (ref count, tag pin, branch
    // head). branch_at serves time travel BY NAME (SqlRunnerSpec).
    // The oracle replays the merged balances from source with the
    // refs catalog stated literally — the statement route must serve
    // exactly what x96's API route serves. Branch statements inside
    // an open TRANSACTION refuse (the txn guard).
    "x98_sql_branches" -> ((s, d) => {
      val dir = freshSnapDir(s, d, "x98_snap")
      Tables.load(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("o_orderdate"))
        .createOrReplaceTempView("orders_x98")
      graft.util.SqlRunner.runScriptWithSnapshots(s,
        s"""CREATE TABLE '$dir' AS
           |SELECT o_orderkey, o_custkey, o_totalprice FROM orders_x98
           |WHERE o_orderdate < TIMESTAMP '1997-01-01';
           |CREATE BRANCH '$dir' ingest AT VERSION 1;
           |CREATE TAG '$dir' audit AT VERSION 1;
           |INSERT INTO BRANCH '$dir' ingest
           |SELECT o_orderkey, o_custkey, o_totalprice FROM orders_x98
           |WHERE o_orderdate >= TIMESTAMP '1997-01-01'
           |  AND o_orderdate < TIMESTAMP '1997-07-01';
           |INSERT INTO BRANCH '$dir' ingest
           |SELECT o_orderkey, o_custkey, o_totalprice FROM orders_x98
           |WHERE o_orderdate >= TIMESTAMP '1997-07-01';
           |FAST FORWARD '$dir' ingest""".stripMargin)
      graft.util.SqlRunner.runScriptWithSnapshots(s,
        s"""SELECT o_custkey,
           |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
           |    AS balance,
           |  COUNT(*) AS n_orders,
           |  (SELECT CAST(COUNT(*) AS INT) FROM table_refs('$dir'))
           |    AS n_refs,
           |  (SELECT CAST(version AS INT) FROM table_refs('$dir')
           |   WHERE name = 'audit') AS tag_at,
           |  (SELECT CAST(version AS INT) FROM table_refs('$dir')
           |   WHERE name = 'ingest') AS branch_at
           |FROM snapshot_resolved('$dir', 3)
           |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin).last
    }),

    // x102 — CHECK CONSTRAINTS ON THE SQL SURFACE (Delta's ALTER
    // TABLE ADD CONSTRAINT): x47's Expectations gate is a SESSION
    // splitter — nothing stops tomorrow's writer from landing junk.
    // Here the CHECK persists as a metadata-only LOG entry (zero
    // data files; resolves as its base's rows; feeds no CDC;
    // registration first validates the CURRENT state, Delta's rule),
    // and every SQL mutation's NEW images are checked BEFORE their
    // commit — a violating INSERT refuses leaving no version behind,
    // a violating UPDATE refuses before its DV even stages, while
    // compliant writes land normally. The final state replays from
    // source; the two refusal witnesses ride the hash. At 100 TB the
    // enforcement cost is one pushdown-eligible filter + limit(1)
    // per constraint over the DELTA — never a table scan.
    "x102_sql_check_constraint" -> ((s, d) => {
      import graft.sources.Snapshots
      val dir = freshSnapDir(s, d, "x102_snap")
      Tables.load(s, d, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
        .createOrReplaceTempView("cust_x102")
      graft.util.SqlRunner.runScriptWithSnapshots(s,
        s"""CREATE TABLE '$dir' AS
           |SELECT c_custkey, c_name, c_acctbal FROM cust_x102
           |WHERE c_acctbal >= 0;
           |ALTER TABLE '$dir' ADD CONSTRAINT non_negative
           |CHECK (c_acctbal >= 0);
           |INSERT INTO '$dir'
           |SELECT c_custkey + 1000000 AS c_custkey, c_name,
           |  c_acctbal + 10000.0 AS c_acctbal
           |FROM cust_x102 WHERE c_acctbal < 0""".stripMargin)
      val insRefused = try {
        graft.util.SqlRunner.runScriptWithSnapshots(s,
          s"""INSERT INTO '$dir' SELECT CAST(-1 AS BIGINT) AS c_custkey,
             |'bad' AS c_name, CAST(-5.0 AS DOUBLE) AS c_acctbal""".stripMargin)
        false
      } catch { case _: graft.sources.ConstraintViolationException => true }
      // the refusal left NOTHING behind — not even a staged ghost
      val noGhost = Snapshots.allVersions(s, dir) == Seq(1, 2, 3)
      val updRefused = try {
        graft.util.SqlRunner.runScriptWithSnapshots(s,
          s"UPDATE '$dir' SET c_acctbal = c_acctbal - 100000.0 " +
            "WHERE c_custkey <= 3")
        false
      } catch { case _: graft.sources.ConstraintViolationException => true }
      Snapshots.readResolved(s, dir)
        .agg(count(lit(1)).as("n"), dsum2(col("c_acctbal")).as("bal"),
          min(col("c_acctbal")).as("mb"))
        .select(col("n"), col("bal"), round(col("mb"), 2).as("min_bal"),
          lit(insRefused && noGhost).as("violating_insert_refused"),
          lit(updRefused).as("violating_update_refused"))
    }),

    // x101 — CATALOG LISTING ON THE SQL SURFACE (SHOW TABLES for a
    // path-addressed lakehouse): tables_under('<root>') binds every
    // snapshot table directly under a root as (name, head published
    // version, published count) — one filesystem listing + one
    // manifest-sized log read per table, zero data jobs at any
    // corpus size. The fixture root carries a single-version table,
    // a two-version table, and a table with a trailing STAGED ghost
    // (whose head must stay the published version — a catalog that
    // leaked staged heads would advertise states readers cannot
    // see). The oracle states the catalog literally.
    "x101_sql_catalog" -> ((s, d) => {
      import graft.sources.Snapshots
      val root = freshSnapDir(s, d, "x101_root")
      val cust = Tables.load(s, d, "customer")
        .select(col("c_custkey"), col("c_acctbal"))
      Snapshots.commit(cust.limit(100), s"$root/bronze")
      Snapshots.commit(cust.limit(100), s"$root/silver")
      Snapshots.commit(cust.limit(200), s"$root/silver") // v2
      Snapshots.commit(cust.limit(50), s"$root/gold")
      Snapshots.commitStaged(cust.limit(10), s"$root/gold") // ghost
      graft.util.SqlRunner.runScriptWithSnapshots(s,
        s"""SELECT name, head_version, n_published
           |FROM tables_under('$root')
           |ORDER BY name""".stripMargin).last
    }),

    // x99 — CLONE ON THE SQL SURFACE (deep and shallow, Delta's two
    // CLONE modes): SHALLOW routes through x44's zero-copy metadata
    // clone (one JSON entry, reads resolve through the source);
    // plain CLONE materializes the resolved source state as the new
    // table's OWN v1 — full write cost, retention-INDEPENDENT. The
    // query proves the physics from the listings (deep owns files,
    // shallow owns none) and then DROPS the source: the deep clone
    // must keep serving — its aggregate is the hashed output — while
    // the shallow clone fails loudly at log resolution (x44's
    // documented retention contract, here pinned as a flag). At
    // 100 TB this is the dev-vs-archive decision: a shallow clone is
    // free but retention-coupled; a deep clone pays one write and
    // owns its fate.
    "x99_sql_clone" -> ((s, d) => {
      import graft.sources.Snapshots
      val srcDir = freshSnapDir(s, d, "x99_src")
      val deepDir = freshSnapDir(s, d, "x99_deep")
      val shallowDir = freshSnapDir(s, d, "x99_shallow")
      Snapshots.commit(Tables.load(s, d, "customer")
        .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal")),
        srcDir)
      graft.util.SqlRunner.runScriptWithSnapshots(s,
        s"""CREATE TABLE '$deepDir' AS CLONE '$srcDir';
           |CREATE TABLE '$shallowDir' AS SHALLOW CLONE '$srcDir'""".stripMargin)
      val physics = Snapshots.fileSignature(s, deepDir, 1).nonEmpty &&
        Snapshots.fileSignature(s, shallowDir, 1).isEmpty
      Snapshots.drop(s, srcDir)
      val shallowPins =
        try { Snapshots.readResolved(s, shallowDir).count(); false }
        catch { case _: Throwable => true }
      Snapshots.readResolved(s, deepDir)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"), dsum2(col("c_acctbal")).as("bal"))
        .select(col("c_mktsegment"), col("n"), col("bal"),
          lit(physics).as("clone_physics"),
          lit(shallowPins).as("shallow_pins_source"))
        .orderBy(col("c_mktsegment"))
    }),

    // x84 — UPDATE ON THE SQL SURFACE: a credit adjustment re-states
    // every negative balance (two SET assignments — the balance and
    // an audit suffix on the name) as ONE statement landing as x58's
    // merge-on-read pair: staged DV (old images, invisible) + append
    // (new images) whose publish is the atomic commit point. The
    // listing flag states v1 was never rewritten; published count is
    // 2 (the staged DV owns v2 but never publishes). Arithmetic is
    // one IEEE addition, replayed exactly by the oracle's CASE.
    "x84_sql_update" -> ((s, d) => {
      import graft.sources.Snapshots
      val dir = Fixtures.ensure(s, d, "x84_snap",
          "customer v1 c_custkey,c_name,c_acctbal") { fdir =>
        Snapshots.commit(
          Tables.load(s, d, "customer")
            .select(col("c_custkey"), col("c_name"), col("c_acctbal")), fdir)
      }
      val sigBefore = Snapshots.fileSignature(s, dir, 1)
      graft.util.SqlRunner.runScriptWithSnapshots(s,
        s"""UPDATE '$dir'
           |SET c_acctbal = c_acctbal + 100.0,
           |    c_name = c_name || ' (credited)'
           |WHERE c_acctbal < 0""".stripMargin)
      val untouched = Snapshots.fileSignature(s, dir, 1) == sigBefore
      graft.util.SqlRunner.runScriptWithSnapshots(s,
        s"""SELECT b.c_custkey, b.c_name, b.c_acctbal,
           |  (SELECT CAST(COUNT(*) AS INT) FROM table_history('$dir')
           |   WHERE published) AS n_versions,
           |  $untouched AS base_files_untouched
           |FROM snapshot_resolved('$dir', 3) b
           |ORDER BY c_custkey""".stripMargin).last
    }),

    // x104 — COLUMN MAPPING (x92's missing half, Delta's
    // logical→physical name indirection reduced to its load-bearing
    // part): RENAME and DROP COLUMN as METADATA-ONLY statements. The
    // rename entry carries the new schema plus a new→old column map,
    // so resolution serves the base's physical column under the new
    // name; the drop entry narrows the schema, so the column leaves
    // every resolution at-or-above it while time travel below still
    // serves it — without this, any schema mistake forces a full
    // rewrite. The query runs all THREE evolution verbs (add, rename,
    // drop) plus an append carrying the evolved schema, then pins:
    // zero data files landed by any verb (listing-checked), historic
    // pinned reads serving their own committed names, the dropped
    // column excluded from latest but present at its own versions,
    // and ALIGNED reads of v1 (pre-everything), v2 (pre-rename,
    // lang present) and the latest all serving today's (doc_id,
    // source, chars) — old names translated FORWARD through the
    // recorded maps. The oracle replays every leg from source. At
    // 100 TB: three schema changes cost three small JSON entries —
    // zero files rewritten, zero backfill, and the x91 audit refuses
    // any append planned below them (a pre-alter writer's schema no
    // longer matches).
    "x104_sql_column_mapping" -> ((s, d) => {
      import graft.sources.Snapshots
      val dir = freshSnapDir(s, d, "x104_snap")
      Tables.load(s, d, "documents").createOrReplaceTempView("docs_x104")
      graft.util.SqlRunner.runScriptWithSnapshots(s,
        s"""CREATE TABLE '$dir' AS
           |SELECT doc_id, source, n_chars FROM docs_x104;
           |ALTER TABLE '$dir' ADD COLUMN lang string;
           |ALTER TABLE '$dir' RENAME COLUMN n_chars TO chars;
           |ALTER TABLE '$dir' DROP COLUMN lang;
           |INSERT INTO '$dir'
           |SELECT doc_id + 1000000 AS doc_id, source, n_chars AS chars
           |FROM docs_x104""".stripMargin)
      // all three evolution verbs are metadata-only BY CONTRACT
      require((2 to 4).forall(v => Snapshots.fileSignature(s, dir, v).isEmpty),
        "ALTER TABLE evolution verbs must land zero data files")
      val historicNames =
        Snapshots.readResolved(s, dir, Some(1)).columns.toSeq ==
          Seq("doc_id", "source", "n_chars") &&
        Snapshots.readResolved(s, dir, Some(3)).columns.toSeq ==
          Seq("doc_id", "source", "chars", "lang")
      val dropExcluded =
        Snapshots.readResolved(s, dir).columns.toSeq ==
          Seq("doc_id", "source", "chars") &&
        Snapshots.readResolved(s, dir, Some(4)).columns.toSeq ==
          Seq("doc_id", "source", "chars")
      def leg(v: Int) = Snapshots.readAligned(s, dir, Some(v))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n"), sum(col("chars")).as("charsum"),
          sum(col("doc_id")).as("idsum"))
        .select(lit(v).cast("int").as("version"), col("source"),
          col("n"), col("charsum"), col("idsum"))
      leg(1).unionByName(leg(2)).unionByName(leg(5))
        .select(col("version"), col("source"), col("n"), col("charsum"),
          col("idsum"),
          lit(historicNames).as("historic_names"),
          lit(dropExcluded).as("drop_excluded"))
        .orderBy(col("version"), col("source"))
    }),

    // x109 — TYPE WIDENING as metadata (Delta 3.2's contract, the
    // third evolution verb next to x104's rename/drop): a column
    // sized too narrow at design time (INT character counts, a
    // 32-bit id) normally forces a full-table rewrite the day a
    // value overflows; here `ALTER TABLE … ALTER COLUMN … TYPE`
    // lands one metadata entry — historic values upcast LOSSLESSLY
    // at plan construction (a cast above the base plan, zero data
    // movement), later appends carry the wide type natively (the
    // inserted rows here NEED bigint — they exceed int by 3·10⁹),
    // and historic pinned reads keep their own narrow type. Lossy
    // changes (bigint→int, anything non-upcast) refuse loudly —
    // historic values could not survive them. Witnesses: zero files
    // landed, the narrow-refusal, and the pinned-vs-aligned type
    // split; the aligned legs replay from source. At 100 TB this is
    // the difference between a schema mistake costing one JSON entry
    // and costing a corpus rewrite.
    "x109_sql_type_widening" -> ((s, d) => {
      import graft.sources.Snapshots
      import org.apache.spark.sql.types.{IntegerType, LongType}
      val dir = freshSnapDir(s, d, "x109_snap")
      Tables.load(s, d, "documents").createOrReplaceTempView("docs_x109")
      graft.util.SqlRunner.runScriptWithSnapshots(s,
        s"""CREATE TABLE '$dir' AS
           |SELECT doc_id, source, CAST(n_chars AS INT) AS chars
           |FROM docs_x109;
           |ALTER TABLE '$dir' ALTER COLUMN chars TYPE bigint;
           |INSERT INTO '$dir'
           |SELECT doc_id + 1000000 AS doc_id, source,
           |  CAST(n_chars + 3000000000 AS BIGINT) AS chars
           |FROM docs_x109""".stripMargin)
      require(Snapshots.fileSignature(s, dir, 2).isEmpty,
        "type widening must land zero data files")
      val narrowRefused = try {
        Snapshots.alterWidenColumn(s, dir, "chars", IntegerType); false
      } catch { case _: IllegalArgumentException => true }
      val typeSplit =
        Snapshots.readResolved(s, dir, Some(1)).schema("chars")
          .dataType == IntegerType &&
        Snapshots.readAligned(s, dir, Some(1)).schema("chars")
          .dataType == LongType &&
        Snapshots.readResolved(s, dir).schema("chars").dataType == LongType
      def leg(v: Int, df: DataFrame) = df
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n"), sum(col("chars")).as("charsum"),
          sum(col("doc_id")).as("idsum"))
        .select(lit(v).cast("int").as("version"), col("source"),
          col("n"), col("charsum"), col("idsum"))
      leg(1, Snapshots.readAligned(s, dir, Some(1)))
        .unionByName(leg(3, Snapshots.readResolved(s, dir)))
        .select(col("version"), col("source"), col("n"), col("charsum"),
          col("idsum"),
          lit(narrowRefused).as("lossy_refused"),
          lit(typeSplit).as("pinned_narrow_aligned_wide"))
        .orderBy(col("version"), col("source"))
    }),

    // x119 — COLUMN DEFAULTS / GENERATED COLUMNS as metadata (the
    // fourth evolution verb: Iceberg's initial-default + Delta's
    // column DEFAULT in one recorded expression). x92's ADD COLUMN
    // serves historic rows typed nulls and forces INSERT INTO to
    // supply every column; here `ADD COLUMN … DEFAULT (expr)` lands
    // one log entry and the expression does both jobs: pre-evolution
    // rows SERVE it at plan construction (constant 0.5 for `score`,
    // the GENERATED `qty % 7` for `qty_bucket` — evaluated over the
    // base's own columns, zero backfill), and an INSERT omitting the
    // column gets it filled at write. Witnesses: both alters land
    // zero files; a CHECK referencing the defaulted column blocks
    // its drop (Delta's rule); an INSERT omitting a column with NO
    // default still refuses (nothing silently turns into nulls); the
    // pinned pre-evolution read stays bare while the aligned read
    // serves the default VALUES — all next to the aggregate that
    // replays the three segments' logical state from lineitem. At
    // 100 TB: adding a scored/derived column to a petabyte table
    // costs one JSON entry, never a rewrite.
    "x119_column_defaults" -> ((s, d) => {
      import graft.sources.Snapshots
      val dir = freshSnapDir(s, d, "x119_snap")
      Tables.load(s, d, "lineitem")
        .select(col("l_orderkey").as("k"), col("l_returnflag").as("flag"),
          col("l_quantity").cast("long").as("qty"),
          (col("l_orderkey") % 10).as("seg"))
        .createOrReplaceTempView("li_x119")
      graft.util.SqlRunner.runScriptWithSnapshots(s,
        s"""CREATE TABLE '$dir' AS
           |SELECT k, flag, qty FROM li_x119 WHERE seg < 4;
           |ALTER TABLE '$dir' ADD COLUMN score double DEFAULT (0.5);
           |ALTER TABLE '$dir' ADD COLUMN qty_bucket bigint DEFAULT (qty % 7);
           |INSERT INTO '$dir'
           |SELECT k, flag, qty FROM li_x119 WHERE seg >= 4 AND seg < 7;
           |INSERT INTO '$dir'
           |SELECT k, flag, qty, CAST(1.5 AS DOUBLE) AS score,
           |  qty % 7 AS qty_bucket
           |FROM li_x119 WHERE seg >= 7""".stripMargin)
      require(Snapshots.fileSignature(s, dir, 2).isEmpty &&
        Snapshots.fileSignature(s, dir, 3).isEmpty,
        "defaulted ADD COLUMN must land zero data files")
      Snapshots.addCheckConstraint(s, dir, "score_nonneg", "score >= 0.0")
      val dropRefused = try {
        Snapshots.alterDropColumn(s, dir, "score"); false
      } catch { case _: IllegalArgumentException => true }
      val omittedRefused = try {
        graft.util.SqlRunner.runScriptWithSnapshots(s,
          s"INSERT INTO '$dir' SELECT flag FROM li_x119 WHERE seg = 0")
        false
      } catch { case _: IllegalArgumentException => true }
      // pinned pre-evolution read stays bare; the ALIGNED read serves
      // the default VALUES for the same rows (constant and generated)
      val aligned1 = Snapshots.readAligned(s, dir, Some(1))
      val alignSplit =
        !Snapshots.readResolved(s, dir, Some(1)).columns.contains("score") &&
        aligned1.filter(col("score") =!= 0.5).isEmpty &&
        aligned1.filter(col("qty_bucket") =!= col("qty") % 7).isEmpty
      Snapshots.readResolved(s, dir)
        .groupBy(col("flag"))
        .agg(count(lit(1)).as("n_rows"), sum(col("qty")).as("sum_qty"),
          dsum2(col("score")).as("score_sum"),
          sum(col("qty_bucket")).as("bucket_sum"))
        .select(col("flag"), col("n_rows"), col("sum_qty"),
          col("score_sum"), col("bucket_sum"),
          lit(dropRefused).as("drop_refused"),
          lit(omittedRefused).as("omitted_no_default_refused"),
          lit(alignSplit).as("pinned_bare_aligned_defaulted"))
        .orderBy(col("flag"))
    }),

    // x122 — RETENTION HOLDS ON THE SQL SURFACE (x121's verbs as
    // statements, the x54/x56 pattern): HOLD TABLE … VERSION … AS
    // tag / RELEASE HOLD route through the same hold machinery the
    // Scala API uses, table_holds('<dir>') serves the active pins as
    // a view, and the whole backup-vs-retention lifecycle runs from
    // pure SQL text: four generations land via history-preserving
    // CREATE OR REPLACE, the backup generation is held, VACUUM KEEP 1
    // collects exactly the unheld middle (pinned by n_vacuumed and
    // the surviving version list), the held pin still serves its
    // exact rows through snapshot_at, and after RELEASE the next
    // VACUUM collects it. Oracle: x121's replay with the SQL-surface
    // witnesses as literals — the statement surface must not change
    // one row of the semantics.
    "x122_sql_retention_holds" -> ((s, d) => {
      import graft.sources.Snapshots
      import graft.util.SqlRunner
      val dir = freshSnapDir(s, d, "x122_snap")
      Tables.load(s, d, "documents")
        .select(col("doc_id"), col("source"), col("n_chars"))
        .createOrReplaceTempView("docs_x122")
      // bindings resolve at SCRIPT START, so the post-vacuum reads
      // run as a second script over the then-current log
      val r1 = SqlRunner.runScriptWithSnapshots(s,
        s"""CREATE TABLE '$dir' AS
           |SELECT * FROM docs_x122 WHERE doc_id % 4 = 0;
           |CREATE OR REPLACE TABLE '$dir' AS
           |SELECT * FROM docs_x122 WHERE doc_id % 4 <= 1;
           |CREATE OR REPLACE TABLE '$dir' AS
           |SELECT * FROM docs_x122 WHERE doc_id % 4 <= 2;
           |CREATE OR REPLACE TABLE '$dir' AS SELECT * FROM docs_x122;
           |HOLD TABLE '$dir' VERSION 1 AS backup;
           |VACUUM '$dir' KEEP 1""".stripMargin)
      val nVac1 = r1(5).collect().head.getInt(0)
      val r1b = SqlRunner.runScriptWithSnapshots(s,
        s"""SELECT tag, version FROM table_holds('$dir');
           |SELECT COUNT(*) AS n FROM snapshot_at('$dir', 1)""".stripMargin)
      val holdRow = r1b(0).collect().map(r => (r.getString(0), r.getInt(1)))
      val heldN = r1b(1).collect().head.getLong(0)
      val quarterN = s.table("docs_x122")
        .filter(col("doc_id") % 4 === 0).count()
      val heldSurvives = nVac1 == 2 &&
        Snapshots.versions(s, dir) == Seq(1, 4) && heldN == quarterN
      val holdsVisible = holdRow.toSeq == Seq(("backup", 1))
      val r2 = SqlRunner.runScriptWithSnapshots(s,
        s"""RELEASE HOLD '$dir' backup;
           |VACUUM '$dir' KEEP 1""".stripMargin)
      val releasedCollects = r2(1).collect().head.getInt(0) == 1 &&
        Snapshots.versions(s, dir) == Seq(4)
      SqlRunner.runScriptWithSnapshots(s,
        s"""SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           |  CAST(SUM(n_chars) AS BIGINT) AS charsum
           |FROM snapshot_resolved('$dir', 4)
           |GROUP BY source ORDER BY source""".stripMargin).last
        .select(col("source"), col("n_docs"), col("charsum"),
          lit(heldSurvives).as("held_survives_vacuum"),
          lit(holdsVisible).as("holds_visible"),
          lit(releasedCollects).as("released_collects"))
        .orderBy(col("source"))
    }),

    // x123 — THE POSITION-AWARE FEED ON THE SQL SURFACE (x118's
    // stepChangesPos as table_changes_pos — the x56 pattern for the
    // keyless feed): a positional-update history (data, append, a
    // positional UPDATE's staged-DV + publish, a published position
    // delete) is consumed from PURE SQL text, one aggregate per
    // published version × op — the D half of the positional update
    // arrives through the SQL binding exactly as through the Scala
    // API, and the whole per-version accounting replays logically
    // from lineitem (each positional verb's compiled position set IS
    // its predicate's row multiset).
    "x123_sql_positional_feed" -> ((s, d) => {
      import graft.sources.Snapshots
      val dir = freshSnapDir(s, d, "x123_src")
      def li = Tables.load(s, d, "lineitem")
        .filter(col("l_orderkey") % 8 === 0)
      def proj(df: DataFrame) = df.select(
        col("l_returnflag").as("flag"),
        col("l_quantity").cast("long").as("qty"))
      Snapshots.commit(proj(li.filter(col("l_orderkey") % 10 < 5)), dir)
      Snapshots.commitAppend(
        proj(li.filter(col("l_orderkey") % 10 >= 5)), dir, base = 1)
      // m1 feeds both commit arguments — cache the pinned-version read
      // across its two consumers (x118's move; value-identical)
      val m1 = Snapshots.readResolvedPos(s, dir, Some(2))
        .filter(col("qty") <= 3).cache()
      Snapshots.commitPositionUpdate(dir,
        m1.select(col(Snapshots.PosFileCol), col(Snapshots.PosIdxCol)),
        m1.select(col("flag"), (col("qty") + 100L).as("qty")), base = 2)
      m1.unpersist()
      Snapshots.commitPositionDeletes(
        Snapshots.positionsOf(s, dir, 4, col("qty").between(49, 50)),
        dir, base = 4)
      graft.util.SqlRunner.runScriptWithSnapshots(s,
        (Seq(1, 2, 4, 5).map(v =>
          s"""SELECT $v AS v, op, CAST(COUNT(*) AS BIGINT) AS n,
             |  CAST(SUM(qty) AS BIGINT) AS qtysum
             |FROM table_changes_pos('$dir', $v) GROUP BY op""".stripMargin)
          .mkString("\nUNION ALL\n") + "\nORDER BY v, op")).last
    }),

    // x107 — DESCRIBE + DROP TABLE (the two catalog verbs x101's
    // listing lacked): describe_table('<dir>') serves a table's
    // current SCHEMA + layout spec to pure SQL — columns with SQL
    // types and positions, hive partition columns of the head
    // layout, registered CHECK constraints, the head version — one
    // log read + one head listing, zero data jobs. And a table's
    // life can now END from SQL: DROP TABLE routes through registry
    // cleanup (x76's de-registration discipline — retention and
    // auto-OPTIMIZE policies, stats state, hidden-partition spec,
    // MVs storing or reading the table), so the next table created
    // at the same path can never inherit a dead table's policies.
    // The query describes a constrained partitioned table
    // (hash-pinned against the literal catalog the oracle states),
    // then drops a scratch table carrying live retention +
    // auto-OPTIMIZE registrations and pins: gone from the x101
    // listing, both registries clean, and a recommit at the same
    // path starting fresh at v1. At 100 TB both verbs stay
    // metadata-sized.
    "x107_sql_describe_drop" -> ((s, d) => {
      import graft.sources.Snapshots
      val root = freshSnapDir(s, d, "x107_root")
      val dir = s"$root/people"
      val scratch = s"$root/scratch"
      Tables.load(s, d, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"),
          col("c_mktsegment"))
        .createOrReplaceTempView("cust_x107")
      graft.util.SqlRunner.runScriptWithSnapshots(s,
        s"""CREATE TABLE '$dir' AS
           |SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM cust_x107;
           |ALTER TABLE '$dir' ADD CONSTRAINT non_negative
           |CHECK (c_acctbal >= -1000.0);
           |CREATE TABLE '$scratch' AS SELECT c_custkey FROM cust_x107""".stripMargin)
      // the head layout gains a hive partition column (partitioned
      // append — describe surfaces it from the head's own listing)
      Snapshots.commitAppend(
        Tables.load(s, d, "customer")
          .select((col("c_custkey") + 1000000L).as("c_custkey"),
            col("c_name"), col("c_acctbal"), col("c_mktsegment")),
        dir, base = 2, partitionBy = Seq("c_mktsegment"))
      graft.ops.Retention.enable(scratch, keepLast = 5)
      graft.ops.AutoOptimize.enable(scratch, maxFiles = 64, targetFiles = 2)
      graft.util.SqlRunner.runScriptWithSnapshots(s, s"DROP TABLE '$scratch'")
      val droppedClean = Snapshots.versions(s, scratch).isEmpty &&
        !graft.ops.Retention.isEnabled(scratch) &&
        !graft.ops.AutoOptimize.isEnabled(scratch) &&
        Snapshots.tablesUnder(s, root).map(_._1) == Seq("people")
      // a recommit at the dropped path starts life fresh at v1, with
      // no inherited policy pruning it
      val rebornFresh =
        Snapshots.commit(Tables.load(s, d, "region"), scratch) == 1 &&
          !graft.ops.Retention.isEnabled(scratch)
      // a hidden-partitioned table's describe also surfaces the
      // TRANSFORM spec (source column → month/day/bucket(n)) — the
      // layout fact the raw hive column names deliberately hide
      val hiddenDir = ExtQ.x69Layout(s, d, "a")
      graft.util.SqlRunner.runScriptWithSnapshots(s,
        s"""SELECT kind, name, detail, pos,
           |  $droppedClean AS dropped_clean,
           |  $rebornFresh AS reborn_fresh
           |FROM describe_table('$dir')
           |UNION ALL
           |SELECT 'hidden', name, detail, pos, $droppedClean, $rebornFresh
           |FROM describe_table('$hiddenDir') WHERE kind = 'hidden'
           |ORDER BY kind, name""".stripMargin).last
    })
  )

  def oracles: Map[String, String] = Map(

    // x82: x51's oracle verbatim — the SQL-surface merge must equal
    // the Scala API's row for row (same CTE string on purpose).
    "x82_sql_merge" ->
      s"""WITH ${ExtQ.x51MergedCte("TRUE")}
         |SELECT c_custkey, c_name, round(c_acctbal, 2) AS c_acctbal,
         |  CAST(2 AS INT) AS n_versions
         |FROM merged ORDER BY c_custkey""".stripMargin,

    // x83: x27's oracle restated — v1 the corpus, v2 the corpus minus
    // the replayed takedown hash predicate; literal true pins the
    // listing-checked base-immutability flag.
    "x83_sql_delete" ->
      """WITH del AS (
        |  SELECT doc_id FROM documents
        |  WHERE CAST(('0x' || substr(md5('gdpr|' || doc_id::VARCHAR), 1, 15))
        |    AS BIGINT) % 20 = 0),
        |v1 AS (SELECT source, COUNT(*) AS n_v1,
        |         CAST(SUM(doc_id) AS BIGINT) AS idsum_v1
        |       FROM documents GROUP BY source),
        |v2 AS (SELECT source, COUNT(*) AS n_v2,
        |         CAST(SUM(doc_id) AS BIGINT) AS idsum_v2
        |       FROM documents d
        |       WHERE NOT EXISTS (SELECT 1 FROM del WHERE del.doc_id = d.doc_id)
        |       GROUP BY source)
        |SELECT source, n_v1, idsum_v1, n_v2, idsum_v2,
        |  true AS base_files_untouched
        |FROM v1 JOIN v2 USING (source)
        |ORDER BY source""".stripMargin,

    // x90: both committed states replay from source split by key
    // parity; literal true pins the invisible-then-atomically-visible
    // flip the Scala probes witnessed.
    "x90_sql_transaction" ->
      """WITH bal AS (
        |  SELECT o_custkey,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |      AS balance,
        |    COUNT(*) AS n_orders
        |  FROM orders GROUP BY o_custkey)
        |SELECT CASE WHEN o_custkey % 2 = 0 THEN 'a' ELSE 'b' END AS side,
        |  o_custkey, balance, n_orders, true AS atomic_flip
        |FROM bal ORDER BY side, o_custkey""".stripMargin,

    // x89: both rewritten versions replay from source minus the
    // purge set; literal true pins history-wide physical erasure.
    "x89_sql_purge" ->
      """WITH kept AS (
        |  SELECT doc_id, source FROM documents WHERE doc_id % 97 <> 0),
        |v1 AS (SELECT source, COUNT(*) AS n_v1 FROM kept
        |       WHERE doc_id % 2 = 0 GROUP BY source),
        |v2 AS (SELECT source, COUNT(*) AS n_v2 FROM kept GROUP BY source)
        |SELECT source, n_v1, n_v2, true AS gone_everywhere
        |FROM v2 LEFT JOIN v1 USING (source)
        |ORDER BY source""".stripMargin,

    // x88: the listing join replays as the plain per-g aggregate; the
    // literal n_files = 1 IS the colocated-layout pin.
    "x88_sql_table_files" ->
      """SELECT CAST(doc_id % 16 AS INT) AS g,
        |  CAST(1 AS BIGINT) AS n_files,
        |  COUNT(*) AS n_docs,
        |  CAST(SUM(doc_id) AS BIGINT) AS idsum
        |FROM documents GROUP BY 1 ORDER BY g""".stripMargin,

    // x87: CTAS ∪ INSERT must equal the plain source aggregate; the
    // version count and the head's append classification are literal.
    "x87_sql_ctas_insert" ->
      """SELECT o_custkey,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS balance,
        |  COUNT(*) AS n_orders,
        |  CAST(2 AS INT) AS n_versions,
        |  'append' AS head_kind
        |FROM orders
        |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,

    // x85: the resolved state after a layout rewrite must equal the
    // source replay exactly; literal true pins the listing-checked
    // collapse and the empty change feed.
    "x85_sql_optimize" ->
      """SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(doc_id) AS BIGINT) AS idsum,
        |  CAST(SUM(n_chars) AS BIGINT) AS charsum,
        |  true AS compacted, true AS cdc_quiet
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    // x86: x52's box replay (same ub/tb integer math); literal true
    // pins the zone-map prune and the one-file-per-slice listing.
    "x86_sql_zorder" ->
      s"""WITH e AS (SELECT event_id,
         |  CAST(user_id % 16 AS INT) AS ub,
         |  CAST((hour(ts) * 60 + minute(ts)) // 90 AS INT) AS tb
         |  FROM events)
         |SELECT event_id, ub, tb, true AS pruned,
         |  true AS one_file_per_slice
         |FROM e
         |WHERE ub BETWEEN ${ExtQ.ZBoxLo} AND ${ExtQ.ZBoxHi}
         |  AND tb BETWEEN ${ExtQ.ZBoxLo} AND ${ExtQ.ZBoxHi}
         |ORDER BY event_id""".stripMargin,

    // x92: x31's oracle VERBATIM (the map lookup IS the reuse) — the
    // SQL-surface evolution must serve exactly what the Scala
    // evolution route serves, leg for leg.
    "x92_sql_alter_table" -> LakehouseQ.oracles("x31_schema_evolution"),

    // x98: the fast-forwarded state replays from source (fork slice
    // ∪ both branch inserts = the whole orders table); the refs
    // catalog stated literally — 2 refs, tag pinned at the fork,
    // branch head at the published chain tip.
    "x98_sql_branches" ->
      """SELECT o_custkey,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS balance,
        |  COUNT(*) AS n_orders,
        |  CAST(2 AS INT) AS n_refs, CAST(1 AS INT) AS tag_at,
        |  CAST(3 AS INT) AS branch_at
        |FROM orders
        |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,

    // x102: the constrained table's final state replays from source
    // (non-negative base ∪ the repaired negatives); literal true
    // pins both refusals and the no-ghost discipline.
    "x102_sql_check_constraint" ->
      """WITH all_rows AS (
        |  SELECT c_acctbal FROM customer WHERE c_acctbal >= 0
        |  UNION ALL
        |  SELECT c_acctbal + 10000.0 AS c_acctbal FROM customer
        |  WHERE c_acctbal < 0)
        |SELECT COUNT(*) AS n,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal,
        |  round(MIN(c_acctbal), 2) AS min_bal,
        |  true AS violating_insert_refused,
        |  true AS violating_update_refused
        |FROM all_rows""".stripMargin,

    // x101: the catalog stated literally — silver's head is its
    // second published version; gold's staged ghost never surfaces.
    "x101_sql_catalog" ->
      """SELECT * FROM (VALUES
        |  ('bronze', CAST(1 AS INT), CAST(1 AS INT)),
        |  ('gold',   CAST(1 AS INT), CAST(1 AS INT)),
        |  ('silver', CAST(2 AS INT), CAST(2 AS INT)))
        |  t(name, head_version, n_published)
        |ORDER BY name""".stripMargin,

    // x99: the deep clone's aggregate replays from source (the clone
    // IS the source state, survived past the source's drop); literal
    // true pins the file-ownership physics and the shallow clone's
    // retention coupling.
    "x99_sql_clone" ->
      """SELECT c_mktsegment,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal,
        |  true AS clone_physics, true AS shallow_pins_source
        |FROM customer
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    // x95: the policy stated explicitly — prefix mask, 100-bucket
    // coarsening (identical IEEE double ops both engines), row
    // filter in the WHERE.
    "x95_sql_masking_policy" ->
      """SELECT c_custkey,
        |  substring(c_name, 1, 4) || '***' AS c_name,
        |  CAST(FLOOR(c_acctbal / 100) * 100 AS DOUBLE) AS c_acctbal
        |FROM customer
        |WHERE c_custkey % 7 <> 0
        |ORDER BY c_custkey""".stripMargin,

    // x84: the update replayed as a CASE over the source; published
    // count 2 (the staged DV never publishes); literal true pins the
    // base listing check.
    "x84_sql_update" ->
      """SELECT c_custkey,
        |  CASE WHEN c_acctbal < 0 THEN c_name || ' (credited)'
        |       ELSE c_name END AS c_name,
        |  CASE WHEN c_acctbal < 0 THEN c_acctbal + 100.0
        |       ELSE c_acctbal END AS c_acctbal,
        |  CAST(2 AS INT) AS n_versions,
        |  true AS base_files_untouched
        |FROM customer ORDER BY c_custkey""".stripMargin,

    // x109: both legs replay from source — the aligned v1 leg is the
    // plain int-cast corpus (upcast changes no value by definition),
    // the latest is the corpus doubled with the +3·10⁹ bigint
    // inserts; literal true pins the zero-file entry, the lossy
    // refusal, and the pinned-narrow/aligned-wide type split.
    "x109_sql_type_widening" ->
      """WITH leg AS (
        |  SELECT source, COUNT(*) AS n,
        |    CAST(SUM(CAST(n_chars AS INT)) AS BIGINT) AS charsum,
        |    CAST(SUM(doc_id) AS BIGINT) AS idsum
        |  FROM documents GROUP BY source)
        |SELECT CAST(1 AS INT) AS version, source, n, charsum, idsum,
        |  true AS lossy_refused, true AS pinned_narrow_aligned_wide
        |FROM leg
        |UNION ALL
        |SELECT CAST(3 AS INT), source, 2 * n,
        |  CAST(2 * charsum + n * 3000000000 AS BIGINT),
        |  CAST(2 * idsum + n * 1000000 AS BIGINT), true, true
        |FROM leg
        |ORDER BY version, source""".stripMargin,

    // x119: the three segments replay logically from lineitem — the
    // pre-evolution segment serves the declared defaults (constant
    // 0.5, generated qty % 7), the omitted-insert segment the
    // write-filled values (same expressions), the explicit segment
    // its supplied 1.5; the drop-refusal, no-default refusal, and
    // pinned-bare/aligned-defaulted witnesses ride as literals.
    "x119_column_defaults" ->
      """WITH t AS (
        |  SELECT l_returnflag AS flag, CAST(l_quantity AS BIGINT) AS qty,
        |    l_orderkey % 10 AS seg
        |  FROM lineitem),
        |w AS (SELECT flag, qty,
        |        CASE WHEN seg >= 7 THEN 1.5 ELSE 0.5 END AS score,
        |        qty % 7 AS qty_bucket
        |      FROM t)
        |SELECT flag, CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(SUM(qty) AS BIGINT) AS sum_qty,
        |  CAST(SUM(CAST(score AS DECIMAL(18,2))) AS DOUBLE) AS score_sum,
        |  CAST(SUM(qty_bucket) AS BIGINT) AS bucket_sum,
        |  true AS drop_refused, true AS omitted_no_default_refused,
        |  true AS pinned_bare_aligned_defaulted
        |FROM w GROUP BY flag
        |ORDER BY flag""".stripMargin,

    // x122: x121's replay — the final state is the full corpus; the
    // SQL-surface hold/vacuum/release lifecycle rides as literals
    "x122_sql_retention_holds" ->
      """SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS charsum,
        |  true AS held_survives_vacuum, true AS holds_visible,
        |  true AS released_collects
        |FROM documents GROUP BY source
        |ORDER BY source""".stripMargin,

    // x123: the per-version × op accounting replays logically from
    // the lineitem eighth — v1/v2 are the two loads' I rows, v4 is
    // the positional update's D pre-images + I images, v5 the
    // published delete's D pre-images at their post-update values
    "x123_sql_positional_feed" ->
      """WITH t AS (
        |  SELECT CAST(l_quantity AS BIGINT) AS qty,
        |    l_orderkey % 10 AS seg
        |  FROM lineitem WHERE l_orderkey % 8 = 0),
        |u1m AS (SELECT qty FROM t WHERE qty <= 3),
        |u1 AS (SELECT CASE WHEN qty <= 3 THEN qty + 100 ELSE qty END AS qty
        |       FROM t),
        |dl AS (SELECT qty FROM u1 WHERE qty BETWEEN 49 AND 50)
        |SELECT v, op, n, qtysum FROM (
        |  SELECT CAST(1 AS INT) AS v, 'I' AS op,
        |    CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(qty) AS BIGINT) AS qtysum
        |  FROM t WHERE seg < 5
        |  UNION ALL
        |  SELECT CAST(2 AS INT), 'I', CAST(COUNT(*) AS BIGINT),
        |    CAST(SUM(qty) AS BIGINT) FROM t WHERE seg >= 5
        |  UNION ALL
        |  SELECT CAST(4 AS INT), 'D', CAST(COUNT(*) AS BIGINT),
        |    CAST(SUM(qty) AS BIGINT) FROM u1m
        |  UNION ALL
        |  SELECT CAST(4 AS INT), 'I', CAST(COUNT(*) AS BIGINT),
        |    CAST(SUM(qty + 100) AS BIGINT) FROM u1m
        |  UNION ALL
        |  SELECT CAST(5 AS INT), 'D', CAST(COUNT(*) AS BIGINT),
        |    CAST(SUM(qty) AS BIGINT) FROM dl
        |) x
        |ORDER BY v, op""".stripMargin,

    // x107: the described catalog stated literally — column names,
    // SQL types and positions from the parquet schema, the partition
    // column from the head layout, the constraint text verbatim, the
    // head version; literal true pins the registry-clean drop and the
    // fresh rebirth at the dropped path.
    "x107_sql_describe_drop" ->
      """SELECT * FROM (VALUES
        |  ('column', 'c_acctbal', 'double', CAST(3 AS INT),
        |   true, true),
        |  ('column', 'c_custkey', 'bigint', CAST(1 AS INT), true, true),
        |  ('column', 'c_mktsegment', 'string', CAST(4 AS INT), true, true),
        |  ('column', 'c_name', 'string', CAST(2 AS INT), true, true),
        |  ('constraint', 'non_negative', 'c_acctbal >= -1000.0',
        |   CAST(NULL AS INT), true, true),
        |  ('head', 'version', '3', CAST(NULL AS INT), true, true),
        |  ('hidden', 'o_custkey', 'bucket(8)', CAST(NULL AS INT),
        |   true, true),
        |  ('hidden', 'o_orderdate', 'month', CAST(NULL AS INT),
        |   true, true),
        |  ('partition', 'c_mktsegment', 'hive', CAST(NULL AS INT),
        |   true, true))
        |  t(kind, name, detail, pos, dropped_clean, reborn_fresh)
        |ORDER BY kind, name""".stripMargin,

    // x104: every aligned leg replays from source — v1 and v2 are the
    // plain corpus (chars = the renamed n_chars; added-then-dropped
    // lang never reaches the aligned shape), the post-append latest is
    // the corpus doubled with the re-keyed insert; literal true pins
    // the zero-file listings, the historic own-name reads, and the
    // drop's resolution exclusion.
    "x104_sql_column_mapping" ->
      """WITH leg AS (
        |  SELECT source, COUNT(*) AS n,
        |    CAST(SUM(n_chars) AS BIGINT) AS charsum,
        |    CAST(SUM(doc_id) AS BIGINT) AS idsum
        |  FROM documents GROUP BY source)
        |SELECT CAST(1 AS INT) AS version, source, n, charsum, idsum,
        |  true AS historic_names, true AS drop_excluded FROM leg
        |UNION ALL
        |SELECT CAST(2 AS INT), source, n, charsum, idsum, true, true
        |FROM leg
        |UNION ALL
        |SELECT CAST(5 AS INT), source, 2 * n,
        |  CAST(2 * charsum AS BIGINT),
        |  CAST(2 * idsum + n * 1000000 AS BIGINT), true, true
        |FROM leg
        |ORDER BY version, source""".stripMargin
  )
}
