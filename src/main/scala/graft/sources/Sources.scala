package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** Source/sink surface beyond the fixture parquet (SURVEY.md §2.1):
  * schema-enforced readers and append/overwrite writers for the
  * formats the reference touches — parquet (stage checkpoints,
  * data/config.py:13-17), JSON (the append-only history log,
  * backend/app.py:42-71), CSV (generic tabular interchange).
  *
  * Readers take an explicit schema — at 100 TB, schema inference is
  * a full extra pass over the data; explicit schemas also pin
  * nullability so downstream plans don't change shape between runs.
  */
object Sources {

  def readCsv(spark: SparkSession, path: String, schema: StructType,
              header: Boolean = true): DataFrame =
    spark.read.schema(schema)
      .option("header", header.toString)
      .option("mode", "PERMISSIVE") // malformed rows → nulls (P6 semantics)
      .csv(path)

  def readJsonl(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .json(path)

  def writeParquet(df: DataFrame, path: String,
                   mode: SaveMode = SaveMode.Overwrite,
                   partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode(mode)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path)
  }

  def writeCsv(df: DataFrame, path: String, mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).option("header", "true").csv(path)

  /** S7 — append-only JSON-lines log (one file set per append). */
  def appendJsonl(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Append).json(path)

  /** `df`'s rows as JSON lines from Spark's own JSON generator, so
    * field names, omitted null fields and the timestamp format match
    * what [[appendJsonl]] writes. Over a driver-local DataFrame the
    * optimizer folds the projection into the local relation: no Spark
    * job runs. */
  def jsonLines(df: DataFrame): Seq[String] = {
    import org.apache.spark.sql.functions.{col, struct, to_json}
    df.select(to_json(struct(col("*")))).collect().map(_.getString(0)).toSeq
  }

  /** Driver-side append of a few JSON lines to the log at `path`, the
    * small-record twin of [[appendJsonl]]: each call adds one
    * `part-<uuid>.json`, written under a hidden temp name (which
    * `spark.read.json` skips) and renamed into place. Readers never see
    * a partial file and concurrent appends never share a name. */
  def appendJsonLines(spark: SparkSession, lines: Seq[String], path: String): Unit = {
    val dir = new org.apache.hadoop.fs.Path(path)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val name = s"part-${java.util.UUID.randomUUID()}.json"
    val tmp = new org.apache.hadoop.fs.Path(dir, s".$name.tmp")
    try {
      val out = fs.create(tmp, false)
      try out.write(lines.map(_ + "\n").mkString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      if (!fs.rename(tmp, new org.apache.hadoop.fs.Path(dir, name)))
        throw new java.io.IOException(s"could not publish $name under $path")
    } catch { case e: Throwable => fs.delete(tmp, false); throw e }
  }

  /** Write a table bucketed+sorted on a join key. Joining two tables
    * bucketed the same way needs NO shuffle on either side — the
    * pre-partitioning pattern for repeated big-big joins (e.g.
    * chunks⋈papers at every query). Requires a catalog table
    * (`saveAsTable`), not a bare path.
    */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
                    numBuckets: Int): Unit = {
    val spark = df.sparkSession
    // A warehouse directory left by a PREVIOUS session's metastore is
    // invisible to this catalog but still blocks the managed-table
    // location (LOCATION_ALREADY_EXISTS) — drop both the entry and
    // any stale directory before writing.
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    val loc = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), table.toLowerCase)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(numBuckets, bucketCol)
      .sortBy(bucketCol)
      .format("parquet")
      .saveAsTable(table)
  }

  private def listParquetFiles(fs: org.apache.hadoop.fs.FileSystem,
                               path: org.apache.hadoop.fs.Path) =
    fs.listStatus(path)
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))

  /** Training-shard delivery writer — the LAST step of a data
    * pipeline: emit the corpus as `numShards` range-partitioned,
    * internally sorted parquet shards plus a `_manifest.json`
    * consumers read instead of listing the directory. The manifest
    * lists files in KEY ORDER, each with its byte size, row count,
    * and inclusive [min_key, max_key] bounds — that per-shard bound
    * list IS the membership contract: a reader binary-searches it to
    * find the shard(s) holding a key. Shard boundaries come from
    * Spark's range-exchange sampling (size-balanced, but not
    * bit-stable across runs — consumers must key off the manifest
    * bounds, never remembered boundaries). `maxRecordsPerFile`
    * bounds any single file for loaders that stream whole files;
    * split files of one shard are themselves sorted and
    * non-overlapping, so the global key order holds file-to-file.
    * Stats cost one aggregation pass over the written shards (which
    * also yields `n_rows` — no separate count job). Returns the
    * number of data files written.
    */
  def writeShards(df: DataFrame, outDir: String, sortCol: String,
                  numShards: Int, maxRecordsPerFile: Long = 0L): Int = {
    require(numShards >= 1, "writeShards: numShards must be >= 1")
    val spark = df.sparkSession
    import org.apache.spark.sql.functions.{col, count, input_file_name, lit, max, min}
    val w = df.repartitionByRange(numShards, col(sortCol))
      .sortWithinPartitions(sortCol)
      .write.mode(SaveMode.Overwrite)
    (if (maxRecordsPerFile > 0) w.option("maxRecordsPerFile", maxRecordsPerFile)
     else w).parquet(outDir)
    val path = new org.apache.hadoop.fs.Path(outDir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytesByName = listParquetFiles(fs, path)
      .map(f => f.getPath.getName -> f.getLen).toMap
    // one pass over the written output: per-file rows + key bounds
    val stats = spark.read.parquet(outDir)
      .select(input_file_name().as("f"), col(sortCol).as("k"))
      .groupBy(col("f"))
      .agg(count(lit(1)).as("rows"), min(col("k")).as("kmin"), max(col("k")).as("kmax"))
      .collect()
      .map(r => (new org.apache.hadoop.fs.Path(r.getString(0)).getName,
        r.getLong(1), r.get(2), r.get(3)))
      // KEY order, not filename order: part-%05d / -c%03d counters
      // wrap lexicographically past 99999 shards / 999 splits. A
      // nullable sortCol range-sorts its nulls into the first shard,
      // so min bounds can be null — order those first, never deref.
      .sortWith { (a, b) =>
        (a._3, b._3) match {
          case (null, null) => false
          case (null, _)    => true
          case (_, null)    => false
          case (x, y)       => x.asInstanceOf[Comparable[Any]].compareTo(y) < 0
        }
      }
    def jval(v: Any): String = v match {
      case null                 => "null"
      case n: java.lang.Number  => n.toString
      case other => graft.util.Jsons.quote(String.valueOf(other))
    }
    val nRows = stats.map(_._2).sum
    val manifest = stats.map { case (name, rows, kmin, kmax) =>
      s"""{"file":${graft.util.Jsons.quote(name)},"bytes":${bytesByName(name)},""" +
        s""""rows":$rows,"min_key":${jval(kmin)},"max_key":${jval(kmax)}}"""
    }.mkString(
      s"""{"sort_col":${graft.util.Jsons.quote(sortCol)},"n_shards":$numShards,""" +
        s""""n_rows":$nRows,"files":[""", ",", "]}\n")
    val out = fs.create(new org.apache.hadoop.fs.Path(path, "_manifest.json"), true)
    try out.write(manifest.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    stats.length
  }

  /** Small-files compaction — the table-maintenance operator every
    * long-running ingest needs: streaming/micro-batch sinks and
    * per-stage checkpoints accumulate thousands of KB-sized files,
    * and at 100 TB the resulting task-per-file scheduling + NameNode
    * pressure dominate scan cost. Rewrites `inDir` to `outDir` as
    * ⌈totalBytes / targetBytes⌉ files via `coalesce` (no shuffle —
    * partition merge only; use `repartition` instead when output
    * skew matters more than the shuffle). Returns the output file
    * count.
    */
  def compactParquet(spark: SparkSession, inDir: String, outDir: String,
                     targetBytes: Long = 128L * 1024 * 1024): Int = {
    val path = new org.apache.hadoop.fs.Path(inDir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val totalBytes = listParquetFiles(fs, path).map(_.getLen).sum
    val n = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    spark.read.parquet(inDir).coalesce(n)
      .write.mode(SaveMode.Overwrite).parquet(outDir)
    listParquetFiles(fs, new org.apache.hadoop.fs.Path(outDir)).length
  }

  /** Manifest-pruned range read — the reader twin of [[writeShards]]
    * and the zone-map data-skipping move: because shards are range-
    * partitioned and the manifest records each file's inclusive
    * [min_key, max_key], a range predicate needs to OPEN only the
    * files whose bounds overlap it. At 100 TB this is the difference
    * between listing+footer-reading every file of a delivery table
    * and a driver-side scan of one manifest line per file (the same
    * contract Delta/Iceberg file-level stats provide, expressed over
    * plain parquet + JSON). The residual `between` filter still runs
    * on the selected files — pruning is a superset selection, never
    * a correctness dependency; parquet row-group stats then skip
    * within each file. Bounds compare as exact decimals for numeric
    * keys (Jackson preserves int64 precision; json-inference would
    * round through double) and as strings otherwise — matching the
    * manifest writer's two jval shapes. Files whose min bound is
    * null hold the nulls-first head shard: null keys match no range
    * predicate, but the file may also hold real keys up to its max,
    * so it prunes on max alone. Returns (filtered rows, files read,
    * files total) so callers and specs can see the skip ratio.
    */
  def readShardRange(spark: SparkSession, dir: String,
                     lower: Any, upper: Any): (DataFrame, Int, Int) = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(new org.apache.hadoop.fs.Path(path, "_manifest.json"))
    val manifest =
      try new com.fasterxml.jackson.databind.ObjectMapper().readTree(in)
      finally in.close()
    val sortCol = manifest.get("sort_col").asText()
    def dec(n: com.fasterxml.jackson.databind.JsonNode): java.math.BigDecimal =
      n.decimalValue()
    def cmp(a: com.fasterxml.jackson.databind.JsonNode, b: Any): Int =
      b match {
        case num: java.lang.Number =>
          dec(a).compareTo(new java.math.BigDecimal(num.toString))
        case other => a.asText().compareTo(String.valueOf(other))
      }
    val files = manifest.get("files").elements()
    val (keep, total) = {
      var kept = List.newBuilder[String]; var n = 0
      while (files.hasNext) {
        val f = files.next(); n += 1
        val mn = f.get("min_key"); val mx = f.get("max_key")
        // all-null shard (max null): holds no key in any range.
        // null min: treat as -inf — prune on max alone.
        val overlaps = !mx.isNull &&
          cmp(mx, lower) >= 0 && (mn.isNull || cmp(mn, upper) <= 0)
        if (overlaps) kept += new org.apache.hadoop.fs.Path(path, f.get("file").asText()).toString
      }
      (kept.result(), n)
    }
    import org.apache.spark.sql.functions.{col, lit}
    val df =
      if (keep.isEmpty) spark.read.parquet(dir).limit(0)
      else spark.read.parquet(keep: _*)
        .filter(col(sortCol).between(lit(lower), lit(upper)))
    (df, keep.size, total)
  }
}

/** MINIMAL COPY-ON-WRITE SNAPSHOT LOG — the time-travel /
  * snapshot-isolation core of a lakehouse table format (the central
  * Delta/Iceberg idea reduced to its load-bearing parts):
  *
  *  - a commit writes a NEW immutable data directory `v<N>-<writer>/`
  *    (writer-unique suffix: two racing commits can never scribble
  *    into one directory) and only then publishes the per-version log
  *    entry `_entry_v<N>.json` — old version files are never touched,
  *    so a reader pinned to version N is unaffected by any later
  *    commit (snapshot isolation by construction, x24's oracle proves
  *    it as a hash check);
  *  - the log is the SET of entry files and is the visibility point:
  *    version N exists iff `_entry_v<N>.json` does, so a crashed
  *    half-written data directory without its entry is invisible
  *    garbage, never a torn read — and because entry publication is
  *    CREATE-EXCLUSIVE (see [[tryPublishEntry]]), creating the entry
  *    is a conditional put: whoever creates `_entry_v<N>.json` owns
  *    version N, across threads AND across processes. This is the
  *    Delta-log commit protocol (one immutable JSON per version,
  *    claimed by atomic create) rather than a rewritten whole-log
  *    file, which could lose entries under concurrent
  *    read-modify-rename no matter how it was fenced;
  *  - readers resolve `latest` (or an explicit `asOf`) from the
  *    entry listing — manifest-sized metadata, one small listing
  *    before the scan.
  *
  * Concurrency contract (executable in SnapshotsSpec, not prose):
  * plain commits from concurrent writers serialize by retrying the
  * next version number until their entry create wins — all land, in
  * some order; `expectedVersion` commits win iff they claim entry
  * `expected+1`, else raise [[ConcurrentCommitException]] (lost-update
  * detection with no shared JVM state — the old process-wide
  * `commitMonitor` is gone because the filesystem primitive itself is
  * the fence). Admin operations ([[publish]], [[vacuum]]) are
  * single-admin by contract, as in production formats.
  *
  * At 100 TB the version unit would be file-level deltas rather than
  * full directory rewrites, and entry publication maps onto the log
  * store's native conditional put (HDFS create-no-overwrite is
  * NameNode-atomic; S3 needs the commit-service/conditional-put
  * shim every production Delta deployment uses); the visibility and
  * claim contracts are identical.
  */
/** Raised when a [[Snapshots.commit]] with `expectedVersion` loses an
  * optimistic-concurrency race: the log advanced past the version the
  * commit was planned against, so applying it would silently clobber
  * the interleaved writer's result (lost update). The caller re-reads,
  * re-plans against the new latest, and retries — the standard
  * conditional-put commit loop of every production table format. */
final class ConcurrentCommitException(msg: String)
  extends IllegalStateException(msg)

/** Raised when [[Snapshots.txnCommit]] finds its transaction already
  * decided ABORTED (or [[Snapshots.txnAbort]] finds it committed): the
  * single marker file is the decision record, created exclusively, so
  * exactly one outcome ever exists for a transaction id. */
final class TxnDecidedException(msg: String)
  extends IllegalStateException(msg)

/** Raised when a SQL mutation's new images violate a CHECK constraint
  * registered in the table's log ([[Snapshots.addCheckConstraint]]) —
  * the write refuses BEFORE its commit, so a constrained table can
  * never serve a violating row. */
final class ConstraintViolationException(msg: String)
  extends IllegalArgumentException(msg)

object Snapshots {

  private def fsOf(spark: SparkSession, dir: String) = {
    val p = new org.apache.hadoop.fs.Path(dir)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  private val EntryName = """^_entry_v(\d+)\.json$""".r
  private val CkptName = """^_ckpt_v(\d+)\.json$""".r

  /** Parsed log entries, one per committed version, ascending (empty
    * if no table). The log is the set of `_entry_v<N>.json` files —
    * temp files from crashed publications (`.tmp*` suffix) never
    * match the entry pattern, so a torn publication is invisible by
    * construction — OVERLAID on the newest CHECKPOINT if one exists
    * (x49, Delta's `_last_checkpoint` contract): the checkpoint
    * carries every entry up to its version in one file, individual
    * entry files above it (or republished below it) are read
    * per-file, and a live entry FILE always beats the checkpoint's
    * copy of the same version (publish flips entries after a
    * checkpoint; the file is fresher). After [[pruneLogEntries]] the
    * per-read cost is one checkpoint read + the tail — O(Δ) instead
    * of O(history). */
  private def logEntries(spark: SparkSession, dir: String)
      : Seq[com.fasterxml.jackson.databind.JsonNode] = {
    val (fs, p) = fsOf(spark, dir)
    if (!fs.exists(p)) Seq.empty
    else {
      val m = new com.fasterxml.jackson.databind.ObjectMapper()
      def readJson(f: org.apache.hadoop.fs.Path) = {
        val in = fs.open(f)
        try m.readTree(new String(
          in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8))
        finally in.close()
      }
      val listing = fs.listStatus(p).toSeq.filter(_.isFile)
      val fileEntries = listing
        .filter(f => EntryName.findFirstIn(f.getPath.getName).isDefined)
        .map(f => readJson(f.getPath))
      val ckpts = listing
        .flatMap(f => CkptName.findFirstMatchIn(f.getPath.getName)
          .map(mm => mm.group(1).toInt -> f.getPath))
      val fromCkpt =
        if (ckpts.isEmpty) Seq.empty
        else {
          val have = fileEntries.map(_.get("version").asInt()).toSet
          val arr = readJson(ckpts.maxBy(_._1)._2).get("entries")
          (0 until arr.size).map(arr.get)
            .filterNot(n => have.contains(n.get("version").asInt()))
        }
      (fromCkpt ++ fileEntries).sortBy(_.get("version").asInt())
    }
  }

  /** NIO path when the table lives on the local filesystem (the
    * test/bench environment), None for remote stores. */
  private def localDir(fs: org.apache.hadoop.fs.FileSystem,
                       p: org.apache.hadoop.fs.Path): Option[java.nio.file.Path] =
    if (fs.getScheme == "file")
      Some(java.nio.file.Paths.get(fs.makeQualified(p).toUri.getPath))
    else None

  /** CONDITIONAL PUT of one version's log entry: returns true iff
    * THIS caller created `_entry_v<version>.json` — the atomic claim
    * that makes commits multi-writer-safe across processes.
    *
    * Local FS: the entry text is written to a private temp file and
    * published via `Files.createLink` — `link(2)` fails with EEXIST
    * atomically in the kernel, so exactly one of any number of racing
    * publishers (threads OR processes) wins, and the winner's entry
    * appears fully written (the content rode in on the link; there is
    * no moment where a claimed-but-torn entry exists). Hadoop's local
    * `create(path, overwrite=false)` is check-then-create (a TOCTOU
    * window) and a direct exclusive create+write could crash torn —
    * the hardlink shape has neither hole.
    *
    * Remote stores: `fs.create(path, overwrite=false)` — on HDFS the
    * exclusive create is a single NameNode transaction (the claim is
    * atomic; a crash mid-write leaves a zero-or-partial entry that
    * log repair handles, exactly Delta-on-HDFS's documented shape). */
  private[graft] def tryPublishEntry(fs: org.apache.hadoop.fs.FileSystem,
                                     p: org.apache.hadoop.fs.Path,
                                     version: Int, json: String): Boolean =
    tryCreateExclusive(fs, p, s"_entry_v$version.json", json)

  /** The underlying CONDITIONAL PUT of any one-shot metadata file
    * (version entries, transaction decision markers): returns true iff
    * THIS caller created `name` under `p` — see [[tryPublishEntry]]'s
    * scaladoc for why the local-FS path uses `link(2)` and remote
    * stores use exclusive create. */
  private[graft] def tryCreateExclusive(fs: org.apache.hadoop.fs.FileSystem,
                                        p: org.apache.hadoop.fs.Path,
                                        name: String, json: String): Boolean = {
    localDir(fs, p) match {
      case Some(nioDir) =>
        val tmp = nioDir.resolve(
          name + ".tmp" + java.util.UUID.randomUUID().toString.take(8))
        java.nio.file.Files.writeString(tmp, json)
        try {
          java.nio.file.Files.createLink(nioDir.resolve(name), tmp)
          true
        } catch {
          case _: java.nio.file.FileAlreadyExistsException => false
        } finally java.nio.file.Files.deleteIfExists(tmp)
      case None =>
        val entry = new org.apache.hadoop.fs.Path(p, name)
        val out =
          try fs.create(entry, false)
          catch {
            case _: org.apache.hadoop.fs.FileAlreadyExistsException => return false
            case _: java.io.IOException if fs.exists(entry) => return false
          }
        // The claim succeeded the moment create returned; a failure
        // writing/closing AFTER that would otherwise leave a torn
        // entry squatting this name forever (no log repair exists) —
        // claim-then-clean: delete the entry THIS caller created and
        // rethrow, so the name is free for the next attempt.
        try {
          try out.write(json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          finally out.close()
          true
        } catch {
          case e: Throwable => fs.delete(entry, false); throw e
        }
    }
  }

  /** Atomic REPLACEMENT of an existing entry's content (publish's
    * metadata-only flip): write temp, rename over. Single-admin by
    * contract — replacement is never a claim. */
  private def replaceEntry(fs: org.apache.hadoop.fs.FileSystem,
                           p: org.apache.hadoop.fs.Path,
                           version: Int, json: String): Unit =
    replaceEntryFile(fs, p, s"_entry_v$version.json", json)

  private def replaceEntryFile(fs: org.apache.hadoop.fs.FileSystem,
                               p: org.apache.hadoop.fs.Path,
                               name: String, json: String): Unit = {
    val tmp = new org.apache.hadoop.fs.Path(p,
      name + ".tmp" + java.util.UUID.randomUUID().toString.take(8))
    val out = fs.create(tmp, true)
    try out.write(json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    val entry = new org.apache.hadoop.fs.Path(p, name)
    if (!fs.rename(tmp, entry)) {
      // some FileSystem impls refuse rename-onto-existing
      fs.delete(entry, false)
      require(fs.rename(tmp, entry), s"could not replace entry $entry")
    }
  }

  /** PUBLISHED version numbers, ascending (empty if no log). Staged
    * (write-audit-publish) versions are excluded — to every reader
    * they do not exist until [[publish]] flips the flag — and a
    * txn-staged version counts published exactly when its
    * transaction's decision marker says committed. */
  def versions(spark: SparkSession, dir: String): Seq[Int] =
    logEntries(spark, dir)
      .filter(isPublishedEntry(spark, _))
      .map(_.get("version").asInt()).sorted

  /** Every version in the log, staged included (the writer's view;
    * [[versions]] is the reader's). */
  def allVersions(spark: SparkSession, dir: String): Seq[Int] =
    logEntries(spark, dir).map(_.get("version").asInt()).sorted

  /** Write `df` as the next version; returns its number (1-based).
    * `partitionBy` commits a hive-partitioned layout (the x26
    * compaction target: one directory per partition value) — reads
    * restore the partition columns, and the log metadata lists files
    * recursively so partitioned and flat commits carry the same
    * accounting. */
  def commit(df: DataFrame, dir: String,
             partitionBy: Seq[String] = Nil): Int = {
    val v = writeVersion(df, dir, partitionBy, extraMeta = "")
    // opt-in auto-ANALYZE (x79): a full commit recomputes the stats
    // state from the version's own landed files — no-op unless the
    // dir is registered
    graft.ops.AutoAnalyze.afterCommit(df.sparkSession, dir, v, base = None)
    graft.ops.AutoOptimize.afterCommit(df.sparkSession, dir)
    graft.ops.Retention.afterCommit(df.sparkSession, dir)
    v
  }

  /** OPTIMISTIC-CONCURRENCY commit: land `df` as the next version
    * ONLY if the log still ends at `expectedVersion` (the version this
    * commit was planned against). The data files are staged to a
    * writer-unique directory first; at the commit point the log is
    * re-read and, if any other writer advanced it, the staged files
    * are discarded and [[ConcurrentCommitException]] is raised —
    * never a silent last-wins overwrite of the interleaved commit.
    * `expectedVersion = 0` commits only into an empty table. The
    * check-and-publish step is the create-exclusive claim of entry
    * `expected+1` ([[tryPublishEntry]]) — atomic across threads AND
    * processes, with no shared JVM state: two independent committers
    * through two FileSystem instances yield exactly one winner
    * (SnapshotsSpec proves it at the claim primitive and end to
    * end). */
  def commit(df: DataFrame, dir: String, expectedVersion: Int): Int = {
    val v = writeVersion(df, dir, Nil, extraMeta = "",
      expected = Some(expectedVersion))
    graft.ops.AutoAnalyze.afterCommit(df.sparkSession, dir, v, base = None)
    graft.ops.AutoOptimize.afterCommit(df.sparkSession, dir)
    graft.ops.Retention.afterCommit(df.sparkSession, dir)
    v
  }

  /** Commit a DELETION VECTOR: `keys` (any key-column subset of the
    * base's schema) names the rows logically deleted from version
    * `base`. Only the key rows are written — the base's data files
    * are never rewritten or touched (x27 proves it from the file
    * listing), which is the whole point at 100 TB: a GDPR-style
    * delete of a few million rows costs a key-sized write, not a
    * corpus rewrite. Readers resolve the version through
    * [[readResolved]] (base anti-join keys) — the merge-on-read
    * contract of Delta deletion vectors / Iceberg equality deletes
    * reduced to its load-bearing parts.
    *
    * `staged = true` lands the DV invisible to `latest` (the WAP
    * flag): x58's merge-on-read MERGE stages its mask DV and then
    * publishes ONE append whose base chain runs through it — the
    * append's entry is the atomic commit point, so no reader ever
    * sees the deletes without the new images. A crash in between
    * leaves an invisible staged ghost for [[vacuum]].
    *
    * `expected` is the OCC CAS (same contract as the expectedVersion
    * [[commit]]): the DV lands ONLY if the published head is still
    * `expected`, else [[ConcurrentCommitException]]. Without it a
    * writer that lands an append between this delete's base read and
    * its publish is silently orphaned — the DV's entry becomes the
    * new head and every subsequent `latest` resolution chains through
    * it to the OLD base, dropping the interleaved commit's rows (the
    * lost-update anomaly x51/x91/x105 exist to prevent). SQL DELETE
    * passes `Some(base)` and retries; callers that audit commutation
    * themselves ([[commitDeletesCommuting]]) pass their own head. */
  def commitDeletes(keys: DataFrame, dir: String, base: Int,
                    staged: Boolean = false,
                    expected: Option[Int] = None): Int = {
    require(allVersions(keys.sparkSession, dir).contains(base),
      s"delete base v$base not committed under $dir")
    val v = writeVersion(keys, dir, Nil, extraMeta =
      s""","kind":"deletes","base":$base""" +
        (if (staged) ""","staged":true""" else ""),
      expected = expected)
    // retention hook only on a reader-visible commit: a staged DV is
    // x58's invisible half — its publish point (the chained append)
    // dispatches the hook itself
    if (!staged) graft.ops.Retention.afterCommit(keys.sparkSession, dir)
    v
  }

  /** Position-delete addressing columns (x111). */
  val PosFileCol = "_file"
  val PosIdxCol = "_pos"

  /** POSITION DELETES (x111 — Iceberg v2's SECOND delete format, for
    * KEYLESS tables where an equality delete cannot name rows): the
    * delete is a set of (table-relative file, within-file row
    * position) pairs against the base chain's physical files, landed
    * merge-on-read — base files untouched, resolution is a
    * (file,pos) anti-join over the row index the parquet scan
    * already maintains (`_metadata.row_index` — Spark's native
    * per-file numbering, the same dense global-index idea
    * GlobalIndexExec implements for query output). The entry records
    * the TOUCHED FILE SET, so the x105 commutation audit can decide
    * posdelete∥posdelete conflicts at Iceberg's file granularity
    * from log metadata alone.
    *
    * [[readResolvedPos]] serves a data/append/posdeletes chain with
    * `_file`/`_pos` attached — the addressing space deletes live in;
    * [[positionsOf]] compiles a predicate to positions (DELETE WHERE
    * for keyless tables); plain [[readResolved]] serves the resolved
    * rows. At 100 TB: a position delete costs its own (delete-sized)
    * write; readers pay one hash anti-join keyed (file,pos) — and
    * the file component prunes to the touched files. */
  def commitPositionDeletes(positions: DataFrame, dir: String, base: Int,
                            staged: Boolean = false): Int = {
    val spark = positions.sparkSession
    require(allVersions(spark, dir).contains(base),
      s"position-delete base v$base not committed under $dir")
    require(positions.columns.sorted.toSeq == Seq(PosFileCol, PosIdxCol),
      s"positions must be exactly ($PosFileCol, $PosIdxCol), " +
        s"got ${positions.columns.mkString(",")}")
    // the touched file list rides in the entry — manifest-sized (the
    // files this delete addresses), Iceberg's conflict granularity
    val files = positions.select(PosFileCol).distinct()
      .collect().map(_.getString(0)).sorted
    val v = writeVersion(positions, dir, Nil, extraMeta =
      s""","kind":"posdeletes","base":$base""" +
        s""","pfiles":[${files.map(jstr).mkString(",")}]""" +
        (if (staged) ""","staged":true""" else ""))
    if (!staged) graft.ops.Retention.afterCommit(spark, dir)
    v
  }

  /** The (file, pos) addresses of the rows matching `pred` at
    * `version` — DELETE WHERE compiled to position deletes. */
  def positionsOf(spark: SparkSession, dir: String, version: Int,
                  pred: org.apache.spark.sql.Column): DataFrame =
    readResolvedPos(spark, dir, Some(version)).filter(pred)
      .select(org.apache.spark.sql.functions.col(PosFileCol),
        org.apache.spark.sql.functions.col(PosIdxCol))

  /** Resolve a data/append/posdeletes chain WITH the position-delete
    * addressing attached: every row carries `_file` (table-relative
    * data-file path) and `_pos` (its row index within that file).
    * Kinds that rewrite or logically re-derive rows (replace,
    * equality deletes, clone, restore, alter) have no stable file
    * positions to serve — they raise; position deletes are the
    * keyless APPEND-ONLY table's delete format, exactly Iceberg's
    * primary use. */
  def readResolvedPos(spark: SparkSession, dir: String,
                      asOf: Option[Int] = None): DataFrame = {
    val byV = logEntries(spark, dir)
      .map(n => n.get("version").asInt() -> n).toMap
    val published = versions(spark, dir)
    val v0 = asOf.getOrElse {
      require(published.nonEmpty, s"no committed versions under $dir")
      published.last
    }
    require(byV.contains(v0), s"version $v0 not in log under $dir")
    def resolve(v: Int): DataFrame = {
      val n = byV(v)
      Option(n.get("kind")).map(_.asText()).getOrElse("data") match {
        case "data" => physicalWithPos(spark, dir, n)
        case "append" =>
          resolve(n.get("base").asInt())
            .unionByName(physicalWithPos(spark, dir, n))
        case "posdeletes" =>
          resolve(n.get("base").asInt()).join(
            readVersionDf(spark, dir, n), Seq(PosFileCol, PosIdxCol),
            "left_anti")
        case other => sys.error(
          s"position-delete resolution serves data/append/posdeletes " +
            s"chains; v$v under $dir is '$other' (no stable file positions)")
      }
    }
    resolve(v0)
  }

  /** One physical version's rows + (relative file, row index). */
  private def physicalWithPos(spark: SparkSession, dir: String,
      n: com.fasterxml.jackson.databind.JsonNode): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    val vdir = s"$dir/${entryDataDir(n)}"
    val df = Option(n.get("schema")).map(_.asText()) match {
      case Some(sj) =>
        val st = org.apache.spark.sql.types.DataType.fromJson(sj)
          .asInstanceOf[StructType]
        spark.read.schema(st).parquet(vdir)
          .select((st.fieldNames.toSeq.map(col) :+ col("_metadata")): _*)
      case None => spark.read.parquet(vdir)
        .select(col("*"), col("_metadata"))
    }
    val dataCols = df.columns.filterNot(_ == "_metadata").toSeq
    // table-relative path: strip everything above the version's data
    // dir — positions must survive a table relocation, like Iceberg's
    // relative file paths. ANCHORED to this entry's recorded dir name
    // (writer-suffixed, so effectively unique), not a first-match
    // `v<digits>` regex: a table rooted under a parent directory that
    // itself looks like a version component (/data/v2/warehouse/tbl)
    // must not leak the parent prefix into `_file` — that would break
    // relocation invariance and the `startsWith("v1-")` file
    // conventions the pfiles conflict sets rely on.
    val marker = s"/${entryDataDir(n)}/"
    require(!marker.contains("'"),
      s"version data dir ${entryDataDir(n)} contains a quote")
    df.select(dataCols.map(col) ++ Seq(
      expr(s"substring(_metadata.file_path, " +
        s"instr(_metadata.file_path, '$marker') + 1)").as(PosFileCol),
      col("_metadata.row_index").as(PosIdxCol)): _*)
  }

  /** POSITION-DELETE COMPACTION (x115 — Iceberg's
    * `rewrite_position_delete_files` maintenance): fold the head's
    * contiguous run of position-delete versions into ONE equivalent
    * delete version chained directly below the run. Anti-joins
    * compose — (A∖P₁)∖P₂ = A∖(P₁∪P₂) — so the served state is
    * unchanged; the entry lands dataChange=false (maintenance feeds
    * no CDC), carries the UNION file list for the OCC audit, and a
    * reader's resolution drops from N anti-joins to one. The folded
    * versions stay time-travelable until retention collects them.
    * Cost: the folded delete files' own rows — never the table. */
  def compactPositionDeletes(spark: SparkSession, dir: String): Int = {
    val byV = logEntries(spark, dir)
      .map(n => n.get("version").asInt() -> n).toMap
    val head = versions(spark, dir).last
    var v = head
    val run = Seq.newBuilder[com.fasterxml.jackson.databind.JsonNode]
    while (Option(byV(v).get("kind")).exists(_.asText() == "posdeletes")) {
      run += byV(v)
      v = byV(v).get("base").asInt()
    }
    val folded = run.result()
    require(folded.size >= 2,
      s"nothing to compact under $dir: the head run holds " +
        s"${folded.size} position-delete version(s)")
    val union = folded.map(readVersionDf(spark, dir, _))
      .reduce(_ unionByName _).distinct()
    val files = union.select(PosFileCol).distinct()
      .collect().map(_.getString(0)).sorted
    writeVersion(union, dir, Nil, extraMeta =
      s""","kind":"posdeletes","base":$v,"dataChange":false""" +
        s""","pfiles":[${files.map(jstr).mkString(",")}]""",
      expected = Some(head))
  }

  /** POSITIONAL UPDATE (x117 — merge-on-read UPDATE for KEYLESS
    * tables, x58's MOR pair expressed in position space): the rows
    * at `positions` are replaced by `images` as ONE atomic flip — a
    * STAGED position-delete (invisible to every `latest` reader)
    * chained under one atomic append of the new images; before the
    * append lands readers serve the base untouched, after it they
    * serve base ∖ positions ∪ images, and no reader can observe the
    * deleted-but-not-yet-updated middle state. This is the UPDATE
    * equality-MERGE cannot express: with two bit-identical rows, it
    * updates exactly ONE. Feed caveat (x58's documented shape): the
    * published append feeds the new images as I rows; the staged
    * delete's D half is served position-aware by [[stepChangesPos]]
    * (x118), so keyless CDC consumers replay it as a (file,pos)
    * anti-join — keyed tables should keep using MERGE. Returns
    * (dvVersion, appendVersion).
    *
    * The publish append carries an `expected = Some(base)` CAS: the
    * update lands ONLY if the published head is still the version the
    * positions were compiled against. This is not optional for
    * position space — an interleaved commit both orphans the
    * interleaved rows (the MOR lost-update anomaly) AND may have
    * rewritten the very files the (file,pos) addresses name. On
    * [[ConcurrentCommitException]] the staged DV is left as an
    * invisible ghost (vacuum collects it, same as a crash) and the
    * caller re-plans positions against the new head. */
  def commitPositionUpdate(spark: SparkSession, dir: String,
                           positions: DataFrame, images: DataFrame,
                           base: Int): (Int, Int) = {
    val dv = commitPositionDeletes(positions, dir, base, staged = true)
    val v = commitAppend(images, dir, base = dv, expected = Some(base))
    (dv, v)
  }

  /** OCC position delete (x111's x105 arm): land a position delete
    * planned against `base` past interleaved commits that COMMUTE —
    * appends (new files; these positions address existing ones),
    * layout re-lands, and other position deletes whose recorded
    * FILE SETS are disjoint (Iceberg's file-granularity conflict
    * check, decided from log metadata alone). Equality deletes,
    * replaces, and full commits rewrite the addressed state — raise
    * and re-plan. */
  def commitPositionDeletesCommuting(positions: DataFrame, dir: String,
                                     base: Int,
                                     maxAttempts: Int = 50): Int = {
    val spark = positions.sparkSession
    require(versions(spark, dir).contains(base),
      s"position-delete base v$base not published under $dir")
    val files = positions.select(PosFileCol).distinct()
      .collect().map(_.getString(0)).sorted
    var attempts = 0
    while (true) {
      attempts += 1
      require(attempts <= maxAttempts,
        s"commutation retry budget exhausted under $dir")
      val head = versions(spark, dir).last
      if (head != base) requireCommutesDownTo(spark, dir, head, base,
        myKind = "posdeletes", myFiles = Some(files.toSet))
      try {
        return writeVersion(positions, dir, Nil, extraMeta =
          s""","kind":"posdeletes","base":$head""" +
            s""","pfiles":[${files.map(jstr).mkString(",")}]""",
          expected = Some(head))
      } catch {
        case _: ConcurrentCommitException => // re-audit at the new head
      }
    }
    -1 // unreachable
  }

  /** Commit an APPEND: `df` holds ONLY the new rows; version `base`'s
    * whole state rides along logically — THE most common lakehouse
    * commit (a nightly ingest lands its batch without touching,
    * reading, or rewriting any existing file; x55 proves base
    * immutability from the file listing). Readers resolve through
    * [[readResolved]] (base ∪ appended rows). `partitionBy` lays out
    * the appended files independently of the base's layout — which is
    * exactly what incremental OPTIMIZE exploits: re-landing the same
    * logical rows in a better layout is just another append against
    * the same base (the dataChange=false commit of Delta's OPTIMIZE),
    * never a base rewrite. */
  def commitAppend(df: DataFrame, dir: String, base: Int,
                   partitionBy: Seq[String] = Nil,
                   dataChange: Boolean = true,
                   expected: Option[Int] = None): Int = {
    // allVersions: an append may chain through a STAGED base (x58's
    // merge-on-read publish point rides a staged DV)
    require(allVersions(df.sparkSession, dir).contains(base),
      s"append base v$base not committed under $dir")
    val v = writeVersion(df, dir, partitionBy,
      extraMeta = s""","kind":"append","base":$base,"dataChange":$dataChange""",
      expected = expected)
    // opt-in auto-ANALYZE (x79): an append folds the delta's
    // mergeable state — O(|Δ|), the base is never re-read
    graft.ops.AutoAnalyze.afterCommit(df.sparkSession, dir, v,
      base = Some(base), dataChange = dataChange)
    graft.ops.AutoOptimize.afterCommit(df.sparkSession, dir)
    graft.ops.Retention.afterCommit(df.sparkSession, dir)
    v
  }

  /** BRANCH WRITE (x96, [[Branches.commitTo]]): stage an append
    * chained on `base` that no `latest` reader can see — only the
    * branch ref names it. Same durability as any staged version (a
    * WAP ghost until published); the maintenance hooks stay silent
    * because nothing reader-visible changed. */
  def stageAppend(df: DataFrame, dir: String, base: Int,
                  partitionBy: Seq[String] = Nil,
                  epoch: Option[Long] = None): Int = {
    require(allVersions(df.sparkSession, dir).contains(base),
      s"append base v$base not committed under $dir")
    // an epoch tag makes a branch-fed table's replay test possible
    // ([[Branches.epochLanded]] — ref-chain-scoped, so a lost-CAS
    // ghost can never suppress the retry that must land the epoch)
    writeVersion(df, dir, partitionBy,
      extraMeta = s""","kind":"append","base":$base,"staged":true""" +
        epoch.fold("")(e => s""","epoch":$e"""))
  }

  /** TABLE CHECK CONSTRAINT (x102, Delta's ALTER TABLE ADD
    * CONSTRAINT): persist a named CHECK expression as a
    * METADATA-ONLY log entry (the alter discipline — zero data
    * files), so enforcement rides the TABLE across sessions and
    * engines, unlike x47's session-level Expectations splitter.
    * Adding validates the CURRENT resolved state first (a constraint
    * the table already violates must not register — Delta's rule);
    * thereafter every SQL mutation verb's NEW images are checked
    * ([[enforceConstraints]]) before their commit. The entry carries
    * `base` as provenance, resolves as its base's rows (same schema),
    * feeds no CDC, and commutes with nothing in the x91 audit (an
    * append planned below a new constraint was never checked against
    * it, so it must re-plan). */
  def addCheckConstraint(spark: SparkSession, dir: String, name: String,
                         constraintExpr: String): Int = {
    import org.apache.spark.sql.functions.{expr, not}
    require(name.matches("[A-Za-z0-9_]+"), s"invalid constraint name '$name'")
    val (fs, p) = fsOf(spark, dir)
    var attempts = 0
    while (true) {
      attempts += 1
      require(attempts <= 10000, s"commit livelock under $dir")
      // duplicate check AND current-state validation recomputed on
      // EVERY attempt (the alter discipline): a lost claim means the
      // log advanced — a concurrent commit may have landed rows the
      // constraint must now be validated against, else a CHECK the
      // served state already violates would register
      require(!checkConstraints(spark, dir).exists(_._1 == name),
        s"constraint '$name' already exists under $dir")
      val head = versions(spark, dir).lastOption.getOrElse(sys.error(
        s"ADD CONSTRAINT '$name' under $dir: no published versions — " +
          "a CHECK validates against served state, so commit (or " +
          "publish) the table first"))
      require(readResolved(spark, dir).filter(not(expr(constraintExpr)))
          .limit(1).isEmpty,
        s"cannot add CHECK '$name' ($constraintExpr) under $dir: " +
          "existing rows violate it")
      val next = allVersions(spark, dir).last + 1
      // never-created sentinel dir name: zero data files by contract
      val entry = s"""{"version":$next,"dir":${jstr(s"v$next-constraint")},"n_files":0,"bytes":0,"kind":"constraint","base":$head,"cname":${jstr(name)},"cexpr":${jstr(constraintExpr)}}"""
      if (tryPublishEntry(fs, p, next, entry)) return next
    }
    -1 // unreachable
  }

  /** The table's registered CHECK constraints, (name, expr), from
    * the log alone — manifest-sized. */
  def checkConstraints(spark: SparkSession, dir: String): Seq[(String, String)] =
    logEntries(spark, dir)
      .filter(n => Option(n.get("kind")).exists(_.asText() == "constraint"))
      .filter(isPublishedEntry(spark, _))
      .map(n => (n.get("cname").asText(), n.get("cexpr").asText()))

  /** Raise iff any row of `df` (a mutation's NEW images) violates a
    * registered constraint — one pushdown-eligible filter + limit(1)
    * per constraint, O(|Δ|) total, never a table scan. */
  def enforceConstraints(spark: SparkSession, dir: String,
                         df: DataFrame): Unit = {
    import org.apache.spark.sql.functions.{expr, not}
    checkConstraints(spark, dir).foreach { case (name, ce) =>
      if (!df.filter(not(expr(ce))).limit(1).isEmpty)
        throw new ConstraintViolationException(
          s"CHECK constraint '$name' ($ce) violated by the write under $dir")
    }
  }

  /** CATALOG LISTING (x101): every snapshot table directly under
    * `root` — (name, head published version, published count), one
    * filesystem listing + one log read per table, zero data jobs.
    * A directory is a table iff its log has at least one entry; a
    * staged-only (never-published) table lists with head 0. The
    * SHOW TABLES of a path-addressed lakehouse. */
  def tablesUnder(spark: SparkSession, root: String): Seq[(String, Int, Int)] = {
    val p = new org.apache.hadoop.fs.Path(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return Nil
    fs.listStatus(p).toSeq.filter(_.isDirectory).flatMap { st =>
      val dir = st.getPath.toString
      val entries = logEntries(spark, dir) // the ONE log read per dir
      if (entries.isEmpty) None
      else {
        val pub = entries.filter(isPublishedEntry(spark, _))
          .map(_.get("version").asInt()).sorted
        Some((st.getPath.getName, pub.lastOption.getOrElse(0), pub.size))
      }
    }.sortBy(_._1)
  }

  /** Every (version → epoch) tag in ONE log read — [[Branches
    * .epochLanded]]'s bulk accessor (a per-version lookup would
    * re-read the log once per ref advance, degrading a long-running
    * branch sink quadratically in its own commit count). */
  def epochTags(spark: SparkSession, dir: String): Map[Int, Long] =
    logEntries(spark, dir).flatMap(n =>
      Option(n.get("epoch"))
        .map(e => n.get("version").asInt() -> e.asLong())).toMap

  /** OCC APPEND WITH CONFLICT COMMUTATION (x91) — the Delta/Iceberg
    * conflict-matrix semantics the plain `expectedVersion` commit is
    * stricter than: two independent writers appending rows both land,
    * in some order, with the final state the UNION of both deltas —
    * no production lakehouse makes disjoint appends mutually
    * exclusive. The commit is planned against `base`; when the log
    * has advanced past it, the interleaved chain from the current
    * head down to `base` is audited: if every step COMMUTES with an
    * append — another `append`, or a dataChange=false layout re-land
    * (same logical rows, better files) — the append REBASES onto the
    * head and retries its entry claim; any non-commuting step (full
    * data rewrite, delete, replace, restore, schema change) raises
    * [[ConcurrentCommitException]], because the state this append was
    * planned against no longer exists. The claim itself stays the
    * create-exclusive entry put, so the audit-then-claim loop is safe
    * across threads AND processes (losing a new race re-audits the
    * newly landed step). At 100 TB this is the retry loop every
    * concurrent ingest runs: N writers' appends serialize by claim
    * order, each paying one manifest-sized log re-read per lost race,
    * never a data rewrite. */
  def commitAppendCommuting(df: DataFrame, dir: String, base: Int,
                            partitionBy: Seq[String] = Nil,
                            dataChange: Boolean = true,
                            maxAttempts: Int = 50,
                            keyCol: Option[String] = None): Int = {
    val spark = df.sparkSession
    require(versions(spark, dir).contains(base),
      s"append base v$base not published under $dir")
    // x105: a DECLARED conflict key widens the commutation matrix —
    // this append records its delta's key range (one delta-sized agg)
    // and then commutes past interleaved DELETION VECTORS whose
    // recorded ranges are disjoint, not just past other appends
    val (range, meta) = keyCol match {
      case Some(kc) => val (r, m) = keyRangeOf(df, kc); (Some(r), m)
      case None => (None, "")
    }
    var attempts = 0
    while (true) {
      attempts += 1
      require(attempts <= maxAttempts,
        s"commutation retry budget exhausted under $dir")
      val head = versions(spark, dir).last
      if (head != base) requireCommutesDownTo(spark, dir, head, base,
        myKind = "append", myRange = range)
      try {
        val v = writeVersion(df, dir, partitionBy,
          extraMeta = s""","kind":"append","base":$head,"dataChange":$dataChange$meta""",
          expected = Some(head))
        graft.ops.AutoAnalyze.afterCommit(spark, dir, v,
          base = Some(head), dataChange = dataChange)
        graft.ops.AutoOptimize.afterCommit(spark, dir)
        graft.ops.Retention.afterCommit(spark, dir)
        return v
      } catch {
        case _: ConcurrentCommitException =>
          // lost to a PUBLISHED interleaving: loop and re-audit
          // against the new head. Unpublished stages (pending txn/WAP
          // ghosts, open branch chains) are NOT conflicts — the claim
          // loop steps past their entry numbers without raising, so
          // an open branch never blocks main's concurrent ingest.
      }
    }
    -1 // unreachable
  }

  /** ROW-LEVEL CONFLICT KEYS (x105 — x91's missing half, Delta's
    * file-overlap conflict check expressed at the key level): a
    * commuting DELETE/append records its delta's [min, max] on a
    * declared conflict-key column IN THE LOG ENTRY, so a later
    * writer's commutation audit decides disjointness from metadata
    * alone — never a data scan. Disjoint RANGES imply disjoint key
    * SETS (sound); overlapping ranges raise even when the sets might
    * not intersect (conservative, like Delta's file-granularity
    * check). Values normalize to decimal for numbers and to the
    * string form otherwise — the manifest writer's two shapes. */
  private final case class KeyRange(kcol: String, lo: Option[Any],
                                    hi: Option[Any]) {
    private def cmp(a: Any, b: Any): Int = (a, b) match {
      case (x: java.math.BigDecimal, y: java.math.BigDecimal) => x.compareTo(y)
      // strings must compare in the SAME order that produced the
      // recorded kmin/kmax — Spark min/max on StringType is binary
      // UTF-8 order, while Java String.compareTo is UTF-16 code-unit
      // order; the two disagree on supplementary-plane chars (emoji),
      // and a comparator mismatch could judge overlapping key sets
      // disjoint, letting a stale delete commute past an append it
      // conflicts with. UTF8String.compareTo IS Spark's ordering.
      case _ =>
        org.apache.spark.unsafe.types.UTF8String.fromString(String.valueOf(a))
          .compareTo(
            org.apache.spark.unsafe.types.UTF8String.fromString(String.valueOf(b)))
    }
    def disjointFrom(other: KeyRange): Boolean =
      kcol == other.kcol && (lo.isEmpty || other.lo.isEmpty ||
        cmp(hi.get, other.lo.get) < 0 || cmp(other.hi.get, lo.get) < 0)
  }

  private def norm(v: Any): Any = v match {
    // NaN/Infinity have no decimal form and no place in a [min,max]
    // range audit — refuse loudly at write time with the real reason
    // instead of a NumberFormatException from BigDecimal's parser
    case d: java.lang.Double if d.isNaN || d.isInfinite =>
      throw new IllegalArgumentException(
        s"conflict key value $d is not orderable: declare a conflict key " +
          "column whose values are finite (no NaN/Infinity)")
    case f: java.lang.Float if f.isNaN || f.isInfinite =>
      throw new IllegalArgumentException(
        s"conflict key value $f is not orderable: declare a conflict key " +
          "column whose values are finite (no NaN/Infinity)")
    case n: java.lang.Number => new java.math.BigDecimal(n.toString)
    case other => String.valueOf(other)
  }

  /** One aggregation over the DELTA (the same class of cost as the
    * per-file stats every production writer computes at write time):
    * the declared key column's range, plus its log-entry encoding. */
  private def keyRangeOf(df: DataFrame, keyCol: String): (KeyRange, String) = {
    import org.apache.spark.sql.functions.{col, max, min}
    require(df.columns.contains(keyCol),
      s"conflict key '$keyCol' not in the delta's columns")
    val r = df.agg(min(col(keyCol)), max(col(keyCol))).head
    val range =
      if (r.isNullAt(0)) KeyRange(keyCol, None, None)
      else KeyRange(keyCol, Some(norm(r.get(0))), Some(norm(r.get(1))))
    def enc(v: Any): String = v match {
      case d: java.math.BigDecimal => d.toString
      case other => jstr(String.valueOf(other))
    }
    val meta = s""","kcol":${jstr(keyCol)}""" +
      range.lo.fold("")(l => s""","kmin":${enc(l)},"kmax":${enc(range.hi.get)}""")
    (range, meta)
  }

  /** An entry's recorded position-delete file set (x111), if any. */
  private def entryPosFiles(
      n: com.fasterxml.jackson.databind.JsonNode): Option[Set[String]] =
    Option(n.get("pfiles")).map(arr =>
      (0 until arr.size).map(arr.get(_).asText()).toSet)

  /** An entry's recorded conflict-key range, if any. */
  private def entryKeyRange(
      n: com.fasterxml.jackson.databind.JsonNode): Option[KeyRange] =
    Option(n.get("kcol")).map { kc =>
      def dec(name: String): Option[Any] = Option(n.get(name)).map(x =>
        if (x.isNumber) x.decimalValue() else norm(x.asText()))
      KeyRange(kc.asText(), dec("kmin"), dec("kmax"))
    }

  /** The x91/x105 commutation audit: walk the base chain from `head`
    * down to `base`; every step must commute with the pending commit —
    * an `append` or a dataChange=false layout re-land always commutes
    * with an append; a `deletes` step commutes with a key-ranged
    * commit iff the recorded ranges are DISJOINT (x105 — decided from
    * log metadata alone); and a key-ranged append commutes with a
    * pending key-ranged DELETE under the same disjointness. Raises
    * [[ConcurrentCommitException]] naming the first non-commuting
    * version otherwise. */
  private def requireCommutesDownTo(spark: SparkSession, dir: String,
                                    head: Int, base: Int,
                                    myKind: String = "append",
                                    myRange: Option[KeyRange] = None,
                                    myFiles: Option[Set[String]] = None): Unit = {
    val byV = logEntries(spark, dir)
      .map(n => n.get("version").asInt() -> n).toMap
    var v = head
    while (v > base) {
      val n = byV.getOrElse(v, throw new ConcurrentCommitException(
        s"commutation audit: v$v missing from the log under $dir"))
      val kind = Option(n.get("kind")).map(_.asText()).getOrElse("data")
      val dc = Option(n.get("dataChange")).forall(_.asBoolean(true))
      def rangesDisjoint: Boolean = (for {
        mine <- myRange; theirs <- entryKeyRange(n)
      } yield mine.disjointFrom(theirs)).getOrElse(false)
      def filesDisjoint: Boolean = (for {
        mine <- myFiles; theirs <- entryPosFiles(n)
      } yield (mine intersect theirs).isEmpty).getOrElse(false)
      val commutes = (myKind, kind) match {
        // appends always commute with appends; layout re-lands carry
        // the same logical rows under both verbs
        case ("append", "append") => true
        // x111 — POSITION-DELETE arms come BEFORE the generic
        // dataChange=false wildcards: a layout re-land ("data" with
        // dc=false from commitLayout, or a dc=false OPTIMIZE append)
        // REPLACES the physical files these (file,pos) addresses
        // name. Rebasing a position delete past one would land a
        // delete whose anti-join matches nothing — rows that must be
        // deleted silently survive a successful commit. Iceberg
        // conversely FAILS such commits (validateDataFilesExist);
        // so do we: only true appends (genuinely NEW files — the
        // positions address existing ones) and file-disjoint
        // position deletes commute; anything that re-lands or
        // rewrites existing rows raises so the writer re-plans its
        // positions against the new files.
        case ("posdeletes", "append") => dc
        case ("posdeletes", "posdeletes") => filesDisjoint
        case ("posdeletes", _) => false
        case (_, "data") if !dc => true
        case (_, "append") if !dc => true
        // x105: DV∥DV and DV∥append commute iff the recorded key
        // ranges are disjoint — metadata-only; unrecorded ranges
        // conservatively raise
        case ("deletes", "append") | ("deletes", "deletes") |
             ("append", "deletes") => rangesDisjoint
        // x111: a position delete addresses EXISTING files, an append
        // adds NEW ones — an append pending against interleaved
        // position deletes always commutes (its new files cannot be
        // addressed by older position deletes).
        case ("append", "posdeletes") => true
        case _ => false
      }
      if (!commutes) throw new ConcurrentCommitException(
        s"$myKind planned against v$base cannot commute past v$v " +
          s"(kind=$kind, dataChange=$dc) under $dir — the planned-" +
          "against state was rewritten (or key ranges overlap); " +
          "re-read and re-plan")
      v = Option(n.get("base")).map(_.asInt()).getOrElse(
        throw new ConcurrentCommitException(
          s"$myKind planned against v$base cannot commute past v$v " +
            s"(no base chain) under $dir"))
    }
    if (v != base) throw new ConcurrentCommitException(
      s"commutation audit: chain from v$head skipped v$base (reached v$v)")
  }

  /** OCC DELETE WITH ROW-LEVEL CONFLICT COMMUTATION (x105): land a
    * deletion vector planned against `base` even when other writers
    * interleaved — provided every interleaved step COMMUTES with this
    * delete: appends and DVs whose recorded key ranges are DISJOINT
    * from this delta's (anti-joins on disjoint key sets commute with
    * each other and with disjoint-key appends), and layout re-lands
    * (same logical rows). The audit reads log metadata only; the
    * delta's own range costs one delta-sized aggregation at write
    * time, exactly the per-file stats discipline of a production
    * writer. Overlapping ranges raise — Delta's conflict matrix at
    * key granularity instead of file granularity. */
  def commitDeletesCommuting(keys: DataFrame, dir: String, base: Int,
                             keyCol: String, maxAttempts: Int = 50): Int = {
    val spark = keys.sparkSession
    require(versions(spark, dir).contains(base),
      s"delete base v$base not published under $dir")
    val (range, meta) = keyRangeOf(keys, keyCol)
    var attempts = 0
    while (true) {
      attempts += 1
      require(attempts <= maxAttempts,
        s"commutation retry budget exhausted under $dir")
      val head = versions(spark, dir).last
      if (head != base) requireCommutesDownTo(spark, dir, head, base,
        myKind = "deletes", myRange = Some(range))
      try {
        val v = writeVersion(keys, dir, Nil,
          extraMeta = s""","kind":"deletes","base":$head$meta""",
          expected = Some(head))
        graft.ops.Retention.afterCommit(spark, dir)
        return v
      } catch {
        case _: ConcurrentCommitException => // re-audit at the new head
      }
    }
    -1 // unreachable
  }

  /** Commit a PARTITION OVERWRITE: `df` holds ONLY the rows of the
    * partition `pcol = pval`; every other partition of version `base`
    * rides along logically (INSERT OVERWRITE ... PARTITION /
    * replaceWhere). The written version contains just the replaced
    * partition — at 100 TB a daily re-score of one day's partition
    * costs that partition's write, never a table rewrite — and
    * [[readResolved]] serves base-minus-partition ∪ replacement. */
  def commitReplace(df: DataFrame, dir: String, base: Int,
                    pcol: String, pval: String): Int = {
    require(versions(df.sparkSession, dir).contains(base),
      s"replace base v$base not committed under $dir")
    val v = writeVersion(df, dir, Seq(pcol),
      extraMeta = s""","kind":"replace","base":$base,"pcol":${jstr(pcol)},"pval":${jstr(pval)}""")
    graft.ops.Retention.afterCommit(df.sparkSession, dir)
    v
  }

  /** Commit a LAYOUT rewrite (ops.Optimize): a FULL version holding
    * the same logical rows as resolved version `base`, re-laid —
    * Delta's dataChange=false OPTIMIZE commit. Readers of `latest`
    * see identical rows; [[stepChanges]] feeds NOTHING for it (a
    * layout commit must never reach change-feed consumers as data);
    * an enabled auto-stats catalog re-stamps freshness instead of
    * re-profiling. `base` is the version whose rows were re-laid —
    * the preflight guards the read-rewrite-commit race the same way
    * an expectedVersion commit does. */
  def commitLayout(df: DataFrame, dir: String, base: Int,
                   partitionBy: Seq[String] = Nil,
                   dropFromSchema: Seq[String] = Nil): Int = {
    // `base` rides in the entry as PROVENANCE (which version's rows
    // were re-laid): readers never follow it (a layout version is a
    // full state), but the x91 commutation chain-walk does — an
    // append planned below a layout re-land can rebase through it.
    val v = writeVersion(df, dir, partitionBy,
      extraMeta = s""","dataChange":false,"base":$base""", expected = Some(base),
      dropFromSchema = dropFromSchema)
    graft.ops.AutoAnalyze.afterCommit(df.sparkSession, dir, v,
      base = Some(base), dataChange = false)
    graft.ops.Retention.afterCommit(df.sparkSession, dir)
    v
  }

  /** Stage a version for WRITE-AUDIT-PUBLISH: the data is fully
    * written and owns its version number, but the log entry carries
    * `staged: true`, so no reader resolving `latest` can see it —
    * only an explicit pinned read (the audit) can. [[publish]] makes
    * it visible with a metadata-only log rewrite; an audit that
    * fails simply never publishes, and the staged version is inert
    * garbage for [[vacuum]]. The WAP pattern decouples "the data is
    * durable" from "the data is served" — at 100 TB the audit is the
    * quality gate between an ingest run and production readers. */
  def commitStaged(df: DataFrame, dir: String,
                   partitionBy: Seq[String] = Nil): Int =
    writeVersion(df, dir, partitionBy, extraMeta = ""","staged":true""")

  /** ZERO-COPY (shallow) CLONE: land a new version in `dir` whose
    * content IS another table's committed version `srcVersion` — a
    * PURE METADATA commit. No data file is written, read, or copied
    * (x44 proves it from the listing: the clone version has an empty
    * file signature), which at 100 TB is the difference between a
    * dev/experiment branch costing one small JSON entry and costing
    * a corpus copy — Delta's shallow CLONE / Iceberg snapshot-ref
    * reduced to its load-bearing parts. Reads resolve through the
    * source table recursively (a clone of a deletion-vector version
    * serves the resolved state). The claim uses the SAME
    * create-exclusive entry publication as a data commit, so clones
    * race safely with concurrent data commits.
    *
    * Retention contract (Delta's documented shallow-clone caveat):
    * the clone pins its source version LOGICALLY, not physically —
    * vacuuming the SOURCE below the cloned version breaks the
    * clone's read path, which then fails loudly at log resolution;
    * coordinating retention across clones is the deployment's job. */
  def commitClone(spark: SparkSession, dir: String,
                  srcDir: String, srcVersion: Int): Int = {
    require(allVersions(spark, srcDir).contains(srcVersion),
      s"clone source v$srcVersion not committed under $srcDir")
    val (fs, p) = fsOf(spark, dir)
    fs.mkdirs(p)
    var next = allVersions(spark, dir).lastOption.getOrElse(0) + 1
    var attempts = 0
    while (true) {
      attempts += 1
      require(attempts <= 10000, s"commit livelock under $dir")
      // the dir name is a never-created sentinel: zero data files is
      // the contract, and every file-listing helper returns empty
      val entry = s"""{"version":$next,"dir":${jstr(s"v$next-clone")},"n_files":0,"bytes":0,"kind":"clone","src_dir":${jstr(srcDir)},"src_version":$srcVersion}"""
      if (tryPublishEntry(fs, p, next, entry)) return next
      next = math.max(next, allVersions(spark, dir).lastOption.getOrElse(0)) + 1
    }
    -1 // unreachable
  }

  /** RESTORE (rollback, x61): re-point `latest` at prior PUBLISHED
    * version `toVersion` of the SAME table with a metadata-only
    * commit — Delta's `RESTORE TABLE ... TO VERSION AS OF` shape.
    * Nothing is rewritten and nothing is lost: the bad versions stay
    * in the log (time travel still serves them for forensics), the
    * restore is one small JSON entry, and readers of `latest`
    * resolve the restored state through the `base` pointer. Because
    * the entry carries `base`, [[vacuum]]'s transitive chain closure
    * protects the restore target automatically — unlike a
    * cross-table clone, a restore can never be orphaned by its own
    * table's retention. The claim uses the same create-exclusive
    * entry publication as a data commit, so restores race safely
    * with concurrent commits (the restore's content is pinned by
    * version NUMBER, so a lost race changes nothing it meant).
    * [[stepChanges]] feeds the restore as a diff against the prior
    * published latest — downstream CDC consumers see the rollback as
    * ordinary change rows, which is what makes restoring under live
    * consumers safe. */
  def commitRestore(spark: SparkSession, dir: String, toVersion: Int): Int = {
    require(versions(spark, dir).contains(toVersion),
      s"restore target v$toVersion not published under $dir")
    val (fs, p) = fsOf(spark, dir)
    var next = allVersions(spark, dir).lastOption.getOrElse(0) + 1
    var attempts = 0
    while (true) {
      attempts += 1
      require(attempts <= 10000, s"commit livelock under $dir")
      // never-created sentinel dir name: zero data files by contract
      val entry = s"""{"version":$next,"dir":${jstr(s"v$next-restore")},"n_files":0,"bytes":0,"kind":"restore","base":$toVersion}"""
      if (tryPublishEntry(fs, p, next, entry)) {
        // chain closure keeps the restore target pinned through the hook
        graft.ops.Retention.afterCommit(spark, dir)
        return next
      }
      next = math.max(next, allVersions(spark, dir).lastOption.getOrElse(0)) + 1
    }
    -1 // unreachable
  }

  /** ADDITIVE SCHEMA EVOLUTION as a METADATA-ONLY commit (x92 — the
    * log-level form of x31's widened-commit evolution): land a new
    * version whose entry carries the WIDENED schema and ZERO data
    * files. Readers resolve it as its base's rows with the new
    * column as typed nulls (the aligned-read contract applied at the
    * log), later appends carry the new schema and chain through it,
    * and historic pinned reads still serve their own committed
    * schema. Only ADD COLUMN exists: drops and type changes need a
    * policy decision (what happens to historic data?) and fail
    * loudly by construction — there is no API for them, and adding
    * an existing column raises. At 100 TB this is the whole point:
    * evolution costs one small JSON entry — zero files rewritten,
    * zero backfill. The new column is nullable by definition (every
    * pre-alter row lacks it). Alter versions do NOT commute with
    * stale-base appends ([[commitAppendCommuting]] raises past one):
    * a pre-alter writer's schema no longer matches the head's. */
  def alterAddColumn(spark: SparkSession, dir: String, colName: String,
                     dataType: org.apache.spark.sql.types.DataType): Int = {
    val (fs, p) = fsOf(spark, dir)
    var attempts = 0
    while (true) {
      attempts += 1
      require(attempts <= 10000, s"commit livelock under $dir")
      // head, schema check, and the widened schema are recomputed on
      // EVERY attempt: a lost claim means the log advanced, and an
      // alter carrying a stale base would silently drop the
      // interleaved commit's rows (or a concurrent alter's column)
      // from every resolved latest read
      val head = versions(spark, dir).lastOption.getOrElse(
        sys.error(s"ALTER TABLE: no committed versions under $dir"))
      val cur = readResolved(spark, dir).schema
      require(!cur.fieldNames.contains(colName),
        s"ALTER TABLE '$dir' ADD COLUMN $colName: column exists " +
          "(drops/type changes are not supported — they would need a " +
          "policy for historic data)")
      val widened = StructType(cur.fields :+
        org.apache.spark.sql.types.StructField(colName, dataType,
          nullable = true))
      val next = allVersions(spark, dir).last + 1
      // never-created sentinel dir name: zero data files by contract
      val entry = s"""{"version":$next,"dir":${jstr(s"v$next-alter")},"n_files":0,"bytes":0,"kind":"alter","base":$head,"schema":${jstr(widened.json)}}"""
      if (tryPublishEntry(fs, p, next, entry)) return next
    }
    -1 // unreachable
  }

  /** ADD COLUMN ... DEFAULT as a METADATA-ONLY commit (x119 —
    * Iceberg's initial-default / Delta's column DEFAULT, the fourth
    * evolution verb): the alter entry carries the widened schema PLUS
    * a `defaults` map (column → SQL expression), and the default does
    * BOTH jobs the formats split across initial- and write-defaults:
    *
    *  - READ (initial default): every row from a version below the
    *    alter serves the default instead of a typed null — evaluated
    *    at plan construction over the base resolution, zero backfill,
    *    zero files touched. A default may reference the base's OTHER
    *    columns (a generated/derived column: `qty / 10`); a constant
    *    expression is the plain DEFAULT.
    *  - WRITE (write default): an INSERT that omits the column gets
    *    it filled by [[applyWriteDefaults]] — the SQL surface's
    *    INSERT INTO no longer has to supply every column.
    *
    * The expression is validated at DECLARATION time: it must parse,
    * and every column it references must exist in the pre-alter
    * schema — a default referencing a missing column would fail at
    * every future read, so it fails HERE instead. Dropping a column a
    * CHECK references already refuses (alterSchema's guard); dropping
    * a DEFAULTED column drops its default with it (columnDefaults
    * walks the entries in order). At 100 TB this is the only sane
    * shape: adding a scored/derived column to a petabyte table costs
    * one log entry, never a rewrite. */
  def alterAddColumnDefault(spark: SparkSession, dir: String,
                            colName: String,
                            dataType: org.apache.spark.sql.types.DataType,
                            defaultSql: String): Int = {
    val (fs, p) = fsOf(spark, dir)
    var attempts = 0
    while (true) {
      attempts += 1
      require(attempts <= 10000, s"commit livelock under $dir")
      val head = versions(spark, dir).lastOption.getOrElse(
        sys.error(s"ALTER TABLE: no committed versions under $dir"))
      val cur = readResolved(spark, dir).schema
      require(!cur.fieldNames.contains(colName),
        s"ALTER TABLE '$dir' ADD COLUMN $colName: column exists")
      // the default must parse, and its column references must all
      // exist pre-alter — else every later read of history would fail
      val refs = spark.sessionState.sqlParser.parseExpression(defaultSql)
        .collect {
          case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
            a.name
        }
      val missing = refs.filterNot(cur.fieldNames.contains)
      require(missing.isEmpty,
        s"ADD COLUMN $colName DEFAULT ($defaultSql) under $dir references " +
          s"column(s) ${missing.mkString(",")} not in the table")
      val widened = StructType(cur.fields :+
        org.apache.spark.sql.types.StructField(colName, dataType,
          nullable = true))
      val next = allVersions(spark, dir).last + 1
      val entry = s"""{"version":$next,"dir":${jstr(s"v$next-alter")},"n_files":0,"bytes":0,"kind":"alter","base":$head,"schema":${jstr(widened.json)},"defaults":{${jstr(colName)}:${jstr(defaultSql)}}}"""
      if (tryPublishEntry(fs, p, next, entry)) return next
    }
    -1 // unreachable
  }

  /** The CURRENT column defaults (x119), column → SQL expression:
    * walk the published alter entries in version order — a recorded
    * default follows its column through renames and dies with its
    * drop, so a later re-added same-named column never inherits a
    * stale expression. Metadata-only (one log listing). */
  def columnDefaults(spark: SparkSession, dir: String): Map[String, String] = {
    val alters = logEntries(spark, dir)
      .filter(n => Option(n.get("kind")).exists(_.asText() == "alter"))
      .filter(isPublishedEntry(spark, _))
      .sortBy(_.get("version").asInt())
    alters.foldLeft(Map.empty[String, String]) { (acc, e) =>
      val dropped = Option(e.get("drops")).map(d =>
        (0 until d.size).map(d.get(_).asText()).toSet).getOrElse(Set.empty)
      val renamed = entryRenames(e) // new -> old
      val migrated = (acc -- dropped).map { case (c, sql) =>
        renamed.collectFirst { case (nw, old) if old == c => nw }
          .getOrElse(c) -> sql
      }
      migrated ++ entryDefaults(e)
    }
  }

  /** Fill a write's OMITTED defaulted columns (x119's write half):
    * every column of the table's current schema that `delta` lacks
    * gets its recorded default (evaluated over the delta's own rows —
    * generated columns work), in the table's column order; an omitted
    * column with NO default still refuses loudly (x92's contract —
    * nothing silently turns into nulls). */
  def applyWriteDefaults(spark: SparkSession, dir: String,
                         delta: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    val target = readResolved(spark, dir).schema
    val defaults = columnDefaults(spark, dir)
    val have = delta.columns.toSet
    val missing = target.fields.filterNot(f => have(f.name))
    val noDefault = missing.filterNot(f => defaults.contains(f.name))
    require(noDefault.isEmpty,
      s"INSERT into '$dir' omits column(s) " +
        s"${noDefault.map(_.name).mkString(",")} with no DEFAULT")
    if (missing.isEmpty) delta
    else delta.select(target.fields.toSeq.map { f =>
      if (have(f.name)) col(f.name)
      else expr(defaults(f.name)).cast(f.dataType).as(f.name)
    }: _*)
  }

  /** COLUMN MAPPING: RENAME COLUMN as a METADATA-ONLY commit (x104 —
    * x92's missing half, Delta's column-mapping mode reduced to its
    * load-bearing part): the alter entry carries the NEW logical
    * schema plus a `renames` map (new name → the base chain's name),
    * so resolution serves the base's physical column under the new
    * name — zero files rewritten, zero backfill. Historic pinned
    * reads still serve their own committed names; aligned reads
    * translate old names forward through the recorded maps
    * ([[readAligned]]). Later appends carry the new schema and chain
    * through. A column referenced by a registered CHECK refuses
    * loudly (Delta's rule: drop the constraint first); rename does
    * not commute with stale-base appends (the x91 audit raises past
    * any alter). */
  def alterRenameColumn(spark: SparkSession, dir: String,
                        from: String, to: String): Int = {
    require(from != to, s"RENAME COLUMN: '$from' to itself")
    alterSchema(spark, dir, s"RENAME COLUMN $from TO $to", from) { cur =>
      require(cur.fieldNames.contains(from),
        s"RENAME COLUMN '$dir': no column '$from'")
      require(!cur.fieldNames.contains(to),
        s"RENAME COLUMN '$dir': column '$to' exists")
      (StructType(cur.fields.map(f =>
        if (f.name == from) f.copy(name = to) else f)),
        s""","renames":{${jstr(to)}:${jstr(from)}}""")
    }
  }

  /** COLUMN MAPPING: DROP COLUMN as a METADATA-ONLY commit (x104):
    * the alter entry carries the narrowed schema — the column is
    * excluded from every resolution at-or-above this version, while
    * historic pinned reads still serve it (time travel keeps the
    * data; the files are never touched). Aligned reads of old
    * versions exclude it via the recorded `drops` list — the recorded
    * entry IS the policy decision [[readAligned]] used to refuse
    * without. Refuses while a registered CHECK references the
    * column. */
  def alterDropColumn(spark: SparkSession, dir: String,
                      colName: String): Int =
    alterSchema(spark, dir, s"DROP COLUMN $colName", colName) { cur =>
      require(cur.fieldNames.contains(colName),
        s"DROP COLUMN '$dir': no column '$colName'")
      require(cur.fields.length > 1,
        s"DROP COLUMN '$dir': cannot drop the only column")
      (StructType(cur.fields.filterNot(_.name == colName)),
        s""","drops":[${jstr(colName)}]""")
    }

  /** TYPE WIDENING as a METADATA-ONLY commit (x109 — Delta 3.2's
    * type-widening contract, the third evolution verb next to x104's
    * rename/drop): the alter entry carries the schema with the
    * column's WIDER type; resolution serves the base's values through
    * a lossless upcast applied at plan construction (a `cast` above
    * the base plan — no data movement), later appends carry the wide
    * type natively, and historic pinned reads keep their own narrow
    * type. Only Catalyst-upcast-safe widenings are accepted
    * (int→long, float→double, widening decimals, …) — a lossy change
    * refuses loudly, because historic values could not survive it. */
  def alterWidenColumn(spark: SparkSession, dir: String, colName: String,
                       newType: org.apache.spark.sql.types.DataType): Int =
    alterSchema(spark, dir, s"ALTER COLUMN $colName TYPE", colName) { cur =>
      val f = cur.fields.find(_.name == colName).getOrElse(
        sys.error(s"ALTER COLUMN '$dir': no column '$colName'"))
      require(f.dataType != newType,
        s"ALTER COLUMN '$dir': $colName is already ${f.dataType.sql}")
      require(losslessWiden(f.dataType, newType),
        s"ALTER COLUMN '$dir': ${f.dataType.sql} -> ${newType.sql} is not " +
          "a lossless widening — historic values could not survive it")
      (StructType(cur.fields.map(x =>
        if (x.name == colName) x.copy(dataType = newType) else x)), "")
    }

  /** x109's widening test: Catalyst's up-cast lattice MINUS the
    * to-string edge — `canUpCast(long, string)` is true (no precision
    * loss), but re-typing a column to string is a REPRESENTATION
    * change no table format calls widening (Delta's matrix is
    * numeric/decimal/date→timestamp only), and admitting it would let
    * an accidental stringly recommit silently align as if recorded. */
  private def losslessWiden(from: org.apache.spark.sql.types.DataType,
                            to: org.apache.spark.sql.types.DataType): Boolean =
    to != org.apache.spark.sql.types.StringType &&
      org.apache.spark.sql.catalyst.expressions.Cast.canUpCast(from, to)

  /** Shared alter-claim loop: recompute head/schema on every attempt
    * (the alter discipline — a lost claim means the log advanced),
    * refuse while a registered CHECK references `guardCol`, land a
    * zero-file entry carrying the new schema + mapping metadata. */
  private def alterSchema(spark: SparkSession, dir: String, verb: String,
                          guardCol: String)(
      reshape: StructType => (StructType, String)): Int = {
    val (fs, p) = fsOf(spark, dir)
    var attempts = 0
    while (true) {
      attempts += 1
      require(attempts <= 10000, s"commit livelock under $dir")
      // a CHECK referencing the column would silently break at every
      // later write — refuse like Delta (drop the constraint first).
      // References come from the parsed expression, not a text match.
      checkConstraints(spark, dir).foreach { case (cname, ce) =>
        val refs = spark.sessionState.sqlParser.parseExpression(ce).collect {
          case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
            a.name
        }
        require(!refs.contains(guardCol),
          s"$verb under $dir: CHECK constraint '$cname' ($ce) references " +
            s"'$guardCol' — drop the constraint first")
      }
      val head = versions(spark, dir).lastOption.getOrElse(
        sys.error(s"ALTER TABLE: no committed versions under $dir"))
      val (newSchema, mapMeta) = reshape(readResolved(spark, dir).schema)
      val next = allVersions(spark, dir).last + 1
      val entry = s"""{"version":$next,"dir":${jstr(s"v$next-alter")},"n_files":0,"bytes":0,"kind":"alter","base":$head,"schema":${jstr(newSchema.json)}$mapMeta}"""
      if (tryPublishEntry(fs, p, next, entry)) return next
    }
    -1 // unreachable
  }

  /** The (version, n_files) pairs on the RESOLVED latest chain, from
    * log-entry metadata alone — no listing, no job. Logical kinds
    * (append/deletes/replace/alter/restore) descend their base
    * pointer; a full version ends the chain. The x93 auto-OPTIMIZE
    * hook sums this to decide maintenance; it is the manifest-sized
    * answer to "how many files does a scan of latest touch". */
  def chainEntries(spark: SparkSession, dir: String): Seq[(Int, Long)] = {
    val byV = logEntries(spark, dir)
      .map(n => n.get("version").asInt() -> n).toMap
    val head = versions(spark, dir).lastOption.getOrElse(return Nil)
    val out = Seq.newBuilder[(Int, Long)]
    var v = head
    var descending = true
    while (descending) {
      val n = byV(v)
      out += v -> Option(n.get("n_files")).map(_.asLong()).getOrElse(0L)
      val kind = Option(n.get("kind")).map(_.asText()).getOrElse("data")
      val base = Option(n.get("base")).map(_.asInt())
      val logical =
        Set("append", "deletes", "posdeletes", "replace", "alter",
          "restore", "constraint").contains(kind)
      if (logical && base.isDefined) v = base.get else descending = false
    }
    out.result()
  }

  /** Stored bytes of the latest published version — the x75 view-
    * choice cost signal. Driver-side, manifest-sized (the log entry
    * records the write's accounting). */
  def latestBytes(spark: SparkSession, dir: String): Long = {
    val vs = versions(spark, dir)
    require(vs.nonEmpty, s"no committed versions under $dir")
    logEntries(spark, dir)
      .find(_.get("version").asInt() == vs.last)
      .map(n => n.get("bytes").asLong()).getOrElse(0L)
  }

  /** DESCRIBE HISTORY (x74): the commit log itself as a queryable
    * frame — version, commit kind, the x63 explicit timestamp (null
    * for untimed commits), the base version logical commits chain to
    * (append/restore/deletes/replace), and publication state (WAP
    * staging visible as published=false). Driver-side and
    * manifest-sized by construction: the log IS the table. */
  def history(spark: SparkSession, dir: String): DataFrame = {
    val rows = logEntries(spark, dir).map { n =>
      (n.get("version").asInt(),
        Option(n.get("kind")).map(_.asText()).getOrElse("data"),
        Option(n.get("ts")).map(_.asLong()),
        Option(n.get("base")).map(_.asInt()),
        isPublishedEntry(spark, n))
    }.sortBy(_._1)
    val s = spark
    import s.implicits._
    rows.toDF("version", "kind", "ts", "base", "published")
  }

  /** One version's log metadata — (kind, base, dataChange) — the
    * manifest-sized planning read behind log-driven maintenance
    * (x97's MV fold plans each step from this, never from data). */
  def versionMeta(spark: SparkSession, dir: String,
                  version: Int): (String, Option[Int], Boolean) = {
    val n = logEntries(spark, dir).find(_.get("version").asInt() == version)
      .getOrElse(sys.error(s"version $version not in log under $dir"))
    (Option(n.get("kind")).map(_.asText()).getOrElse("data"),
      Option(n.get("base")).map(_.asInt()),
      Option(n.get("dataChange")).forall(_.asBoolean(true)))
  }

  /** TIMED commit (x63): land `df` as the next version carrying an
    * EXPLICIT commit timestamp in the log entry — the second
    * time-travel axis (Delta's `TIMESTAMP AS OF` next to x54's
    * `VERSION AS OF`). The caller supplies the timestamp rather than
    * the wall clock stamping it, which is what makes `AS OF` reads
    * reproducible across reruns (and what Delta's
    * timestamp-adjustment machinery only approximates from file
    * mtimes). Timestamps must be strictly increasing along the log —
    * a commit timed at-or-before its predecessor would make
    * [[versionAsOf]] ambiguous, so it fails loudly here. The check
    * is a semantic guard on the caller's clock, not a concurrency
    * primitive — the atomic claim is [[tryPublishEntry]]'s, same as
    * any commit. */
  def commitAt(df: DataFrame, dir: String, tsMillis: Long,
               partitionBy: Seq[String] = Nil): Int = {
    val prior = logEntries(df.sparkSession, dir)
      .flatMap(n => Option(n.get("ts")).map(_.asLong()))
    require(prior.forall(_ < tsMillis),
      s"commit ts $tsMillis must exceed every prior commit ts under $dir " +
        s"(max prior: ${prior.maxOption.getOrElse(0L)})")
    val v = writeVersion(df, dir, partitionBy, extraMeta = s""","ts":$tsMillis""")
    graft.ops.Retention.afterCommit(df.sparkSession, dir)
    v
  }

  /** `TIMESTAMP AS OF` resolution: the LATEST published version whose
    * commit ts is ≤ `tsMillis` — the state a reader at that instant
    * would have seen. Requires every published entry to carry a ts (a
    * timed table is timed throughout; mixing timed and untimed
    * commits would silently mis-resolve, so it fails loudly instead),
    * and fails loudly on a ts that predates the first commit — there
    * was no table to read then. */
  def versionAsOf(spark: SparkSession, dir: String, tsMillis: Long): Int = {
    val entries = logEntries(spark, dir).filter(isPublishedEntry(spark, _))
    require(entries.nonEmpty, s"no published versions under $dir")
    val timed = entries.map { n =>
      val v = n.get("version").asInt()
      val t = Option(n.get("ts")).map(_.asLong())
      require(t.isDefined,
        s"TIMESTAMP AS OF needs a commit ts on every published version; v$v has none")
      (v, t.get)
    }
    val visible = timed.filter(_._2 <= tsMillis)
    require(visible.nonEmpty,
      s"ts $tsMillis predates the first commit (${timed.map(_._2).min}) under $dir")
    visible.maxBy(_._2)._1
  }

  /** The MAX explicit commit instant (x63) across ALL published
    * versions — the age-based retention hook's clock: the horizon
    * derives from the table's own recorded time, never a wall-clock
    * read, so the policy is reproducible. Max-over-all rather than
    * the head entry's ts: an untimed commit at head (plain append,
    * DV, replace) must not silently stop the clock and no-op MaxAge
    * retention until the next timed commit — the latest recorded
    * instant is the latest RECORDED instant, wherever it sits in the
    * log. */
  def latestPublishedTs(spark: SparkSession, dir: String): Option[Long] =
    logEntries(spark, dir).filter(isPublishedEntry(spark, _))
      .flatMap(n => Option(n.get("ts")).map(_.asLong())).maxOption

  /** Read the table as it stood at `tsMillis` ([[versionAsOf]] +
    * pinned [[read]]). */
  def readAsOf(spark: SparkSession, dir: String, tsMillis: Long): DataFrame =
    read(spark, dir, Some(versionAsOf(spark, dir, tsMillis)))

  /** Publish a staged version: flip its log entry's `staged` flag off
    * (write-temp-then-rename over the ONE entry file — the same
    * crash-atomicity as commit, and no other version's entry is even
    * touched). Data files are untouched; publication is pure
    * metadata. */
  def publish(spark: SparkSession, dir: String, version: Int): Unit = {
    val (fs, p) = fsOf(spark, dir)
    val target = logEntries(spark, dir)
      .find(_.get("version").asInt() == version)
    require(target.isDefined, s"version $version not in log under $dir")
    require(Option(target.get.get("staged")).exists(_.asBoolean()),
      s"version $version is not staged")
    val o = target.get.asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    o.remove("staged")
    replaceEntry(fs, p, version, o.toString)
    // opt-in auto-ANALYZE (x79): a published plain staged version is
    // the table's new full state — profile its own files now that
    // readers can see it (kinded versions — DVs, chained appends —
    // stay staleness-detected instead)
    if (Option(o.get("kind")).isEmpty)
      graft.ops.AutoAnalyze.afterCommit(spark, dir, version, base = None)
    // publication is a stage's reader-visible moment — the retention
    // window advances here, not at the invisible stage
    graft.ops.Retention.afterCommit(spark, dir)
  }

  // ------------------------------------------------------------------
  // MULTI-TABLE ATOMIC TRANSACTIONS (x45) — the Percolator/Nessie
  // primary-record shape reduced to its load-bearing parts. A
  // transaction stages one new version per participating table
  // ([[txnStage]]: durable data, reader-invisible — exactly a
  // write-audit-publish staged entry, plus the txn tag), then commits
  // with ONE create-exclusive decision marker in the txn dir
  // ([[txnCommit]]). That single file creation is the atomic commit
  // point ACROSS TABLES: readers resolve a txn-tagged staged entry as
  // published iff its transaction's marker says committed, so a crash
  // anywhere leaves either no table changed (no marker — the staged
  // versions are inert WAP ghosts vacuum collects) or all tables
  // changed (marker exists — every participant is visible even before
  // its entry is repaired). Entry repair ([[txnRepair]]) then flips
  // the staged flags off lazily — Percolator's secondary-write
  // cleanup — after which reads never consult the marker again.
  // Decision markers are immutable once created (create-exclusive:
  // commit and abort race to write the SAME file, one winner), so
  // their status is cached process-wide. At 100 TB this is the
  // catalog-level transaction of Nessie/Iceberg: the marker create
  // maps to the catalog store's conditional put, and per-table log
  // repair cost follows the transaction's table count, never data
  // size.
  // ------------------------------------------------------------------

  /** Stage `df` as a participant of transaction `txnId`: the version
    * is durable and owns its number, but no reader resolving `latest`
    * sees it until the transaction's decision marker says committed.
    * Returns the staged version number (pin it for [[txnRepair]] /
    * audit reads, which may name it explicitly like any WAP stage). */
  def txnStage(df: DataFrame, dir: String, txnDir: String, txnId: String,
               partitionBy: Seq[String] = Nil): Int =
    writeVersion(df, dir, partitionBy,
      extraMeta = s""","staged":true,"txn":${jstr(txnId)},"txn_dir":${jstr(txnDir)}""")

  /** [[txnStage]] carrying an EPOCH tag — the multi-table exactly-once
    * streaming sink's stage: replay detection asks
    * [[epochCommitted]], which counts only reader-visible versions,
    * so the invisible ghosts of a crashed attempt can never suppress
    * the retry that must land the epoch. (A table fed this way uses
    * epoch tags through its txn sink exclusively — mixing with
    * [[commitEpoch]]'s own tags on one table would let a ghost
    * suppress a commitEpoch retry, which checks all entries.) */
  def txnStageEpoch(df: DataFrame, dir: String, txnDir: String, txnId: String,
                    epochId: Long): Int =
    writeVersion(df, dir, Nil,
      extraMeta = s""","staged":true,"txn":${jstr(txnId)},"txn_dir":${jstr(txnDir)},"epoch":$epochId""")

  /** Whether a reader-VISIBLE version of `dir` carries `epoch` — the
    * replay test for the multi-table epoch sink (crashed attempts'
    * undecided ghosts do not count; the successfully committed epoch
    * does, repaired or not). */
  def epochCommitted(spark: SparkSession, dir: String, epochId: Long): Boolean =
    logEntries(spark, dir).exists(n =>
      Option(n.get("epoch")).exists(_.asLong() == epochId) &&
        isPublishedEntry(spark, n))

  /** COMMIT the transaction: create its decision marker with status
    * `committed` — the one atomic action that makes every staged
    * participant visible at once. Losing the marker race to an abort
    * raises [[TxnDecidedException]]; finding the marker already
    * committed is an idempotent success (the crash-retry path). With
    * `repair` (default), participating tables' entries are flipped
    * non-staged afterwards; a crash mid-repair changes nothing
    * observable — visibility came from the marker, and repair is
    * idempotent. */
  def txnCommit(spark: SparkSession, txnDir: String, txnId: String,
                tables: Seq[String] = Nil, repair: Boolean = true): Unit = {
    decideTxn(spark, txnDir, txnId, "committed")
    if (repair) txnRepair(spark, txnDir, txnId, tables)
  }

  /** ABORT the transaction: create its decision marker with status
    * `aborted`. Every staged participant becomes a permanent ghost
    * (inert until vacuum ages it out). Raises [[TxnDecidedException]]
    * iff the transaction already committed; aborting an aborted
    * transaction is idempotent. Anyone may abort a transaction whose
    * writer died — that is how stale pending transactions are fenced
    * before their writer could wake up and commit. */
  def txnAbort(spark: SparkSession, txnDir: String, txnId: String): Unit =
    decideTxn(spark, txnDir, txnId, "aborted")

  private def decideTxn(spark: SparkSession, txnDir: String, txnId: String,
                        want: String): Unit = {
    val (fs, p) = fsOf(spark, txnDir)
    fs.mkdirs(p)
    val json = s"""{"txn":${jstr(txnId)},"status":${jstr(want)}}"""
    if (!tryCreateExclusive(fs, p, s"_txn_$txnId.json", json)) {
      val got = txnStatus(spark, txnDir, txnId)
      if (got != want) throw new TxnDecidedException(
        s"transaction $txnId already decided $got")
    }
  }

  /** Decision-marker cache: a marker is created exclusively and never
    * rewritten, so a status once read is true forever ("pending" is
    * the one non-final answer and is never cached). */
  private val txnStatusCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** The transaction's decided status: `committed`, `aborted`, or
    * `pending` (no marker yet). */
  def txnStatus(spark: SparkSession, txnDir: String, txnId: String): String = {
    val key = s"$txnDir|$txnId"
    val cached = txnStatusCache.get(key)
    if (cached != null) return cached
    val (fs, p) = fsOf(spark, txnDir)
    val marker = new org.apache.hadoop.fs.Path(p, s"_txn_$txnId.json")
    if (!fs.exists(marker)) "pending"
    else {
      val in = fs.open(marker)
      val txt = try new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8) finally in.close()
      val st = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(txt).get("status").asText()
      txnStatusCache.put(key, st)
      st
    }
  }

  /** CONSISTENT MULTI-TABLE SNAPSHOT (x113 — the READ side of x45's
    * atomicity): a reader resolving each participant's latest
    * INDEPENDENTLY can straddle someone else's transaction — list A
    * before its marker flips, B after — observing a cross-table
    * state no writer ever committed, even though every single-table
    * read was correct. This pins one version per table such that
    * every cross-table transaction is either fully visible or fully
    * invisible in the returned map: two consecutive visibility
    * passes over ALL participants must agree (visible version sets
    * are monotone — entries append, markers decide once — so equal
    * passes prove no commit, publish, or marker flip interleaved,
    * and the map reflects one real instant). Disagreement retries:
    * the x91 claim loop's optimistic shape applied to reads. Reads
    * against the returned pins are ordinary pinned reads — stable
    * for as long as RETENTION keeps the pinned versions: a standing
    * age policy (x106) or an explicit [[vacuum]] that collects a
    * pinned version between pin and read leaves the pin dangling —
    * the same reader-vs-VACUUM race Delta documents. A long-lived
    * pin holder should read through [[pinnedReadOrRaise]], which
    * detects the collected version LOUDLY instead of failing deep in
    * a scan (or serving a later state). Cost: two manifest-sized log
    * listings per participant per attempt; no data touched. */
  def snapshotAll(spark: SparkSession, dirs: Seq[String],
                  maxAttempts: Int = 50): Map[String, Int] = {
    def pass(): Map[String, Seq[Int]] =
      dirs.map(d => d -> versions(spark, d)).toMap
    var attempts = 0
    while (attempts < maxAttempts) {
      attempts += 1
      val p1 = pass()
      val p2 = pass()
      if (p1 == p2)
        return p1.map { case (d, vs) =>
          require(vs.nonEmpty, s"no committed versions under $d")
          d -> vs.max
        }
    }
    throw new ConcurrentCommitException(
      s"snapshotAll: no stable cross-table instant in $maxAttempts " +
        s"attempts across ${dirs.mkString(", ")}")
  }

  /** RETENTION HOLD (x121 — the pin [[snapshotAll]]'s contract asks
    * readers to take, made VISIBLE to retention): a create-exclusive
    * `_hold_<tag>.json` marker pins `version` — [[vacuum]],
    * [[vacuumOlderThan]], and every age policy routed through the
    * shared keep-set computation skip held versions AND their base
    * chains (the closure walk pins transitively, so holding an
    * append head keeps everything it resolves through). Exactly
    * Delta/Iceberg's named-reference retention semantics: a ref'd
    * snapshot never expires. The claim is create-exclusive, so two
    * holders of one tag collapse idempotently when they pin the SAME
    * version and the second holder fails LOUDLY on a different one —
    * a tag is a promise, not a counter. [[releaseHold]] frees it;
    * the next retention cycle collects normally. */
  def holdVersion(spark: SparkSession, dir: String, version: Int,
                  tag: String): Unit = {
    require(tag.matches("[A-Za-z0-9_-]+"), s"invalid hold tag '$tag'")
    require(allVersions(spark, dir).contains(version),
      s"hold '$tag': v$version not in the log under $dir")
    val (fs, p) = fsOf(spark, dir)
    val json = s"""{"tag":${jstr(tag)},"version":$version}"""
    if (!tryCreateExclusive(fs, p, s"_hold_$tag.json", json)) {
      val cur = holds(spark, dir).get(tag)
      require(cur.contains(version),
        s"hold tag '$tag' already pins v${cur.getOrElse(-1)} under $dir — " +
          "release it first or use another tag")
    }
    // Hold-vs-in-flight-vacuum window: a vacuum that computed its
    // keep-set BEFORE this marker landed can still collect the
    // version — the marker alone is check-then-create, not an
    // interlock. Re-verify the version survived AFTER the marker is
    // visible: if it vanished, the hold is a dangling claim over a
    // collected version — delete it and raise here, instead of
    // letting a later pinnedReadOrRaise discover the violation.
    if (!allVersions(spark, dir).contains(version)) {
      fs.delete(new org.apache.hadoop.fs.Path(p, s"_hold_$tag.json"), false)
      throw new IllegalStateException(
        s"hold '$tag': v$version was collected by a concurrent vacuum " +
          s"before the hold became visible under $dir — re-create the " +
          "version (or hold an existing one) and retry")
    }
  }

  /** Release a retention hold — the pinned version becomes collectable
    * at the next retention cycle. Idempotent. */
  def releaseHold(spark: SparkSession, dir: String, tag: String): Unit = {
    val (fs, p) = fsOf(spark, dir)
    fs.delete(new org.apache.hadoop.fs.Path(p, s"_hold_$tag.json"), false)
    ()
  }

  private val HoldName = """^_hold_(.+)\.json$""".r

  /** The table's active retention holds, tag → pinned version —
    * metadata-only (one listing). */
  def holds(spark: SparkSession, dir: String): Map[String, Int] = {
    val (fs, p) = fsOf(spark, dir)
    if (!fs.exists(p)) Map.empty
    else {
      val m = new com.fasterxml.jackson.databind.ObjectMapper()
      fs.listStatus(p).toSeq.filter(_.isFile).flatMap { f =>
        HoldName.findFirstMatchIn(f.getPath.getName).map { mm =>
          val in = fs.open(f.getPath)
          val n = try m.readTree(new String(in.readAllBytes(),
            java.nio.charset.StandardCharsets.UTF_8)) finally in.close()
          mm.group(1) -> n.get("version").asInt()
        }
      }.toMap
    }
  }

  /** Pinned read with a LOUD retention guard (the [[snapshotAll]]
    * contract's other half): resolve `version` only after checking
    * its entry still exists — a standing age policy (x106) or a
    * [[vacuum]] that ran between pin and read un-publishes the entry
    * first (see vacuumKeeping), so a collected pin is detectable
    * metadata-only, and the failure names the race instead of
    * surfacing as a missing-file error deep in a scan. The check is
    * advisory, not transactional — vacuum can still win a race with
    * the scan itself, which is Delta's documented reader-vs-VACUUM
    * shape; the guard turns the COMMON case (stale pin held across a
    * retention cycle) into a clear, immediate refusal. */
  def pinnedReadOrRaise(spark: SparkSession, dir: String,
                        version: Int): DataFrame = {
    val have = allVersions(spark, dir)
    if (!have.contains(version)) throw new ConcurrentCommitException(
      s"pinned version v$version under $dir is gone — retention/vacuum " +
        s"collected it after the pin was taken (log now holds " +
        s"${have.mkString(",")}); re-pin via snapshotAll and re-read")
    readResolved(spark, dir, Some(version))
  }

  /** Lazy log repair after a committed transaction: flip each
    * participating table's txn-staged entries non-staged (keeping the
    * txn fields as provenance), so later reads resolve them without
    * consulting the marker. Idempotent; requires the transaction to
    * actually be committed. */
  def txnRepair(spark: SparkSession, txnDir: String, txnId: String,
                tables: Seq[String]): Unit = {
    require(txnStatus(spark, txnDir, txnId) == "committed",
      s"cannot repair undecided/aborted transaction $txnId")
    tables.foreach { dir =>
      val (fs, p) = fsOf(spark, dir)
      logEntries(spark, dir)
        .filter(n => Option(n.get("txn")).exists(_.asText() == txnId))
        .filter(n => Option(n.get("staged")).exists(_.asBoolean()))
        .foreach { n =>
          val o = n.asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
          o.remove("staged")
          replaceEntry(fs, p, n.get("version").asInt(), o.toString)
        }
    }
  }

  /** Whether a log entry is visible to readers resolving `latest`: a
    * plain entry is; a staged entry is not — unless it is txn-tagged
    * and its transaction's decision marker says committed (the
    * not-yet-repaired window after [[txnCommit]]'s atomic point). */
  private def isPublishedEntry(spark: SparkSession,
                               n: com.fasterxml.jackson.databind.JsonNode): Boolean =
    if (!Option(n.get("staged")).exists(_.asBoolean())) true
    else Option(n.get("txn")).map(_.asText()) match {
      case Some(id) =>
        txnStatus(spark, n.get("txn_dir").asText(), id) == "committed"
      case None => false
    }

  /** LOG-NATIVE CHANGE FEED: the change rows INTRODUCED by `version`,
    * derived from the version's log entry — the point is what each
    * commit kind does NOT have to scan:
    *  - a `deletes` version yields its keys as D rows by reading ONLY
    *    the key-sized DV file (zero base scans — x33's PlanShapeSpec
    *    pin);
    *  - a `replace` version diffs ONE partition (the base side is
    *    partition-pruned to `pcol = pval`; unchanged partitions are
    *    never read);
    *  - a first data version is all-inserts from its own files;
    *  - a data version over history falls back to the honest
    *    full-outer diff ([[graft.ops.Diff]]) — the only kind where
    *    both sides genuinely must be read.
    * Output: `op` ('I'/'U'/'D') + the key columns. At 100 TB this is
    * the table_changes contract: CDC cost follows the CHURN recorded
    * in the log, not the table size. */
  def stepChanges(spark: SparkSession, dir: String, version: Int,
                  keys: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val entries = logEntries(spark, dir)
    val byV = entries.map(n => n.get("version").asInt() -> n).toMap
    require(byV.contains(version), s"version $version not in log under $dir")
    val n = byV(version)
    val vdf = readVersionDf(spark, dir, n)
    val sel = (op: org.apache.spark.sql.Column, df: DataFrame) =>
      df.select(op.as("op") +: keys.map(col): _*)
    Option(n.get("kind")).map(_.asText()).getOrElse("data") match {
      case "deletes" => sel(lit("D"), vdf)
      // x111: a position delete's feed is the DELETED rows, read by
      // joining the base's positioned scan to the delete's own
      // (file,pos) set — the data files ARE read for the deleted rows
      // (position deletes carry no values), but only semi-join-pruned.
      // A dataChange=false posdeletes (x115's compaction — the SAME
      // logical exclusions re-landed as one delete file) feeds
      // NOTHING: maintenance must never reach CDC consumers.
      case "posdeletes" =>
        if (!Option(n.get("dataChange")).forall(_.asBoolean(true)))
          sel(lit("D"), readResolved(spark, dir,
            Some(n.get("base").asInt()))).limit(0)
        else sel(lit("D"), readResolvedPos(spark, dir,
            Some(n.get("base").asInt()))
          .join(vdf, Seq(PosFileCol, PosIdxCol), "left_semi")
          .drop(PosFileCol, PosIdxCol))
      // an append's feed is its own rows as inserts — by construction,
      // no diff job (the O(Δ) change feed ingest pipelines want). A
      // dataChange=false append (incremental OPTIMIZE re-landing
      // existing rows in a better layout) feeds NOTHING: readers of
      // the change feed must never see a layout commit as new data.
      case "append" =>
        if (Option(n.get("dataChange")).forall(_.asBoolean(true)))
          sel(lit("I"), vdf)
        else sel(lit("I"), vdf).limit(0)
      case "replace" =>
        val pcol = n.get("pcol").asText()
        val pval = n.get("pval").asText()
        val oldPart = readResolved(spark, dir, Some(n.get("base").asInt()))
          .filter(col(pcol) === pval)
        if (vdf.columns.forall(keys.contains)) {
          // FULL-ROW feed (the x110 replica shape — every column a
          // key): the per-partition diff degenerates to a multiset
          // difference — old images exceptAll new feed as D, new
          // exceptAll old as I (a changed row is its old image's D
          // plus its new image's I, exactly what a key-anti-join
          // apply consumes); U needs a non-key column to compare, so
          // it never occurs here. Still O(partition Δ): both sides
          // are the ONE pruned partition.
          val o = oldPart.select(keys.map(col): _*)
          val w = vdf.select(keys.map(col): _*)
          sel(lit("D"), o.exceptAll(w)).unionByName(sel(lit("I"), w.exceptAll(o)))
        } else graft.ops.Diff.snapshot(oldPart, vdf, keys)
          .select(col("op") +: keys.map(col): _*)
      // a dataChange=false FULL version (commitLayout — OPTIMIZE's
      // whole-table rewrite) holds the same logical rows as its base:
      // the feed is empty by definition, no diff job needed
      case "data" | "clone" | "restore"
          if !Option(n.get("dataChange")).forall(_.asBoolean(true)) =>
        sel(lit("I"), vdf).limit(0)
      // an alter is metadata-only (same rows, wider schema): feeds
      // nothing — a schema change must never reach CDC consumers as
      // row churn
      case "alter" | "constraint" => sel(lit("I"), vdf).limit(0)
      case "data" | "clone" | "restore" =>
        // the diff baseline is the latest PUBLISHED prior version: a
        // staged (unpublished) prior was never visible to any reader,
        // so diffing against it would emit a feed that reconstructs
        // states nobody observed (commit v1 / commitStaged v2 /
        // commit v3 must feed v3 as diff-vs-v1). Baselines follow the
        // published chain as of THIS call — publishing a staged
        // version re-bases later feeds, which is the WAP contract:
        // the feed describes what readers could see. (A clone's vdf
        // is already its resolved source state, so it feeds exactly
        // like a data commit of that state.)
        val prior = entries
          .filter(isPublishedEntry(spark, _))
          .map(_.get("version").asInt()).filter(_ < version)
        if (prior.isEmpty) sel(lit("I"), vdf)
        else graft.ops.Diff.snapshot(
            readResolved(spark, dir, Some(prior.max)), vdf, keys)
          .select(col("op") +: keys.map(col): _*)
      case other => sys.error(s"unknown version kind '$other' at v$version")
    }
  }

  /** POSITION-AWARE CHANGE FEED (x118 — closes x117's documented
    * caveat): the change rows introduced by published `version` on a
    * KEYLESS (data/append/posdeletes) chain, every row carrying its
    * `_file`/`_pos` address so a consumer with no key column can
    * still apply deletes exactly.
    *
    * [[stepChanges]] cannot serve a positional-update history: the
    * published append feeds its new images as I rows, but the staged
    * position-delete's D half is reachable only through the base
    * chain — an x110-style replica replaying the keyed feed silently
    * diverges (rows that were positionally replaced never leave it).
    * Here each published append's step ALSO walks its staged-chain
    * segment (everything between the append's base and the newest
    * published version below it — exactly x117's publish shape) and
    * serves each staged position-delete as D rows: the PRE-IMAGES,
    * values + (file,pos), read by semi-joining the DV's base's
    * positioned scan to the delete's own address set (the same
    * semi-join-pruned read the keyed posdeletes feed pays).
    * Published position deletes feed their D half directly;
    * dataChange=false steps (x115 compaction, OPTIMIZE re-lands)
    * feed nothing, as maintenance must. Kinds without stable
    * positions (equality deletes, replace, clone, …) raise — keyed
    * tables keep [[stepChanges]].
    *
    * Apply contract (proven by x118's replica replay): per published
    * version ascending, anti-join the replica on the D rows'
    * (`_file`,`_pos`), then union the I rows (values + addresses).
    * After any prefix the replica equals the source's resolved state
    * at that version. At 100 TB each step costs the CHURN the log
    * recorded — delete-sized address sets and append-sized image
    * reads — never a table scan. */
  def stepChangesPos(spark: SparkSession, dir: String, version: Int): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val entries = logEntries(spark, dir)
    val byV = entries.map(n => n.get("version").asInt() -> n).toMap
    require(byV.contains(version), s"version $version not in log under $dir")
    val n = byV(version)
    def kindOf(e: com.fasterxml.jackson.databind.JsonNode): String =
      Option(e.get("kind")).map(_.asText()).getOrElse("data")
    def dcOf(e: com.fasterxml.jackson.databind.JsonNode): Boolean =
      Option(e.get("dataChange")).forall(_.asBoolean(true))
    // the table's logical column order, from the nearest entry on the
    // chain that records data columns (posdeletes entries record only
    // the address pair)
    def dataColsAt(v: Int): Seq[String] = {
      var b = v
      while (kindOf(byV(b)) == "posdeletes") b = byV(b).get("base").asInt()
      org.apache.spark.sql.types.DataType
        .fromJson(byV(b).get("schema").asText())
        .asInstanceOf[StructType].fieldNames.toSeq
    }
    val cols = dataColsAt(version)
    def shape(op: String, df: DataFrame): DataFrame =
      df.select(lit(op).as("op") +: col(PosFileCol) +: col(PosIdxCol) +:
        cols.map(col): _*)
    // a position delete's D half: pre-image values + addresses, the
    // base's positioned scan semi-join-pruned to the delete's set
    def dHalf(pd: com.fasterxml.jackson.databind.JsonNode): DataFrame =
      shape("D", readResolvedPos(spark, dir, Some(pd.get("base").asInt()))
        .join(readVersionDf(spark, dir, pd), Seq(PosFileCol, PosIdxCol),
          "left_semi"))
    kindOf(n) match {
      case _ if !dcOf(n) =>
        // maintenance (x115 compaction, dc=false re-lands) feeds NOTHING
        shape("I", readResolvedPos(spark, dir, Some(version))).limit(0)
      case "posdeletes" => dHalf(n)
      case "data" => shape("I", physicalWithPos(spark, dir, n))
      case "append" =>
        // I images + the staged-chain segment's D halves (x117's shape)
        val published = versions(spark, dir).toSet
        var out = shape("I", physicalWithPos(spark, dir, n))
        var b = n.get("base").asInt()
        while (!published.contains(b)) {
          val bn = byV.getOrElse(b, sys.error(
            s"position feed: staged base v$b missing from the log under $dir"))
          require(kindOf(bn) == "posdeletes",
            s"position feed at v$version: staged v$b is '${kindOf(bn)}' — " +
              "only staged position-deletes ride a positional publish " +
              "(keyed tables keep stepChanges)")
          out = out.unionByName(dHalf(bn))
          b = bn.get("base").asInt()
        }
        out
      case other => sys.error(
        s"position-aware feed serves data/append/posdeletes chains; " +
          s"v$version under $dir is '$other' (no stable file positions)")
    }
  }

  /** SUBSCRIBE to this table's change feed (x103): a cursor-backed
    * micro-batch source — one version step per batch, O(Δ) each,
    * restart resuming from the persisted cursor. See
    * [[ChangeFeed]]. */
  def readChangeStream(spark: SparkSession, dir: String, keys: Seq[String],
                       cursorDir: String): ChangeFeed.Subscription =
    ChangeFeed.subscribe(spark, dir, keys, cursorDir)

  /** Commit `df` tagged with an opaque cache/lookup KEY (x46's result
    * cache rides this): the key lands in the version's log entry, so
    * [[findKeyed]] can resolve it metadata-only. Duplicate keys are
    * benign by contract (cached results are deterministic functions
    * of their key — racing writers store equal content; lookup takes
    * the newest). */
  def commitKeyed(df: DataFrame, dir: String, key: String): Int =
    writeVersion(df, dir, Nil, extraMeta = s""","key":${jstr(key)}""")

  /** The newest version carrying `key`, metadata-only (one log
    * listing, no data touched). */
  def findKeyed(spark: SparkSession, dir: String, key: String): Option[Int] =
    logEntries(spark, dir)
      .filter(n => Option(n.get("key")).exists(_.asText() == key))
      .map(_.get("version").asInt()).sorted.lastOption

  /** PHYSICALLY drop every keyed version whose key matches `pred` —
    * the surgical result-cache invalidation the RTBF purge needs
    * (x76): entries computed from pre-purge versions of a source
    * still CONTAIN the purged rows, and version-exact keying only
    * ages them out of SERVING, not off disk. Crash-safe in vacuum's
    * direction (un-publish the entry, then delete its data — a crash
    * between leaves an unreferenced dir, never an entry naming
    * missing data) and checkpoint-aware (a checkpoint carrying a
    * dropped version would resurrect it; rewrite from survivors
    * first). Un-keyed versions are never touched; a matched version
    * that a survivor references as its `base` refuses loudly
    * (caches commit plain data versions, so this only fires on
    * misuse). Returns the dropped version numbers. */
  def dropKeyedVersions(spark: SparkSession, dir: String,
                        pred: String => Boolean): Seq[Int] = {
    val (fs, p) = fsOf(spark, dir)
    val entries = logEntries(spark, dir)
    val dropped = entries
      .filter(n => Option(n.get("key")).exists(k => pred(k.asText())))
      .map(_.get("version").asInt()).sorted
    if (dropped.isEmpty) return Nil
    val droppedSet = dropped.toSet
    val survivors = entries.filterNot(n => droppedSet(n.get("version").asInt()))
    survivors.foreach { n =>
      Option(n.get("base")).map(_.asInt()).foreach { b =>
        require(!droppedSet(b),
          s"version v${n.get("version").asInt()} references dropped v$b as its base")
      }
    }
    val ckpts = fs.listStatus(p).toSeq.filter(_.isFile)
      .flatMap(f => CkptName.findFirstMatchIn(f.getPath.getName)
        .map(mm => mm.group(1).toInt -> f.getPath))
    if (ckpts.nonEmpty) {
      // a checkpoint carrying only dropped versions is deleted
      // outright — leaving it would resurrect them
      if (survivors.isEmpty) ckpts.foreach(c => fs.delete(c._2, false))
      else {
        val n = survivors.map(_.get("version").asInt()).max
        val json = survivors.map(_.toString)
          .mkString(s"""{"version":$n,"entries":[""", ",", "]}")
        replaceEntryFile(fs, p, s"_ckpt_v$n.json", json)
        ckpts.filter(_._1 > n).foreach(c => fs.delete(c._2, false))
      }
    }
    val dirOf = entries.map(n => n.get("version").asInt() -> entryDataDir(n)).toMap
    dropped.foreach { v =>
      fs.delete(new org.apache.hadoop.fs.Path(p, s"_entry_v$v.json"), false)
      fs.delete(new org.apache.hadoop.fs.Path(p, dirOf(v)), true)
    }
    dropped
  }

  /** IDEMPOTENT epoch commit — the exactly-once streaming sink
    * primitive: each micro-batch commits as a version tagged with its
    * epoch id, and a REPLAYED epoch (failure recovery re-executes the
    * last uncommitted micro-batch) finds its tag already in the log
    * and commits nothing — the version log plays the role of the
    * transactional sink commit. Returns the new version, or None if
    * this epoch already landed. */
  def commitEpoch(df: DataFrame, dir: String, epochId: Long): Option[Int] = {
    val spark = df.sparkSession
    val already = logEntries(spark, dir)
      .exists(n => Option(n.get("epoch")).exists(_.asLong() == epochId))
    if (already) None
    else {
      val v = writeVersion(df, dir, Nil, extraMeta = s""","epoch":$epochId""")
      // opt-in auto-OPTIMIZE (x93): streaming epoch sinks are the
      // small-file factory the hook exists for
      graft.ops.AutoOptimize.afterCommit(df.sparkSession, dir)
    graft.ops.Retention.afterCommit(df.sparkSession, dir)
      Some(v)
    }
  }

  private def jstr(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  private def writeVersion(df: DataFrame, dir: String,
                           partitionBy: Seq[String], extraMeta: String,
                           expected: Option[Int] = None,
                           dropFromSchema: Seq[String] = Nil): Int = {
    val spark = df.sparkSession
    val (fs, p) = fsOf(spark, dir)
    expected.foreach { e =>
      // cheap preflight: abort before the data write if the race is
      // already lost (the authoritative check is the entry claim +
      // published re-read at the commit point below). Conflict
      // semantics follow the PUBLISHED head: OCC is about
      // reader-visible states, so an unpublished stage (a pending
      // txn/WAP ghost, an open branch's chain) is NOT a conflict —
      // it merely occupies entry numbers, and the claim loop steps
      // past it. Without this, any open branch would permanently
      // block every expected-version writer on main (x91 commuting
      // appends, x93 auto-OPTIMIZE layout re-lands).
      val cur = versions(spark, dir).lastOption.getOrElse(0)
      if (cur != e) throw new ConcurrentCommitException(
        s"commit planned against v$e but published head is v$cur under $dir")
    }
    // Stage the data files under a writer-unique directory: the
    // expensive write happens entirely OUTSIDE the commit step, and
    // two concurrent writers can never scribble into the same
    // directory (underscore prefix: invisible to readers; the final
    // data dir keeps the writer suffix for the same reason).
    val writer = java.util.UUID.randomUUID().toString.take(8)
    val stage = new org.apache.hadoop.fs.Path(p, s"_stage_$writer")
    val w = df.write.mode(SaveMode.Overwrite)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .parquet(stage.toString)
    // log metadata comes from the FILE LISTING only — never a read
    // pass over the data just written (at 100 TB a per-commit rescan
    // would double the write cost). The writer-observed SCHEMA rides
    // in the entry so reads restore exact column types — hive
    // partition-value re-inference (a numeric-looking pval coming
    // back int) can never diverge a version from what was committed.
    val files = dataFiles(fs, stage)
    // WRITE-ONLY layout columns (dropFromSchema): a physical partition
    // column like OPTIMIZE ZORDER's `_zfile` shapes the directory
    // layout but must never join the table's LOGICAL schema — Delta's
    // OPTIMIZE never alters schema, and a later plain-schema append
    // would otherwise make readResolved's unionByName fail. The
    // committed schema drops it; reads project to that schema, and
    // layout witnesses read the hive dirs via [[readLayout]].
    val logical = StructType(
      df.schema.fields.filterNot(f => dropFromSchema.contains(f.name)))
    val meta = s""""n_files":${files.length},"bytes":${files.map(_.getLen).sum},"schema":${jstr(logical.json)}$extraMeta"""
    // COMMIT LOOP — version N belongs to whoever CREATES
    // `_entry_v<N>.json` ([[tryPublishEntry]]'s conditional put):
    //  1. rename the staged data to `v<N>-<writer>` (unique name —
    //     no cross-writer collision, and rename-before-publish means
    //     an entry never points at data that is not fully in place;
    //     a crash here leaves an UNclaimed orphan dir, invisible,
    //     and version N stays free for the next committer — there is
    //     no claim marker to leak, so no dead-claim livelock);
    //  2. attempt the entry create. Winning = committed. Losing
    //     means some other writer owns N: an `expectedVersion`
    //     commit has then provably lost its race (v expected+1
    //     exists) and raises; a plain commit renames its data dir
    //     to the next number and retries — concurrent plain writers
    //     all land, serialized by the claim order.
    var dataDir: org.apache.hadoop.fs.Path = stage
    var next = allVersions(spark, dir).lastOption.getOrElse(0) + 1
    var attempts = 0
    while (true) {
      attempts += 1
      require(attempts <= 10000, s"commit livelock under $dir")
      expected.foreach { e =>
        // re-verified on EVERY attempt (the data write above takes
        // real time — the race may be lost before the first claim):
        // the PUBLISHED head must still be `expected`; unpublished
        // stages are not conflicts, they merely occupy numbers.
        // ONE log read decides BOTH the head check and the slot
        // computation: deriving them from two separate listings
        // opened a TOCTOU — a commit publishing in between was
        // stepped past as if it were a staged ghost, and its rows
        // silently dropped from the base chain (caught by the
        // eight-writer fleet spec; two writers rarely hit the
        // window). From one snapshot the race narrows to
        // read→claim, which the entry-create collision itself
        // detects: both writers target the same slot, the loser
        // re-reads and raises.
        val snapshot = logEntries(spark, dir)
        val pubNow = snapshot.filter(isPublishedEntry(spark, _))
          .map(_.get("version").asInt()).maxOption.getOrElse(0)
        if (pubNow != e) {
          fs.delete(dataDir, true)
          throw new ConcurrentCommitException(
            s"commit planned against v$e but v$pubNow is the published " +
              s"head under $dir")
        }
        // claim the FIRST free number above `expected` (stepping past
        // staged ghosts only): every concurrent publisher targets the
        // same slot, so the entry-create collision IS the conflict
        // detector — the loser's recheck sees the winner published
        // above `expected` and raises. Starting at max+1 instead
        // would let a racer land clean ABOVE an interleaved commit
        // and miss the conflict entirely.
        val all = snapshot.map(_.get("version").asInt()).toSet
        next = Iterator.from(e + 1).find(v => !all.contains(v)).get
      }
      val vdir = new org.apache.hadoop.fs.Path(p, s"v$next-$writer")
      require(fs.rename(dataDir, vdir), s"could not place $dataDir -> $vdir")
      dataDir = vdir
      val entry = s"""{"version":$next,"dir":${jstr(vdir.getName)},$meta}"""
      // The entry create IS publication, so a winning claim needs no
      // post-check: any OTHER published commit claims max+1 at ITS
      // read time — below our number it would have been visible to
      // our preflight; at our number it wins or loses THIS claim; and
      // after our create it reads our version as its base. The one
      // event that can surface a published version between `expected`
      // and our claim is a staged entry FLIPPING published (WAP
      // publish / txn commit / branch fast-forward) in the window —
      // which this log's documented contract treats as SHADOWED by
      // later-numbered commits (stepChanges' re-basing rule), for
      // expected and plain writers alike. Rolling our own published
      // entry back here instead would be unsound: a concurrent append
      // may already have based on it.
      if (tryPublishEntry(fs, p, next, entry)) return next
      // lost the claim: an expected commit loops back to the
      // recheck-and-reslot above (a published winner at our slot
      // raises there; a staged racer merely moves the slot); a plain
      // commit takes the next number
      if (expected.isEmpty)
        next = math.max(next, allVersions(spark, dir).lastOption.getOrElse(0)) + 1
    }
    -1 // unreachable
  }

  /** Read one version's files with the COMMITTED schema from its log
    * entry (writeVersion records it): partition-column values are
    * parsed with their original types instead of re-inferred, so a
    * numeric-looking partition value (pval "2024") comes back as the
    * string it was written as — the hive type-inference trap that
    * would otherwise break unionByName / pval comparisons on replace
    * versions. Entries from before schema recording fall back to
    * inference. */
  /** A version's data directory, resolved from its log entry (the
    * entry's `dir` field carries the writer-suffixed name). */
  private def entryDataDir(n: com.fasterxml.jackson.databind.JsonNode): String =
    Option(n.get("dir")).map(_.asText())
      .getOrElse(s"v${n.get("version").asInt()}")

  private def readVersionDf(spark: SparkSession, dir: String,
                            n: com.fasterxml.jackson.databind.JsonNode): DataFrame = {
    // a clone version has no files of its own: its content is the
    // source table's version, resolved recursively (fails loudly if
    // the source was vacuumed below it — the retention contract)
    if (Option(n.get("kind")).map(_.asText()).contains("clone"))
      return readResolved(spark, n.get("src_dir").asText(),
        Some(n.get("src_version").asInt()))
    // a restore is a same-table clone: content = its base version,
    // resolved recursively (the base may itself be logical)
    if (Option(n.get("kind")).map(_.asText()).contains("restore"))
      return readResolved(spark, dir, Some(n.get("base").asInt()))
    // a constraint entry is metadata-only: content = its base's rows,
    // schema unchanged (only the WRITE path changes behavior)
    if (Option(n.get("kind")).map(_.asText()).contains("constraint"))
      return readResolved(spark, dir, Some(n.get("base").asInt()))
    // an alter is metadata-only schema evolution: content = its
    // base's rows served through the NEW schema — added columns as
    // typed nulls, renamed columns as the base's physical column
    // under the new name (the entry's `renames` map, x104), dropped
    // columns simply unselected (absent from the new schema).
    if (Option(n.get("kind")).map(_.asText()).contains("alter")) {
      import org.apache.spark.sql.functions.{col, expr, lit}
      val newSchema = org.apache.spark.sql.types.DataType
        .fromJson(n.get("schema").asText()).asInstanceOf[StructType]
      val renames = entryRenames(n)
      val defaults = entryDefaults(n)
      val base = readResolved(spark, dir, Some(n.get("base").asInt()))
      val have = base.columns.toSet
      // the cast is x109's widening applied at plan construction (a
      // lossless upcast above the base plan — SimplifyCasts removes
      // it when types already agree, so rename/add pay nothing).
      // x119: an added column with a recorded DEFAULT serves the
      // expression (evaluated over the base rows — generated columns
      // included) for every pre-evolution row; without one, the
      // typed null as before.
      return base.select(newSchema.fields.toSeq.map { f =>
        renames.get(f.name).filter(have) match {
          case Some(old) => col(old).cast(f.dataType).as(f.name)
          case None if have(f.name) => col(f.name).cast(f.dataType).as(f.name)
          case None => defaults.get(f.name)
            .map(sql => expr(sql).cast(f.dataType).as(f.name))
            .getOrElse(lit(null).cast(f.dataType).as(f.name))
        }
      }: _*)
    }
    val vdir = s"$dir/${entryDataDir(n)}"
    Option(n.get("schema")).map(_.asText()) match {
      case Some(sj) =>
        val st = org.apache.spark.sql.types.DataType.fromJson(sj)
          .asInstanceOf[StructType]
        // project to the COMMITTED schema: a write-only layout column
        // (commitLayout's dropFromSchema, e.g. `_zfile`) exists as a
        // hive partition dir but is not part of the logical table —
        // partition discovery would otherwise append it to the read
        import org.apache.spark.sql.functions.col
        spark.read.schema(st).parquet(vdir)
          .select(st.fieldNames.toSeq.map(col): _*)
      case None => spark.read.parquet(vdir)
    }
  }

  /** A version's files read WITH full partition discovery and no
    * schema pin — the LAYOUT-AUDIT read: write-only layout columns
    * ([[commitLayout]]'s dropFromSchema, e.g. OPTIMIZE ZORDER's
    * `_zfile`) come back as inferred partition columns here, while
    * the logical reads ([[read]]/[[readResolved]]) never see them.
    * For zone-map witnesses and layout diagnostics only. */
  def readLayout(spark: SparkSession, dir: String, version: Int): DataFrame = {
    val n = logEntries(spark, dir).find(_.get("version").asInt() == version)
    require(n.isDefined, s"version $version not in log under $dir")
    spark.read.parquet(s"$dir/${entryDataDir(n.get)}")
  }

  /** A version's OWN landed rows with the committed schema — never a
    * resolved chain (an append version yields just its delta). The
    * commit-hook profiling input: what this commit physically wrote,
    * one scan of the written bytes, no upstream lineage re-run. A
    * metadata-only version (clone/restore) is rejected loudly. */
  def readVersionOwn(spark: SparkSession, dir: String, version: Int): DataFrame = {
    val n = logEntries(spark, dir).find(_.get("version").asInt() == version)
    require(n.isDefined, s"version $version not in log under $dir")
    val kind = Option(n.get.get("kind")).map(_.asText())
    require(!kind.exists(k => k == "clone" || k == "restore" ||
        k == "alter" || k == "constraint"),
      s"version $version under $dir is metadata-only ($kind) — no own files")
    readVersionDf(spark, dir, n.get)
  }

  /** All data files under a version dir, recursively (partitioned
    * layouts nest them one dir per partition value). A missing dir
    * is a METADATA-ONLY version (clone) — zero files by contract. */
  private def dataFiles(fs: org.apache.hadoop.fs.FileSystem,
                        vdir: org.apache.hadoop.fs.Path)
      : Seq[org.apache.hadoop.fs.FileStatus] = {
    if (!fs.exists(vdir)) return Seq.empty
    val out = Seq.newBuilder[org.apache.hadoop.fs.FileStatus]
    val it = fs.listFiles(vdir, true)
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet")) out += f
    }
    out.result()
  }

  /** Data-file count per immediate parent directory of a committed
    * version — metadata-sized layout evidence (x26 pins that
    * compaction left exactly one file per bin directory). */
  def filesPerDir(spark: SparkSession, dir: String, version: Int): Map[String, Int] = {
    val (fs, p) = fsOf(spark, dir)
    val n = logEntries(spark, dir).find(_.get("version").asInt() == version)
    require(n.isDefined, s"version $version not in log under $dir")
    dataFiles(fs, new org.apache.hadoop.fs.Path(p, entryDataDir(n.get)))
      .groupBy(_.getPath.getParent.toString).map { case (k, v) => k -> v.size }
  }

  /** Read a pinned version, or the latest PUBLISHED one. An explicit
    * `asOf` may name a staged version — that is the write-audit-
    * publish audit read, available only to a caller who knows the
    * number; `latest` never resolves to staged. */
  def read(spark: SparkSession, dir: String, asOf: Option[Int] = None): DataFrame = {
    val entries = logEntries(spark, dir)
    val vs = entries
      .filter(isPublishedEntry(spark, _))
      .map(_.get("version").asInt()).sorted
    val v = asOf.getOrElse {
      require(vs.nonEmpty, s"no committed versions under $dir")
      vs.last
    }
    val node = entries.find(_.get("version").asInt() == v)
    require(node.isDefined, s"version $v not in committed log $vs")
    readVersionDf(spark, dir, node.get)
  }

  /** Read a version RESOLVING logical commits: a `deletes` version is
    * its base anti-joined with the stored key rows, a `replace`
    * version is its base minus the replaced partition unioned with
    * the stored replacement rows, and chains resolve recursively
    * (delete-on-replace-on-data works). The resolution is pure plan
    * construction — metadata-sized log reads decide the shape; data
    * files are only ever scanned by the resulting Spark plan. */
  def readResolved(spark: SparkSession, dir: String,
                   asOf: Option[Int] = None): DataFrame = {
    import org.apache.spark.sql.functions.col
    val byV = logEntries(spark, dir)
      .map(n => n.get("version").asInt() -> n).toMap
    // `latest` never resolves to a staged (unpublished) version; an
    // explicit asOf may name one — the write-audit-publish audit read
    val published = versions(spark, dir)
    val v0 = asOf.getOrElse {
      require(published.nonEmpty, s"no committed versions under $dir")
      published.last
    }
    require(byV.contains(v0), s"version $v0 not in committed log ${byV.keys.toSeq.sorted}")
    def resolve(v: Int): DataFrame = {
      val n = byV(v)
      val vdf = readVersionDf(spark, dir, n)
      Option(n.get("kind")).map(_.asText()).getOrElse("data") match {
        case "data" => vdf
        case "clone" => vdf // readVersionDf already resolved the source
        case "restore" => vdf // readVersionDf already resolved the base
        case "alter" => vdf // readVersionDf already widened the base
        case "constraint" => vdf // readVersionDf already resolved the base
        case "deletes" =>
          resolve(n.get("base").asInt()).join(vdf, vdf.columns.toSeq, "left_anti")
        case "posdeletes" =>
          // x111: (file, row-position) addressing — resolve the chain
          // with positions attached, then drop the address columns
          readResolvedPos(spark, dir, Some(v)).drop(PosFileCol, PosIdxCol)
        case "replace" =>
          val pcol = n.get("pcol").asText()
          val pval = n.get("pval").asText()
          resolve(n.get("base").asInt())
            .filter(col(pcol) =!= pval).unionByName(vdf)
        case "append" =>
          resolve(n.get("base").asInt()).unionByName(vdf)
        case other => sys.error(s"unknown version kind '$other' at v$v")
      }
    }
    resolve(v0)
  }

  /** An alter entry's `defaults` map (column → SQL expression, x119),
    * empty for every other alter and kind. */
  private def entryDefaults(
      n: com.fasterxml.jackson.databind.JsonNode): Map[String, String] =
    Option(n.get("defaults")).map { r =>
      val it = r.fields()
      val out = Map.newBuilder[String, String]
      while (it.hasNext) { val e = it.next(); out += e.getKey -> e.getValue.asText() }
      out.result()
    }.getOrElse(Map.empty)

  /** An alter entry's `renames` map (new name → base name), empty
    * for add-column alters and every other kind. */
  private def entryRenames(
      n: com.fasterxml.jackson.databind.JsonNode): Map[String, String] =
    Option(n.get("renames")).map { r =>
      val it = r.fields()
      val out = Map.newBuilder[String, String]
      while (it.hasNext) { val e = it.next(); out += e.getKey -> e.getValue.asText() }
      out.result()
    }.getOrElse(Map.empty)

  /** Read a (possibly logical) version ALIGNED to the latest schema:
    * columns the old version lacks come back as typed nulls, in the
    * latest version's column order — SCHEMA EVOLUTION's read contract
    * (a reader written against today's schema can scan every historic
    * version without a migration rewrite). Old names are translated
    * FORWARD through the column maps recorded by x104's rename
    * entries above `asOf`, and a column an x104 drop entry removed is
    * excluded (the recorded entry IS the policy decision this read
    * used to refuse without). Columns present in both must agree on
    * type; a column the latest schema lacks with NO recorded drop
    * still fails loudly — an implicit narrowing carries no policy. */
  def readAligned(spark: SparkSession, dir: String,
                  asOf: Option[Int] = None): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, lit}
    val target = readResolved(spark, dir).schema
    val src = readResolved(spark, dir, asOf)
    // published alter entries ABOVE the pinned version, ascending:
    // each contributes a forward step (old → new on rename, → ∅ on
    // drop) to the name-translation walk
    val srcV = asOf.getOrElse(versions(spark, dir).last)
    val alters = logEntries(spark, dir)
      .filter(n => Option(n.get("kind")).exists(_.asText() == "alter"))
      .filter(isPublishedEntry(spark, _))
      .filter(_.get("version").asInt() > srcV)
      .sortBy(_.get("version").asInt())
    def forward(name: String): Option[String] =
      alters.foldLeft(Option(name)) { (cur, e) =>
        cur.flatMap { nm =>
          val dropped = Option(e.get("drops")).exists(d =>
            (0 until d.size).exists(i => d.get(i).asText() == nm))
          if (dropped) None
          else Some(entryRenames(e).collectFirst {
            case (nw, old) if old == nm => nw
          }.getOrElse(nm))
        }
      }
    val have = src.schema.fields.flatMap(f =>
      forward(f.name).map(nw => nw -> (f.name, f.dataType))).toMap
    val extra = src.schema.fields
      .filter(f => forward(f.name).exists(nw => !target.fieldNames.contains(nw)))
    require(extra.isEmpty,
      s"version has columns the latest schema dropped with no recorded " +
        s"drop entry: ${extra.map(_.name).mkString(",")}")
    src.select(target.fields.toSeq.map { f =>
      have.get(f.name) match {
        case Some((old, t)) =>
          // x109: a lossless widening aligns through an upcast (the
          // values survive by construction, recorded or not); any
          // other type change still fails loudly
          require(t == f.dataType || losslessWiden(t, f.dataType),
            s"column ${f.name} changed type $t -> ${f.dataType} (not a " +
              "lossless widening); aligned reads only add or widen columns")
          col(old).cast(f.dataType).as(f.name)
        case None =>
          // x119: a column an alter ABOVE the pin added with a
          // recorded DEFAULT aligns to the expression (over the
          // pinned rows), not a typed null. Resolved through
          // columnDefaults — the rename-migration/drop-kill walk —
          // so a defaulted column RENAMED above the pin serves the
          // same default here as through readResolved (a raw
          // entryDefaults lookup by today's name missed it and the
          // two read paths disagreed for the same rows)
          columnDefaults(spark, dir).get(f.name)
            .map(sql => expr(sql).cast(f.dataType).as(f.name))
            .getOrElse(lit(null).cast(f.dataType).as(f.name))
      }
    }: _*)
  }

  /** (relative path, length) of every data file of a version, sorted —
    * the immutability witness: x27/x28 capture it before and after a
    * logical commit and compare for equality, so "the base's files
    * were never touched" is a checked fact, not prose. */
  def fileSignature(spark: SparkSession, dir: String, version: Int): Seq[(String, Long)] = {
    val (fs, p) = fsOf(spark, dir)
    val n = logEntries(spark, dir).find(_.get("version").asInt() == version)
    require(n.isDefined, s"version $version not in log under $dir")
    val vdir = new org.apache.hadoop.fs.Path(p, entryDataDir(n.get))
    dataFiles(fs, vdir)
      .map(f => (f.getPath.toString.stripPrefix(vdir.toString), f.getLen))
      .sortBy(_._1)
  }

  /** RIGHT-TO-BE-FORGOTTEN PURGE (x50): physically rewrite EVERY
    * version of the table so that no data file contains the given
    * keys — including the key-sets of `deletes` versions, which
    * would otherwise still name the purged rows. This is the honest
    * GDPR cost x27's merge-on-read delete deliberately does NOT pay:
    * a logical delete hides rows from the latest resolution while
    * TIME TRAVEL still serves them; true erasure must rewrite
    * history (Delta's REORG TABLE ... APPLY (PURGE) contract).
    * Versions whose schema lacks the key columns cannot contain the
    * keys and are skipped, as are metadata-only clones (purge the
    * clone's SOURCE table — the clone serves whatever its source
    * resolves to). Hive-partitioned versions are rewritten in their
    * own layout (partition columns re-derived from the committed
    * schema's restored columns). Crash-safe per version: the
    * filtered rewrite lands in a fresh writer-unique dir, the entry
    * is atomically re-pointed, THEN the old dir is deleted — a crash
    * in between leaves an unreferenced orphan, never an entry naming
    * missing data. Because that orphan still HOLDS the purged keys,
    * every purge ends with an orphan sweep: any `v<N>-*` directory
    * whose version's entry names a DIFFERENT directory is deleted
    * (that shape only arises from a purge's own re-point — an
    * in-flight commit's staged dir has no entry yet, but targets a
    * version ABOVE the log head, so purge is single-admin like
    * [[vacuum]] by contract). Re-running a purge after a crash thus
    * guarantees physical erasure. Cost is proportional to the
    * HISTORY size — which is the point; at 100 TB you run it per
    * retention cycle, not per request, batching the accumulated
    * purge set. Returns the rewritten version numbers. */
  def purgeKeys(spark: SparkSession, dir: String, keys: DataFrame): Seq[Int] =
    purgeKeysMulti(spark, dir, Seq(keys))

  /** [[purgeKeys]] for SEVERAL key sets in ONE history rewrite: each
    * version is rewritten once, anti-joined against every key set
    * whose (rename-translated) columns its schema carries. Provably
    * equivalent to running purgeKeys per key set sequentially — the
    * kept-row predicate is the conjunction of the per-set anti-joins
    * (rows kept iff they match NO set), the predicates commute, and a
    * version is rewritten iff ANY set applies (the union of the
    * sequential passes' version sets) — but each applicable version's
    * data files are read and rewritten ONCE instead of once per set.
    * v36's GraphIndex purge scrubs the adjacency as edge source (a)
    * AND as neighbor (b): two full-history rewrites → one. */
  def purgeKeysMulti(spark: SparkSession, dir: String,
                     keySets: Seq[DataFrame]): Seq[Int] = {
    val (fs, p) = fsOf(spark, dir)
    // POSITION-DELETE GUARD: a purge rewrites every version's data
    // into fresh `v<N>-purge<writer>` files — NEW file names and
    // (where purged rows fall mid-file) SHIFTED row_index values. Any
    // recorded posdeletes entry addresses the OLD (file,pos) space;
    // after the rewrite its anti-join would match nothing and
    // previously deleted rows would silently RESURFACE — an erasure
    // regression the x76 witness cannot catch (the resurfaced rows
    // are data, not the purged key). Position deletes are the KEYLESS
    // table's format; a purge is BY KEY — the two don't belong on the
    // same log. Refuse loudly: compact the deletes into the data
    // (rewrite/re-land) before purging such a table.
    val posdelVs = logEntries(spark, dir)
      .filter(n => Option(n.get("kind")).exists(_.asText() == "posdeletes"))
      .map(_.get("version").asInt()).sorted
    require(posdelVs.isEmpty,
      s"purgeKeys under $dir: log holds position-delete version(s) " +
        s"${posdelVs.mkString(",")} whose (file,pos) addresses would be " +
        "invalidated by the purge rewrite (deleted rows would silently " +
        "resurface) — materialize the position deletes into a full " +
        "rewrite first, then purge")
    // x104 interplay: the purge keys arrive named in the CURRENT
    // schema, but versions below a rename hold the same logical
    // column under its OLD name — translate each key column BACKWARD
    // through the published rename maps above the version (latest
    // first: new→old composition), else a purge by today's name
    // would silently skip pre-rename history — a GDPR hole.
    val renameSteps = logEntries(spark, dir)
      .filter(n => Option(n.get("kind")).exists(_.asText() == "alter"))
      .filter(isPublishedEntry(spark, _))
      .sortBy(n => -n.get("version").asInt())
      .map(n => n.get("version").asInt() -> entryRenames(n))
      .filter(_._2.nonEmpty)
    def nameAt(v: Int, current: String): String =
      renameSteps.filter(_._1 > v).foldLeft(current) { (nm, step) =>
        step._2.getOrElse(nm, nm)
      }
    val rewritten = Seq.newBuilder[Int]
    logEntries(spark, dir).foreach { n =>
      val kind = Option(n.get("kind")).map(_.asText()).getOrElse("data")
      val v = n.get("version").asInt()
      // clone/restore/alter versions hold no data of their own: a
      // clone's content lives in its (separately purged) source
      // table, a restore's/alter's in its same-log base — which this
      // loop rewrites
      if (kind != "clone" && kind != "restore" && kind != "alter" &&
          kind != "constraint") {
        val df = readVersionDf(spark, dir, n)
        // every key set whose translated columns this version's schema
        // carries contributes one anti-join to the single rewrite
        val applicable = keySets.flatMap { keys =>
          val translated = keys.columns.toSeq.map(c => c -> nameAt(v, c))
          val vKeyCols = translated.map(_._2)
          if (vKeyCols.forall(df.columns.contains))
            Some((keys.select(translated.map { case (c, t) =>
              org.apache.spark.sql.functions.col(s"`$c`").as(t) }: _*),
              vKeyCols))
          else None
        }
        if (applicable.nonEmpty) {
          // partition layout re-derived from the version's directory
          // names (one `pcol=val` level per partition column)
          val vdir = new org.apache.hadoop.fs.Path(p, entryDataDir(n))
          var probe = vdir
          val parts = Seq.newBuilder[String]
          var descending = true
          while (descending) {
            val subs = fs.listStatus(probe).filter(_.isDirectory)
              .filter(_.getPath.getName.contains("="))
            if (subs.isEmpty) descending = false
            else {
              parts += subs.head.getPath.getName.split("=", 2)(0)
              probe = subs.head.getPath
            }
          }
          val writer = java.util.UUID.randomUUID().toString.take(8)
          val stage = new org.apache.hadoop.fs.Path(p, s"v$v-purge$writer")
          val kept = applicable.foldLeft(df) { case (acc, (vKeys, vKeyCols)) =>
            acc.join(vKeys, vKeyCols, "left_anti") }
          val w = kept.write.mode(SaveMode.Overwrite)
          val pb = parts.result()
          (if (pb.nonEmpty) w.partitionBy(pb: _*) else w).parquet(stage.toString)
          val files = dataFiles(fs, stage)
          val o = n.asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
          o.put("dir", stage.getName)
          o.put("n_files", files.length)
          o.put("bytes", files.map(_.getLen).sum)
          replaceEntry(fs, p, v, o.toString)
          fs.delete(vdir, true)
          rewritten += v
        }
      }
    }
    // orphan sweep: erase pre-purge dirs a crashed earlier purge left
    // behind (entry re-pointed, old dir delete never ran) — they still
    // hold the purged keys, so the sweep is part of the erasure
    // guarantee, not housekeeping
    val referenced = logEntries(spark, dir).map(entryDataDir).toSet
    val VDir = """^v(\d+)-.*$""".r
    fs.listStatus(p).filter(_.isDirectory).foreach { f =>
      f.getPath.getName match {
        case VDir(v) if !referenced.contains(f.getPath.getName) &&
          referenced.exists(_.startsWith(s"v$v-")) =>
          fs.delete(f.getPath, true)
        case _ => ()
      }
    }
    val out = rewritten.result()
    // opt-in auto-ANALYZE (x79): a purge rewrites version files IN
    // PLACE, so version-number freshness alone would serve the
    // pre-purge stats as fresh — recompute from the resolved state
    // (no-op unless the dir is registered)
    if (out.nonEmpty) graft.ops.AutoAnalyze.afterPurge(spark, dir)
    out
  }

  /** CHECKPOINT the log (x49, Delta's `_last_checkpoint` move):
    * write `_ckpt_v<N>.json` carrying EVERY current entry (N = the
    * newest version), atomically replacing any older checkpoint.
    * Readers then resolve the log from one checkpoint read plus the
    * per-file tail; entry files the checkpoint covers become
    * redundant and [[pruneLogEntries]] may delete them. Metadata
    * only — no data file is touched; single-admin by contract (like
    * [[publish]]/[[vacuum]]). Returns N (-1 for an empty log). */
  def checkpointLog(spark: SparkSession, dir: String): Int = {
    val entries = logEntries(spark, dir)
    if (entries.isEmpty) return -1
    val (fs, p) = fsOf(spark, dir)
    val n = entries.map(_.get("version").asInt()).max
    val json = entries.map(_.toString)
      .mkString(s"""{"version":$n,"entries":[""", ",", "]}")
    // atomic replace (same shape as replaceEntry), then drop older
    // checkpoints — a crash in between leaves two, newest-N wins
    replaceEntryFile(fs, p, s"_ckpt_v$n.json", json)
    fs.listStatus(p).toSeq.filter(_.isFile)
      .flatMap(f => CkptName.findFirstMatchIn(f.getPath.getName)
        .map(mm => mm.group(1).toInt -> f.getPath))
      .filter(_._1 < n)
      .foreach(c => fs.delete(c._2, false))
    n
  }

  /** Delete entry FILES the newest checkpoint makes redundant — only
    * those whose content the checkpoint carries verbatim (an entry
    * republished AFTER the checkpoint differs file-vs-copy and must
    * keep its file, which overlays the stale copy). Returns the
    * number of files pruned. Requires a checkpoint. */
  def pruneLogEntries(spark: SparkSession, dir: String): Int = {
    val (fs, p) = fsOf(spark, dir)
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val ckpts = fs.listStatus(p).toSeq.filter(_.isFile)
      .flatMap(f => CkptName.findFirstMatchIn(f.getPath.getName)
        .map(mm => mm.group(1).toInt -> f.getPath))
    require(ckpts.nonEmpty, s"pruneLogEntries needs a checkpoint under $dir")
    val in = fs.open(ckpts.maxBy(_._1)._2)
    val arr = try m.readTree(new String(
      in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)).get("entries")
    finally in.close()
    val copies = (0 until arr.size).map(arr.get)
      .map(n => n.get("version").asInt() -> n.toString).toMap
    var pruned = 0
    fs.listStatus(p).toSeq.filter(_.isFile)
      .filter(f => EntryName.findFirstIn(f.getPath.getName).isDefined)
      .foreach { f =>
        val e = fs.open(f.getPath)
        val txt = try new String(e.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8) finally e.close()
        val node = m.readTree(txt)
        val v = node.get("version").asInt()
        if (copies.get(v).contains(node.toString)) {
          fs.delete(f.getPath, false); pruned += 1
        }
      }
    pruned
  }

  /** VACUUM: physically remove versions outside the retention window.
    * Keeps the newest `keepLast` PUBLISHED versions (staged ghosts
    * never consume retention slots; newer-than-window staged versions
    * survive pending their audit, older ones are collected) PLUS,
    * transitively, every version still referenced as a `base` by a
    * kept logical commit
    * (deleting a DV's base would corrupt the DV's read path — the
    * reference-protection rule of every production table format).
    * Ordering is crash-safe in the same direction as [[commit]]:
    * each dropped version's entry file is deleted FIRST, then its
    * data directory — a crash between the two leaves unreferenced
    * garbage dirs (invisible, the log defines visibility), never a
    * log entry pointing at deleted data. Reads of a vacuumed version
    * fail loudly at log resolution.
    * Returns the dropped version numbers. */
  def vacuum(spark: SparkSession, dir: String, keepLast: Int): Seq[Int] = {
    require(keepLast >= 1, "vacuum must keep at least the latest version")
    val entries = logEntries(spark, dir).sortBy(_.get("version").asInt())
    // The retention window counts PUBLISHED versions only: a staged
    // (reader-invisible) latest must never displace the published
    // version readers actually resolve — keepLast=1 with a staged
    // head keeps the newest published version, not just the ghost.
    // Staged entries newer than the oldest kept published version are
    // retained (their audit may still publish them); staged entries
    // that aged PAST the window are the failed-audit garbage
    // commitStaged promises vacuum collects. With nothing published
    // yet, nothing has aged relative to a publication — keep all.
    vacuumKeeping(spark, dir, entries, pub =>
      pub.takeRight(keepLast).map(_.get("version").asInt()))
  }

  /** AGE-BASED VACUUM (x106, Delta's `RETAIN n HOURS` axis next to
    * x29's version-count window): physically remove versions whose
    * EXPLICIT commit instant (x63's `ts`) predates `horizonMillis`.
    * Operators reason in time — "keep a week of history" — while the
    * log counts versions; the recorded instants bridge the two with
    * no wall-clock read, so the same call is reproducible in tests
    * and oracles. Keeps every published version timed AT-or-after the
    * horizon, every UNTIMED published version (no evidence it aged —
    * restores/clones land untimed on a timed table and must never be
    * silently collected), always the latest published, staged entries
    * newer than the oldest kept, and — through the same transitive
    * chain closure as [[vacuum]] — every version a kept logical
    * commit (restore, DV, append, clone-in-log) still resolves
    * through: a restore INSIDE the horizon pins its below-horizon
    * target automatically. Returns the dropped versions. */
  def vacuumOlderThan(spark: SparkSession, dir: String,
                      horizonMillis: Long): Seq[Int] = {
    val entries = logEntries(spark, dir).sortBy(_.get("version").asInt())
    vacuumKeeping(spark, dir, entries, pub => {
      val kept = pub.filter(n => Option(n.get("ts"))
          .forall(_.asLong() >= horizonMillis))
        .map(_.get("version").asInt())
      // the latest published always survives — a horizon past the
      // whole log must not empty the table
      (kept ++ pub.lastOption.map(_.get("version").asInt())).distinct
    })
  }

  /** Shared vacuum machinery: `seedOf` picks the kept PUBLISHED
    * versions; staged entries newer than the oldest kept survive
    * pending their audit; the transitive base closure then pins every
    * version a kept logical commit resolves through; checkpoint
    * rewrite + entry-then-data deletion follow commit's crash-safe
    * ordering. */
  private def vacuumKeeping(spark: SparkSession, dir: String,
      entries: Seq[com.fasterxml.jackson.databind.JsonNode],
      seedOf: Seq[com.fasterxml.jackson.databind.JsonNode] => Seq[Int])
      : Seq[Int] = {
    val (fs, p) = fsOf(spark, dir)
    val byV = entries.map(n => n.get("version").asInt() -> n).toMap
    // txn-aware: a committed-but-unrepaired txn version counts
    // published (it holds a retention slot); an undecided or aborted
    // txn version is a staged ghost like any failed-audit WAP stage
    def isStaged(n: com.fasterxml.jackson.databind.JsonNode) =
      !isPublishedEntry(spark, n)
    val published = entries.filterNot(isStaged)
    val keptPub = seedOf(published)
    var keep =
      if (published.isEmpty) entries.map(_.get("version").asInt()).toSet
      else (keptPub ++ entries.filter(isStaged)
        .map(_.get("version").asInt()).filter(_ > keptPub.min)).toSet
    // x121: active retention HOLDs pin their versions (and, via the
    // closure below, the chains they resolve through) against every
    // retention path sharing this keep-set — vacuum, age policies
    keep ++= holds(spark, dir).values.filter(byV.contains)
    // transitive base closure: a kept logical version pins its chain
    var frontier = keep
    while (frontier.nonEmpty) {
      frontier = frontier.flatMap(v =>
        Option(byV(v).get("base")).map(_.asInt())).diff(keep)
      keep ++= frontier
    }
    val dropped = entries.map(_.get("version").asInt()).filterNot(keep)
    if (dropped.nonEmpty) {
      // a checkpoint carrying dropped versions would RESURRECT them
      // once their entry files go — rewrite it from the survivors
      // FIRST (a crash right after leaves entry files overlaying the
      // new checkpoint with identical content: harmless, vacuum
      // re-runs)
      val hasCkpt = fs.listStatus(p).toSeq.filter(_.isFile)
        .exists(f => CkptName.findFirstIn(f.getPath.getName).isDefined)
      if (hasCkpt) {
        val survivors = entries.filter(n => keep(n.get("version").asInt()))
        val n = survivors.map(_.get("version").asInt()).max
        val json = survivors.map(_.toString)
          .mkString(s"""{"version":$n,"entries":[""", ",", "]}")
        replaceEntryFile(fs, p, s"_ckpt_v$n.json", json)
        fs.listStatus(p).toSeq.filter(_.isFile)
          .flatMap(f => CkptName.findFirstMatchIn(f.getPath.getName)
            .map(mm => mm.group(1).toInt -> f.getPath))
          .filter(_._1 > n)
          .foreach(c => fs.delete(c._2, false))
      }
      // crash-safe in the same direction as commit: un-publish first
      // (delete the entry file — the version vanishes from the log),
      // THEN delete its data — a crash between leaves unreferenced
      // garbage dirs (invisible; the log defines visibility), never a
      // log entry pointing at deleted data. Per-version entry files
      // mean kept versions' entries are not even touched.
      val dirOf = entries.map(n => n.get("version").asInt() -> entryDataDir(n)).toMap
      dropped.foreach { v =>
        fs.delete(new org.apache.hadoop.fs.Path(p, s"_entry_v$v.json"), false)
        fs.delete(new org.apache.hadoop.fs.Path(p, dirOf(v)), true)
      }
    }
    dropped
  }

  /** Whether a version's data directory physically exists (vacuum
    * evidence — visibility itself is always decided by the log). A
    * vacuumed version's entry is gone, so the check falls back to the
    * listing: any `v<N>-*` dir still present. */
  def versionDirExists(spark: SparkSession, dir: String, version: Int): Boolean = {
    val (fs, p) = fsOf(spark, dir)
    logEntries(spark, dir).find(_.get("version").asInt() == version) match {
      case Some(n) => fs.exists(new org.apache.hadoop.fs.Path(p, entryDataDir(n)))
      case None =>
        fs.exists(p) && fs.listStatus(p).exists(f =>
          f.isDirectory && f.getPath.getName.startsWith(s"v$version-"))
    }
  }

  /** Drop the whole table (all versions + log). */
  def drop(spark: SparkSession, dir: String): Unit = {
    val (fs, p) = fsOf(spark, dir)
    if (fs.exists(p)) { fs.delete(p, true); () }
  }

  /** DESCRIBE TABLE (x107): the table's current SCHEMA + layout spec
    * as a queryable frame, metadata-only — one log read plus one
    * head-version file listing, zero data jobs. Rows: each resolved
    * column with its SQL type and 1-based position; each hive
    * partition column of the head version's own layout; each
    * registered CHECK constraint; the head published version. The
    * pure-SQL half of the catalog x101's listing started. */
  def describeTable(spark: SparkSession, dir: String): DataFrame = {
    val head = versions(spark, dir).lastOption.getOrElse(
      sys.error(s"DESCRIBE: no published versions under $dir"))
    val schema = readResolved(spark, dir).schema
    val cols = schema.fields.toSeq.zipWithIndex.map { case (f, i) =>
      ("column", f.name, f.dataType.sql.toLowerCase, Option(i + 1))
    }
    val parts = fileSignature(spark, dir, head)
      .flatMap { case (rel, _) =>
        rel.split('/').filter(_.contains("=")).map(_.split("=", 2)(0))
      }.distinct.sorted.map(pc => ("partition", pc, "hive", None))
    // x69's hidden layout, when the table carries one: the TRANSFORM
    // spec (source column → month/day/bucket(n)) — what a planner or
    // operator actually needs to reason about the layout, which the
    // raw hive column names above deliberately hide
    val hidden = graft.plans.HiddenPartitioning.describeSpec(dir)
      .map { case (src, tf) => ("hidden", src, tf, None) }
    val cons = checkConstraints(spark, dir)
      .map { case (n, e) => ("constraint", n, e, None) }
    val headRow = Seq(("head", "version", head.toString, None))
    val s = spark
    import s.implicits._
    (cols ++ parts ++ hidden ++ cons ++ headRow)
      .toDF("kind", "name", "detail", "pos")
  }

  /** DROP TABLE with REGISTRY CLEANUP (x107, x76's de-registration
    * discipline): destroying a table's history must also end its
    * life in every per-table registry, or the next table created at
    * the same path inherits a dead table's policies — a stale
    * retention window silently vacuuming a new table is the failure
    * mode. De-registers the retention policy, the auto-OPTIMIZE and
    * auto-ANALYZE hooks (dropping the stats catalog's state table),
    * the hidden-partitioning spec, and every registered materialized
    * view whose STORAGE is this table or whose COVERAGE reads it (an
    * MV serving aggregates of a dropped source would serve ghosts —
    * its stored partials drop with it); then drops the data. */
  def dropTable(spark: SparkSession, dir: String): Unit = {
    graft.ops.Retention.disable(dir)
    graft.ops.AutoOptimize.disable(dir)
    graft.ops.AutoAnalyze.dropState(spark, dir)
    graft.plans.HiddenPartitioning.remove(dir)
    val abs = new java.io.File(dir).getAbsolutePath
    def under(p: String): Boolean = {
      val np = p.indexOf(":/") match {
        case -1 => p
        case i =>
          val rest = p.substring(i + 1)
          if (rest.startsWith("//")) rest.substring(rest.indexOf('/', 2).max(2))
          else rest
      }
      np == abs || np.startsWith(abs + "/")
    }
    graft.plans.MvCatalog.all
      .filter(d => (d.mvDir.nonEmpty &&
          under(new java.io.File(d.mvDir).getAbsolutePath)) ||
        d.coverage.flatMap(_.split('|')).exists(under))
      .foreach(d => graft.plans.MatView.drop(spark, d.name))
    drop(spark, dir)
  }

  /** Remove every version STRICTLY ABOVE `keep` — log entry plus its
    * data directory. The inverse of [[vacuum]]'s keep-newest: the
    * fixture cache ([[graft.queries.Fixtures]]) uses it to reset a
    * reused table to its as-built state, so a query's own mutation
    * commits from a previous run can never leak into this one.
    * Dropping from the top is always chain-safe (only HIGHER versions
    * reference lower bases), but a CHECKPOINT above `keep` is refused:
    * a checkpoint compacts lower entries into itself, so deleting it
    * could orphan versions the caller means to keep. Returns the
    * version numbers removed. */
  def dropVersionsAbove(spark: SparkSession, dir: String, keep: Int): Seq[Int] = {
    val (fs, p) = fsOf(spark, dir)
    if (!fs.exists(p)) return Seq.empty
    val ckptAbove = fs.listStatus(p).toSeq.filter(_.isFile)
      .flatMap(f => CkptName.findFirstMatchIn(f.getPath.getName).map(_.group(1).toInt))
      .filter(_ > keep)
    require(ckptAbove.isEmpty,
      s"dropVersionsAbove($keep) under $dir: checkpoint at v${ckptAbove.maxOption.getOrElse(0)} compacts entries below it; refusing")
    val doomed = logEntries(spark, dir).filter(_.get("version").asInt() > keep)
    doomed.map { n =>
      val v = n.get("version").asInt()
      val dd = new org.apache.hadoop.fs.Path(p, entryDataDir(n))
      if (fs.exists(dd)) fs.delete(dd, true)
      fs.delete(new org.apache.hadoop.fs.Path(p, s"_entry_v$v.json"), false)
      v
    }
  }
}
