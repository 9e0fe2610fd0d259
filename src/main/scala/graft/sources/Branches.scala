package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** NAMED REFS over the snapshot log (x96) — Iceberg's branches and
  * tags reduced to their load-bearing parts, generalizing x32's
  * write-audit-publish from "one anonymous staged version" to a
  * NAMED, MULTI-COMMIT line of development.
  *
  * A ref is a sequence of create-exclusive files under
  * `<dir>/_refs/<name>/` — `_ref_<seq>.json`, each naming the log
  * version the ref points at after that advance. The conditional
  * put on the next seq number is the ref's CAS (the same primitive
  * as the log's entry claim, [[Snapshots.tryCreateExclusive]]), so
  * two writers advancing one branch race safely: one wins, the
  * loser gets [[RefConflictException]] and replans against the new
  * head. Nothing about a ref touches data files — creation, advance,
  * tagging and fast-forward are all one-small-JSON operations, which
  * at 100 TB is what makes a dev branch of a petabyte table free
  * (Nessie/Iceberg's catalog-level refs).
  *
  *  - BRANCH writes ([[commitTo]]) land as STAGED appends chained on
  *    the branch head ([[Snapshots.stageAppend]]): durable, version-
  *    numbered, invisible to every `latest` reader — only the ref
  *    names them. Isolation is therefore the log's own staged-entry
  *    rule, not a copy.
  *  - TAGS ([[createTag]]) are immutable pointers (audit pins);
  *    advancing one raises.
  *  - FAST-FORWARD ([[fastForward]]) merges a branch into `latest`
  *    iff main has not moved since the fork (Iceberg's
  *    `fast_forward` contract): each branch version is PUBLISHED
  *    oldest-first — pure metadata flips, no data rewrite. Divergent
  *    histories raise; a merge policy is a higher-level concern refs
  *    do not define.
  *
  * Retention interplay (documented, x32's WAP rule): an unmerged
  * branch's staged versions look like WAP ghosts to [[Snapshots
  * .vacuum]] — fast-forward or [[drop]] branches before vacuuming
  * below their fork, exactly Iceberg's expire-snapshots-vs-refs
  * coordination.
  */
object Branches {

  final class RefConflictException(msg: String) extends RuntimeException(msg)

  private val NamePat = "^[A-Za-z0-9][A-Za-z0-9._-]{0,63}$".r
  private val RefName = """^_ref_(\d+)\.json$""".r
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper

  private def fsOf(spark: SparkSession, dir: String, name: String) = {
    require(NamePat.matches(name), s"invalid ref name '$name'")
    val p = new org.apache.hadoop.fs.Path(dir, s"_refs/$name")
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** Parsed ref advances, ascending by seq: (seq, version, isTag). */
  private def entries(spark: SparkSession, dir: String,
                      name: String): Seq[(Int, Int, Boolean)] = {
    val (fs, p) = fsOf(spark, dir, name)
    if (!fs.exists(p)) return Nil
    fs.listStatus(p).toSeq.flatMap { st =>
      st.getPath.getName match {
        case RefName(seq) =>
          val in = fs.open(st.getPath)
          val n = try mapper.readTree(in) finally in.close()
          Some((seq.toInt, n.get("version").asInt(),
            Option(n.get("tag")).exists(_.asBoolean())))
        case _ => None
      }
    }.sortBy(_._1)
  }

  private def refJson(version: Int, tag: Boolean): String =
    s"""{"version":$version${if (tag) ""","tag":true""" else ""}}"""

  private def createRef(spark: SparkSession, dir: String, name: String,
                        atVersion: Int, tag: Boolean): Unit = {
    require(Snapshots.allVersions(spark, dir).contains(atVersion),
      s"ref '$name' target v$atVersion not committed under $dir")
    val (fs, p) = fsOf(spark, dir, name)
    fs.mkdirs(p)
    if (!Snapshots.tryCreateExclusive(fs, p, "_ref_1.json",
        refJson(atVersion, tag)))
      throw new RefConflictException(s"ref '$name' already exists under $dir")
  }

  /** Create a branch pointing at `atVersion` (the FORK — recorded as
    * seq 1 and consulted by [[fastForward]]'s divergence guard). */
  def create(spark: SparkSession, dir: String, name: String,
             atVersion: Int): Unit =
    createRef(spark, dir, name, atVersion, tag = false)

  /** Create an IMMUTABLE tag (audit pin): reads resolve at its
    * version forever; [[commitTo]] on it raises. */
  def createTag(spark: SparkSession, dir: String, name: String,
                atVersion: Int): Unit =
    createRef(spark, dir, name, atVersion, tag = true)

  /** The version the ref currently points at. */
  def head(spark: SparkSession, dir: String, name: String): Int = {
    val es = entries(spark, dir, name)
    require(es.nonEmpty, s"no ref '$name' under $dir")
    es.last._2
  }

  /** Write to a branch: stage an append chained on the branch head
    * (invisible to `latest` readers), then CAS-advance the ref.
    * Losing the advance race leaves the staged version an inert WAP
    * ghost (vacuum ages it out) and raises — the caller replans
    * against the new head, the same discipline as a lost log claim. */
  def commitTo(df: DataFrame, dir: String, name: String,
               partitionBy: Seq[String] = Nil): Int = {
    val spark = df.sparkSession
    val es = entries(spark, dir, name)
    require(es.nonEmpty, s"no ref '$name' under $dir")
    if (es.head._3)
      throw new RefConflictException(s"'$name' is a tag — tags are immutable")
    val (seq, base, _) = es.last
    val v = Snapshots.stageAppend(df, dir, base, partitionBy)
    val (fs, p) = fsOf(spark, dir, name)
    if (!Snapshots.tryCreateExclusive(fs, p, s"_ref_${seq + 1}.json",
        refJson(v, tag = false)))
      throw new RefConflictException(
        s"branch '$name' advanced concurrently under $dir (staged v$v is " +
          "an inert ghost) — replan against the new head")
    v
  }

  /** Read the ref's state: the resolved chain at its head (for a
    * branch, fork state ∪ every branch append; for a tag, the pinned
    * version — time travel by name). */
  def read(spark: SparkSession, dir: String, name: String): DataFrame =
    Snapshots.readResolved(spark, dir, Some(head(spark, dir, name)))

  /** FAST-FORWARD merge into `latest`: iff main still sits at the
    * fork version, publish each branch version oldest-first (pure
    * metadata flips — the data files were durable at stage time).
    * Raises [[RefConflictException]] if main moved: divergent
    * histories need a real merge, which refs do not define. Returns
    * the published versions. */
  def fastForward(spark: SparkSession, dir: String, name: String): Seq[Int] = {
    val es = entries(spark, dir, name)
    require(es.nonEmpty, s"no ref '$name' under $dir")
    if (es.head._3)
      throw new RefConflictException(s"'$name' is a tag — nothing to merge")
    val fork = es.head._2
    val mainHead = Snapshots.versions(spark, dir).last
    if (mainHead != fork)
      throw new RefConflictException(
        s"cannot fast-forward '$name': main moved v$fork → v$mainHead " +
          "since the fork")
    val chain = es.tail.map(_._2)
    // x102 over the chain: the merge is the point branch rows become
    // reader-visible, so every branch version's OWN rows are checked
    // against the CURRENT constraint set before any flip — covering
    // writes staged before a CHECK registered and commitTo callers
    // that never gated. O(chain Δ), never a table scan; a violating
    // chain refuses whole (no partial publication precedes the check).
    chain.foreach(v => Snapshots.enforceConstraints(spark, dir,
      Snapshots.readVersionOwn(spark, dir, v)))
    chain.foreach(v => Snapshots.publish(spark, dir, v))
    // The guard-then-flip window is not atomic (publish is an entry
    // replacement, not a claim): verify AFTER the flips that nothing
    // interleaved — the published span above the fork must be exactly
    // the branch chain, else readers of the new head would silently
    // lose the interleaved commit. Detection converts that silent
    // drop into a loud operator decision; prevention would need a
    // single catalog pointer, which the log (max published version)
    // deliberately does not have.
    val published = Snapshots.versions(spark, dir).filter(_ > fork)
    if (published != chain)
      throw new RefConflictException(
        s"fast-forward of '$name' raced a concurrent commit: the " +
          s"published span above v$fork is ${published.mkString(",")} " +
          s"but the branch chain is ${chain.mkString(",")} — RESTORE " +
          s"TABLE '$dir' TO VERSION $fork and re-merge")
    chain
  }

  /** Drop a ref: delete its files. A dropped branch's unmerged
    * staged versions become permanent ghosts for vacuum. */
  def drop(spark: SparkSession, dir: String, name: String): Unit = {
    val (fs, p) = fsOf(spark, dir, name)
    fs.delete(p, true); ()
  }

  /** All refs of a table: (name, head version, is_tag), name-sorted —
    * the catalog listing (metadata-only). */
  def list(spark: SparkSession, dir: String): Seq[(String, Int, Boolean)] = {
    val root = new org.apache.hadoop.fs.Path(dir, "_refs")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Nil
    fs.listStatus(root).toSeq.filter(_.isDirectory).flatMap { st =>
      val n = st.getPath.getName
      val es = entries(spark, dir, n)
      es.lastOption.map(e => (n, e._2, es.head._3))
    }.sortBy(_._1)
  }
}
