package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.functions.{col, hash, month, pmod, year}
import org.apache.spark.sql.types.TimestampType

/** HIDDEN PARTITIONING — partition TRANSFORMS instead of partition
  * COLUMNS. The classic hive-layout trap at scale: the table is
  * partitioned on a derived column (`order_month`), users filter on
  * the SOURCE column (`o_orderdate`), and the scan walks every
  * partition because the engine can't connect the two — pruning
  * works only for queries written against the layout's private
  * vocabulary. Here the transform is table METADATA: writes derive
  * the partition value from a declared transform, reads hide the
  * derived column entirely, and [[HiddenPartitionRule]] (an injected
  * optimizer rule, [[MvRewrite]]'s sibling) translates raw-column
  * predicates into partition predicates automatically:
  *
  *  - `Month(src)`: value = year·12+month−1; range/equality
  *    predicates on `src` become closed month-index bounds (the
  *    bound is computed driver-side from the literal — strict `<` /
  *    `>` still map to the inclusive month containing the endpoint,
  *    which over-selects by at most one partition and can never
  *    under-select).
  *  - `Bucket(src, n)`: value = pmod(hash(src), n) — murmur3, the
  *    same expression the write derived, so the injected
  *    `_p = pmod(hash(lit), n)` is foldable and EXACT; equality and
  *    IN-lists translate, ranges deliberately don't (bucket order is
  *    meaningless).
  *
  * Soundness rule: every translation must be IMPLIED BY the user
  * predicate (month(x) ∈ [month(lo), month(hi)] whenever
  * x ∈ [lo, hi]); the raw predicate always stays in the plan as the
  * residual, so a missed translation costs a wider scan, never a
  * wrong row. The injected conjunct lands directly above the
  * LogicalRelation — exactly where FileSourceStrategy splits
  * partition filters from data filters — so directory pruning
  * happens at listing time and the residual rides pushed into the
  * surviving files' scans.
  *
  * 100 TB: a month×bucket layout turns "six months of one customer
  * shard" from a full-table listing+scan into ≤ months·buckets
  * directories, and the contract survives query authors who have
  * never heard of the layout — the point of hiding it.
  */
object HiddenPartitioning {

  sealed trait Transform {
    def source: String
    def partCol: String
    /** Column names a table written under an OLDER spec layout may
      * carry for this transform — [[table]] hides them and
      * [[HiddenPartitionRule]] falls back to them when the current
      * name is absent from the relation (the sidecar spec travels
      * with the table, so its parameters are authoritative for the
      * legacy column too). */
    def legacyCols: Seq[String] = Nil
  }
  /** Calendar-month transform: partition value = year·12+month−1. */
  final case class Month(source: String) extends Transform {
    val partCol = s"_p_${source}_m"
  }
  /** Hash-bucket transform: partition value = pmod(murmur3(src), n).
    * The bucket COUNT is encoded in the column name: a same-source
    * table written under a different modulus carries a different
    * partition column, so a mismatched spec can never inject its own
    * n against a SUFFIXED layout. The pre-suffix legacy column
    * (`_p_<src>_b`) does not encode n, so for it the guarantee is
    * weaker and provenance-based: the rule translates against a
    * legacy column ONLY when the registered spec was loaded from that
    * table's own `_hidden_spec.json` sidecar (written by the same
    * writer as the layout, so its n is the layout's n). A spec
    * registered any other way never touches a legacy column — a
    * missed translation costs a wider scan, never a dropped row. */
  final case class Bucket(source: String, n: Int) extends Transform {
    val partCol = s"_p_${source}_b$n"
    // pre-suffix layout (before n was encoded in the name)
    override val legacyCols = Seq(s"_p_${source}_b")
  }
  /** Calendar-day transform: partition value = epoch day (UTC) —
    * Iceberg's `day()` sibling of [[Month]], for tables whose query
    * grain is daily (event logs, CDC feeds). */
  final case class Day(source: String) extends Transform {
    val partCol = s"_p_${source}_d"
  }

  /** A registered table's transforms plus PROVENANCE: `legacyTrusted`
    * is true only when the spec came from the table's own sidecar, the
    * one source whose bucket modulus is known to be the legacy
    * layout's own (see [[Bucket]]'s soundness note). */
  private[plans] final case class Spec(transforms: Seq[Transform],
                                       legacyTrusted: Boolean)

  private val registry =
    new scala.collection.concurrent.TrieMap[String, Spec]

  /** Exact-root-or-descendant containment on NORMALIZED paths: the
    * scan root (a URI, `file:/…`) must BE the registered dir or live
    * under it. A looser segment-substring test would let a different
    * table whose path merely embeds a registered dir name (e.g. a
    * relocated copy written under an older spec) borrow this spec's
    * modulus and under-select its partitions. */
  private def normalize(p: String): String = {
    // strip URI scheme (file:, hdfs://host) down to the path part,
    // collapse a trailing slash
    val noScheme = p.indexOf(":/") match {
      case -1 => p
      case i =>
        val rest = p.substring(i + 1)
        if (rest.startsWith("//")) rest.substring(rest.indexOf('/', 2).max(2))
        else rest
    }
    if (noScheme.length > 1 && noScheme.endsWith("/")) noScheme.dropRight(1)
    else noScheme
  }
  private def covers(p: String, dir: String): Boolean = {
    val np = normalize(p)
    // a dir registered as a relative path is the same table the FS
    // qualified against the working directory — absolutize before
    // comparing (scan roots always arrive absolute)
    val nd0 = normalize(dir)
    val nd =
      if (nd0.startsWith("/")) nd0
      else normalize(new java.io.File(nd0).getAbsolutePath)
    np == nd || np.startsWith(nd + "/")
  }
  private[plans] def specFor(paths: Seq[String]): Option[Spec] =
    registry.toSeq
      .filter { case (dir, _) => paths.exists(covers(_, dir)) }
      .sortBy { case (dir, _) => -dir.length }
      .headOption.map(_._2)
  def clear(): Unit = registry.clear()
  /** Targeted de-registration — what tests should use (the registry
    * is process-wide; a global clear() races parallel suites). */
  def remove(dir: String): Unit = registry.remove(dir)
  private[plans] def isEmpty: Boolean = registry.isEmpty

  private def derivedCol(t: Transform) = t match {
    case Month(src) => year(col(src)) * 12 + month(col(src)) - 1
    case Day(src) => // epoch day, UTC (session timezone pinned UTC)
      org.apache.spark.sql.functions.unix_date(
        col(src).cast(org.apache.spark.sql.types.DateType))
    case Bucket(src, n) => pmod(hash(col(src)), org.apache.spark.sql.functions.lit(n))
  }

  /** Commit `df` under the declared transforms: derive the partition
    * values, hive-partition the version on them, persist the spec as
    * table metadata (`_hidden_spec.json`), register for the rule. */
  def write(spark: SparkSession, df: DataFrame, dir: String,
            transforms: Seq[Transform]): Int = {
    import graft.sources.Snapshots
    val withCols = transforms.foldLeft(df)((d, t) =>
      d.withColumn(t.partCol, derivedCol(t)))
    // co-locate each partition's rows before the write: without this
    // every write task touches every directory and the layout lands
    // as tasks×dirs small files — the hive-commit cost explodes and
    // reads pay the file-count forever. One shuffle, one file per
    // directory (split further only by maxRecordsPerFile-style policy
    // at real scale).
    val colocated = withCols.repartition(transforms.map(t => col(t.partCol)): _*)
    val v = Snapshots.commit(colocated, dir, partitionBy = transforms.map(_.partCol))
    val spec = transforms.map {
      case Month(s) => s"""{"kind":"month","source":"$s"}"""
      case Day(s) => s"""{"kind":"day","source":"$s"}"""
      case Bucket(s, n) => s"""{"kind":"bucket","source":"$s","n":$n}"""
    }.mkString("[", ",", "]")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "_hidden_spec.json"),
      spec.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // a fresh write lands suffixed partition columns; any legacy
    // column in older files predates THIS spec — untrusted
    registry.put(dir, Spec(transforms, legacyTrusted = false))
    graft.GraftExtensions.install(spark)
    v
  }

  /** The table's hidden-layout spec for catalog surfaces (x107's
    * describe_table): (source column, transform description) per
    * transform, from the registry or the table's own sidecar — one
    * small JSON read, empty when the table has no hidden layout. */
  def describeSpec(dir: String): Seq[(String, String)] = {
    val spec = registry.get(dir).map(_.transforms).orElse {
      val p = java.nio.file.Paths.get(dir, "_hidden_spec.json")
      if (!java.nio.file.Files.exists(p)) None
      else {
        val node = new com.fasterxml.jackson.databind.ObjectMapper()
          .readTree(new String(java.nio.file.Files.readAllBytes(p),
            java.nio.charset.StandardCharsets.UTF_8))
        Some((0 until node.size()).map(node.get).map { o =>
          o.get("kind").asText() match {
            case "month" => Month(o.get("source").asText())
            case "day" => Day(o.get("source").asText())
            case "bucket" => Bucket(o.get("source").asText(), o.get("n").asInt())
          }
        })
      }
    }
    spec.getOrElse(Nil).map {
      case Month(s) => (s, "month")
      case Day(s) => (s, "day")
      case Bucket(s, n) => (s, s"bucket($n)")
    }
  }

  /** The user-facing read: partition columns HIDDEN (that's the
    * feature), spec re-registered from the sidecar so a fresh
    * session prunes without the writer's help. */
  def table(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Snapshots
    val specPath = java.nio.file.Paths.get(dir, "_hidden_spec.json")
    if (!registry.contains(dir) && java.nio.file.Files.exists(specPath)) {
      val txt = new String(java.nio.file.Files.readAllBytes(specPath),
        java.nio.charset.StandardCharsets.UTF_8)
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val node = mapper.readTree(txt)
      val ts: Seq[Transform] = (0 until node.size()).map(node.get).map { o =>
        o.get("kind").asText() match {
          case "month" => Month(o.get("source").asText())
          case "day" => Day(o.get("source").asText())
          case "bucket" => Bucket(o.get("source").asText(), o.get("n").asInt())
        }
      }
      // the sidecar is the layout writer's own record, so its bucket
      // modulus IS the legacy column's modulus — trusted
      registry.put(dir, Spec(ts, legacyTrusted = true))
    }
    graft.GraftExtensions.install(spark)
    val ts = registry.getOrElse(dir,
      throw new IllegalArgumentException(s"no hidden-partition spec under $dir"))
      .transforms
    Snapshots.read(spark, dir)
      .drop(ts.flatMap(t => t.partCol +: t.legacyCols): _*)
  }

  /** DYNAMIC PARTITION PRUNING (x94) — directory-level runtime
    * pruning from a DIM-SIDE FILTER, Spark DPP's shape applied to the
    * hidden layout (native DPP can't fire here: the partition column
    * is hidden from the logical plan, and the join is on the SOURCE
    * column). The dim side is evaluated FIRST — exactly what DPP's
    * subquery broadcast does — and its keys land as an IN predicate
    * on the fact's source column, which [[HiddenPartitionRule]]
    * translates into a foldable bucket IN-list above the scan:
    * directory pruning at listing time, residual pushed into the
    * surviving files. The key set must be dim-sized (`maxKeys` guards
    * the collect — the same broadcast-sized constraint native DPP
    * has; a bigger dim side means pruning can't pay anyway). At
    * 100 TB: "orders of these 50 flagged customers" lists
    * months×≤50 directories instead of the whole fact. */
  def pruneByDim(fact: DataFrame, srcCol: String, dimKeys: DataFrame,
                 maxKeys: Int = 100000): DataFrame = {
    val keys = dimKeys.distinct().limit(maxKeys + 1).collect().map(_.get(0))
    require(keys.length <= maxKeys,
      s"pruneByDim: dim side exceeds $maxKeys keys — runtime pruning " +
        "needs a dim-sized filter (a bigger side can't pay for pruning)")
    fact.filter(col(srcCol).isin(keys.toIndexedSeq: _*))
  }

  /** Partition directories the plan will actually list — the
    * pruning witness declared queries and specs pin. */
  def partitionsScanned(df: DataFrame): Int = {
    def walk(p: SparkPlan): Seq[Int] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        walk(a.executedPlan)
      case s: FileSourceScanExec => Seq(s.selectedPartitions.partitionCount)
      case other => other.children.flatMap(walk)
    }
    walk(df.queryExecution.executedPlan).sum
  }
}

/** The translation rule: for each registered table, every conjunct
  * of a Filter sitting on its scan is offered to each transform; the
  * implied partition predicates (if any) are conjoined in. Skips
  * tables whose condition already names a partition column — both
  * the fixed-point guard and the "user knows the layout" escape. */
object HiddenPartitionRule extends Rule[LogicalPlan] with PredicateHelper {
  import HiddenPartitioning._

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (HiddenPartitioning.isEmpty) plan
    else plan.transformUp {
      case f @ Filter(cond, rel: LogicalRelation) =>
        val paths = rel.relation match {
          case h: HadoopFsRelation => h.location.rootPaths.map(_.toString)
          case _ => Nil
        }
        specFor(paths) match {
          case Some(spec)
            if !cond.references.exists(r => spec.transforms.exists(t =>
              (t.partCol +: t.legacyCols).contains(r.name))) =>
            val derived = splitConjunctivePredicates(cond).flatMap(p =>
              spec.transforms.flatMap(t =>
                translate(t, p, rel, spec.legacyTrusted)))
            if (derived.isEmpty) f
            else Filter(derived.foldLeft(cond)(And), rel)
          case _ => f
        }
    }

  /** Time-typed literals the month transform understands: LTZ and
    * NTZ timestamps (micros — the session timezone is pinned UTC
    * throughout the repo, so they agree) and dates (epoch days). */
  private def isTime(dt: org.apache.spark.sql.types.DataType): Boolean =
    dt == TimestampType ||
      dt == org.apache.spark.sql.types.TimestampNTZType ||
      dt == org.apache.spark.sql.types.DateType

  /** A time literal as a UTC LocalDate. */
  private def localDate(l: Literal): java.time.LocalDate = l.dataType match {
    case org.apache.spark.sql.types.DateType =>
      java.time.LocalDate.ofEpochDay(l.value.asInstanceOf[Int].toLong)
    case _ =>
      java.time.Instant
        .ofEpochSecond(Math.floorDiv(l.value.asInstanceOf[Long], 1000000L))
        .atZone(java.time.ZoneOffset.UTC).toLocalDate
  }

  /** Month index of a time literal, UTC. */
  private def monthIdx(l: Literal): Int = {
    val d = localDate(l)
    d.getYear * 12 + d.getMonthValue - 1
  }

  /** Epoch day of a time literal, UTC — [[HiddenPartitioning.Day]]'s
    * partition value. */
  private def dayIdx(l: Literal): Int = localDate(l).toEpochDay.toInt

  private def bucketOf(l: Literal, n: Int): Expression =
    Pmod(new Murmur3Hash(Seq(l)), Literal(n))

  /** The implied partition predicate for one conjunct, or None.
    * Only implications are emitted — the raw conjunct remains as the
    * residual, so None is always safe. A LEGACY column (whose name
    * does not encode the bucket modulus) is only eligible when the
    * spec's provenance is the table's own sidecar (`legacyTrusted`) —
    * any other spec could carry a different n than the layout was
    * written with and would under-select (see [[Bucket]]). */
  private def translate(t: Transform, p: Expression,
                        rel: LogicalRelation,
                        legacyTrusted: Boolean): Option[Expression] = {
    val eligible =
      if (legacyTrusted) t.partCol +: t.legacyCols else Seq(t.partCol)
    val pAttr = eligible.view
      .flatMap(n => rel.output.find(_.name == n))
      .headOption.getOrElse(return None)
    def src(e: Expression): Boolean = e match {
      case a: AttributeReference => a.name.equalsIgnoreCase(t.source)
      case _ => false
    }
    // shared arm for both time transforms (Month/Day) — `idx` maps a
    // time literal to the transform's partition index. Strict </>
    // still map to the inclusive index containing the endpoint:
    // over-selects by at most one partition, never under-selects.
    def timeArm(idx: Literal => Int): Option[Expression] = p match {
      case GreaterThanOrEqual(a, l: Literal) if src(a) && isTime(l.dataType) =>
        Some(GreaterThanOrEqual(pAttr, Literal(idx(l))))
      case GreaterThan(a, l: Literal) if src(a) && isTime(l.dataType) =>
        Some(GreaterThanOrEqual(pAttr, Literal(idx(l))))
      case LessThanOrEqual(a, l: Literal) if src(a) && isTime(l.dataType) =>
        Some(LessThanOrEqual(pAttr, Literal(idx(l))))
      case LessThan(a, l: Literal) if src(a) && isTime(l.dataType) =>
        Some(LessThanOrEqual(pAttr, Literal(idx(l))))
      case EqualTo(a, l: Literal) if src(a) && isTime(l.dataType) =>
        Some(EqualTo(pAttr, Literal(idx(l))))
      case EqualTo(l: Literal, a) if src(a) && isTime(l.dataType) =>
        Some(EqualTo(pAttr, Literal(idx(l))))
      // IN-list of time literals: x ∈ {d1,d2} ⇒ idx(x) ∈ {idx(d1),idx(d2)}
      case In(a, vs) if src(a) &&
          vs.forall { case l: Literal => isTime(l.dataType); case _ => false } =>
        Some(In(pAttr,
          vs.map(v => Literal(idx(v.asInstanceOf[Literal]))).distinct))
      // commuted spellings: lit OP col ≡ col flipped-OP lit
      case GreaterThanOrEqual(l: Literal, a) if src(a) && isTime(l.dataType) =>
        Some(LessThanOrEqual(pAttr, Literal(idx(l))))
      case GreaterThan(l: Literal, a) if src(a) && isTime(l.dataType) =>
        Some(LessThanOrEqual(pAttr, Literal(idx(l))))
      case LessThanOrEqual(l: Literal, a) if src(a) && isTime(l.dataType) =>
        Some(GreaterThanOrEqual(pAttr, Literal(idx(l))))
      case LessThan(l: Literal, a) if src(a) && isTime(l.dataType) =>
        Some(GreaterThanOrEqual(pAttr, Literal(idx(l))))
      case _ => None
    }
    t match {
      case Month(_) => timeArm(monthIdx)
      case Day(_) => timeArm(dayIdx)
      case Bucket(_, n) => p match {
        case EqualTo(a, l: Literal) if src(a) => Some(EqualTo(pAttr, bucketOf(l, n)))
        case EqualTo(l: Literal, a) if src(a) => Some(EqualTo(pAttr, bucketOf(l, n)))
        case In(a, vs) if src(a) && vs.forall(_.isInstanceOf[Literal]) =>
          Some(In(pAttr, vs.map(v => bucketOf(v.asInstanceOf[Literal], n))))
        // OptimizeIn rewrites long literal IN-lists (>10) to InSet
        // before this rule necessarily sees them — the x94 runtime
        // dim-key predicate is exactly that shape. The set holds
        // INTERNAL values; re-wrap with the attribute's type and emit
        // the foldable bucket list (constant folding collapses it).
        case InSet(a, hset) if src(a) =>
          Some(In(pAttr, hset.toSeq.map(v =>
            bucketOf(Literal(v, a.asInstanceOf[AttributeReference].dataType), n))))
        case _ => None
      }
    }
  }
}
