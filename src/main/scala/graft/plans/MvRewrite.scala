package graft.plans

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, Cast, Coalesce, ExprId, Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.{col, count, lit, max, min, sum}

/** AUTOMATIC MATERIALIZED-VIEW QUERY REWRITE — the read half of the
  * engine's MV story. x12/x35/x41 keep aggregate state maintainable
  * (mergeable monoid partials, O(Δ) folds); this rule makes the
  * stored state SERVE queries nobody rewrote by hand: a registered
  * MV `G ⊢ SUM/COUNT/MIN/MAX over fact F` answers any later
  * `Aggregate` whose grouping keys are a subset of G and whose
  * aggregates are derivable from the stored partials — including
  * pure-SQL text that only ever names the fact table.
  *
  * Containment rules (the algebra, nothing heuristic):
  *  - grouping ⊆ G  →  re-aggregate the MV (group rollup);
  *    SUM/COUNT re-sum, MIN/MAX re-min/max — all decomposable.
  *  - COUNT(*) → COALESCE(SUM(n_rows), 0) (empty rollup must be 0,
  *    not the null a bare re-SUM would produce);
  *    COUNT(c) → COALESCE(SUM(cnt_c), 0) — the stored count is
  *    count(c), so null semantics survive the rollup exactly.
  *  - SUM(expr) matches STRUCTURALLY (attribute names + node shapes,
  *    e.g. the repo-standard `SUM(CAST(x AS DECIMAL(18,2)))`); the
  *    re-sum is cast back to the original aggregate's type, so the
  *    rewritten plan's schema is bit-identical to the fact plan's.
  *  - AVG is NOT special-cased: `SUM(x)/COUNT(*)` in the query text
  *    rewrites naturally (each AggregateExpression in the tree maps
  *    independently; the Divide stays put), which sidesteps decimal
  *    average scale drift entirely.
  *  - the query must read EXACTLY the files the view aggregates — an
  *    exact leaf-scan coverage bijection through Project/Union (so a
  *    resolved append's base ∪ delta matches, but a partial version
  *    read or a self-union never can);
  *  - the query's filter must CONTAIN the view's DEFINING filter,
  *    conjunct for conjunct (x73 — optimizer-inferred IsNotNulls
  *    stripped only when a null-rejecting comparison implies them);
  *    EXTRA query conjuncts are servable only when each references
  *    grouping keys alone (deterministic, subquery-free) — they then
  *    apply as a residual Filter above the MV scan (x77); an extra
  *    conjunct over a value column refuses (it filters rows already
  *    aggregated into the partials), and a MISSING view conjunct
  *    always refuses (the wider query needs rows the view dropped);
  *  - DISTINCT, aggregate FILTER clauses, or any unregistered
  *    aggregate → refuse (scan the fact). A wrong rewrite is a wrong
  *    answer; refusal is merely slower.
  *
  * When several registered views qualify, candidates are COST-ORDERED
  * by stored bytes from the commit log (x75) — the narrowest
  * sufficient view serves.
  *
  * FRESHNESS is a hard gate, checked at rewrite time against the
  * fact's Snapshots log (`isFresh`, typically "latest published
  * version unchanged since the MV was built"): a stale MV never
  * serves — the x68 declared query pins exactly that fallback.
  *
  * 100 TB: the rewrite turns a fact-sized scan + shuffle into an
  * MV-sized one (group-cardinality rows). The decision itself is
  * driver-only — a registry probe plus one manifest-sized log read —
  * and the output attribute ids are preserved (every rewritten
  * column keeps its ExprId), so parent operators re-bind untouched.
  *
  * Reference anchor: the reference app precomputes its chunk/paper
  * aggregates at ingestion and serves queries from those tables
  * (CS_5542_Lab_6 data/ingestion.py); this rule is that pattern as
  * infrastructure — declared once, applied to every matching query.
  *
  * On the [[graft.GraftExtensions]] list: injected into config-built
  * sessions, and installed into a bare session by
  * `GraftExtensions.install` when [[MatView.create]] registers a view.
  */
object MvRewrite extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (MvCatalog.isEmpty) plan
    else plan.transformUp { case agg: Aggregate => tryRewrite(agg).getOrElse(agg) }

  /** Canonical signature of one leaf scan (its sorted root paths) —
    * the unit of the COVERAGE match below. */
  private[plans] def sig(l: LogicalRelation): String = l.relation match {
    case h: HadoopFsRelation => h.location.rootPaths.map(_.toString).sorted.mkString("|")
    case _ => ""
  }

  /** The (leaf-scan signatures, filter conjuncts) under an
    * Aggregate, looking through pure column pruning, UNION (the
    * shape of a resolved append: base files ∪ delta files) and
    * Filter nodes — the collected conjuncts must then match the
    * view's DEFINING filter exactly (tryRewrite), so a filter the
    * view doesn't carry still blocks the rewrite. Anything else
    * changes the input and blocks it outright. */
  private[plans] def shapeOf(p: LogicalPlan): Option[(Seq[String], Seq[Expression])] =
    p match {
      // an unrecognized relation kind has no file signature — refuse
      // rather than emit "": two distinct non-file relations would
      // otherwise compare equal and cross-serve each other's MVs
      case l: LogicalRelation =>
        val s = sig(l)
        if (s.isEmpty) None else Some((Seq(s), Nil))
      case Project(es, c) if es.forall(_.isInstanceOf[AttributeReference]) =>
        shapeOf(c)
      case org.apache.spark.sql.catalyst.plans.logical.Filter(cond, c) =>
        shapeOf(c).map { case (s, f) =>
          (s, splitConjuncts(cond) ++ f)
        }
      case u: org.apache.spark.sql.catalyst.plans.logical.Union =>
        val parts = u.children.map(shapeOf)
        if (parts.forall(_.isDefined))
          Some((parts.flatMap(_.get._1), parts.flatMap(_.get._2)))
        else None
      case _ => None
    }

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case org.apache.spark.sql.catalyst.expressions.And(a, b) =>
      splitConjuncts(a) ++ splitConjuncts(b)
    case other => Seq(other)
  }

  /** Drop IsNotNull conjuncts the remaining comparisons already
    * imply (the optimizer infers them) — implication demands a
    * NULL-REJECTING conjunct over exactly that column (a binary
    * comparison or IN, where a null input yields null → filtered).
    * Merely REFERENCING the column is not enough: `a = 5 OR b = 6`
    * passes rows with a IS NULL, so IsNotNull(a) next to it is
    * semantic and stays. */
  private def dropInferredNotNull(fs: Seq[Expression]): Seq[Expression] = {
    import org.apache.spark.sql.catalyst.expressions.{BinaryComparison, EqualNullSafe, In, IsNotNull}
    def rejectsNullOf(e: Expression, name: String): Boolean = e match {
      // <=> is the one BinaryComparison that is NOT null-rejecting
      // (`a <=> NULL` passes only null rows), so an IsNotNull next to
      // it is semantic and must stay
      case _: EqualNullSafe => false
      case _: BinaryComparison | _: In =>
        e.references.nonEmpty &&
          e.references.forall(_.name.equalsIgnoreCase(name))
      case _ => false
    }
    fs.filter {
      case IsNotNull(a: AttributeReference) =>
        !fs.exists(rejectsNullOf(_, a.name))
      case _ => true
    }
  }

  /** Multiset equality of filter conjuncts under the structural
    * compare — the query's filter must BE the view's defining
    * filter, nothing weaker or stronger. */
  private[plans] def sameFilters(a: Seq[Expression], b: Seq[Expression]): Boolean =
    filterResidual(a, b).exists(_.isEmpty)

  /** Filter CONTAINMENT (x77): match every view conjunct against the
    * query's, one-for-one, and return the query's EXTRA conjuncts —
    * None when some view conjunct is unmatched (the query is WIDER
    * than the view: serving it would drop rows the view filtered
    * away, the classic filtered-MV wrong answer). An extra conjunct
    * is only servable when it references GROUPING KEYS alone
    * (tryRewrite checks that): each fact row maps to exactly one
    * group carrying its own key values, so filtering the MV's rows by
    * a group-key predicate before re-aggregation is identical to
    * filtering the fact rows by it. */
  private[plans] def filterResidual(q: Seq[Expression],
                                    v: Seq[Expression]): Option[Seq[Expression]] = {
    val qn = scala.collection.mutable.ArrayBuffer(dropInferredNotNull(q): _*)
    val matched = dropInferredNotNull(v).forall { x =>
      val i = qn.indexWhere(y => same(x, y))
      if (i >= 0) { qn.remove(i); true } else false
    }
    if (matched) Some(qn.toSeq) else None
  }

  /** Structural expression equality with attributes matched by NAME
    * (registration and query resolve against different plan
    * instances, so ExprIds can never agree). Strict by construction:
    * an unrecognized mismatch refuses the rewrite, never forces it. */
  private[plans] def same(a: Expression, b: Expression): Boolean = (a, b) match {
    case (x: AttributeReference, y: AttributeReference) =>
      x.name.equalsIgnoreCase(y.name) && x.dataType == y.dataType
    case (x: Literal, y: Literal) => x == y
    case _ =>
      a.getClass == b.getClass && a.dataType == b.dataType &&
        a.children.length == b.children.length &&
        nonChildParams(a) == nonChildParams(b) &&
        a.children.zip(b.children).forall { case (c, d) => same(c, d) }
  }

  /** Constructor parameters that are NOT child expressions (LIKE's
    * escape char, eval modes, …) — semantic state the child-wise
    * recursion would otherwise ignore, letting e.g. two LIKEs with
    * different escape characters compare equal. */
  private def nonChildParams(e: Expression): Seq[Any] =
    e.productIterator.filter {
      case _: Expression => false
      case s: scala.collection.Seq[_] if s.forall(_.isInstanceOf[Expression]) => false
      case Some(_: Expression) => false
      case _ => true
    }.toList

  private def tryRewrite(agg: Aggregate): Option[Aggregate] = {
    val (sigs, qFilters) = shapeOf(agg.child).getOrElse(return None)
    // EXACT coverage, as a multiset: every covered leaf read exactly
    // once, nothing else read. A partial read (one version of a
    // refreshed table), a self-union, or an extra relation all fail
    // the bijection — each would make the stored aggregate the wrong
    // answer. The query's filter must BE the view's defining filter
    // (empty for an unfiltered view). When SEVERAL views qualify,
    // the candidates are COST-ORDERED by stored bytes (the commit
    // log's accounting — a driver-side manifest read, the x37-x43
    // catalog discipline) so the narrowest sufficient view serves;
    // name breaks ties deterministically. A candidate whose later
    // containment checks fail falls through to the next.
    val candidates = MvCatalog.all
      .filter(m => m.coverage.nonEmpty && m.coverage.sorted == sigs.sorted)
      .flatMap { m =>
        filterResidual(qFilters, m.filters).flatMap { extra =>
          // every EXTRA conjunct must be a deterministic,
          // subquery-free predicate over the view's grouping keys
          // alone — then it commutes with the grouping and can be
          // applied above the MV scan (x77); anything else refuses
          val ok = extra.forall(e =>
            e.deterministic &&
              e.references.nonEmpty &&
              e.references.forall(r => m.groupCols.contains(r.name.toLowerCase)) &&
              e.find(_.isInstanceOf[
                org.apache.spark.sql.catalyst.expressions.PlanExpression[_]]).isEmpty)
          if (ok) Some((m, extra)) else None
        }
      }
      .sortBy { case (m, _) => (m.sizeHint(), m.name) }
    candidates.view.flatMap { case (m, extra) =>
      rewriteWith(agg, m, extra) }.headOption
  }

  private def rewriteWith(agg: Aggregate, d: MvCatalog.MvDef,
                          residual: Seq[Expression]): Option[Aggregate] = {
    // grouping must be plain fact attributes within the MV's key set
    val groupAttrs = agg.groupingExpressions.map {
      case a: AttributeReference if d.groupCols.contains(a.name.toLowerCase) => a
      case _ => return None
    }
    if (!d.isFresh()) return None
    val mvPlan = d.mvRead() // fresh attribute ids per rewrite site
    val mvByName = mvPlan.output.map(a => a.name.toLowerCase -> a).toMap
    val groupMap: Map[ExprId, AttributeReference] = groupAttrs.map(a =>
      a.exprId -> mvByName(a.name.toLowerCase).asInstanceOf[AttributeReference]).toMap

    def resumFn(mvCol: String) = Sum(mvByName(mvCol)).toAggregateExpression()
    def zeroIfEmpty(e: Expression) = Coalesce(Seq(e, Literal(0L)))

    def mapFn(ae: AggregateExpression): Option[Expression] = {
      if (ae.isDistinct || ae.filter.nonEmpty) return None
      ae.aggregateFunction match {
        case Sum(c, _) =>
          d.sums.collectFirst { case (n, e) if same(c, e) =>
            val s = resumFn(n)
            if (s.dataType == ae.dataType) s else Cast(s, ae.dataType)
          }
        // non-null literal only: COUNT(NULL) is always 0, not the row
        // count, and the optimizer does not reliably fold it away
        case Count(Seq(l: Literal)) if l.value != null =>
          Some(zeroIfEmpty(resumFn(d.rowCountCol)))
        case Count(Seq(c)) =>
          d.counts.collectFirst { case (n, e) if same(c, e) => zeroIfEmpty(resumFn(n)) }
        case Min(c) =>
          d.mins.collectFirst { case (n, e) if same(c, e) =>
            Min(mvByName(n)).toAggregateExpression() }
        case Max(c) =>
          d.maxs.collectFirst { case (n, e) if same(c, e) =>
            Max(mvByName(n)).toAggregateExpression() }
        case _ => None
      }
    }

    // two passes: map every AggregateExpression first (their children
    // still name fact attributes, which the structural match needs),
    // then re-bind the surviving grouping references to the MV's.
    var ok = true
    def rewriteTree(e: Expression): Expression = {
      val mapped = e.transformUp { case ae: AggregateExpression =>
        mapFn(ae).getOrElse { ok = false; ae }
      }
      mapped.transformUp {
        case a: AttributeReference if groupMap.contains(a.exprId) => groupMap(a.exprId)
      }
    }

    val newAggExprs = agg.aggregateExpressions.map { ne =>
      val inner = ne match { case al: Alias => al.child; case other => other }
      val t = rewriteTree(inner)
      ne match {
        // preserve the ExprId: parents re-bind to the rewritten
        // aggregate with zero plan surgery above this node
        case al: Alias => Alias(t, al.name)(exprId = al.exprId, qualifier = al.qualifier)
        case other => Alias(t, other.name)(exprId = other.exprId)
      }
    }
    if (!ok) return None
    // a surviving non-MV reference means a fact column leaked through
    // (e.g. a non-grouping attribute in the select list) — refuse
    val mvIds = mvPlan.outputSet
    if (newAggExprs.exists(_.references.exists(r => !mvIds.contains(r)))) return None
    val newGroups = groupAttrs.map(a => groupMap(a.exprId))
    val used = mvPlan.output.filter(a =>
      newGroups.exists(_.exprId == a.exprId) ||
        newAggExprs.exists(_.references.contains(a)))
    // the query's EXTRA group-key conjuncts (x77) land as a Filter
    // directly on the MV scan, their references re-bound by name —
    // a group-key predicate on the partials filters exactly the fact
    // rows it would have filtered (each row's group carries its own
    // key values); the Project above still prunes the ReadSchema
    val mvScan =
      if (residual.isEmpty) mvPlan
      else org.apache.spark.sql.catalyst.plans.logical.Filter(
        residual.map(_.transformUp {
          case a: AttributeReference => mvByName(a.name.toLowerCase)
        }).reduce(org.apache.spark.sql.catalyst.expressions.And),
        mvPlan)
    // the explicit Project keeps the MV scan's ReadSchema pruned —
    // the user batch runs after column pruning, which can no longer
    // do it for us
    Some(Aggregate(newGroups, newAggExprs, Project(used, mvScan)))
  }
}

/** The registered-MV registry [[MvRewrite]] consults. Process-wide
  * (the rule object is a singleton); definitions are keyed by name
  * and matched to queries by EXACT leaf-scan coverage — the query
  * must read precisely the files the view aggregates (as a
  * multiset), so distinct tables, partial version reads, and
  * self-unions can never be cross-served. */
object MvCatalog {
  final case class MvDef(
      name: String,
      coverage: Seq[String], // leaf-scan signatures the view covers
      groupCols: Seq[String],
      sums: Seq[(String, Expression)],
      counts: Seq[(String, Expression)],
      mins: Seq[(String, Expression)],
      maxs: Seq[(String, Expression)],
      rowCountCol: String,
      mvRead: () => LogicalPlan,
      isFresh: () => Boolean,
      // the defining Column specs, kept so refresh() can restate the
      // partials over a DELTA frame (same names → same layout)
      specs: MatView.Specs = MatView.Specs(Nil, Nil, Nil),
      mvDir: String = "",
      // the view's DEFINING filter conjuncts (empty = unfiltered);
      // a matching query must carry exactly these
      filters: Seq[Expression] = Nil,
      // stored-bytes cost signal for multi-candidate choice (x75);
      // a manifest-sized driver read, never a data scan
      sizeHint: () => Long = () => Long.MaxValue)

  private val defs = new scala.collection.concurrent.TrieMap[String, MvDef]
  def register(d: MvDef): Unit = defs.put(d.name, d)
  def remove(name: String): Unit = defs.remove(name)
  def get(name: String): Option[MvDef] = defs.get(name)
  def clear(): Unit = defs.clear()
  def isEmpty: Boolean = defs.isEmpty
  def all: Seq[MvDef] = defs.values.toSeq
}

/** CREATE MATERIALIZED VIEW: build the per-group partial-aggregate
  * table from `fact`, commit it as a Snapshots version under
  * `mvDir`, and register it for [[MvRewrite]]. Stored layout per
  * value column `n`: `sum_n` / `cnt_n` (+ optional `min_n`/`max_n`)
  * plus the view-wide `n_rows` — exactly the decomposable partials
  * the containment rules above re-aggregate. Rebuilds are
  * deterministic (drop + re-commit) and the definition is
  * de-registered FIRST so the build's own groupBy can never be
  * served by the previous index generation. */
object MatView {
  /** The defining aggregate-column specs, reusable over any frame
    * with the fact's column names (create's full build, refresh's
    * delta partials). */
  final case class Specs(
      sumCols: Seq[(String, Column)],
      countCols: Seq[(String, Column)],
      minMaxCols: Seq[(String, Column)])

  /** The MV layout's defining aggregate over `df` — per value column
    * `n`: `sum_n`/`cnt_n` (+ `min_n`/`max_n`) plus `n_rows`. */
  private def partials(df: DataFrame, groupCols: Seq[String],
                       s: Specs): DataFrame = {
    val aggs: Seq[Column] =
      s.sumCols.map { case (n, c) => sum(c).as(s"sum_$n") } ++
        s.countCols.map { case (n, c) => count(c).as(s"cnt_$n") } ++
        s.minMaxCols.flatMap { case (n, c) =>
          Seq(min(c).as(s"min_$n"), max(c).as(s"max_$n")) } :+
        count(lit(1)).as("n_rows")
    df.groupBy(groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Sentinel default for `create`'s `isFresh`: replaced at create
    * time with a version-fingerprint gate over the defining frame's
    * sources. An unguarded `() => true` default would serve forever,
    * stale or not — the one API where a wrong default silently
    * serves wrong answers. Callers keep the explicit override. */
  private val UseDefaultGate: () => Boolean = () => true

  /** Version fingerprint of the defining frame's sources, the
    * DEFAULT freshness gate's state: a coverage path whose parent is
    * a Snapshots table pins that table's published version list (one
    * manifest-sized log read per freshness check); any other path
    * pins a recursive file listing (name, length, mtime — exact
    * under immutable-file semantics). Any source change ⇒ stale ⇒
    * the rewrite declines until refresh()/create() re-arms.
    * Conservative by construction: a false stale is merely slower,
    * never wrong. */
  private def sourceFingerprint(spark: SparkSession, coverage: Seq[String]): String = {
    import graft.sources.Snapshots
    val paths = coverage.flatMap(_.split('|').toSeq)
      .filter(_.nonEmpty).distinct.sorted
    paths.map { p =>
      val hp = new org.apache.hadoop.fs.Path(p)
      val parent = hp.getParent
      val vs =
        if (parent == null) Nil else Snapshots.versions(spark, parent.toString)
      if (vs.nonEmpty) s"$parent=v${vs.mkString(",")}"
      else {
        val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (!fs.exists(hp)) s"$p=absent"
        else {
          val it = fs.listFiles(hp, true)
          val b = Seq.newBuilder[String]
          while (it.hasNext) {
            val f = it.next()
            b += s"${f.getPath.getName}:${f.getLen}:${f.getModificationTime}"
          }
          s"$p=${b.result().sorted.mkString(";").hashCode}"
        }
      }
    }.mkString("&")
  }

  /** (Leaf-scan signatures, defining-filter conjuncts) of a frame —
    * what a matching query must read and filter, exactly (see
    * tryRewrite's coverage bijection). Taken from the OPTIMIZED plan
    * so literals arrive folded exactly as they will in queries. */
  private def shapeOfFrame(df: DataFrame): (Seq[String], Seq[Expression]) =
    // a defining frame the matcher can't parse registers with EMPTY
    // coverage — the view maintains and serves explicit reads but
    // never auto-rewrites (mis-registering a filtered frame as
    // unfiltered would serve wrong answers; refusal is just slower)
    MvRewrite.shapeOf(df.queryExecution.optimizedPlan).getOrElse((Nil, Nil))

  def create(
      spark: SparkSession,
      name: String,
      fact: DataFrame,
      mvDir: String,
      groupCols: Seq[String],
      sumCols: Seq[(String, Column)] = Nil,
      countCols: Seq[(String, Column)] = Nil,
      minMaxCols: Seq[(String, Column)] = Nil,
      isFresh: () => Boolean = UseDefaultGate): DataFrame = {
    import graft.sources.Snapshots
    MvCatalog.remove(name)
    Snapshots.drop(spark, mvDir)
    val specs = Specs(sumCols, countCols, minMaxCols)
    val mv = partials(fact, groupCols, specs)
    Snapshots.commit(mv, mvDir)
    // the registered match targets, resolved against the fact's own
    // schema (the rule compares them to query expressions by name)
    def resolved(c: Column): Expression =
      fact.select(c).queryExecution.analyzed.asInstanceOf[Project]
        .projectList.head match {
        case a: Alias => a.child
        case e => e
      }
    val (cov, defFilters) = shapeOfFrame(fact)
    val gate =
      if (isFresh eq UseDefaultGate) {
        val f0 = sourceFingerprint(spark, cov)
        () => sourceFingerprint(spark, cov) == f0
      } else isFresh
    MvCatalog.register(MvCatalog.MvDef(
      name = name,
      coverage = cov,
      filters = defFilters,
      groupCols = groupCols.map(_.toLowerCase),
      sums = sumCols.map { case (n, c) => (s"sum_$n", resolved(c)) },
      counts = countCols.map { case (n, c) => (s"cnt_$n", resolved(c)) },
      mins = minMaxCols.map { case (n, c) => (s"min_$n", resolved(c)) },
      maxs = minMaxCols.map { case (n, c) => (s"max_$n", resolved(c)) },
      rowCountCol = "n_rows",
      mvRead = () => Snapshots.read(spark, mvDir).queryExecution.analyzed,
      isFresh = gate,
      specs = specs,
      mvDir = mvDir,
      sizeHint = () => Snapshots.latestBytes(spark, mvDir)))
    graft.GraftExtensions.install(spark)
    mv
  }

  /** CREATE MATERIALIZED VIEW from pure SQL TEXT (x78 — the DDL the
    * S8 script surface needs): the defining statement is analyzed,
    * its top-level Aggregate decomposed into the frame-based
    * [[create]] call — group keys from the grouping expressions
    * (plain columns only), SUM/COUNT/MIN/MAX select items to the
    * matching spec lists (COUNT(*) rides the always-stored n_rows;
    * MIN/MAX over the same expression share one stored pair), the
    * fact frame re-entered from the Aggregate's child plan. DISTINCT,
    * FILTER clauses, computed group keys, or any other aggregate
    * refuse loudly at CREATE time — a definition the rewrite could
    * not serve exactly must not register. The freshness gate is
    * create's default source fingerprint (no explicit gate is
    * expressible from SQL text). */
  def createFromSql(spark: SparkSession, name: String, mvDir: String,
                    definingSql: String): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction
    val analyzed = spark.sql(definingSql).queryExecution.analyzed
    val agg = analyzed match {
      case a: Aggregate => a
      case Project(pl, a: Aggregate) if pl.forall(_.isInstanceOf[AttributeReference]) => a
      case other => throw new IllegalArgumentException(
        s"CREATE MATERIALIZED VIEW requires a grouped aggregate SELECT, got ${other.nodeName}")
    }
    val groupCols = agg.groupingExpressions.map {
      case a: AttributeReference => a.name
      case e => throw new IllegalArgumentException(
        s"MV group keys must be plain columns, got ${e.sql}")
    }
    val fact = org.apache.spark.sql.graft.Bridge.ofRows(spark, agg.child)
    // spec columns are rebuilt NAME-ONLY, not from the resolved
    // expressions: the fact frame re-enters the Dataset API with its
    // own attribute instances, so a captured ExprId would dangle —
    // and e.sql renders temp-view-QUALIFIED names (snapshot_…_v1.c)
    // that can never re-resolve against a refresh delta bound to a
    // different view, so every AttributeReference drops to a bare
    // UnresolvedAttribute(name) before the Column is stored
    def asCol(e: Expression): Column = org.apache.spark.sql.graft.Bridge.column(
      e.transform { case a: AttributeReference =>
        org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute(Seq(a.name)) })
    val sums = Seq.newBuilder[(String, Column)]
    val counts = Seq.newBuilder[(String, Column)]
    val minMax = scala.collection.mutable.ArrayBuffer[(String, Expression)]()
    def addMinMax(alias: String, e: Expression): Unit =
      if (!minMax.exists(p => MvRewrite.same(p._2, e))) { minMax += alias -> e; () }
    agg.aggregateExpressions.foreach {
      case a: AttributeReference =>
        require(groupCols.contains(a.name),
          s"non-aggregate select item ${a.name} must be a group key")
      case al: Alias => al.child match {
        case ae: AggregateExpression if !ae.isDistinct && ae.filter.isEmpty =>
          ae.aggregateFunction match {
            case Sum(e, _) => sums += al.name -> asCol(e); ()
            case Count(Seq(l: Literal)) if l.value != null => () // n_rows
            case Count(Seq(e)) => counts += al.name -> asCol(e); ()
            case Min(e) => addMinMax(al.name, e)
            case Max(e) => addMinMax(al.name, e)
            case f: AggregateFunction => throw new IllegalArgumentException(
              s"aggregate ${f.prettyName} is not derivable from stored MV partials")
          }
        case other => throw new IllegalArgumentException(
          s"MV select items must be group keys or plain aggregates, got ${other.sql}")
      }
      case e => throw new IllegalArgumentException(
        s"unsupported MV select item ${e.sql}")
    }
    create(spark, name, fact, mvDir, groupCols,
      sumCols = sums.result(),
      countCols = counts.result(),
      minMaxCols = minMax.toSeq.map { case (n, e) => n -> asCol(e) })
  }

  /** DROP MATERIALIZED VIEW (the lifecycle's third verb): de-register
    * the rewrite definition — later matching consumers scan the fact
    * again — and remove the stored partials' snapshot dir. Returns
    * whether a definition was registered under the name (DROP of an
    * unknown view is a no-op, matching SQL's IF EXISTS temper). */
  def drop(spark: SparkSession, name: String,
           dropStorage: Boolean = true): Boolean = {
    val d = MvCatalog.get(name)
    MvCatalog.remove(name)
    if (dropStorage) d.filter(_.mvDir.nonEmpty)
      .foreach(dd => graft.sources.Snapshots.drop(spark, dd.mvDir))
    d.nonEmpty
  }

  /** REFRESH MATERIALIZED VIEW from SQL text: the delta statement's
    * frame folds through [[refresh]]; the re-registered freshness
    * gate is the source fingerprint of the view's WIDENED coverage
    * (base ∪ delta), taken at refresh time — the same default
    * discipline as createFromSql's. */
  def refreshFromSql(spark: SparkSession, name: String, deltaSql: String): Int = {
    val delta = spark.sql(deltaSql)
    val d = MvCatalog.get(name).getOrElse(
      throw new IllegalArgumentException(s"no registered MV named $name"))
    val (deltaCov, _) = shapeOfFrame(delta)
    val cov = d.coverage ++ deltaCov
    val f0 = sourceFingerprint(spark, cov)
    refresh(spark, name, delta,
      isFresh = () => sourceFingerprint(spark, cov) == f0)
  }

  /** INCREMENTAL REFRESH — the x12/x35 maintenance identity applied
    * to the rewrite path: fold ONLY the delta's partials into the
    * stored view (full-outer merge on the group keys; sums and
    * counts add, min/max combine — every stored column is a monoid
    * by construction) and commit the result as the NEXT MV version,
    * re-registering freshness. Cost is O(|Δ| scan) + O(|MV| merge) —
    * the fact's history is never re-read; x70's oracle hash proves
    * merge(MV(v1), partials(Δ)) == MV(v1 ∪ Δ) group for group. */
  /** The refresh's merged frame: stored view ⊕ delta partials — a
    * full-outer monoid merge on the group keys (sums/counts add,
    * min/max combine), types restored to the stored layout. */
  private def mergedFrame(spark: SparkSession, d: MvCatalog.MvDef,
                          delta: DataFrame): DataFrame =
    mergedState(graft.sources.Snapshots.read(spark, d.mvDir), d, delta,
      sign = 1)

  /** The fold one step deeper (x97's shape): an EXPLICIT current
    * state (so a multi-version maintenance run folds step after step
    * before committing once) and a SIGN — sums and counts form a
    * group, not just a monoid, so a deletion's pre-image partials
    * fold in negated (retraction). sign = −1 requires a min/max-free
    * view: those are not retractable, callers refuse before here. */
  private def mergedState(cur: DataFrame, d: MvCatalog.MvDef,
                          delta: DataFrame, sign: Int): DataFrame = {
    val dpRaw = partials(delta, d.groupCols, d.specs)
    val dp0 =
      if (sign >= 0) dpRaw
      else dpRaw.columns.filterNot(c => d.groupCols.contains(c.toLowerCase))
        .foldLeft(dpRaw)((x, c) => x.withColumn(c, col(c) * -1))
    // suffix the delta's value columns so the merged frame states
    // each fold explicitly, then restore the stored layout and types
    // (group-column comparison case-insensitive — groupCols were
    // lowercased at registration, the stored layout keeps the
    // fact's original case)
    val valueCols =
      cur.columns.filterNot(c => d.groupCols.contains(c.toLowerCase)).toSeq
    val dp = valueCols.foldLeft(dp0)((x, c) => x.withColumnRenamed(c, s"${c}_d"))
    val j = cur.join(dp, d.groupCols, "full_outer")
    def both(c: String)(f: (Column, Column) => Column): Column =
      f(col(c), col(s"${c}_d")).cast(cur.schema(c).dataType).as(c)
    j.select(d.groupCols.map(col) ++ valueCols.map { c =>
      if (c.startsWith("min_")) both(c)(org.apache.spark.sql.functions.least(_, _))
      else if (c.startsWith("max_")) both(c)(org.apache.spark.sql.functions.greatest(_, _))
      else both(c)((a, b) =>
        org.apache.spark.sql.functions.coalesce(a + b, a, b))
    }: _*)
  }

  def refresh(
      spark: SparkSession,
      name: String,
      delta: DataFrame,
      isFresh: () => Boolean): Int = {
    import graft.sources.Snapshots
    val d = MvCatalog.get(name).getOrElse(
      throw new IllegalArgumentException(s"no registered MV named $name"))
    // the fold is unconditional but SERVING must stay sound, so the
    // delta has to be parseable (else coverage can't grow and a
    // base-only read would be served delta-folded sums) and must
    // carry exactly the view's defining filter (else out-of-filter
    // delta rows inflate — or pre-filtered deltas starve — the
    // stored partials relative to what matching queries read)
    val (deltaCov, deltaFilters) = shapeOfFrame(delta)
    require(deltaCov.nonEmpty,
      s"MV refresh delta for '$name' must be a parseable scan frame " +
        "(scans/filters/unions only) — coverage cannot be extended otherwise")
    require(MvRewrite.sameFilters(deltaFilters, d.filters),
      s"MV refresh delta for '$name' must carry the view's defining " +
        "filter exactly (pass delta.filter(<defining predicate>))")
    val merged = mergedFrame(spark, d, delta)
    val v = Snapshots.commit(merged, d.mvDir)
    // mvRead already serves the latest version; the refreshed view
    // now covers base ∪ delta, so a matching query must read BOTH
    // (and a v1-only read can no longer be served — it would get Δ's
    // rows folded in)
    MvCatalog.register(d.copy(
      coverage = d.coverage ++ deltaCov, isFresh = isFresh))
    v
  }

  /** EPOCH-TAGGED refresh — the streaming twin's fold: same merged
    * frame, committed via commitEpoch so a replayed micro-batch
    * folds NOTHING (at-least-once delivery, exactly-once state —
    * the x12/mergeFold discipline). The fold DISARMS auto-rewrite
    * (coverage cleared): the stored view now includes stream rows
    * the registered coverage doesn't name, so serving any coverage-
    * matching read would over-count — the view keeps maintaining and
    * serving EXPLICIT reads, and the batch-side refresh()/create()
    * is what re-arms the rewrite with correct coverage. Returns None
    * on a replay skip. */
  def refreshEpoch(
      spark: SparkSession,
      name: String,
      delta: DataFrame,
      epochId: Long): Option[Int] = {
    import graft.sources.Snapshots
    val d = MvCatalog.get(name).getOrElse(
      throw new IllegalArgumentException(s"no registered MV named $name"))
    if (Snapshots.epochCommitted(spark, d.mvDir, epochId)) None
    else {
      val v = Snapshots.commitEpoch(mergedFrame(spark, d, delta), d.mvDir, epochId)
      if (v.isDefined) MvCatalog.register(d.copy(coverage = Nil))
      v
    }
  }

  /** x97 — SELF-MAINTENANCE FROM THE COMMIT LOG (CDC-driven IVM with
    * RETRACTION): fold every published fact version in
    * (sinceVersion, head] into the stored view, planned entirely
    * from the log's metadata ([[graft.sources.Snapshots
    * .versionMeta]] — one manifest-sized read per step, never a
    * table diff):
    *
    *  - an `append` (dataChange) folds +partials of its OWN delta
    *    files — O(|Δ|), the base never re-read (x70's fold);
    *  - a `deletes` version folds −partials of its PRE-IMAGES (the
    *    key-sized DV semi-joins the base state — the step's only
    *    data read): sums and counts form a GROUP, not just a monoid,
    *    so retraction is the signed fold. min/max are NOT
    *    retractable — a delete against a view storing them refuses
    *    loudly, demanding refresh() (Materialize's same rule);
    *  - dataChange=false layout re-lands and `alter`s fold NOTHING
    *    (maintenance must never look like churn — x56's CDC rule);
    *  - any other kind (full rewrite, replace, restore) refuses: the
    *    incremental identity does not hold across it.
    *
    * Groups retracted to zero rows are REMOVED (an empty group must
    * not serve a 0-sum row). One MV version lands for the whole
    * span; the view's rewrite stays armed with `isFresh` supplied by
    * the caller (the synced-head fingerprint). Returns (mv version,
    * folded fact head). At 100 TB this is the self-maintaining MV of
    * a streaming lakehouse: maintenance cost follows the CHURN the
    * log records, never the fact or history size. */
  def maintainFromLog(spark: SparkSession, name: String, factDir: String,
                      sinceVersion: Int,
                      isFresh: () => Boolean): (Int, Int) = {
    import graft.sources.Snapshots
    val d = MvCatalog.get(name).getOrElse(
      throw new IllegalArgumentException(s"no registered MV named $name"))
    // a FILTERED view cannot be maintained from raw version rows: the
    // defining predicate would have to be re-applied to every delta
    // and pre-image, and the registered conjuncts are resolved
    // against the original defining plan — refuse loudly (refresh()
    // takes a caller-filtered delta and checks it carries the
    // predicate exactly)
    require(d.filters.isEmpty,
      s"view '$name' has a defining filter — maintainFromLog folds raw " +
        "version rows and would inflate the partials; run refresh() " +
        "with a delta carrying the defining predicate")
    val steps = Snapshots.versions(spark, factDir).filter(_ > sinceVersion)
    require(steps.nonEmpty,
      s"nothing to fold: no published version above v$sinceVersion under $factDir")
    var cur = Snapshots.read(spark, d.mvDir)
    // contiguity guard: every folded step must chain on the PREVIOUS
    // published version. A published append whose base is an
    // unpublished stage (x58's merge-on-read MERGE: staged DV + one
    // atomic append) carries masked deletions this fold cannot see —
    // folding only its new images would double-count updated rows,
    // so it must refuse, not corrupt.
    var prev = sinceVersion
    steps.foreach { v =>
      Snapshots.versionMeta(spark, factDir, v) match {
        case ("append", Some(base), dataChange) =>
          require(base == prev,
            s"append v$v under $factDir chains through v$base ≠ the " +
              s"folded head v$prev (a merge-on-read or out-of-band " +
              "chain) — the incremental identity does not hold, run " +
              "refresh()")
          if (dataChange)
            cur = mergedState(cur, d,
              Snapshots.readVersionOwn(spark, factDir, v), sign = 1)
        case ("alter", _, _) | ("constraint", _, _) => () // metadata: same rows
        case ("deletes", Some(base), _) =>
          require(base == prev,
            s"deletion vector v$v under $factDir chains through " +
              s"v$base ≠ the folded head v$prev — run refresh()")
          require(d.mins.isEmpty && d.maxs.isEmpty,
            s"view '$name' stores min/max — deletes are not retractable, " +
              "run refresh()")
          val dv = Snapshots.readVersionOwn(spark, factDir, v)
          val pre = Snapshots.readResolved(spark, factDir, Some(base))
            .join(dv, dv.columns.toSeq, "left_semi")
          cur = mergedState(cur, d, pre, sign = -1)
        case (kind, _, false) if Set("data", "clone", "restore")(kind) => ()
        case (kind, _, _) =>
          sys.error(s"maintainFromLog cannot fold a '$kind' version " +
            s"(v$v under $factDir) — the incremental identity does not " +
            "hold, run refresh()")
      }
      prev = v
    }
    val mvv = Snapshots.commit(cur.filter(col(d.rowCountCol) > 0), d.mvDir)
    MvCatalog.register(d.copy(isFresh = isFresh))
    (mvv, steps.last)
  }
}
