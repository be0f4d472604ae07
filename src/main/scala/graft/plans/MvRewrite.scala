package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Average, Complete, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, LogicalPlan, Project, SubqueryAlias}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Aggregate navigation (automatic materialized-view rewrite — the
  * Oracle/Calcite QUERY REWRITE feature, as a Catalyst optimizer rule):
  * a monthly aggregate written naively against the FACT TABLE is rewritten
  * at optimization time to read the pre-aggregated rollup instead, mapping
  * each additive aggregate onto a SUM of the matching MV measure
  * (count(*) → sum(n_items), sum(x) → sum(sum_x)). The user keeps writing
  * the natural query; the engine serves it from the summary.
  *
  * Registration mirrors `CREATE MATERIALIZED VIEW … ENABLE QUERY REWRITE`:
  * [[MvRewrite.install]] takes the TEMPLATE aggregate (the exact DataFrame
  * the MV materializes, built from the same Column code as the production
  * query, so template and query cannot drift) plus the MV's parquet path,
  * extracts the template's optimized grouping/aggregate shapes and fact
  * file paths, and appends one [[MvAggregateRewrite]] rule to
  * `spark.experimental.extraOptimizations` (imperative injection — the
  * session already exists; a cold-start deployment would use
  * `withExtensions`/`injectOptimizerRule`).
  *
  * Matching is deliberately conservative — rewrite fires only when ALL of:
  *  - the aggregate's leaf silhouette equals the registered one: a parquet
  *    relation over exactly the registered fact files, or (STAR-SCHEMA
  *    navigation) an INNER equi-join of two such relations whose
  *    side-oriented join-key names match the registered join signature —
  *    path-set equality per side, so sf0.01 and sf0.1 registrations
  *    coexist without cross-firing;
  *  - the plan between Aggregate and leaf is only Project (column
  *    pruning) plus Filters whose every conjunct constrains the GROUP KEY
  *    alone (key-vs-literal comparison / IN / null check) — those select
  *    whole groups, so they translate verbatim onto the rollup's key
  *    column, where the month-partitioned layout turns them into
  *    partition pruning; a predicate on any other column selects part of
  *    a group's rows, which the rollup cannot reproduce, and disqualifies
  *    (inner-join-key IsNotNull conjuncts are exempt: the optimizer
  *    infers them FROM the join, so they hold identically on both the
  *    fact query and the MV build — dropping them is semantics-neutral);
  *  - the grouping expressions and every aggregate function match a
  *    registered SIGNATURE: Catalyst `canonicalized` shape (exprIds,
  *    aliases and commutative order neutralized) PLUS the set of source
  *    column NAMES the expression references. The name set matters
  *    because `canonicalized` erases attribute names — sum(a) and sum(b)
  *    over same-type plain columns have EQUAL shapes, so shape alone
  *    would let a query over a DIFFERENT column of the same fact table
  *    silently serve the wrong measure (or translate a filter onto the
  *    wrong key). Names pin the column; paths pin the table; together
  *    they identify the expression.
  * Unmatched plans pass through untouched; output attribute exprIds are
  * preserved on rewrite so parent operators (Sort etc.) still resolve.
  * Correctness contract: pipeline_mv_rewrite's DuckDB oracle IS the naive
  * fact-table SQL, so the rewrite must be semantics-preserving to hash-
  * match, and PlanQualitySpec pins that the executed plan actually reads
  * the MV, not the fact table (nor, for the join template, the dim).
  */
object MvRewrite {

  /** How a fact-side aggregate re-aggregates over the MV's partial rows:
    * additive measures (count/sum) re-SUM; min/max re-MIN/re-MAX (sound on
    * an insert-only fact — a delete could make a stored extremum stale).
    */
  private[plans] sealed trait ReAgg
  private[plans] case object ReSum extends ReAgg
  private[plans] case object ReMin extends ReAgg
  private[plans] case object ReMax extends ReAgg

  /** An expression identity robust to both alias/exprId noise AND
    * `canonicalized`'s name erasure: the canonical shape plus the
    * lowercased names of the columns it reads.
    */
  private[plans] final case class Sig(shape: Expression, cols: Set[String])

  /** One registered rewrite target: leaf signature (per-side fact paths +
    * optional join signature), the group-key signatures (template order)
    * with their MV key columns, the measure signature → (re-agg kind, MV
    * measure column) map, and the MV path.
    */
  private[plans] final case class Target(
      factSig: Seq[Set[String]],
      joinSig: Option[String],
      groupSigs: Seq[Sig],
      aggToMvColumn: Map[Sig, (ReAgg, String)],
      groupMvColumns: Seq[String],
      mvPath: String,
      // GRAIN NAVIGATION: when set, the (single) fact grouping key
      // corresponds not to an MV column but to this SQL expression over
      // the MV's columns (e.g. quarter-of-ship_month) — the rollup serves
      // a COARSER grain than it stores, which is sound for the
      // all-additive measure set.
      mvKeySql: Option[String] = None)

  private val targets =
    new java.util.concurrent.ConcurrentHashMap[String, Target]()

  /** Fired-counter for specs: how many Aggregates this JVM has rewritten. */
  private[graft] val fired = new java.util.concurrent.atomic.AtomicLong()

  /** Name-normalize then canonicalize: two expressions over different scans
    * of the same table get the same shape; exprIds, aliases and qualifiers
    * do not matter. NOTE `canonicalized` erases attribute NAMES too —
    * always compare via [[sig]] (shape + referenced column names), never
    * shape alone, or same-type plain columns collide.
    */
  private[plans] def shape(e: Expression): Expression = {
    val named = e.transformUp {
      case a: AttributeReference =>
        AttributeReference(a.name.toLowerCase, a.dataType, a.nullable)(ExprId(0), Nil)
    }
    named.canonicalized
  }

  private[plans] def sig(e: Expression): Sig =
    Sig(shape(e), e.references.map(_.name.toLowerCase).toSet)

  /** Register `template` (an Aggregate DataFrame over the fact table —
    * or an inner equi-join of fact and dim — whose output columns are
    * named exactly like the MV's measure columns, group keys first) as
    * rewritable to the rollup at `mvPath`, and install the rule into the
    * session once.
    */
  /** True while [[install]] is extracting a template's optimized plan on
    * this thread — [[MvAggregateRewrite]] must NOT fire there: once any
    * target is live, a later template whose grain it can serve (e.g. the
    * monthly template key-subset-matching the wide MV) would be REWRITTEN
    * before extraction, and the rewritten measures (Sum over three
    * same-type MV columns) would collide into one map entry. Measured,
    * not hypothetical: registration order quarter→minmax→range corrupted
    * the monthly target this way.
    */
  private val installing = new ThreadLocal[java.lang.Boolean] {
    override def initialValue(): java.lang.Boolean = false
  }
  private[plans] def isInstalling: Boolean = installing.get()

  def install(spark: SparkSession, template: DataFrame, mvPath: String,
      mvKeySql: Option[String] = None): Unit = {
    val key = s"${spark.hashCode()}|$mvPath|${mvKeySql.getOrElse("")}"
    targets.computeIfAbsent(key, _ => {
      val templatePlan = {
        installing.set(true)
        try template.queryExecution.optimizedPlan
        finally installing.set(false)
      }
      val (agg, si) = findAggAndScan(templatePlan)
        .getOrElse(throw new IllegalArgumentException(
          "MV rewrite template must optimize to Aggregate over Project*/parquet scan(s)"))
      require(si.filters.isEmpty, "MV rewrite template must be unfiltered")
      val nKeys = agg.groupingExpressions.length
      require(mvKeySql.isEmpty || nKeys == 1,
        "grain navigation (mvKeySql) is a single-key contract")
      val groupSigs0 = agg.groupingExpressions.map(g => sig(inline(g, si.aliases)))
      def outSig(ne: NamedExpression): Sig = ne match {
        case Alias(child, _) => sig(inline(child, si.aliases))
        case other => sig(inline(other, si.aliases))
      }
      // keys and measures located by SIGNATURE, not position: a plain-column
      // group key survives as an AttributeReference wherever the optimizer
      // put it
      val keyNames = groupSigs0.map { gs =>
        agg.aggregateExpressions.find(outSig(_) == gs).getOrElse(
          throw new IllegalArgumentException(
            s"template output does not expose group key $gs")).name
      }
      val aggMap = agg.aggregateExpressions
        .filterNot(ne => groupSigs0.contains(outSig(ne))).map {
          case al @ Alias(child, _) =>
            val inl = inline(child, si.aliases)
            val kind = inl match {
              case AggregateExpression(_: Min, _, false, _, _) => ReMin
              case AggregateExpression(_: Max, _, false, _, _) => ReMax
              case _ => ReSum // Count/Sum — additive, re-aggregates by SUM
            }
            sig(inl) -> (kind, al.name)
          case other => throw new IllegalArgumentException(
            s"unexpected template aggregate output: $other")
        }.toMap
      require(aggMap.size == agg.aggregateExpressions.length - keyNames.length,
        "MV template measures collide under signature matching — two " +
          "measures would map onto one column (measures must differ " +
          "structurally or read different columns)")
      // install the rule once per session
      synchronized {
        val already = spark.experimental.extraOptimizations
          .exists(_.isInstanceOf[MvAggregateRewrite])
        if (!already)
          spark.experimental.extraOptimizations =
            spark.experimental.extraOptimizations :+ new MvAggregateRewrite(spark)
      }
      Target(si.leaves.map(leafPaths), si.joinSig, groupSigs0,
        aggMap, keyNames, mvPath, mvKeySql)
    })
    ()
  }

  private[plans] def allTargets: Seq[Target] = {
    import scala.jdk.CollectionConverters._
    targets.values.asScala.toSeq
  }

  /** Aggregate over only Project/Filter/SubqueryAlias wrappers over a
    * parquet LogicalRelation — or ONE inner equi-join of two such
    * subtrees — the rewritable silhouette.
    */
  private[plans] def findAggAndScan(p: LogicalPlan): Option[(Aggregate, ScanInfo)] =
    p match {
      case a: Aggregate => scanInfo(a.child).map(a -> _)
      case Project(_, c) => findAggAndScan(c)
      case s: org.apache.spark.sql.catalyst.plans.logical.Sort => findAggAndScan(s.child)
      case _ => None
    }

  /** What sits between an Aggregate and its scan(s): the parquet leaves
    * (one, or two under a single inner equi-join), the side-oriented join
    * signature when a join is present, the Filter conjuncts collected on
    * the way down, and the Project alias map (the optimizer extracts
    * computed grouping expressions into child Projects as
    * `_groupingexpression#N` — [[inline]] substitutes those back so
    * signature matching sees the real expression tree). Anything else
    * (outer/non-equi Join, Window, …) disqualifies the subtree.
    */
  private[plans] final case class ScanInfo(
      leaves: Seq[LogicalRelation],
      joinSig: Option[String],
      filters: Seq[Expression],
      aliases: Map[ExprId, Expression])

  private[plans] def scanInfo(p: LogicalPlan): Option[ScanInfo] = p match {
    case lr: LogicalRelation if lr.relation.isInstanceOf[HadoopFsRelation] =>
      Some(ScanInfo(Seq(lr), None, Nil, Map.empty))
    case Project(projList, c) =>
      scanInfo(c).map { si =>
        val more = projList.collect { case a: Alias => a.exprId -> a.child }
        si.copy(aliases = si.aliases ++ more)
      }
    case SubqueryAlias(_, c) => scanInfo(c)
    case org.apache.spark.sql.catalyst.plans.logical.Filter(cond, c) =>
      scanInfo(c).map(si => si.copy(filters = splitConjuncts(cond) ++ si.filters))
    case j: Join
        if j.joinType == org.apache.spark.sql.catalyst.plans.Inner &&
          j.condition.isDefined =>
      (scanInfo(j.left), scanInfo(j.right)) match {
        case (Some(sl), Some(sr)) if sl.joinSig.isEmpty && sr.joinSig.isEmpty =>
          joinScanInfo(j, sl, sr)
        case _ => None
      }
    case _ => None
  }

  /** Combine the two sides of one inner equi-join into a joined ScanInfo.
    * Conservative guards, each a correctness boundary:
    *  - every conjunct is attr = attr with the two attributes resolving to
    *    DIFFERENT sides by column NAME (names are the identity that
    *    survives `canonicalized`'s erasure — see [[sig]]); a name present
    *    on both sides (self-join, shared column names) is ambiguous → bail;
    *  - `IsNotNull(join key)` conjuncts collected below the join are
    *    DROPPED rather than kept: the optimizer infers them from the inner
    *    join itself, so they hold identically on the template's MV build
    *    and translate to nothing — any other filter is kept and must
    *    later translate as a group-key predicate or disqualify.
    * The signature is side-oriented (left=right per conjunct, sorted), so
    * a commuted equality still matches while distinct key pairs do not.
    */
  private def joinScanInfo(
      j: Join, sl: ScanInfo, sr: ScanInfo): Option[ScanInfo] = {
    val aliases = sl.aliases ++ sr.aliases
    val leftNames = sl.leaves.flatMap(_.output.map(_.name.toLowerCase)).toSet
    val rightNames = sr.leaves.flatMap(_.output.map(_.name.toLowerCase)).toSet
    if ((leftNames & rightNames).nonEmpty) return None // ambiguous sides
    val conj = splitConjuncts(j.condition.get).map(inline(_, aliases))
    val pairs = conj.map {
      case EqualTo(a: AttributeReference, b: AttributeReference) =>
        val (an, bn) = (a.name.toLowerCase, b.name.toLowerCase)
        if (leftNames(an) && rightNames(bn)) Some(s"$an=$bn")
        else if (leftNames(bn) && rightNames(an)) Some(s"$bn=$an")
        else None
      case _ => None
    }
    if (pairs.exists(_.isEmpty)) return None // non-equi or unresolvable
    val joinKeyNames = conj.flatMap(_.references.map(_.name.toLowerCase)).toSet
    val keep = (sl.filters ++ sr.filters).filterNot {
      case IsNotNull(a: AttributeReference) => joinKeyNames(a.name.toLowerCase)
      case _ => false
    }
    Some(ScanInfo(sl.leaves ++ sr.leaves,
      Some(pairs.flatten.sorted.mkString("&")), keep, aliases))
  }

  /** Substitute Project-extracted aliases back into `e` until fixpoint
    * (alias chains are shallow; the cap is a safety net).
    */
  private[plans] def inline(e: Expression, aliases: Map[ExprId, Expression]): Expression = {
    var cur = e
    var i = 0
    while (i < 8) {
      val next = cur.transformUp {
        case a: AttributeReference if aliases.contains(a.exprId) => aliases(a.exprId)
      }
      if (next.fastEquals(cur)) return cur
      cur = next
      i += 1
    }
    cur
  }

  private[plans] def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConjuncts(l) ++ splitConjuncts(r)
    case other => Seq(other)
  }

  private[plans] def leafPaths(lr: LogicalRelation): Set[String] =
    lr.relation.asInstanceOf[HadoopFsRelation]
      .location.rootPaths.map(_.toString).toSet
}

/** The optimizer rule: see [[MvRewrite]]. Appended to
  * `spark.experimental.extraOptimizations`, so it runs after the standard
  * batches (pruning already pushed a Project under the Aggregate).
  */
final class MvAggregateRewrite(spark: SparkSession) extends Rule[LogicalPlan] {
  import MvRewrite._

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val ts = allTargets
    if (ts.isEmpty || MvRewrite.isInstalling) plan
    else plan.transformUp {
      case agg: Aggregate =>
        scanInfo(agg.child).flatMap { si =>
          val sigs = agg.groupingExpressions.map(g => sig(inline(g, si.aliases)))
          def leafEq(t: Target): Boolean =
            si.leaves.map(leafPaths) == t.factSig && si.joinSig == t.joinSig
          // Exact-grain targets first (incl. grain navigation); then
          // KEY-SUBSET rollup — the query groups by a strict subset of a
          // target's keys, so the rollup re-aggregates across the dropped
          // keys (sound for the declared ReAgg kinds: sums re-sum,
          // min/max re-extremize on the insert-only fact). Smallest
          // qualifying MV wins among subsets; first target whose MEASURES
          // also map wins overall (a same-grain MV lacking a queried
          // measure falls through to a wider one that has it).
          val exact = ts.filter(t => leafEq(t) && sigs == t.groupSigs)
          val subset = ts.filter(t => t.mvKeySql.isEmpty && leafEq(t) &&
              sigs.nonEmpty && sigs.size < t.groupSigs.size &&
              sigs.forall(t.groupSigs.contains))
            .sortBy(_.groupSigs.size)
          (exact ++ subset).view.flatMap(t => rewrite(agg, si, t)).headOption
        }.getOrElse(agg)
    }
  }

  /** A fact-side filter conjunct is rewritable iff it constrains ONLY a
    * group key: a binary comparison of a group-key expression against a
    * literal (either side), an IN over literals, or a null check on an
    * attribute a group key is built from (the key is null exactly when
    * its source column is — same rows survive on the rollup). Such
    * predicates select whole groups, so applying them to the rollup's key
    * column is semantics-preserving; anything else (a predicate on a
    * non-key column selects PART of a group's rows) disqualifies. With
    * multiple group keys, each conjunct may constrain ANY one of them.
    * Matching is by [[Sig]] — shape AND source column names — so a
    * same-shaped predicate over a different column can never translate
    * onto the key.
    */
  private def translateFilter(
      f: Expression,
      keys: Seq[(Sig, Expression)]): Option[Expression] =
    keys.iterator.map { case (groupSig, mvKey) =>
      f match {
        case cmp: BinaryComparison =>
          (cmp.left, cmp.right) match {
            case (k, l: Literal) if sig(k) == groupSig =>
              Some(cmp.withNewChildren(Seq(mvKey, l)))
            case (l: Literal, k) if sig(k) == groupSig =>
              Some(cmp.withNewChildren(Seq(l, mvKey)))
            case _ => None
          }
        case In(k, vs) if sig(k) == groupSig && vs.forall(_.isInstanceOf[Literal]) =>
          Some(In(mvKey, vs))
        case IsNotNull(a: AttributeReference)
            if groupSig.cols == Set(a.name.toLowerCase) =>
          Some(IsNotNull(mvKey))
        case _ => None
      }
    }.collectFirst { case Some(e) => e }

  private def rewrite(
      agg: Aggregate, si: ScanInfo, t: Target): Option[LogicalPlan] = {
    // the MV relation and the expressions over it that realize the fact
    // query's group keys: plain columns for same-grain serving, or (grain
    // navigation, single-key) a derived expression resolved by analyzing a
    // throwaway select over a fresh MV scan and unwrapping its Project
    val base = spark.read.parquet(t.mvPath)
    val (mvPlan: LogicalPlan, mvKeys: Seq[Expression]) = t.mvKeySql match {
      case None =>
        val pl = base.queryExecution.analyzed
        val out = pl.output.map(a => a.name -> a).toMap
        (pl, t.groupMvColumns.map(out(_)))
      case Some(txt) =>
        base.select(org.apache.spark.sql.functions.expr(txt).as("__mvkey"))
          .queryExecution.analyzed match {
          case Project(Seq(al: Alias), rel) => (rel, Seq(al.child))
          case _ => return None
        }
    }
    val mvOut = mvPlan.output.map(a => a.name -> a).toMap
    // Filters may constrain ANY target key — including one the query does
    // not group by (key-subset rollup): such a predicate selects whole MV
    // rows, which is exactly group-selecting at the rollup's grain.
    val keys = t.groupSigs.zip(mvKeys)
    val translated = si.filters.map(f =>
      translateFilter(inline(f, si.aliases), keys))
    if (translated.exists(_.isEmpty)) return None // non-key predicate: bail
    // the query's own grouping keys, as (sig -> MV key expression) in
    // query order — equal to the target's for exact-grain, a subsequence
    // selection for key-subset rollup
    val aggKeySigs = agg.groupingExpressions.map(g => sig(inline(g, si.aliases)))
    val aggMvKeys = aggKeySigs.map(gs => mvKeys(t.groupSigs.indexOf(gs)))

    def reAgg(kind: ReAgg, col: String): AggregateExpression = {
      val fn = kind match {
        case ReSum => Sum(mvOut(col))
        case ReMin => Min(mvOut(col))
        case ReMax => Max(mvOut(col))
      }
      AggregateExpression(fn, Complete, isDistinct = false)
    }
    // A measure maps directly by signature (count/sum → SUM of the partial,
    // min/max → MIN/MAX of the partial extrema), or — AVG navigation —
    // avg(x) decomposes into sum-pair division when the MV stores BOTH
    // sum(x) and the row count. Integral x only: the long partials are
    // exact, their double casts exact below 2^53, so the division equals
    // the naive avg bit-for-bit; decimal/float avgs don't re-associate
    // exactly and must not navigate.
    def mapMeasure(inl: Expression): Option[Expression] =
      t.aggToMvColumn.get(sig(inl)).map { case (kind, col) =>
        reAgg(kind, col): Expression
      }.orElse(inl match {
        case AggregateExpression(avg: Average, _, false, _, _)
            if Seq(org.apache.spark.sql.types.LongType,
              org.apache.spark.sql.types.IntegerType,
              org.apache.spark.sql.types.ShortType,
              org.apache.spark.sql.types.ByteType).contains(avg.child.dataType) =>
          val sumSig = sig(
            AggregateExpression(Sum(avg.child), Complete, isDistinct = false))
          // the denominator must count NON-NULL avg.child rows: prefer a
          // registered count(child) measure; accept count(*) only when the
          // column is provably non-nullable — otherwise null rows would
          // inflate the divisor and the rewrite would silently under-report
          val cntColSig = sig(AggregateExpression(
            Count(Seq(avg.child)), Complete, isDistinct = false))
          val cntStarSig = sig(AggregateExpression(
            Count(Seq(Literal(1))), Complete, isDistinct = false))
          val denom = t.aggToMvColumn.get(cntColSig).orElse(
            if (!avg.child.nullable) t.aggToMvColumn.get(cntStarSig) else None)
          (t.aggToMvColumn.get(sumSig), denom) match {
            case (Some((ReSum, sc)), Some((ReSum, cc))) =>
              Some(Divide(
                Cast(reAgg(ReSum, sc), org.apache.spark.sql.types.DoubleType),
                Cast(reAgg(ReSum, cc), org.apache.spark.sql.types.DoubleType)))
            case _ => None
          }
        case _ => None
      })
    def keyIdxOf(inl: Expression): Int = aggKeySigs.indexOf(sig(inl))
    val mapped: Seq[Option[NamedExpression]] = agg.aggregateExpressions.map {
      case al @ Alias(child, name) =>
        val inl = inline(child, si.aliases)
        val ki = keyIdxOf(inl)
        if (ki >= 0) Some(Alias(aggMvKeys(ki), name)(al.exprId))
        else mapMeasure(inl).map(e => Alias(e, name)(al.exprId))
      case a: AttributeReference => // plain-column group key in the output
        val ki = keyIdxOf(inline(a, si.aliases))
        if (ki >= 0) Some(Alias(aggMvKeys(ki), a.name)(a.exprId)) else None
      case _ => None
    }
    if (mapped.exists(_.isEmpty)) None // any unmapped output -> leave untouched
    else {
      fired.incrementAndGet()
      // prune explicitly: this rule runs in extraOptimizations, AFTER the
      // standard column-pruning batch, so nothing downstream would strip
      // the MV's unused columns (ship_day) from the scan otherwise. The
      // translated filters' columns must survive the prune too — on a
      // key-subset rollup they can reference an MV key the output drops.
      val keyAttrs = aggMvKeys.flatMap(_.collect { case a: AttributeReference => a })
      val needed = (keyAttrs ++ mapped.flatten.flatMap(_.collect {
        case a: AttributeReference => a
      }) ++ translated.flatten.flatMap(_.collect {
        case a: AttributeReference => a
      })).distinct
      val filtered =
        if (translated.isEmpty) mvPlan
        else org.apache.spark.sql.catalyst.plans.logical.Filter(
          translated.flatten.reduce(And), mvPlan)
      Some(Aggregate(aggMvKeys, mapped.flatten, Project(needed, filtered)))
    }
  }
}
