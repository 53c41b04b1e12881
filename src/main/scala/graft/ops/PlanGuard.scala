package graft.ops

import scala.collection.immutable.SortedMap
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, Partitioning, RangePartitioning, RoundRobinPartitioning, SinglePartition}
import org.apache.spark.sql.execution.{FormattedMode, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec, TableCacheQueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, Exchange, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec, HashJoin}
import org.apache.spark.sql.execution.window.WindowExec

/** Scale-hazard linter for physical plans — the checks this repo's specs
  * hand-roll per query (PlanAuditSpec), packaged so USERS can gate their
  * own pipelines before a 100 TB run. A plan that is correct at test SF
  * can still be a scale bug; these are the shapes that stop working at
  * 1000 executors:
  *
  *  - `cartesian-product` (ERROR): CartesianProductExec — |L|×|R| row
  *    blowup with no equi-key. Never survives a scale-up.
  *  - `global-window` (ERROR): a window function with an EMPTY
  *    PARTITION BY — Spark plans it as one task holding the whole
  *    input (the q113 lesson: use a two-pass global index instead).
  *  - `nested-loop-join` (WARN): BroadcastNestedLoopJoinExec — fine
  *    when the broadcast side is a literal/1-row frame (the q06 scalar
  *    cross-join pattern), quadratic otherwise; the detail names the
  *    build side so the caller can judge.
  *  - `single-partition-exchange` (WARN): an Exchange to
  *    SinglePartition — a 1-reducer funnel mid-plan (global sorts into
  *    limits are fine; a SinglePartition shuffle feeding more compute
  *    is usually a missing partition key).
  *
  * `audit` walks the adaptive node's CURRENT physical plan and descends
  * into subqueries and cached frames' plans. On a frame that has already
  * run, that is the final post-AQE tree (runtime-demoted broadcasts,
  * coalesced exchanges), walked beside the initial plan it replaced; on
  * an unexecuted frame — the usual pre-run gate — it is the INITIAL
  * physical plan, so hazards AQE introduces at replan time (e.g. a
  * demoted broadcast) are not visible until execution. The rules above
  * are mostly structural (a global window or cartesian join is declared
  * in the query, not invented by AQE), but join-strategy rules can shift
  * at replan time — re-audit after a run when you need the as-executed
  * verdict. `assertScaleSafe` turns ERROR findings into an
  * exception for CI gates; WARNs pass (they need human judgment), but
  * arrive in the returned findings.
  */
object PlanGuard {

  final case class Finding(severity: String, rule: String, detail: String) {
    override def toString: String = s"[$severity] $rule: $detail"
  }

  /** All findings for the frame's physical plan (post-AQE when enabled). */
  def audit(df: DataFrame): Seq[Finding] =
    auditPlan(df.queryExecution.executedPlan)

  def auditPlan(root: SparkPlan): Seq[Finding] = {
    val nodes = flatten(root)
    nodes.flatMap {
      case c: CartesianProductExec =>
        Some(Finding("error", "cartesian-product",
          s"|L|x|R| row blowup: ${oneLine(c)}"))
      case w: WindowExec if w.partitionSpec.isEmpty =>
        Some(Finding("error", "global-window",
          s"empty PARTITION BY plans as one task holding the whole " +
            s"input: ${oneLine(w)}"))
      case j: BroadcastNestedLoopJoinExec =>
        Some(Finding("warn", "nested-loop-join",
          s"${j.joinType} build=${j.buildSide} — fine for 1-row/literal " +
            s"broadcast frames, quadratic otherwise: ${oneLine(j)}"))
      case e: ShuffleExchangeExec if e.outputPartitioning == SinglePartition =>
        Some(Finding("warn", "single-partition-exchange",
          s"1-reducer funnel: ${oneLine(e)}"))
      case _ => None
    }
  }

  /** Throws IllegalStateException when the plan carries any ERROR-grade
    * finding whose rule is not in `allow`. Returns all findings (incl.
    * WARNs) so callers can log them. */
  def assertScaleSafe(df: DataFrame,
                      allow: Set[String] = Set.empty): Seq[Finding] = {
    val fs = audit(df)
    val bad = fs.filter(f => f.severity == "error" && !allow(f.rule))
    if (bad.nonEmpty) throw new IllegalStateException(
      s"plan is not scale-safe:\n${bad.mkString("\n")}")
    fs
  }

  /** The shape of a frame's physical plan, in counts: what a plan dump
    * shows, small enough to commit and diff per query.
    *
    *  - `nodes`: operators on the walk below;
    *  - `planLines`: lines of the `FormattedMode` explain;
    *  - `exchanges`: shuffle exchanges by partitioning kind (`hash`,
    *    `range`, `single`, `roundrobin`);
    *  - `broadcasts` / `reusedExchanges`: broadcast exchanges, and
    *    exchanges reused in place of a second shuffle or broadcast;
    *  - `joins`: join operators by physical class (`ShuffledHashJoin`, …);
    *  - `inMemoryScans`: `InMemoryTableScan` reads of cached frames;
    *  - `cachedScanJoins`: hash joins with a side fed by an
    *    `InMemoryTableScan` through no exchange — a join that reuses the
    *    cached frame's partitioning instead of shuffling it again. */
  final case class Digest(nodes: Int, planLines: Int,
                          exchanges: SortedMap[String, Int], broadcasts: Int,
                          reusedExchanges: Int, joins: SortedMap[String, Int],
                          inMemoryScans: Int, cachedScanJoins: Int) {
    /** Field name → value in declaration order, for JSON writers. */
    def fields: Seq[(String, Any)] = Seq(
      "nodes" -> nodes, "plan_lines" -> planLines, "exchanges" -> exchanges,
      "broadcasts" -> broadcasts, "reused_exchanges" -> reusedExchanges,
      "joins" -> joins, "in_memory_scans" -> inMemoryScans,
      "cached_scan_joins" -> cachedScanJoins)
  }

  /** The digest of the frame's physical plan, on the same walk as `audit`
    * (so it is the initial plan of an unexecuted frame). */
  def digest(df: DataFrame): Digest = {
    val nodes = flatten(df.queryExecution.executedPlan)
    def byName(names: Seq[String]) =
      SortedMap(names.groupMapReduce(identity)(_ => 1)(_ + _).toSeq: _*)
    Digest(
      nodes = nodes.size,
      planLines = df.queryExecution.explainString(FormattedMode).linesIterator.size,
      exchanges = byName(nodes.collect {
        case e: ShuffleExchangeExec => kind(e.outputPartitioning)
      }),
      broadcasts = nodes.count(_.isInstanceOf[BroadcastExchangeExec]),
      reusedExchanges = nodes.count(_.isInstanceOf[ReusedExchangeExec]),
      joins = byName(nodes.collect { case j: BaseJoinExec => j.nodeName }),
      inMemoryScans = nodes.count(_.isInstanceOf[InMemoryTableScanExec]),
      cachedScanJoins = nodes.count {
        case j: HashJoin => j.children.exists(cacheFed)
        case _ => false
      })
  }

  private def kind(p: Partitioning): String = p match {
    case _: HashPartitioning => "hash"
    case _: RangePartitioning => "range"
    case SinglePartition => "single"
    case _: RoundRobinPartitioning => "roundrobin"
    case other => other.getClass.getSimpleName.stripSuffix("$")
  }

  /** Reaches a cached-frame scan through operators that keep rows where
    * they are (project, filter, sort, codegen wrappers) — no exchange. */
  private def cacheFed(p: SparkPlan): Boolean = p match {
    case _: InMemoryTableScanExec | _: TableCacheQueryStageExec => true
    case _: Exchange => false
    case u if u.children.size == 1 => cacheFed(u.children.head)
    case _ => false
  }

  /** Pre-order walk over every operator the plan's text shows: it crosses
    * the AQE boundary (the adaptive node's current physical plan, plus its
    * initial plan once a run has replaced it, and each query stage's plan)
    * and descends into subquery plans and into the plans cached frames
    * were built from. */
  private def flatten(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan, a.initialPlan).distinct
      case s: QueryStageExec => Seq(s.plan)
      case m: InMemoryTableScanExec => Seq(m.relation.cachedPlan)
      case other => other.children
    }
    p +: (kids ++ p.subqueries).flatMap(flatten)
  }

  private def oneLine(p: SparkPlan): String =
    p.simpleStringWithNodeId().linesIterator.next().take(160)
}
