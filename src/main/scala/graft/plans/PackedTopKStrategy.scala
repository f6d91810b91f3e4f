package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.graft.CosineDistance
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

import graft.operators.{PackedScan, SelfQueryFilter => F}

/** Plans the Vector-SQL exact top-k over a corpus that a [[PackedScan]]
  * already pins — `SELECT id, distance(emb, NeuralArray('q')) AS dist
  * FROM t WHERE <pred> ORDER BY distance(...)[, id] LIMIT k` — as one
  * [[PackedTopKExec]]: a single `PackedScan` top-k job, instead of a
  * relation scan that recomputes the distance in every sort comparison.
  * The reference runs this statement on the table's vector index
  * (MyScale); this is the exact-index analog of [[org.apache.spark.sql
  * .graft.AnnTopKRule]]'s approximate one.
  *
  * The logical shape, under `GlobalLimit(k, LocalLimit(k, ...))`:
  * {{{
  *   [Project] <- Sort(global: cosine_distance(emb, <foldable>) ASC [, id ASC])
  *     <- [Project] <- [Filter] <- LogicalRelation | InMemoryRelation
  * }}}
  * Routing happens only when the answer provably equals the unrouted
  * plan's, all decided from facts already in memory (no option, no FS
  * call, and no registry scan before the shape matches):
  *   - the relation `sameResult`s the recorded source of a live
  *     `PackedScan.buildCached` instance with no tombstones, and its file
  *     listing (or, for the CacheManager's `InMemoryRelation`, the cached
  *     plan's listing) equals the one recorded at build;
  *   - the distance is over the pinned embedding with a query of the
  *     pinned dimension; the output is only the pinned long id and the
  *     distance; the inner projection holds only attributes and the
  *     distance;
  *   - every WHERE conjunct translates exactly into a [[F]] filter over
  *     pinned metadata ([[PackedTopKStrategy.translate]]).
  * Everything else declines and keeps Spark's plan.
  */
object PackedTopKStrategy extends SparkStrategy {

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case ReturnAnswer(child) => route(child).toSeq
    case other => route(other).toSeq
  }

  /** The pieces of a matched shape. */
  private final case class Shape(k: Int, output: Seq[Attribute], dist: CosineDistance,
      distAttrs: Set[ExprId], idTie: Option[Attribute], cond: Option[Expression],
      relation: LogicalPlan)

  private def route(plan: LogicalPlan): Option[SparkPlan] =
    for {
      s <- shape(plan)
      exec <- PackedScan.routable.iterator.flatMap(ps => bind(s, ps)).nextOption()
    } yield exec

  private def shape(plan: LogicalPlan): Option[Shape] = plan match {
    case GlobalLimit(IntegerLiteral(k), LocalLimit(IntegerLiteral(k2), top))
        if k == k2 && k > 0 && k < SQLConf.get.topKSortFallbackThreshold =>
      val (output, sort) = top match {
        case Project(pl, s: Sort) => (pl, s)
        case s: Sort => (s.output, s)
        case _ => return None
      }
      val (projList, below) = sort.child match {
        case Project(pl, c) => (pl, c)
        case c => (c.output, c)
      }
      val (cond, relation) = below match {
        case Filter(c, r) => (Some(c), r)
        case r => (None, r)
      }
      val aliases = projList.collect { case a @ Alias(d: CosineDistance, _) => a.exprId -> d }.toMap
      val innerOk = projList.forall {
        case _: AttributeReference => true
        case a: Alias => aliases.contains(a.exprId)
        case _ => false
      }
      val isRel = relation match {
        case _: LogicalRelation | _: InMemoryRelation => true
        case _ => false
      }
      if (!sort.global || !innerOk || !isRel || !output.forall(_.isInstanceOf[Attribute])) return None
      val dist: Option[CosineDistance] = sort.order.headOption.collect {
        case SortOrder(d: CosineDistance, Ascending, _, _) => Some(d)
        case SortOrder(a: Attribute, Ascending, _, _) => aliases.get(a.exprId)
      }.flatten
      val idTie: Option[Option[Attribute]] = sort.order.drop(1) match {
        case Seq() => Some(None)
        case Seq(SortOrder(a: AttributeReference, Ascending, _, _)) => Some(Some(a))
        case _ => None
      }
      for {
        d <- dist
        tie <- idTie
        // every alias computes this same distance (one query vector)
        if aliases.values.forall(_.semanticEquals(d))
      } yield Shape(k, output.map(_.toAttribute), d, aliases.keySet, tie, cond, relation)
    case _ => None
  }

  /** The exec answering `s` from `ps`, if `ps` provably gives its answer. */
  private def bind(s: Shape, ps: PackedScan): Option[SparkPlan] = {
    val src = ps.source.orNull
    if (src == null || !ps.live || ps.deletedCount > 0) return None
    val sameSource = s.relation match {
      case r: LogicalRelation =>
        r.sameResult(src.plan) && PackedScan.Source.listing(r).contains(src.listing)
      case m: InMemoryRelation =>
        val cached = m.cacheBuilder.logicalPlan
        cached.sameResult(src.plan) && PackedScan.Source.listing(cached).contains(src.listing)
      case _ => false
    }
    if (!sameSource) return None
    // sameResult: the relation's output lines up with the source's by position
    val out = s.relation.output
    val id = out(src.idPos)
    val emb = out(src.embPos)
    val kinds = ps.metaKindOf
    val meta = src.metaPos.map { case (i, name) => out(i).exprId -> (name, kinds(name)) }
    val notNull = Set(id.exprId, emb.exprId) ++ meta.keySet
    val query = s.dist.right
    val q = if (query.foldable && query.deterministic) query.eval() else null
    val floatVectors = emb.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    val columnsOk = id.dataType == LongType && floatVectors &&
      s.dist.left.semanticEquals(emb) &&
      s.idTie.forall(_.exprId == id.exprId) &&
      s.output.forall(a => a.exprId == id.exprId || s.distAttrs(a.exprId)) &&
      q != null
    if (!columnsOk) return None
    val qv = q.asInstanceOf[ArrayData].toFloatArray()
    if (qv.length != ps.dim) return None
    val filter = s.cond match {
      case None => Some(None)
      case Some(c) => translate(c, meta, notNull).map(f => Some(f).filter(_ != Always))
    }
    filter.map { f =>
      PackedTopKExec(s.output, ps, qv, s.k, f, s.output.map(_.exprId != id.exprId))
    }
  }

  /** `e` as a [[F]] filter with the same truth value on every pinned row,
    * or None. `meta` maps a relation attribute to its pinned (name, kind);
    * pinned columns are non-null, so SQL's three-valued logic reduces to
    * the filter's two values. Integral comparisons and IN (over a possibly
    * widened column), string `=`, `!=` and IN, AND/OR/NOT, and IS NOT NULL
    * on `notNull` attributes translate; string ranges do not (Java string
    * order is not Spark's byte order), nor do floating columns.
    */
  private[graft] def translate(e: Expression, meta: Map[ExprId, (String, Int)],
      notNull: Set[ExprId]): Option[F.Node] = {
    def tr(x: Expression): Option[F.Node] = translate(x, meta, notNull)
    e match {
      case And(l, r) => for (a <- tr(l); b <- tr(r)) yield (a, b) match {
        case (Always, x) => x
        case (x, Always) => x
        case _ => F.And(Seq(a, b))
      }
      case Or(l, r) => for (a <- tr(l); b <- tr(r)) yield F.Or(Seq(a, b))
      case Not(c) => tr(c).map {
        case F.Eq(a, v) => F.Ne(a, v)
        case n => F.Not(n)
      }
      case IsNotNull(a: Attribute) if notNull(a.exprId) => Some(Always)
      case EqualTo(x, y) => compare(x, y, meta, F.Eq, F.Eq, ordered = false)
      case EqualNullSafe(x, y) => compare(x, y, meta, F.Eq, F.Eq, ordered = false)
      case LessThan(x, y) => compare(x, y, meta, F.Lt, F.Gt, ordered = true)
      case LessThanOrEqual(x, y) => compare(x, y, meta, F.Lte, F.Gte, ordered = true)
      case GreaterThan(x, y) => compare(x, y, meta, F.Gt, F.Lt, ordered = true)
      case GreaterThanOrEqual(x, y) => compare(x, y, meta, F.Gte, F.Lte, ordered = true)
      case In(x, list) =>
        for {
          (name, kind) <- column(x, meta)
          vs <- traverse(list) { case l: Literal => value(l.value, l.dataType, kind); case _ => None }
        } yield F.In(name, vs)
      case InSet(x, set) =>
        for {
          (name, kind) <- column(x, meta)
          vs <- traverse(set.toSeq)(v => value(v, x.dataType, kind))
        } yield F.In(name, vs)
      case _ => None
    }
  }

  private def compare(x: Expression, y: Expression, meta: Map[ExprId, (String, Int)],
      op: (String, F.Value) => F.Node, flipped: (String, F.Value) => F.Node,
      ordered: Boolean): Option[F.Node] = {
    def side(c: Expression, l: Expression, mk: (String, F.Value) => F.Node) = l match {
      case Literal(v, t) =>
        column(c, meta).filter(nk => !ordered || nk._2 == Integral)
          .flatMap { case (name, kind) => value(v, t, kind).map(mk(name, _)) }
      case _ => None
    }
    side(x, y, op).orElse(side(y, x, flipped))
  }

  /** The empty conjunction: true on every row. */
  private val Always: F.Node = F.And(Nil)

  private val Integral = 0 // MetaPredicate's canonical kinds
  private val Str = 2

  private def integralRank(t: DataType): Int = t match {
    case ByteType => 1
    case ShortType => 2
    case IntegerType => 3
    case LongType => 4
    case _ => 0
  }

  /** A pinned integral or binary-collated string column, possibly widened
    * by an integral cast (which never fails or changes the value).
    */
  private def column(e: Expression, meta: Map[ExprId, (String, Int)]): Option[(String, Int)] =
    e match {
      case a: AttributeReference => meta.get(a.exprId).filter {
        case (_, Integral) => integralRank(a.dataType) > 0
        case (_, Str) => a.dataType == StringType
        case _ => false
      }
      case c: Cast if integralRank(c.child.dataType) > 0 &&
          integralRank(c.dataType) >= integralRank(c.child.dataType) =>
        column(c.child, meta).filter(_._2 == Integral)
      case _ => None
    }

  private def value(v: Any, t: DataType, kind: Int): Option[F.Value] =
    if (v == null) None
    else if (kind == Integral && integralRank(t) > 0) Some(F.I(v.asInstanceOf[Number].longValue()))
    else if (kind == Str && t == StringType) Some(F.S(v.toString))
    else None

  private def traverse[A, B](xs: Seq[A])(f: A => Option[B]): Option[Seq[B]] = {
    val out = xs.flatMap(x => f(x))
    if (out.length == xs.length) Some(out) else None
  }
}

/** The routed Vector-SQL top-k: one [[PackedScan]] top-k job over the
  * rows as built. `isDist(i)` says whether output column `i` is the
  * distance (else the id). A collect costs exactly that job. Runs on the
  * driver only; `scan` is transient because a parent operator's task
  * closure can serialize the plan tree it hangs in.
  */
final case class PackedTopKExec(output: Seq[Attribute], @transient scan: PackedScan,
    query: Array[Float], k: Int, filter: Option[F.Node], isDist: Seq[Boolean])
    extends LeafExecNode {

  override def executeCollect(): Array[InternalRow] = {
    val w = new UnsafeRowWriter(output.length)
    scan.topKAsBuilt(query, k, filter).map { case (id, d) =>
      w.reset()
      w.zeroOutNullBytes()
      isDist.indices.foreach(i => if (isDist(i)) w.write(i, d) else w.write(i, id))
      w.getRow.copy(): InternalRow
    }
  }

  override def executeTake(n: Int): Array[InternalRow] = executeCollect().take(n)

  override protected def doExecute(): RDD[InternalRow] =
    sparkContext.parallelize(executeCollect().toSeq, 1)

  override def simpleString(maxFields: Int): String =
    s"PackedTopK k=$k dim=${query.length} rows=${scan.rows} " +
      s"filter=${filter.fold("none")(F.toSql)} output=${output.mkString("[", ", ", "]")}"
}
