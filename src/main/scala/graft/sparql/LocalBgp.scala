package graft.sparql

import scala.collection.mutable
import graft.model.LocalJoinFold
import graft.model.ResidentSlices.Pairs
import Ast._

/** A BGP joined on the driver over resident predicate slices
  * ([[graft.model.ResidentSlices]]), with the semantics of the Compiler's
  * scan-and-join plan: each pattern scans its predicate's `(s, o)` pairs,
  * keeps the ones matching its constants and repeated variables, and
  * binds its variables (a blank node binds `__bnode_<label>`; a pattern
  * without variables yields one empty row when it matches); scans join on
  * their shared variables, or as a cross product when there are none.
  * Columns come out in the order the Spark plan gives them. Every
  * intermediate result is bounded by `LocalJoinFold.MaxRows` rows. */
private[sparql] object LocalBgp {
  private val Bound = LocalJoinFold.MaxRows

  /** Columns and rows of one relation. */
  final case class Rel(cols: Seq[String], rows: Vector[Array[String]])

  /** The BGP's result, joining the patterns in the given order; None when
    * an intermediate result exceeds the bound. Every pattern's predicate
    * is a constant IRI with a slice in `slices`. */
  def evaluate(ordered: Seq[TriplePattern], slices: Map[String, Pairs]): Option[Rel] =
    ordered.foldLeft(Option.empty[Rel]) { (acc, tp) =>
      val Iri(p) = tp.p: @unchecked
      val s = scan(tp, slices(p))
      acc match {
        case None => Some(s)
        case Some(a) => join(a, s) match {
          case None => return None
          case j => j
        }
      }
    }

  /** One pattern over its slice; positions are 0 for `s`, 1 for `o`. */
  private def scan(tp: TriplePattern, pairs: Pairs): Rel = {
    var consts = List.empty[(Int, String)]
    var binds = List.empty[(String, Int)]
    def walk(pos: Int, t: Term): Unit = t match {
      case Var(n) => binds ::= (n -> pos)
      case BNode(label) => binds ::= (s"__bnode_$label" -> pos)
      case Iri(v) => consts ::= (pos -> v)
      case Lit(v) => consts ::= (pos -> v)
      case q: Quoted => throw new IllegalArgumentException(s"quoted triple $q in a resident scan")
    }
    walk(0, tp.s); walk(1, tp.o)
    // the same grouping as the Spark scan, so the columns come out alike
    val grouped = binds.reverse.groupBy(_._1).toSeq
    val out = grouped.map(_._2.head._2).toArray
    val repeats = grouped.flatMap { case (_, cs) => cs.tail.map(c => (c._2, cs.head._2)) }
    def at(pair: (String, String), pos: Int): String = if (pos == 0) pair._1 else pair._2
    val matching = pairs.iterator.filter(pair =>
      consts.forall { case (pos, v) => at(pair, pos) == v } &&
        repeats.forall { case (a, b) => at(pair, a) == at(pair, b) })
    val rows =
      if (out.isEmpty) (if (matching.hasNext) Vector(Array.empty[String]) else Vector.empty)
      else matching.map(pair => out.map(at(pair, _))).toVector
    Rel(grouped.map(_._1), rows)
  }

  /** `l ⋈ r` on their shared columns, columns ordered shared ++ l's ++
    * r's (a cross product: l's ++ r's); None over the bound. */
  private def join(l: Rel, r: Rel): Option[Rel] = {
    val shared = l.cols.filter(r.cols.contains)
    if (shared.isEmpty) {
      if (l.rows.size.toLong * r.rows.size > Bound) return None
      return Some(Rel(l.cols ++ r.cols, for (a <- l.rows; b <- r.rows) yield a ++ b))
    }
    val lKey = shared.map(l.cols.indexOf).toArray
    val rKey = shared.map(r.cols.indexOf).toArray
    val lRest = l.cols.indices.filterNot(lKey.contains).toArray
    val rRest = r.cols.indices.filterNot(rKey.contains).toArray
    val byKey = mutable.HashMap.empty[Seq[String], mutable.ArrayBuffer[Array[String]]]
    r.rows.foreach(row =>
      byKey.getOrElseUpdate(rKey.toSeq.map(row(_)), mutable.ArrayBuffer.empty) += row)
    val out = Vector.newBuilder[Array[String]]
    var n = 0
    l.rows.foreach { a =>
      byKey.get(lKey.toSeq.map(a(_))).foreach(_.foreach { b =>
        n += 1
        if (n > Bound) return None
        out += (lKey.map(a(_)) ++ lRest.map(a(_)) ++ rRest.map(b(_)))
      })
    }
    Some(Rel(shared ++ lRest.map(l.cols(_)) ++ rRest.map(r.cols(_)), out.result()))
  }
}
