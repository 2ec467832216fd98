package graft.model

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.util.control.NonFatal
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions.col
import org.apache.spark.unsafe.types.UTF8String

/** Driver-resident default-graph predicate slices of one store base: for
  * a predicate `p`, the `(s, o)` pairs of the base's default-graph quads
  * with predicate `p` — our analogue of the reference's gpos index
  * (`shared/src/dataset_index.rs:56-72`), held only for the predicates
  * reads have asked for.
  *
  * Loaded on demand: [[get]] fetches every requested predicate not yet
  * known with one Spark job (none when the base plans to a
  * `LocalRelation`), a scan filtered on `p` that Parquet pushdown narrows
  * to the row groups holding those predicates. A task sends at most
  * `MaxRows` pairs of a predicate; past that it sends only the mark that
  * the predicate is oversized, and it stops reading once every requested
  * predicate is marked. A predicate with more than `LocalJoinFold.MaxRows`
  * pairs, one that does not fit the budget [[ResidentSlices.MaxResidentRows]],
  * and every predicate of a failed fetch are remembered as oversized and
  * never fetched again; their reads keep the scan-and-join plan. A
  * predicate absent from the base is remembered as an empty slice, so it
  * too costs one fetch, once. A base never changes, so neither does a
  * loaded slice; store versions apply their own delta on top
  * ([[QuadStore.Version.slices]]). */
final class ResidentSlices(base: DataFrame) {
  import ResidentSlices._

  /** p → its pairs, or None once it is known to be oversized. */
  private val slices = new ConcurrentHashMap[String, Option[Pairs]]()
  /** Budget units taken (guarded by `this`): each entry's pairs, and at
    * least one per entry. */
  private var used = 0L

  /** The base slices of `ps`, fetching the unknown ones first; None when
    * any of them is oversized or past the budget, with no fetch when one
    * is already known to be oversized. */
  def get(ps: Set[String]): Option[Map[String, Pairs]] = {
    if (ps.exists(p => slices.get(p) == None)) return None
    if (!ps.forall(slices.containsKey)) load(ps)
    val out = ps.iterator.map(p => p -> slices.get(p)).toMap
    if (out.values.forall(s => s != null && s.isDefined))
      Some(out.map { case (p, s) => p -> s.get })
    else None
  }

  /** Cache entries held: loaded, empty and oversized predicates. */
  private[model] def entries: Int = slices.size
  private[model] def budgetUsed: Long = synchronized(used)

  private def load(ps: Set[String]): Unit = synchronized {
    val fetch = ps.filterNot(slices.containsKey).toSeq.sorted
    // every entry takes a unit, so a full budget fetches nothing
    if (fetch.isEmpty || used + fetch.size > MaxResidentRows) return
    val part =
      try fetchParts(fetch.toSet, MaxResidentRows - used - fetch.size)
      catch { case NonFatal(_) => Part(Map.empty, fetch.toSet) }
    var left = fetch.size
    fetch.foreach { p =>
      left -= 1
      val pairs = if (part.over(p)) None else Some(part.pairs.getOrElse(p, Vector.empty))
      val entry = pairs.filter(s => used + math.max(1, s.size) + left <= MaxResidentRows)
      used += entry.fold(1)(s => math.max(1, s.size))
      slices.put(p, entry)
    }
  }

  /** Each of `ps`'s default-graph pairs; a predicate over `MaxRows` pairs,
    * or past `room` pairs in all, only marked oversized. */
  private def fetchParts(ps: Set[String], room: Long): Part = {
    val pairs = mutable.HashMap.empty[String, Pairs]
    val over = mutable.HashSet.empty[String]
    var held = 0L
    def merge(part: Part): Unit = {
      part.over.foreach { p =>
        over += p
        pairs.remove(p).foreach(held -= _.size)
      }
      part.pairs.foreach { case (p, v) =>
        if (!over(p)) {
          val had = pairs.getOrElse(p, Vector.empty)
          if (had.size + v.size > Bound || held + v.size > room) {
            over += p; pairs -= p; held -= had.size
          } else {
            pairs(p) = had ++ v; held += v.size
          }
        }
      }
    }
    base.queryExecution.optimizedPlan match {
      case l: LocalRelation if !l.isStreaming =>
        merge(collectPart(l.data.iterator, ps))
      case _ =>
        // a scan per predicate, so a task reads one predicate's rows
        // (Parquet pushdown keeps the row groups that can hold it) and
        // stops once that predicate passes the bound
        val sc = base.sparkSession.sparkContext
        val scans = ps.toSeq.map { p =>
          base.filter(col("g").isNull && col("p") === p).queryExecution.toRdd
            .mapPartitions(it => Iterator(collectPart(it, Set(p))))
        }
        sc.runJob(sc.union(scans), (it: Iterator[Part]) => it.next(), (_: Int, part: Part) => merge(part))
    }
    Part(pairs.toMap, over.toSet)
  }
}

object ResidentSlices {
  /** One predicate's `(s, o)` pairs. */
  type Pairs = Vector[(String, String)]

  private val Bound = LocalJoinFold.MaxRows

  /** The budget of one base: its resident pairs, with every cache entry
    * (an empty or oversized slice too) counting at least one — 16 full
    * slices. At sf0.002 the largest slice holds 12,000 pairs, one per
    * lineitem predicate. */
  val MaxResidentRows: Long = 16L * LocalJoinFold.MaxRows

  /** Pairs of the predicates within bounds, and the oversized ones. */
  private final case class Part(pairs: Map[String, Pairs], over: Set[String])

  /** One partition of aligned `(g, s, p, o)` rows: the default-graph pairs
    * of `ps`, a predicate only marked once it passes `MaxRows` pairs. The
    * partition is left once every predicate of `ps` is marked. */
  private def collectPart(it: Iterator[InternalRow], ps: Set[String]): Part = {
    val wanted = ps.map(UTF8String.fromString)
    val pairs = mutable.HashMap.empty[String, mutable.ArrayBuffer[(String, String)]]
    val over = mutable.HashSet.empty[String]
    while (it.hasNext && over.size < ps.size) {
      val r = it.next()
      val pu = r.getUTF8String(2)
      if (r.isNullAt(0) && wanted(pu)) {
        val p = pu.toString
        if (!over(p)) {
          val buf = pairs.getOrElseUpdate(p, mutable.ArrayBuffer.empty)
          if (buf.size < Bound) buf += ((r.getUTF8String(1).toString, r.getUTF8String(3).toString))
          else { over += p; pairs -= p }
        }
      }
    }
    Part(pairs.iterator.map { case (p, b) => p -> b.toVector }.toMap, over.toSet)
  }
}
