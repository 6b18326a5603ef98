package graft.views

import graft.model.OnionGraph
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/**
 * The reference's "WHERE clause": property filters + predicate
 * composition over vertices or edges.
 *
 * `filter_view_by_property` (`searcher.py:300-362`) compiles an
 * operator string to a Python `operator` function and captures it in a
 * lazy GraphView; `compose_filters` (`searcher.py:364-411`) AND/ORs
 * such closures. Here both become `Column` expression algebra —
 * Catalyst fuses stacked filters (CombineFilters) and pushes them into
 * the parquet scan, which is the whole point of keeping predicates
 * declarative instead of opaque lambdas (SURVEY §2.7 UDF note).
 */
object Filters {

  sealed trait Dim
  case object VertexDim extends Dim
  case object EdgeDim extends Dim

  /** Operator-string -> Column predicate (the reference's micro
    * expression compiler, `searcher.py:324-326`). Supported:
    * == != < > <= >= in. Unknown operators raise, mirroring the
    * reference's ValueError (`searcher.py:328-336`). */
  def predicate(prop: String, op: String, value: Any): Column = {
    val c = col(prop)
    op match {
      case "==" => c === lit(value)
      case "!=" => c =!= lit(value)
      case "<"  => c < lit(value)
      case ">"  => c > lit(value)
      case "<=" => c <= lit(value)
      case ">=" => c >= lit(value)
      case "in" => value match {
        case vs: Seq[_] => c.isin(vs.map(_.asInstanceOf[AnyRef]): _*)
        case other => throw new IllegalArgumentException(
          s"'in' needs a Seq, got $other")
      }
      case other => throw new IllegalArgumentException(
        s"unsupported filter operator: $other")
    }
  }

  /** F1 `filter_view_by_property`: lazy filtered view on the chosen
    * dimension; `pruneIsolated` mirrors the `prune_isolated` flag
    * (`searcher.py:340-341`). Vertex filters keep induced-subgraph
    * semantics (F6). */
  def filterViewByProperty(g: OnionGraph, dim: Dim, prop: String, op: String,
                           value: Any, pruneIsolated: Boolean = false): OnionGraph = {
    val pred = predicate(prop, op, value)
    val filtered = dim match {
      case VertexDim => g.filterVertices(pred)
      case EdgeDim => g.filterEdges(pred)
    }
    if (pruneIsolated) filtered.pruneIsolated() else filtered
  }

  /** F2 `compose_filters`: AND/OR-fold arbitrary Column predicates
    * (`searcher.py:383-389`). */
  def composeAnd(preds: Seq[Column]): Column = preds.reduce(_ && _)
  def composeOr(preds: Seq[Column]): Column = preds.reduce(_ || _)
}
