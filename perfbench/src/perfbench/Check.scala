package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType

/** Order-independent fingerprint of a multiset of rows: row count, XOR and
  * sum of a 60-bit md5 of each row's canonical text (columns joined by
  * `|`, maps as sorted `k=v` lists). Dropping, adding or altering one row
  * changes it. */
final case class Fp(count: Long, xor: Long, sum: Long)

object Fp {
  def rowHash(text: String): Long = {
    val d = MessageDigest.getInstance("MD5").digest(text.getBytes(UTF_8))
    // first 15 hex digits = first 60 bits
    var h = 0L
    var i = 0
    while (i < 8) { h = (h << 8) | (d(i) & 0xff); i += 1 }
    h >>> 4
  }

  def canon(v: Any): String = v match {
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => s"$k=$x" }.toSeq.sorted.mkString(",")
    case null => ""
    case x => x.toString
  }

  def text(row: Seq[Any]): String = row.map(canon).mkString("|")

  def of(rows: IterableOnce[Seq[Any]]): Fp = {
    var c = 0L; var x = 0L; var s = 0L
    rows.iterator.foreach { r => val h = rowHash(text(r)); c += 1; x ^= h; s += h >>> 28 }
    Fp(c, x, s)
  }

  /** The same fingerprint computed by Spark over every column of `df`;
    * the aggregate reads all of them, so no column can be pruned. */
  def spark(df: DataFrame): Fp = {
    val cols = df.schema.fields.toSeq.map { f =>
      val c = col(s"`${f.name}`")
      f.dataType match {
        case _: MapType =>
          coalesce(array_join(array_sort(transform(map_entries(c),
            e => concat(e.getField("key"), lit("="), e.getField("value")))), ","), lit(""))
        case _ => coalesce(c.cast("string"), lit(""))
      }
    }
    val h = conv(substring(md5(concat_ws("|", cols: _*)), 1, 15), 16, 10).cast("long")
    val r = df.select(h.as("h"))
      .agg(count(lit(1)), coalesce(bit_xor(col("h")), lit(0L)),
        coalesce(sum(shiftright(col("h"), 28)), lit(0L)))
      .head()
    Fp(r.getLong(0), r.getLong(1), r.getLong(2))
  }

  def rowsOf(rows: Array[Row]): Seq[Seq[Any]] =
    rows.toSeq.map(r => r.toSeq.map {
      case m: scala.collection.Map[_, _] => m
      case x => x
    })
}

/** Ground truth computed from the generated org in plain collections. */
final class Truth(org: Org) {
  private val outIn = org.out("in")
  private val inIn = org.in("in")
  private def isLabel(i: Int, l: String) = org.vertices(i).label == l

  /** Vertices reachable from `s` in one or more hops; expansion stops at
    * vertices for which `stop` holds (they are still reached). */
  def reach(s: Int, adj: Array[Array[Int]] = outIn, stop: Int => Boolean = _ => false): mutable.BitSet = {
    val seen = mutable.BitSet.empty
    var frontier = Array(s)
    var first = true
    while (frontier.nonEmpty) {
      val next = mutable.ArrayBuffer.empty[Int]
      frontier.foreach { v =>
        if (first || !stop(v)) adj(v).foreach(w => if (seen.add(w)) next += w)
      }
      first = false
      frontier = next.toArray
    }
    seen
  }

  def vrow(i: Int): Seq[Any] = { val v = org.vertices(i); Seq(v.label, v.key, v.props) }

  /** Console `lookup`: the user's direct `in` neighbours. */
  def lookup(u: Int): Seq[Seq[Any]] = outIn(u).toSeq.map(vrow)
  /** Console `guard`: does the edge exist? */
  def guard(u: Int, g: Int): Boolean = outIn(u).contains(g)
  /** Console `reach`: `repeat(out('in')).until(hasLabel('project')).emit()`. */
  def reachEmit(u: Int): Seq[Seq[Any]] = reach(u, outIn, isLabel(_, "project")).toSeq.map(vrow)
  /** Console `who_can`: `repeat(in('in')).until(hasLabel('user'))`. */
  def whoCan(b: Int): Seq[Seq[Any]] =
    reach(b, inIn, isLabel(_, "user")).toSeq.filter(isLabel(_, "user")).map(vrow)
  /** Console `scan`: vertex count by label. */
  def scan: Seq[Seq[Any]] = org.vertices.groupBy(_.label).toSeq.map { case (l, vs) => Seq(l, vs.size.toLong) }

  /** Report: (principal label, key, resource label, key) for every user and
    * service account and every project or bucket it reaches. */
  def access: Fp = Fp.of(org.vertices.indices.iterator
    .filter(i => isLabel(i, "user") || isLabel(i, "serviceAccount"))
    .flatMap { p =>
      val pv = org.vertices(p)
      reach(p).iterator.filter(r => isLabel(r, "project") || isLabel(r, "bucket"))
        .map(r => Seq(pv.label, pv.key, org.vertices(r).label, org.vertices(r).key))
    })

  /** Whole-graph closure over `in` edges as (origin id, node id). */
  def closure(id: Int => Long): Fp = Fp.of(org.vertices.indices.iterator.flatMap { v =>
    val o = id(v); reach(v).iterator.map(w => Seq(o, id(w)))
  })

  /** The `in`-edge-induced subgraph: vertex rows (id, label, key, props)
    * and edge rows (src, dst, label, weight). */
  def accessSubgraph(id: Int => Long): (Fp, Fp) = {
    val es = org.edges.filter(_.label == "in")
    val touched = es.iterator.flatMap(e => Iterator(e.src, e.dst)).toSet
    (Fp.of(touched.iterator.map { i => val v = org.vertices(i); Seq(id(i), v.label, v.key, v.props) }),
      Fp.of(es.iterator.map(e => Seq(id(e.src), id(e.dst), e.label, 1))))
  }
}
