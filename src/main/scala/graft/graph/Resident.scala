package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.LocalFrames
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import scala.collection.concurrent.TrieMap
import scala.collection.mutable

/** Console steps on the driver, over frames that have folded to
  * `LocalRelation`s (see [[org.apache.spark.sql.graft.LocalFrames]]):
  * a [[PropertyGraph.resident]] copy, anything Spark's
  * `ConvertToLocalRelation` derives from it by filters and projections,
  * and a graph built from local rows. A step's driver form applies when
  * its input has folded and passes [[Traversal.broadcastSized]] (so
  * `spark.sql.autoBroadcastJoinThreshold` -1 turns every one off); it
  * returns the rows and schema of the step's DataFrame lowering, with the
  * same multiplicity, as a frame over a `LocalRelation` again, so the
  * next step folds too. Otherwise it returns None and the caller runs the
  * lowering. Nothing here runs a Spark job.
  */
private[graft] object Resident {

  /** Calls that took a graph's resident copy ([[PropertyGraph.resident]]),
    * so a caller (GremlinLiteSpec) can assert which path ran. */
  private[graft] val runs = new java.util.concurrent.atomic.AtomicLong(0L)

  /** `repeat().until()/emit()` walks answered by an index's cached
    * adjacency ([[Index.until]]), so a caller (GremlinLiteSpec) can assert
    * which of the walk's paths ran. */
  private[graft] val searches = new java.util.concurrent.atomic.AtomicLong(0L)

  /** `df`'s rows when it has folded to a `LocalRelation` that passes the
    * size test; None otherwise. */
  def rows(df: DataFrame): Option[Seq[InternalRow]] =
    if (Traversal.broadcastSized(df)) LocalFrames.rows(df) else None

  /** `count()`: one row, the number of traversers. */
  def count(df: DataFrame): Option[DataFrame] =
    single(df, StructField("count", LongType, nullable = false))(_.toLong)

  /** `hasNext()`: one row, whether any traverser is left. */
  def hasNext(df: DataFrame): Option[DataFrame] =
    single(df, StructField("hasNext", BooleanType, nullable = false))(_ > 0)

  private def single(df: DataFrame, field: StructField)(value: Int => Any): Option[DataFrame] =
    rows(df).map(rs =>
      LocalFrames.frame(df.sparkSession, StructType(Seq(field)), Seq(InternalRow(value(rs.length)))))

  /** `groupCount()` of the one-column frame `keys`: one row per distinct
    * key, a null key included, with its count. Keys whose grouping is
    * not plain value equality (floating point, collated strings, nested
    * types) are left to the aggregate. */
  def groupCount(keys: DataFrame): Option[DataFrame] = {
    val key = keys.schema.head
    val plain = key.dataType match {
      case s: StringType => s == StringType // the default binary collation
      case BooleanType | ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
    if (!plain) None
    else rows(keys).map { rs =>
      val n = mutable.LinkedHashMap.empty[Any, Long]
      rs.foreach { r => val k = r.get(0, key.dataType); n(k) = n.getOrElse(k, 0L) + 1 }
      LocalFrames.frame(keys.sparkSession,
        StructType(Seq(key, StructField("count", LongType, nullable = false))),
        n.iterator.map { case (k, c) => InternalRow(k, c) }.toIndexedSeq)
    }
  }

  /** `a.unionByName(b)`, the rows of both on the driver when both have
    * folded with the same columns in the same order. */
  def union(a: DataFrame, b: DataFrame): DataFrame = {
    val u = a.unionByName(b)
    val both = if (!a.columns.sameElements(b.columns)) None
               else for (ra <- rows(a); rb <- rows(b)) yield ra ++ rb
    both.fold(u)(LocalFrames.frame(u.sparkSession, u.schema, _))
  }

  /** The driver indexes of `g`, when both of its frames have folded and
    * carry the schema contract's long ids, `src`/`dst` and string edge
    * label; None otherwise. Reads the frames' own optimized plans only:
    * the caller has sized them. */
  def index(g: PropertyGraph): Option[Index] = {
    val v = g.vertices
    val e = g.edges
    def typed(df: DataFrame, c: String, t: DataType) =
      df.schema.find(_.name == c).exists(_.dataType == t)
    val contract = Seq("label", "key", "props").forall(v.columns.contains) &&
      typed(v, "id", LongType) && typed(e, "src", LongType) && typed(e, "dst", LongType) &&
      typed(e, "label", StringType)
    if (!contract) return None
    for (vr <- LocalFrames.rows(v); er <- LocalFrames.rows(e)) yield {
      val fields = Seq("id", "label", "key", "props").map(v.schema.fieldIndex)
      val byId = mutable.LongMap.from(vr.filterNot(_.isNullAt(fields.head)).groupBy(_.getLong(fields.head))
        .view.mapValues(_.map(r => fields.map(j => r.get(j, v.schema(j).dataType)).toArray).toArray))
      val at = e.schema.fieldIndex _
      new Index(StructType(fields.map(v.schema(_))), byId, e.schema, er.toIndexedSeq,
        at("src"), at("dst"), at("label"))
    }
  }

  /** A graph's vertices by id, as the values of (id, label, key, props),
    * and its edges by label (None: every label) and by either endpoint.
    * Each hop returns what [[PropertyGraph]]'s join lowering of it
    * returns: `out`/`in` one row per (traverser, edge) with a vertex at
    * the far end, `outE`/`inE` each matching edge once (a semi-join),
    * `inV`/`outV` one row per (edge, vertex at that end).
    *
    * The `repeat().until()/emit()` walk ([[until]]) searches a CSR
    * [[Adjacency]] per (edge label, direction), built from the edge rows
    * here on the walk's first use, without a fold or a job. Like the
    * endpoint maps, it is kept as long as this index, which its graph
    * object holds. */
  final class Index private[Resident] (vertexSchema: StructType,
      byId: mutable.LongMap[Array[Array[Any]]], edgeSchema: StructType,
      edgeRows: IndexedSeq[InternalRow], src: Int, dst: Int, label: Int) {

    private def byEnd(end: Int): Map[Option[String], mutable.LongMap[Array[Int]]] = {
      val touching = edgeRows.indices.filterNot(i => edgeRows(i).isNullAt(end))
      def at(is: Seq[Int]) = mutable.LongMap.from(
        is.groupBy(i => edgeRows(i).getLong(end)).view.mapValues(_.toArray))
      touching.filterNot(i => edgeRows(i).isNullAt(label))
        .groupBy(i => Option(edgeRows(i).getUTF8String(label).toString))
        .view.mapValues(at).toMap + (None -> at(touching))
    }
    private lazy val outOf = byEnd(src)
    private lazy val inOf = byEnd(dst)

    /** The adjacency of the `edgeLabel` edges, `src` → `dst` when `out`
      * and `dst` → `src` otherwise; None when one of them has a null
      * endpoint. */
    private val csr = TrieMap.empty[(Option[String], Boolean), Option[Adjacency]]
    private def adjacency(edgeLabel: Option[String], out: Boolean): Option[Adjacency] =
      csr.getOrElseUpdate((edgeLabel, out), {
        val es = edgeLabel.map(UTF8String.fromString).fold(edgeRows)(l =>
          edgeRows.filter(r => !r.isNullAt(label) && r.getUTF8String(label) == l))
        val (near, far) = if (out) (src, dst) else (dst, src)
        if (es.exists(r => r.isNullAt(near) || r.isNullAt(far))) None
        else Some(Adjacency.of(es.map(_.getLong(near)).toArray, es.map(_.getLong(far)).toArray))
      })

    /** Positions of the `edgeLabel` edges whose near end (`src` when
      * `out`, else `dst`) is `id`. */
    private def incident(out: Boolean, edgeLabel: Option[String])(id: Long): Iterator[Int] =
      (if (out) outOf else inOf).get(edgeLabel).flatMap(_.get(id)).iterator.flatten

    private def vertices(id: Long): Iterator[Array[Any]] = byId.get(id).iterator.flatten

    /** `out()` (`in()` when not `out`): (from_id | to_id, id, label, key,
      * props). */
    def vertexHop(from: DataFrame, edgeLabel: Option[String], out: Boolean): Option[DataFrame] = {
      val far = if (out) dst else src
      hop(from, "id", distinct = false)(
          f => StructType(f.copy(name = if (out) "from_id" else "to_id") +: vertexSchema.fields)) { id =>
        incident(out, edgeLabel)(id).filterNot(edgeRows(_).isNullAt(far))
          .flatMap(i => vertices(edgeRows(i).getLong(far)))
          .map(v => new GenericInternalRow((id: Any) +: v))
      }
    }

    /** `outE()` (`inE()` when not `out`): the edge rows. */
    def edgeHop(from: DataFrame, edgeLabel: Option[String], out: Boolean): Option[DataFrame] =
      hop(from, "id", distinct = true)(_ => edgeSchema)(id => incident(out, edgeLabel)(id).map(edgeRows))

    /** `inV()` (`end` = dst) or `outV()` (`end` = src) of edge frame `e`. */
    def endpoint(e: DataFrame, end: String): Option[DataFrame] =
      hop(e, end, distinct = false)(_ => vertexSchema)(id => vertices(id).map(new GenericInternalRow(_)))

    /** `repeat(out|in(edgeLabel))` from the ids of `seeds`, stopped by
      * the ids of `stops` (an `until`) and keeping every vertex it passes
      * when `emit`: [[Traversal.until]] over the cached adjacency. Returns
      * the (id, label, key, props) rows of the vertices with the ids the
      * search keeps, each vertex row once, as the lowering's filter of
      * the vertices by those ids does. None, and the caller runs
      * [[Traversal.untilSmall]], when `seeds` or `stops` has not folded or
      * has no long `id`, or one of the label's edges has a null endpoint. */
    def until(seeds: DataFrame, edgeLabel: Option[String], out: Boolean,
              stops: Option[DataFrame], emit: Boolean): Option[DataFrame] =
      for {
        (_, from) <- longs(seeds, "id")
        halt <- stops.fold(Option(Iterator.empty[Long]))(longs(_, "id").map(_._2))
        adj <- adjacency(edgeLabel, out)
      } yield {
        searches.incrementAndGet()
        val found = Traversal.until(adj, from, halt, onlyStops = stops.isDefined && !emit)
        LocalFrames.frame(seeds.sparkSession, vertexSchema,
          found.iterator.flatMap(vertices).map(new GenericInternalRow(_)).toIndexedSeq)
      }

    /** The one driver hop: for each non-null value of `from`'s long
      * column `on` (each distinct value once when `distinct`), the rows
      * `each` gives, under the schema `schema` builds from `on`'s field. */
    private def hop(from: DataFrame, on: String, distinct: Boolean)(schema: StructField => StructType)(
        each: Long => Iterator[InternalRow]): Option[DataFrame] =
      longs(from, on).map { case (field, ids) =>
        LocalFrames.frame(from.sparkSession, schema(field),
          (if (distinct) ids.distinct else ids).flatMap(each).toIndexedSeq)
      }

    /** The field of `df`'s column `on` and its non-null values, when it
      * is a long column and `df` has folded and passes the size test. */
    private def longs(df: DataFrame, on: String): Option[(StructField, Iterator[Long])] = {
      val f = df.select(col(on))
      val field = f.schema.head
      if (field.dataType != LongType) None
      else rows(f).map(rs => field -> rs.iterator.filterNot(_.isNullAt(0)).map(_.getLong(0)))
    }
  }
}
