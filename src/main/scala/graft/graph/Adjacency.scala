package graft.graph

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.graft.LocalFrames
import org.apache.spark.sql.types.LongType

import scala.collection.mutable.ArrayBuffer

/** A (src, dst) edge relation collected into compressed sparse row form:
  * vertex `v` (an index into the sorted distinct ids) has out-neighbors
  * `targets(offsets(v) until offsets(v + 1))`. Primitive arrays only, so
  * a task that captures it in its closure carries a few bytes per edge,
  * and every search over it runs without allocating per vertex.
  * Duplicate edges stay as they are: a search skips a vertex it already
  * reached. This is [[Traversal]]'s small-relation path (see its object
  * doc), and the adjacency a resident graph's index keeps per (edge
  * label, direction) for GremlinLite's walks ([[Resident.Index]]). It
  * is never mutated after it is built, so concurrent searches may share
  * it. Nothing here runs a Spark job but [[Adjacency.collectAll]]'s
  * collect. */
private[graph] final class Adjacency private (
    ids: Array[Long], offsets: Array[Int], targets: Array[Int], hasIn: Array[Boolean])
  extends Serializable {

  def size: Int = ids.length

  /** The index of vertex `id`, or -1 when no edge touches it. */
  def indexOf(id: Long): Int = math.max(-1, java.util.Arrays.binarySearch(ids, id))

  def hasOut(v: Int): Boolean = offsets(v + 1) > offsets(v)

  /** True when some edge enters `v` (it is not an in-degree-0 source). */
  def hasIncoming(v: Int): Boolean = hasIn(v)

  /** Per-origin reachability, streamed: for each origin index, one
    * (origin id, node id) pair per node reachable in ≥ 1 hop (the origin
    * itself only through a cycle). Each origin's search fills one reused
    * int queue, which is drained before the next origin starts. Once the
    * iterator is drained, `done` gets the largest discovery hop over the
    * origins for which `counted` holds (0 if none). */
  def pairs(origins: Iterator[Int], counted: Int => Boolean,
            done: Int => Unit): Iterator[(Long, Long)] = {
    val s = new Search
    var maxHop = 0
    origins.flatMap { o =>
      val hop = s.from(o)
      if (counted(o)) maxHop = math.max(maxHop, hop)
      val origin = ids(o)
      Iterator.range(0, s.reached).map(i => (origin, ids(s.queue(i))))
    } ++ { done(maxHop); Iterator.empty }
  }

  /** Multi-source breadth-first depths: every seed at depth 0 (a null seed
    * or one no edge touches included), then every vertex the seeds reach,
    * at its first depth. `seeds` must be distinct. The search runs before
    * this returns, and `done` gets its largest depth. */
  def depths(seeds: Iterator[java.lang.Long],
             done: Int => Unit): Iterator[(java.lang.Long, Long)] = {
    val s = new Search
    val untouched = ArrayBuffer.empty[java.lang.Long]
    seeds.foreach { id =>
      val v = if (id == null) -1 else indexOf(id)
      if (v < 0) untouched += id else s.seed(v)
    }
    val depth = s.expand()
    done(depth)
    var d = 0
    untouched.iterator.map(id => (id, 0L)) ++
      Iterator.range(0, s.reached).map { i =>
        while (i >= s.levelEnd(d)) d += 1
        (java.lang.Long.valueOf(ids(s.queue(i))), d.toLong)
      }
  }

  /** GremlinLite's `repeat().until()/emit()` search, run on the driver:
    * `s1` is the out-neighbors of `seeds`, and a breadth-first search
    * starts from `s1` minus the `stops` and never expands a stop vertex.
    * Returns the ids of `s1` ∪ everything reached (only the stop vertices
    * among them when `onlyStops`) and the search's largest depth — the
    * depth bfsDepth finds from the same start over the edges that leave
    * no stop vertex. A stop vertex in `s1` is no seed, so reaching it
    * again later counts toward that depth. Ids no edge touches never
    * match. */
  def stopping(seeds: Iterator[Long], stops: Iterator[Long],
               onlyStops: Boolean): (Array[Long], Int) = {
    val stop = new Array[Boolean](ids.length)
    stops.foreach { id => val v = indexOf(id); if (v >= 0) stop(v) = true }
    val hit = new Array[Boolean](ids.length) // s1, then everything reached
    seeds.foreach { id =>
      val u = indexOf(id)
      if (u >= 0) for (i <- offsets(u) until offsets(u + 1)) hit(targets(i)) = true
    }
    val s = new Search
    for (v <- ids.indices if hit(v) && !stop(v)) s.seed(v)
    val depth = s.expand(stop)
    for (i <- 0 until s.reached) hit(s.queue(i)) = true
    (ids.indices.iterator.filter(v => hit(v) && (stop(v) || !onlyStops)).map(v => ids(v)).toArray, depth)
  }

  /** One task's search state, reused across searches: a vertex is marked
    * reached when `mark(v) == stamp`, so a new search costs no clearing. */
  private final class Search {
    private val mark = new Array[Int](ids.length)
    private var stamp = 1
    val queue = new Array[Int](ids.length)
    var reached = 0
    private val ends = ArrayBuffer.empty[Int]

    /** Queue end of level `d`: the vertices at depth d are
      * `queue(levelEnd(d - 1) until levelEnd(d))` (level 0 = the seeds). */
    def levelEnd(d: Int): Int = ends(d)

    def seed(v: Int): Unit = push(v)

    /** A fresh search whose level 1 is `o`'s out-neighbors; `o` itself is
      * not reached at level 0. Returns the largest discovery hop. */
    def from(o: Int): Int = {
      stamp += 1
      reached = 0
      pushOut(o)
      if (reached == 0) 0 else 1 + expand()
    }

    /** Expands the queue level by level from its current contents (one
      * level) until a level reaches nothing new, never from a vertex `v`
      * with `stop(v)` (null: none); returns the number of levels added. */
    def expand(stop: Array[Boolean] = null): Int = {
      ends.clear()
      ends += reached
      var lo = 0
      while (lo < reached) {
        val hi = reached
        while (lo < hi) {
          val v = queue(lo)
          if (stop == null || !stop(v)) pushOut(v)
          lo += 1
        }
        if (reached > hi) ends += reached
      }
      ends.length - 1
    }

    private def push(v: Int): Unit =
      if (mark(v) != stamp) { mark(v) = stamp; queue(reached) = v; reached += 1 }

    private def pushOut(v: Int): Unit = {
      var i = offsets(v)
      val end = offsets(v + 1)
      while (i < end) { push(targets(i)); i += 1 }
    }
  }
}

private[graph] object Adjacency {

  /** The rows of every frame in `frames`, in at most one job: each
    * frame's one or two integral columns, as longs (`a`, then `b`). A
    * frame that has folded to local rows is read on the driver; the
    * others are tagged with their position, and the union of the tagged
    * rows is collected once. Returns each frame's rows, in `frames`'
    * order. */
  def collectAll(frames: DataFrame*): Seq[Array[Row]] = {
    val ab = frames.map { f =>
      val c = f.columns.map(c => col(c).cast("long")).padTo(2, lit(null).cast("long"))
      f.select(c(0).as("a"), c(1).as("b"))
    }
    val local = ab.map(LocalFrames.rows(_).map(_.map(r => Row(r.get(0, LongType), r.get(1, LongType))).toArray))
    val rest = ab.indices.filter(local(_).isEmpty)
    val byKind = if (rest.isEmpty) Map.empty[Int, Array[Row]]
      else rest.map(k => ab(k).select(lit(k).as("kind"), col("a"), col("b")))
        .reduce(_ unionByName _).collect().groupBy(_.getInt(0))
    frames.indices.map(k => local(k).getOrElse(
      byKind.getOrElse(k, Array.empty[Row]).map(r => Row(r.get(1), r.get(2)))))
  }

  /** The adjacency of (src, dst) rows of longs. None when an id is null:
    * the join rounds define what a null endpoint does. */
  def of(rows: Array[Row]): Option[Adjacency] =
    if (rows.exists(r => r.isNullAt(0) || r.isNullAt(1))) None
    else Some(of(rows.map(_.getLong(0)), rows.map(_.getLong(1))))

  /** The adjacency of the edges `src(i)` → `dst(i)`. */
  def of(src: Array[Long], dst: Array[Long]): Adjacency = {
    val all = src ++ dst
    java.util.Arrays.sort(all)
    val ids = all.distinct // stays sorted: distinct keeps first occurrences
    val s = src.map(java.util.Arrays.binarySearch(ids, _))
    val d = dst.map(java.util.Arrays.binarySearch(ids, _))
    val offsets = new Array[Int](ids.length + 1)
    s.foreach(v => offsets(v + 1) += 1)
    for (v <- ids.indices) offsets(v + 1) += offsets(v)
    val fill = offsets.clone()
    val targets = new Array[Int](src.length)
    val hasIn = new Array[Boolean](ids.length)
    for (i <- src.indices) {
      targets(fill(s(i))) = d(i); fill(s(i)) += 1
      hasIn(d(i)) = true
    }
    new Adjacency(ids, offsets, targets, hasIn)
  }
}
