package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.SplittableRandom
import scala.collection.mutable

/** Size and shape dials of the synthetic IAM org; the generator reads
  * nothing else. [[Dials.Bench]] is the one set every workload and the self
  * test use (perfbench/workloads.json notes what each value gives). */
final case class Dials(
    users: Int,
    groups: Int,
    maxDepth: Int,            // longest group-in-group nesting chain
    cycles: Int,              // membership cycles among groups
    serviceAccounts: Int,
    projects: Int,
    bucketsPerProject: Int,
    rolesPerProject: Int,
    permissions: Int,
    membershipsPerUser: Int,  // mean direct group memberships of a user
    zipfGroups: Double,       // Zipf exponent of group fan-in; rank 0 is the hot group
    hotBindings: Int,         // project roles bound to the hot domain-wide group
    deltaFrac: Double)        // day-2 additions as a share of day-1 statements

object Dials {
  /** maxDepth is 2 because traversals over a store read back from parquet
    * grow their plans exponentially with rounds (workloads.json
    * notes.depth_limit); deeper nesting does not finish in a run. */
  val Bench: Dials = Dials(users = 2000, groups = 200, maxDepth = 2, cycles = 3,
    serviceAccounts = 150, projects = 20, bucketsPerProject = 3, rolesPerProject = 3,
    permissions = 40, membershipsPerUser = 3, zipfGroups = 1.0, hotBindings = 4, deltaFrac = 0.05)
}

/** One vertex: label, promoted key, remaining string properties. */
final case class Vx(label: String, key: String, props: Map[String, String])

/** One edge between vertex indexes (into [[Org.vertices]]). */
final case class Ex(src: Int, dst: Int, label: String)

/** A generated org plus the dial-level facts the self test checks. Vertex
  * index order is stable: day-2 snapshots only append. */
final case class Org(vertices: Vector[Vx], edges: Vector[Ex]) {
  lazy val index: Map[(String, String), Int] =
    vertices.iterator.zipWithIndex.map { case (v, i) => (v.label, v.key) -> i }.toMap
  def indexesOf(label: String): Vector[Int] =
    vertices.indices.filter(vertices(_).label == label).toVector
  def out(label: String): Array[Array[Int]] = adjacency(label, reverse = false)
  def in(label: String): Array[Array[Int]] = adjacency(label, reverse = true)
  private def adjacency(label: String, reverse: Boolean): Array[Array[Int]] = {
    val b = Array.fill(vertices.size)(mutable.ArrayBuilder.make[Int])
    edges.foreach { e =>
      if (e.label == label) { if (reverse) b(e.dst) += e.src else b(e.src) += e.dst }
    }
    b.map(_.result())
  }
  def census: Map[String, Long] =
    vertices.groupBy(_.label).map { case (l, vs) => s"V:$l" -> vs.size.toLong } ++
      edges.groupBy(_.label).map { case (l, es) => s"E:$l" -> es.size.toLong }
}

/** The generated inputs of one seed: day 1, the day-2 snapshot, and the
  * facts the self test checks the dials against. */
final case class Generated(day1: Org, day2: Org, hotGroup: Int, groupLevel: Map[Int, Int],
                           cycleEdges: Vector[Ex])

/** Seeded org generator. The program sees only what [[Groovy]] and the
  * directory server render from the result. Edge labels: `in` for
  * membership, nesting, role bindings and role→resource (access flows
  * along them, README.md:20-33); `grants` for the permission→role map. */
object Gen {
  val Domain = "corp.example"
  val KeyProps: Map[String, String] = Map(
    "user" -> "email", "group" -> "email", "serviceAccount" -> "email",
    "project" -> "projectId", "bucket" -> "name", "role" -> "name", "permission" -> "name")

  /** Zipf(s) sampler over ranks 0 until n. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(k => 1.0 / math.pow(k + 1.0, s))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot)
    }
    def sample(r: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  def generate(seed: Long, d: Dials): Generated = {
    val r = new SplittableRandom(seed)
    val vs = mutable.ArrayBuffer.empty[Vx]
    def add(v: Vx): Int = { vs += v; vs.size - 1 }
    val es = mutable.LinkedHashSet.empty[Ex]
    def link(s: Int, t: Int, l: String = "in"): Boolean = es.add(Ex(s, t, l))

    // Groups in nesting levels 0..maxDepth; group i sits at level
    // i mod (maxDepth + 1), so every level is populated, the deepest chain
    // exists and every seed has the same number of groups at each level.
    require(d.groups > d.maxDepth + 1, "groups must exceed maxDepth + 1")
    val levels = d.maxDepth + 1
    val groups = (0 until d.groups).map { i =>
      val level = i % levels
      val idx = add(Vx("group", if (i == 0) s"all@$Domain" else s"grp$i@$Domain",
        Map("isExternal" -> (i % 29 == 7).toString)))
      idx -> level
    }
    val levelOf = groups.toMap
    val byLevel = groups.groupBy(_._2).map { case (l, gs) => l -> gs.map(_._1).toVector }
    val parents = mutable.Map.empty[Int, Vector[Int]]
    groups.foreach { case (g, level) =>
      if (level > 0) {
        val up = byLevel(level - 1)
        val p1 = if (g <= d.maxDepth) g - 1 else up(r.nextInt(up.size))
        val ps = if (r.nextInt(4) == 0) Vector(p1, byLevel(0)(r.nextInt(byLevel(0).size))).distinct
                 else Vector(p1)
        ps.foreach(p => link(g, p))
        parents(g) = ps
      }
    }
    // Cycles: a deepest-level group with a single parent also becomes that
    // parent's container (g in p and p in g). Closing cycles there adds no
    // path longer than the nesting already has, so the longest shortest
    // path (the traversal round count) is the same for every seed.
    require(d.cycles == 0 || d.maxDepth >= 1, "cycles need maxDepth >= 1")
    val cycleEdges = Vector.newBuilder[Ex]
    var made = 0
    val deepest = groups.collect { case (g, l) if l == d.maxDepth && parents(g).size == 1 => g }.toArray
    shuffle(deepest, r)
    deepest.iterator.take(d.cycles).foreach { g =>
      val p = parents(g).head
      if (link(p, g)) { cycleEdges += Ex(p, g, "in"); made += 1 }
    }
    require(made == d.cycles, s"could place only $made of ${d.cycles} cycles")

    // Users: Zipf fan-in over group ranks; rank 0 is the hot group. The
    // other ranks take levels in turn (1, 2, ..., 0, 1, ...), each a seeded
    // pick within its level, so the depth of the groups users join, and
    // with it the rounds their traversals take, is the same for every seed.
    val rankToGroup = {
      val queues = (1 to levels).map { k =>
        val lv = byLevel(k % levels).filter(_ != groups.head._1).toArray
        shuffle(lv, r)
        mutable.Queue(lv.toIndexedSeq: _*)
      }
      val order = Vector.newBuilder[Int]
      while (queues.exists(_.nonEmpty)) queues.foreach(q => if (q.nonEmpty) order += q.dequeue())
      groups.head._1 +: order.result()
    }
    val zg = new Zipf(d.groups, d.zipfGroups)
    def joinGroups(u: Int, m: Int): Unit = {
      var got = 0; var guard = 0
      while (got < m && guard < 50 * m) {
        guard += 1
        if (link(u, rankToGroup(zg.sample(r)))) got += 1
      }
    }
    def memberships: Int = 1 + r.nextInt(2 * d.membershipsPerUser - 1)
    (0 until d.users).foreach { i =>
      val u = add(Vx("user", s"u$i@$Domain", Map("isExternal" -> (r.nextInt(20) == 0).toString)))
      joinGroups(u, memberships)
    }

    // Projects, their buckets (the owning project is a bucket property),
    // project- and bucket-scoped roles (role→resource).
    val projectRoles = mutable.ArrayBuffer.empty[(Int, Int)] // (role, project index)
    val allRoles = mutable.ArrayBuffer.empty[Int]
    (0 until d.projects).foreach { p =>
      val pv = add(Vx("project", s"proj-$p", Map("orgUnit" -> s"ou${p % 5}")))
      (0 until d.bucketsPerProject).foreach { b =>
        val bv = add(Vx("bucket", s"bkt-$p-$b",
          Map("location" -> (if (b % 2 == 0) "EU" else "US"), "project" -> s"proj-$p")))
        val br = add(Vx("role", s"buckets/bkt-$p-$b/roles/objectViewer", Map("stage" -> "GA")))
        link(br, bv); allRoles += br
      }
      (0 until d.rolesPerProject).foreach { k =>
        val rv = add(Vx("role", s"projects/proj-$p/roles/r$k", Map("stage" -> "GA")))
        link(rv, pv); projectRoles += rv -> p; allRoles += rv
      }
    }
    // Permission→role maps.
    (0 until d.permissions).foreach { k =>
      val pv = add(Vx("permission", s"svc${k % 7}.res$k.get", Map.empty))
      (0 until 2 + r.nextInt(4)).foreach(_ => link(pv, allRoles(r.nextInt(allRoles.size)), "grants"))
    }
    // Bindings: every role gets 1-2 groups (top-heavy: levels 0-2), some
    // a direct user; the hot group holds `hotBindings` project roles. Role
    // j's b-th group is at level (j + b) mod the bindable levels, for the
    // same reason as the ranks above.
    val bindable = groups.filter(_._2 <= 2).map(_._1).filter(_ != groups.head._1).toVector
    val bindLevels = math.min(2, d.maxDepth) + 1
    val bindableAt = (0 until bindLevels).map(l => bindable.filter(levelOf(_) == l))
    val userIdx = (0 until d.users).map(i => d.groups + i)
    allRoles.iterator.zipWithIndex.foreach { case (role, j) =>
      (0 until 1 + r.nextInt(2)).foreach { b =>
        val at = bindableAt((j + b) % bindLevels)
        link(at(r.nextInt(at.size)), role)
      }
      if (r.nextInt(3) == 0) link(userIdx(r.nextInt(userIdx.size)), role)
    }
    (0 until d.hotBindings).foreach(_ =>
      link(groups.head._1, projectRoles(r.nextInt(projectRoles.size))._1))
    // Service accounts, each bound to 1-2 roles of its own project.
    val rolesOfProject = projectRoles.groupBy(_._2).map { case (p, rs) => p -> rs.map(_._1).toVector }
    (0 until d.serviceAccounts).foreach { i =>
      val p = r.nextInt(d.projects)
      val sa = add(Vx("serviceAccount", s"sa$i@proj-$p.iam.gserviceaccount.com", Map("disabled" -> "false")))
      val rs = rolesOfProject(p)
      (0 until 1 + r.nextInt(2)).foreach(_ => link(sa, rs(r.nextInt(rs.size))))
    }
    val day1 = Org(vs.toVector, es.toVector)

    // Day 2: append new users with memberships, new memberships of
    // existing users and new group bindings until deltaFrac of day 1's
    // statements are added. Merge is insert-only, so nothing is removed.
    val target = math.round(d.deltaFrac * (day1.vertices.size + day1.edges.size)).toInt
    var added = 0
    var nu = 0
    while (added < target) {
      r.nextInt(5) match {
        case 0 =>
          val u = add(Vx("user", s"new${nu}u@$Domain", Map("isExternal" -> "false")))
          nu += 1; added += 1
          if (added < target && link(u, rankToGroup(zg.sample(r)))) added += 1
        case 1 =>
          if (link(bindable(r.nextInt(bindable.size)), allRoles(r.nextInt(allRoles.size)))) added += 1
        case _ =>
          if (link(userIdx(r.nextInt(userIdx.size)), rankToGroup(zg.sample(r)))) added += 1
      }
    }
    val day2 = Org(vs.toVector, es.toVector)
    Generated(day1, day2, groups.head._1, levelOf, cycleEdges.result())
  }

  private def shuffle(a: Array[Int], r: SplittableRandom): Unit =
    (a.length - 1 to 1 by -1).foreach { i =>
      val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
    }
}

/** Renders an org as the reference's seven Groovy upsert scripts: vertex
  * upsert (main.go:205-211) and lookup-bind plus guarded addE
  * (main.go:310-322). */
object Groovy {
  val FileNames: Seq[String] = Seq("users", "serviceaccounts", "groups", "projects",
    "roles", "permissions", "iam")

  private def vertexStmt(v: Vx): String = {
    val kp = Gen.KeyProps(v.label)
    val props = v.props.toSeq.sortBy(_._1).map { case (k, x) =>
      if (x == "true" || x == "false") s".property('$k', $x)" else s".property('$k', '$x')"
    }.mkString
    s"if (g.V().hasLabel('${v.label}').has('$kp', '${v.key}').hasNext() == false) {\n" +
      s" g.addV('${v.label}').property(label, '${v.label}').property('$kp', '${v.key}')$props.id().next()\n}\n"
  }

  private def edgeStmt(o: Org, e: Ex): String = {
    val s = o.vertices(e.src); val t = o.vertices(e.dst)
    s"u1 = g.V().hasLabel('${s.label}').has('${Gen.KeyProps(s.label)}', '${s.key}' ).next()\n" +
      s"g1 = g.V().hasLabel('${t.label}').has('${Gen.KeyProps(t.label)}', '${t.key}').next()\n" +
      s"if ( g.V(u1).outE('${e.label}').where(inV().hasId( g1.id() )).hasNext() == false) {\n" +
      s" e1 = g.V(u1).addE('${e.label}').to(g1).property('weight', 1).next()\n}\n"
  }

  /** Which of the seven files a statement belongs to. */
  private def fileOfVertex(v: Vx): String = v.label match {
    case "user" => "users"
    case "serviceAccount" => "serviceaccounts"
    case "group" => "groups"
    case "project" | "bucket" => "projects"
    case "role" => "roles"
    case "permission" => "permissions"
  }
  private def fileOfEdge(o: Org, e: Ex): String =
    (o.vertices(e.src).label, o.vertices(e.dst).label) match {
      case (_, "group") => "groups"
      case ("role", _) => "roles"
      case ("permission", _) => "permissions"
      case _ => "iam"
    }

  /** Write the seven files into `dir`; returns their total byte size. */
  def write(o: Org, dir: Path): Long = {
    Files.createDirectories(dir)
    val out = FileNames.map(f => f -> new java.lang.StringBuilder).toMap
    o.vertices.foreach(v => out(fileOfVertex(v)).append(vertexStmt(v)))
    o.edges.foreach(e => out(fileOfEdge(o, e)).append(edgeStmt(o, e)))
    out.map { case (f, b) =>
      val bytes = b.toString.getBytes(UTF_8)
      Files.write(dir.resolve(s"$f.groovy"), bytes)
      bytes.length.toLong
    }.sum
  }
}
