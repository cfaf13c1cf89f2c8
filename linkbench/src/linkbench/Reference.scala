package linkbench

import graft.manifest.ManifestParser
import graft.model.{Ids, RepoFile}
import graft.versionrange.Resolvers
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

import scala.collection.mutable

/**
 * Single-threaded in-memory references the benchmark checks the engine's
 * outputs against. None of them goes through Spark.
 */
object Reference {

  // ------------------------------------------------------------------ ingest

  /** Row counts of the mined tables plus the AA edge digest. */
  final case class IngestExpect(packages: Long, artifacts: Long, apEdges: Long, ppEdges: Long,
                                quarantine: Long, parsed: Long, aa: Digest)

  /** Order-independent digest of a set of string pairs: row count and the
    * sums of the low and high 32 bits of Spark's `xxhash64(a, b)`, which the
    * engine computes in one aggregate without overflow. */
  final case class Digest(rows: Long, lowSum: Long, highSum: Long)

  def pairHash(a: String, b: String): Long = {
    val h = XxHash64Function.hash(UTF8String.fromString(a), StringType, 42L)
    XxHash64Function.hash(UTF8String.fromString(b), StringType, h)
  }

  def digest(pairs: Iterable[(String, String)]): Digest = {
    val hs = pairs.iterator.map { case (a, b) => pairHash(a, b) }.toSeq
    Digest(hs.size.toLong, hs.map(_ & 0xffffffffL).sum, hs.map(_ >>> 32).sum)
  }

  private def isManifest(path: String): Boolean = {
    val base = path.substring(path.lastIndexOf('/') + 1)
    Set("package.json", "pom.xml", "requirements.txt", "build.gradle", "build.gradle.kts")(base) ||
      (base.endsWith(".json") && (path.contains("nuget/") || path.contains("pypi/")))
  }

  /** Mine and resolve `files` with plain collections: the manifest filter,
    * the parse, the table derivations and the AP->AA join are re-derived
    * here; the manifest parser and the range library are the engine's own
    * (their semantics are checked by the unit tests, not by this benchmark). */
  def ingest(files: Seq[RepoFile]): IngestExpect = {
    val results = files.filter(f => isManifest(f.path)).map(ManifestParser.parse)
    val pkgs = results.collect { case Right(p) => p }
    val artifacts = mutable.Map.empty[String, mutable.Map[String, String]] // pkg -> version -> id
    val ap = mutable.ArrayBuffer.empty[(String, String, String)]          // (src artifact, dst pkg, spec)
    for (p <- pkgs; a <- p.artifacts) {
      val pid = Ids.packageId(p.eco, p.name)
      artifacts.getOrElseUpdate(pid, mutable.Map.empty)(a.version) = Ids.artifactId(p.eco, p.name, a.version)
      for (d <- a.deps) ap += ((Ids.artifactId(p.eco, p.name, a.version), Ids.packageId(p.eco, d.name), d.versionRange))
    }
    val pp = (for (p <- pkgs; a <- p.artifacts; d <- a.deps)
      yield (Ids.packageId(p.eco, p.name), Ids.packageId(p.eco, d.name))).toSet
    val mined = pkgs.map(p => Ids.packageId(p.eco, p.name)).toSet
    val prototypes = ap.iterator.map(_._2).filterNot(mined).toSet

    // (dst package, spec) -> matching artifact ids; a null spec never joins
    val matches = mutable.Map.empty[(String, String), Set[String]]
    for ((_, dst, spec) <- ap if spec != null && !matches.contains((dst, spec))) {
      val byVersion = artifacts.getOrElse(dst, mutable.Map.empty[String, String])
      val eco = dst.substring(0, dst.indexOf(':'))
      val hit =
        try Resolvers.findMatchingVersions(eco, spec, byVersion.keys)
        catch { case _: Exception => Set.empty[String] }
      matches((dst, spec)) = hit.map(byVersion)
    }
    val aa = mutable.Set.empty[(String, String)]
    for ((src, dst, spec) <- ap if spec != null; t <- matches((dst, spec))) aa += ((src, t))

    IngestExpect(
      packages = (mined.size + prototypes.size).toLong,
      artifacts = artifacts.valuesIterator.map(_.size.toLong).sum,
      apEdges = ap.size.toLong, ppEdges = pp.size.toLong,
      quarantine = results.count(_.isLeft).toLong, parsed = pkgs.size.toLong,
      aa = digest(aa))
  }

  def sha256Hex(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8"))
      .map(b => f"${b & 0xff}%02x").mkString

  // ------------------------------------------------------------------- graphs

  /** A directed multigraph over dense vertex indexes `0 until n`. */
  final class Graph(val ids: Array[Long], val src: Array[Int], val dst: Array[Int]) {
    def n: Int = ids.length
  }

  def graph(edges: Seq[(Long, Long)]): Graph = {
    val ids = edges.iterator.flatMap(e => Iterator(e._1, e._2)).toArray.distinct.sorted
    val ix = ids.zipWithIndex.toMap
    new Graph(ids, edges.map(e => ix(e._1)).toArray, edges.map(e => ix(e._2)).toArray)
  }

  /** PageRank with dangling mass spread uniformly, starting from 1/n. */
  def pageRank(g: Graph, iters: Int, d: Double = 0.85): Map[Long, Double] = {
    val n = g.n
    val out = new Array[Int](n)
    g.src.foreach(s => out(s) += 1)
    var r = Array.fill(n)(1.0 / n)
    for (_ <- 0 until iters) {
      val next = new Array[Double](n)
      var i = 0
      while (i < g.src.length) { next(g.dst(i)) += r(g.src(i)) / out(g.src(i)); i += 1 }
      var dangling = 0.0
      for (v <- 0 until n if out(v) == 0) dangling += r(v)
      r = next.map(c => (1.0 - d) / n + d * (c + dangling / n))
    }
    g.ids.indices.map(v => g.ids(v) -> r(v)).toMap
  }

  /** Weakly connected components labelled by their smallest vertex id. */
  def components(g: Graph): Map[Long, Long] = {
    val parent = Array.range(0, g.n)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var y = x
      while (parent(y) != r) { val nx = parent(y); parent(y) = r; y = nx }
      r
    }
    for (i <- g.src.indices) {
      val (a, b) = (find(g.src(i)), find(g.dst(i)))
      if (a != b) parent(math.max(a, b)) = math.min(a, b) // ids are sorted, so min index = min id
    }
    g.ids.indices.map(v => g.ids(v) -> g.ids(find(v))).toMap
  }

  /** Synchronous label propagation on the symmetrised simple graph: each
    * vertex takes its neighbours' most frequent label, ties to the smallest. */
  def labelPropagation(g: Graph, iters: Int): Map[Long, Long] = {
    val nbrs = symmetric(g)
    var label = Array.range(0, g.n)
    for (_ <- 0 until iters) {
      label = Array.tabulate(g.n) { v =>
        if (nbrs(v).isEmpty) label(v)
        else nbrs(v).groupBy(label).view.mapValues(_.length).toSeq.minBy { case (l, c) => (-c, l) }._1
      }
    }
    g.ids.indices.map(v => g.ids(v) -> g.ids(label(v))).toMap
  }

  /** Distinct undirected neighbours of each vertex, self-loops dropped. */
  private def symmetric(g: Graph): Array[Array[Int]] = {
    val sets = Array.fill(g.n)(mutable.Set.empty[Int])
    for (i <- g.src.indices if g.src(i) != g.dst(i)) { sets(g.src(i)) += g.dst(i); sets(g.dst(i)) += g.src(i) }
    sets.map(_.toArray.sorted)
  }

  /** Exact number of triangles in the undirected simple graph. */
  def triangles(g: Graph): Long = {
    val nbrs = symmetric(g)
    // orient each edge from lower to higher (degree, index); count closed wedges
    def rank(v: Int) = (nbrs(v).length.toLong << 32) | v
    val up = nbrs.indices.map(v => nbrs(v).filter(w => rank(w) > rank(v)).toSet).toArray
    var t = 0L
    for (v <- up.indices; a <- up(v); b <- up(v) if rank(a) < rank(b) && up(a)(b)) t += 1
    t
  }

  /** Strongly connected components (iterative Tarjan) labelled by their
    * smallest vertex id, over the simple graph without self-loops. */
  def scc(g: Graph): Map[Long, Long] = {
    val adj = Array.fill(g.n)(mutable.ArrayBuffer.empty[Int])
    val linked = new Array[Boolean](g.n)
    for (i <- g.src.indices if g.src(i) != g.dst(i)) {
      adj(g.src(i)) += g.dst(i); linked(g.src(i)) = true; linked(g.dst(i)) = true
    }
    val index = Array.fill(g.n)(-1); val low = new Array[Int](g.n)
    val onStack = new Array[Boolean](g.n); val comp = new Array[Int](g.n)
    val stack = mutable.Stack.empty[Int]
    var counter = 0
    for (root <- 0 until g.n if index(root) < 0) {
      val frames = mutable.Stack((root, 0))
      index(root) = counter; low(root) = counter; counter += 1
      stack.push(root); onStack(root) = true
      while (frames.nonEmpty) {
        val (v, k) = frames.pop()
        if (k < adj(v).length) {
          frames.push((v, k + 1))
          val w = adj(v)(k)
          if (index(w) < 0) {
            index(w) = counter; low(w) = counter; counter += 1
            stack.push(w); onStack(w) = true
            frames.push((w, 0))
          } else if (onStack(w)) low(v) = math.min(low(v), index(w))
        } else {
          if (low(v) == index(v)) {
            val members = mutable.ArrayBuffer.empty[Int]
            var w = -1
            while (w != v) { w = stack.pop(); onStack(w) = false; members += w }
            val label = members.min
            members.foreach(comp(_) = label)
          }
          if (frames.nonEmpty) { val p = frames.top._1; low(p) = math.min(low(p), low(v)) }
        }
      }
    }
    g.ids.indices.filter(linked).map(v => g.ids(v) -> g.ids(comp(v))).toMap
  }
}
