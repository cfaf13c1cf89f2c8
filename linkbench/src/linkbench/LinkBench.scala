package linkbench

import graft.gen.SyntheticRepoFiles
import graft.gen.SyntheticRepoFiles.Config
import graft.graph.GraphOps
import graft.mine.MineJob
import graft.resolve.ResolveJob
import graft.sources.RepoFileSource
import org.apache.spark.linkbench.{LayerCounts, LayerListener}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/**
 * Seeded benchmark of the mined link-graph pipeline.
 *
 * One process runs one workload: start a session, set the workload's inputs
 * up three times (session start plus their median is `setup_s`), warm every
 * timed call up on a slice of the input, then repeat passes over the timed
 * calls until `--seconds` have elapsed. Every pass's outputs are checked, untimed, against the
 * in-memory references in [[Reference]]. With `--trace 1` passes alternate
 * between untraced and traced; traced passes tag each layer's jobs with a job
 * group and count them with a [[LayerListener]].
 *
 * The last line of stdout is one JSON object; the lines before it are a
 * human-readable table. The exit code is nonzero when any check failed.
 */
object LinkBench {

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: String, cores: Int)

  /** Every layer the benchmark attributes time and jobs to, in pipeline order. */
  val Layers: Seq[String] = Seq("sources", "mine.parse", "mine.tables", "resolve", "graph.index",
    "graph.pagerank", "graph.cc", "graph.lp", "graph.triangles", "graph.scc", "graph.hits",
    "graph.checkpoint", "graph.resume")

  /** Set-up repetitions per run; `setup_s` is their median. */
  val SetupReps = 3

  /** Input rows of the untimed warm-up pass, a slice of the real input. */
  val WarmRows = 200

  // ------------------------------------------------------------------ passes

  /** Wall times, derived values and check results of one pass. */
  final class Pass(val traced: Boolean) {
    val walls = mutable.LinkedHashMap.empty[String, Double]
    val values = mutable.LinkedHashMap.empty[String, Double]
    /** Output digests, equal on every pass of a run and every run of a seed. */
    val digests = mutable.LinkedHashMap.empty[String, String]
    var attempted = 0
    var failed = 0
    var counts: Map[String, LayerCounts] = Map.empty
    def workloadS: Double = walls.values.sum
  }

  final class Runner(val spark: SparkSession, val problems: mutable.ArrayBuffer[String]) {
    var pass: Pass = new Pass(false)
    /** The warm-up pass: unchecked, and kernels run fewer rounds. */
    var warm = false

    /** Runs one call into the engine as `layer`: timed, and with tracing on
      * its jobs carry the layer's name as their job group. */
    def step[T](layer: String)(body: => T): T = {
      if (pass.traced) spark.sparkContext.setJobGroup(layer, layer)
      val t0 = System.nanoTime()
      try body
      finally {
        pass.walls(layer) = pass.walls.getOrElse(layer, 0.0) + (System.nanoTime() - t0) / 1e9
        if (pass.traced) spark.sparkContext.clearJobGroup()
      }
    }

    /** Records one checked operation; a false check fails it. */
    def check(op: String, failures: => Seq[String]): Unit = if (!warm) {
      pass.attempted += 1
      if (failures.nonEmpty) {
        pass.failed += 1
        problems ++= failures.take(5).map(f => s"$op: $f")
      }
    }
  }

  def jitMillis(): Long = java.lang.management.ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  def gcMillis(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  }

  def longPairs(df: DataFrame): Map[Long, Long] =
    df.collect().iterator.map(r => r.getLong(0) -> r.getLong(1)).toMap

  def doublePairs(df: DataFrame): Map[Long, Double] =
    df.collect().iterator.map(r => r.getLong(0) -> r.getDouble(1)).toMap

  def sameMap[V](what: String, got: Map[Long, V], want: Map[Long, V]): Seq[String] =
    if (got.size != want.size) Seq(s"$what: ${got.size} vertices, expected ${want.size}")
    else want.iterator.filter { case (k, v) => !got.get(k).contains(v) }.take(3)
      .map { case (k, v) => s"$what: vertex $k has ${got.get(k)}, expected $v" }.toSeq

  def allClose(what: String, got: Map[Long, Double], want: Map[Long, Double], tol: Double): Seq[String] =
    if (got.size != want.size) Seq(s"$what: ${got.size} vertices, expected ${want.size}")
    else want.iterator.filter { case (k, v) => !got.get(k).exists(g => math.abs(g - v) <= tol) }.take(3)
      .map { case (k, v) => s"$what: vertex $k has ${got.get(k)}, expected $v" }.toSeq

  /** Order-independent digest of a two-string-column table, as one aggregate. */
  def digestOf(df: DataFrame, a: String, b: String): Reference.Digest = {
    val h = xxhash64(col(a), col(b))
    val r = df.agg(count(lit(1)), coalesce(sum(h.bitwiseAND(lit(0xffffffffL))), lit(0L)),
      coalesce(sum(shiftrightunsigned(h, 32)), lit(0L))).head()
    Reference.Digest(r.getLong(0), r.getLong(1), r.getLong(2))
  }

  def dirBytes(path: String): Long = {
    val f = new java.io.File(path)
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(c => dirBytes(c.getPath)).sum
    else if (f.isFile) f.length() else 0L
  }

  def deleteTree(path: String): Unit = {
    val f = new java.io.File(path)
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(c => deleteTree(c.getPath))
    f.delete()
  }

  // --------------------------------------------------------------- workloads

  trait Workload {
    /** Corpus size, packages per ecosystem. */
    def packages: Int
    /** End-to-end operations as (metric name, the layers whose walls it sums). */
    def ops: Seq[(String, Seq[String])]
    /** Name of the whole pass's time, `workload_s` in the JSON result. */
    def total: String = "workload_s"
    /** Further end-to-end rates the passes record in `values`, with units. */
    def rates: Seq[(String, String)] = Nil
    /** Passes a run makes even when `--seconds` have elapsed. */
    def minPasses: Int = 1
    /** Writes the workload's inputs under `dir`. This is the timed set-up. */
    def setup(spark: SparkSession, cfg: Config, dir: String): Unit
    /** The input table under `dir` that the warm-up slices. */
    def input: String
    /** Computes the in-memory references for the inputs under `dir`. Untimed. */
    def prepare(spark: SparkSession, cfg: Config, dir: String): Unit
    /** Runs every timed call once, then checks its outputs. */
    def pass(r: Runner, dir: String): Unit
  }

  /** Scan, mine and resolve a corpus; the graph layers are idle. */
  object Ingest extends Workload {
    val packages = 1000
    val ops = Seq("mine_s" -> Seq("sources", "mine.parse", "mine.tables"), "resolve_s" -> Seq("resolve"))
    override val total = "ingest_s"
    val input = "corpus"
    /** The first timed pass still runs JIT-compiled code in; the median of
      * three keeps it out, where one or two passes would report it. */
    override val minPasses = 3
    private var expect: Reference.IngestExpect = _
    private var shas: Map[(String, String, String), String] = Map.empty
    private var files = 0L

    def setup(spark: SparkSession, cfg: Config, dir: String): Unit =
      SyntheticRepoFiles.generate(spark, cfg).write.mode("overwrite").parquet(s"$dir/corpus")

    def prepare(spark: SparkSession, cfg: Config, dir: String): Unit = {
      val local = SyntheticRepoFiles.generateLocal(cfg)
      files = local.size.toLong
      expect = Reference.ingest(local)
      shas = local.iterator.map(f => (f.repo, f.path, f.commit) -> Reference.sha256Hex(f.content)).toMap
    }

    def pass(r: Runner, dir: String): Unit = {
      val spark = r.spark
      val src = r.step("sources")(RepoFileSource.read(spark, s"parquet:$dir/corpus"))
      val mined = r.step("mine.parse")(MineJob.run(spark, src))
      val tables = r.step("mine.tables")(Seq(mined.packages.count(), mined.artifacts.count(),
        mined.apEdges.count(), mined.ppEdges.count(), mined.quarantine.count()))
      val resolved = r.step("resolve")(ResolveJob.run(spark, mined.apEdges, mined.artifacts))
      val aa = r.step("resolve")(digestOf(resolved.aaEdges.toDF(), "srcArtifactId", "dstArtifactId"))
      if (r.warm) return

      val parsed = mined.parsed.select("repo", "path", "commit", "contentSha").collect()
      val want = Seq(expect.packages, expect.artifacts, expect.apEdges, expect.ppEdges, expect.quarantine)
      val names = Seq("packages", "artifacts", "ap_edges", "pp_edges", "quarantine")
      r.check("ingest",
        names.zip(tables.zip(want)).collect { case (n, (g, w)) if g != w => s"$n has $g rows, expected $w" } ++
          (if (aa != expect.aa) Seq(s"AA digest $aa, expected ${expect.aa}") else Nil) ++
          (if (parsed.length != expect.parsed) Seq(s"${parsed.length} parsed rows, expected ${expect.parsed}") else Nil) ++
          parsed.iterator.filter(p => !shas.get((p.getString(0), p.getString(1), p.getString(2))).contains(p.getString(3)))
            .take(3).map(p => s"contentSha mismatch at ${p.getString(0)}/${p.getString(1)}@${p.getString(2)}"))
      r.pass.digests("aa") = aa.toString
      if (r.pass.traced) {
        val specs = mined.apEdges.select("dstPackageId", "repo", "versionRange").distinct().count()
        val manifests = parsed.length + tables(4)
        r.pass.values ++= Seq(
          "mine.parse.manifest_share" -> manifests.toDouble / files,
          "mine.parse.quarantine_share" -> tables(4).toDouble / manifests,
          "resolve.spec_share" -> specs.toDouble / tables(2),
          "resolve.aa_per_ap" -> aa.rows.toDouble / tables(2))
      }
    }
  }

  /**
   * Every kernel on a seeded package graph: index the PP edges, then PR,
   * checkpointed CC, LP, triangles, SCC, HITS, checkpointed PR and its
   * resume. The ingest layers are idle. Kernel time on this graph is mostly
   * per-round job scheduling cost, so it answers to superstep and
   * kernel set-up changes, and checkpoint writes and reads happen only here.
   */
  object Graph extends Workload {
    val packages = 200
    val ops = Seq("index_s" -> Seq("graph.index"), "pagerank_s" -> Seq("graph.pagerank"),
      "components_ckpt_s" -> Seq("graph.cc"), "labelprop_s" -> Seq("graph.lp"),
      "triangles_s" -> Seq("graph.triangles"), "scc_s" -> Seq("graph.scc"), "hits_s" -> Seq("graph.hits"),
      "pagerank_ckpt_s" -> Seq("graph.checkpoint"), "resume_s" -> Seq("graph.resume"))
    override val rates = Seq("pagerank_supersteps_per_min" -> "1/min", "edges_scanned_per_s" -> "1/s")
    val input = "pp"
    val PrIters = 10
    /** The checkpointed run stops at the first checkpoint boundary (the
      * kernels' default `checkpointEvery` is 5); the resume completes it to
      * `PrIters`, so both the write and the read path run once. */
    val CkptIters = 5
    val LpIters = 3
    val HitsIters = 10
    private var dictWant: Map[String, Long] = Map.empty
    private var edgesWant: Map[(Long, Long), Int] = Map.empty
    private var vertices = 0
    private var prWant: Map[Long, Double] = Map.empty
    private var ckptWant: Map[Long, Double] = Map.empty
    private var ccWant: Map[Long, Long] = Map.empty
    private var lpWant: Map[Long, Long] = Map.empty
    private var triWant = 0L
    private var sccWant: Map[Long, Long] = Map.empty

    /** Writes the package-to-package edges of the corpus `cfg` describes,
      * straight from the generator's dependency model, so the ingest layers
      * stay idle in this workload's set-up too. Ids are `eco:name`, as the
      * miner forms them; malformed manifests keep their edges here. */
    def setup(spark: SparkSession, cfg: Config, dir: String): Unit = {
      import spark.implicits._
      val ecos = SyntheticRepoFiles.Ecos
      spark.range(0, cfg.packagesPerEco.toLong * ecos.size).flatMap { idx =>
        val eco = ecos((idx % ecos.size).toInt)
        val i = (idx / ecos.size).toInt
        val src = s"$eco:${SyntheticRepoFiles.pkgName(eco, i)}"
        SyntheticRepoFiles.versionsOf(cfg, eco, i)
          .flatMap(v => SyntheticRepoFiles.depsOf(cfg, eco, i, v))
          .map { case (dep, _) => (src, s"$eco:$dep") }
      }.toDF("srcPackageId", "dstPackageId").distinct()
        .write.mode("overwrite").parquet(s"$dir/pp")
    }

    def prepare(spark: SparkSession, cfg: Config, dir: String): Unit = {
      val named = spark.read.parquet(s"$dir/pp").collect().toSeq.map(r => (r.getString(0), r.getString(1)))
      // the engine's dictionary numbers the sorted distinct vertex names densely
      dictWant = named.flatMap(e => Seq(e._1, e._2)).distinct.sorted.zipWithIndex
        .map { case (v, i) => v -> i.toLong }.toMap
      val edges = named.map(e => (dictWant(e._1), dictWant(e._2)))
      edgesWant = edges.groupBy(identity).view.mapValues(_.size).toMap
      val g = Reference.graph(edges)
      vertices = g.n
      prWant = Reference.pageRank(g, PrIters)
      ckptWant = Reference.pageRank(g, CkptIters)
      ccWant = Reference.components(g)
      lpWant = Reference.labelPropagation(g, LpIters)
      triWant = Reference.triangles(g)
      sccWant = Reference.scc(g)
    }

    def pass(r: Runner, dir: String): Unit = {
      val spark = r.spark
      // the warm-up runs every call with fewer rounds: the kernels are
      // job-bound, so a full-length warm-up would cost as much as a pass
      val (prIters, ckptIters, lpIters, hitsIters) =
        if (r.warm) (2, 1, 1, 2) else (PrIters, CkptIters, LpIters, HitsIters)
      val ckpt = s"$dir/ckpt"
      deleteTree(ckpt)
      val (e, dict) = r.step("graph.index") {
        val (e0, d) = GraphOps.indexEdges(spark, spark.read.parquet(s"$dir/pp"), "srcPackageId", "dstPackageId")
        (e0.localCheckpoint(true), d)
      }
      lazy val gotDict = dict.collect().iterator.map(x => x.getString(0) -> x.getLong(1)).toMap
      lazy val gotEdges = e.collect().toSeq.map(x => (x.getLong(0), x.getLong(1))).groupBy(identity)
        .view.mapValues(_.size).toMap
      r.check("index", (if (gotDict != dictWant) Seq("vertex dictionary differs") else Nil) ++
        (if (gotEdges != edgesWant) Seq("indexed edge multiset differs") else Nil))

      val (pr, ranks) = r.step("graph.pagerank") {
        val res = GraphOps.pageRank(spark, e, prIters); (res, doublePairs(res.ranks))
      }
      r.check("pagerank", allClose("rank", ranks, prWant, 1e-6))
      val (cc, comps) = r.step("graph.cc") {
        val res = GraphOps.connectedComponentsResult(spark, e, checkpointDir = Some(s"$ckpt/cc"))
        (res, longPairs(res.components))
      }
      r.check("components_ckpt", sameMap("component", comps, ccWant))
      val (lp, labels) = r.step("graph.lp") {
        val res = GraphOps.labelPropagationResult(spark, e, lpIters); (res, longPairs(res.labels))
      }
      r.check("labelprop", sameMap("label", labels, lpWant))
      val tri = r.step("graph.triangles")(GraphOps.triangleCount(spark, e)._1)
      r.check("triangles", if (tri != triWant) Seq(s"$tri triangles, expected $triWant") else Nil)
      val (stats, scc) = r.step("graph.scc") {
        val (df, st) = GraphOps.sccResult(spark, e); (st, longPairs(df))
      }
      r.check("scc", sameMap("scc", scc, sccWant))
      val hits = r.step("graph.hits") {
        GraphOps.hits(spark, e, hitsIters).collect().map(x => (x.getLong(0), x.getDouble(1), x.getDouble(2)))
      }
      val (hubSum, authSum) = (hits.map(_._2).sum, hits.map(_._3).sum)
      r.check("hits",
        (if (hits.length != vertices) Seq(s"${hits.length} vertices, expected $vertices") else Nil) ++
          (if (!hits.forall(h => java.lang.Double.isFinite(h._2) && java.lang.Double.isFinite(h._3)))
            Seq("non-finite score") else Nil) ++
          (if (math.abs(hubSum - 1) > 1e-9 || math.abs(authSum - 1) > 1e-9)
            Seq(s"scores not L1-normalized: hub $hubSum, authority $authSum") else Nil))
      val ckptRanks = r.step("graph.checkpoint") {
        doublePairs(GraphOps.pageRank(spark, e, ckptIters, checkpointDir = Some(s"$ckpt/pr")).ranks)
      }
      r.check("pagerank_ckpt", allClose("rank", ckptRanks, ckptWant, 1e-6))
      val bytes = dirBytes(s"$ckpt/pr")
      val (resumed, resumedRanks) = r.step("graph.resume") {
        val res = GraphOps.resumePageRank(spark, e, prIters, s"$ckpt/pr"); (res, doublePairs(res.ranks))
      }
      // the resumed run must equal an uninterrupted PageRank(PrIters)
      r.check("resume", allClose("rank", resumedRanks, prWant, 1e-6) ++
        (if (resumed.supersteps != prIters) Seq(s"resumed to ${resumed.supersteps}") else Nil))
      deleteTree(ckpt)

      val loopS = pr.metrics.map(_.millis).sum / 1e3
      r.pass.values ++= Seq(
        "pagerank_supersteps_per_min" -> pr.supersteps / loopS * 60,
        "edges_scanned_per_s" -> pr.metrics.map(_.edgesScanned).sum / loopS,
        "graph.scc.trim_rounds" -> stats.trimRounds.toDouble,
        "graph.scc.color_iters" -> stats.colorIters.toDouble,
        "graph.scc.back_iters" -> stats.backIters.toDouble,
        "graph.checkpoint.bytes_written" -> bytes.toDouble)
      r.pass.values ++= kernelValues("graph.pagerank", r.pass.walls("graph.pagerank"), pr.metrics.map(_.millis), "supersteps", pr.supersteps)
      r.pass.values ++= kernelValues("graph.cc", r.pass.walls("graph.cc"), cc.metrics.map(_.millis), "rounds", cc.rounds)
      r.pass.values ++= kernelValues("graph.lp", r.pass.walls("graph.lp"), lp.metrics.map(_.millis), "supersteps", lp.supersteps)
      r.pass.digests("lp_labels") = Reference.digest(labels.map { case (v, l) => (v.toString, l.toString) }).toString
    }
  }

  /** Kernel set-up (wall minus loop), loop time and round count of one call. */
  def kernelValues(layer: String, wall: Double, stepMillis: Seq[Long], roundName: String,
                   rounds: Int): Seq[(String, Double)] = {
    val loop = stepMillis.sum / 1e3
    Seq(s"$layer.setup_s" -> (wall - loop), s"$layer.loop_s" -> loop, s"$layer.$roundName" -> rounds.toDouble)
  }

  val Workloads: Map[String, Workload] = Map("ingest" -> Ingest, "graph" -> Graph)

  // -------------------------------------------------------------------- main

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val o = Opts(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      need("work"), need("cores").toInt)
    require(Workloads.contains(o.workload), s"unknown workload ${o.workload}; one of ${Workloads.keys.mkString(", ")}")
    require(o.seconds > 0 && o.cores > 0, "--seconds and --cores must be positive")
    o
  }

  def session(o: Opts): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName("linkbench")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest percentile with at least ten samples above it, else the maximum. */
  def highPercentile(xs: Seq[Double]): (String, Double) = {
    val s = xs.sorted
    Seq(99, 95, 90).find(q => s.size * (100 - q) / 100.0 >= 10) match {
      case Some(q) => (s"p$q", s(math.min(s.size - 1, math.ceil(s.size * q / 100.0).toInt - 1)))
      case None => ("max", s.last)
    }
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val w = Workloads(o.workload)
    val problems = mutable.ArrayBuffer.empty[String]
    val t0 = System.nanoTime()
    val spark = session(o)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val r = new Runner(spark, problems)
    val listener = new LayerListener
    if (o.trace) spark.sparkContext.addSparkListener(listener)
    var exit = 0
    try {
      def since(t: Long) = (System.nanoTime() - t) / 1e9
      val cfg = Config(packagesPerEco = w.packages, seed = o.seed)
      val dir = s"${o.work}/input"
      val setups = (1 to SetupReps).map { _ =>
        val s0 = System.nanoTime()
        w.setup(spark, cfg, dir)
        (System.nanoTime() - s0) / 1e9
      }

      // Warm-up on a slice of the input: JIT, codegen and class loading are
      // paid once per JVM; without this pass the first timed pass absorbs them.
      val tw = System.nanoTime()
      val warmDir = s"${o.work}/warm"
      spark.read.parquet(s"$dir/${w.input}").limit(WarmRows).write.parquet(s"$warmDir/${w.input}")
      r.warm = true
      w.pass(r, warmDir)
      r.warm = false
      spark.catalog.clearCache()
      val warmS = since(tw)

      val tp = System.nanoTime()
      w.prepare(spark, cfg, dir)
      val prepareS = since(tp)

      val passes = mutable.ArrayBuffer.empty[Pass]
      val (jit0, gc0) = (jitMillis(), gcMillis())
      val m0 = System.nanoTime()
      def elapsed = (System.nanoTime() - m0) / 1e9
      while (elapsed < o.seconds || passes.size < math.max(w.minPasses, if (o.trace) 2 else 1)) {
        r.pass = new Pass(o.trace && passes.size % 2 == 1)
        if (r.pass.traced) listener.reset()
        w.pass(r, dir)
        if (r.pass.traced) { listener.drain(spark.sparkContext); r.pass.counts = listener.snapshot() }
        spark.catalog.clearCache()
        System.gc() // lets the context cleaner drop the kernels' local checkpoints
        passes += r.pass
      }

      val untraced = passes.filterNot(_.traced).toSeq
      val traced = passes.filter(_.traced).toSeq
      val attempted = passes.map(_.attempted).sum
      var failed = passes.map(_.failed).sum
      val setupS = sessionS + median(setups)

      // human-readable table: every end-to-end figure with its spread
      println(s"linkbench workload=${o.workload} seed=${o.seed} cores=${o.cores} " +
        s"passes=${passes.size} (traced ${traced.size}) corpus=${cfg.packagesPerEco} packages/ecosystem " +
        s"input=${spark.read.parquet(s"$dir/${w.input}").count()} ${w.input} rows")
      println(f"${"metric"}%-30s ${"unit"}%-6s ${"median"}%12s ${"high"}%16s ${"n"}%4s")
      def row(name: String, unit: String, xs: Seq[Double]): Unit = {
        val (q, v) = highPercentile(xs)
        println(f"$name%-30s $unit%-6s ${median(xs)}%12.4f ${s"$q=${"%.4f".format(v)}"}%16s ${xs.size}%4d")
      }
      row("setup_s", "s", Seq(setupS))
      row("setup_data_s", "s", setups)
      row("session_s", "s", Seq(sessionS))
      val ops = w.ops.map { case (name, ls) => name -> untraced.map(p => ls.map(p.walls.getOrElse(_, 0.0)).sum) }
      ops.foreach { case (name, xs) => row(name, "s", xs) }
      row(w.total, "s", untraced.map(_.workloadS))
      w.rates.foreach { case (n, u) => row(n, u, untraced.map(_.values(n))) }
      for ((d, v) <- passes.head.digests) {
        val same = passes.forall(_.digests.get(d).contains(v))
        if (!same) { problems += s"$d digest differs between passes"; failed += 1 }
        println(s"digest $d: $v${if (same) "" else " (DIFFERS between passes)"}")
      }
      println(s"operations: attempted=$attempted failed=$failed")
      println(f"phases: session $sessionS%.1f s, warm-up $warmS%.1f s, set-up ${setups.sum}%.1f s, " +
        f"references $prepareS%.1f s, passes ${since(m0)}%.1f s " +
        f"(JIT compiling ${(jitMillis() - jit0) / 1e3}%.1f s, GC ${(gcMillis() - gc0) / 1e3}%.1f s)")

      val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
      if (!o.trace) {
        metrics("setup_s") = (setupS, "s")
        metrics("workload_s") = (median(untraced.map(_.workloadS)), "s")
      } else {
        val all = layerMetrics(traced)
        metrics ++= all.filter { case (n, _) => reported(n) }
        val tracedS = median(traced.map(_.workloadS))
        val untracedS = median(untraced.map(_.workloadS))
        metrics("trace.overhead_share") = (tracedS / untracedS - 1, "ratio")
        val layerSum = Layers.map(l => median(traced.map(_.walls.getOrElse(l, 0.0)))).sum
        val share = layerSum / untracedS
        println(f"layer walls sum to $layerSum%.3f s against workload_s $untracedS%.3f s " +
          f"(${share * 100}%.1f%%): ${if (math.abs(share - 1) <= 0.10) "reconciled within 10%" else "NOT reconciled within 10%"}")
        println(f"tracing overhead: traced pass $tracedS%.3f s, untraced pass $untracedS%.3f s")
        all.foreach { case (n, (v, u)) => println(f"  $n%-40s $v%16.4f $u") }
      }
      problems.foreach(p => System.err.println(s"CHECK FAILED $p"))
      val correct = problems.isEmpty
      if (!correct) exit = 1
      println(json(correct, attempted, failed, metrics.toSeq))
    } catch {
      case e: Throwable =>
        System.err.println(s"linkbench: ${o.workload} aborted: $e")
        e.printStackTrace(System.err)
        exit = 2
    } finally {
      spark.stop()
    }
    sys.exit(exit)
  }

  /** Per-layer counters of the traced passes, each the median over passes. */
  def layerMetrics(traced: Seq[Pass]): Seq[(String, (Double, String))] = {
    def med(f: Pass => Double) = median(traced.map(f))
    val empty = LayerCounts(0, 0, 0, 0, 0, 0, 0.0, 0.0, 0.0, 0, 0, 0)
    def counts(l: String, p: Pass) = p.counts.getOrElse(l, empty)
    val perLayer = Layers.flatMap { l =>
      def c(p: Pass) = counts(l, p)
      def wall(p: Pass) = p.walls.getOrElse(l, 0.0)
      Seq(
        s"$l.wall_s" -> (med(wall), "s"),
        s"$l.jobs" -> (med(c(_).jobs.toDouble), "count"),
        s"$l.stages" -> (med(c(_).stages.toDouble), "count"),
        s"$l.tasks" -> (med(c(_).tasks.toDouble), "count"),
        s"$l.shuffle_read_bytes" -> (med(c(_).shuffleReadBytes.toDouble), "bytes"),
        s"$l.shuffle_write_bytes" -> (med(c(_).shuffleWriteBytes.toDouble), "bytes"),
        s"$l.spill_bytes" -> (med(c(_).spillBytes.toDouble), "bytes"),
        s"$l.executor_run_s" -> (med(c(_).executorRunS), "s"),
        s"$l.driver_gap_s" -> (med(p => math.max(0.0, wall(p) - c(p).jobBusyS)), "s"),
        s"$l.task_skew" -> (med(c(_).taskSkew), "ratio"),
        s"$l.failed_tasks" -> (med(c(_).failedTasks.toDouble), "count"))
    }
    def total(f: LayerCounts => Long) = med(_.counts.values.map(f).sum.toDouble)
    perLayer ++ Seq(
      // the repo-file scan runs inside mine.parse's job; later layers' input
      // counters would count cached-block reads
      "sources.input_records" -> (med(counts("mine.parse", _).inputRecords.toDouble), "count"),
      "sources.input_bytes" -> (med(counts("mine.parse", _).inputBytes.toDouble), "bytes"),
      "trace.tasks" -> (total(_.tasks), "count"),
      "trace.spill_bytes" -> (total(_.spillBytes), "bytes"),
      "trace.failed_tasks" -> (total(_.failedTasks), "count")
    ) ++ ExtraValues.map { case (n, u) => n -> (med(_.values.getOrElse(n, 0.0)), u) }
  }

  /** Whether a traced metric goes into the JSON result, which holds at most
    * 128 per-layer metrics; the table prints all of them. Per-layer task,
    * spill and failed-task counts go in as totals, and `sources`, whose only
    * job is the parquet schema read, reports its wall and input counters. */
  def reported(name: String): Boolean =
    !Seq(".tasks", ".spill_bytes", ".failed_tasks").exists(s => name.endsWith(s) && !name.startsWith("trace.")) &&
      (!name.startsWith("sources.") || Set("sources.wall_s", "sources.input_records", "sources.input_bytes")(name))

  /** Layer-specific values the workloads record, with their units. */
  val ExtraValues: Seq[(String, String)] = Seq(
    "mine.parse.manifest_share" -> "ratio", "mine.parse.quarantine_share" -> "ratio",
    "resolve.spec_share" -> "ratio", "resolve.aa_per_ap" -> "ratio",
    "graph.pagerank.setup_s" -> "s", "graph.pagerank.loop_s" -> "s", "graph.pagerank.supersteps" -> "count",
    "graph.cc.setup_s" -> "s", "graph.cc.loop_s" -> "s", "graph.cc.rounds" -> "count",
    "graph.lp.setup_s" -> "s", "graph.lp.loop_s" -> "s", "graph.lp.supersteps" -> "count",
    "graph.scc.trim_rounds" -> "count", "graph.scc.color_iters" -> "count", "graph.scc.back_iters" -> "count",
    "graph.checkpoint.bytes_written" -> "bytes")

  def json(correct: Boolean, attempted: Int, failed: Int, metrics: Seq[(String, (Double, String))]): String = {
    val ms = metrics.map { case (n, (v, u)) =>
      val num = if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
      s""""$n": {"value": $num, "unit": "$u"}"""
    }.mkString(", ")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$ms}}"""
  }
}
