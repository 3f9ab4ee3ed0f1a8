package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.{Ckpt, Sessions, SparkEntry}
import graft.mr.{MRApps, MRRunner, MapReduceJob}
import graft.sources.TextSources

/** The benchmark's program: one workload, one client, one operation at a
  * time (a closed loop), on a `local[cpus]` session.
  *
  *   Main workload=<name> seed=<n> seconds=<s> trace=<0|1> cpus=<n>
  *        data=<catalog dir> digests=<file> corpus=<dir> out=<dir>
  *
  * It sets up, runs whole passes over the workload for about `seconds`,
  * checks every output, and writes `result.json` into `out`. With
  * `trace=1` it alternates untraced and traced passes: the traced ones
  * give the per-layer numbers and the difference of the two medians is
  * the tracing overhead. Spans and a per-layer table go to `out` too.
  */
object Main {
  /** The catalog objects the slice and the per-object pass times cover:
    * the relational core, statistics, text analysis, deduplication and
    * graph families.
    */
  val CatalogObjects: Seq[(String, Map[String, SparkEntry.Q])] = Seq(
    "Relational" -> graft.ops.Relational.queries, "Stats" -> graft.ops.Stats.queries,
    "TextAnalysis" -> graft.ops.TextAnalysis.queries, "Dedup" -> graft.ops.Dedup.queries,
    "Graph" -> graft.ops.Graph.queries)

  /** Two queries per object in [[CatalogObjects]], all from the fastest
    * quarter of that object's queries in a warm catalog pass at sf0.01 on
    * 4 cores. Ten distinct queries give the latency median a spread of
    * query shapes, and fast ones keep a pass near 2.5 s. Four of them read
    * memoized entries: the graph pair reads the near-duplicate graph
    * (with the MinHash entries it is built from), dedup_semantic and
    * text_vocab_coverage their own; the memo-filling pass makes eight
    * builds. The slice leaves out the queries on the dedup clustering
    * memos, whose iterative builds would lengthen the set-up.
    */
  val CatalogSlice: Seq[String] = Seq(
    "array_funcs", "date_funcs", "stats_moments", "stats_mode", "text_fingerprint",
    "text_vocab_coverage", "dedup_exact", "dedup_semantic", "graph_communities", "graph_triangles")

  /** The MR jobs of one mr_corpus pass: each reference app through the CLI
    * path (RDD secondary sort + text sink) and the catalog path
    * (Catalyst-native secondary sort + text sink).
    */
  val MrOps: Seq[(String, String)] =
    for (app <- Seq("wc", "indexer"); path <- Seq("rdd", "native")) yield (app, path)

  /** Untimed passes before the timed ones (after the memo-filling pass on
    * the catalog), so that timed passes run on JIT-compiled code rather
    * than through the steepest part of its warm-up.
    */
  val WarmupPasses = 2

  /** Size of the generated corpus. */
  val CorpusBytes: Long = 4L << 20

  /** One timed pass: its time, each operation's latency, the memo builds
    * it made and, when traced, its per-layer numbers.
    */
  final case class Pass(traced: Boolean, seconds: Double, latencies: Seq[Double], builds: Int,
      buildS: Double, layers: Map[String, Double])

  final class Run(val spark: SparkSession, val cpus: Int) {
    var tracer: Option[Tracer] = None
    var attempted = 0
    val failures  = mutable.ArrayBuffer[String]()

    def phase[T](kind: String, name: String)(body: => T): T =
      tracer.fold(body)(_.span(kind, name)(body))

    /** Run one operation, then check its result; returns its latency in
      * seconds. The clock stops when the operation returns, so the check
      * is not timed.
      */
    def op[T](name: String)(body: => T)(check: T => Option[String]): Double = {
      attempted += 1
      val t0 = System.nanoTime()
      var t1 = t0
      val err =
        try {
          val r = try phase("query", name)(body) finally t1 = System.nanoTime()
          check(r)
        } catch { case NonFatal(e) => Some(s"threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
      err.foreach(e => failures += s"$name: ${e.take(300)}")
      (t1 - t0) / 1e9
    }
  }

  def main(argv: Array[String]): Unit = {
    val jvmBootS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val a        = argv.map(_.split("=", 2)).collect { case Array(k, v) => k -> v }.toMap
    val workload = a("workload")
    val seed     = a("seed").toLong
    val seconds  = a("seconds").toDouble
    val traced   = a("trace") == "1"
    val cpus     = a("cpus").toInt
    val out      = Paths.get(a("out"))
    require(Set("catalog_warm", "mr_corpus").contains(workload), s"unknown workload $workload")
    Files.createDirectories(out)

    val setup = mutable.LinkedHashMap[String, Double]("jvm_boot_s" -> jvmBootS)
    val (spark, startS) = Stats.timed(Sessions.local(cpus.toString))
    setup("Sessions.start_s") = startS
    setup("first_job_s") = Stats.timed(spark.range(1000000).selectExpr("sum(id)").collect())._2
    val calibStart = Calib.probe(spark, cpus)
    val run        = new Run(spark, cpus)
    val w: Workload =
      if (workload == "mr_corpus") new MrCorpus(run, seed, Paths.get(a("corpus")), out)
      else new CatalogWarm(run, seed, a("data"), Paths.get(a("digests")))
    w.setup(setup)
    val setupS      = setup.values.sum
    val setupBuilds = Ckpt.buildLog

    // timed passes; with tracing, odd passes are traced and the run makes
    // at least three, so a traced pass sits between two untraced ones
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val passes   = mutable.ArrayBuffer[Pass]()
    val tracer   = if (traced) Some(new Tracer(spark)) else None
    def more: Boolean = {
      val left = (deadline - System.nanoTime()) / 1e9
      val est  = if (passes.isEmpty) 0.0 else passes.map(_.seconds).sum / passes.size
      passes.size < (if (traced) 3 else 2) || left > est / 2
    }
    while (more) {
      val tracedPass = traced && passes.size % 2 == 1
      val (b0, bs0) = (Ckpt.buildLog.size, Ckpt.buildLog.map(_._2).sum)
      run.tracer = if (tracedPass) tracer else None
      tracer.filter(_ => tracedPass).foreach(_.start())
      var passId = 0
      val (lat, passS) = Stats.timed(run.phase("pass", s"pass ${passes.size}") {
        passId = tracer.filter(_ => tracedPass).map(_.currentId).getOrElse(0)
        w.pass()
      })
      val layers = tracer.filter(_ => tracedPass).map { t =>
        t.stop(); t.passLayers(passId, w.objectOf)
      }.getOrElse(Map.empty)
      run.tracer = None
      val log    = Ckpt.buildLog
      val builds = log.size - b0
      if (w.memoWarm && builds > 0)
        run.failures += s"pass ${passes.size}: $builds memo builds in a timed pass; memoized entries were evicted"
      passes += Pass(tracedPass, passS, lat, builds, log.map(_._2).sum - bs0, layers)
    }

    val storageMb = spark.sparkContext.getExecutorMemoryStatus.values
      .map { case (max, left) => (max - left).toDouble }.sum / (1 << 20)
    val heapMb = {
      // the second collection follows the context cleaner's release of
      // the broadcast and shuffle blocks the first one found unreachable
      val rt = Runtime.getRuntime
      System.gc(); Thread.sleep(1000); System.gc()
      (rt.totalMemory - rt.freeMemory).toDouble / (1 << 20)
    }
    val extra     = if (traced) w.layerProbes() else Map.empty[String, Double]
    val calibEnd  = Calib.probe(spark, cpus)
    spark.stop()

    // end-to-end metrics from the untraced passes
    val plain = passes.filterNot(_.traced)
    val lat   = plain.flatMap(_.latencies).toSeq
    val e2e = mutable.LinkedHashMap[String, Double](
      "setup_s"     -> setupS,
      "pass_s"      -> Stats.median(plain.map(_.seconds).toSeq),
      "query_p50_s" -> Stats.quantile(lat, 0.5),
      "heap_mb"     -> heapMb)
    val failedFrac = run.failures.size.toDouble / math.max(1, run.attempted)

    // per-layer metrics: medians over the traced passes, plus run-level probes
    val tp = passes.filter(_.traced).toSeq
    val layer = mutable.LinkedHashMap[String, Double]()
    if (traced) {
      val names = (LayerNames ++ tp.flatMap(_.layers.keys)).distinct
      for (n <- names) layer(n) = Stats.median(tp.map(_.layers.getOrElse(n, 0.0)))
      layer("Ckpt.builds")      = Stats.median(tp.map(_.builds.toDouble))
      layer("Ckpt.storage_mb")  = storageMb
      layer("Ckpt.setup_builds") = setupBuilds.size
      layer("Ckpt.setup_build_s") = setupBuilds.map(_._2).sum
      layer("Sessions.start_s") = startS
      for (k <- Calib.Names) layer(k) = Stats.median(Seq(calibStart(k), calibEnd(k)))
      for ((k, v) <- extra) layer(k) = v
      layer("trace.pass_s")      = Stats.median(tp.map(_.seconds))
      layer("trace.overhead_s")  = layer("trace.pass_s") - e2e("pass_s")
      tracer.foreach(t => Report.writeTrace(out, s"$workload seed $seed", t, layer))
    }

    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
      "cpus" -> cpus, "attempted" -> run.attempted, "failed" -> run.failures.size,
      "failed_frac" -> failedFrac, "failures" -> run.failures.toSeq,
      "end_to_end" -> e2e, "per_layer" -> layer, "setup" -> setup,
      "calib" -> Map("start" -> calibStart, "end" -> calibEnd),
      "setup_builds" -> setupBuilds.map { case (k, s) => Map("key" -> k, "build_s" -> s) },
      "passes" -> passes.map(p => Map("traced" -> p.traced, "pass_s" -> p.seconds,
        "ckpt_builds" -> p.builds, "ckpt_build_s" -> p.buildS, "latencies" -> p.latencies)),
      "samples" -> lat.size, "latency_p75_s" -> Stats.quantile(lat, 0.75),
      "latency_p90_s" -> Stats.quantile(lat, 0.9), "ops" -> w.describe)
    Files.write(out.resolve("result.json"), (Stats.json(result) + "\n").getBytes(UTF_8))
  }

  /** Per-layer names every traced run reports, 0 where the layer did no work. */
  val LayerNames: Seq[String] = Seq(
    "ops.build_s", "ops.build_jobs", "catalyst.plan_s", "exec.jobs", "exec.stages", "exec.tasks",
    "exec.idle_s", "exec.task_s", "exec.gc_s", "exec.input_mb", "exec.shuffle_write_mb",
    "exec.shuffle_read_mb", "exec.spill_mb", "exec.skew", "mr.shuffle_records", "plans.sort_s",
    "mr.map_ns_per_byte", "mr.reduce_ns_per_value", "sources.read_s", "sources.write_s") ++
    CatalogObjects.map { case (o, _) => s"ops.$o.pass_s" }
}

/** Fixed-work probes run at the start and end of every run, so that load
  * from other tenants of the machine shows in the result.
  */
object Calib {
  val Names = Seq("calib.cpu_loop_s", "calib.range_sum_s", "exec.empty_job_ms")
  @volatile private var sink = 0L

  private def cpuLoop(): Double = Stats.timed {
    var x = 1L
    var i = 0
    while (i < 50000000) { x = x * 6364136223846793005L + 1442695040888963407L; x ^= x >>> 29; i += 1 }
    sink = x
  }._2

  def probe(spark: SparkSession, cpus: Int): Map[String, Double] = {
    def med(n: Int)(f: => Double) = Stats.median(Seq.fill(n)(f))
    Map(
      "calib.cpu_loop_s"  -> med(3)(cpuLoop()),
      "calib.range_sum_s" -> med(3)(Stats.timed(
        spark.range(0L, 10000000L, 1L, cpus).selectExpr("sum(id)").collect())._2),
      "exec.empty_job_ms" -> med(10)(Stats.timed(
        spark.sparkContext.parallelize(Seq(0), 1).count())._2 * 1e3))
  }
}

/** One workload: its set-up, its passes and its layer probes. */
trait Workload {
  def setup(phases: mutable.LinkedHashMap[String, Double]): Unit
  /** One pass; returns each operation's latency. */
  def pass(): Seq[Double]
  def objectOf(op: String): Option[String] = None
  /** Whether the set-up filled the memo cache, so that a timed pass that
    * builds a memoized entry is a failure.
    */
  def memoWarm: Boolean = false
  def layerProbes(): Map[String, Double] = Map.empty
  def describe: Map[String, Any]
}

/** catalog_warm: the catalog slice in a seeded order. The untimed pass
  * fills the memo cache, so that timed passes read memoized entries; a
  * timed pass that builds one counts as a failure.
  */
final class CatalogWarm(run: Main.Run, seed: Long, dir: String, digests: Path) extends Workload {
  private val spark    = run.spark
  private val queries  = SparkEntry.queries
  private val order    = new scala.util.Random(seed).shuffle(Main.CatalogSlice)
  private val expected = Files.readAllLines(digests, UTF_8).asScala.map(_.split("\t"))
    .collect { case Array(q, d) => q -> d }.toMap
  private val owner =
    Main.CatalogObjects.flatMap { case (o, qs) => qs.keys.map(_ -> o) }.toMap

  override def objectOf(op: String): Option[String] = owner.get(op)
  override def memoWarm: Boolean = true

  def setup(phases: mutable.LinkedHashMap[String, Double]): Unit = {
    phases("fill_pass_s") = Stats.timed(pass())._2
    phases("warmup_s") = Stats.timed(Seq.fill(Main.WarmupPasses)(pass()))._2
  }

  def pass(): Seq[Double] = order.map(q => run.op(q)(query(q))(check(q, _)))

  private def query(q: String): Digest = {
    val df = run.phase("build", q)(queries(q)(spark, dir))
    val dd = run.phase("plan", q) {
      val f = Digest.frame(df)
      f.queryExecution.executedPlan
      f
    }
    Digest.read(run.phase("exec", q)(dd.collect()))
  }

  private def check(q: String, got: Digest): Option[String] =
    expected.get(q) match {
      case Some(e) if e == got.toString => None
      case Some(e)                      => Some(s"digest $got, recorded $e")
      case None                         => Some(s"digest $got, none recorded")
    }

  def describe: Map[String, Any] = Map("slice" -> order, "data" -> dir)
}

/** mr_corpus: the reference apps over the generated corpus, each through
  * the CLI path and the catalog path, checked against the sequential
  * oracle.
  */
final class MrCorpus(run: Main.Run, seed: Long, corpus: Path, out: Path) extends Workload {
  private val spark = run.spark
  private val glob  = corpus.resolve("*.txt").toString
  private var oracle: Map[String, Digest] = Map.empty
  private var files: Seq[(String, String)] = Nil
  private val order = new scala.util.Random(seed).shuffle(Main.MrOps)

  def setup(phases: mutable.LinkedHashMap[String, Double]): Unit = {
    // a cached corpus is reused only if it was made with these parameters
    val done  = corpus.resolve("DONE")
    val stamp = s"seed=$seed bytes=${Main.CorpusBytes} files=${Corpus.FileCount}"
    if (!Files.exists(done) || new String(Files.readAllBytes(done), UTF_8) != stamp) {
      if (Files.exists(corpus)) Files.list(corpus).iterator.asScala.foreach(Files.delete)
      Corpus.generate(corpus, seed, Main.CorpusBytes)
      Files.write(done, stamp.getBytes(UTF_8))
    }
    // the oracle keys documents by the names the program gives them
    val names = TextSources.wholeFiles(spark, glob).select("filename").collect().map(_.getString(0))
    files = names.toSeq.sorted.map { n =>
      val base = n.substring(n.lastIndexOf('/') + 1)
      n -> new String(Files.readAllBytes(corpus.resolve(base)), UTF_8)
    }
    oracle = Seq("wc", "indexer").map(app => app -> Corpus.sequential(MRApps.all(app), files).digest).toMap
    phases("warmup_s") = Stats.timed(Seq.fill(Main.WarmupPasses)(pass()))._2
  }

  def pass(): Seq[Double] = order.map { case (app, path) =>
    val name = s"$app/$path"
    val dest = out.resolve("mr-out").resolve(s"$app-$path").toString
    run.op(name) {
      path match {
        case "rdd" => run.phase("exec", name)(MRRunner.run(spark, app, glob, dest, run.cpus))
        case _ =>
          val res = run.phase("build", name)(
            MapReduceJob.runSecondarySortNative(spark, TextSources.wholeFiles(spark, glob), MRApps.all(app)))
          run.phase("exec", name)(TextSources.writeKV(res, dest))
      }
    } { _ =>
      val got = Digest.ofLines(Files.list(Paths.get(dest)).iterator.asScala
        .filter(_.getFileName.toString.startsWith("part-"))
        .flatMap(p => Files.readAllLines(p, UTF_8).asScala))
      if (got == oracle(app)) None else Some(s"output digest $got, oracle ${oracle(app)}")
    }
  }

  /** Kernel and source probes: the apps' map and streaming reduce called
    * directly on one thread, a scan-only action over the whole-file source,
    * and the text sink writing an already materialized result.
    */
  override def layerProbes(): Map[String, Double] = {
    val runs = Seq("wc", "indexer").map(app => Corpus.sequential(MRApps.all(app), files, timeStream = true))
    val read = Stats.median(Seq.fill(3)(Stats.timed(
      TextSources.wholeFiles(spark, glob).selectExpr("sum(length(contents))", "count(filename)").collect())._2))
    val wc = MapReduceJob.runSecondarySortNative(spark, TextSources.wholeFiles(spark, glob), MRApps.WordCount)
      .localCheckpoint(eager = true)
    val dest  = out.resolve("mr-out").resolve("sink-probe").toString
    val write = Stats.median(Seq.fill(3)(Stats.timed(TextSources.writeKV(wc, dest))._2))
    Map(
      "mr.map_ns_per_byte"     -> runs.map(_.mapNs).sum.toDouble / runs.map(_.bytes).sum,
      "mr.reduce_ns_per_value" -> runs.map(_.reduceNs).sum.toDouble / runs.map(_.values).sum,
      "sources.read_s"         -> read,
      "sources.write_s"        -> write)
  }

  def describe: Map[String, Any] =
    Map("order" -> order.map { case (a, p) => s"$a/$p" }, "corpus_bytes" -> files.map(_._2.getBytes(UTF_8).length.toLong).sum,
      "files" -> files.size)
}

/** Records the digest of every catalog query on the benchmark's data, for
  * the catalog workloads to check against:
  *
  *   Record data=<catalog dir> digests=<file> cpus=<n>
  */
object Record {
  def main(argv: Array[String]): Unit = {
    val a     = argv.map(_.split("=", 2)).collect { case Array(k, v) => k -> v }.toMap
    val spark = Sessions.local(a("cpus"))
    graft.ops.Storage.warmup(spark, a("data"))
    val lines = SparkEntry.queries.toSeq.sortBy(_._1).map { case (q, f) =>
      s"$q\t${Digest.read(Digest.frame(f(spark, a("data"))).collect())}"
    }
    spark.stop()
    Files.write(Paths.get(a("digests")), (lines.mkString("\n") + "\n").getBytes(UTF_8))
  }
}
