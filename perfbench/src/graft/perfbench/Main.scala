package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import graft.Bench
import graft.pipeline.{IndexArtifacts, Ivf}

/** The session every run measures: `local[N]` with N shuffle partitions,
  * the UTC and parquet settings the engine's mains use, and every local
  * directory inside the run's work directory. */
object Session {
  def build(cores: Int, workDir: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s.sparkContext.setCheckpointDir(s"$workDir/checkpoints")
    s
  }
}

/** JSON output (result line, side file, golden file): Jackson with its
  * Scala module, so maps and sequences serialize as objects and arrays. */
object Json {
  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def apply(v: Any): String = mapper.writeValueAsString(v)
}

/** Benchmark entry point: one workload, one seed, one closed-loop client.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      --data <dir> --work <dir> --csv <field_mappings.csv> --size <full|tiny>
  *      [--golden <file>] [--golden-out <file>] [--side <file>]
  * }}}
  *
  * A run: generate the seeded inputs; set up the session (`setup_s` is
  * the time from JVM start until the session has made its first touch,
  * less the untimed input generation and CPU probe); run the cold pass
  * (for `adhoc_sf0.1`, the index build first); then run warm passes over
  * the operation list, each in an order drawn from the seed, until
  * `--seconds` have passed. One driver thread issues the operations, each
  * after the previous one returns. Every output is checked, untimed. The
  * last stdout line is the result object.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      data: String, work: Path, csv: Path, size: String, golden: Option[Path],
      goldenOut: Option[Path], side: Option[Path])

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      need("data"), Paths.get(need("work")), Paths.get(need("csv")), m.getOrElse("size", "full"),
      m.get("golden").map(Paths.get(_)), m.get("golden-out").map(Paths.get(_)),
      m.get("side").map(Paths.get(_)))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    // Work inside the set-up interval that is not set-up: the CPU probe
    // and the generation of this run's inputs.
    var untimedNs = 0L
    def untimed[T](body: => T): T = {
      val t0 = System.nanoTime()
      try body finally untimedNs += System.nanoTime() - t0
    }
    Files.createDirectories(a.work)
    val cores = Runtime.getRuntime.availableProcessors()
    val tiny = a.size == "tiny"
    val probeStart = untimed(Bench.probeMs())
    val wl = Suite.workload(a.workload, tiny, a.csv, a.golden.map(Golden.read).getOrElse(Golden.empty))
    // Wall-clock marks of the run's stages, for the side file.
    val marks = ArrayBuffer("jvm_start" -> jvmStartMs)
    def mark(stage: String): Unit = marks += stage -> System.currentTimeMillis().toDouble
    mark("main")
    untimed(wl.prepare(a.seed, a.work))
    mark("prepared")

    // Set-up: the session and the workload's first touch of it.
    val spark = Session.build(cores, a.work.toString)
    wl.warmup(new Ctx(spark, new Spans(spark.sparkContext), a.data, a.work))
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3 - untimedNs / 1e9
    Ivf.clearModelCache()
    mark("set_up")

    val spans = new Spans(spark.sparkContext)
    val listener = new JobListener
    if (a.trace) {
      spark.sparkContext.addSparkListener(listener)
      spark.listenerManager.register(listener)
    }
    val ctx = new Ctx(spark, spans, a.data, a.work)
    var attempted = 0
    var failed = 0
    val checks = ArrayBuffer.empty[CheckResult]
    val last = scala.collection.mutable.Map.empty[String, Any]
    def attempt(op: Op): Unit = {
      attempted += 1
      try {
        val out = spans("op", op.name, op.layer)(op.run(ctx))
        last(op.name) = out
        wl.verify(op.name, out).foreach { c =>
          if (!c.ok) { failed += 1; checks += c }
        }
      } catch { case e: Throwable =>
        failed += 1
        checks += CheckResult(op.name, ok = false, e.toString)
      }
    }

    spans("run", a.workload) {
      // The cold pass: the index build (adhoc only), then the first
      // pass over the operations in the fresh session.
      spans.tracing = a.trace
      wl.betweenPasses(ctx, "cold")
      spans("cold", "cold_pass") {
        spans("cold_start", "index_build")(wl.coldOps.foreach(attempt))
        new Random(a.seed * 1000003L).shuffle(wl.ops).foreach(attempt)
      }
      // Warm passes until the time is up, and at least the workload's
      // minimum; traced runs alternate untraced and traced passes, so one
      // process measures both sides of the tracing overhead.
      val loopStart = System.nanoTime()
      val minPasses = if (a.trace) math.max(4, wl.minPasses) else wl.minPasses
      var pass = 1
      while (pass <= minPasses || System.nanoTime() - loopStart < a.seconds * 1e9) {
        spans.tracing = false
        wl.betweenPasses(ctx, pass.toString)
        spans.tracing = a.trace && pass % 2 == 0
        val order = new Random(a.seed * 1000003L + pass).shuffle(wl.ops)
        spans("pass", s"pass$pass")(order.foreach(attempt))
        pass += 1
      }
      spans.tracing = false
    }
    mark("measured")
    if (a.trace) org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

    // Outputs the last pass left behind: a failed check fails every
    // execution of that operation.
    val endChecks = wl.check(ctx, last.toMap)
    val badOps = endChecks.filterNot(_.ok).map(_.name).toSet
    failed += spans.all.count(s => s.kind == "op" && badOps(s.name))
    checks ++= endChecks
    checks.filterNot(_.ok).foreach(c => System.err.println(s"[perfbench] check ${c.name} FAILED: ${c.detail}"))
    a.goldenOut.foreach { p =>
      Golden.write(p, last.collect { case (q, d: DigestSink.Digest) => q -> d }.toMap)
    }
    mark("checked")
    val sizes = wl.sizes(ctx, last.toMap)
    val probeEnd = Bench.probeMs()

    val report = new Metrics(spans, listener, cores, sizes, wl.indexConsumers)
    val endToEnd = report.endToEnd(setupS)
    val perLayer =
      if (a.trace) report.perLayer(probeStart, probeEnd)
      else Map.empty[String, (Double, String)]
    a.side.foreach { p =>
      Files.createDirectories(p.getParent)
      Files.writeString(p, report.sideFile(a.workload, a.seed, cores, endToEnd, perLayer,
        checks.toSeq, probeStart, probeEnd, attempted, failed, marks.toSeq) + "\n")
    }
    try spark.stop() catch { case _: Throwable => () }

    val metrics = (if (a.trace) perLayer else endToEnd).toSeq.sortBy(_._1).map { case (k, (v, u)) =>
      k -> ListMap("value" -> v, "unit" -> u)
    }
    println(Json(ListMap("correct" -> (failed == 0), "attempted" -> attempted, "failed" -> failed,
      "metrics" -> ListMap(metrics: _*))))
    System.out.flush()
  }
}

/** The workloads and their operation lists. */
object Suite {
  def layerOf(q: String): String = {
    def in(defs: Seq[graft.QueryDef]) = defs.exists(_.name == q)
    if (in(graft.queries.Relational.defs) || in(graft.queries.AsOf.defs)) "queries"
    else if (in(graft.streaming.Windows.defs) || in(graft.streaming.IngestGate.defs)) "streaming"
    else "pipeline"
  }

  /** Registered names by prefix (`x01` resolves to `x01_quality_score`). */
  def resolve(prefixes: Seq[String]): Seq[String] = prefixes.map { p =>
    graft.SparkEntry.queries.keys.find(n => n == p || n.startsWith(p + "_"))
      .getOrElse(throw new IllegalArgumentException(s"no registered query $p"))
  }

  /** One pass takes a few seconds, so a run holds several: Relational
    * (`queries`), Windows and IngestGate (`streaming`), two cheap text-map
    * lines (x19, whose sort runs before its projection, and x04, where
    * that order was reverted), and x60, which ranks the b28 candidate-pair
    * graph (driver or distributed PageRank, chosen by graph size). */
  val AdhocQueries: Seq[String] = resolve(Seq("b05", "b12", "b31", "x57", "x19", "x04", "x60"))

  /** The index artifact x60 reads, built cold at the start of a run. */
  val AdhocBuilds: Seq[String] = Seq("idx_b28_pairs")

  /** The operations that read a built index artifact: the consumers
    * `index.memo_reuse` counts. */
  val AdhocConsumers: Seq[String] = resolve(Seq("x60"))

  def workload(name: String, tiny: Boolean, csv: Path, golden: Golden): Workload = name match {
    // A quarter of the reference's 12,543 records keeps a run within its time.
    case "fmp_etl" => new FmpEtlWorkload(csv, if (tiny) 200 else 3136)
    case "adhoc_sf0.1" =>
      new QueryWorkload(AdhocQueries, layerOf, golden,
        IndexArtifacts.builds.filter(b => AdhocBuilds.contains(b._1)), AdhocConsumers.toSet)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}
