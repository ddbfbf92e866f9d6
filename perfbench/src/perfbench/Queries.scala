package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Registered queries (`SparkEntry.queries`) in a closed loop: one cold
  * pass over the workload's query list in a fresh session, then a number of
  * warm passes set by the run's seconds. Every result is collected whole
  * and its digest checked against the expected one.
  */
object Queries {

  /** The store builders whose stores the queries_floor list reads, called
    * in every setup so that no timed query pays for a build. The other
    * public builders (sketch, curation, edge, community and tokenizer
    * stores) are not called: no listed query reads their stores, and each
    * would add its build to every setup of every run. `Kpi.ensureFixtureStore`
    * writes one partition per order and ship date of the fixture (~5,000
    * commits, 68 s on four cores at sf0.001), more than a whole run may
    * take, so the list leaves out the `kpi_*_incremental` queries that read it.
    */
  val builders: Seq[(String, (SparkSession, String) => Any)] = Seq(
    "histstore" -> graft.sources.HistStore.ensureFixture,
    "similarity_codes" -> graft.operators.Similarity.ensureCodes,
    "search_index" -> graft.operators.Search.ensureIndex,
    "graph_bipartite" -> graft.operators.Graph.ensureBipartite)

  /** Nominal seconds of one warm pass, a constant: a run measures
    * `--seconds` / NominalPassS warm passes (and as many traced ones in a
    * traced run) however fast they actually go, so the measured passes sit
    * at the same positions on the JIT warm-up slope in every run of every
    * version of the engine.
    */
  val NominalPassS = 3.3
  def warmPasses(seconds: Int): Int = math.max(1, math.round(seconds / NominalPassS).toInt)

  def readList(p: Path): Seq[String] =
    Files.readAllLines(p).asScala.map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).toSeq

  def readExpected(p: Path): Map[String, String] =
    Files.readAllLines(p).asScala.filter(_.contains("\t"))
      .map { l => val Array(k, v) = l.split("\t", 2); k -> v }.toMap

  /** Copies the fixture's parquet files into `dest` (the run's staging). */
  def stageFixture(src: Path, dest: Path): Unit = {
    Files.createDirectories(dest)
    Files.list(src).iterator().asScala.filter(_.toString.endsWith(".parquet"))
      .foreach(f => Files.copy(f, dest.resolve(f.getFileName)))
  }

  final case class QueryRun(name: String, pass: Int, traced: Boolean, latency: Double, ok: Boolean)

  /** The workload's query list and the fixture it runs on. */
  val ListName = "queries_floor"
  val Sf = "sf0.001"

  final case class Staged(spark: SparkSession, srcDir: String) extends Prepared

  /** Session start, a copy of the fixture, and the store builds. */
  def setup(ctx: Ctx): Staged = {
    val fixture = ctx.benchDir.resolve(s"data/$Sf")
    val fixtureBytes = Files.list(fixture).iterator().asScala.map(Files.size).sum
    val spark = Session.start(ctx.cores, ctx.stageDir.resolve("local").toString, fixtureBytes)
    ctx.tracer.attach(spark)
    val dir = ctx.stageDir.resolve("fixture")
    stageFixture(fixture, dir)
    builders.foreach { case (name, build) =>
      ctx.tracer.span(s"sources.store_build.$name", "setup")(build(spark, dir.toString))
    }
    Staged(spark, dir.toString)
  }

  def run(ctx: Ctx, staged: Staged, setups: Seq[Double]): Outcome = {
    val tr = ctx.tracer
    val queries = readList(ctx.benchDir.resolve(s"workloads/$ListName.txt"))
    val expected = readExpected(ctx.benchDir.resolve(s"expected/$Sf.tsv"))
    val missing = queries.filterNot(q => graft.SparkEntry.queries.contains(q) && expected.contains(q))
    require(missing.isEmpty, s"queries without a registration or an expected digest: $missing")
    ctx.fixtureStamp = Proc.fixtureStamp(ctx.benchDir.resolve(s"data/$Sf"))
    val Staged(spark, srcDir) = staged
    ctx.conf = Session.effectiveConf(spark)
    val reg = graft.SparkEntry.queries
    // every pass runs the list in its own seeded order: a query's latency
    // depends on what ran before it (codegen cache, JIT), and medians over
    // several orders keep one unlucky order from deciding a run
    val rnd = new scala.util.Random(ctx.seed)
    def nextOrder(): Seq[String] = rnd.shuffle(queries)
    val runs = ArrayBuffer.empty[QueryRun]
    val passWall = ArrayBuffer.empty[(Int, Boolean, Double)]
    val passSpans = ArrayBuffer.empty[(Int, Span)]
    var residentMb = 0.0

    def one(name: String, pass: Int, traced: Boolean): Unit = {
      val req = s"$name#$pass"
      val t0 = System.nanoTime()
      val ok =
        try {
          val digest =
            if (!traced) Digest.of(reg(name)(spark, srcDir))
            else tr.span("query", req) {
              val df: DataFrame = tr.span("operators.build", req)(reg(name)(spark, srcDir))
              tr.span("engine.plan", req)(df.queryExecution.executedPlan)
              tr.span("engine.execute", req)(Digest.of(df))
            }
          if (digest != expected(name)) ctx.note(s"$name: digest $digest, expected ${expected(name)}")
          digest == expected(name)
        } catch { case e: Exception =>
          ctx.note(s"$name failed: $e")
          false
        }
      val latency = (System.nanoTime() - t0) / 1e9
      if (traced) tr.span("release.inter_query", req)(graft.Release.interQuery(spark))
      else graft.Release.interQuery(spark)
      if (traced) residentMb = math.max(residentMb,
        spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6)
      runs += QueryRun(name, pass, traced, latency, ok)
    }
    def pass(p: Int, traced: Boolean): Unit = {
      val order = nextOrder()
      val t0 = System.nanoTime()
      if (!traced) order.foreach(one(_, p, traced))
      else {
        tr.span("pass", s"pass$p")(order.foreach(one(_, p, traced)))
        passSpans += p -> tr.all.last
      }
      passWall += ((p, traced, (System.nanoTime() - t0) / 1e9))
    }

    // one cold pass, then a fixed number of measured warm passes; a traced
    // run alternates untraced and traced warm passes
    pass(0, tr.enabled)
    val passes = 1 + warmPasses(ctx.seconds) * (if (tr.enabled) 2 else 1)
    (1 until passes).foreach(p => pass(p, tr.enabled && p % 2 == 0))

    val failed = runs.count(!_.ok)
    val untracedWarm = runs.filter(r => r.pass > 0 && !r.traced).map(_.latency).toSeq
    val t = Stats.tail(untracedWarm)
    val warmWalls = passWall.filter(w => w._1 > 0 && !w._2).map(_._3).toSeq
    ctx.note(f"passes=$passes queries=${queries.size} tail=p${t.percentile}%.1f of n=${t.n} " +
      s"setups_s=${setups.map(x => f"$x%.2f").mkString(",")} " +
      s"pass_walls_s=${passWall.map(w => f"${w._3}%.2f${if (w._2) "t" else ""}").mkString(",")}")
    val e2e = Seq(
      Metric("setup_s", Stats.median(setups), "s"),
      Metric("cold_s", passWall.head._3, "s"),
      Metric("warm_s", Stats.median(warmWalls), "s"),
      Metric("op_p50_s", Stats.median(untracedWarm), "s"),
      Metric("op_tail_s", t.value, "s"))

    val layerMetrics =
      if (!tr.enabled) Nil
      else {
        tr.drain(spark)
        val spans = tr.all
        val warmPasses = passSpans.filter(_._1 > 0).map(_._2).toSeq
        def within(p: Span, name: String) =
          spans.filter(s => s.name == name && s.start >= p.start && s.end <= p.end)
        def perPass(f: Span => Double): Double = Stats.median(warmPasses.map(f))
        def secs(name: String)(p: Span) = within(p, name).map(_.dur).sum / 1e9
        val builds = builders.map { case (name, _) =>
          Metric(s"sources.store_build_s.$name", Stats.median(
            spans.filter(_.name == s"sources.store_build.$name").map(_.dur / 1e9)), "s")
        }
        val tracedWarm = passWall.filter(w => w._1 > 0 && w._2).map(_._3).toSeq
        Seq(
          Metric("operators.build_s", perPass(secs("operators.build")), "s"),
          Metric("operators.eager_jobs", perPass(p => within(p, "operators.build").map(tr.work(_).jobs).sum.toDouble), "count"),
          Metric("engine.plan_s", perPass(secs("engine.plan")), "s"),
          Metric("engine.execute_s", perPass(secs("engine.execute")), "s"),
          Metric("engine.driver_s", perPass(p => within(p, "query").map(tr.driverNs).sum / 1e9), "s"),
          Metric("release.inter_query_s", perPass(secs("release.inter_query")), "s"),
          Metric("release.resident_mb", residentMb, "MB")) ++
          Layers.engine(warmPasses.map(tr.work), tr.work(passSpans.head._2)) ++
          builds ++
          Seq(Metric("trace.overhead_s", Stats.median(tracedWarm) - Stats.median(warmWalls), "s"))
      }
    spark.stop()
    Outcome(failed == 0, runs.size, failed, e2e, layerMetrics)
  }

  /** Digests of `queries` in one fresh session, for the expected file. */
  def record(ctx: Ctx): Seq[(String, String)] = {
    val fixture = ctx.benchDir.resolve(s"data/$Sf")
    val spark = Session.start(ctx.cores, ctx.runDir.resolve("local").toString, 0L)
    try {
      val dir = ctx.runDir.resolve("fixture")
      stageFixture(fixture, dir)
      readList(ctx.benchDir.resolve(s"workloads/$ListName.txt")).map { q =>
        val d = Digest.of(graft.SparkEntry.queries(q)(spark, dir.toString))
        graft.Release.interQuery(spark)
        q -> d
      }
    } finally spark.stop()
  }

  /** Digests of the per-query parquet results graft.Verify wrote to `dir`,
    * for cross-checking expected digests against the DuckDB oracle.
    */
  def digestVerifyOutput(ctx: Ctx, dir: Path): Seq[(String, String)] = {
    val names = readList(ctx.benchDir.resolve(s"workloads/$ListName.txt"))
    val spark = Session.start(ctx.cores, ctx.runDir.resolve("local").toString, 0L)
    try names.filter(n => Files.isDirectory(dir.resolve(n)))
      .map(n => n -> Digest.of(spark.read.parquet(dir.resolve(n).toString)))
    finally spark.stop()
  }
}
