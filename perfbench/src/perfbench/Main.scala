package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

final case class Metric(name: String, value: Double, unit: String)

/** A workload's session and staged inputs after its setup. */
trait Prepared { def spark: SparkSession }

final case class Outcome(correct: Boolean, attempted: Int, failed: Int,
    endToEnd: Seq[Metric], layers: Seq[Metric])

/** What a workload needs to know about its run. */
final class Ctx(val workload: String, val seed: Long, val seconds: Int, val tracer: Tracer,
    val benchDir: Path, val runDir: Path, val cores: Int) {
  /** The effective settings of the session the measurement ran in. */
  var conf: Seq[(String, String)] = Nil
  var fixtureStamp: String = "generated"
  /** Where the current setup puts its session scratch and staged inputs. */
  var stageDir: Path = runDir
  val notes = ArrayBuffer.empty[String]
  def note(s: String): Unit = { notes += s; System.err.println(s"[perfbench] $s") }
}

/** Engine counters shared by every workload's per-layer report. */
object Layers {

  /** Every per-layer metric a traced run reports, with its unit. A
    * workload that does not reach a layer reports it as 0.
    */
  val names: Seq[(String, String)] = Seq(
    "pipeline.tracker_s" -> "s", "pipeline.validate_s" -> "s",
    "pipeline.promote_s" -> "s", "pipeline.archive_s" -> "s",
    "pipeline.files_per_batch" -> "count",
    "sources.factstore_upsert_s" -> "s", "sources.factstore_driver_s" -> "s",
    "sources.factstore_files_written" -> "count", "sources.factstore_rows_per_file" -> "rows/file",
    "operators.kpi_store_read_s" -> "s", "operators.kpi_rows_read_per_row_out" -> "ratio",
    "sinks.kv_upsert_s" -> "s", "sinks.kv_files_written" -> "count",
    "operators.build_s" -> "s", "operators.eager_jobs" -> "count",
    "engine.plan_s" -> "s", "engine.execute_s" -> "s", "engine.driver_s" -> "s",
    "engine.jobs" -> "count", "engine.stages" -> "count", "engine.tasks" -> "count",
    "engine.task_overhead_s" -> "s",
    "engine.codegen_compiles" -> "count", "engine.codegen_s" -> "s",
    "engine.codegen_compiles_cold" -> "count", "engine.codegen_s_cold" -> "s",
    "engine.executor_cpu_s" -> "s", "engine.gc_s" -> "s",
    "engine.shuffle_write_mb" -> "MB", "engine.shuffle_read_mb" -> "MB", "engine.spill_mb" -> "MB",
    "release.inter_query_s" -> "s", "release.resident_mb" -> "MB") ++
    Queries.builders.map { case (n, _) => s"sources.store_build_s.$n" -> "s" } ++
    Seq("trace.overhead_s" -> "s")

  /** Medians over the measured units (a batch, a warm pass) of their
    * engine work, plus the codegen of the first, cold unit.
    */
  def engine(units: Seq[Work], cold: Work): Seq[Metric] = {
    def med(f: Work => Double) = Stats.median(units.map(f))
    Seq(
      Metric("engine.jobs", med(_.jobs.toDouble), "count"),
      Metric("engine.stages", med(_.stages.toDouble), "count"),
      Metric("engine.tasks", med(_.tasks.toDouble), "count"),
      Metric("engine.task_overhead_s", med(_.taskOverheadMs / 1e3), "s"),
      Metric("engine.codegen_compiles", med(_.compiles.toDouble), "count"),
      Metric("engine.codegen_s", med(_.compileMs / 1e3), "s"),
      Metric("engine.codegen_compiles_cold", cold.compiles.toDouble, "count"),
      Metric("engine.codegen_s_cold", cold.compileMs / 1e3, "s"),
      Metric("engine.executor_cpu_s", med(_.cpuNs / 1e9), "s"),
      Metric("engine.gc_s", med(_.gcMs / 1e3), "s"),
      Metric("engine.shuffle_write_mb", med(_.shuffleWriteB / 1e6), "MB"),
      Metric("engine.shuffle_read_mb", med(_.shuffleReadB / 1e6), "MB"),
      Metric("engine.spill_mb", med(_.spillB / 1e6), "MB"))
  }
}

/** The benchmark's JVM entry point; `perfbench/run.py` builds and launches
  * it. Prints detail lines, then the result as one JSON object on the last
  * line of standard output.
  */
object Main {

  private def parse(args: Array[String]): Map[String, String] =
    args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap

  def main(args: Array[String]): Unit = {
    val a = parse(args)
    val cores = a.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors)
    val runDir = Paths.get(a("run-dir"))
    val benchDir = Paths.get(a("bench-dir"))
    a("mode") match {
      case "selftest" => SelfTest.main(Array.empty)
      case "record" =>
        val ctx = new Ctx("record", 0, 0, new Tracer(false), benchDir, runDir, cores)
        Queries.record(ctx).foreach { case (q, d) => println(s"$q\t$d") }
      case "digest-verify" =>
        val ctx = new Ctx("digest-verify", 0, 0, new Tracer(false), benchDir, runDir, cores)
        Queries.digestVerifyOutput(ctx, Paths.get(a("dir")))
          .foreach { case (q, d) => println(s"$q\t$d") }
      case "run" => run(a, cores, runDir, benchDir)
    }
  }

  /** Setups a run makes, each after stopping the previous one's session;
    * `setup_s` is their median. The first pays for the cold JVM, the later
    * ones show what a setup costs once the engine's classes are loaded. A
    * pipeline setup then takes ~0.2 s, so it makes more of them.
    */
  val Setups = Map("pipeline_daily" -> 5, "queries_floor" -> 3)

  /** Runs the workload's setup and returns its handle and its seconds. */
  private def setup(ctx: Ctx): (Prepared, Double) = {
    val t0 = System.nanoTime()
    val staged = ctx.workload match {
      case "pipeline_daily" => PipelineDaily.setup(ctx)
      case "queries_floor" => Queries.setup(ctx)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    (staged, (System.nanoTime() - t0) / 1e9)
  }

  private def run(a: Map[String, String], cores: Int, runDir: Path, benchDir: Path): Unit = {
    val trace = a("trace") == "1"
    val ctx = new Ctx(a("workload"), a("seed").toLong, a("seconds").toInt, new Tracer(trace),
      benchDir, runDir, cores)
    val contention = new Contention(cores)
    val own = (1 to Setups(ctx.workload)).map { k =>
      ctx.stageDir = runDir.resolve(s"setup$k")
      val r = setup(ctx)
      if (k < Setups(ctx.workload)) r._1.spark.stop()
      r
    }
    val staged = own.last._1
    val setups = own.map(_._2)
    val outcome = staged match {
      case p: PipelineDaily.Staged => PipelineDaily.run(ctx, p, setups)
      case q: Queries.Staged => Queries.run(ctx, q, setups)
    }
    val rss = Proc.peakRssMb()
    val (peakLoad, othersShare, contended) = contention.finish()
    if (contended) System.err.println(f"[perfbench] CONTENDED: other processes used " +
      f"${othersShare * 100}%.0f%% of the cores during the run")
    if (trace) ctx.tracer.write(Paths.get(a("trace-out")))

    val provenance = Seq(
      "workload" -> Json.q(ctx.workload), "seed" -> ctx.seed.toString,
      "commit" -> Json.q(a("commit")), "cores" -> cores.toString,
      "fixture_stamp" -> Json.q(ctx.fixtureStamp), "trace" -> trace.toString,
      "jvm_flags" -> Proc.jvmFlags.map(Json.q).mkString("[", ",", "]"),
      "spark_conf" -> Json.obj(ctx.conf.map { case (k, v) => k -> Json.q(v) }),
      "peak_load1" -> Json.num(peakLoad), "others_cpu_share" -> Json.num(othersShare),
      "contended" -> contended.toString,
      "notes" -> ctx.notes.map(Json.q).mkString("[", ",", "]"))
    println(s"provenance ${Json.obj(provenance)}")

    val metrics =
      if (!trace) outcome.endToEnd :+ Metric("peak_rss_mb", rss, "MB")
      else {
        val byName = outcome.layers.map(m => m.name -> m).toMap
        Layers.names.map { case (n, u) => byName.getOrElse(n, Metric(n, 0.0, u)) }
      }
    metrics.foreach(m => println(f"metric ${m.name}%-40s ${m.value}%14.6f ${m.unit}"))
    val body = metrics.map(m =>
      m.name -> Json.obj(Seq("value" -> Json.num(m.value), "unit" -> Json.q(m.unit))))
    println(Json.obj(Seq(
      "correct" -> outcome.correct.toString,
      "attempted" -> outcome.attempted.toString,
      "failed" -> outcome.failed.toString,
      "metrics" -> Json.obj(body))))
  }
}
