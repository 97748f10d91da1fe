package perfbench

import java.io.{File, PrintWriter}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.GraftSession
import graft.sources.FixtureLog

/** The benchmark's engine side. `run.py` generates the graph tables,
  * starts this program, then checks its outputs against DuckDB and
  * prints the metrics. Modes:
  *
  * {{{
  * gen --workloads W,... --seed N --inputs DIR --warm DIR
  * run --workload W --seed N --seconds S --trace 0|1 --cores C
  *     --inputs DIR --warm DIR --work DIR --graph DIR --warm-graph DIR --result FILE
  * replay1t --in DIR --warm-in DIR --out DIR --result FILE
  * }}}
  *
  * `gen` writes the log inputs of a seed in a JVM of its own, so input
  * generation leaves no trace in the measured process. `run` writes
  * its raw samples (set-up times, passes, counters, outputs to check,
  * spans) to the result file as JSON.
  */
object Main {
  val MinPasses = 3

  def main(args: Array[String]): Unit = args.toList match {
    case "gen" :: rest => gen(opts(rest))
    case "run" :: rest => run(opts(rest))
    case "replay1t" :: rest => replay1t(opts(rest))
    case other => sys.error(s"usage: run ... | replay1t ...; got $other")
  }

  private def opts(args: List[String]): Map[String, String] =
    args.grouped(2).map {
      case List(k, v) if k.startsWith("--") => k.drop(2) -> v
      case bad => sys.error(s"bad option: ${bad.mkString(" ")}")
    }.toMap

  private def write(path: String, v: Any): Unit = {
    val w = new PrintWriter(path, "UTF-8")
    try w.println(Json.render(v)) finally w.close()
  }

  /** Generate `spec`'s files unless a finished copy is already there. */
  private def once(dir: File)(gen: => Unit): Unit = {
    val stamp = new File(dir, ".done")
    if (!stamp.exists()) {
      Inputs.deleteRecursively(dir)
      dir.mkdirs()
      gen
      stamp.createNewFile(): Unit
    }
  }

  private def dirs(o: Map[String, String]): Dirs =
    new Dirs(new File(o("inputs")), new File(o("warm")), new File(o.getOrElse("work", ".")),
      new File(o.getOrElse("graph", ".")), new File(o.getOrElse("warm-graph", ".")))

  private def usesDay(ws: Seq[String]) = ws.exists(Set("replay_day", "tick_notebook"))
  private def usesStream(ws: Seq[String]) = ws.contains("stream_replay")

  /** Log inputs, generated once per seed and reused by later runs. */
  private def gen(o: Map[String, String]): Unit = {
    val d = dirs(o)
    val seed = o("seed").toLong
    val ws = o("workloads").split(",").toSeq
    once(d.warmDay)(FixtureLog.write(Inputs.warmDaySpec(d.warmDay)))
    once(d.warmStreamChunks)(Inputs.writeStreamChunks(
      Inputs.warmStreamSpec(d.warmStream), d.warmStreamChunks, 2))
    if (usesDay(ws)) once(d.day)(FixtureLog.write(Inputs.daySpec(d.day, seed)))
    if (usesStream(ws)) once(d.streamChunks)(Inputs.writeStreamChunks(
      Inputs.streamSpec(d.stream, seed), d.streamChunks, Inputs.StreamChunksPerHour))
  }

  private def run(o: Map[String, String]): Unit = {
    val workload = o("workload")
    val seed = o("seed").toLong
    val seconds = o("seconds").toDouble
    val traced = o("trace") == "1"
    val cores = o("cores").toInt
    val dirs = this.dirs(o)
    val ws = Workloads.all(dirs, seed, traced)
    require(ws.contains(workload), s"unknown workload $workload")
    val active = if (traced) Seq("replay_day", "stream_replay", "tick_notebook", "graph_loops")
                 else Seq(workload)

    // set-up: session build plus warm-up, once, in this fresh JVM, so
    // that it pays the cold session start and code generation a user's
    // first job pays; the runs of a comparison give its median
    val compiles0 = Counters.compiles()
    val trace = new Trace(s"$workload-$seed", enabled = traced)
    val untracedTrace = new Trace(trace.runId, enabled = false)
    val setup0 = System.nanoTime()
    val spark: SparkSession = trace.span("GraftSession.local")(GraftSession.local(cores))
    val counters = Counters.attach(spark)
    def ctx(t: Trace) = new Ctx(spark, counters, t, dirs, cores)
    val sessionS = (System.nanoTime() - setup0) / 1e9
    val warmupS = active.map { w =>
      val t0 = System.nanoTime()
      ws(w).warmup(ctx(untracedTrace))
      w -> (System.nanoTime() - t0) / 1e9
    }.toMap
    val setupS = (System.nanoTime() - setup0) / 1e9
    val setupCompiles = Counters.compiles() - compiles0
    val run0 = counters.snap(spark)

    val oracleSetup = mutable.ArrayBuffer.empty[String]
    if (usesDay(active))
      oracleSetup += s"CREATE TABLE oticks AS ${Workloads.keyedTicksSql(dirs.dayDump)}"
    if (active.contains("graph_loops")) Seq("lineitem", "events").foreach { t =>
      oracleSetup += s"CREATE VIEW $t AS SELECT * FROM read_parquet('${dirs.graph}/$t.parquet')"
    }

    val w = ws(workload)
    val out = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "cores" -> cores, "trace" -> traced,
      "setup_s" -> setupS, "session_s" -> sessionS, "warmup_s" -> warmupS,
      "setup_compiles" -> setupCompiles,
      "oracle_setup" -> oracleSetup)

    if (!traced) {
      val s0 = System.nanoTime()
      w.settle(ctx(untracedTrace))
      out("settle_s") = (System.nanoTime() - s0) / 1e9
      val passes = mutable.ArrayBuffer.empty[Pass]
      val t0 = System.nanoTime()
      while (passes.size < MinPasses || (System.nanoTime() - t0) / 1e9 < seconds)
        passes += w.pass(ctx(untracedTrace))
      out("measure_s") = (System.nanoTime() - t0) / 1e9
      out("passes") = passes.map(_.toMap)
      out("checks") = w.checks(ctx(untracedTrace)).map(_.toMap)
    } else {
      // the same sweep whatever the workload: one traced layer pass of each
      out("checks") = Nil
      out("layers") = active.map(n => n -> trace.span(s"layers.$n")(ws(n).layers(ctx(trace)))).toMap
      out("spans") = trace.all.map(_.toMap)
    }
    val run1 = counters.snap(spark)
    out("run_counters") = (run1 - run0).toMap
    out("jvm_gc_s") = Counters.jvmGcMs() / 1e3
    out("peak_rss_mb") = Counters.peakRssMb()
    // the oracle's input, written once per seed after everything is measured
    if (usesDay(active)) {
      val f = new File(dirs.dayDump)
      once(f)(Inputs.writeDump(spark, Inputs.daySpec(dirs.day, seed), f.getPath))
    }
    if (usesStream(active)) {
      val f = new File(dirs.streamDump)
      once(f)(Inputs.writeDump(spark, Inputs.streamSpec(dirs.stream, seed), f.getPath))
    }
    spark.stop()
    write(o("result"), out)
  }

  /** The single-thread replay, in a JVM of its own at `local[1]`: one
    * untimed CLI replay of the small warm-up day compiles the plan, then
    * the warm-up day and the measured day are replayed and timed. Both
    * days have 24 hourly files, so the slope between them is the cost
    * of one more frame, without the fixed cost of a job.
    */
  private def replay1t(o: Map[String, String]): Unit = {
    val t0 = System.nanoTime()
    val spark = GraftSession.local(1)
    val sessionS = (System.nanoTime() - t0) / 1e9
    def replay(in: String, out: String): Double = {
      val t0 = System.nanoTime()
      graft.cli.Main.run(spark, List("replay", "--in", in, "--out", out))
      (System.nanoTime() - t0) / 1e9
    }
    val coldS = replay(o("warm-in"), o("out") + "_cold")
    val smallS = replay(o("warm-in"), o("out") + "_small")
    val dayS = replay(o("in"), o("out"))
    spark.stop()
    write(o("result"), Map(
      "session_s" -> sessionS, "cold_small_s" -> coldS,
      "small_s" -> smallS, "small_frames" -> Inputs.frames(Inputs.warmDaySpec(new File("."))),
      "replay_1t_s" -> dayS, "frames" -> Inputs.frames(Inputs.daySpec(new File("."), 0L))))
  }
}
