package perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkEntry
import graft.model.Tick
import graft.operators.{BookReplay, TickAnalytics}
import graft.queries.FixtureOracle
import graft.sources.{RawLogSource, Sinks}
import graft.streaming.StreamingReplay

/** What every workload step sees: the session under test, its counters,
  * the span recorder and the directories of this seed.
  */
final class Ctx(
    val spark: SparkSession,
    val counters: Counters,
    val trace: Trace,
    val dirs: Dirs,
    val cores: Int,
) {
  /** Wall time and counters of `body`; the counters are read outside
    * the timed window.
    */
  def timed[T](body: => T): (T, Double, Snap) = {
    val a = counters.snap(spark)
    val t0 = System.nanoTime()
    val r = body
    val wall = (System.nanoTime() - t0) / 1e9
    (r, wall, counters.snap(spark) - a)
  }

  def span[T](name: String)(body: => T): T = trace.span(name)(body)

  /** The same context with span recording off. */
  def untraced: Ctx = new Ctx(spark, counters, new Trace(trace.runId, enabled = false), dirs, cores)
}

/** The directory layout of one run. Inputs live per seed and are
  * reused by later runs of the same seed; outputs live per run.
  */
final class Dirs(val inputs: File, val warm: File, val work: File, val graph: File,
    val warmGraph: File) {
  def day: File = new File(inputs, "day")
  def dayDump: String = FixtureOracle.fixtureMsgsPath
  def stream: File = new File(inputs, "stream_hours")
  def streamChunks: File = new File(inputs, "stream")
  def streamDump: String = new File(inputs, "stream_dump").getPath
  def warmDay: File = new File(warm, "day")
  def warmStream: File = new File(warm, "stream_hours")
  def warmStreamChunks: File = new File(warm, "stream")
  def out(name: String): String = new File(work, s"out/$name").getPath
}

/** One checked operation: its latency, its counters and the engine's
  * fingerprint of what it produced.
  */
final case class Op(name: String, wallS: Double, fp: (Long, Long), counters: Snap) {
  def toMap: Map[String, Any] = Map(
    "name" -> name, "wall_s" -> wallS, "rows" -> fp._1, "hash" -> fp._2,
    "counters" -> counters.toMap)
}

/** One pass of a workload: the unit the end-to-end time is taken over. */
final case class Pass(wallS: Double, ops: Seq[Op], counters: Snap, batchS: Seq[Double] = Nil) {
  def toMap: Map[String, Any] = Map(
    "wall_s" -> wallS, "ops" -> ops.map(_.toMap), "counters" -> counters.toMap,
    "batch_s" -> batchS)
}

/** A last-pass output and the oracle it must match. `path` holds the
  * engine's output as Parquet; `oracle` is DuckDB SQL over the
  * generator's own data; `columns` are compared.
  */
final case class Check(name: String, path: String, columns: Seq[String], oracle: String) {
  def toMap: Map[String, Any] =
    Map("name" -> name, "path" -> path, "columns" -> columns, "oracle" -> oracle)
}

trait Workload {
  def name: String
  /** Warm-up pass, run inside every set-up. */
  def warmup(ctx: Ctx): Unit
  /** Run once after set-up and not measured: the first pass still
    * compiles code and settles the JIT.
    */
  def settle(ctx: Ctx): Unit = pass(ctx): Unit
  def pass(ctx: Ctx): Pass
  /** Outputs of the latest pass with their oracles. */
  def checks(ctx: Ctx): Seq[Check]
  /** One traced pass, recording the workload's per-layer raw figures. */
  def layers(ctx: Ctx): Map[String, Any]
}

object Workloads {
  val RefCols: Seq[String] = Tick.referenceColumns

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Order-insensitive (rows, sum of row hashes) of a Parquet output. */
  def fpParquet(spark: SparkSession, path: String, cols: Seq[String]): (Long, Long) = {
    val r = spark.read.parquet(path)
      .select(xxhash64(cols.map(col): _*).as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h").cast("decimal(38,0)")), lit(0)))
      .head()
    (r.getLong(0), r.getDecimal(1).remainder(new java.math.BigDecimal("18446744073709551616")).longValue)
  }

  def fpRows(rows: Array[Row]): (Long, Long) =
    (rows.length.toLong, rows.iterator.map(_.hashCode.toLong & 0xffffffffL).sum)

  def writeRows(spark: SparkSession, rows: Array[Row], df: DataFrame, path: String): Unit =
    spark.createDataFrame(rows.toSeq.asJava, df.schema)
      .coalesce(1).write.mode("overwrite").parquet(path)

  /** The oracle's tick reconstruction with its arrival key `k`, the
    * BBO emit index and the source file hour: FixtureOracle's replay
    * SQL with the final projection widened.
    */
  def keyedTicksSql(dumpDir: String): String =
    ticksPrelude(dumpDir) +
      "\nSELECT t.*, m.file_hour FROM ticks t JOIN (SELECT k, file_hour FROM msgs) m USING (k)"

  /** FixtureOracle's `WITH ... ticks AS (...)` prelude for a dump. */
  private def ticksPrelude(dumpDir: String): String = {
    val sql = FixtureOracle.referenceTicksSql(dumpDir)
    val cut = sql.lastIndexOf("\nSELECT ")
    require(cut > 0, "unexpected FixtureOracle.referenceTicksSql shape")
    sql.substring(0, cut)
  }

  /** A FixtureOracle query over the day's dump, reading the tick
    * reconstruction from the `oticks` table built once per seed instead
    * of recomputing it: the prelude is swapped, the query is unchanged.
    */
  def overOticks(oracleSql: String, dumpDir: String): String = {
    val prelude = ticksPrelude(dumpDir)
    require(oracleSql.startsWith(prelude), "oracle SQL does not start with the ticks prelude")
    "WITH ticks AS (SELECT * FROM oticks)" + oracleSql.substring(prelude.length)
  }

  def all(dirs: Dirs, seed: Long, traced: Boolean): Map[String, Workload] = Seq(
    new ReplayDay(dirs, seed), new StreamReplay(dirs, traced),
    new TickNotebook(dirs, seed), new GraphLoops(dirs, traced),
  ).map(w => w.name -> w).toMap
}

import Workloads._

/** The reference's own job: a day of hourly zstd logs replayed through
  * the CLI to tick Parquet. Each pass also replays single hours
  * (`--start H --end H`), the "last hour" latency a user waits for.
  */
final class ReplayDay(dirs: Dirs, seed: Long) extends Workload {
  val name = "replay_day"
  /** Three single hours per pass; the day's hours 10..23 have
    * timestamps the CLI's `--start/--end` can name.
    */
  private val hours: Seq[String] = (0 until 3).map(i =>
    Inputs.hours(Inputs.daySpec(dirs.day, seed))(((seed + i) % 14).toInt))
  private def hourTs(h: String) = h.substring(0, 10) + "T" + h.substring(11) + ":00:00Z"

  private def replay(ctx: Ctx, in: File, out: String, range: Option[String]): Unit = {
    val r = range.toList.flatMap(h => List("--start", hourTs(h), "--end", hourTs(h)))
    ctx.span("cli.Main.run") {
      graft.cli.Main.run(ctx.spark, List("replay", "--in", in.getPath, "--out", out) ++ r)
    }
  }

  def warmup(ctx: Ctx): Unit = {
    replay(ctx, dirs.warmDay, dirs.out("warm_day"), None)
    replay(ctx, dirs.warmDay, dirs.out("warm_hour"), Some("2025-07-01-11"))
  }

  def pass(ctx: Ctx): Pass = {
    val (_, dayS, dayC) = ctx.timed(replay(ctx, dirs.day, dirs.out("day"), None))
    val day = Op("day", dayS, fpParquet(ctx.spark, dirs.out("day"), RefCols), dayC)
    val hourOps = hours.map { h =>
      val (_, s, c) = ctx.timed(replay(ctx, dirs.day, dirs.out(s"hour_$h"), Some(h)))
      Op(s"hour_$h", s, fpParquet(ctx.spark, dirs.out(s"hour_$h"), RefCols), c)
    }
    Pass(dayS, day +: hourOps, dayC)
  }

  def checks(ctx: Ctx): Seq[Check] =
    Check(s"$name/day", dirs.out("day"), RefCols,
      overOticks(FixtureOracle.referenceTicksSql(dirs.dayDump), dirs.dayDump)) +:
      hours.map(h => Check(s"$name/hour_$h", dirs.out(s"hour_$h"), RefCols,
        FixtureOracle.referenceTicksSql(dirs.dayDump, s"file_hour = '$h'")))

  /** The replay as cumulative prefixes, each ending in a `noop` sink so
    * the lazy plan runs exactly up to that layer, after the CLI replay
    * the layers must add up to, run untraced and then traced; the
    * difference is the tracing overhead. The first full-day replay after
    * set-up still settles the JIT, so one more CLI replay goes first,
    * unmeasured. One round only: the prefixes cost five replays, and a
    * traced run must fit every workload's layers in its time limit.
    */
  def layers(ctx: Ctx): Map[String, Any] = {
    val spark = ctx.spark
    val out = dirs.out("layers")
    def files = ctx.span("RawLogSource.discover")(RawLogSource.discover(dirs.day.getPath))
    def frames = ctx.span("RawLogSource.frames")(RawLogSource.frames(spark, files))
    def msgs = ctx.span("RawLogSource.feedMessages")(RawLogSource.feedMessages(frames))
    val prefixes: Seq[(String, () => Unit)] = Seq(
      "frames" -> (() => noop(frames.toDF())),
      "feedMessages" -> (() => noop(msgs.toDF())),
      "ticks" -> (() => noop(ctx.span("BookReplay.ticks")(BookReplay.ticks(msgs)).toDF())),
      "referenceTicks" -> (() =>
        noop(ctx.span("BookReplay.referenceTicks")(BookReplay.referenceTicks(msgs)))),
      "writeTicksParquet" -> (() => {
        val t = ctx.span("BookReplay.referenceTicks")(BookReplay.referenceTicks(msgs))
        ctx.span("Sinks.writeTicksParquet")(Sinks.writeTicksParquet(t, out))
      }),
    )
    def cli(c: Ctx) = ctx.timed(replay(c, dirs.day, dirs.out("day"), None))._2
    def round() = prefixes.map { case (p, run) =>
      val a = ctx.counters.snap(spark)
      val (_, wall, c) = ctx.timed(ctx.span(s"prefix.$p")(run()))
      val stages = ctx.counters.stagesBetween(a, ctx.counters.snap(spark))
      p -> Map("wall_s" -> wall, "counters" -> c.toMap,
        "stages" -> stages.map(s => Map(
          "stage" -> s.stageId, "tasks" -> s.taskMs.size, "run_s" -> s.runMs / 1e3,
          "cpu_s" -> s.cpuNs / 1e9, "skew" -> s.skew,
          "shuffle_read_bytes" -> s.shuffleReadBytes,
          "shuffle_write_bytes" -> s.shuffleWriteBytes)))
    }.toMap
    cli(ctx.untraced)
    val e2e = cli(ctx.untraced)
    val e2eTraced = cli(ctx)
    val prefixRound = round()
    val counts = Map(
      "frames" -> frames.count(),
      "msgs" -> msgs.count(),
      "ticks" -> spark.read.parquet(out).count(),
      "bytes_out" -> Inputs.dirBytes(new File(out)),
      "files" -> Inputs.dataFiles(new File(out)))
    Map("prefix_rounds" -> Seq(prefixRound), "replay_s" -> Seq(e2e),
      "replay_traced_s" -> Seq(e2eTraced),
      "counts" -> counts,
      "check" -> Check(s"$name/layers", out, RefCols,
        overOticks(FixtureOracle.referenceTicksSql(dirs.dayDump), dirs.dayDump)).toMap)
  }
}

/** The same day drained as a file stream in many small micro-batches
  * through the stateful streaming fold.
  */
final class StreamReplay(dirs: Dirs, traced: Boolean) extends Workload {
  val name = "stream_replay"
  private var drains = 0

  private def drain(ctx: Ctx, src: File, tag: String): (String, Seq[Map[String, Any]]) = {
    val spark = ctx.spark
    drains += 1
    val out = dirs.out(s"$tag$drains")
    val ckpt = dirs.out(s"$tag${drains}_ckpt")
    val before = ctx.counters.progressCount
    ctx.span("stream.drain") {
      val lines = spark.readStream.schema("value STRING")
        .option("maxFilesPerTrigger", 1).text(src.getPath)
      val msgs = ctx.span("RawLogSource.feedMessagesFromLines")(
        RawLogSource.feedMessagesFromLines(lines.toDF()))
      val ticks = ctx.span("StreamingReplay.ticksStream")(StreamingReplay.ticksStream(msgs))
      val q = ticks.toDF().writeStream
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    ctx.counters.snap(spark) // waits for the last batches' progress events
    val batches = ctx.counters.progressSince(before).filter(_.numInputRows > 0).map { p =>
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      val st = p.stateOperators.headOption
      Map[String, Any](
        "batch_s" -> d.getOrElse("triggerExecution", 0L) / 1e3,
        "add_batch_ms" -> d.getOrElse("addBatch", 0L),
        "planning_ms" -> d.getOrElse("queryPlanning", 0L),
        "wal_commit_ms" -> d.getOrElse("walCommit", 0L),
        "commit_offsets_ms" -> d.getOrElse("commitOffsets", 0L),
        "state_commit_ms" -> st.map(_.commitTimeMs).getOrElse(0L),
        "state_update_ms" -> st.map(_.allUpdatesTimeMs).getOrElse(0L),
        "state_bytes" -> st.map(_.memoryUsedBytes).getOrElse(0L),
        "state_rows" -> st.map(_.numRowsTotal).getOrElse(0L),
        "input_rows" -> p.numInputRows)
    }
    (out, batches)
  }

  private var lastOut: String = _

  /** A traced run drains the stream once and reports per-batch medians,
    * which the first, compiling batch barely moves; it skips the warm-up.
    */
  def warmup(ctx: Ctx): Unit =
    if (!traced) drain(ctx, dirs.warmStreamChunks, "warm_stream"): Unit

  def pass(ctx: Ctx): Pass = {
    val ((out, batches), wall, c) = ctx.timed(drain(ctx, dirs.streamChunks, "stream"))
    lastOut = out
    val fp = fpParquet(ctx.spark, out, RefCols)
    Pass(wall, Seq(Op("ticks", wall, fp, c)), c,
      batches.map(_("batch_s").asInstanceOf[Double]))
  }

  def checks(ctx: Ctx): Seq[Check] = Seq(
    Check(s"$name/ticks", lastOut, RefCols, FixtureOracle.referenceTicksSql(dirs.streamDump)))

  def layers(ctx: Ctx): Map[String, Any] = {
    val ((out, batches), wall, c) = ctx.timed(drain(ctx, dirs.streamChunks, "stream"))
    Map("drain_s" -> wall, "counters" -> c.toMap, "batches" -> batches,
      "frames" -> (Inputs.StreamHours * Inputs.StreamFramesPerHour).toLong,
      "check" -> Check(s"$name/layers", out, RefCols,
        FixtureOracle.referenceTicksSql(dirs.streamDump)).toMap)
  }
}

/** The notebook's read workload over an hour-partitioned tick store
  * written from the day's input during set-up.
  */
final class TickNotebook(dirs: Dirs, seed: Long) extends Workload {
  val name = "tick_notebook"
  val Asset = "A0"
  private val hours = Inputs.hours(Inputs.daySpec(dirs.day, seed))
  private val (fromHour, toHour) = (hours(6), hours(8))
  private def store = dirs.out("store")

  /** (name, selective?, engine query, oracle SQL over `oticks`). */
  private def queries: Seq[(String, Boolean, Dataset[Tick] => DataFrame, String)] = {
    val minuteSql = "CAST(timestamp AS BIGINT) // 60000"
    val arrival = struct(col("file_hour"), col("line_no"), col("msg_idx"), col("emit_idx"))
    def minute = (col("timestamp").cast("long") / 60000).cast("long")
    def cents(c: String) = round(col(c) * 100).cast("long")
    def centsSql(c: String) = s"CAST(round($c * 100) AS BIGINT)"
    Seq(
      ("bbo_1m_asset", true,
        t => t.filter(col("asset") === Asset && col("kind") === "BBO")
          .groupBy(minute.as("minute"), col("side"))
          .agg(max_by(col("price"), arrival).as("last_price"), count(lit(1)).as("n")),
        s"""SELECT $minuteSql AS minute, side, max_by(price, k * 2 + emit_idx) AS last_price,
           |       count(*) AS n
           |FROM oticks WHERE asset = '$Asset' AND kind = 'BBO' GROUP BY 1, 2""".stripMargin),
      ("hour_range_asset", true,
        t => t.filter(col("file_hour").between(fromHour, toHour) && col("asset") === Asset)
          .select(RefCols.map(col): _*),
        s"""SELECT timestamp, kind, market, asset, side, price, size FROM oticks
           |WHERE asset = '$Asset' AND file_hour BETWEEN '$fromHour' AND '$toHour'""".stripMargin),
      ("bbo_1m_all", false,
        t => t.filter(col("kind") === "BBO")
          .groupBy(col("asset"), minute.as("minute"), col("side"))
          .agg(max_by(col("price"), arrival).as("last_price"), count(lit(1)).as("n")),
        s"""SELECT asset, $minuteSql AS minute, side,
           |       max_by(price, k * 2 + emit_idx) AS last_price, count(*) AS n
           |FROM oticks WHERE kind = 'BBO' GROUP BY 1, 2, 3""".stripMargin),
      ("hourly_volume", false,
        t => t.filter(col("kind") === "TRADE")
          .groupBy(col("asset"), (col("timestamp").cast("long") / 3600000).cast("long").as("hour"))
          .agg(count(lit(1)).as("n_trades"), sum(cents("size")).as("volume_c"),
            sum(cents("price") * cents("size")).as("notional_c")),
        s"""SELECT asset, CAST(timestamp AS BIGINT) // 3600000 AS hour, count(*) AS n_trades,
           |       sum(${centsSql("size")}) AS volume_c,
           |       sum(${centsSql("price")} * ${centsSql("size")}) AS notional_c
           |FROM oticks WHERE kind = 'TRADE' GROUP BY 1, 2""".stripMargin),
      ("summary_stats", false,
        t => t.groupBy(col("kind"), col("side"))
          .agg(count(lit(1)).as("n"), min(col("price")).as("min_price"),
            max(col("price")).as("max_price"), sum(cents("price")).as("price_c"),
            sum(cents("size")).as("size_c")),
        s"""SELECT kind, side, count(*) AS n, min(price) AS min_price, max(price) AS max_price,
           |       sum(${centsSql("price")}) AS price_c, sum(${centsSql("size")}) AS size_c
           |FROM oticks GROUP BY 1, 2""".stripMargin),
      ("trades_prevailing_bbo", false,
        t => TickAnalytics.tradesWithPrevailingBbo(t)
          .select("timestamp", "market", "asset", "side", "price", "size",
            "prev_ask_price", "prev_ask_size", "prev_bid_price", "prev_bid_size"),
        overOticks(FixtureOracle.tradesWithPrevailingBboSql, dirs.dayDump)),
      ("twa_spread", false,
        t => TickAnalytics.timeWeightedSpread(t),
        overOticks(FixtureOracle.tickTwaSpreadSql, dirs.dayDump)),
    )
  }

  private var last: Map[String, (Array[Row], DataFrame)] = Map.empty

  private def runMix(ctx: Ctx, storePath: String): Seq[(Op, Array[Row], DataFrame)] = {
    import ctx.spark.implicits._
    queries.map { case (q, _, build, _) =>
      val ((rows, df), wall, c) = ctx.timed(ctx.span(s"TickAnalytics.$q") {
        val df = build(ctx.spark.read.parquet(storePath).as[Tick])
        (df.collect(), df)
      })
      (Op(q, wall, fpRows(rows), c), rows, df)
    }
  }

  private def writeStore(ctx: Ctx, in: File, path: String): Unit =
    ctx.span("cli.Main.run") {
      graft.cli.Main.run(ctx.spark,
        List("replay", "--in", in.getPath, "--out", path, "--partition-by-hour"))
    }

  /** The store is the workload's own input, so set-up writes it from
    * the seed's day and warms up with one mix over it.
    */
  def warmup(ctx: Ctx): Unit = {
    writeStore(ctx, dirs.day, store)
    runMix(ctx, store)
  }

  def pass(ctx: Ctx): Pass = {
    val t0 = System.nanoTime()
    val a = ctx.counters.snap(ctx.spark)
    val res = runMix(ctx, store)
    val ops = res.map(_._1)
    val wall = ops.map(_.wallS).sum
    last = res.map { case (op, rows, df) => op.name -> (rows, df) }.toMap
    val c = ctx.counters.snap(ctx.spark) - a
    Pass(wall, ops, c.copy(wallNs = System.nanoTime() - t0))
  }

  def selective: Set[String] = queries.filter(_._2).map(_._1).toSet

  def checks(ctx: Ctx): Seq[Check] = queries.map { case (q, _, _, oracle) =>
    val (rows, df) = last(q)
    val path = dirs.out(s"nb_$q")
    writeRows(ctx.spark, rows, df, path)
    Check(s"$name/$q", path, df.columns.toSeq, oracle)
  }

  def layers(ctx: Ctx): Map[String, Any] = {
    val p = pass(ctx)
    Map("queries" -> p.ops.map(o => o.toMap + ("selective" -> selective(o.name))),
      "checks" -> checks(ctx).map(_.toMap))
  }
}

/** Fixpoint loops of the registered query set over a generated
  * co-purchase and event table pair. A measured pass runs k-core,
  * temporal ANF and the entity SCC. At the measured size all three are
  * bound by per-round job scheduling (about 90 % of the slots idle);
  * temporal ANF is the one that shuffles most, about 3 MB a run. The
  * traced layer pass adds SSSP and label propagation.
  */
final class GraphLoops(dirs: Dirs, traced: Boolean) extends Workload {
  val name = "graph_loops"
  val Queries: Seq[String] = Seq("q_graph_kcore", "q_graph_temporal_anf", "q_graph_scc_entity")
  val LayerQueries: Seq[String] = Queries ++ Seq("q_graph_sssp", "q_graph_label_prop")

  private var last: Map[String, (Array[Row], DataFrame)] = Map.empty

  private def runAll(ctx: Ctx, dir: File, queries: Seq[String] = Queries)
      : Seq[(Op, Array[Row], DataFrame)] =
    queries.map { q =>
      val ((rows, df), wall, c) = ctx.timed(ctx.span(s"SparkEntry.queries.$q") {
        val df = SparkEntry.queries(q)(ctx.spark, dir.getPath)
        (df.collect(), df)
      })
      (Op(q, wall, fpRows(rows), c), rows, df)
    }

  /** The loops cost about as much on a tiny graph as on the measured
    * one (they are bound by per-round jobs), so set-up warms the session
    * with the cheapest loop; a traced run warms all five, since it
    * measures each only once.
    */
  def warmup(ctx: Ctx): Unit =
    runAll(ctx, dirs.warmGraph, if (traced) LayerQueries else Queries.take(1))

  /** Compiling the measured loops costs as much as a pass; on the small
    * graph it is done in half the time.
    */
  override def settle(ctx: Ctx): Unit = runAll(ctx, dirs.warmGraph, Queries): Unit

  private def run(ctx: Ctx, queries: Seq[String]): Pass = {
    val a = ctx.counters.snap(ctx.spark)
    val t0 = System.nanoTime()
    val res = runAll(ctx, dirs.graph, queries)
    val ops = res.map(_._1)
    last = res.map { case (op, rows, df) => op.name -> (rows, df) }.toMap
    val c = ctx.counters.snap(ctx.spark) - a
    Pass(ops.map(_.wallS).sum, ops, c.copy(wallNs = System.nanoTime() - t0))
  }

  def pass(ctx: Ctx): Pass = run(ctx, Queries)

  def checks(ctx: Ctx): Seq[Check] = last.keys.toSeq.sorted.map { q =>
    val (rows, df) = last(q)
    val path = dirs.out(s"graph_$q")
    writeRows(ctx.spark, rows, df, path)
    Check(s"$name/$q", path, df.columns.toSeq, SparkEntry.oracleSql(q))
  }

  def layers(ctx: Ctx): Map[String, Any] = {
    val p = run(ctx, LayerQueries)
    Map("queries" -> p.ops.map(o => o.toMap + ("idle_share" -> o.counters.idleShare(ctx.cores))),
      "checks" -> checks(ctx).map(_.toMap))
  }
}
