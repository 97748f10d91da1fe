package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.SparkSession

import graft.sources.FixtureLog

/** The benchmark's generated inputs. Every shape is fixed; only the
  * generator seed changes between runs, so the same seed gives the same
  * bytes and different seeds give different books, trades and graphs of
  * the same size.
  */
object Inputs {
  /** A 24-file day of hourly `.jsonl.zst` logs, 600 markets × 2 assets.
    * The markets grow with the frames, so that each asset gets about
    * 84 messages: the oracle's book reconstruction is quadratic in
    * the messages of one asset.
    */
  val DayFiles = 24
  val DayFramesPerFile = 6000
  val DayMarkets = 600

  /** The streamed day: plain JSONL, each hour cut into chunk files that
    * the file source reads one per micro-batch. Receipt timestamps are
    * unique only within 3600 frames an hour, and hours run 10..23.
    */
  val StreamHours = 4
  val StreamFramesPerHour = 1200
  val StreamChunksPerHour = 2
  val StreamMarkets = 100

  def daySpec(dir: File, seed: Long): FixtureLog.Spec = FixtureLog.Spec(
    dir = dir.getPath, nFiles = DayFiles, framesPerFile = DayFramesPerFile,
    nMarkets = DayMarkets, assetsPerMarket = 2, seed = seed)

  /** Small fixed-seed day of the same shape, for warm-up passes and
    * the small end of the single-thread slope.
    */
  def warmDaySpec(dir: File): FixtureLog.Spec = FixtureLog.Spec(
    dir = dir.getPath, nFiles = DayFiles, framesPerFile = 200,
    nMarkets = DayMarkets, assetsPerMarket = 2, seed = 7L)

  /** Lines of a spec's files: each file adds a dimension frame, a
    * ready frame and a shutdown frame to its feed frames.
    */
  def frames(spec: FixtureLog.Spec): Long = spec.nFiles.toLong * (spec.framesPerFile + 3)

  def streamSpec(dir: File, seed: Long): FixtureLog.Spec = FixtureLog.Spec(
    dir = dir.getPath, nFiles = StreamHours, framesPerFile = StreamFramesPerHour,
    nMarkets = StreamMarkets, assetsPerMarket = 2, seed = seed, compress = false)

  def warmStreamSpec(dir: File): FixtureLog.Spec = FixtureLog.Spec(
    dir = dir.getPath, nFiles = 2, framesPerFile = 200,
    nMarkets = StreamMarkets, assetsPerMarket = 2, seed = 7L, compress = false)

  /** Hour keys of a spec's files, in order (as FixtureLog names them). */
  def hours(spec: FixtureLog.Spec): Seq[String] =
    (0 until spec.nFiles).map(fi => f"2025-07-01-${10 + fi}%02d")

  /** Write the plain hourly files, then cut each into `chunks` files in
    * `chunkDir`. The file source orders by modification time, so the
    * chunks get strictly increasing mtimes in arrival order.
    */
  def writeStreamChunks(spec: FixtureLog.Spec, chunkDir: File, chunks: Int): Int = {
    val hourly = FixtureLog.write(spec)
    deleteRecursively(chunkDir)
    chunkDir.mkdirs()
    val base = 1_600_000_000_000L
    var n = 0
    hourly.foreach { path =>
      val lines = readLines(new File(path))
      val per = (lines.size + chunks - 1) / chunks
      lines.grouped(per).zipWithIndex.foreach { case (part, c) =>
        val name = new File(path).getName.stripSuffix(".jsonl")
        val f = new File(chunkDir, f"$name.c$c%02d.jsonl")
        val w = new BufferedWriter(new OutputStreamWriter(
          new FileOutputStream(f), StandardCharsets.UTF_8))
        try part.foreach { l => w.write(l); w.write('\n') } finally w.close()
        f.setLastModified(base + n * 1000L)
        n += 1
      }
    }
    n
  }

  /** The generator's structured messages, the oracle's only input. */
  def writeDump(spark: SparkSession, spec: FixtureLog.Spec, path: String): Unit = {
    import spark.implicits._
    FixtureLog.feedMessages(spec).toDF()
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  private def readLines(f: File): Vector[String] = {
    val src = scala.io.Source.fromFile(f, "UTF-8")
    try src.getLines().toVector finally src.close()
  }

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRecursively)
    f.delete(): Unit
  }

  def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).map(dirBytes).sum
    else f.length()

  def dataFiles(f: File): Int =
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).map(dataFiles).sum
    else if (f.getName.endsWith(".parquet")) 1 else 0
}
