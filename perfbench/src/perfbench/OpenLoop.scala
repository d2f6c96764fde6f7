package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, regexp_extract, sum}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.sources.CanSchema
import graft.streaming.StreamingParse

import Main._

/** The streaming layer as an open loop: a generator thread moves one
  * pre-written candump file into the watched directory every second, on
  * a fixed schedule that does not wait for the stream; each file's
  * latency runs from when it was due until a micro-batch holding its
  * rows commits.
  */
object OpenLoop {

  val PeriodMs = 1000L

  def basename(uri: String): String = uri.substring(uri.lastIndexOf('/') + 1)

  /** file basename → (commit epoch ms, rows, value sum) */
  type Commits = ConcurrentHashMap[String, (Long, Long, Double)]

  /** Starts `StreamingParse.decodedStream` on `<dir>/watch_<tag>` with a
    * sink that writes each micro-batch to parquet, reads it back and
    * records per input file when its rows committed. */
  def start(spark: SparkSession, dir: Path, tag: String, canIds: String,
            mab20: Boolean, commits: Commits,
            lastBatch: java.util.concurrent.atomic.AtomicLong): StreamingQuery = {
    val watch = Files.createDirectories(dir.resolve(s"watch_$tag"))
    val sinkDir = dir.resolve(s"sink_$tag")
    val decoded = StreamingParse.decodedStream(spark, watch.toString,
      CanSchema.load(canIds), mab20)
    val sink: (DataFrame, Long) => Unit = (batch, id) => {
      val d = sinkDir.resolve(s"batch=$id").toString
      batch.write.mode("overwrite").parquet(d)
      val got = batch.sparkSession.read.parquet(d).groupBy("file")
        .agg(count(lit(1)), sum("value")).collect()
      val t = System.currentTimeMillis()
      got.foreach(r => commits.put(basename(r.getString(0)), (t, r.getLong(1), r.getDouble(2))))
      lastBatch.set(id)
    }
    decoded.writeStream
      .option("checkpointLocation", dir.resolve(s"chk_$tag").toString)
      .foreachBatch(sink)
      .start()
  }

  def waitFor(cond: => Boolean, timeoutMs: Long): Boolean = {
    val end = System.currentTimeMillis() + timeoutMs
    while (!cond && System.currentTimeMillis() < end) Thread.sleep(5)
    cond
  }

  def name(f: Gen.LogFile): String = f.path.getFileName.toString

  def move(f: Gen.LogFile, watch: Path): Unit =
    Files.move(f.path, watch.resolve(f.path.getFileName), StandardCopyOption.ATOMIC_MOVE)

  final case class Schedule(files: Seq[Gen.LogFile], due: Array[Long], moved: Array[Long],
                            commits: Commits, sinkDir: Path)

  /** Runs the open loop on a fresh query: file k is due at t0 + k
    * periods and moved in then, whatever the stream is doing. Stops the
    * query once every file committed, or 30 s after the last was due. */
  def openLoop(spark: SparkSession, files: Seq[Gen.LogFile], dir: Path, tag: String,
               canIds: String, mab20: Boolean): Schedule = {
    val commits = new Commits()
    val lastBatch = new java.util.concurrent.atomic.AtomicLong(-1L)
    val q = start(spark, dir, tag, canIds, mab20, commits, lastBatch)
    val watch = dir.resolve(s"watch_$tag")
    val n = files.size
    val t0 = System.currentTimeMillis() + 500L
    val due = Array.tabulate(n)(k => t0 + k * PeriodMs)
    val moved = new Array[Long](n)
    val gen = new Thread(() => {
      for (k <- 0 until n) {
        val wait = due(k) - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        move(files(k), watch)
        moved(k) = System.currentTimeMillis()
      }
    }, "perfbench-generator")
    gen.setDaemon(true)
    try {
      gen.start()
      gen.join()
      waitFor(files.forall(f => commits.containsKey(name(f))), 30000L)
      // let the last batch finish its trigger so its progress event is posted
      waitFor(Option(q.lastProgress).exists(_.batchId >= lastBatch.get), 10000L)
    } finally { q.stop(); q.awaitTermination(30000L) }
    Schedule(files, due, moved, commits, dir.resolve(s"sink_$tag"))
  }

  final case class Checked(latenciesMs: Seq[Double], errors: Seq[String], lastCommit: Long,
                           lines: Long, backlog: Int, genLateMs: Double, checksum: String)

  /** Per-file row counts and value sums against the generator's, plus
    * the schedule's latencies, backlog and generator lateness. */
  def check(spark: SparkSession, s: Schedule): Checked = {
    val errors = Seq.newBuilder[String]
    val lat = Seq.newBuilder[Double]
    var lastCommit = 0L; var lines = 0L
    s.files.zipWithIndex.foreach { case (f, k) =>
      Option(s.commits.get(name(f))) match {
        case None => errors += s"${name(f)} never committed"
        case Some((t, rows, total)) =>
          if (rows != f.expect.longRows)
            errors += s"${name(f)}: $rows rows, expected ${f.expect.longRows}"
          else if (math.abs(total - f.expect.valueSum) > 1e-6 + 1e-9 * math.abs(f.expect.valueSum))
            errors += s"${name(f)}: value sum $total, expected ${f.expect.valueSum}"
          else {
            lat += (t - s.due(k)).toDouble
            lastCommit = math.max(lastCommit, t); lines += f.lines
          }
      }
    }
    val scheduleEnd = s.due.last + PeriodMs
    val backlog = s.files.count(f => Option(s.commits.get(name(f))).forall(_._1 > scheduleEnd))
    val late = s.due.indices.map(k => (s.moved(k) - s.due(k)).toDouble).max
    val sinkTable = spark.read.parquet(s.sinkDir.toString).drop("batch")
      .withColumn("file", regexp_extract(col("file"), "[^/]*$", 0))
    Checked(lat.result(), errors.result(), lastCommit, lines, backlog, late, checksum(sinkTable))
  }
}
