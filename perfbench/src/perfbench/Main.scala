package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}

import graft.pipeline.{ParseStage, Seasons}
import graft.pipeline.Seasons.{DatasetFiles, SeasonConfig}
import graft.sources.CanSchema

/** Telemetry-pipeline benchmark driver. Runs one season run of a
  * workload and writes its result as JSON to `--out`;
  * `perfbench/run.py` builds this program, runs it and prints the
  * result line.
  *
  * Workloads (why each was chosen is repeated in BENCHMARK.json):
  *  - parse_wide: a 2020-shaped season (408-field schema on the wide
  *    CanDecode path, mab20 on, four clock-fixed logs plus a
  *    reference-DB log at 2 kHz), run through a copy of the parse
  *    phase of `Seasons.run` (see [[runSeason]]). Cold planning and
  *    code generation of the wide decode take most of its time.
  *  - resample_dense: a 2022-shaped season (60-field narrow path) at
  *    ~20 lines/s over ten minutes through `runAll` at 100ms and 1s
  *    with forecast and GPS. The resample, forecast and gps stages
  *    take most of its time, mostly per-stage fixed cost; the second
  *    period re-reads the first period's parse output.
  */
object Main {

  /** The seed whose output checksums `expected_checksums.json` records
    * (`DEFAULT_SEED` in run.py). */
  val DefaultSeed = 1L

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        out: Path, work: Path, cpus: Int, scale: Double)

  def parseArgs(a: Array[String]): Args = {
    val m = a.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    def int(k: String) = scala.util.Try(need(k).toInt).getOrElse(
      throw new IllegalArgumentException(s"--$k must be an integer, got '${need(k)}'"))
    val args = Args(need("workload"),
      scala.util.Try(need("seed").toLong).getOrElse(
        throw new IllegalArgumentException(s"--seed must be an integer")),
      int("seconds"), need("trace") == "1", Paths.get(need("out")),
      Paths.get(need("work")), int("cpus"),
      scala.util.Try(m.getOrElse("scale", "1").toDouble).getOrElse(
        throw new IllegalArgumentException("--scale must be a number")))
    require(Set("parse_wide", "resample_dense")(args.workload),
      s"unknown workload ${args.workload}")
    require(args.seconds >= 1 && args.cpus >= 1 && args.scale > 0,
      "--seconds, --cpus and --scale must be positive")
    args
  }

  // ---------------------------------------------------------------- session

  def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cpus}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", a.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", s"${16 * 1024 * 1024}")
      .config("spark.shuffle.sort.bypassMergeThreshold", "1")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .config("spark.sql.streaming.checkpointLocation", a.work.resolve("chk").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def stopSession(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
  }

  // -------------------------------------------------------------- utilities

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of nothing")
    val s = xs.sorted; val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt; val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val st = Files.walk(p)
      try st.iterator().asScala.filter(f => Files.isRegularFile(f) &&
          f.getFileName.toString.endsWith(".parquet")).map(Files.size).sum
      finally st.close()
    }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val st = Files.walk(p)
    try st.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally st.close()
  }

  def now(): Double = System.nanoTime() / 1e9

  /** Order-independent checksum of a table, `<rows>:<hash sum>`: row
    * count plus the sum of a 64-bit hash of every row, columns taken by
    * name, doubles rounded to 6 decimals so summation order inside
    * averages cannot move it. */
  def checksum(df: DataFrame): String = {
    val cols = df.schema.fields.sortBy(_.name).toSeq.map { f =>
      f.dataType match {
        case DoubleType | FloatType => round(col(f.name).cast("double"), 6)
        case _ => col(f.name)
      }
    }
    val r = df.withColumn("__h", xxhash64(cols: _*).cast("decimal(38,0)"))
      .agg(count(lit(1)), sum("__h")).collect()(0)
    s"${r.getLong(0)}:${Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0")}"
  }

  /** Heap the session still holds after a run: used heap right after
    * a full collection, once the listener bus has drained and the
    * context cleaner has released what the first collection freed.
    * Taken outside the timed region. */
  def retainedHeapMb(spark: SparkSession): Double = {
    for (_ <- 0 until 2) {
      org.apache.spark.PerfbenchBridge.drainListenerBus(spark.sparkContext)
      System.gc()
      Thread.sleep(200)
    }
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed /
      (1024.0 * 1024.0)
  }

  // ------------------------------------------------------------- workloads

  /** One generated season: the config `runAll` receives plus what the
    * checks expect of its outputs. */
  final case class Season(cfg: SeasonConfig, csv: String, gpx: Seq[String],
                          schema: Gen.Schema, files: Seq[Gen.LogFile],
                          /** parse output tag (`d<i>`/`db<i>`) → expectation */
                          parsed: Seq[(String, Gen.Expect)],
                          /** period → final-table row count */
                          finalRows: Map[String, Long],
                          lines: Long, bytes: Long,
                          /** run only the season's parse phase */
                          parseOnly: Boolean = false) {
    def tags: Seq[(DatasetFiles, String)] = {
      val (refSets, mainSets) = cfg.datasets.partition(_.isReferenceDb)
      mainSets.zipWithIndex.map { case (d, i) => (d, s"d$i") } ++
        refSets.zipWithIndex.map { case (d, i) => (d, s"db$i") }
    }
  }

  /** Rows of the final table: the union of each dataset's bucket grid. */
  def gridRows(ranges: Seq[(Long, Long)], period: String): Long = {
    val p = graft.operators.Period.micros(period)
    val iv = ranges.map { case (lo, hi) => (Math.floorDiv(lo, p), Math.floorDiv(hi, p)) }.sortBy(_._1)
    var total = 0L; var end = Long.MinValue
    iv.foreach { case (a, b) =>
      val s = math.max(a, end + 1)
      if (b >= s) { total += b - s + 1; end = b }
    }
    total
  }

  def seasonFrom(base: SeasonConfig, dir: Path, schema: Gen.Schema,
                 main: Seq[(Seq[Gen.LogFile], Long)], ref: Option[Gen.LogFile],
                 periods: Seq[String], rnd: java.util.Random,
                 eventFrom: String, eventTo: String): Season = {
    val canIds = dir.resolve("can_ids.json"); Gen.writeSchema(canIds, schema)
    val mainExp = main.map { case (files, _) =>
      val e = new Gen.Expect(schema.columns.size); files.foreach(f => e.add(f.expect)); e
    }
    val csv = dir.resolve("solcast.csv")
    Gen.writeSolcast(csv, rnd, Gen.epochUs(eventFrom), Gen.epochUs(eventTo))
    val shiftUs = if (base.shiftBackLocalize) 3 * 3600L * 1000000L else 0L
    val gpx = dir.resolve("track.gpx")
    Gen.writeGpx(gpx, rnd, mainExp.map(e => (e.minUs - shiftUs - 300000000L, e.maxUs + 300000000L)),
      if (shiftUs > 0) 5 else 1, base.site.get.latitude, base.site.get.longitude)
    val datasets = main.map { case (files, off) =>
      DatasetFiles(if (files.size == 1) files.head.path.toString
                   else files.head.path.getParent.toString + "/*_main.log", off) } ++
      ref.map(r => DatasetFiles(r.path.toString, isReferenceDb = true))
    val all = main.flatMap(_._1) ++ ref
    Season(base.copy(canIdsPath = canIds.toString, resamplePeriods = periods,
        datasets = datasets), csv.toString, Seq(gpx.toString), schema, all,
      mainExp.zipWithIndex.map { case (e, i) => s"d$i" -> e } ++
        ref.map(r => "db0" -> r.expect),
      periods.map(p => p -> gridRows(mainExp.map(e => (e.minUs, e.maxUs)), p)).toMap,
      all.map(_.lines).sum, all.map(_.bytes).sum)
  }

  def genParseWide(a: Args, dir: Path): Season = {
    val rnd = new java.util.Random(a.seed * 7919L + 1)
    val logs = Files.createDirectories(dir.resolve("candump"))
    val ticks = math.max(200, (3000 * a.scale).toInt)
    val step = 500L // 2 kHz
    val day0 = Gen.epochUs("2020-01-29T14:00:00Z")
    // four logs of one dataset on four race days, sharing its clock fix
    val offset = -(3 * 3600L + rnd.nextInt(600)) * 1000000L
    val main = (0 until 4).map { i =>
      val shifted = day0 + i * 86400000000L + rnd.nextInt(3600) * 1000000L
      Gen.writeLog(logs.resolve(f"candump-2020-01-${29 + i}%02d_main.log"),
        Gen.wideSchema, rnd, shifted - offset, ticks, 1, step, offset, 0.04)
    }
    // the reference-DB dump overlaps every log's clock-fixed range
    val segs = main.map(f => (f.expect.minUs + 777L, ticks / 5))
    val ref = Gen.writeSegments(logs.resolve("candump-from_db0.log"), Gen.wideSchema, rnd,
      segs, 1, step * 2, 0L, 0.04)
    seasonFrom(Seasons.season2020(dir.toString), dir, Gen.wideSchema, Seq((main, offset)),
      Some(ref), Seq("1min"), rnd, "2020-01-29T03:00:00Z", "2020-02-03T03:00:00Z")
      .copy(parseOnly = true)
  }

  def genResampleDense(a: Args, dir: Path): Season = {
    val rnd = new java.util.Random(a.seed * 104729L + 2)
    val logs = Files.createDirectories(dir.resolve("candump"))
    val files = 4
    val ticksPerFile = math.max(100, (750 * a.scale).toInt)
    val step = 200000L // 5 ticks/s, 4 frames each: ~20 lines/s
    var t = Gen.epochUs("2022-03-17T12:00:00Z") + rnd.nextInt(3600) * 1000000L
    val fs = (0 until files).map { i =>
      val f = Gen.writeLog(logs.resolve(f"candump-2022-03-17_$i%02d_main.log"), Gen.narrowSchema,
        rnd, t, ticksPerFile, 4, step, 0L, 0.04)
      t = f.expect.maxUs + step
      f
    }
    seasonFrom(Seasons.season2022(dir.toString), dir, Gen.narrowSchema, Seq((fs, 0L)), None,
      Seq("100ms", "1s"), rnd, "2022-03-16T03:00:00Z", "2022-03-24T03:00:00Z")
  }

  // ----------------------------------------------------------- batch runs

  final case class RunResult(wallS: Double, ok: Boolean, error: String,
                             checksums: Map[String, String], outBytes: Long,
                             /** per dataset: seconds until its parse output committed */
                             parseCommitS: Seq[Double] = Nil, heapMb: Double = 0.0)

  /** `runAll`, or for a parse-only season a copy of the parse phase of
    * `Seasons.run`: every dataset's `ParseStage.run`, in parallel, each
    * to its own `parsed_<season>_<tag>` output. `Seasons.run` has no
    * entry point that stops after the parse, and past it the 408-field
    * season's resample, forecast and gps stages cost over a minute
    * more, so the copy is timed instead: a change to how `Seasons.run`
    * orders or schedules the parse does not show up in parse_wide. */
  def runSeason(spark: SparkSession, s: Season, out: Path): Unit =
    if (!s.parseOnly) Seasons.runAll(spark, s.cfg, out.toString, Some(s.csv), s.gpx)
    else {
      val schema = CanSchema.load(s.cfg.canIdsPath)
      graft.sources.Sinks.inParallelMap(s.tags.map { case (d, tag) => () =>
        ParseStage.run(spark, d.candumpGlob, schema,
          outputPath = Some(out.resolve(s"parsed_${s.cfg.name}_$tag").toString),
          offsetMicros = d.offsetMicros, mab20Workaround = s.cfg.mab20Workaround)
      })
    }

  /** Parse output rows and per-signal sums, then final-table row counts.
    * With `withChecksums`, returns each output table's checksum: by
    * period, or by parse tag for a parse-only season. */
  def checkSeason(spark: SparkSession, s: Season, out: Path,
                  withChecksums: Boolean): Map[String, String] = {
    val cols = s.schema.columns
    val parsed = s.parsed.map { case (tag, e) =>
      val df = spark.read.parquet(out.resolve(s"parsed_${s.cfg.name}_$tag").toString)
        .withColumn("file", regexp_extract(col("file"), "[^/]*$", 0))
      val missing = cols.filterNot(df.columns.contains)
      require(missing.isEmpty, s"parse output $tag lacks ${missing.take(3).mkString(",")}")
      // summed on the driver: parse outputs here are small, and a
      // 408-column aggregate costs seconds of planning and codegen
      val rows = df.select(cols.map(col): _*).collect()
      require(rows.length == e.rows, s"parse output $tag: ${rows.length} rows, expected ${e.rows}")
      val got = new Array[Double](cols.size)
      rows.foreach { row =>
        for (i <- cols.indices if !row.isNullAt(i))
          got(i) += row.get(i).asInstanceOf[Number].doubleValue
      }
      cols.zipWithIndex.foreach { case (c, i) =>
        val want = e.sums(i)
        require(math.abs(got(i) - want) <= 1e-6 + 1e-9 * math.abs(want),
          s"parse output $tag: sum($c) = ${got(i)}, expected $want")
      }
      tag -> df
    }
    val tables = if (s.parseOnly) parsed else s.cfg.resamplePeriods.map { p =>
      val df = spark.read.parquet(out.resolve(s"$p/final_${s.cfg.name}").toString)
      val n = df.count()
      require(n == s.finalRows(p), s"final table $p: $n rows, expected ${s.finalRows(p)}")
      p -> df
    }
    if (withChecksums) tables.map { case (k, df) => k -> checksum(df) }.toMap else Map.empty
  }

  /** One season run into a fresh output directory, then its checks.
    * A watcher thread notes when each dataset's parse output commits
    * (its `_SUCCESS` marker appears), counted from the start of the run. */
  def batchRun(spark: SparkSession, s: Season, out: Path, withChecksums: Boolean): RunResult = {
    deleteTree(out)
    val committed = new ConcurrentHashMap[String, java.lang.Double]()
    @volatile var watching = true
    val t0 = now()
    val watcher = new Thread(() => {
      while (watching && committed.size < s.parsed.size) {
        s.parsed.foreach { case (tag, _) =>
          if (!committed.containsKey(tag) && Files.exists(
                out.resolve(s"parsed_${s.cfg.name}_$tag").resolve("_SUCCESS")))
            committed.put(tag, now() - t0)
        }
        Thread.sleep(2)
      }
    }, "perfbench-commit-watcher")
    watcher.setDaemon(true)
    watcher.start()
    try {
      runSeason(spark, s, out)
      val wall = now() - t0
      watching = false; watcher.join()
      val heap = retainedHeapMb(spark)
      val commits = s.parsed.map { case (tag, _) =>
        Option(committed.get(tag)).map(_.doubleValue).getOrElse(wall) }
      val sums = checkSeason(spark, s, out, withChecksums)
      RunResult(wall, ok = true, "", sums, dirBytes(out), commits, heap)
    } catch {
      case e: Exception =>
        RunResult(now() - t0, ok = false, s"${e.getClass.getSimpleName}: ${e.getMessage}",
          Map.empty, 0L)
    } finally { watching = false; deleteTree(out) }
  }

  /** Set-up: the one session start the measured run then uses, timed
    * from the builder call until the session is up. Nothing runs in it
    * before the season run, so that run stays cold. */
  def setUp(a: Args): (SparkSession, Double) = {
    val t0 = now()
    val spark = session(a)
    (spark, now() - t0)
  }

  /** A season run as its user runs it: in a fresh session of a fresh
    * JVM, so code generation and JIT warm-up are part of the cost.
    * Exactly one run is measured, however long `--seconds` is: a
    * second run in this JVM would be warm and measure something else. */
  def benchBatch(a: Args, s: Season): Result = {
    val (spark, setupS) = setUp(a)
    // checksums are compared only against those recorded for the
    // default seed; with one run per process nothing else uses them
    val r = try batchRun(spark, s, a.work.resolve("run0"), withChecksums = a.seed == DefaultSeed)
      finally stopSession(spark)
    val metrics =
      if (!r.ok) Map.empty[String, (Double, String)]
      else Map(
        "wall_s" -> (r.wallS, "s"),
        "lines_per_s" -> (s.lines / r.wallS, "lines/s"),
        "setup_s" -> (setupS, "s"),
        "heap_retained_mb" -> (r.heapMb, "MB"),
        "out_bytes_per_line" -> (r.outBytes.toDouble / s.lines, "B/line"))
    Result(1, if (r.ok) 0 else 1, metrics, if (r.ok) Seq(r.checksums) else Nil,
      if (r.ok) Nil else Seq(r.error),
      Map("lines" -> s.lines.toDouble, "input_bytes" -> s.bytes.toDouble))
  }

  final case class Result(attempted: Int, failed: Int, metrics: Map[String, (Double, String)],
                          checksums: Seq[Map[String, String]], errors: Seq[String],
                          info: Map[String, Double])

  // ------------------------------------------------------------- main

  def writeResult(a: Args, r: Result, spans: Seq[Map[String, Any]]): Unit = {
    def j(x: Any): AnyRef = x match {
      case m: Map[_, _] => m.map { case (k, v) => k.toString -> j(v) }.asJava
      case s: Seq[_] => s.map(j).asJava
      case d: Double => java.lang.Double.valueOf(d)
      case i: Int => java.lang.Integer.valueOf(i)
      case l: Long => java.lang.Long.valueOf(l)
      case b: Boolean => java.lang.Boolean.valueOf(b)
      case o => o.toString
    }
    val doc = Map(
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
      "trace" -> a.trace, "cpus" -> a.cpus, "scale" -> a.scale,
      "attempted" -> r.attempted, "failed" -> r.failed,
      "metrics" -> r.metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "checksums" -> r.checksums, "errors" -> r.errors, "info" -> r.info,
      "spans" -> spans)
    val tmp = a.out.resolveSibling(a.out.getFileName.toString + ".tmp")
    new com.fasterxml.jackson.databind.ObjectMapper().writerWithDefaultPrettyPrinter()
      .writeValue(tmp.toFile, j(doc))
    Files.move(tmp, a.out, StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
  }

  def main(argv: Array[String]): Unit = {
    val a = parseArgs(argv)
    Files.createDirectories(a.work)
    val inputs = Files.createDirectories(a.work.resolve("inputs"))
    val s = if (a.workload == "parse_wide") genParseWide(a, inputs) else genResampleDense(a, inputs)
    val (r, spans) = if (a.trace) Traced.batch(a, s) else (benchBatch(a, s), Nil)
    writeResult(a, r, spans)
  }
}
