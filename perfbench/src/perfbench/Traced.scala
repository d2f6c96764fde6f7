package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, regexp_extract}

import graft.operators.{CanDecode, TimeSeries}
import graft.pipeline.{ParseStage, ResampleStage, SolarStage, UnifyStages}
import graft.sources.{CanSchema, Candump, Gpx}

import Main._

/** The traced run: per-layer numbers for the table later changes cite.
  *
  * The season is run stage by stage through the public entry points,
  * each stage's input materialized (parquet) before its span opens, so
  * a span covers only its own stage; row counts and plan shapes are
  * taken between spans. `seasons` spans cover what `Seasons.run` adds
  * around the stages: the unify union and the final dedup and write,
  * summed over its spans. `candump` and
  * `candecode` are isolated re-runs of the parse stage's first two
  * layers on the same logs; `parse` is `ParseStage.run` end to end, so
  * its time includes the work those two isolate. The `stream` span is
  * an open loop through `StreamingParse.decodedStream`.
  *
  * Tracing overhead is `run.wall_s_traced` (the same fresh-session
  * season run as the untraced `wall_s`, with the listeners attached)
  * minus the untraced `wall_s`.
  */
object Traced {

  /** open-loop replay length, one file per second */
  val MaxReplayFiles = 4

  val Common = Seq("self_s", "jobs", "tasks", "task_busy_s", "driver_wait_s", "gc_s")

  /** Stage-by-stage replica of `Seasons.run` per period, in spans.
    * Returns the final tables' checksums (period → checksum). */
  def seasonPass(spark: SparkSession, tr: Tracer, s: Season, out: Path): Map[String, String] = {
    val cfg = s.cfg
    val schema = CanSchema.load(cfg.canIdsPath)
    val mat = out.resolve("_mat")
    def write(df: DataFrame, p: Path): Unit = df.write.mode("overwrite").parquet(p.toString)
    def read(p: Path): DataFrame = spark.read.parquet(p.toString)
    def shape(sp: tr.Span, df: DataFrame): Unit = {
      val c = PlanShape.of(df)
      sp.attrs("exchanges") = sp.attrs.getOrElse("exchanges", 0.0) + c.exchanges
      sp.attrs("non_wscg_nodes") = sp.attrs.getOrElse("non_wscg_nodes", 0.0) + c.nonWscgNodes
    }
    {
      var boundaryBytes = 0L
      val parsed = s.tags.map { case (d, tag) =>
        val framesP = mat.resolve(s"frames_$tag")
        val lines = spark.read.text(d.candumpGlob).count()
        tr.span("candump") { sp =>
          val frames = Candump.cropToFileRange(Candump.frames(spark, d.candumpGlob, d.offsetMicros))
          write(frames, framesP)
          sp.attrs("lines") = lines.toDouble
        }
        val nFrames = read(framesP).count()
        tr.spans.last.attrs("frames") = nFrames.toDouble
        shape(tr.spans.last, Candump.cropToFileRange(Candump.frames(spark, d.candumpGlob, d.offsetMicros)))

        val decodedP = mat.resolve(s"decoded_$tag")
        tr.span("candecode") { _ =>
          write(CanDecode.decodeWide(read(framesP), schema, cfg.mab20Workaround,
            keys = Seq("file", "chunk")), decodedP)
        }
        val dec = tr.spans.last
        dec.attrs("frames_in") = nFrames.toDouble
        dec.attrs("rows_out") = read(decodedP).count().toDouble
        dec.attrs("frames_decoded") = CanDecode.decodeLong(read(framesP), schema,
            cfg.mab20Workaround, carryCols = Seq("line_id", "match_no"))
          .select("line_id", "match_no").distinct().count().toDouble
        shape(dec, CanDecode.decodeWide(read(framesP), schema, cfg.mab20Workaround,
          keys = Seq("file", "chunk")))

        val parsedP = out.resolve(s"parsed_${cfg.name}_$tag")
        tr.span("parse") { sp =>
          ParseStage.run(spark, d.candumpGlob, schema, outputPath = Some(parsedP.toString),
            offsetMicros = d.offsetMicros, mab20Workaround = cfg.mab20Workaround)
          sp.attrs("lines") = lines.toDouble
        }
        val ps = tr.spans.last
        ps.attrs("rows_out") = read(parsedP).count().toDouble
        ps.attrs("bytes_written") = dirBytes(parsedP).toDouble
        shape(ps, ParseStage.run(spark, d.candumpGlob, schema, offsetMicros = d.offsetMicros,
          mab20Workaround = cfg.mab20Workaround))
        (d, read(parsedP))
      }
      if (s.parseOnly) {
        // the parse phase as Seasons.run issues it: all datasets in parallel
        val phase = out.resolve("phase")
        tr.span("seasons") { _ => runSeason(spark, s, phase) }
        return s.parsed.map { case (tag, _) =>
          tag -> checksum(read(phase.resolve(s"parsed_${cfg.name}_$tag"))
            .withColumn("file", regexp_extract(col("file"), "[^/]*$", 0)))
        }.toMap
      }
      val (mainParsed, refParsed) = parsed.splitAt(cfg.datasets.count(!_.isReferenceDb))
      // unify (Seasons.run): reference-DB rows clipped into each dataset
      val wides = mainParsed.map(_._2)
      val unified = refParsed.map(_._2).reduceOption(_ unionByName _) match {
        case Some(refDb) => wides.map(w => TimeSeries.unionMerge(w, refDb, "timestamp"))
        case None => wides
      }
      val wide = unified.zipWithIndex
        .map { case (w, i) => w.withColumn("__dataset", lit(i)) }
        .reduce(_.unionByName(_, allowMissingColumns = true))
      val unifiedP = mat.resolve("unified")
      tr.span("seasons") { _ => write(wide, unifiedP) }
      val root = tr.spans.last
      shape(root, wide)
      val signals = schema.wideColumns.filter(wide.columns.contains)

      val sums = cfg.resamplePeriods.map { period =>
        val resP = mat.resolve(s"stage_${period}_resampled")
        tr.span("resample") { _ =>
          write(ResampleStage.run(read(unifiedP), signals, period, keys = Seq("__dataset")), resP)
        }
        val rs = tr.spans.last
        val resRows = read(resP).count()
        rs.attrs("rows_out") = resRows.toDouble
        rs.attrs("grid_cells") = resRows.toDouble * signals.size
        shape(rs, ResampleStage.run(read(unifiedP), signals, period, keys = Seq("__dataset")))
        boundaryBytes += dirBytes(resP)

        val fcP = mat.resolve(s"stage_${period}_forecast")
        def forecast(): DataFrame = {
          val site = cfg.site.get
          val raw = SolarStage.readSolcastCsv(spark, s.csv)
          val periodSec = SolarStage.inferPeriodSec(raw)
          val f = cfg.event match {
            case Some((a, b)) => SolarStage.withPoaEnergy(raw, site, a, b, periodSec)
            case None => SolarStage.withPoa(raw, site, periodSec)
          }
          UnifyStages.unifyForecast(read(resP), f, "timestamp", period,
            cfg.shiftBackLocalize, keys = Seq("__dataset"))
        }
        tr.span("forecast") { _ => write(forecast(), fcP) }
        val fs = tr.spans.last
        fs.attrs("rows") = read(fcP).count().toDouble
        shape(fs, forecast())
        boundaryBytes += dirBytes(fcP)

        val gpsP = mat.resolve(s"stage_${period}_gps")
        def gps(): DataFrame = UnifyStages.unifyGps(read(fcP),
          UnifyStages.processGpsTrack(Gpx.read(spark, s.gpx)), "timestamp",
          cfg.shiftBackLocalize, keys = Seq("__dataset"))
        tr.span("gps") { _ => write(gps(), gpsP) }
        val gs = tr.spans.last
        gs.attrs("rows") = read(gpsP).count().toDouble
        shape(gs, gps())

        // final dedup + write (Seasons.run / runAll)
        val fin = TimeSeries.dedupKeepFirst(read(gpsP), Seq("timestamp"), Seq("__dataset"))
          .drop("__dataset")
        val finP = out.resolve(s"$period/final_${cfg.name}")
        tr.span("seasons") { _ => write(fin, finP) }
        shape(tr.spans.last, fin)
        val n = read(finP).count()
        require(n == s.finalRows(period), s"traced final table $period: $n rows, " +
          s"expected ${s.finalRows(period)}")
        period -> checksum(read(finP))
      }.toMap
      root.attrs("boundary_bytes") = boundaryBytes.toDouble
      sums
    }
  }

  /** The season's logs replayed through the stream as an open loop. */
  def streamReplay(spark: SparkSession, tr: Tracer, s: Season, dir: Path): OpenLoop.Schedule = {
    val staged = Files.createDirectories(dir.resolve("staged"))
    val copies = s.files.take(MaxReplayFiles).map { f =>
      val p = staged.resolve(f.path.getFileName)
      Files.copy(f.path, p, StandardCopyOption.REPLACE_EXISTING)
      f.copy(path = p)
    }
    tr.span("stream") { _ =>
      OpenLoop.openLoop(spark, copies, dir, "replay", s.cfg.canIdsPath, s.cfg.mab20Workaround)
    }
  }

  /** Per-layer metrics from the spans (summed over spans of one layer)
    * and the stream's progress events. */
  def layers(a: Args, tr: Tracer): (Map[String, (Double, String)], Seq[Map[String, Any]]) = {
    val rep = tr.report()
    val byLayer = rep.groupBy(_._1.name).map { case (n, xs) =>
      n -> xs.map(_._2).reduce((x, y) => (x.keySet ++ y.keySet).map(k =>
        k -> (x.getOrElse(k, 0.0) + y.getOrElse(k, 0.0))).toMap)
    }
    def g(l: String, k: String) = byLayer.get(l).flatMap(_.get(k)).getOrElse(0.0)
    val out = mutable.LinkedHashMap.empty[String, (Double, String)]
    def put(l: String, k: String, unit: String, v: Double): Unit = out(s"$l.$k") = (v, unit)
    val unitOf = Map("self_s" -> "s", "jobs" -> "count", "tasks" -> "count",
      "task_busy_s" -> "s", "driver_wait_s" -> "s", "gc_s" -> "s")
    Seq("candump", "candecode", "parse", "seasons", "resample", "forecast", "gps", "stream")
      .foreach(l => Common.foreach(k => put(l, k, unitOf(k), g(l, k))))
    put("candump", "lines", "count", g("candump", "lines"))
    put("candump", "frames", "count", g("candump", "frames"))
    put("candump", "match_ratio", "ratio", g("candump", "frames") / math.max(1.0, g("candump", "lines")))
    put("candump", "exchanges", "count", g("candump", "exchanges"))
    put("candecode", "frames_in", "count", g("candecode", "frames_in"))
    put("candecode", "rows_out", "count", g("candecode", "rows_out"))
    put("candecode", "decode_ratio", "ratio",
      g("candecode", "frames_decoded") / math.max(1.0, g("candecode", "frames_in")))
    put("candecode", "spill_bytes", "B", g("candecode", "spill_bytes"))
    put("candecode", "non_wscg_nodes", "count", g("candecode", "non_wscg_nodes"))
    put("candecode", "exchanges", "count", g("candecode", "exchanges"))
    val msPerLine = g("parse", "self_s") * 1000 / math.max(1.0, g("parse", "lines"))
    put("parse", "ms_per_line", "ms/line", msPerLine)
    put("parse", "ms_per_line_core", "ms/line", msPerLine * a.cpus)
    put("parse", "rows_out", "count", g("parse", "rows_out"))
    put("parse", "bytes_written", "B", g("parse", "bytes_written"))
    put("parse", "exchanges", "count", g("parse", "exchanges"))
    put("seasons", "boundary_bytes", "B", g("seasons", "boundary_bytes"))
    put("seasons", "exchanges", "count", g("seasons", "exchanges"))
    put("resample", "grid_cells", "count", g("resample", "grid_cells"))
    put("resample", "shuffle_bytes", "B", g("resample", "shuffle_bytes"))
    put("resample", "spill_bytes", "B", g("resample", "spill_bytes"))
    put("resample", "rows_out", "count", g("resample", "rows_out"))
    put("resample", "exchanges", "count", g("resample", "exchanges"))
    Seq("forecast", "gps").foreach { l =>
      put(l, "rows", "count", g(l, "rows"))
      put(l, "shuffle_bytes", "B", g(l, "shuffle_bytes"))
      put(l, "exchanges", "count", g(l, "exchanges"))
    }
    val prog = tr.progress.asScala.toSeq.map(_.progress)
    def p50(k: String) =
      if (prog.isEmpty) 0.0 else median(prog.map(p => Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)))
    put("stream", "batches", "count", prog.size.toDouble)
    put("stream", "rows_per_batch", "count",
      if (prog.isEmpty) 0.0 else median(prog.map(_.numInputRows.toDouble)))
    put("stream", "trigger_ms_p50", "ms", p50("triggerExecution"))
    put("stream", "addbatch_ms_p50", "ms", p50("addBatch"))
    put("stream", "planning_ms_p50", "ms", p50("queryPlanning"))
    put("stream", "getbatch_ms_p50", "ms", p50("getBatch"))
    val spans = rep.map { case (sp, stats) =>
      Map[String, Any]("id" -> sp.id, "name" -> sp.name, "parent" -> sp.parent,
        "start_ms" -> sp.startMs, "end_ms" -> sp.endMs, "stats" -> stats)
    }
    (out.toMap, spans)
  }

  def finish(a: Args, tr: Tracer, attempted: Int,
             errors: Seq[String], checksums: Seq[Map[String, String]],
             stream: OpenLoop.Checked, first: RunResult): (Result, Seq[Map[String, Any]]) = {
    val (m, spans) = layers(a, tr)
    tr.detach()
    val run = Map(
      "run.wall_s_traced" -> (first.wallS, "s"),
      "run.parse_commit_ms" -> (
        if (first.parseCommitS.isEmpty) 0.0 else median(first.parseCommitS) * 1000, "ms"),
      "run.backlog_files" -> (stream.backlog.toDouble, "count"),
      "run.gen_late_ms" -> (stream.genLateMs, "ms"))
    (Result(attempted, errors.size, m ++ run, checksums, errors,
      Map("spans" -> spans.size.toDouble)), spans)
  }

  /** The untraced run's season run with the listeners attached (its
    * wall time minus the untraced `wall_s` is the tracing overhead),
    * then the stage-by-stage pass and the stream replay. */
  def batch(a: Args, s: Season): (Result, Seq[Map[String, Any]]) = {
    val (spark, _) = setUp(a)
    val checksums = mutable.ArrayBuffer.empty[Map[String, String]]
    val errors = mutable.ArrayBuffer.empty[String]
    val whole = new Tracer(spark)
    whole.attach()
    val first = try batchRun(spark, s, a.work.resolve("run0"), withChecksums = true) finally whole.detach()
    if (first.ok) checksums += first.checksums else errors += first.error
    val tr = new Tracer(spark)
    tr.attach()
    val out = a.work.resolve("traced")
    try checksums += seasonPass(spark, tr, s, out)
    catch { case e: Exception => errors += s"traced pass: ${e.getMessage}" }
    finally deleteTree(out)
    val sched = streamReplay(spark, tr, s, a.work.resolve("replay"))
    val c = OpenLoop.check(spark, sched)
    errors ++= c.errors
    val r = finish(a, tr, 2 + sched.files.size, errors.toSeq, checksums.toSeq, c, first)
    stopSession(spark)
    r
  }
}
