package perfbench

import java.io.{ByteArrayOutputStream, PrintStream}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.perfbench.BusDrain
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.etl.{Clean, EtlMain, Ingest, StarSchema, Writers}

/** The benchmark's JVM: one closed-loop client over one workload.
  *
  *   Harness --workload <name> --data <dir> --out <dir> --result <file>
  *           --seconds <s> --trace <0|1> --cores <n> --ops <a,b,...>
  *
  * Set-up is the session start plus one untimed warm-up pass; that pass
  * also produces what the output checks read (each query's result as
  * parquet, or one pipeline run's sinks). Then come as many timed passes
  * as fit in `seconds`, at least one. With `--trace 1` the passes alternate between
  * untraced and traced; only traced passes carry listeners and spans.
  * The result file holds every measurement; the calling script turns it
  * into metrics and runs the checks.
  */
object Harness {
  private val etlTables = Seq("articles", "publishers", "keywords", "topics",
    "dates", "authors", "author_article_mapping", "keywords_articles_mapping")

  /** query name -> defining module, from each module's `defs` */
  private lazy val moduleOf: Map[String, String] = {
    import graft.queries._
    Seq("CoreRelational" -> CoreRelational.defs, "FilterProject" -> FilterProject.defs,
      "ScalarFuncs" -> ScalarFuncs.defs, "EventQueries" -> EventQueries.defs,
      "StarSchemaQueries" -> StarSchemaQueries.defs, "TextPipeline" -> TextPipeline.defs,
      "SourceQueries" -> SourceQueries.defs, "CurationQueries" -> CurationQueries.defs,
      "ScaleOps" -> ScaleOps.defs, "AdvancedOps" -> AdvancedOps.defs)
      .flatMap { case (m, defs) => defs.keySet.toSeq.map(_ -> m) }.toMap
  }

  final case class OpRec(name: String, seconds: Double, error: Option[String])
  final case class PassRec(traced: Boolean, wallS: Double, ops: Seq[OpRec],
      etlOut: Option[String], etlCounts: Map[String, Long],
      layers: Map[String, Double])

  /** Seconds for a fixed xorshift loop: a single-thread probe of the
    * host's effective cpu speed, taken at the start and end of a run. */
  def calibrate(): Double = {
    var x = 0x9E3779B97F4A7C15L
    var i = 0L
    val t0 = System.nanoTime()
    while (i < 100000000L) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    val dt = (System.nanoTime() - t0) / 1e9
    if (x == 42L) System.err.println("")
    dt
  }

  private def vmHwmKb(): Long = scala.io.Source.fromFile("/proc/self/status")
    .getLines().find(_.startsWith("VmHWM:"))
    .map(_.split("\\s+")(1).toLong).getOrElse(0L)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val workload = opt("workload")
    val data = opt("data")
    val out = opt("out")
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val cores = opt("cores").toInt
    val ops = opt.getOrElse("ops", "").split(",").toSeq.filter(_.nonEmpty)
    val isEtl = workload == "etl_articles"

    val calibStart = { calibrate(); calibrate() }
    val t0 = System.nanoTime()
    // the settings graft.Bench gives its session; EtlMain's own session
    // sizes shuffles by the core count, the query benches by input scale
    val shuffleParts =
      if (isEtl) cores
      else graft.Tables.derivedShuffleParts(graft.Tables.inputBytes(data), cores)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", shuffleParts)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$out/local")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9

    def force(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

    def timed(name: String)(body: => Unit): OpRec = {
      val s = System.nanoTime()
      val err =
        try { body; None }
        catch { case e: Throwable => Some(s"${e.getClass.getName}: ${e.getMessage}") }
      OpRec(name, (System.nanoTime() - s) / 1e9, err)
    }

    var etlRuns = 0
    def etlDir(): String = { etlRuns += 1; s"$out/etl/run-$etlRuns" }

    /** One EtlMain run; the per-table counts come from its own report. */
    def etlMain(dir: String): (OpRec, Map[String, Long]) = {
      val buf = new ByteArrayOutputStream()
      val rec = timed("EtlMain") {
        Console.withOut(new PrintStream(buf, true, "UTF-8")) {
          EtlMain.main(Array(dir, data))
        }
      }
      val counts = buf.toString(StandardCharsets.UTF_8).linesIterator
        .collect { case l if l.startsWith("[etl] ") && !l.contains("merged=") =>
          val Array(k, v) = l.stripPrefix("[etl] ").split("=", 2)
          k -> v.trim.toLong
        }.toMap
      (rec, counts)
    }

    /** EtlMain's calls, in its order, one span each (default mode). */
    def etlTraced(rec: SpanRecorder, dir: String): (OpRec, Map[String, Long]) = {
      val counts = mutable.LinkedHashMap.empty[String, Long]
      val r = timed("EtlMain") {
        val merged = rec.span("etl.ingest", "etl.ingest", "EtlMain") {
          val m = Ingest.readMerged(spark, Seq(data)); m.count(); m
        }
        val clean = rec.span("etl.clean", "etl.clean", "EtlMain") {
          val c = Clean(merged).cache(); c.count(); c
        }
        val tables = rec.span("etl.star", "etl.star", "EtlMain") {
          val star = StarSchema.build(clean)
          val ts = Seq(star.articles, star.publishers, star.keywords, star.topics,
            star.dates, star.authors, star.authorArticle, star.keywordArticle)
          etlTables.zip(ts).map { case (name, df) =>
            counts(name) = rec.span(s"etl.star/$name", "etl.star", "EtlMain")(df.count())
            name -> df
          }
        }
        rec.span("etl.write_csv", "etl.write_csv", "EtlMain") {
          tables.foreach { case (name, df) =>
            rec.span(s"etl.write_csv/$name", "etl.write_csv", "EtlMain") {
              Writers.writeCsv(df, s"$dir/csv/$name", singleFile = true)
            }
          }
        }
        rec.span("etl.write_insert", "etl.write_insert", "EtlMain") {
          tables.foreach { case (name, df) =>
            rec.span(s"etl.write_insert/$name", "etl.write_insert", "EtlMain") {
              Writers.writeInsertScript(df, name, s"$dir/sql/$name")
            }
          }
        }
        rec.span("etl.write_jsonl", "etl.write_jsonl", "EtlMain") {
          Writers.writeJsonl(clean, s"$dir/clean_jsonl")
        }
        clean.unpersist()
      }
      (r, counts.toMap)
    }

    // untimed warm-up pass, which also leaves the outputs to check
    val w0 = System.nanoTime()
    val warmDir = if (isEtl) Some(etlDir()) else None
    val (warmOps, warmCounts) =
      if (isEtl) { val (r, c) = etlMain(warmDir.get); (Seq(r), c) }
      else (ops.map { name =>
        timed(name) {
          SparkEntry.queries(name)(spark, data).coalesce(1)
            .write.mode("overwrite").parquet(s"$out/results/$name")
        }
      }, Map.empty[String, Long])
    val warmupS = (System.nanoTime() - w0) / 1e9

    val sc = spark.sparkContext
    val tasks = new TaskListener
    val streams = new StreamListener
    val recorder = new SpanRecorder
    val passes = mutable.ArrayBuffer.empty[PassRec]

    def runPass(traced: Boolean): PassRec = {
      if (traced) {
        sc.addSparkListener(tasks)
        spark.streams.addListener(streams)
      }
      var rddsLeft = 0
      val dir = if (isEtl) Some(etlDir()) else None
      var counts = Map.empty[String, Long]
      val p0 = System.nanoTime()
      def body: Seq[OpRec] =
        if (isEtl) {
          val (r, c) = if (traced) etlTraced(recorder, dir.get) else etlMain(dir.get)
          counts = c
          Seq(r)
        } else ops.map { name =>
          if (!traced) timed(name)(force(SparkEntry.queries(name)(spark, data)))
          else {
            val before = sc.getPersistentRDDs.size
            val module = moduleOf.getOrElse(name, "unknown")
            val r = recorder.span(s"q.$name", s"module.$module", name) {
              timed(name)(force(SparkEntry.queries(name)(spark, data)))
            }
            rddsLeft += math.max(0, sc.getPersistentRDDs.size - before)
            r
          }
        }
      val opRecs = if (traced) recorder.span("pass", "", "")(body) else body
      val wallS = (System.nanoTime() - p0) / 1e9
      val layers = mutable.LinkedHashMap.empty[String, Double]
      if (traced) {
        BusDrain(sc)
        sc.removeSparkListener(tasks)
        spark.streams.removeListener(streams)
        val c = tasks.take()
        layers ++= streams.take()
        val mb = 1024.0 * 1024.0
        layers ++= Seq(
          "spark.jobs" -> c.jobs.toDouble,
          "spark.tasks" -> c.tasks.toDouble,
          "spark.empty_task_frac" -> (if (c.tasks == 0) 0.0 else c.emptyTasks.toDouble / c.tasks),
          "spark.task_s" -> c.taskNs / 1e9,
          "spark.cpu_s" -> c.cpuNs / 1e9,
          "spark.gc_s" -> c.gcMs / 1e3,
          "spark.busy_frac" -> c.taskNs / 1e9 / (wallS * cores),
          "spark.skew" -> c.skew,
          "spark.shuffle_write_mb" -> c.shuffleWriteBytes / mb,
          "spark.spill_mb" -> c.spillBytes / mb,
          "spark.peak_exec_mem_mb" -> c.peakExecMem / mb,
          "spark.input_mb" -> c.inputBytes / mb,
          "spark.output_mb" -> c.outputBytes / mb,
          "spark.failed_tasks" -> c.failedTasks.toDouble,
          "spark.rdds_left" -> rddsLeft.toDouble)
        if (isEtl) {
          layers("etl.jobs") = c.jobs.toDouble
          layers("etl.input_bytes") = c.inputBytes.toDouble
        }
      }
      PassRec(traced, wallS, opRecs, dir, counts, layers.toMap)
    }


    // whole passes only: another one starts while it is expected to end
    // within `seconds`; a traced run has at least one pass of each kind
    val m0 = System.nanoTime()
    def elapsed = (System.nanoTime() - m0) / 1e9
    def typicalPass = { val w = passes.map(_.wallS).sorted; w(w.size / 2) }
    while (passes.isEmpty || elapsed + typicalPass <= seconds ||
        (trace && !(passes.exists(_.traced) && passes.exists(!_.traced)))) {
      passes += runPass(trace && passes.size % 2 == 1)
    }
    val measureS = elapsed
    val calibEnd = calibrate()
    val hwm = vmHwmKb()
    spark.stop()

    val json = Json.obj(
      "workload" -> workload,
      "cores" -> cores,
      "shuffle_partitions" -> shuffleParts,
      "session_s" -> sessionS,
      "warmup_s" -> warmupS,
      "measure_s" -> measureS,
      "calib_start_s" -> calibStart,
      "calib_end_s" -> calibEnd,
      "vm_hwm_kb" -> hwm,
      "oracle_sql" -> ops.flatMap(o => SparkEntry.oracleSql.get(o).map(o -> _)).toMap,
      "warmup" -> Json.obj(
        "ops" -> warmOps.map(opJson),
        "etl_out" -> warmDir.orNull,
        "etl_counts" -> warmCounts),
      "passes" -> passes.map(p => Json.obj(
        "traced" -> p.traced,
        "wall_s" -> p.wallS,
        "ops" -> p.ops.map(opJson),
        "etl_out" -> p.etlOut.orNull,
        "etl_counts" -> p.etlCounts,
        "layers" -> p.layers)),
      "spans" -> recorder.spans.map(s => Json.obj(
        "id" -> s.id, "name" -> s.name, "layer" -> s.layer, "parent" -> s.parent,
        "op" -> s.op, "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
    Files.write(Paths.get(opt("result")), Json(json).getBytes(StandardCharsets.UTF_8))
  }

  private def opJson(r: OpRec) =
    Json.obj("name" -> r.name, "s" -> r.seconds, "error" -> r.error.orNull)
}

/** Minimal JSON writer for the result file. */
object Json {
  def obj(kv: (String, Any)*): Map[String, Any] = kv.toMap

  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case o: Option[_] => o.map(apply).getOrElse("null")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
}
