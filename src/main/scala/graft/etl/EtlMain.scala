package graft.etl

import java.util.concurrent.{ConcurrentLinkedQueue, ExecutionException, LinkedBlockingQueue,
  ThreadFactory, ThreadPoolExecutor, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success}

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

/** CLI entry point: the reference's whole pipeline (ingest → clean →
  * star schema → sinks) over a set of scraper JSON-array files.
  *
  *   runMain graft.etl.EtlMain [--compat] <out-dir> <input.json>...
  *
  * Prints per-table row counts; writes CSV + JSONL + INSERT scripts
  * under <out-dir> — the same artifact set as DB/Tables + DB/queries.
  * `--compat` swaps in the reference-parity dimension builders
  * (per-instance keyword rows, sparse monotonic author ids).
  */
object EtlMain {
  /** The order the per-table counts are reported in. */
  private val tableOrder = Seq("articles", "publishers", "keywords", "topics",
    "dates", "authors", "author_article_mapping", "keywords_articles_mapping")

  /** Prefix of the table-writer thread names. */
  val writerThreadPrefix = "graft-etl-writer-"

  def main(args: Array[String]): Unit = {
    val compat = args.contains("--compat")
    val rest = args.filterNot(_ == "--compat")
    require(rest.length >= 2, "usage: EtlMain [--compat] <out-dir> <input.json>...")
    val outDir = rest.head
    val inputs = rest.tail.toSeq
    // reuse an already-active session (EtlMainSpec drives this exact
    // entry point in-JVM) and only own the lifecycle of a session we
    // created ourselves — stopping a caller's session would kill every
    // Spark user sharing the JVM
    val existing = SparkSession.getActiveSession
    val spark = existing.getOrElse(SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[4]"))
      .appName("graft-etl")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate())
    // the pipeline's date semantics REQUIRE UTC; on a reused session
    // force it session-scoped for the duration of the run and RESTORE
    // the caller's zone afterwards (leave their log level alone too)
    val callerTz = spark.conf.getOption("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if (existing.isEmpty) spark.sparkContext.setLogLevel("WARN")
    // every Dataset this run persists, from any writer thread; released
    // in `finally`, so a run that throws leaves nothing cached in a
    // caller's session either
    val cached = new ConcurrentLinkedQueue[DataFrame]()
    def persist(df: DataFrame): DataFrame = { cached.add(df); df.persist() }
    val writers = new WriterPool(spark.sparkContext.defaultParallelism)
    try {
      // Each table's plan is evaluated once. `clean` is materialized
      // first (the ingest's row count rides that job as an
      // Observation). The dims the fact and bridges broadcast are
      // persisted up front, so those plans read the cached dims instead
      // of re-running their two-phase rank. Then every table is written
      // from its own writer thread, as soon as the tables it reads are
      // written: the four dims, publishers and the JSONL sink at once,
      // articles after topics and dates, each bridge after its dim.
      // Spark runs jobs from separate threads concurrently, so one
      // table's tasks fill the cores while another's job is planned or
      // committed. A table's first action is its parallel INSERT write:
      // it fills the table's cache and counts the rows on the way. The
      // single-file CSV then reads the cache, so its coalesce(1) never
      // collapses the table's own stages into one task. A fact or
      // bridge table is released right after its two writes, so at
      // most the four fact and bridge tables are cached at a time
      // (MEMORY_AND_DISK), besides `clean` and the dims.
      val mergedRows = Observation()
      val merged = Ingest.readMerged(spark, inputs)
        .observe(mergedRows, count(lit(1)).as("rows"))
      val clean = persist(Clean(merged))
      val cleanRows = clean.count()
      println(s"[etl] merged=${mergedRows.get("rows")} clean=$cleanRows")

      val star = StarSchema.build(clean)
      val topicsDim = persist(star.topics)
      val datesDim = persist(star.dates)
      // compat mode must stay referentially consistent: the bridges are
      // rebuilt against the compat dims' ids (the reference's c43/c45
      // name-only fanout joins), not the default dims' dense ids.
      // localCheckpoint pins the compat dims' monotonically_increasing
      // ids: without it the dim-table write and the bridge join would
      // re-evaluate the plan and could assign DIFFERENT ids. It is
      // eager and runs here, before any writer reads the dims.
      val keywordsDim =
        if (compat) StarSchema.keywordsCompat(clean).localCheckpoint()
        else persist(star.keywords)
      val authorsDim =
        if (compat) StarSchema.authorsCompat(clean).localCheckpoint()
        else persist(star.authors)
      val authorBridge =
        if (compat) StarSchema.authorBridgeCompat(clean, authorsDim)
        else star.authorArticle
      val keywordBridge =
        if (compat) StarSchema.keywordBridgeCompat(clean, keywordsDim)
        else star.keywordArticle

      implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(writers.executor)
      /** Writes `name`'s INSERT script, then its CSV, on a writer thread
        * once every write in `after` has finished; yields the row count. */
      def write(name: String, table: => DataFrame, after: Future[Long]*): Future[Long] =
        Future.sequence(after).map { _ =>
          val df = table
          val n = Writers.writeInsertScriptCounted(df, name, s"$outDir/sql/$name")
          Writers.writeCsv(df, s"$outDir/csv/$name", singleFile = true)
          n
        }
      /** A table no other table reads: cached for its own two writes. */
      def writeReleased(name: String, df: DataFrame, after: Future[Long]*): Future[Long] =
        write(name, persist(df), after: _*).andThen { case _ => df.unpersist() }
      val topics = write("topics", topicsDim)
      val dates = write("dates", datesDim)
      val keywords = write("keywords", keywordsDim)
      val authors = write("authors", authorsDim)
      val tables = Map(
        "topics" -> topics, "dates" -> dates,
        "keywords" -> keywords, "authors" -> authors,
        "publishers" -> writeReleased("publishers", star.publishers),
        "articles" -> writeReleased("articles", star.articles, topics, dates),
        "author_article_mapping" ->
          writeReleased("author_article_mapping", authorBridge, authors),
        "keywords_articles_mapping" ->
          writeReleased("keywords_articles_mapping", keywordBridge, keywords))
      val jsonl = Future(Writers.writeJsonl(clean, s"$outDir/clean_jsonl"))
      // wait for every launched write, failed or not, before `finally`
      // releases the caches; then rethrow the first failure itself (a
      // write whose dependency failed never starts and carries that
      // same exception)
      val outcomes = Await.result(Future.sequence(
        (jsonl +: tableOrder.map(tables)).map(_.transform(Success(_)))), Duration.Inf)
      outcomes.collect { case Failure(e) => unboxed(e) }.distinct match {
        case first +: others => others.foreach(first.addSuppressed); throw first
        case _ =>
      }
      tableOrder.foreach(name => println(s"[etl] $name=${tables(name).value.get.get}"))
    } finally {
      // no writer runs past main: the pool's threads are joined first
      writers.close()
      cached.asScala.foreach(_.unpersist())
      existing.foreach { _ =>
        callerTz match {
          case Some(tz) => spark.conf.set("spark.sql.session.timeZone", tz)
          case None => spark.conf.unset("spark.sql.session.timeZone")
        }
      }
      // stop a self-created session even when the pipeline throws:
      // EtlMainSpec drives this entry point in-JVM, where a leaked
      // session would outlive the failed run
      if (existing.isEmpty) spark.stop()
    }
  }

  /** Scala futures box an `Error` or an interrupt thrown by their body
    * in an `ExecutionException`; the caller gets the original. */
  private def unboxed(e: Throwable): Throwable = e match {
    case b: ExecutionException if b.getCause != null => b.getCause
    case _ => e
  }

  /** A run's table writers: a fixed pool of `width` daemon threads named
    * `graft-etl-writer-N`. All of them start here, on the thread that
    * creates the pool, so each inherits its active session and local
    * properties. */
  private final class WriterPool(width: Int) extends ThreadFactory {
    private val started = new AtomicInteger()
    private val threads = new ConcurrentLinkedQueue[Thread]()
    val executor = new ThreadPoolExecutor(width, width, 0L, TimeUnit.MILLISECONDS,
      new LinkedBlockingQueue[Runnable](), this)
    executor.prestartAllCoreThreads()

    override def newThread(r: Runnable): Thread = {
      val t = new Thread(r, s"$writerThreadPrefix${started.incrementAndGet()}")
      t.setDaemon(true)
      threads.add(t)
      t
    }

    /** Lets queued writes finish, then joins every writer thread, so
      * none outlives the run. */
    def close(): Unit = {
      executor.shutdown()
      threads.asScala.foreach(_.join())
    }
  }
}
