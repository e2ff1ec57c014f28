package graft.etl

import scala.collection.mutable

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
    // every Dataset this run persists; released in `finally`, so a run
    // that throws leaves nothing cached in a caller's session either
    val cached = mutable.ArrayBuffer.empty[DataFrame]
    def persist(df: DataFrame): DataFrame = { cached += df; df.persist() }
    try {
      // Each table's plan is evaluated once. `clean` is materialized
      // first (the ingest's row count rides that job as an
      // Observation). The dims the fact and bridges broadcast are
      // persisted up front, so those plans read the cached dims instead
      // of re-running their two-phase rank. Every table's first action
      // is its parallel INSERT write: it fills the table's cache and
      // counts the rows on the way. The single-file CSV then reads the
      // cache, so its coalesce(1) never collapses the table's own
      // stages into one task. A fact or bridge table is released right
      // after its two writes, so at most one of them is cached at a time.
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
      // re-evaluate the plan and could assign DIFFERENT ids
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

      val counts = mutable.Map.empty[String, Long]
      def write(name: String, df: DataFrame): Unit = {
        counts(name) = Writers.writeInsertScriptCounted(df, name, s"$outDir/sql/$name")
        Writers.writeCsv(df, s"$outDir/csv/$name", singleFile = true)
      }
      Seq("topics" -> topicsDim, "dates" -> datesDim,
        "keywords" -> keywordsDim, "authors" -> authorsDim)
        .foreach { case (name, df) => write(name, df) }
      Seq("publishers" -> star.publishers, "articles" -> star.articles,
        "author_article_mapping" -> authorBridge,
        "keywords_articles_mapping" -> keywordBridge)
        .foreach { case (name, df) => write(name, persist(df)); df.unpersist() }
      tableOrder.foreach(name => println(s"[etl] $name=${counts(name)}"))
      Writers.writeJsonl(clean, s"$outDir/clean_jsonl")
    } finally {
      cached.foreach(_.unpersist())
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
}
