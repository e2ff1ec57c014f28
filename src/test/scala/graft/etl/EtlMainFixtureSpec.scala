package graft.etl

import java.io.{ByteArrayOutputStream, File, PrintStream}
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.concurrent.{Await, Promise}
import scala.concurrent.duration._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** CLI-level end-to-end over the committed four-variant fixture
  * ([[EtlFixtures]]): drives `EtlMain.main` itself in both modes and
  * checks that every reported count agrees with the written CSV rows,
  * the INSERT statements and the library path counted directly; that
  * the run leaves nothing in the session's cache, whether it returns
  * or throws; and how many Spark jobs one run takes. */
class EtlMainFixtureSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private lazy val inputs =
    EtlFixtures.writeAll(Files.createTempDirectory("graft-etlmain-fixture"))

  private def cacheIsEmpty: Boolean =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.isEmpty

  /** Runs `body` from an empty cache (earlier suites may have left
    * entries in the shared session) and checks it leaves none. */
  private def leavesNothingCached(body: => Unit): Unit = {
    spark.catalog.clearCache()
    body
    assert(cacheIsEmpty, "EtlMain left persisted Datasets in the session's cache")
  }

  /** Runs EtlMain, returning its `[etl] k=v` report lines as a map. */
  private def runMain(args: String*): Map[String, Long] = {
    spark // the shared session must be active before main() looks for one
    val buf = new ByteArrayOutputStream()
    Console.withOut(new PrintStream(buf, true, "UTF-8"))(EtlMain.main(args.toArray))
    buf.toString(StandardCharsets.UTF_8).linesIterator
      .filter(_.startsWith("[etl] "))
      .flatMap(_.stripPrefix("[etl] ").split(" "))
      .map { kv => val Array(k, v) = kv.split("=", 2); k -> v.toLong }
      .toMap
  }

  private def csv(dir: String): DataFrame =
    spark.read.option("header", "true").option("multiLine", "true")
      .option("escape", "\"").csv(dir)

  private def insertStatements(out: String, name: String): Long =
    spark.read.text(s"$out/sql/$name")
      .filter(col("value").startsWith(s"INSERT INTO $name (")).count()

  private def withOutDir(body: String => Unit): Unit = {
    val out = Files.createTempDirectory("graft-etlmain-out").toString
    try body(out) finally Writers.deleteRecursively(new File(out))
  }

  /** Every reported table count against the artifacts and the library. */
  private def checkReport(out: String, report: Map[String, Long],
      library: Map[String, DataFrame]): Unit = {
    val merged = Ingest.readMerged(spark, inputs)
    assert(report("merged") === merged.count())
    assert(report("clean") === Clean(merged).count())
    assert(report.keySet === library.keySet ++ Set("merged", "clean"))
    library.foreach { case (name, df) =>
      val n = report(name)
      assert(n > 0L, s"$name is empty on the fixture")
      assert(csv(s"$out/csv/$name").count() === n, s"csv/$name")
      assert(insertStatements(out, name) === n, s"sql/$name statements")
      assert(df.count() === n, s"library $name")
    }
  }

  test("default mode: reported counts match the CSV, the INSERT script and the library") {
    withOutDir { out =>
      var report = Map.empty[String, Long]
      leavesNothingCached { report = runMain(out +: inputs: _*) }
      val star = StarSchema.build(Clean(Ingest.readMerged(spark, inputs)))
      checkReport(out, report, Map(
        "articles" -> star.articles, "publishers" -> star.publishers,
        "keywords" -> star.keywords, "topics" -> star.topics,
        "dates" -> star.dates, "authors" -> star.authors,
        "author_article_mapping" -> star.authorArticle,
        "keywords_articles_mapping" -> star.keywordArticle))
      assert(spark.read.json(s"$out/clean_jsonl").count() === report("clean"))
    }
  }

  test("--compat mode: reported counts match, and bridge ids resolve against the dim CSVs") {
    withOutDir { out =>
      var report = Map.empty[String, Long]
      leavesNothingCached { report = runMain(Seq("--compat", out) ++ inputs: _*) }
      val clean = Clean(Ingest.readMerged(spark, inputs))
      val star = StarSchema.build(clean)
      val keywords = StarSchema.keywordsCompat(clean).localCheckpoint()
      val authors = StarSchema.authorsCompat(clean).localCheckpoint()
      checkReport(out, report, Map(
        "articles" -> star.articles, "publishers" -> star.publishers,
        "keywords" -> keywords, "topics" -> star.topics,
        "dates" -> star.dates, "authors" -> authors,
        "author_article_mapping" -> StarSchema.authorBridgeCompat(clean, authors),
        "keywords_articles_mapping" -> StarSchema.keywordBridgeCompat(clean, keywords)))
      // the compat ids are run-dependent: the files of one run must agree
      for ((bridge, dim, id) <- Seq(
          ("author_article_mapping", "authors", "AuthorID"),
          ("keywords_articles_mapping", "keywords", "KeywordID"))) {
        val dangling = csv(s"$out/csv/$bridge").select(id)
          .join(csv(s"$out/csv/$dim").select(id), Seq(id), "left_anti").count()
        assert(dangling === 0L, s"$bridge ids missing from $dim")
      }
    }
  }

  test("a failed run leaves nothing cached in the caller's session") {
    val outFile = Files.createTempFile("graft-etlmain-notadir", ".txt").toFile
    try {
      leavesNothingCached {
        intercept[Exception](runMain(outFile.getPath +: inputs: _*))
      }
    } finally outFile.delete()
  }

  test("one EtlMain run takes a pinned number of Spark jobs") {
    // jobs are counted between two sentinel jobs; the listener sees
    // events in posting order, so once it has seen the closing
    // sentinel it has seen every job of the run
    val sc = spark.sparkContext
    @volatile var started = 0
    val seen = Map("open" -> Promise[Int](), "close" -> Promise[Int]())
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        started += 1
        Option(e.properties).flatMap(p => Option(p.getProperty("graft.sentinel")))
          .flatMap(seen.get).foreach(_.trySuccess(started))
      }
    }
    def sentinel(name: String): Int = {
      sc.setLocalProperty("graft.sentinel", name)
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty("graft.sentinel", null)
      Await.result(seen(name).future, 60.seconds)
    }
    sc.addSparkListener(listener)
    try withOutDir { out =>
      val open = sentinel("open")
      runMain(out +: inputs: _*)
      val jobs = sentinel("close") - open - 1
      // 66 jobs, on this fixture and on a 2,000-article corpus alike;
      // a per-table count() or a CSV write that recomputes its table
      // adds jobs
      assert(jobs <= 66, s"EtlMain ran $jobs Spark jobs")
    } finally sc.removeSparkListener(listener)
  }
}
