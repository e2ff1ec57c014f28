package graft.etl

import java.io.{ByteArrayOutputStream, File, PrintStream}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.ExecutionException

import scala.concurrent.{Await, Promise}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

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

  private val tables = Seq("articles", "publishers", "keywords", "topics", "dates",
    "authors", "author_article_mapping", "keywords_articles_mapping")

  /** The CSV and INSERT output directories of `names`, and the JSONL sink's. */
  private def sinkDirs(names: Seq[String]): Seq[String] =
    names.flatMap(t => Seq(s"csv/$t", s"sql/$t")) :+ "clean_jsonl"

  private def writerThreads: Seq[String] =
    Thread.getAllStackTraces.keySet.asScala.toSeq.map(_.getName)
      .filter(_.startsWith(EtlMain.writerThreadPrefix))

  /** Runs `body` from an empty cache (earlier suites may have left
    * entries in the shared session) and checks it leaves no cached
    * Dataset and no live table-writer thread behind. */
  private def leavesNothingBehind(body: => Unit): Unit = {
    spark.catalog.clearCache()
    body
    assert(cacheIsEmpty, "EtlMain left persisted Datasets in the session's cache")
    assert(writerThreads.isEmpty, s"EtlMain left writer threads alive: $writerThreads")
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
      leavesNothingBehind { report = runMain(out +: inputs: _*) }
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
      leavesNothingBehind { report = runMain(Seq("--compat", out) ++ inputs: _*) }
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
      bridgesResolve(out)
    }
  }

  /** The compat ids are run-dependent: the files of one run must agree. */
  private def bridgesResolve(out: String): Unit =
    for ((bridge, dim, id) <- Seq(
        ("author_article_mapping", "authors", "AuthorID"),
        ("keywords_articles_mapping", "keywords", "KeywordID"))) {
      val dangling = csv(s"$out/csv/$bridge").select(id)
        .join(csv(s"$out/csv/$dim").select(id), Seq(id), "left_anti").count()
      assert(dangling === 0L, s"$bridge ids missing from $dim")
    }

  test("a failed run leaves nothing cached in the caller's session") {
    val outFile = Files.createTempFile("graft-etlmain-notadir", ".txt").toFile
    try {
      leavesNothingBehind {
        intercept[Exception](runMain(outFile.getPath +: inputs: _*))
      }
    } finally outFile.delete()
  }

  test("one failed table write: main throws its own exception after every other write finished") {
    withOutDir { out =>
      // a dangling symlink where the topics INSERT script goes: the
      // overwrite finds no directory to delete, and the write cannot
      // create one there, while the other dims, publishers and the
      // JSONL sink, launched with topics, are in flight
      Files.createDirectories(Paths.get(out, "sql"))
      Files.createSymbolicLink(Paths.get(out, "sql", "topics"),
        Paths.get(out, "no-such-dir", "topics"))
      var thrown: Throwable = null
      leavesNothingBehind { thrown = intercept[Throwable](runMain(out +: inputs: _*)) }
      assert(!thrown.isInstanceOf[ExecutionException], s"wrapped: $thrown")
      val messages = Iterator.iterate(thrown)(_.getCause).takeWhile(_ != null)
        .map(e => String.valueOf(e.getMessage)).toSeq
      assert(messages.exists(_.contains("sql/topics")),
        s"not the topics write's exception: ${messages.mkString(" | ")}")
      // articles reads topics, so it never starts; every other write,
      // the bridges launched after the failure included, runs to its end
      assert(!Files.exists(Paths.get(out, "csv", "articles")), "articles started")
      assert(!Files.exists(Paths.get(out, "sql", "articles")), "articles started")
      sinkDirs(tables.filterNot(Set("topics", "articles"))).foreach { dir =>
        assert(Files.exists(Paths.get(out, dir, "_SUCCESS")), s"$dir was not written")
      }
    }
  }

  /** Every part file under each sink directory of one run, as a sorted
    * multiset of lines. */
  private def artifacts(out: String): Map[String, Seq[String]] =
    sinkDirs(tables).map { dir =>
      val parts = Files.list(Paths.get(out, dir)).iterator.asScala.toSeq
        .filter(_.getFileName.toString.startsWith("part-"))
      dir -> parts.flatMap(Files.readAllLines(_, StandardCharsets.UTF_8).asScala).sorted
    }.toMap

  test("concurrent table writes give the same files on every run, in both modes") {
    for (mode <- Seq(Seq.empty[String], Seq("--compat"))) {
      val runs = (1 to 3).map { _ =>
        var files = Map.empty[String, Seq[String]]
        withOutDir { out =>
          leavesNothingBehind { runMain(mode ++ (out +: inputs): _*) }
          if (mode.nonEmpty) bridgesResolve(out)
          files = artifacts(out)
        }
        files
      }
      assert(runs.head.size === 17)
      assert(runs.head.values.forall(_.nonEmpty))
      runs.tail.foreach { run =>
        run.foreach { case (dir, lines) =>
          assert(lines === runs.head(dir), s"${mode.mkString} $dir differs between runs")
        }
      }
    }
  }

  test("ingest reads every path in one scan: file list, landing directory and per-file union agree") {
    val dir = new File(inputs.head).getParent
    def rows(df: DataFrame): Seq[String] = df.toJSON.collect().toSeq.sorted
    val fromFiles = Ingest.readMerged(spark, inputs)
    val fromDir = Ingest.readMerged(spark, Seq(dir))
    val perFileUnion =
      Ingest.normalize(inputs.map(Ingest.readArticles(spark, _)).reduce(_.unionByName(_)))
    assert(rows(fromFiles).size === 8)
    assert(rows(fromFiles) === rows(perFileUnion))
    assert(rows(fromDir) === rows(perFileUnion))
    // one file-source leaf per normalize branch, however many files
    def leaves(df: DataFrame): Int = df.queryExecution.optimizedPlan.collectLeaves().size
    assert(leaves(fromFiles) === leaves(fromDir))
    assert(leaves(perFileUnion) > leaves(fromFiles))
    // a path named twice is read twice, as the per-file union read it
    val once = Ingest.readArticles(spark, inputs.head).count()
    assert(Ingest.readArticles(spark, inputs.head, inputs.head).count() === 2 * once)
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
