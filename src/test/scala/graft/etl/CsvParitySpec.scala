package graft.etl

import java.nio.charset.{Charset, StandardCharsets}
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Byte-level CSV quoting parity with the reference's pandas `to_csv`
  * (DB/ETL.ipynb c52): RFC 4180 — quote fields containing delimiter,
  * quote, or newline; DOUBLE embedded quotes (`""`), never backslash-
  * escape. The goldens are the two literal rows of
  * `DB/Tables/authors.csv` that contain embedded quotes, read from the
  * reference file itself, plus a synthetic stress row covering the
  * newline case the reference data happens not to exercise.
  */
class CsvParitySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def writtenText(rows: Seq[(Long, String, String, String)]): String = {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-csv").toString
    Writers.writeCsv(
      rows.toDF("AuthorID", "FullName", "Country", "University"),
      dir, singleFile = true)
    val part = Files.list(Paths.get(dir)).iterator.asScala
      .find(_.getFileName.toString.endsWith(".csv")).get
    new String(Files.readAllBytes(part), StandardCharsets.UTF_8)
  }

  /** The reference file's lines; the test is canceled, not failed,
    * where the reference corpus is absent. */
  private def referenceLines(path: Path, cs: Charset): java.util.List[String] = {
    assume(Files.exists(path), s"reference corpus absent: $path")
    Files.readAllLines(path, cs)
  }

  test("embedded quotes are doubled exactly as the reference CSV (literal golden rows)") {
    val refLines = referenceLines(
      Paths.get("/root/reference/DB/Tables/authors.csv"), StandardCharsets.UTF_8).asScala
    val goldens = refLines.filter(_.contains("\"\"")).toSeq
    assert(goldens.size === 2, "expected the two doubled-quote rows in authors.csv")

    // parse the golden lines back to fields (RFC 4180) and re-emit them
    val fields = goldens.map { l =>
      // AuthorID,FullName,Country,University with quoting — parse with
      // a tiny state machine to avoid trusting the writer under test
      val out = scala.collection.mutable.ArrayBuffer[String]()
      val cur = new StringBuilder
      var inQ = false; var i = 0
      while (i < l.length) {
        val c = l.charAt(i)
        if (inQ && c == '"' && i + 1 < l.length && l.charAt(i + 1) == '"') { cur += '"'; i += 1 }
        else if (c == '"') inQ = !inQ
        else if (c == ',' && !inQ) { out += cur.result(); cur.clear() }
        else cur += c
        i += 1
      }
      out += cur.result()
      (out(0).toLong, out(1), out(2), out(3))
    }
    val text = writtenText(fields)
    goldens.foreach { g =>
      assert(text.contains(g + "\n"), s"writer did not reproduce reference row byte-for-byte:\n$g\nwrote:\n$text")
    }
  }

  test("delimiter/newline/quote stress row encodes RFC 4180") {
    val text = writtenText(Seq((1L, "Multi\nLine", "A,B", "q\"q")))
    assert(text === "AuthorID,FullName,Country,University\n1,\"Multi\nLine\",\"A,B\",\"q\"\"q\"\n",
      s"unexpected encoding:\n$text")
  }
}
