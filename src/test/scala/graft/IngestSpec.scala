package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.functions.Sanitize
import graft.ingest._

/** Ports the reference ingest test corpus 1:1 (SURVEY.md §5.1):
  * tests/unit/test_dialect_detector.py, test_transposer.py,
  * test_csv_vertical.py, test_sanitize.py, test_csv_handler_grouping.py.
  */
class StrictCsvSpec extends AnyFunSuite {
  import StrictCsv._

  test("strict: char after closing quote raises (CPython parity)") {
    assertThrows[CsvError](parse("a,\"b\"c,d", ',', '"', strict = true))
    assert(parse("a,\"b\"c,d", ',', '"', strict = false) ==
      Vector(Vector("a", "bc", "d")))
  }

  test("doubled quote inside quoted field -> literal quote") {
    assert(parse("a,\"b\"\"x\",d", ',', '"') == Vector(Vector("a", "b\"x", "d")))
  }

  test("strict: unclosed quote at EOF raises; non-strict keeps raw") {
    assertThrows[CsvError](parse("\"unclosed,b\n", ',', '"', strict = true))
    assert(parse("\"unclosed,b\n", ',', '"', strict = false) ==
      Vector(Vector("unclosed,b\n")))
  }

  test("quote mid-field is literal") {
    assert(parse("a,b\"c,d", ',', '"') == Vector(Vector("a", "b\"c", "d")))
    assert(parse("a\"b\",c", ',', '"') == Vector(Vector("a\"b\"", "c")))
  }

  test("newline inside quotes preserved; blank lines -> empty rows; CRLF") {
    assert(parse("a,\"multi\nline\",c", ',', '"') ==
      Vector(Vector("a", "multi\nline", "c")))
    assert(parse("\n\na,b\n", ',', '"') == Vector(Vector(), Vector(), Vector("a", "b")))
    assert(parse("a,b\r\nc,d\r\n", ',', '"') == Vector(Vector("a", "b"), Vector("c", "d")))
  }

  test("space before quote -> field not quoted; empty fields") {
    assert(parse(" \"quoted\",x", ',', '"') == Vector(Vector(" \"quoted\"", "x")))
    assert(parse("a,,b", ',', '"') == Vector(Vector("a", "", "b")))
    assert(parse("a,\"\",b", ',', '"') == Vector(Vector("a", "", "b")))
  }

  test("alternate quote char") {
    assert(parse("a;'q;x';b", ';', '\'') == Vector(Vector("a", "q;x", "b")))
  }
}

class DialectDetectorSpec extends AnyFunSuite {

  test("standard comma separated (test_dialect_detector.py:17-30)") {
    val d = DialectDetector.detect(
      "id,name,date\n1,Alice,2023-01-01\n2,Bob,2023-01-02\n3,Charlie,2023-01-03")
    assert(d == Dialect(',', '"'))
  }

  test("semicolon with comma decimals (:32-42)") {
    val d = DialectDetector.detect(
      "Measure;Value;Date\nTemp;37,5;2023-10-01\nPress;1013,2;2023-10-01")
    assert(d.delimiter == ';')
  }

  test("single column integers exercise alpha (:43-59)") {
    val content = "1001\n1002\n1003\n1004"
    val d = DialectDetector.detect(content)
    val rows = StrictCsv.parse(content, d.delimiter, d.quote)
    assert(rows.forall(_.length == 1))
  }

  test("mixed types single column (:61-74)") {
    val content = "12345\nProduct_A\n2023-12-25\nadmin@example.com"
    val d = DialectDetector.detect(content)
    val rows = StrictCsv.parse(content, d.delimiter, d.quote)
    assert(rows.length == 4 && rows.head.length == 1)
  }

  test("messy quotes: delimiter inside quoted cells (:76-97)") {
    val content = "id,description,total\n" +
      "1,\"Item A, with comma\",500\n" +
      "2,\"Item B; with semicolon\",600\n" +
      "3,\"Item C\",700"
    val d = DialectDetector.detect(content)
    assert(d == Dialect(',', '"'))
    val rows = StrictCsv.parse(content, d.delimiter, d.quote)
    assert(rows(1).length == 3 && rows(1)(1) == "Item A, with comma")
  }

  test("pipe delimiter (:99-103)") {
    assert(DialectDetector.detect(
      "name|age|email\nalice|30|a@b.com\nbob|25|b@c.com").delimiter == '|')
  }

  test("header only (:105-112)") {
    assert(DialectDetector.detect("col1,col2,col3").delimiter == ',')
  }

  test("garbage falls back to excel (:114-124)") {
    assert(DialectDetector.detect("!!!@@@###$$$%%%^^^&&&***(((") == Dialect.Excel)
  }

  test("fully-quoted files over the 8 KB sample keep their quote char") {
    // every field quoted, some holding another candidate delimiter: the
    // sample boundary falls inside a quoted field at a different offset
    // in each input
    for (i <- 0 until 60) {
      val d = Seq(',', ';', '\t', '|')(i % 4)
      def row(cells: String*) = cells.map(c => "\"" + c + "\"").mkString(d.toString)
      val lines = row("id", "name", "note", "amount") +: (0 until 400).map { r =>
        row(f"$r%05d", "user " + ("x" * ((r * 7 + i) % 23)), "a, b; c | d", s"${r * 3 + i}.5")
      }
      val content = lines.mkString("\n")
      assert(content.length > DialectDetector.SampleSize)
      assert(DialectDetector.detect(content) == Dialect(d, '"'), s"input $i")
    }
  }
}

class SanitizeSpec extends AnyFunSuite {
  import Sanitize.sanitizeCellScala

  test("dangerous prefixes escaped (test_sanitize.py:18-27)") {
    assert(sanitizeCellScala("=CMD") == "'=CMD")
    assert(sanitizeCellScala("+SUM") == "'+SUM")
    assert(sanitizeCellScala("-SYSTEM") == "'-SYSTEM")
    assert(sanitizeCellScala("@IMPORT") == "'@IMPORT")
  }

  test("safe values unchanged (:29-34)") {
    assert(sanitizeCellScala("normal") == "normal")
    assert(sanitizeCellScala("123") == "123")
    assert(sanitizeCellScala("") == "")
    assert(sanitizeCellScala("alice@example.com") == "alice@example.com")
  }

  test("edge cases (:37-48)") {
    assert(sanitizeCellScala("=") == "'=")
    assert(sanitizeCellScala("+") == "'+")
    assert(sanitizeCellScala("text=value") == "text=value")
    assert(sanitizeCellScala("1+1") == "1+1")
    assert(sanitizeCellScala("===DANGER") == "'===DANGER")
  }

  test("whitespace stripped then escaped (:51-63)") {
    assert(sanitizeCellScala(" =CMD") == "'=CMD")
    assert(sanitizeCellScala("\t+SUM") == "'+SUM")
    assert(sanitizeCellScala(null) == "")
  }

  test("column expression matches scalar twin") {
    val spark = TestSpark.spark
    import spark.implicits._
    val in = Seq("=CMD", " +SUM", "normal", "", null, "1+1", "\t@x", "-5")
    val got = in.toDF("v").select(Sanitize.sanitizeCell(col("v"))).as[String].collect()
    assert(got.toSeq == in.map(Sanitize.sanitizeCellScala))
  }
}

class TransposerSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("valid vertical data: repeated anchor starts new record (test_transposer.py:9-32)") {
    val content = "Key,Value\nName,John Doe\nAge,30\nCity,New York\n" +
      "Key,Value\nName,Jane Smith\nAge,25\nCity,London"
    val (df, fields) = Transposer.parseVerticalCsv(spark, content, Dialect.Excel)
    val rows = df.collect()
    assert(rows.length == 2)
    val byName = fields.zipWithIndex.toMap
    assert(rows(0).getString(byName("Name")) == "John Doe")
    assert(rows(0).getString(byName("City")) == "New York")
    assert(rows(1).getString(byName("Name")) == "Jane Smith")
    assert(fields.contains("Name") && fields.contains("Age"))
  }

  test("single record without repeater (:35-42)") {
    val (df, fields) = Transposer.parseVerticalCsv(spark, "Name,John\nAge,30", Dialect.Excel)
    val rows = df.collect()
    assert(rows.length == 1)
    assert(rows(0).getString(fields.indexOf("Name")) == "John")
    assert(rows(0).getString(fields.indexOf("Age")) == "30")
  }

  test("malformed lines: empty line/key skipped, missing value -> \"\" (:46-60)") {
    val content = "Name,John\n\n,Ignored\nAge\nCity,   \n"
    val (df, fields) = Transposer.parseVerticalCsv(spark, content, Dialect.Excel)
    val rows = df.collect()
    assert(rows.length == 1)
    assert(rows(0).getString(fields.indexOf("Name")) == "John")
    assert(rows(0).getString(fields.indexOf("Age")) == "")
    assert(rows(0).getString(fields.indexOf("City")) == "")
    assert(!fields.contains(""))
  }

  test("values sanitized through transposition (:63-70)") {
    val (df, fields) = Transposer.parseVerticalCsv(spark, "Name,=1+1\nAge,25", Dialect.Excel)
    assert(df.collect()(0).getString(fields.indexOf("Name")) == "'=1+1")
  }

  test("quoted newline inside a value stays one field (csv.reader parity)") {
    val content = "Name,\"John\nDoe\"\nAge,30\nName,Jane\nAge,25"
    val (df, fields) = Transposer.parseVerticalCsv(spark, content, Dialect.Excel)
    val rows = df.collect()
    assert(rows.length == 2, "the embedded newline must not shear the record")
    assert(rows(0).getString(fields.indexOf("Name")) == "John\nDoe")
    assert(rows(1).getString(fields.indexOf("Name")) == "Jane")
  }

  /** The window + pivot transposition the driver-side one replaced, kept as
    * the reference: a running count of anchor keys numbers the records, and
    * a pivot on the first-seen key order takes the last value per key.
    */
  private def windowPivotTranspose(content: String): (Seq[Seq[Any]], Seq[String]) = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val raw = StrictCsv.parse(content, ',', '"', strict = false).zipWithIndex.collect {
      case (r, i) if r.nonEmpty => ("inline", i.toLong, r.head, if (r.length > 1) r(1) else null)
    }
    val kv = raw.toDF("file", "line_no", "k", "v")
      .withColumn("key", Sanitize.stripWs(coalesce(col("k"), lit(""))))
      .where(col("key") =!= "")
      .withColumn("val", Sanitize.sanitizeCell(col("v")))
    val keyOrder = kv.groupBy("key").agg(min("line_no").as("first")).orderBy("first")
      .select("key").as[String].collect().toSeq
    val w = Window.partitionBy("file").orderBy("line_no")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val out = kv.withColumn("anchor", first(col("key")).over(w))
      .withColumn("rec_id",
        greatest(sum(when(col("key") === col("anchor"), 1).otherwise(0)).over(w) - 1, lit(0)))
      .groupBy(col("file"), col("rec_id")).pivot("key", keyOrder)
      .agg(max_by(col("val"), col("line_no")))
      .orderBy("file", "rec_id").drop("file", "rec_id")
    (out.collect().map(_.toSeq).toSeq, keyOrder)
  }

  test("driver transpose == window + pivot reference over generated drops") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    def field(s: String) =
      if (s.exists(c => c == ',' || c == '"' || c == '\n')) "\"" + s.replace("\"", "\"\"") + "\""
      else s
    // repeated anchors, padded keys that strip to an anchor, empty and
    // whitespace keys, missing values, formula cells, quoted newlines
    val key = Gen.oneOf("Name", "Age", "City", " Name ", "Note", "", "  ", "\t")
    val value = Gen.oneOf("John", "", "  padded  ", "=1+1", "+SUM(A1)", "-3", "@cmd",
      "multi\nline", "a,b", "say \"hi\"")
    val row = Gen.frequency(
      8 -> (for (k <- key; v <- value) yield field(k) + "," + field(v)),
      1 -> key.map(field), // a key with no value
      1 -> Gen.const("")) // an empty row
    val drop = for (n <- Gen.choose(1, 12); rows <- Gen.listOfN(n, row)) yield rows.mkString("\n")
    var seed = Seed(7L)
    var checked = 0
    while (checked < 30) {
      drop(Gen.Parameters.default, seed).foreach { content =>
        val (df, fields) = Transposer.parseVerticalCsv(spark, content, Dialect.Excel)
        val (refRows, refFields) = windowPivotTranspose(content)
        withClue(s"drop ${content.replace("\n", "\\n")}: ") {
          assert(fields == refFields)
          assert(df.collect().map(_.toSeq).toSeq == refRows)
        }
        checked += 1
      }
      seed = seed.next
    }
  }
}

class MultilineHorizontalSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("quoted newline inside a horizontal cell stays one record") {
    val content = "id,text\n1,\"line one\nline two\"\n2,plain"
    val df = Horizontal.parseContent(spark, content, Dialect.Excel)
    val rows = df.orderBy("id").collect()
    assert(rows.length == 2)
    assert(rows(0).getString(1) == "line one\nline two")
    assert(rows(1).getString(1) == "plain")
  }

  test("short rows pad with null -> \"\"-sanitized; long rows truncate") {
    val content = "a,b,c\n1,2\n3,4,5,6"
    val df = Horizontal.parseContent(spark, content, Dialect.Excel)
    val rows = df.collect()
    assert(df.columns.toSeq == Seq("a", "b", "c"))
    assert(rows(0).getString(2) == "") // sanitize maps null -> ""
    assert(rows(1).toSeq == Seq("3", "4", "5"))
  }

  test("duplicate header names: DictReader semantics (first-seen order, last value wins)") {
    val df = Horizontal.parseContent(spark, "a,b,a\n1,2,3\n4,5,6", Dialect.Excel)
    assert(df.columns.toSeq == Seq("a", "b"))
    val rows = df.orderBy("a").collect()
    assert(rows(0).toSeq == Seq("3", "2")) // a = LAST occurrence's cell
    assert(rows(1).toSeq == Seq("6", "5"))
  }
}

class LayoutSpec extends AnyFunSuite {

  test("vertical positive (test_csv_vertical.py:10-24)") {
    val content = "Key,Value\nBrowser,Chrome\nIP,127.0.0.1\nOS,Windows\n" +
      "Key,Value\nBrowser,Firefox\nIP,192.168.0.1\nOS,Linux\n"
    assert(Layout.isVerticalLayout(content, Dialect.Excel))
  }

  test("horizontal negative (:27-31)") {
    assert(!Layout.isVerticalLayout(
      "Name,Age,City,Country\nJohn,30,NY,USA\nJane,25,LDN,UK", Dialect.Excel))
  }

  test("wide rows negative (:34-39)") {
    assert(!Layout.isVerticalLayout("K,V,Extra\nA,1,x\nB,2,y", Dialect.Excel))
  }

  test("adaptive parse delegates to transposer (:42-53)") {
    val res = Ingest.parseContent(TestSpark.spark, "Key,Value\nA,1\nKey,Value\nA,2")
    assert(res.vertical)
    assert(res.records.count() == 2)
  }

  test("empty content -> empty result (test_edge_cases.py:23-27)") {
    val res = Ingest.parseContent(TestSpark.spark, "")
    assert(res.fields.isEmpty && res.records.isEmpty)
  }
}

class GroupingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def df(rows: Seq[(String, String, String, String)]) = {
    import spark.implicits._
    rows.zipWithIndex
      .map { case ((id, n, a, c), i) => (i.toLong, id, n, a, c) }
      .toDF("__ord", "id", "name", "age", "city")
  }

  test("merges records, non-empty wins, preserves order (test_csv_handler_grouping.py:15-37)") {
    val in = df(Seq(
      ("1", "Alice", "30", "NY"),
      ("1", null, "31", ""),       // age updates, empty city must NOT clobber
      ("2", "Bob", null, null),
      ("", "NoId", null, null),    // empty id passes through
      (null, "MissingId", null, null)))
    val out = Grouping.groupRecordsById(in, Some(" id "), "__ord").collect()
    assert(out.length == 4)
    assert(out(0).getString(0) == "1" && out(0).getString(1) == "Alice"
      && out(0).getString(2) == "31" && out(0).getString(3) == "NY")
    assert(out(1).getString(0) == "2")
    assert(out(2).getString(0) == "")
    assert(out(3).getString(0) == null)
  }

  test("no id field or blank id field returns input (:8-13)") {
    val in = df(Seq(("1", "Alice", "30", "NY"), ("1", "Alicia", "30", "NY")))
    assert(Grouping.groupRecordsById(in, None, "__ord").count() == 2)
    assert(Grouping.groupRecordsById(in, Some("   "), "__ord").count() == 2)
  }
}
