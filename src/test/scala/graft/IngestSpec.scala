package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.types._

import graft.sources.{AtomicMart, DelimitedSource, Tables, XlsxSource}
import graft.fraud.FraudRules

/** A4/A5/A1 file-level behavior: delimited reads with explicit schema,
  * batch-id filename conventions, archival, mart round-trip. */
class IngestSpec extends SparkSpec {

  test("csv source reads ;-delimited file with explicit schema") {
    val dir = Files.createTempDirectory("graft_csv")
    val f = dir.resolve("transactions_01032021.txt")
    Files.writeString(f,
      "transaction_id;amount;card_num\n1;10.50;A1\n2;99.99;B2\n")
    val schema = StructType(Seq(
      StructField("transaction_id", LongType),
      StructField("amount", DoubleType),
      StructField("card_num", StringType)))
    val df = DelimitedSource.Csv(schema).load(spark, f.toString)
    val rows = df.collect().sortBy(_.getLong(0))
    assert(rows.length == 2)
    assert(rows(0).getDouble(1) == 10.50)
    assert(rows(1).getString(2) == "B2")
  }

  test("events refuses a session without nanosAsLong and leaves its conf unchanged") {
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    val e = intercept[IllegalStateException](Tables.events(s2, sf))
    assert(e.getMessage.contains("spark.sql.legacy.parquet.nanosAsLong"))
    assert(s2.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "false")
  }

  test("batch id extraction and DDMMYYYY -> ISO date (tools.py analog)") {
    assert(DelimitedSource.batchIdFromFilename("transactions_01032021.txt")
      .contains("01032021"))
    assert(DelimitedSource.batchIdToDate("01032021") == "2021-03-01")
    assert(DelimitedSource.batchIdFromFilename("no_date_here.txt").isEmpty)
  }

  test("discoverBatch finds first drop by sorted name; archive moves it") {
    val dir = Files.createTempDirectory("graft_drop")
    Files.writeString(dir.resolve("transactions_02032021.txt"), "x")
    Files.writeString(dir.resolve("transactions_01032021.txt"), "x")
    assert(DelimitedSource.discoverBatch(dir.toString)
      .contains("transactions_01032021.txt"))
    // a backlog crossing a month runs in date order, not name order
    val backlog = Files.createTempDirectory("graft_drop_backlog")
    Files.writeString(backlog.resolve("transactions_01042021.txt"), "x")
    Files.writeString(backlog.resolve("transactions_31032021.txt"), "x")
    assert(DelimitedSource.discoverBatch(backlog.toString)
      .contains("transactions_31032021.txt"))
    val archived = DelimitedSource.archive(
      dir.resolve("transactions_01032021.txt"), dir.resolve("archive"))
    assert(Files.exists(archived) && archived.toString.endsWith(".backup"))
    assert(!Files.exists(dir.resolve("transactions_01032021.txt")))

    // a daily loop calls discoverBatch once per day: it must close the
    // directory listing it opens
    val fds = Paths.get("/proc/self/fd")
    assume(Files.isDirectory(fds), "needs /proc/self/fd to count descriptors")
    def openFds(): Long = scala.util.Using.resource(Files.list(fds))(_.count())
    val before = openFds()
    (1 to 500).foreach(_ => DelimitedSource.discoverBatch(backlog.toString))
    val grown = openFds() - before
    assert(grown < 50, s"500 discoverBatch calls left $grown more descriptors open")
  }

  test("orc and json sources round-trip with explicit schemas") {
    val dir = Files.createTempDirectory("graft_fmt")
    val src = graft.sources.Tables.orders(spark, sf)
      .select("o_orderkey", "o_custkey", "o_orderstatus").limit(100)
    src.write.mode("overwrite").orc(dir.resolve("orc").toString)
    val backOrc = DelimitedSource.Orc().load(spark, dir.resolve("orc").toString)
    assert(backOrc.count() == 100 && backOrc.schema == src.schema)

    src.write.mode("overwrite").json(dir.resolve("json").toString)
    val backJson = DelimitedSource.Json(src.schema)
      .load(spark, dir.resolve("json").toString)
    assert(backJson.count() == 100 && backJson.schema == src.schema)
  }

  test("A9: avro sink + DataSourceV2 source round-trip the full type surface") {
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("graft_avro")
    // every supported flat type in one frame: long/int/double/string/
    // date/timestamp/binary/boolean, with nulls in a nullable column
    val src = graft.sources.Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"), col("ts_t"), col("event_type"),
        col("value"), to_date(col("ts_t")).as("d"),
        when(col("event_id") % 7 === 0, col("props")).as("maybe_props"),
        (col("event_id") % 2 === 0).as("flag"),
        unhex(md5(col("event_type"))).as("blob"))
      .limit(500)
      .repartition(3)
      .cache()
    graft.sources.AvroV2.write(src, dir.resolve("avro").toString)
    val back = spark.read.format("graft.sources.AvroV2")
      .load(dir.resolve("avro").toString)
    assert(back.schema.map(f => (f.name, f.dataType)) ==
      src.schema.map(f => (f.name, f.dataType)))
    // exact content equality, order-insensitive
    assert(back.count() == 500)
    assert(src.exceptAll(back).isEmpty && back.exceptAll(src).isEmpty)
    // column pruning reaches the scan
    val pruned = back.select("event_id", "flag")
    val scan = pruned.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("event_id") && !scan.contains("maybe_props"))
    // files = writer partitions
    assert(Files.list(dir.resolve("avro")).filter(_.toString.endsWith(".avro"))
      .count() == 3)
  }

  test("I27: avro aggregate pushdown — partial rows per file, exact merge, " +
      "clean fallback") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val dir = Files.createTempDirectory("graft_avro_agg")
    val src = graft.sources.Tables.events(spark, sf)
      .select(col("event_id"), col("event_type"), col("value"),
        when(col("event_id") % 5 === 0, col("user_id")).as("maybe_uid"))
      .limit(400).repartition(3).cache()
    graft.sources.AvroV2.write(src, dir.resolve("a").toString)
    val back = spark.read.format("graft.sources.AvroV2")
      .load(dir.resolve("a").toString)

    // AQE hides the scan inside stages: materialize, then walk the
    // FINAL adaptive plan
    def scansOf(df: org.apache.spark.sql.DataFrame)
        : Seq[org.apache.spark.sql.connector.read.Scan] = {
      df.collect()
      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      def rec(p: SparkPlan): Seq[org.apache.spark.sql.connector.read.Scan] =
        p match {
          case a: AdaptiveSparkPlanExec => rec(a.executedPlan)
          case q: QueryStageExec => rec(q.plan)
          case b: BatchScanExec => Seq(b.scan)
          case o => o.children.flatMap(rec)
        }
      rec(df.queryExecution.executedPlan)
    }

    val agg = back.agg(count(lit(1)).as("n"), min(col("event_id")).as("lo"),
      max(col("event_type")).as("hi"), max(col("maybe_uid")).as("mu"))
    val scans = scansOf(agg)
    assert(scans.nonEmpty && scans.head.description.startsWith("AvroAggScan"),
      s"aggregation must reach the scan: ${scans.map(_.description)}")
    // the scan emits ONLY partial-aggregate columns, never data rows
    assert(scans.head.readSchema().length == 4)
    val expect = src.agg(count(lit(1)), min(col("event_id")),
      max(col("event_type")), max(col("maybe_uid"))).collect().head
    assert(agg.collect().head.toSeq == expect.toSeq,
      "pushed partials must merge to the exact full-scan answer")

    // unsupported shapes fall back to the plain scan, same answers
    assert(scansOf(back.agg(sum(col("value")).as("s")))
      .forall(!_.description.startsWith("AvroAggScan")))
    val grouped = back.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"))
    assert(scansOf(grouped)
      .forall(!_.description.startsWith("AvroAggScan")))
    assert(grouped.collect().map(r => (r.getString(0), r.getLong(1))).toMap
      == src.groupBy(col("event_type")).agg(count(lit(1)))
        .collect().map(r => (r.getString(0), r.getLong(1))).toMap)
  }

  test("I29: filter pushdown — reader-level skip, exact answers, and the " +
      "filter+aggregate interaction") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.SparkPlan
    val dir = Files.createTempDirectory("graft_avro_flt")
    val src = graft.sources.Tables.events(spark, sf)
      .select(col("event_id"), col("event_type"), col("value"),
        when(col("event_id") % 5 === 0, col("user_id")).as("maybe_uid"))
      .limit(400).repartition(2).cache()
    graft.sources.AvroV2.write(src, dir.resolve("f").toString)
    val back = spark.read.format("graft.sources.AvroV2")
      .load(dir.resolve("f").toString)
    def scansOf(df: org.apache.spark.sql.DataFrame)
        : Seq[org.apache.spark.sql.connector.read.Scan] = {
      df.collect()
      def rec(p: SparkPlan): Seq[org.apache.spark.sql.connector.read.Scan] =
        p match {
          case a: AdaptiveSparkPlanExec => rec(a.executedPlan)
          case q: QueryStageExec => rec(q.plan)
          case b: BatchScanExec => Seq(b.scan)
          case o => o.children.flatMap(rec)
        }
      rec(df.queryExecution.executedPlan)
    }

    // numeric range + string equality + null test, all pushed
    val flt = back.filter(col("event_id") > 100L &&
      col("event_type") === "purchase" && col("maybe_uid").isNotNull)
    val fScan = scansOf(flt)
    assert(fScan.head.description.contains("PushedFilters=[")
      && fScan.head.description.contains("IsNotNull"),
      s"filters must reach the scan: ${fScan.head.description}")
    val expect = src.filter(col("event_id") > 100L &&
      col("event_type") === "purchase" && col("maybe_uid").isNotNull)
    assert(flt.count() == expect.count() && flt.count() > 0)
    assert(flt.exceptAll(expect).isEmpty && expect.exceptAll(flt).isEmpty)

    // the trap: pushed filter + pushed aggregate — the agg reader
    // must fold only the MATCHING records
    val fagg = back.filter(col("event_id") > 100L)
      .agg(count(lit(1)).as("n"), min(col("event_id")).as("lo"))
    val aScan = scansOf(fagg)
    assert(aScan.head.description.startsWith("AvroAggScan")
      && aScan.head.description.contains("GreaterThan(event_id"),
      s"agg+filter must both push: ${aScan.head.description}")
    val eagg = src.filter(col("event_id") > 100L)
      .agg(count(lit(1)), min(col("event_id"))).collect().head
    assert(fagg.collect().head.toSeq == eagg.toSeq)

    // unsupported shape (substring match) stays residual, answers equal
    val like = back.filter(col("event_type").contains("ur"))
    assert(scansOf(like).head.description.contains("PushedFilters=[]")
      || !scansOf(like).head.description.contains("Contains"))
    assert(like.count() ==
      src.filter(col("event_type").contains("ur")).count())
  }

  test("I28: reported statistics flip a small-avro join to broadcast") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.SparkPlan
    val dir = Files.createTempDirectory("graft_avro_stats")
    val dim = spark.range(200)
      .select(col("id").as("event_type_id"),
        concat(lit("t"), col("id") % 5).as("event_type"))
    graft.sources.AvroV2.write(dim, dir.resolve("dim").toString)
    val small = spark.read.format("graft.sources.AvroV2")
      .load(dir.resolve("dim").toString)
    val fact = graft.sources.Tables.events(spark, sf)
      .select(col("event_id"), col("event_type"))
    val joined = fact.join(small, Seq("event_type"))
    joined.collect()
    def hasBroadcast(p: SparkPlan): Boolean = p match {
      case a: AdaptiveSparkPlanExec => hasBroadcast(a.executedPlan)
      case q: QueryStageExec => hasBroadcast(q.plan)
      case _: BroadcastHashJoinExec => true
      case o => o.children.exists(hasBroadcast)
    }
    assert(hasBroadcast(joined.queryExecution.executedPlan),
      "a 200-row avro dim with reported stats must broadcast:\n" +
        joined.queryExecution.executedPlan.toString)
  }

  test("A6: xlsx source reads the reference's terminals workbook") {
    val path = "/root/reference/sql_project-master/data/terminals_01032021.xlsx"
    assume(Files.exists(Paths.get(path)))
    val df = XlsxSource.read(spark, path)
    assert(df.columns.toSeq == Seq("terminal_id", "terminal_type",
      "terminal_city", "terminal_address", "_source_file"))
    val rows = df.collect()
    assert(rows.length == 150) // dimension ref A1:D151 minus header
    assert(rows.forall(_.getString(0).matches("[PA]\\d+"))) // POS + ATM ids
    assert(rows.forall(r => r.getString(4).endsWith(".xlsx")))
  }

  test("A6: xlsx source reads a multi-file drop (both daily feeds)") {
    val glob = "/root/reference/sql_project-master/data/terminals_0[12]032021.xlsx"
    assume(Files.exists(Paths.get(
      "/root/reference/sql_project-master/data/terminals_02032021.xlsx")))
    val df = XlsxSource.read(spark, glob)
    assert(df.select("_source_file").distinct().count() == 2)
    assert(df.count() > 150)
  }

  test("A8: DSv2 xlsx format agrees with XlsxSource.read, one partition per workbook") {
    val glob = "/root/reference/sql_project-master/data/terminals_0[12]032021.xlsx"
    assume(Files.exists(Paths.get(
      "/root/reference/sql_project-master/data/terminals_02032021.xlsx")))
    val v2 = spark.read.format("graft.sources.XlsxV2").load(glob)
    val expected = parsedRows(Seq("01032021", "02032021").map(d =>
      Paths.get(s"/root/reference/sql_project-master/data/terminals_$d.xlsx")))
    assert(bag(rowsOf(v2)) == bag(expected))
    assert(bag(rowsOf(XlsxSource.read(spark, glob))) == bag(expected))
    // daily drops parallelize file-by-file (zip archives don't split)
    assert(v2.rdd.getNumPartitions == 2)
    // pruned projection round-trips through SupportsPushDownRequiredColumns
    val pruned = v2.select("terminal_id", "_source_file").collect()
    assert(pruned.length == expected.length &&
      pruned.forall(_.getString(1).endsWith(".xlsx")))
  }

  test("A6: xlsx parser handles inline strings, sparse cells, rich text") {
    // A synthetic workbook exercising the cell shapes the reference's
    // files don't: inlineStr cells, skipped columns, rich-text runs in
    // the shared-string table, numeric cells.
    val sheet =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
        |<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>
        |<row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>1</v></c><c r="C1" t="s"><v>2</v></c></row>
        |<row r="2"><c r="A2"><v>42</v></c><c r="C2" t="inlineStr"><is><t>inline!</t></is></c></row>
        |<row r="3"><c r="B3" t="s"><v>3</v></c></row>
        |</sheetData></worksheet>""".stripMargin
    val shared =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
        |<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" count="4" uniqueCount="4">
        |<si><t>id</t></si><si><t>name</t></si><si><t>note</t></si>
        |<si><r><t>rich</t></r><r><t> text</t></r></si>
        |</sst>""".stripMargin
    val buf = new java.io.ByteArrayOutputStream()
    val z = new java.util.zip.ZipOutputStream(buf)
    for ((n, c) <- Seq("xl/worksheets/sheet1.xml" -> sheet,
                       "xl/sharedStrings.xml" -> shared)) {
      z.putNextEntry(new java.util.zip.ZipEntry(n))
      z.write(c.getBytes("UTF-8")); z.closeEntry()
    }
    z.close()
    val rows = XlsxSource.parseWorkbook(
      new java.io.ByteArrayInputStream(buf.toByteArray))
    assert(rows.map(_.toSeq) == Seq(
      Seq("id", "name", "note"),
      Seq("42", null, "inline!"),
      Seq(null, "rich text")))
  }

  test("A6: xlsx multi-run inline strings concatenate; non-sheet1 workbooks read") {
    // Inline string with TWO rich-text runs (must concatenate, not keep
    // the last run), in a workbook whose only worksheet part is
    // sheet3.xml (sheets deleted/reordered upstream).
    val sheet =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
        |<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>
        |<row r="1"><c r="A1" t="inlineStr"><is><r><t>left</t></r><r><t> right</t></r></is></c><c r="B1"><v>5</v></c></row>
        |</sheetData></worksheet>""".stripMargin
    val buf = new java.io.ByteArrayOutputStream()
    val z = new java.util.zip.ZipOutputStream(buf)
    z.putNextEntry(new java.util.zip.ZipEntry("xl/worksheets/sheet3.xml"))
    z.write(sheet.getBytes("UTF-8")); z.closeEntry()
    z.close()
    val rows = XlsxSource.parseWorkbook(
      new java.io.ByteArrayInputStream(buf.toByteArray))
    assert(rows.map(_.toSeq) == Seq(Seq("left right", "5")))
  }

  /** An .xlsx: a zip of (part name, SpreadsheetML) entries. */
  private def writeWorkbook(path: java.nio.file.Path, parts: (String, String)*): Unit = {
    val z = new java.util.zip.ZipOutputStream(Files.newOutputStream(path))
    try for ((n, c) <- parts) {
      z.putNextEntry(new java.util.zip.ZipEntry(n))
      z.write(c.getBytes("UTF-8")); z.closeEntry()
    } finally z.close()
  }

  private def sheetXml(rows: String*): String =
    """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
      |<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>
      |""".stripMargin + rows.mkString("\n") + "\n</sheetData></worksheet>"

  /** Two generated terminal feeds, each a two-sheet workbook: a
    * shared-string header, shared and inline string cells, a sparse row
    * (B missing), and a second sheet the readers must skip. */
  private def generatedDrop(): java.nio.file.Path = {
    val dir = Files.createTempDirectory("graft_xlsx_gen")
    val shared =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
        |<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" count="4" uniqueCount="4">
        |<si><t>terminal_id</t></si><si><t>terminal_type</t></si><si><t>terminal_city</t></si>
        |<si><t>POS</t></si>
        |</sst>""".stripMargin
    val other = sheetXml("""<row r="1"><c r="A1" t="inlineStr"><is><t>not a feed</t></is></c></row>""")
    for ((day, id) <- Seq("01032021" -> "P1", "02032021" -> "P2")) {
      val feed = sheetXml(
        """<row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>1</v></c><c r="C1" t="s"><v>2</v></c></row>""",
        s"""<row r="2"><c r="A2" t="inlineStr"><is><t>$id</t></is></c><c r="B2" t="s"><v>3</v></c><c r="C2" t="inlineStr"><is><t>Riga</t></is></c></row>""",
        s"""<row r="3"><c r="A3" t="inlineStr"><is><t>${id}0</t></is></c><c r="C3"><v>42</v></c></row>""")
      writeWorkbook(dir.resolve(s"terminals_$day.xlsx"), "xl/worksheets/sheet1.xml" -> feed,
        "xl/worksheets/sheet2.xml" -> other, "xl/sharedStrings.xml" -> shared)
    }
    dir
  }

  /** Each workbook's data rows as [[XlsxSource.parseWorkbook]] decodes
    * the file directly, padded to its header's width, plus the path
    * the format reports in `_source_file`. */
  private def parsedRows(files: Seq[java.nio.file.Path]): Seq[Seq[String]] =
    files.flatMap { f =>
      val in = Files.newInputStream(f)
      val rows = try XlsxSource.parseWorkbook(in) finally in.close()
      val width = rows.head.length
      rows.drop(1).map(_.toSeq.take(width).padTo(width, null) :+ s"file:${f.toAbsolutePath}")
    }

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[Seq[String]] =
    df.collect().toSeq.map(_.toSeq.map(_.asInstanceOf[String]))

  private def bag[T](xs: Seq[T]): Map[T, Int] =
    xs.groupBy(identity).view.mapValues(_.size).toMap

  test("A8: a workbook whose first sheet has no rows is rejected, naming the file") {
    val dir = Files.createTempDirectory("graft_xlsx_empty")
    val f = dir.resolve("terminals_03032021.xlsx")
    writeWorkbook(f, "xl/worksheets/sheet1.xml" -> sheetXml())
    val e = intercept[IllegalArgumentException](XlsxSource.read(spark, f.toString))
    assert(e.getMessage.contains("terminals_03032021.xlsx") &&
      e.getMessage.contains("no rows"), e.getMessage)
  }

  test("A8/A9: the per-file formats read, and AvroV2.write writes, through the session's Hadoop conf") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // `sessfs` is registered in the session conf only: an executor that
    // builds a bare Configuration cannot resolve it, and with the cache
    // disabled it cannot borrow the instance the driver created either
    val impl = s"fs.${SessionOnlyFs.Scheme}.impl"
    spark.conf.set(impl, classOf[SessionOnlyFs].getName)
    spark.conf.set(s"$impl.disable.cache", "true")
    try {
      val dir = generatedDrop()
      def via(p: java.nio.file.Path) = s"${SessionOnlyFs.Scheme}://${p.toAbsolutePath}"
      Files.writeString(dir.resolve("accts.dat"), "A001007\nB002012\n")
      val avroSrc = spark.range(0, 40, 1, 2).select(col("id"), (col("id") * 3).as("v"))
      val checks: Seq[(String, () => Unit)] = Seq(
        "XlsxV2 read" -> (() => assert(spark.read.format("graft.sources.XlsxV2")
          .load(via(dir.resolve("terminals_01032021.xlsx"))).count() == 2)),
        "FixedWidth read" -> (() => assert(spark.read.format("graft.sources.FixedWidth")
          .option("fields", "acct:4:string,n:3:long").load(via(dir.resolve("accts.dat")))
          .as[(String, Long)].collect().toSet == Set(("A001", 7L), ("B002", 12L)))),
        "AvroV2.write" -> (() => graft.sources.AvroV2.write(avroSrc, via(dir.resolve("avro")))),
        "AvroV2 read" -> (() => {
          val back = spark.read.format("graft.sources.AvroV2").load(via(dir.resolve("avro")))
          assert(back.exceptAll(avroSrc).isEmpty && avroSrc.exceptAll(back).isEmpty)
        }))
      val failed = checks.flatMap { case (what, check) =>
        scala.util.Try(check()).failed.toOption.map(e => s"$what: $e")
      }
      assert(failed.isEmpty, failed.mkString("\n"))
    } finally {
      spark.conf.unset(impl)
      spark.conf.unset(s"$impl.disable.cache")
    }
  }

  test("A6: xlsx source reads generated two-sheet workbooks (first sheet only)") {
    val dir = generatedDrop()
    val df = XlsxSource.read(spark, dir.resolve("terminals_01032021.xlsx").toString)
    assert(df.columns.toSeq == Seq("terminal_id", "terminal_type", "terminal_city", "_source_file"))
    val rows = df.collect().map(r => (0 to 2).map(r.getString)).toSeq
    assert(rows == Seq(Seq("P1", "POS", "Riga"), Seq("P10", null, "42")))
    assert(XlsxSource.read(spark, s"$dir/terminals_0[12]032021.xlsx")
      .select("_source_file").distinct().count() == 2)
  }

  test("A8: DSv2 xlsx format agrees with XlsxSource.read on generated workbooks") {
    val dir = generatedDrop()
    val glob = s"$dir/terminals_0[12]032021.xlsx"
    val v2 = spark.read.format("graft.sources.XlsxV2").load(glob)
    assert(v2.columns.toSeq == Seq("terminal_id", "terminal_type", "terminal_city", "_source_file"))
    // the format's rows are the direct parse of each workbook plus its path
    val expected = parsedRows(Seq("01032021", "02032021").map(d =>
      dir.resolve(s"terminals_$d.xlsx")))
    assert(expected.length == 4)
    assert(bag(rowsOf(v2)) == bag(expected))
    assert(bag(rowsOf(XlsxSource.read(spark, glob))) == bag(expected))
    assert(v2.rdd.getNumPartitions == 2)
    val pruned = v2.select("terminal_city", "_source_file").collect()
    assert(pruned.map(_.getString(0)).sorted.toSeq == Seq("42", "42", "Riga", "Riga") &&
      pruned.forall(_.getString(1).endsWith(".xlsx")))
  }

  test("A6: xlsx cell-reference decoding") {
    assert(XlsxSource.colIndex("A1") == 0)
    assert(XlsxSource.colIndex("Z9") == 25)
    assert(XlsxSource.colIndex("AA10") == 26)
    assert(XlsxSource.colIndex("BC42") == 54)
  }

  test("report mart appends partitioned by rule and reads back") {
    val out = Files.createTempDirectory("graft_mart").resolve("mart").toString
    val mart = FraudRules.mart(FraudRules.analog(spark, sf), FraudRules.Analog)
    AtomicMart.publish(mart, out, Seq("rule"))
    val back = AtomicMart.read(spark, out)
    assert(back.count() == mart.count())
    assert(back.select("rule").distinct().count() >= 1)
    // partition pruning: rule dirs exist on disk
    val walk = Files.walk(Paths.get(out))
    try assert(walk.iterator().asScala.exists(_.getFileName.toString.startsWith("rule=")))
    finally walk.close()
  }

  test("B15: publishDay is idempotent and leaves other days untouched") {
    import org.apache.spark.sql.functions.lit
    val out = Files.createTempDirectory("graft_mart2").resolve("mart").toString
    val base = FraudRules.mart(FraudRules.analog(spark, sf), FraudRules.Analog)
    val day1 = base.withColumn("batch_date", lit("2024-03-01"))
    val day2 = base.limit(50).withColumn("batch_date", lit("2024-03-02"))
    AtomicMart.publishDay(day1, out)
    AtomicMart.publishDay(day2, out)
    val n1 = AtomicMart.read(spark, out).count()
    // re-running day2 (the retry case) must converge, not double-append
    AtomicMart.publishDay(day2, out)
    val back = AtomicMart.read(spark, out)
    assert(back.count() == n1)
    assert(back.filter(org.apache.spark.sql.functions.col("batch_date") ===
      "2024-03-01").count() == day1.count())
  }

  test("A10 JSONL quarantine: good rows decode, corrupt lines kept verbatim") {
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("graft_jsonl")
    val f = dir.resolve("feed.jsonl")
    Files.writeString(f,
      """{"id": 1, "amount": 10.5, "tag": "a"}
        |{"id": 2, "amount": "NOT_A_NUMBER", "tag": "b"}
        |this line is not json at all
        |{"id": 4, "amount": 7.25, "tag": "d"}
        |""".stripMargin)
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("amount", DoubleType),
      StructField("tag", StringType)))
    val split =
      graft.sources.DelimitedSource.JsonLines(schema).loadSplit(spark, f.toString)
    val ids = split.good.select("id").collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 4L))
    assert(split.good.columns.toSeq == Seq("id", "amount", "tag"))
    val bad = split.quarantine.select("raw_line").collect().map(_.getString(0))
    assert(bad.length == 2)
    assert(bad.exists(_.contains("NOT_A_NUMBER")) &&
      bad.exists(_.contains("not json at all")),
      s"quarantine must keep raw evidence, got ${bad.toSeq}")
    // the shared parse is caller-released — its cached RDD is gone after
    val cachedBefore = spark.sparkContext.getPersistentRDDs.size
    split.release()
    assert(spark.sparkContext.getPersistentRDDs.size < cachedBefore)
  }
}

/** The local filesystem under a scheme of its own, for checking that a
  * filesystem registered only in the session conf reaches executors. */
class SessionOnlyFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create(s"${SessionOnlyFs.Scheme}:///")
  override def getScheme: String = SessionOnlyFs.Scheme
}

object SessionOnlyFs {
  val Scheme = "sessfs"
}
