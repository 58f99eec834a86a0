package graft.xml

import java.nio.file.{Files, Path}
import java.sql.Timestamp

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Fixtures are written by the test itself (own content, reference-shaped:
  * flat records with attributes; nested blocks; repeated elements; a
  * business-key comment; a malformed file; an XSD). Golden expectations are
  * hand-derived from the SURVEY.md §1.4 flattening semantics. */
class XmlPipelineSpec extends SparkSpec {
  import spark.implicits._

  private val ts = Timestamp.valueOf("2024-03-04 05:06:07")

  private def writeFixtures(dir: Path): Unit = {
    Files.writeString(dir.resolve("catalog1.xml"),
      """<?xml version="1.0"?>
        |<!-- Division:North -->
        |<catalog>
        |  <record id="1" status="active">
        |    <title>Alpha</title>
        |    <price>10.50</price>
        |    <detail>
        |      <total>31.50</total>
        |      <qty>3</qty>
        |    </detail>
        |    <tag>red</tag>
        |    <tag>blue</tag>
        |  </record>
        |  <record id="2" status="retired">
        |    <title>Beta</title>
        |    <price>7.25</price>
        |    <detail>
        |      <total>7.25</total>
        |      <qty>1</qty>
        |    </detail>
        |    <tag>green</tag>
        |  </record>
        |</catalog>
        |""".stripMargin)
    Files.writeString(dir.resolve("catalog2.xml"),
      """<?xml version="1.0"?>
        |<catalog>
        |  <record id="3" status="active">
        |    <title>Gamma</title>
        |    <price>99.00</price>
        |    <detail>
        |      <total>99.00</total>
        |      <qty>1</qty>
        |    </detail>
        |    <tag>red</tag>
        |  </record>
        |</catalog>
        |""".stripMargin)
    Files.writeString(dir.resolve("broken.xml"),
      "<catalog><record id=\"9\"><title>Oops</title></catalog>\n")
  }

  private def mkPipelineDirs(): (Path, Path, Path) = {
    val in = Files.createTempDirectory("graft_xml_in")
    val out = Files.createTempDirectory("graft_xml_out")
    val schemas = Files.createTempDirectory("graft_schemas")
    writeFixtures(in)
    (in, out, schemas)
  }

  test("flatten: depth-1 leaves, depth-2 collapse, repeated names, attrs") {
    val (in, _, _) = mkPipelineDirs()
    val raw = XmlIngest.readFiles(spark,
      Seq(in.resolve("catalog1.xml").toString), "record")
    val flat = XmlFlatten.flatten(raw)
    // attributes first (prefix stripped), then elements in schema order,
    // repeated <tag> as tag, tag.1
    assert(flat.columns.toSet ==
      Set("id", "status", "title", "price", "detail", "tag", "tag.1"))
    val r1 = flat.filter($"id" === "1").head()
    assert(r1.getAs[String]("title") == "Alpha")
    assert(r1.getAs[String]("price") == "10.50")
    // depth-2 block collapsed to space-joined grandchildren text (schema
    // order: qty sorts before total — see XmlFlatten divergence note 2)
    assert(r1.getAs[String]("detail") == "3 31.50")
    assert(r1.getAs[String]("tag") == "red")
    assert(r1.getAs[String]("tag.1") == "blue")
    val r2 = flat.filter($"id" === "2").head()
    assert(r2.getAs[String]("tag.1") == null) // single tag -> null overflow
  }

  test("probeRowTag finds candidate tags and root-children fallback") {
    val (in, _, _) = mkPipelineDirs()
    assert(XmlIngest.probeRowTag(spark, in.toString) == "record")
    val other = Files.createTempDirectory("graft_xml_other")
    Files.writeString(other.resolve("data.xml"),
      "<root><thing><a>1</a></thing><thing><a>2</a></thing></root>\n")
    assert(XmlIngest.probeRowTag(spark, other.toString) == "thing")
  }

  test("comment business keys are scanned and attached per file") {
    val (in, _, _) = mkPipelineDirs()
    val files = XmlIngest.listXmlFiles(spark, in.toString)
    val keys = CommentKeys.scan(spark, files)
    val got = keys.collect()
    assert(got.length == 1)
    assert(got.head.getString(1) == "Division")
    assert(got.head.getString(2) == "North")
    assert(CommentKeys.extractFromContent("<!-- not a key -->") == None)
    assert(CommentKeys.extractFromContent("<!--  Zone:East  -->") ==
      Some(("Zone", "East")))
    // attached to the parsed rows by their scanned lineage path, whose
    // form (file:///…) differs from the listing's (file:/…)
    val rows = XmlIngest.readFiles(spark,
      files.filterNot(_.endsWith("broken.xml")), "record")
      .withColumn("source_file_path", input_file_name())
    val attached = CommentKeys.attach(rows,
      got.toSeq.map(r => (r.getString(0), r.getString(1), r.getString(2))))
      .select(element_at(split(col("source_file_path"), "/"), -1),
        col("_id"), col("Division"), col("business_key_value"))
      .as[(String, String, String, String)].collect().toSet
    assert(attached == Set(
      ("catalog1.xml", "1", "North", "North"),
      ("catalog1.xml", "2", "North", "North"),
      ("catalog2.xml", "3", null, null)))
  }

  test("validation: malformed file is flagged, others pass") {
    val (in, _, schemas) = mkPipelineDirs()
    val files = XmlIngest.listXmlFiles(spark, in.toString)
    val verdicts = XmlValidation
      .validateBatch(spark, files, schemas.toString)
      .collect().map(r => r.getString(0).split('/').last -> r.getString(1))
      .toMap
    assert(verdicts("broken.xml") == "invalid")
    assert(verdicts("catalog1.xml") == "no_schema") // well-formed, no schema
    assert(verdicts("catalog2.xml") == "no_schema")
  }

  test("XSD validation verdicts and 5-location schema resolution") {
    val (in, _, schemas) = mkPipelineDirs()
    val xsd =
      """<?xml version="1.0"?>
        |<xs:schema xmlns:xs="http://www.w3.org/2001/XMLSchema">
        |  <xs:element name="catalog">
        |    <xs:complexType><xs:sequence>
        |      <xs:element name="record" maxOccurs="unbounded">
        |        <xs:complexType>
        |          <xs:sequence>
        |            <xs:element name="title" type="xs:string"/>
        |            <xs:element name="price" type="xs:decimal"/>
        |            <xs:element name="detail">
        |              <xs:complexType><xs:sequence>
        |                <xs:element name="total" type="xs:decimal"/>
        |                <xs:element name="qty" type="xs:integer"/>
        |              </xs:sequence></xs:complexType>
        |            </xs:element>
        |            <xs:element name="tag" type="xs:string" maxOccurs="unbounded"/>
        |          </xs:sequence>
        |          <xs:attribute name="id" type="xs:string"/>
        |          <xs:attribute name="status" type="xs:string"/>
        |        </xs:complexType>
        |      </xs:element>
        |    </xs:sequence></xs:complexType>
        |  </xs:element>
        |</xs:schema>
        |""".stripMargin
    Files.writeString(schemas.resolve("default.xsd"), xsd)
    val f = in.resolve("catalog2.xml").toString
    // resolution: no <base>.xsd / schema.xsd anywhere -> default.xsd
    assert(XmlValidation.findSchemaFile(f, "xsd", schemas.toString)
      .exists(_.endsWith("default.xsd")))
    // specific schema takes priority once present
    Files.writeString(schemas.resolve("catalog2.xsd"), xsd)
    assert(XmlValidation.findSchemaFile(f, "xsd", schemas.toString)
      .exists(_.endsWith("catalog2.xsd")))
    assert(XmlValidation.validateXsd(f, schemas.resolve("catalog2.xsd")
      .toString).valid.contains(true))
    // a file violating the schema (comment fixture lacks nothing — make one)
    val badDir = Files.createTempDirectory("graft_bad")
    Files.writeString(badDir.resolve("bad.xml"),
      "<catalog><record id=\"7\"><title>NoPrice</title></record></catalog>\n")
    val v = XmlValidation.validateXsd(badDir.resolve("bad.xml").toString,
      schemas.resolve("default.xsd").toString)
    assert(v.valid.contains(false) && v.errors.nonEmpty)
  }

  test("Main CLI: arg parsing, full + incremental runs over the entry point") {
    val cfg = Main.parse(Array("/in", "/out", "--incremental", "--run-id", "7"))
    assert(cfg == Main.Config("/in", "/out", "/in",
      incremental = true, validate = true, runId = Some(7L)))
    assert(Main.parse(Array("/in", "/out", "/sch", "--no-validate")) ==
      Main.Config("/in", "/out", "/sch",
        incremental = false, validate = false, runId = None))
    intercept[IllegalArgumentException] { Main.parse(Array("/only-one")) }

    val in = Files.createTempDirectory("graft_cli_in")
    val out = Files.createTempDirectory("graft_cli_out")
    Files.writeString(in.resolve("a.xml"), catalogXml(0 until 3, Seq("ok")))
    val r1 = Main.run(spark,
      Main.Config(in.toString, out.toString, in.toString,
        incremental = false, validate = true, runId = Some(5L)),
      now = () => 1709528767000L)
    assert(r1.rows == 3 && r1.violations.isEmpty)
    // second incremental run with a new file appends only the new rows
    Files.writeString(in.resolve("b.xml"), catalogXml(3 until 5, Seq("ok")))
    val r2 = Main.run(spark,
      Main.Config(in.toString, out.toString, in.toString,
        incremental = true, validate = true, runId = Some(6L)),
      now = () => 1709528768000L)
    assert(r2.rows == 2, s"incremental should process only b.xml: $r2")
    val fact = spark.read.parquet(s"$out/fact_main.parquet")
    assert(fact.count() == 5)
  }

  test("compiled-XSD cache recompiles when the schema file changes") {
    val dir = Files.createTempDirectory("graft_xsdcache")
    val xml = dir.resolve("doc.xml")
    Files.writeString(xml, "<r><a>hello</a></r>\n")
    def schema(elem: String): String =
      s"""<?xml version="1.0"?>
         |<xs:schema xmlns:xs="http://www.w3.org/2001/XMLSchema">
         |  <xs:element name="r"><xs:complexType><xs:sequence>
         |    <xs:element name="$elem" type="xs:string"/>
         |  </xs:sequence></xs:complexType></xs:element>
         |</xs:schema>
         |""".stripMargin
    val xsd = dir.resolve("s.xsd")
    Files.writeString(xsd, schema("a"))
    assert(XmlValidation.validateXsd(xml.toString, xsd.toString)
      .valid.contains(true))
    // overwrite with a schema the doc violates; mtime/length key must
    // miss and recompile — a stale cache would keep saying valid
    Files.writeString(xsd, schema("b"))
    Files.setLastModifiedTime(xsd,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() + 5000))
    assert(XmlValidation.validateXsd(xml.toString, xsd.toString)
      .valid.contains(false))
  }

  private def catalogXml(ids: Range, statuses: Seq[String]): String = {
    val recs = ids.map { i =>
      val st = statuses(i % statuses.size)
      s"""  <record id="$i" status="$st"><title>T$i</title><price>${i * 1.5}</price></record>"""
    }
    s"""<?xml version="1.0"?>\n<catalog>\n${recs.mkString("\n")}\n</catalog>\n"""
  }

  test("incremental: ledger skip, fact append, stable merged dim keys") {
    val in = Files.createTempDirectory("graft_inc_in")
    val out = Files.createTempDirectory("graft_inc_out")
    val schemas = Files.createTempDirectory("graft_inc_sch")
    Files.writeString(in.resolve("a.xml"),
      catalogXml(1 to 40, Seq("active", "retired", "pending")))
    val r1 = XmlPipeline.process(spark, in.toString, out.toString,
      schemas.toString, runId = 1L, loadTs = ts)
    assert(r1.rows == 40)
    val dim1 = spark.read.parquet(s"$out/dim_status.parquet")
      .select("status_key", "status").as[(Int, String)].collect().toMap
    assert(dim1.size == 3)

    // new file arrives, carrying a NEW status value
    Files.writeString(in.resolve("b.xml"),
      catalogXml(41 to 50, Seq("active", "archived")))
    val r2 = XmlPipeline.processIncremental(spark, in.toString, out.toString,
      schemas.toString, runId = 2L, loadTs = ts)
    assert(r2.rows == 10) // only the new file's records
    val fact = spark.read.parquet(s"$out/fact_main.parquet")
    assert(fact.count() == 50)
    val dim2 = spark.read.parquet(s"$out/dim_status.parquet")
      .select("status_key", "status").as[(Int, String)].collect().toMap
    assert(dim2.size == 4)
    // old keys unchanged; the new value keyed above the max
    dim1.foreach { case (k, v) => assert(dim2(k) == v) }
    assert(dim2.maxBy(_._1)._2 == "archived")
    // batch ids distinguish the runs in the appended fact
    assert(fact.select("batch_id").distinct().as[Long].collect().toSet ==
      Set(1L, 2L))

    // third run with nothing new: everything skipped
    val r3 = XmlPipeline.processIncremental(spark, in.toString, out.toString,
      schemas.toString, runId = 3L, loadTs = ts)
    assert(r3.rows == 0)
    assert(spark.read.parquet(s"$out/fact_main.parquet").count() == 50)
  }

  test("compactFacts: fewer files, identical content incl. evolved " +
      "columns, appends keep working") {
    val in = Files.createTempDirectory("graft_cf_in")
    val out = Files.createTempDirectory("graft_cf_out")
    val schemas = Files.createTempDirectory("graft_cf_sch")
    Files.writeString(in.resolve("a.xml"),
      catalogXml(1 to 30, Seq("active", "retired")))
    XmlPipeline.process(spark, in.toString, out.toString,
      schemas.toString, runId = 1L, loadTs = ts)
    // evolving append: run 2 carries a column run 1 never had
    val recs = (31 to 40).map { i =>
      s"""  <record id="$i" status="active"><title>T$i</title><price>${i * 1.5}</price><weight>${i * 0.25}</weight></record>"""
    }
    Files.writeString(in.resolve("b.xml"),
      s"""<?xml version="1.0"?>\n<catalog>\n${recs.mkString("\n")}\n</catalog>\n""")
    XmlPipeline.processIncremental(spark, in.toString, out.toString,
      schemas.toString, runId = 2L, loadTs = ts)

    val factPath = s"$out/fact_main.parquet"
    def files(): Long = {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(factPath))
      // isRegularFile: the table DIRECTORY itself ends in ".parquet"
      try s.filter(p => p.toString.endsWith(".parquet") &&
        java.nio.file.Files.isRegularFile(p)).count()
      finally s.close()
    }
    def content(mergeSchema: Boolean) = spark.read
      .option("mergeSchema", mergeSchema.toString).parquet(factPath)
      .select(col("record_id"), col("batch_id"), col("price"),
        col("weight"))
      .collect()
      .map(r => (r.get(0), r.get(1), r.get(2), r.get(3))).sortBy(_._1.toString)
    val before = content(mergeSchema = true)
    val filesBefore = files()

    val n = XmlPipeline.compactFacts(spark, out.toString)
    assert(files() < filesBefore, s"${files()} !< $filesBefore")
    assert(files() == n.toLong)
    // identical rows, and the union schema now surfaces WITHOUT
    // mergeSchema (the rewrite null-filled evolved columns everywhere)
    assert(content(mergeSchema = false).toSeq == before.toSeq)
    assert(!new java.io.File(s"$out/_fact_main_old").exists())
    assert(!new java.io.File(s"$out/_fact_compact_tmp").exists())

    // a post-compaction incremental run still appends cleanly
    Files.writeString(in.resolve("c.xml"),
      catalogXml(41 to 45, Seq("active")))
    val r3 = XmlPipeline.processIncremental(spark, in.toString,
      out.toString, schemas.toString, runId = 3L, loadTs = ts)
    assert(r3.rows == 5)
    assert(spark.read.option("mergeSchema", "true").parquet(factPath)
      .count() == 45)
  }

  test("incremental schema evolution: new column appends, old rows null") {
    val in = Files.createTempDirectory("graft_evo_in")
    val out = Files.createTempDirectory("graft_evo_out")
    val schemas = Files.createTempDirectory("graft_evo_sch")
    Files.writeString(in.resolve("a.xml"),
      catalogXml(1 to 30, Seq("active", "retired")))
    XmlPipeline.process(spark, in.toString, out.toString,
      schemas.toString, runId = 1L, loadTs = ts)
    // the new file carries an element the original corpus never had (a
    // varying numeric -> classified as a measure -> a new fact column)
    val recs = (31 to 40).map { i =>
      s"""  <record id="$i" status="active"><title>T$i</title><price>${i * 1.5}</price><weight>${i * 0.25}</weight></record>"""
    }
    Files.writeString(in.resolve("b.xml"),
      s"""<?xml version="1.0"?>\n<catalog>\n${recs.mkString("\n")}\n</catalog>\n""")
    val r2 = XmlPipeline.processIncremental(spark, in.toString, out.toString,
      schemas.toString, runId = 2L, loadTs = ts)
    assert(r2.rows == 10)
    val fact = spark.read.option("mergeSchema", "true")
      .parquet(s"$out/fact_main.parquet")
    assert(fact.count() == 40)
    // the evolved column exists; run-1 rows surface it as null
    assert(fact.columns.contains("weight"), fact.columns.mkString(","))
    assert(fact.filter(col("batch_id") === 1L &&
      col("weight").isNotNull).count() == 0)
    assert(fact.filter(col("batch_id") === 2L &&
      col("weight").isNull).count() == 0)
  }

  test("edge content: CDATA, entities, empty elements, mixed content") {
    val in = Files.createTempDirectory("graft_edge_in")
    Files.writeString(in.resolve("a.xml"),
      """<?xml version="1.0"?>
        |<catalog>
        |  <record id="1">
        |    <title><![CDATA[Alpha & Beta <3]]></title>
        |    <note>a &amp; b &lt;tag&gt;</note>
        |    <empty/>
        |    <mixed>prefix <b>bold</b> suffix</mixed>
        |  </record>
        |</catalog>
        |""".stripMargin)
    val flat = XmlFlatten.flatten(
      XmlIngest.read(spark, in.toString, "record"))
    val r = flat.head()
    assert(r.getAs[String]("title") == "Alpha & Beta <3") // CDATA verbatim
    assert(r.getAs[String]("note") == "a & b <tag>")      // entities decoded
    assert(r.getAs[String]("empty") == "")                // empty element
    // mixed content: text runs space-joined, then child texts in schema
    // order — never the raw array rendering "[prefix, suffix]"
    assert(r.getAs[String]("mixed") == "prefix suffix bold")
  }

  test("UTF-8 BOM files: probe, validation, and read all tolerate the BOM") {
    val in = Files.createTempDirectory("graft_bom_in")
    val out = Files.createTempDirectory("graft_bom_out")
    val schemas = Files.createTempDirectory("graft_bom_sch")
    val body =
      """<?xml version="1.0" encoding="UTF-8"?>
        |<!-- Division:North -->
        |<catalog>
        |  <record id="7"><title>Bomful</title><price>1.5</price></record>
        |</catalog>
        |""".stripMargin
    // EF BB BF prefix — what Windows editors and some exporters emit
    val bom = Array[Byte](0xEF.toByte, 0xBB.toByte, 0xBF.toByte)
    Files.write(in.resolve("a.xml"),
      bom ++ body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    assert(XmlIngest.probeRowTag(spark, in.toString) == "record")
    val report = XmlPipeline.process(spark, in.toString, out.toString,
      schemas.toString, runId = 9L,
      loadTs = java.sql.Timestamp.valueOf("2024-03-04 05:06:07"))
    assert(report.rows == 1L, s"BOM file dropped: $report")
    val fact = spark.read.parquet(s"$out/fact_main.parquet")
    assert(fact.filter(col("record_id") === "7").count() == 1)
  }

  test("degenerate corpus members: zero-byte and record-less files are " +
      "isolated, healthy files still land") {
    val in = Files.createTempDirectory("graft_degen_in")
    val out = Files.createTempDirectory("graft_degen_out")
    val schemas = Files.createTempDirectory("graft_degen_sch")
    Files.writeString(in.resolve("a_good.xml"),
      """<?xml version="1.0"?>
        |<catalog>
        |  <record id="1"><title>Ok</title><price>2.5</price></record>
        |  <record id="2"><title>Also ok</title><price>3.5</price></record>
        |</catalog>
        |""".stripMargin)
    Files.write(in.resolve("b_empty.xml"), Array.emptyByteArray) // 0 bytes
    Files.writeString(in.resolve("c_rootonly.xml"),
      "<?xml version=\"1.0\"?>\n<catalog></catalog>\n")
    val report = XmlPipeline.process(spark, in.toString, out.toString,
      schemas.toString, runId = 11L,
      loadTs = java.sql.Timestamp.valueOf("2024-03-04 05:06:07"))
    // zero-byte file fails well-formedness -> quarantined, not fatal;
    // the record-less file contributes zero rows but doesn't break the
    // schema pass; both healthy records land
    assert(report.rows == 2L, s"expected 2 fact rows: $report")
    assert(report.filesSkipped == 1, s"empty file not quarantined: $report")
    val errs = spark.read.option("header", "true")
      .csv(s"$out/processing_errors.csv")
    assert(errs.filter(col("file").contains("b_empty.xml")).count() == 1)
  }

  test("declared non-UTF8 encoding is sniffed and honored") {
    val in = Files.createTempDirectory("graft_enc_in")
    Files.write(in.resolve("a.xml"),
      ("<?xml version=\"1.0\" encoding=\"ISO-8859-1\"?>\n" +
        "<catalog><record id=\"1\"><title>Café</title></record></catalog>\n")
        .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
    val f = in.resolve("a.xml").toString
    assert(XmlIngest.probeEncoding(spark, f) == "ISO-8859-1")
    val flat = XmlFlatten.flatten(
      XmlIngest.readFiles(spark, Seq(f), "record", charset = "ISO-8859-1"))
    assert(flat.head().getAs[String]("title") == "Café")
    // default (UTF-8) probe on a declaration-less file
    val plain = Files.createTempDirectory("graft_enc2")
    Files.writeString(plain.resolve("b.xml"),
      "<catalog><record id=\"1\"><t>x</t></record></catalog>\n")
    assert(XmlIngest.probeEncoding(spark,
      plain.resolve("b.xml").toString) == "UTF-8")
  }

  test("mixed per-file encodings decode per declaration through the pipeline") {
    val in = Files.createTempDirectory("graft_mixed_enc")
    Files.write(in.resolve("latin.xml"),
      ("<?xml version=\"1.0\" encoding=\"ISO-8859-1\"?>\n" +
        "<catalog><record id=\"1\"><title>Café Müller</title></record></catalog>\n")
        .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
    Files.write(in.resolve("utf8.xml"),
      ("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n" +
        "<catalog><record id=\"2\"><title>Smörgåsbord</title></record></catalog>\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val files = Seq(in.resolve("latin.xml").toString,
      in.resolve("utf8.xml").toString)
    // the distributed probe sees each file's own declaration
    val probed = XmlIngest.probeEncodings(spark, files)
    assert(probed(files.head) == "ISO-8859-1")
    assert(probed(files(1)) == "UTF-8")
    // the charset-grouped read (the pipeline's read path) decodes each
    // group with its own declared encoding: no mojibake on either side
    val flat = XmlFlatten.flatten(XmlIngest.readFilesGroupedByCharset(
      spark, files, "record", probed))
    val titles = flat.select("title").collect().map(_.getString(0)).toSet
    assert(titles == Set("Café Müller", "Smörgåsbord"), titles.toString)
    // and lineage survives the per-group stamping + union
    assert(flat.select("source_file_path").distinct().count() == 2)
  }

  test("namespaced XML: qualified row tag probed, local column names") {
    val in = Files.createTempDirectory("graft_ns_in")
    Files.writeString(in.resolve("a.xml"),
      """<?xml version="1.0"?>
        |<cat:catalog xmlns:cat="http://example.com/cat">
        |  <cat:record id="1" status="active">
        |    <cat:title>Alpha</cat:title>
        |    <cat:price>10.50</cat:price>
        |  </cat:record>
        |  <cat:record id="2" status="retired">
        |    <cat:title>Beta</cat:title>
        |    <cat:price>7.25</cat:price>
        |  </cat:record>
        |</cat:catalog>
        |""".stripMargin)
    val tag = XmlIngest.probeRowTag(spark, in.toString)
    assert(tag == "cat:record") // qualified — the source matches verbatim
    val flat = XmlFlatten.flatten(
      XmlIngest.read(spark, in.toString, tag))
    assert(flat.count() == 2)
    // prefixes dropped from output names, same shape as un-namespaced
    assert(flat.columns.toSet == Set("id", "status", "title", "price"))
    assert(flat.filter($"id" === "1").head().getAs[String]("title") == "Alpha")
    // and the whole pipeline runs on a namespaced corpus
    val out = Files.createTempDirectory("graft_ns_out")
    val schemas = Files.createTempDirectory("graft_ns_sch")
    val report = XmlPipeline.process(spark, in.toString, out.toString,
      schemas.toString, runId = 1L, loadTs = ts)
    assert(report.rows == 2)
  }

  test("mixed row-tag corpus: per-file probe groups reads, ALL rows land") {
    // the reference applies its record XPath PER FILE (R/xml_parser.R:98-
    // 103): a corpus mixing <record> files with <item> files (plus a
    // namespaced one) parses fully — probing only the first file would
    // silently drop every minority-tag file's rows
    val in = Files.createTempDirectory("graft_mixtag_in")
    Files.writeString(in.resolve("a_rec.xml"),
      """<?xml version="1.0"?>
        |<catalog>
        |  <record id="1"><title>A</title><price>1.5</price></record>
        |  <record id="2"><title>B</title><price>2.5</price></record>
        |</catalog>
        |""".stripMargin)
    Files.writeString(in.resolve("b_item.xml"),
      """<?xml version="1.0"?>
        |<inventory>
        |  <item id="3"><title>C</title><weight>9.9</weight></item>
        |</inventory>
        |""".stripMargin)
    Files.writeString(in.resolve("c_ns.xml"),
      """<?xml version="1.0"?>
        |<cat:catalog xmlns:cat="http://example.com/cat">
        |  <cat:record id="4"><cat:title>D</cat:title>
        |    <cat:price>4.5</cat:price></cat:record>
        |</cat:catalog>
        |""".stripMargin)
    val files = XmlIngest.listXmlFiles(spark, in.toString)
    val tags = XmlIngest.probeRowTags(spark, files)
    assert(tags(files.find(_.contains("a_rec")).get) == "record")
    assert(tags(files.find(_.contains("b_item")).get) == "item")
    assert(tags(files.find(_.contains("c_ns")).get) == "cat:record")
    // e2e through validation path: every file's rows land in ONE star
    val out = Files.createTempDirectory("graft_mixtag_out")
    val schemas = Files.createTempDirectory("graft_mixtag_sch")
    val report = XmlPipeline.process(spark, in.toString, out.toString,
      schemas.toString, runId = 21L, loadTs = ts)
    assert(report.rows == 4L, s"minority-tag rows dropped: $report")
    val fact = spark.read.parquet(s"$out/fact_main.parquet")
    assert(fact.select("record_id").as[String].collect().toSet ==
      Set("1", "2", "3", "4"))
    assert(fact.select("source_file_name").distinct().count() == 3)
    // the minority file's own column unions in (as measure or dim key)
    assert(fact.columns.exists(c => c == "weight" || c == "weight_key"),
      fact.columns.mkString(","))
    // and the no-validation path probes per file too
    val report2 = XmlPipeline.process(spark, in.toString,
      Files.createTempDirectory("graft_mixtag_out2").toString,
      schemas.toString, runId = 22L, loadTs = ts, validate = false)
    assert(report2.rows == 4L, s"no-validate path dropped rows: $report2")
  }

  test("DTD validation: internal DOCTYPE drives the verdict") {
    val dir = Files.createTempDirectory("graft_dtd")
    Files.writeString(dir.resolve("good.xml"),
      """<?xml version="1.0"?>
        |<!DOCTYPE catalog [
        |  <!ELEMENT catalog (record+)>
        |  <!ELEMENT record (title)>
        |  <!ELEMENT title (#PCDATA)>
        |  <!ATTLIST record id CDATA #REQUIRED>
        |]>
        |<catalog><record id="1"><title>ok</title></record></catalog>
        |""".stripMargin)
    Files.writeString(dir.resolve("bad.xml"),
      """<?xml version="1.0"?>
        |<!DOCTYPE catalog [
        |  <!ELEMENT catalog (record+)>
        |  <!ELEMENT record (title)>
        |  <!ELEMENT title (#PCDATA)>
        |]>
        |<catalog><record><wrong>x</wrong></record></catalog>
        |""".stripMargin)
    assert(XmlValidation.hasInternalDtd(dir.resolve("good.xml").toString))
    val good = XmlValidation.validateAuto(dir.resolve("good.xml").toString,
      dir.toString)
    assert(good.valid.contains(true), good.errors)
    val bad = XmlValidation.validateAuto(dir.resolve("bad.xml").toString,
      dir.toString)
    assert(bad.valid.contains(false) && bad.errors.nonEmpty)
  }

  test("end-to-end pipeline: star outputs, error isolation, manifest") {
    val (in, out, schemas) = mkPipelineDirs()
    val report = XmlPipeline.process(spark, in.toString, out.toString,
      schemas.toString, runId = 7L, loadTs = ts)
    // broken.xml skipped, 3 good records survive
    assert(report.filesTotal == 3 && report.filesSkipped == 1)
    assert(report.rows == 3)
    assert(report.violations.isEmpty)
    val fact = spark.read.parquet(s"$out/fact_main.parquet")
    assert(fact.count() == 3)
    // status (2 uniques in 3 sampled rows... small-sample: verify the dim
    // exists only if classified) — price/total/qty promoted to measures
    assert(fact.schema("price").dataType.typeName == "double")
    // lineage + injected run id
    assert(fact.select("batch_id").distinct().as[Long].head() == 7L)
    assert(fact.select("source_file_name").distinct().count() == 2)
    // business-key column attached: catalog1.xml's key reaches its two
    // rows, catalog2.xml has none (3 rows, one distinct value, a third
    // null); too few rows for a dimension, so the profile shows it
    val division = spark.read.option("header", "true")
      .csv(s"$out/schema_documentation.csv")
      .filter(col("col_name") === "Division").collect()
    assert(division.length == 1)
    assert(division.head.getAs[String]("n_rows") == "3")
    assert(math.abs(division.head.getAs[String]("null_ratio").toDouble -
      1.0 / 3) < 1e-9)
    assert(division.head.getAs[String]("unique_count") == "1")
    // manifest written with the declared columns
    val manifest = spark.read.option("header", "true")
      .csv(s"$out/processing_manifest.csv").head()
    assert(manifest.getAs[String]("files_total") == "3")
    assert(manifest.getAs[String]("files_skipped") == "1")
    val errs = spark.read.option("header", "true")
      .csv(s"$out/processing_errors.csv")
    assert(errs.filter(col("file").contains("broken.xml")).count() == 1)
    // validation report (R/logger.R:125-156): verdict counts + percentages
    val vr = spark.read.option("header", "true")
      .csv(s"$out/validation_report.csv")
      .collect().map(r => r.getString(0) ->
        (r.getString(1).toLong, r.getString(2).toDouble)).toMap
    // 3 files: broken.xml invalid, the two catalogs well-formed w/o schema
    assert(vr("invalid")._1 == 1L && math.abs(vr("invalid")._2 - 1.0 / 3) < 1e-9)
    assert(vr("no_schema")._1 == 2L &&
      math.abs(vr("no_schema")._2 - 2.0 / 3) < 1e-9)
    // metadata read-back records on-disk size (R/parquet_writer.R:177)
    val meta = spark.read.option("header", "true")
      .csv(s"$out/parquet_metadata.csv")
    assert(meta.columns.contains("size_bytes"))
    assert(meta.filter(col("size_bytes").cast("long") <= 0).count() == 0)
  }

  test("alternate comment-key patterns extract end-to-end") {
    // reference COMMENT_PATTERNS (R/main.R:231-237): equals + underscore
    assert(CommentKeys.extractFromContent("<!-- Region=West -->",
      Seq(CommentKeys.CommentPatterns("equals"))) == Some(("Region", "West")))
    assert(CommentKeys.extractFromContent("<!-- COST_CENTER:42 -->",
      Seq(CommentKeys.CommentPatterns("underscore"))) ==
      Some(("COST_CENTER", "42")))
    // default (standard) pattern does NOT match the equals format
    assert(CommentKeys.extractFromContent("<!-- Region=West -->") == None)
    // distributed scan honors the configured pattern list
    val dir = Files.createTempDirectory("graft_altkeys")
    Files.writeString(dir.resolve("a.xml"),
      "<?xml version=\"1.0\"?>\n<!-- Region=West -->\n" +
        "<catalog><record id=\"1\"><t>x</t></record></catalog>\n")
    val files = XmlIngest.listXmlFiles(spark, dir.toString)
    val got = CommentKeys.scan(spark, files,
      patterns = Seq(CommentKeys.CommentPatterns("equals"))).collect()
    assert(got.length == 1 && got.head.getString(1) == "Region" &&
      got.head.getString(2) == "West")
    assert(CommentKeys.scan(spark, files).isEmpty) // default pattern: no key
  }

  test("ensureRecordIdNoShuffle: dense per-file ids, multi-partition, no shuffle") {
    // several files -> several input partitions; counts differ per file
    val dir = Files.createTempDirectory("graft_recid")
    (1 to 4).foreach { f =>
      Files.writeString(dir.resolve(s"f$f.xml"),
        catalogXml(1 to (10 * f), Seq("active")).replace(" id=\"", " xid=\""))
    }
    val files = XmlIngest.listXmlFiles(spark, dir.toString)
    val raw = XmlIngest.readFiles(spark, files, "record")
      .withColumn("source_file_path", input_file_name())
    assert(raw.rdd.getNumPartitions > 1) // the constraint being exercised
    val tagged = XmlIngest.ensureRecordIdNoShuffle(raw).cache()
    val perFile = tagged.groupBy("source_file_path")
      .agg(count(lit(1)).as("n"),
        countDistinct(col("record_id")).as("nd"),
        min(col("record_id").cast("long")).as("lo"),
        max(col("record_id").cast("long")).as("hi"))
      .collect()
    assert(perFile.length == 4)
    perFile.foreach { r =>
      val (n, nd, lo, hi) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(nd == n && lo == 1L && hi == n) // dense 1..n per file
    }
    // same ids as the window-based variant, file by file (attrs read with
    // the `_` prefix in the raw pre-flatten frame)
    val windowed = XmlIngest.ensureRecordId(raw)
    assert(tagged.select("source_file_path", "_xid", "record_id")
      .except(windowed.select("source_file_path", "_xid", "record_id"))
      .isEmpty)
    tagged.unpersist()
  }

  test("fact write carries a zero-extra-pass observed data contract") {
    def runOnce(contract: Option[Seq[graft.profile.Expectations.Expectation]])
        : XmlPipeline.PipelineReport = {
      val (in, out, schemas) = mkPipelineDirs()
      XmlPipeline.process(spark, in.toString, out.toString, schemas.toString,
        runId = 11L, loadTs = ts, factContract = contract)
    }

    // warmup absorbs first-run-only costs (XSD/compile caches, codegen)
    runOnce(None)
    var withReport: XmlPipeline.PipelineReport = null
    val jobsWith = countJobs { withReport = runOnce(None) }
    val jobsWithout = countJobs { runOnce(Some(Seq.empty)) }

    // the contract produced verdicts, riding the fact write...
    assert(withReport.contract.nonEmpty)
    val byLabel = withReport.contract.map(c => c._1 -> c).toMap
    assert(byLabel.contains("not_null(record_id)"))
    assert(byLabel("not_null(record_id)")._4, byLabel.toString)
    assert(withReport.contract.forall(_._4), withReport.contract.toString)
    // row_count metric equals the actual fact rows
    val rc = withReport.contract.find(_._1.startsWith("row_count_between"))
    assert(rc.exists(_._2 == withReport.rows.toDouble), rc.toString)

    // ...and cost ZERO additional Spark jobs vs the contract-free run
    assert(jobsWith <= jobsWithout,
      s"contract added jobs: with=$jobsWith without=$jobsWithout")

    // the verdicts landed as a driver-written csv in the output layout
    val (in2, out2, schemas2) = mkPipelineDirs()
    XmlPipeline.process(spark, in2.toString, out2.toString,
      schemas2.toString, runId = 12L, loadTs = ts)
    val csv = spark.read.option("header", "true")
      .csv(s"$out2/fact_contract.csv")
    assert(csv.count() >= 2) // not_null + row_count (+ measures)
    assert(csv.filter(col("passed") === "false").isEmpty)
  }

  test("a run of the spec corpus stays under its Spark job ceiling") {
    def once(): Unit = {
      val (in, out, schemas) = mkPipelineDirs()
      XmlPipeline.process(spark, in.toString, out.toString, schemas.toString,
        runId = 13L, loadTs = ts)
    }
    once() // warmup: first-run-only costs
    val jobs = countJobs(once())
    // 13 measured (the corpus has no dims): verdicts and profile rows are
    // collected once, the reports are written from the driver, and the
    // integrity check is 3 jobs
    assert(jobs <= 15, s"$jobs Spark jobs for one run of the spec corpus")
  }

  test("driver-written reports read back as Spark's CSV sink wrote them") {
    // the helper against Spark's own writer, on values that need quoting
    val rows = Seq(
      ("plain", 1L, 0.5, true),
      ("a,\"b\" c", 2L, 1.0e-7, false),
      ("  padded  ", 3L, Double.NaN, true),
      ("", 4L, -0.0, false),
      (null, 5L, 1.0 / 3, true))
    val cols = Seq("s", "n", "d", "b")
    val viaSpark = Files.createTempDirectory("graft_csv_spark").resolve("r")
    val viaDriver = Files.createTempDirectory("graft_csv_driver").resolve("r")
    rows.toDF(cols: _*).coalesce(1).write.option("header", "true")
      .csv(viaSpark.toString)
    graft.io.Reports.writeCsv(spark.sparkContext.hadoopConfiguration,
      viaDriver.toString, cols,
      rows.map { case (a, b, c, d) => Seq(a, b, c, d) })
    def back(p: Path) = spark.read.option("header", "true")
      .csv(p.toString).collect().map(_.toSeq).toSeq
    assert(back(viaDriver) == back(viaSpark))
    assert(back(viaDriver)(1).head == "a,\"b\" c")

    // the pipeline's reports, over files whose names need quoting, and
    // the manifest and ledger appending across runs
    val in = Files.createTempDirectory("graft_rep_in")
    val out = Files.createTempDirectory("graft_rep_out")
    val schemas = Files.createTempDirectory("graft_rep_sch")
    Files.writeString(in.resolve("a.xml"), catalogXml(1 to 4, Seq("ok")))
    Files.writeString(in.resolve("we,\"ird\".xml"),
      catalogXml(5 to 6, Seq("ok")))
    Files.writeString(in.resolve("bro,\"ken\".xml"), "<catalog><record>")
    val r1 = XmlPipeline.process(spark, in.toString, out.toString,
      schemas.toString, runId = 1L, loadTs = ts)
    assert(r1.rows == 6 && r1.filesSkipped == 1)
    def report(name: String): Seq[Seq[Any]] = spark.read
      .option("header", "true").csv(s"$out/$name").collect()
      .map(_.toSeq).toSeq
    val errs = report("processing_errors.csv")
    assert(errs.map(r => (r(0).toString.split('/').last, r(1), r(3))) ==
      Seq(("bro,\"ken\".xml", "invalid", null)))
    assert(report("validation_report.csv") == Seq(
      Seq("invalid", "1", (1.0 / 3).toString),
      Seq("no_schema", "2", (2.0 / 3).toString)))
    assert(report("processed_files.csv") ==
      Seq(Seq("a.xml"), Seq("we,\"ird\".xml")))
    val meta = report("parquet_metadata.csv")
    assert(meta.map(r => (r(0), r(1))) ==
      Seq(("fact_main.parquet", "6")) ++
      r1.star.dims.keys.toSeq.sorted.map(d =>
        (s"dim_$d.parquet", r1.star.dims(d).count().toString)))
    val factCols = spark.read.parquet(s"$out/fact_main.parquet").columns
    assert(meta.head(2) == factCols.length.toString)
    val doc = report("schema_documentation.csv")
    assert(doc.map(_.head).toSet ==
      Set("id", "record_id", "status", "title", "price"))

    Files.writeString(in.resolve("b.xml"), catalogXml(7 to 9, Seq("ok")))
    val r2 = XmlPipeline.processIncremental(spark, in.toString,
      out.toString, schemas.toString, runId = 2L, loadTs = ts)
    assert(r2.rows == 3)
    assert(report("processing_manifest.csv").sortBy(_.last.toString) == Seq(
      Seq(ts.toString, "3", "2", "1", "6", (2.0 / 3).toString, "1"),
      Seq(ts.toString, "4", "1", "1", "3", "0.5", "2")))
    assert(report("processed_files.csv").map(_.head).toSet ==
      Set("a.xml", "we,\"ird\".xml", "b.xml"))
  }
}
