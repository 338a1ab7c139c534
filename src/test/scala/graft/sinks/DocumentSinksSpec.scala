package graft.sinks

import graft.SparkSpec
import graft.osm.OsmXmlSource
import org.apache.spark.sql.functions._
import java.nio.file.Files

class DocumentSinksSpec extends SparkSpec {

  test("JSONL sink round-trips the shaped OSM collection") {
    val docs = OsmXmlSource.collection(spark,
      getClass.getResource("/mini.osm").getPath)
    val out = Files.createTempDirectory("graft-jsonl").toString
    JsonLinesSink.write(docs, out)
    // JSON is schemaless — reading back with the document schema keeps
    // the typed maps (schema inference would surface structs)
    val back = spark.read.schema(docs.schema).json(out)
    assert(back.count() == docs.count())
    // typed content survives the JSON round trip
    val phones = back.filter(col("_id") === "1001")
      .select(element_at(col("list_tags"), "phone"))
      .collect().head.getSeq[String](0)
    assert(phones == Seq("+1-360-555-9999 x1234"))
    val lanes = back.filter(col("_id") === "1003")
      .select(element_at(col("int_tags"), "lanes"))
      .collect().head.getLong(0)
    assert(lanes == 2L)
  }

  test("pretty JSON sink (write_el pretty=True): records are indented " +
    "multi-line JSON and parse back identical to the JSONL output") {
    val docs = OsmXmlSource.collection(spark,
      getClass.getResource("/mini.osm").getPath)
    val pretty = Files.createTempDirectory("graft-pretty").toString
    val plain = Files.createTempDirectory("graft-plain").toString
    PrettyJsonSink.write(docs, pretty)
    JsonLinesSink.write(docs, plain)
    def partFiles(dir: String) = new java.io.File(dir).listFiles
      .filter(f => f.getName.startsWith("part-") &&
        !f.getName.endsWith(".crc"))
    // the pretty stream really is multi-line per record: more text
    // lines than documents, and indented continuation lines
    val prettyText = partFiles(pretty)
      .map(f => new String(Files.readAllBytes(f.toPath), "UTF-8"))
      .mkString
    assert(prettyText.linesIterator.size > docs.count(),
      "pretty records should span multiple lines")
    assert(prettyText.linesIterator.exists(_.startsWith("  \"")),
      "pretty records should carry 2-space indentation")
    // concatenated-object streams parse with Jackson's readValues —
    // the same tolerance any JSON consumer of the reference's
    // pretty=True files needs; both sinks must yield the SAME set of
    // canonical documents
    import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
    val om = new ObjectMapper()
    def parseAll(dir: String): Set[String] = partFiles(dir).flatMap { f =>
      val it = om.readerFor(classOf[JsonNode])
        .readValues[JsonNode](f)
      val buf = scala.collection.mutable.ArrayBuffer.empty[String]
      while (it.hasNext) buf += it.next().toString // canonical one-line
      buf
    }.toSet
    val p = parseAll(pretty)
    assert(p.size == docs.count())
    assert(p == parseAll(plain),
      "pretty and JSONL sinks must carry identical documents")
  }

  test("parquet sink preserves the exact schema") {
    val docs = OsmXmlSource.collection(spark,
      getClass.getResource("/mini.osm").getPath)
    val out = Files.createTempDirectory("graft-parquet").toString
    ParquetSink.write(docs, out)
    val back = spark.read.parquet(out)
    // parquet relaxes non-null fields to nullable; simpleString
    // compares structure + types without nullability
    assert(back.schema.simpleString == docs.schema.simpleString)
    assert(back.count() == 8)
  }

  test("partitioned parquet sink: a filter on the partition key prunes " +
    "directories (PartitionFilters, zero data read for excluded sources)") {
    val docs = graft.Tables.documents(spark, sf)
    val out = Files.createTempDirectory("graft-part").toString
    PartitionedParquetSink("source").write(docs, out)
    // hive layout on disk
    val dirs = new java.io.File(out).listFiles.filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("source=")).toSet
    assert(dirs.nonEmpty)
    val back = spark.read.parquet(out).filter(col("source") === "src0")
    val plan = back.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), plan)
    assert(plan.contains("source"), plan)
    // round trip is lossless for the selected partition
    assert(back.count() ==
      docs.filter(col("source") === "src0").count())
  }

  test("approx distinct stays within the declared rsd of exact (g5), " +
    "and the query's exact-twin + verdict output agrees") {
    import graft.operators.AnalyticsOps
    val exact = graft.Tables.lineitem(spark, sf)
      .select(countDistinct(col("l_partkey"))).collect().head.getLong(0)
    // the raw-estimate rsd law (what the pre-r11 query output pinned)
    val approx = graft.Tables.lineitem(spark, sf)
      .agg(approx_count_distinct(col("l_partkey"), 0.02))
      .collect().head.getLong(0)
    assert(math.abs(approx - exact).toDouble / exact < 0.1)
    // the oracle-facing contract: exact twin + bound verdict = 1
    val row = AnalyticsOps.queries("g5_approx_distinct")(spark, sf).head()
    assert(row.getLong(row.fieldIndex("exact_parts")) == exact)
    assert(row.getLong(row.fieldIndex("within_bound")) == 1L)
  }
}
