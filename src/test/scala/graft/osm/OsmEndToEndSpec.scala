package graft.osm

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** End-to-end: mini.osm fixture → XML source → shape → audit queries,
  * asserting the hand-derived reference semantics (SURVEY.md §5's
  * reconciliation checks in miniature).
  */
class OsmEndToEndSpec extends SparkSpec {

  private lazy val path =
    getClass.getResource("/mini.osm").getPath
  private lazy val docs: DataFrame = {
    val d = OsmXmlSource.collection(spark, path)
    d.cache()
    d
  }

  private def doc(id: String) = docs.filter(col("_id") === id)

  test("counts by doc_type (cell-36 reconciliation shape)") {
    val counts = docs.groupBy("doc_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts == Map("node" -> 5L, "way" -> 2L, "relation" -> 1L))
  }

  test("tagless element shapes cleanly: null maps, pos present") {
    val r = doc("1005").select(col("tags"), col("list_tags"), col("addr"),
      col("pos"), col("node_refs"), col("members")).collect().head
    assert(r.isNullAt(0) && r.isNullAt(1) && r.isNullAt(2))
    assert(r.getSeq[Double](3) == Seq(48.79, -122.51))
    assert(r.isNullAt(4) && r.isNullAt(5))
  }

  test("unique contributors (A1)") {
    assert(OsmAudit.uniqueUsers(docs).collect().head.getLong(0) == 3L)
  }

  test("phone cleaning lands in list_tags (F1+F6 via contact rename)") {
    val p1001 = doc("1001").select(element_at(col("list_tags"), "phone"))
      .collect().head.getSeq[String](0)
    assert(p1001 == Seq("+1-360-555-9999 x1234"))
    val p1002 = doc("1002").select(element_at(col("list_tags"), "phone"))
      .collect().head.getSeq[String](0)
    assert(p1002 == Seq("+1-360-398-8300"))
    val p1003 = doc("1003").select(element_at(col("list_tags"), "phone"))
      .collect().head.getSeq[String](0)
    assert(p1003 == Seq("+1-360-555-12345"))
  }

  test("cuisine ;-list split+trim; shop list skips misc lowercase (the " +
    "reference's dead rule for list keys)") {
    val cuisine = doc("1001").select(element_at(col("list_tags"), "cuisine"))
      .collect().head.getSeq[String](0)
    assert(cuisine == Seq("coffee_shop", "bakery"))
    val shop = doc("1002").select(element_at(col("list_tags"), "shop"))
      .collect().head.getSeq[String](0)
    assert(shop == Seq("Cannabis"))
  }

  test("addr cleaning: street type map, postcode typo, housename, unit promotion") {
    val a1002 = doc("1002").select(col("addr")).collect().head
      .getMap[String, String](0)
    assert(a1002("street") == "North Forest Street")
    assert(a1002("postcode") == "98248")
    assert(a1002("housename") == "The Bakery")
    val a1003 = doc("1003").select(col("addr")).collect().head
      .getMap[String, String](0)
    assert(a1003("street") == "Ellis Street")
    assert(a1003("unit") == "#215")
  }

  test("bool subdocs keep typed view + residual string (F7)") {
    val b = doc("1003").select(col("bool_tags")).collect().head
      .getMap[String, Boolean](0)
    assert(b == Map("payment:visa" -> true, "fuel:diesel" -> false))
    val s = doc("1003").select(col("subdocs")).collect().head
      .getMap[String, String](0)
    assert(s("payment:visa") == "true")
    assert(s("payment:cash") == "maybe")
    assert(s("service:bicycle:retail") == "yes")
  }

  test("numeric promotion + is_in canonical list + problem-key drop") {
    val i = doc("1003").select(element_at(col("int_tags"), "lanes"))
      .collect().head.getLong(0)
    assert(i == 2L)
    val f = doc("1003").select(element_at(col("float_tags"), "maxheight"))
      .collect().head.getDouble(0)
    assert(f == 4.5)
    val isin = doc("1003").select(element_at(col("list_tags"), "is_in"))
      .collect().head.getSeq[String](0)
    assert(isin == Seq("USA", "WA", "Whatcom County", "Bellingham"))
    val tags1003 = doc("1003").select(col("tags")).collect().head
    assert(tags1003.isNullAt(0) ||
      !tags1003.getMap[String, String](0).contains("bad key"))
  }

  test("quote-guarded maxheight stays a string; misc edits; wrong-key map") {
    val t = doc("1004").select(col("tags")).collect().head
      .getMap[String, String](0)
    assert(t("maxheight") == "4'5\"")
    // depth-1 bool-prefix key, non-yes/no value: lowercased residual in
    // tags (the reference's handle_bools passthrough), no bool entry
    assert(t("payment") == "cash_only")
    assert(doc("1004").select(col("bool_tags")).collect().head.isNullAt(0))
    assert(t("kerb") == "rasied")
    assert(t("designation") == "public_footpath")
    assert(t("wikimedia_commons") == "https-img")
    assert(doc("1004").select(col("float_tags")).collect().head.isNullAt(0))
  }

  test("way shaping: node_refs sorted+deduped; namespace passthrough; " +
    "gnis fixes; name_1 -> name list") {
    val refs = doc("2001").select(col("node_refs")).collect().head.getSeq[String](0)
    assert(refs == Seq("1001", "1002", "1003"))
    val t = doc("2001").select(col("tags")).collect().head.getMap[String, String](0)
    assert(t("tiger:cfcc") == "A41")
    assert(t("gnis:ST_alpha") == "WA")
    assert(t("gnis:County_num") == "073")
    val name = doc("2001").select(element_at(col("list_tags"), "name"))
      .collect().head.getSeq[String](0)
    assert(name == Seq("Old Name"))
  }

  test("relation members preserved in order") {
    val ms = doc("3001").select(col("members")).collect().head
      .getSeq[org.apache.spark.sql.Row](0)
    assert(ms.map(r => (r.getString(0), r.getString(1), r.getString(2))) ==
      Seq(("way", "2001", "outer"), ("way", "1001", "inner")))
  }

  test("shape invariants hold (F12)") {
    assert(OsmAudit.violations(docs).count() == 0L)
  }

  test("observe() metrics ride the consuming action for free (S7/F12)") {
    val (observed, obs) = OsmAudit.withShapeMetrics(docs)
    val total = observed.count() // the ONLY scan; metrics are a side effect
    val row = obs.get
    assert(row("n_docs") == total)
    assert(row("n_violations") == 0L)
    assert(row("n_nodes").asInstanceOf[Long] > 0L)
  }

  test("violation predicate actually fires on a malformed doc, and an " +
    "empty batch publishes 0 (not null) metrics") {
    // damage one node: drop its pos -> violates the node invariant
    val damaged = docs.filter(col("doc_type") === "node").limit(1)
      .withColumn("pos", org.apache.spark.sql.functions.lit(null)
        .cast(docs.schema("pos").dataType))
    assert(OsmAudit.violations(damaged).count() == 1L)
    val (obsDf, obs) = OsmAudit.withShapeMetrics(damaged)
    obsDf.count()
    assert(obs.get("n_violations") == 1L)
    // empty batch: counters must be 0, not null
    val (emptyDf, emptyObs) = OsmAudit.withShapeMetrics(docs.limit(0))
    emptyDf.count()
    assert(emptyObs.get("n_docs") == 0L)
    assert(emptyObs.get("n_violations") == 0L)
    assert(emptyObs.get("n_nodes") == 0L)
  }

  test("countDocsBy finds keys across typed views (A2)") {
    val m = OsmAudit.countDocsBy(docs, "service").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m == Map("node" -> 1L, "way" -> 1L))
  }

  test("docTypeMismatches finds the planted bad member (J4)") {
    val rows = OsmAudit.docTypeMismatches(docs).collect()
    assert(rows.length == 1)
    val r = rows.head
    assert((r.getString(0), r.getString(1), r.getString(2), r.getString(3)) ==
      ("3001", "1001", "way", "node"))
  }

  test("bikeServices finds the service:bicycle node (P4)") {
    val rows = OsmAudit.bikeServices(docs).collect()
    assert(rows.map(r => (r.getString(0), r.getString(1))).toSeq ==
      Seq(("1003", "node")))
  }

  private def refTypes(d: DataFrame): Map[String, (Long, Long)] =
    OsmAudit.auditRefTypes(d).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap

  test("auditRefTypes counts each way's deduped refs by target type (J1)") {
    // 2001's four refs dedupe to three, plus 2002's two
    assert(refTypes(docs) == Map("node" -> (5L, 2L)))
  }

  test("auditRefTypes reports a dangling ref as a null t_type row (J1)") {
    val dangling = doc("2002")
      .withColumn("_id", lit("2003"))
      .withColumn("node_refs", array(lit("9999")))
    assert(refTypes(docs.unionByName(dangling)) ==
      Map("node" -> (5L, 2L), (null: String) -> (1L, 1L)))
  }

  test("refDocs inverted index (A4/M3)") {
    val m = OsmAudit.refDocs(docs).collect()
      .map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    assert(m("1001") == Seq("2001", "3001"))
    assert(m("1003") == Seq("2001", "2002"))
    assert(m("2001") == Seq("3001"))
  }

  test("mostRefd (T1 + back-join contributor)") {
    val rows = OsmAudit.mostRefd(docs, "name", 2).collect()
    assert(rows.length == 1)
    assert(rows.head.getString(0) == "2001")
    assert(rows.head.getInt(1) == 1)
    assert(rows.head.getString(2) == "bob")
  }

  test("updateStates sets addr.state=WA where postcode exists, " +
    "overwriting an existing state (M1)") {
    // 1002 carries addr:state=OR — the $set must overwrite, not throw
    // on the duplicate map key
    val updated = OsmAudit.updateStates(docs)
    val st = updated.filter(col("_id") === "1002")
      .select(element_at(col("addr"), "state")).collect().head.getString(0)
    assert(st == "WA")
    val report = OsmAudit.updateStatesReport(docs).collect().head
    // matched=1 (postcode), modified=1 (state was OR, not WA), pre=1
    assert((report.getLong(0), report.getLong(1), report.getLong(2)) ==
      (1L, 1L, 1L))
  }

  test("fixMismatchedRefs rewrites only the bad member (M2)") {
    val fixedDocs = OsmAudit.fixMismatchedRefs(docs)
    val ms = fixedDocs.filter(col("_id") === "3001").select(col("members"))
      .collect().head.getSeq[org.apache.spark.sql.Row](0)
    assert(ms.map(r => (r.getString(0), r.getString(1))) ==
      Seq(("way", "2001"), ("node", "1001")))
  }

  test("tagKeyProfile (A7) counts scalar tag usage") {
    val prof = OsmAudit.tagKeyProfile(docs).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(prof("highway") == 1L)
    assert(prof("gnis:County_num") == 1L)
  }

  test("elementProfile (A7 structural half) profiles the raw XML: " +
    "per-element-type count, attribute-name set, and the COMPLETE " +
    "descendant-tag set (the value the reference's notebook " +
    "hand-patched around iterparse read-ahead)") {
    val prof = OsmAudit
      .elementProfile(spark, getClass.getResource("/mini.osm").getPath)
      .collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getSeq[String](2), r.getSeq[String](3))))
      .toMap
    assert(prof.keySet == Set(
      "osm", "bounds", "node", "way", "relation", "tag", "nd", "member"))
    val (osmN, osmSubs, osmAttrs) = prof("osm")
    assert(osmN == 1L)
    // complete: includes way/relation (main.ipynb cell 3's hand-patch)
    assert(osmSubs == Seq(
      "bounds", "member", "nd", "node", "relation", "tag", "way"))
    assert(osmAttrs == Seq("generator", "version"))
    assert(prof("node") == ((5L, Seq("tag"),
      Seq("changeset", "id", "lat", "lon", "timestamp", "uid", "user", "version"))))
    assert(prof("way") == ((2L, Seq("nd", "tag"),
      Seq("changeset", "id", "timestamp", "uid", "user", "version"))))
    assert(prof("relation")._2 == Seq("member", "tag"))
    assert(prof("tag") == ((33L, Seq(), Seq("k", "v"))))
    assert(prof("nd") == ((6L, Seq(), Seq("ref"))))
    assert(prof("member") == ((2L, Seq(), Seq("ref", "role", "type"))))
    assert(prof("bounds") == ((1L, Seq(),
      Seq("maxlat", "maxlon", "minlat", "minlon"))))
  }

  test("tagProfileSummary (A7 stats half) reproduces the describe() " +
    "table of main.ipynb cell 8: count/mean/stddev/min/deciles/max " +
    "over the tag-key profile") {
    val sm = OsmAudit.tagProfileSummary(OsmAudit.tagKeyProfile(docs))
    assert(sm.columns.toSeq ==
      Seq("summary", "tag_use_count", "uniq_count", "usage_per_uniq"))
    val rows = sm.collect().map(r => r.getString(0) -> r).toMap
    assert(rows.keySet == Set("count", "mean", "stddev", "min",
      "10%", "20%", "30%", "40%", "50%", "60%", "70%", "80%", "90%", "max"))
    val nKeys = OsmAudit.tagKeyProfile(docs).count()
    assert(rows("count").getString(1).toLong == nKeys)
    assert(rows("min").getString(1).toDouble >= 1.0)
    assert(rows("max").getString(1).toDouble >=
      rows("50%").getString(1).toDouble)
  }
}
