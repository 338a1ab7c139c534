package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets

/** Seeded synthetic OSM extract shaped like the reference's greater
  * Bellingham extract: 355,044 nodes, 30,179 ways and 554 relations at
  * scale 1, with the element structure and tag mix of the engine's own
  * reference-scale generator (`graft.osm.OsmEtlBench.generate`).
  *
  * The seed salts the splitmix64 index mix, so every seed yields the same
  * element counts and tag families with different values, and a seed
  * always yields the same bytes. Seed 0 reproduces the unsalted mix.
  */
final class OsmGen(seed: Long) {
  private val salt = seed * 0x632be59bd9b4e019L

  private def mix(i: Long): Long = {
    var z = i + salt + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  private def pick(pool: IndexedSeq[String], i: Long, s: Long): String =
    pool(((mix(i * 31 + s) >>> 8) % pool.length).toInt)

  import OsmGen._

  private def uid(i: Long): Long = mix(i * 7 + 99).abs % 921 + 1

  private def ts(i: Long): String = {
    val m = (mix(i + 3).abs % 12 + 1).toInt
    val d = (mix(i + 5).abs % 28 + 1).toInt
    val h = (mix(i + 7).abs % 24).toInt
    f"201${i % 10}%d-$m%02d-$d%02dT$h%02d:00:00Z"
  }

  private def attrs(id: Long, i: Long): String = {
    val u = uid(i)
    val v = mix(i + 11).abs % 5 + 1
    val cs = 100000 + mix(i + 13).abs % 900000
    s"""id="$id" version="$v" changeset="$cs" timestamp="${ts(i)}" user="mapper$u" uid="$u""""
  }

  /** About 10% of nodes carry 2-4 tags from one of five cleaning families. */
  private def nodeTags(i: Long): Seq[(String, String)] =
    if (mix(i).abs % 10 != 0) Nil
    else (mix(i + 17).abs % 5).toInt match {
      case 0 => Seq("amenity" -> pick(Amenities, i, 1),
        "phone" -> pick(Phones, i, 2), "cuisine" -> pick(Cuisines, i, 3))
      case 1 => Seq("addr:street" -> pick(Streets, i, 4),
        "addr:state" -> pick(States, i, 5),
        "addr:postcode" -> f"982${mix(i + 19).abs % 100}%02d",
        "addr:housenumber" -> (mix(i + 23).abs % 4000 + 1).toString)
      case 2 => Seq("payment:visa" -> yesNo(mix(i + 29)),
        "payment:cash" -> "yes", "fuel:diesel" -> yesNo(mix(i + 31)))
      case 3 => Seq("lanes" -> (mix(i + 37).abs % 6 + 1).toString,
        "maxheight" -> s"${mix(i + 41).abs % 8 + 2}.5", "is_in" -> "Bellingham")
      case _ =>
        Seq("contact:phone" -> pick(Phones, i, 6),
          "gnis:County_num" -> (if (mix(i + 43).abs % 9 == 0) "73" else "073")) ++
          (if (mix(i + 47).abs % 7 == 0) Seq("bad key" -> "dropped by problemchars")
           else Nil)
    }

  private def yesNo(h: Long): String = if (h.abs % 2 == 0) "yes" else "no"

  /** Writes the extract to `path` and returns what was written. */
  def write(path: String, scale: Double): Manifest = {
    val nN = (N_NODES * scale).toLong.max(10)
    val nW = (N_WAYS * scale).toLong.max(2)
    val nR = (N_RELS * scale).toLong.max(1)
    var tags, nds, members = 0L
    val users = scala.collection.mutable.BitSet()
    val f = new File(path)
    Option(f.getParentFile).foreach(_.mkdirs())
    val w = new BufferedWriter(
      new OutputStreamWriter(new FileOutputStream(f), StandardCharsets.UTF_8), 1 << 20)
    def tag(k: String, v: String): Unit = {
      w.write(s"""    <tag k="$k" v="$v"/>\n"""); tags += 1
    }
    try {
      w.write("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n")
      w.write(s"""<osm version="0.6" generator="perfbench" """ +
        s"""data-nodes="$nN" data-ways="$nW" data-relations="$nR">\n""")
      w.write("""  <bounds minlat="48.602" minlon="-122.8244" maxlat="49.0027" maxlon="-122.0787"/>""" + "\n")
      var i = 0L
      while (i < nN) {
        val lat = 48.602 + (mix(i + 53).abs % 400000) / 1000000.0
        val lon = -122.8244 + (mix(i + 59).abs % 740000) / 1000000.0
        val head = s"""  <node ${attrs(1000000 + i, i)} lat="$lat" lon="$lon""""
        users += uid(i).toInt
        val ts = nodeTags(i)
        if (ts.isEmpty) w.write(head + "/>\n")
        else {
          w.write(head + ">\n")
          ts.foreach { case (k, v) => tag(k, v) }
          w.write("  </node>\n")
        }
        i += 1
      }
      i = 0L
      while (i < nW) {
        w.write(s"""  <way ${attrs(5000000 + i, i + nN)}>\n""")
        users += uid(i + nN).toInt
        val n = 8 + i % 12
        var j = 0L
        while (j < n) {
          w.write(s"""    <nd ref="${1000000 + mix(i * 131 + j).abs % nN}"/>\n""")
          j += 1
        }
        nds += n
        tag("highway", pick(Highways, i, 61))
        if (i % 3 == 0) tag("name", pick(Streets, i, 67))
        if (i % 9 == 0) tag("service", "driveway")
        w.write("  </way>\n")
        i += 1
      }
      i = 0L
      while (i < nR) {
        w.write(s"""  <relation ${attrs(9000000 + i, i + nN + nW)}>\n""")
        users += uid(i + nN + nW).toInt
        val n = 30 + i % 6
        var j = 0L
        while (j < n) {
          val (t, r) =
            if (mix(i * 17 + j).abs % 3 == 0) ("way", 5000000 + mix(i * 19 + j).abs % nW)
            else ("node", 1000000 + mix(i * 23 + j).abs % nN)
          w.write(s"""    <member type="$t" ref="$r" role="${if (j == 0) "outer" else ""}"/>\n""")
          j += 1
        }
        members += n
        tag("type", "multipolygon")
        tag("name", s"Area ${mix(i + 71).abs % 500}")
        w.write("  </relation>\n")
        i += 1
      }
      w.write("</osm>\n")
    } finally w.close()
    Manifest(f.length(), nN, nW, nR, tags, nds, members, users.size)
  }
}

object OsmGen {
  val N_NODES = 355044
  val N_WAYS = 30179
  val N_RELS = 554

  /** Counts of what one [[OsmGen.write]] produced; the audit checks derive
    * their expected values from these, never from the engine's output. */
  final case class Manifest(bytes: Long, nodes: Long, ways: Long,
      relations: Long, tags: Long, nds: Long, members: Long, users: Int) {
    def docs: Long = nodes + ways + relations
    def toJson: String =
      s"""{"bytes":$bytes,"node":$nodes,"way":$ways,"relation":$relations,""" +
        s""""tag":$tags,"nd":$nds,"member":$members,"users":$users}"""
  }

  private val Phones = IndexedSeq(
    "(360) 555-0101", "+1 360-555-0102", "360.555.0103", "3605550104",
    "+1 (360) 555-0105 ext. 12", "555-0106", "1-360-555-0107",
    "360 555 0108 9")
  private val Streets = IndexedSeq(
    "North Forest St.", "Ellis Street", "Cornwall Ave", "Maple st",
    "Holly Street #210", "E Magnolia Street", "Alabama Hill Rd",
    "Guide Meridian", "Pacific Hwy", "James St SE", "Samish Way",
    "Lakeway Dr.", "Northwest Avenue", "Telegraph Road")
  private val States = IndexedSeq("WA", "wa", "Washington", "OR", "washington")
  private val Cuisines = IndexedSeq(
    "coffee_shop; bakery", "pizza;italian", "mexican", "burger; fast_food",
    "thai; vietnamese")
  private val Amenities = IndexedSeq(
    "cafe", "restaurant", "school", "parking", "fuel", "bank", "pharmacy")
  private val Highways = IndexedSeq(
    "residential", "service", "footway", "secondary", "primary", "path")
}
