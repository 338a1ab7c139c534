package perfbench

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

class OsmGenSpec extends AnyFunSuite {
  private val scale = 0.01

  private def generate(seed: Long): (Array[Byte], OsmGen.Manifest) = {
    val dir = Files.createTempDirectory("osmgen")
    val path = dir.resolve("extract.osm")
    try {
      val m = new OsmGen(seed).write(path.toString, scale)
      (Files.readAllBytes(path), m)
    } finally {
      Files.deleteIfExists(path)
      Files.deleteIfExists(dir)
    }
  }

  private def count(bytes: Array[Byte], open: String): Int =
    open.r.findAllMatchIn(new String(bytes, "UTF-8")).size

  test("the same seed gives identical bytes") {
    val (a, ma) = generate(7)
    val (b, mb) = generate(7)
    assert(a.sameElements(b))
    assert(ma == mb)
  }

  test("another seed gives other bytes with the same element counts") {
    val (a, ma) = generate(7)
    val (b, mb) = generate(8)
    assert(!a.sameElements(b))
    assert((ma.nodes, ma.ways, ma.relations) == ((mb.nodes, mb.ways, mb.relations)))
    for (el <- Seq("<node ", "<way ", "<relation "))
      assert(count(a, el) == count(b, el), el)
  }

  test("counts follow the reference's element counts at the given scale") {
    val (bytes, m) = generate(1)
    assert(m.nodes == (OsmGen.N_NODES * scale).toLong)
    assert(m.ways == (OsmGen.N_WAYS * scale).toLong)
    assert(m.relations == (OsmGen.N_RELS * scale).toLong)
    assert(count(bytes, "<node ") == m.nodes)
    assert(count(bytes, "<way ") == m.ways)
    assert(count(bytes, "<relation ") == m.relations)
    assert(count(bytes, "<tag ") == m.tags)
    assert(count(bytes, "<nd ") == m.nds)
    assert(count(bytes, "<member ") == m.members)
    assert(m.bytes == bytes.length)
    // every way references 8-19 nodes and every relation 30-35 members
    assert(m.nds >= 8 * m.ways && m.nds <= 19 * m.ways)
    assert(m.members >= 30 * m.relations && m.members <= 35 * m.relations)
  }

  test("the tag mix keeps every cleaning family") {
    val (bytes, _) = generate(3)
    val text = new String(bytes, "UTF-8")
    for (k <- Seq("amenity", "phone", "cuisine", "addr:street", "addr:postcode",
        "payment:visa", "fuel:diesel", "lanes", "maxheight", "is_in",
        "contact:phone", "gnis:County_num", "highway", "type"))
      assert(text.contains(s"""k="$k""""), k)
  }
}
