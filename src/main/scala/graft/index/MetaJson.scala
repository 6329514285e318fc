package graft.index

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import scala.jdk.CollectionConverters._

/** Driver-side metadata JSON parsing (Jackson, already on Spark's
  * classpath — no new dependency). The old path shipped the whole
  * metadata string through `spark.read.json(createDataset(Seq(meta)))`
  * — a LocalTableScan whose TASKS each carry the full string, which at
  * a pivot-bearing manifest (~1.4 MB of float text: 8 shards × 256
  * pivots × 64 floats) tripped Spark's >1 MiB task-size warning on
  * every open and spent two needless Spark jobs per parse (schema
  * inference + collect). Index metadata is driver-local by
  * definition; parse it on the driver. */
private[graft] object MetaJson {
  private val mapper = new ObjectMapper()

  def parse(s: String): JsonNode = mapper.readTree(s)

  /** Fetch a required field or fail NAMING it (and where it was
    * expected) — `node.get("x")` on a foreign or pre-upgrade
    * metadata.json returns null and the caller NPEs with no context;
    * the old Spark-JSON path at least raised a named
    * AnalysisException. */
  def required(n: JsonNode, name: String, where: String = "metadata.json"): JsonNode = {
    val c = n.get(name)
    require(c != null, s"missing required field '$name' in $where")
    c
  }

  /** Float array from a JSON number array. Exact round-trip: the
    * writers emit Float.toString (shortest round-trip), and
    * double-parse → float restores the bit pattern. */
  def floats(n: JsonNode): Array[Float] = {
    require(n != null && n.isArray, "expected an array of numbers")
    val out = new Array[Float](n.size())
    var i = 0
    while (i < out.length) {
      val e = n.get(i)
      require(e.isNumber, s"expected a number at [$i], got $e")
      out(i) = e.asDouble().toFloat; i += 1
    }
    out
  }

  def floatMatrix(n: JsonNode): Array[Array[Float]] = {
    require(n != null && n.isArray, "expected an array of number arrays")
    val out = new Array[Array[Float]](n.size())
    var i = 0
    while (i < out.length) { out(i) = floats(n.get(i)); i += 1 }
    out
  }

  def elems(n: JsonNode): Iterator[JsonNode] = n.elements().asScala
}
