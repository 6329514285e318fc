package graft

import java.io.IOException
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Path, StandardCopyOption}

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import graft.index.{MmapIndex, SingleFileIndex, VamanaIndex, VamanaParams}

/** Seeded corruption fuzz over the single-file open: truncations inside
  * the header, the vectors and the adjacency; bit flips in header
  * bytes; huge, negative and zero header fields; and a foreign first
  * 64 bytes. For every mutation each opener either serves the file or
  * fails with an IllegalArgumentException or IOException whose message
  * names the file (and, for a header fault, the field) — never with an
  * index, buffer, arithmetic or allocation failure from trusting a
  * field. */
class SingleFileCorruptionSpec extends AnyFunSuite {
  private lazy val spark = SparkSpecBase.spark
  import spark.implicits._

  private lazy val tmp = Files.createTempDirectory("graft_corrupt_spec")

  private def exportTo(name: String, df: DataFrame, p: VamanaParams,
      u8: Boolean = false): Path = {
    val f = tmp.resolve(name)
    SingleFileIndex.export(VamanaIndex.build(df, p, numShards = 1), p, f.toString, u8 = u8)
    f
  }

  /** Byte offset and width of each header field: the u64 length
    * prefix, then the bincode fields in declaration order. */
  private val Fields = Seq("metadata_len" -> (0, 8), "dim" -> (8, 8),
    "num_vectors" -> (16, 8), "max_degree" -> (24, 8), "medoid_id" -> (32, 4),
    "vectors_offset" -> (36, 8), "adjacency_offset" -> (44, 8), "elem_size" -> (52, 1),
    "distance_name" -> (53, 8))
  private val FieldNames = Fields.map(_._1) :+ "header"
  private val Values = Seq(0L, 1L, 3L, -1L, -8L, Long.MinValue, Long.MaxValue,
    Int.MaxValue.toLong, 1L << 31, 1L << 32, (1L << 32) + 1, 1L << 40)

  private def le(bytes: Array[Byte], off: Int, width: Int, v: Long): Unit =
    (0 until width).foreach(i => bytes(off + i) = (v >>> (8 * i)).toByte)

  /** (name, is a header fault, mutated bytes) for one fixture. */
  private def mutations(orig: Array[Byte]): Seq[(String, Boolean, Array[Byte])] = {
    val bb = ByteBuffer.wrap(orig).order(ByteOrder.LITTLE_ENDIAN)
    val mdLen = bb.getLong(0).toInt
    val vOff = bb.getLong(36).toInt
    val aOff = bb.getLong(44).toInt
    val rnd = new scala.util.Random(20260417L)
    val cuts = Seq(0, 7, 30, 8 + mdLen - 1).map(c => (s"truncate header at $c", true, c)) ++
      Seq(vOff + 3, (vOff + aOff) / 2, aOff + 5, orig.length - 1)
        .map(c => (s"truncate body at $c", false, c))
    val truncations = cuts.map { case (n, h, c) => (n, h, java.util.Arrays.copyOf(orig, c)) }
    val fields = for ((f, (off, w)) <- Fields; v <- Values) yield {
      val b = orig.clone(); le(b, off, w, v); (s"$f = $v", true, b)
    }
    val flips = (0 until 64).map { _ =>
      val b = orig.clone()
      val at = rnd.nextInt(8 + mdLen); val bit = rnd.nextInt(8)
      b(at) = (b(at) ^ (1 << bit)).toByte
      (s"flip byte $at bit $bit", true, b)
    }
    val foreign = Seq(
      Array.fill[Byte](64)(rnd.nextInt(256).toByte),
      Array.fill[Byte](64)(-1),
      "\u0089HDF\r\n\u001a\n".getBytes("ISO-8859-1") ++ new Array[Byte](56)).zipWithIndex.map {
      case (head, i) =>
        val b = orig.clone(); System.arraycopy(head, 0, b, 0, 64); (s"foreign head $i", true, b)
    }
    truncations ++ fields ++ flips ++ foreign
  }

  /** Run `open` on a mutated file: success, or a named IAE/IOException. */
  private def attempt(file: String, header: Boolean, what: String)(open: => Any): Unit =
    try open
    catch {
      case e @ (_: IllegalArgumentException | _: IOException) =>
        val m = String.valueOf(e.getMessage)
        assert(m.contains(file), s"$what: the message does not name the file: $m")
        if (header) assert(FieldNames.exists(m.contains), s"$what: the message names no field: $m")
      case t: Throwable => fail(s"$what: ${t.getClass.getName}: ${t.getMessage}", t)
    }

  private def fuzz(fixture: Path, u8: Boolean): Unit = {
    val orig = Files.readAllBytes(fixture)
    val sidecar = fixture.resolveSibling(fixture.getFileName.toString + ".ids")
    val muts = mutations(orig)
    muts.zipWithIndex.foreach { case ((name, header, bytes), i) =>
      val f = tmp.resolve(s"mut-$i.idx")
      Files.write(f, bytes)
      val ids = tmp.resolve(s"mut-$i.idx.ids")
      if (Files.exists(sidecar)) Files.copy(sidecar, ids, StandardCopyOption.REPLACE_EXISTING)
      val p = f.toString
      attempt(p, header, s"importLocal, $name")(SingleFileIndex.importLocal(p))
      if (u8) attempt(p, header, s"importLocalU8, $name")(SingleFileIndex.importLocalU8(p))
      attempt(p, header, s"MmapIndex, $name") {
        val mm = new MmapIndex(p)
        try mm.search(mm.vector(0), 5, 16) finally mm.close()
      }
      Files.delete(f); Files.deleteIfExists(ids)
    }
    info(s"${muts.length} mutations of ${fixture.getFileName}")
  }

  private val cosine = VamanaParams(maxDegree = 12, buildBeamWidth = 24, metric = "cosine")
  private val l2 = VamanaParams(maxDegree = 12, buildBeamWidth = 24, metric = "l2")

  test("f32 cosine with sparse ids: every mutation serves or fails naming file and field") {
    val vecs = Tables.embeddings(spark, SparkSpecBase.sf001).filter($"vec_id" % 4 === 1)
    val f = exportTo("cos.idx", vecs, cosine)
    assert(Files.exists(f.resolveSibling("cos.idx.ids")), "fixture must carry a sidecar")
    fuzz(f, u8 = false)
  }

  test("u8 l2: every mutation serves or fails naming file and field, in all three openers") {
    val vecs = Tables.embeddings(spark, SparkSpecBase.sf001).filter($"vec_id" < 240)
      .selectExpr("vec_id",
        "transform(embedding, x -> CAST(CAST(round(greatest(least(x, 1.0F), -1.0F) * 127 + 128, 0) AS INT) AS FLOAT)) AS embedding")
    fuzz(exportTo("u8.idx", vecs, l2, u8 = true), u8 = true)
  }

  test("packed hamming: every mutation serves or fails naming file and field") {
    val rows = (0 until 90).map { i =>
      (i.toLong, Array.tabulate(128)(d => if (((i * 2654435761L + d * 40503L) >>> 7) % 3 == 0) 1f else 0f))
    }
    val hp = VamanaParams(maxDegree = 8, buildBeamWidth = 16, metric = "hamming")
    fuzz(exportTo("ham.idx", rows.toDF("vec_id", "embedding"), hp), u8 = false)
  }

  test("a corrupt adjacency id in one shard fails LocalSharded.search naming file, row and slot") {
    // LocalSharded searches the probed shards at once on the common
    // fork-join pool; the decoder's exception must come back through
    // it as thrown, not re-wrapped and not swallowed. Queries drawn
    // from the healthy shards rank the corrupt shard below their own,
    // so its search is one of the forked calls, not the caller's.
    val dir = tmp.resolve("sharded")
    SingleFileIndex.exportSharded(VamanaIndex.build(
      Tables.embeddings(spark, SparkSpecBase.sf001), cosine, numShards = 4), cosine, dir.toString)
    val man = SingleFileIndex.readManifest(spark, dir.toString)
    val bad = dir.resolve(man.last._2).toString
    val meta = SingleFileIndex.readMeta(bad)
    val row = meta.medoidId
    val queries = man.init.map { case (_, f, _) =>
      val mm = new MmapIndex(dir.resolve(f).toString)
      try mm.vector(mm.entryPoint) finally mm.close()
    }
    val raf = new java.io.RandomAccessFile(bad, "rw")
    try {
      raf.seek(meta.adjacencyOffset + 4L * meta.maxDegree * row)
      raf.write(ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN)
        .putInt(meta.numVectors + 5).array())
    } finally raf.close()
    val handle = new SingleFileIndex.LocalSharded(spark, dir.toString)
    try queries.foreach { q =>
      val e = intercept[IllegalArgumentException](handle.search(q, 5, 16))
      assert(e.getMessage.contains(bad) && e.getMessage.contains(s"row $row slot 0") &&
        e.getMessage.contains(s"${meta.numVectors + 5}"), e.getMessage)
    } finally handle.close()
  }

  test("the heap importers refuse rows that do not fit a Java array, pointing to MmapIndex") {
    // a sparse packed-hamming file: 32769 rows of 1024 words decode to
    // 2^31 + 2^16 float slots, one past what a heap array holds
    val n = 32769L; val words = 1024L
    val name = "anndists::dist::distances::DistHamming".getBytes("UTF-8")
    val md = ByteBuffer.allocate(53 + name.length).order(ByteOrder.LITTLE_ENDIAN)
    val vOff = SingleFileIndex.VectorsOffset
    md.putLong(words).putLong(n).putLong(1L).putInt(0).putLong(vOff)
      .putLong(vOff + 8 * n * words).put(8.toByte).putLong(name.length.toLong).put(name)
    val f = tmp.resolve("huge.idx")
    val raf = new java.io.RandomAccessFile(f.toFile, "rw")
    try {
      raf.write(ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN)
        .putLong(md.capacity().toLong).array())
      raf.write(md.array())
      raf.setLength(vOff + 8 * n * words + 4 * n)
    } finally raf.close()
    val e = intercept[IllegalArgumentException](SingleFileIndex.importLocal(f.toString))
    assert(e.getMessage.contains(f.toString) && e.getMessage.contains("MmapIndex"), e.getMessage)
    Files.delete(f)
  }
}
