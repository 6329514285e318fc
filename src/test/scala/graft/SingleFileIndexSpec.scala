package graft

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite
import graft.index.{MmapIndex, SingleFileIndex, VamanaIndex, VamanaParams}

/** Byte-level single-file interop (reference lib.rs file layout): a
  * compacted (single-shard → single connected graph) index exported
  * to one file must parse as the reference's exact byte layout, serve
  * identical results when heap-loaded, and serve identical results
  * again straight off the mmap without heap-loading vectors. */
class SingleFileIndexSpec extends AnyFunSuite {
  private lazy val spark = SparkSpecBase.spark
  import spark.implicits._

  private val params = VamanaParams(maxDegree = 16, buildBeamWidth = 32, metric = "cosine")

  private lazy val path: String = {
    val vecs = Tables.embeddings(spark, SparkSpecBase.sf001)
    val idx = VamanaIndex.build(vecs, params, numShards = 1)
    val p = "/tmp/graft_single.idx"
    SingleFileIndex.export(idx, params, p)
    p
  }

  test("export → importLocal round-trips vectors, adjacency, ids, and search") {
    val vecs = Tables.embeddings(spark, SparkSpecBase.sf001)
    val idx = VamanaIndex.build(vecs, params, numShards = 1)
    SingleFileIndex.export(idx, params, path)

    val (g, ids, p2) = SingleFileIndex.importLocal(path)
    assert(g.n == vecs.count())
    assert(g.dim == 64)
    assert(p2.metric == "cosine" && p2.maxDegree == 16)
    assert(ids.length == g.n && ids.sameElements(ids.sorted))
    // file row i holds the corpus vector of the i-th smallest id
    val corpus = vecs.select($"vec_id", $"embedding").as[(Long, Array[Float])].collect().toMap
    (0 until g.n by 17).foreach { i =>
      assert(java.util.Arrays.copyOfRange(g.vecs, i * g.dim, (i + 1) * g.dim)
        .sameElements(corpus(ids(i))), s"file row $i is not corpus id ${ids(i)}")
    }

    // search parity: local kernel vs the distributed search on the
    // same index, for a handful of held-in queries
    val queries = vecs.filter($"vec_id" % 100 === 0)
      .select($"vec_id", $"embedding").as[(Long, Array[Float])].collect()
    val distributed = VamanaIndex.search(idx, queries, 5, 32, params)
      .orderBy($"q_id", $"rank")
      .select($"q_id", $"neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    queries.foreach { case (qid, qv) =>
      val local = g.search(qv, 5, 32).map { case (pos, _) => ids(pos) }.toSeq
      assert(local == distributed(qid), s"query $qid: $local vs ${distributed(qid)}")
    }

    // adjacency degrees bounded as written
    assert(g.graph.forall(_.length <= 16))
  }

  test("l1/linf/jaccard/hellinger indexes round-trip the file metric — never silently served as l2") {
    // regression: Metric.byName gained l1/linf before the single-file
    // metric maps did, so an exported l1 index reopened as l2
    val marker = Map("js" -> "DistJensenShannon")
    for (m <- Seq("l1", "linf", "jaccard", "hellinger", "js")) {
      val p = VamanaParams(maxDegree = 8, buildBeamWidth = 16, metric = m)
      val vecs = Tables.embeddings(spark, SparkSpecBase.sf001).limit(80)
      val idx = VamanaIndex.build(vecs, p, numShards = 1)
      val file = s"/tmp/graft_single_$m.idx"
      SingleFileIndex.export(idx, p, file)
      val (_, _, p2) = SingleFileIndex.importLocal(file)
      assert(p2.metric == m, s"metric $m reopened as ${p2.metric}")
      val mm = new MmapIndex(file)
      try assert(mm.meta.distanceName.contains(
        marker.getOrElse(m, "Dist" + m.capitalize)))
      finally mm.close()
    }
  }

  test("unknown distance_name in file metadata fails loudly instead of defaulting to l2") {
    intercept[IllegalArgumentException] {
      SingleFileIndex.nameToMetric("anndists::dist::distances::DistHausdorff")
    }
  }

  test("export refuses an index beyond the driver-heap guard with a clear message") {
    val vecs = Tables.embeddings(spark, SparkSpecBase.sf001)
    val idx = VamanaIndex.build(vecs, params, numShards = 1)
    val e = intercept[IllegalArgumentException] {
      SingleFileIndex.export(idx, params, "/tmp/graft_guard.idx", maxRows = 10)
    }
    assert(e.getMessage.contains("driver-heap guard"), e.getMessage)
    assert(e.getMessage.contains("VamanaIndex.save"), e.getMessage)
    assert(!Files.exists(Paths.get("/tmp/graft_guard.idx")))
  }

  test("importLocal enters at the file's stored medoid (mmap parity for foreign files)") {
    // heap and mmap serving must use the SAME entry point recorded in
    // the file — for a reference-written file the stored medoid is a
    // random pivot graft's deterministic rule would not reproduce
    val (g, _, _) = SingleFileIndex.importLocal(path)
    val meta = SingleFileIndex.readMeta(path)
    assert(g.medoid == meta.medoidId)
  }

  test("file bytes follow the reference layout exactly") {
    val bytes = Files.readAllBytes(Paths.get(path))
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    // [metadata_len: u64 LE][bincode metadata]
    val mdLen = bb.getLong
    assert(mdLen > 0 && mdLen < (1 << 20) - 8, s"metadata_len $mdLen")
    // bincode legacy fixint fields in struct declaration order
    val dim = bb.getLong.toInt
    val n = bb.getLong.toInt
    val maxDeg = bb.getLong.toInt
    val medoid = bb.getInt
    val vOff = bb.getLong
    val aOff = bb.getLong
    val elem = bb.get() & 0xff
    val nameLen = bb.getLong.toInt
    val nameBytes = new Array[Byte](nameLen); bb.get(nameBytes)
    val name = new String(nameBytes, "UTF-8")
    assert(bb.position() == 8 + mdLen, "bincode length must equal metadata_len")

    assert(dim == 64 && elem == 4)
    assert(medoid >= 0 && medoid < n)
    assert(name == "anndists::dist::distances::DistCosine")
    // 1 MiB vectors_offset gap, adjacency immediately after vectors,
    // file ends at the adjacency end (reference lib.rs:558-595)
    assert(vOff == (1L << 20), s"vectors_offset $vOff")
    assert(aOff == vOff + 4L * n * dim, s"adjacency_offset $aOff")
    assert(bytes.length.toLong == aOff + 4L * n * maxDeg, s"file length ${bytes.length}")

    // vectors region holds the corpus row-major LE: row 0 == vec_id 0
    val first = Tables.embeddings(spark, SparkSpecBase.sf001)
      .filter($"vec_id" === 0).select($"embedding").as[Array[Float]].head()
    val vbb = ByteBuffer.wrap(bytes, (1 << 20), 4 * dim).order(ByteOrder.LITTLE_ENDIAN)
    first.foreach(f => assert(vbb.getFloat == f))

    // adjacency is u32 positions or 0xFFFFFFFF padding
    val abb = ByteBuffer.wrap(bytes, aOff.toInt, 4 * maxDeg).order(ByteOrder.LITTLE_ENDIAN)
    (0 until maxDeg).foreach { _ =>
      val v = abb.getInt
      assert(v == -1 || (v >= 0 && v < n))
    }
  }

  test("u8 index: elem_size 1 export round-trips byte-true, heap and mmap agree") {
    // quantize the embeddings into integral [1,255] slots — genuine u8
    // content exactly representable in the float graph
    val vecs = Tables.embeddings(spark, SparkSpecBase.sf001)
      .selectExpr("vec_id",
        """transform(embedding,
          |  x -> CAST(CAST(round(greatest(least(x, 1.0F), -1.0F) * 127 + 128, 0) AS INT) AS FLOAT))
          |AS embedding""".stripMargin)
    val p8 = VamanaParams(maxDegree = 16, buildBeamWidth = 32, metric = "l2")
    val idx = VamanaIndex.build(vecs, p8, numShards = 1)
    val pathA = "/tmp/graft_u8_a.idx"
    SingleFileIndex.export(idx, p8, pathA, u8 = true)

    // file records elem_size 1 and is 4x smaller in the vector region
    val meta = SingleFileIndex.readMeta(pathA)
    assert(meta.elemSize == 1)
    assert(meta.adjacencyOffset == SingleFileIndex.VectorsOffset + meta.numVectors.toLong * meta.dim)

    // import → re-export is byte-identical (u8 → float → u8 lossless)
    val (g, ids, pBack) = SingleFileIndex.importLocal(pathA)
    assert(g.n == meta.numVectors)
    val rows = (0 until g.n).map { i =>
      graft.index.IndexRow(ids(i), g.vecs.slice(i * g.dim, (i + 1) * g.dim),
        0, g.graph(i).map(ids(_)))
    }
    val reIdx = spark.createDataset(rows)
    val pathB = "/tmp/graft_u8_b.idx"
    SingleFileIndex.export(reIdx, pBack, pathB, u8 = true)
    val a = Files.readAllBytes(Paths.get(pathA))
    val b = Files.readAllBytes(Paths.get(pathB))
    assert(a.length == b.length && java.util.Arrays.equals(a, b))

    // mmap serving reads u8 bytes directly and matches the heap graph.
    // An integral query takes the native integer-L2 loop (no float
    // widening); results must equal the f32-widened heap graph's.
    val mm = new MmapIndex(pathA)
    try {
      val q = g.vecs.slice(7 * g.dim, 8 * g.dim)
      val heap = g.search(q, 5, 32).map { case (pos, d) => (ids(pos), d) }.toSeq
      val mapped = mm.search(q, 5, 32).toSeq
      assert(mapped == heap, s"$mapped vs $heap")
      // fractional query: integer path ineligible, widened-float
      // fallback must still match the heap graph exactly
      val qf = q.clone(); qf(0) += 0.5f
      val heapF = g.search(qf, 5, 32).map { case (pos, d) => (ids(pos), d) }.toSeq
      val mappedF = mm.search(qf, 5, 32).toSeq
      assert(mappedF == heapF, s"fractional: $mappedF vs $heapF")

      // byte-resident heap serving (U8Graph, 1/4 the widened heap):
      // identical results on both the integer path and the fallback
      val (g8, ids8, _) = SingleFileIndex.importLocalU8(pathA)
      assert(ids8.sameElements(ids))
      val u8Int = g8.search(q, 5, 32).map { case (pos, d) => (ids8(pos), d) }.toSeq
      assert(u8Int == heap, s"u8 heap: $u8Int vs $heap")
      val u8Frac = g8.search(qf, 5, 32).map { case (pos, d) => (ids8(pos), d) }.toSeq
      assert(u8Frac == heapF, s"u8 heap fractional: $u8Frac vs $heapF")
    } finally mm.close()
  }

  test("distributed serve() over the file matches driver-side mmap search") {
    val (g, ids, _) = SingleFileIndex.importLocal(path)
    val qs = Seq(2, 91, 333).map { i =>
      (i.toLong, g.vecs.slice(i * g.dim, (i + 1) * g.dim))
    }
    val served = SingleFileIndex.serve(
        qs.toDF("q_id", "qv").repartition(3), path, k = 5, beamWidth = 32)
      .as[(Long, Int, Long, Double)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(r => (r._3, r._4)).toSeq).toMap
    val mm = new MmapIndex(path)
    try qs.foreach { case (qid, qv) =>
      val local = mm.search(qv, 5, 32).toSeq
        .map { case (nid, d) => (nid, math.rint(d * 1e4) / 1e4) }
      assert(served(qid) == local, s"q $qid: ${served(qid)} vs $local")
    } finally mm.close()
  }

  test("bvecs source feeds the u8 tier natively: byte-equal to the widened path, 1/4 heap") {
    import spark.implicits._
    // genuine u8 content through the DISTRIBUTED bvecs loop: quantize,
    // shard-export, read back NATIVE (no widen option anywhere)
    val quant = Tables.embeddings(spark, SparkSpecBase.sf001)
      .select($"vec_id", $"embedding").as[(Long, Array[Float])]
      .map { case (id, v) =>
        (id, v.map(x =>
          (math.round(math.max(-1f, math.min(1f, x)) * 127f) + 128).toByte))
      }.toDF("vec_id", "codes")
    val dir = "/tmp/graft_u8_src_spec.bvecs.d"
    graft.sources.VecsFormats.writeBvecsSharded(quant, dir, shards = 3)
    val p8 = VamanaParams(maxDegree = 16, buildBeamWidth = 32, metric = "l2")

    // native-codes build vs widen=true build: u8 is exact in f32, so
    // the two graphs must be IDENTICAL — pinned at the strongest
    // level, byte equality of the exported u8 files
    val idxNative = VamanaIndex.buildFromU8Codes(
      spark.read.format("bvecs").load(dir), p8, numShards = 1)
    val idxWidened = VamanaIndex.build(
      spark.read.format("bvecs").option("widen", "true").load(dir), p8, numShards = 1)
    val pa = "/tmp/graft_u8_src_native.idx"
    val pb = "/tmp/graft_u8_src_widened.idx"
    SingleFileIndex.export(idxNative, p8, pa, u8 = true)
    SingleFileIndex.export(idxWidened, p8, pb, u8 = true)
    val ba = Files.readAllBytes(Paths.get(pa))
    assert(java.util.Arrays.equals(ba, Files.readAllBytes(Paths.get(pb))),
      "native-codes build diverged from the widened build")

    // serving stays byte-resident (the 1/4-heap point) and matches the
    // widened-float import exactly
    val (g8, ids8, _) = SingleFileIndex.importLocalU8(pa)
    assert(g8.codes.length == g8.n * g8.dim) // bytes, not widened floats
    val (gw, idsW, _) = SingleFileIndex.importLocal(pb)
    assert(ids8.sameElements(idsW))
    Seq(3, 47, 211).foreach { i =>
      val q = gw.vecs.slice(i * gw.dim, (i + 1) * gw.dim)
      val a = g8.search(q, 5, 32).map { case (p, d) => (ids8(p), d) }.toSeq
      val b = gw.search(q, 5, 32).map { case (p, d) => (idsW(p), d) }.toSeq
      assert(a == b, s"query $i: u8 $a vs widened $b")
    }
    // the build's requirement is loud: a non-L2 metric cannot reach
    // the u8 file tier
    val e = intercept[IllegalArgumentException] {
      VamanaIndex.buildFromU8Codes(spark.read.format("bvecs").load(dir),
        p8.copy(metric = "cosine"), numShards = 1)
    }
    assert(e.getMessage.contains("u8"))
  }

  test("importLocalU8 medoid fallback on a foreign file without a stored entry") {
    // clone the u8 file and corrupt medoid_id to the 0xFFFFFFFF
    // sentinel (metadata layout: 8-byte len prefix + dim/num/maxdeg
    // longs → medoid int at file offset 32): the importer must fall
    // back to the deterministic pivot-medoid rule instead of crashing
    // or entering at a bogus node
    val src = "/tmp/graft_u8_a.idx"
    if (!Files.exists(Paths.get(src))) cancel("u8 export test must run first")
    val patched = "/tmp/graft_u8_nomedoid.idx"
    Files.copy(Paths.get(src), Paths.get(patched),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    val ids__ = Files.exists(Paths.get(src + ".ids"))
    if (ids__) Files.copy(Paths.get(src + ".ids"), Paths.get(patched + ".ids"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    val raf = new java.io.RandomAccessFile(patched, "rw")
    try {
      raf.seek(32)
      raf.write(Array[Byte](-1, -1, -1, -1)) // medoid_id = -1 (LE)
    } finally raf.close()
    assert(SingleFileIndex.readMeta(patched).medoidId == -1)
    val (g8, ids8, _) = SingleFileIndex.importLocalU8(patched)
    assert(g8.entry >= 0 && g8.entry < g8.n)
    // fallback entry = the same deterministic pivot rule VamanaGraph
    // uses, computed in integer math — must match the f32 graph's
    val (gf, _, _) = SingleFileIndex.importLocal(patched)
    assert(g8.entry == gf.medoid, s"${g8.entry} vs ${gf.medoid}")
    // and search still works end-to-end
    val q = gf.vecs.slice(3 * gf.dim, 4 * gf.dim)
    val a = g8.search(q, 5, 32).map { case (p, d) => (ids8(p), d) }.toSeq
    val b = gf.search(q, 5, 32).map { case (p, d) => (ids8(p), d) }.toSeq
    assert(a == b, s"$a vs $b")
    // the MMAP serving path must elect the same fallback entry and
    // return the same rows (it used to crash on the -1 sentinel with
    // a negative mapping read)
    val mm = new MmapIndex(patched)
    try {
      assert(mm.entryPoint == g8.entry, s"${mm.entryPoint} vs ${g8.entry}")
      val c = mm.search(q, 5, 32).toSeq
      assert(c == a, s"$c vs $a")
    } finally mm.close()
  }

  test("a corrupt adjacency id fails loudly in all three openers, naming file, row and slot") {
    // epoch marks index by neighbor id: an id outside [0, n) must be
    // rejected by the row decoder, never reach a search as an
    // ArrayIndexOutOfBounds. Patch slot 0 of the entry row (the first
    // row any mmap search expands) to n + 5 in a copied u8 file.
    val src = "/tmp/graft_u8_a.idx"
    if (!Files.exists(Paths.get(src))) cancel("u8 export test must run first")
    val patched = "/tmp/graft_u8_badadj.idx"
    Files.copy(Paths.get(src), Paths.get(patched),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    Files.deleteIfExists(Paths.get(patched + ".ids"))
    val meta = SingleFileIndex.readMeta(patched)
    val row = meta.medoidId
    val raf = new java.io.RandomAccessFile(patched, "rw")
    try {
      raf.seek(meta.adjacencyOffset + 4L * meta.maxDegree * row)
      raf.write(ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN)
        .putInt(meta.numVectors + 5).array())
    } finally raf.close()
    def check(e: IllegalArgumentException): Unit = {
      val m = e.getMessage
      assert(m.contains(patched) && m.contains(s"row $row slot 0") &&
        m.contains(s"${meta.numVectors + 5}"), m)
    }
    check(intercept[IllegalArgumentException](SingleFileIndex.importLocal(patched)))
    check(intercept[IllegalArgumentException](SingleFileIndex.importLocalU8(patched)))
    val mm = new MmapIndex(patched)
    try {
      val q = mm.vector(row)
      check(intercept[IllegalArgumentException](mm.search(q, 5, 32)))
    } finally mm.close()
  }

  test("segmented mmap (tiny maxSegBytes) serves identically to one segment") {
    // row-aligned segmentation is how files beyond 2 GiB are served;
    // forcing ~3-row segments on a small file must change nothing
    val (g, ids, _) = SingleFileIndex.importLocal(path)
    val meta = SingleFileIndex.readMeta(path)
    val one = new MmapIndex(path)
    val seg = new MmapIndex(path, maxSegBytes = meta.dim.toLong * 4 * 3)
    try {
      Seq(3, 57, 311).foreach { i =>
        val q = g.vecs.slice(i * g.dim, (i + 1) * g.dim)
        val a = one.search(q, 5, 32).toSeq
        val b = seg.search(q, 5, 32).toSeq
        assert(a == b, s"row $i: $a vs $b")
        assert(seg.vector(i).sameElements(one.vector(i)), s"vector($i) drifted")
      }
    } finally { one.close(); seg.close() }
  }

  test("u64 hamming index: packed export, heap and mmap serving agree") {
    // binary corpus, bit-per-slot (the reference's DiskANN<u64,
    // DistHamming> element type once packed)
    val n = 60; val dim = 64
    val rows = (0 until n).map { i =>
      val v = Array.tabulate(dim)(d => if (((i * 2654435761L + d * 40503L) >>> 7) % 3 == 0) 1f else 0f)
      (i.toLong, v)
    }
    val df = spark.createDataFrame(rows).toDF("vec_id", "embedding")
    val hp = VamanaParams(maxDegree = 8, buildBeamWidth = 16, metric = "hamming")
    val idx = VamanaIndex.build(df, hp, numShards = 1)
    val p = "/tmp/graft_hamming.idx"
    SingleFileIndex.export(idx, hp, p)

    // file header: elem_size 8, dim in WORDS, DistHamming name
    val meta = SingleFileIndex.readMeta(p)
    assert(meta.elemSize == 8 && meta.dim == 1)
    assert(meta.distanceName == "anndists::dist::distances::DistHamming")
    assert(meta.adjacencyOffset == meta.vectorsOffset + 8L * n)

    // row 0's word is the packed bit pattern of the source slots
    val bytes = Files.readAllBytes(Paths.get(p))
    val word0 = ByteBuffer.wrap(bytes, (1 << 20), 8).order(ByteOrder.LITTLE_ENDIAN).getLong
    val expected0 = rows(0)._2.zipWithIndex.foldLeft(0L) {
      case (acc, (s, b)) => if (s != 0f) acc | (1L << b) else acc
    }
    assert(word0 == expected0)

    val (g, ids, gp) = SingleFileIndex.importLocal(p)
    assert(gp.metric == "hamming" && g.dim == 64 && g.n == n)
    val mm = new MmapIndex(p)
    try {
      assert(mm.dim == 64 && mm.n == n)
      rows.take(5).foreach { case (i, v) => assert(mm.vector(i.toInt).sameElements(v)) }
      rows.filter(_._1 % 7 == 0).foreach { case (qid, qv) =>
        val heap = g.search(qv, 5, 16).map { case (pos, d) => (ids(pos), d) }.toSeq
        val mmap = mm.search(qv, 5, 16).toSeq
        assert(mmap == heap, s"query $qid: $mmap vs $heap")
      }
    } finally mm.close()
  }

  test("mmap serving matches the heap-loaded graph without loading vectors") {
    val (g, ids, _) = SingleFileIndex.importLocal(path)
    val mm = new MmapIndex(path)
    try {
      assert(mm.n == g.n && mm.dim == g.dim)
      // the persisted entry point is the deterministic medoid the heap
      // graph recomputes
      assert(mm.meta.medoidId == g.medoid)
      // vectors read lazily off the mapping match the heap copy
      (0 until math.min(10, mm.n)).foreach { i =>
        assert(mm.vector(i).sameElements(java.util.Arrays.copyOfRange(g.vecs, i * g.dim, (i + 1) * g.dim)))
      }
      val queries = Tables.embeddings(spark, SparkSpecBase.sf001)
        .filter($"vec_id" % 100 === 0)
        .select($"vec_id", $"embedding").as[(Long, Array[Float])].collect()
      queries.foreach { case (qid, qv) =>
        val heap = g.search(qv, 5, 32).map { case (pos, d) => (ids(pos), d) }.toSeq
        val mmap = mm.search(qv, 5, 32).toSeq
        assert(mmap == heap, s"query $qid: mmap $mmap vs heap $heap")
      }
    } finally mm.close()
  }

  test("PQ-guided serving: deterministic state, exact rerank distances, recall floor") {
    // two-tier mode (DiskANN §3): traversal steered by resident ADC
    // codes, distances reported from the exact metric off the mapping
    val (cb1, codes1) = { val mm = new MmapIndex(path); try mm.buildPqState() finally mm.close() }
    val (cb2, codes2) = { val mm = new MmapIndex(path); try mm.buildPqState() finally mm.close() }
    assert(cb1.cents.sameElements(cb2.cents), "codebook training must be deterministic")
    assert(java.util.Arrays.equals(codes1, codes2), "encoding must be deterministic")

    val vecs = Tables.embeddings(spark, SparkSpecBase.sf001)
      .select($"vec_id", $"embedding").as[(Long, Array[Float])].collect().sortBy(_._1)
    val byId = vecs.toMap
    def cosDist(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i); i += 1
      }
      1.0 - dot / (math.max(math.sqrt(na), java.lang.Double.MIN_NORMAL) *
        math.max(math.sqrt(nb), java.lang.Double.MIN_NORMAL))
    }
    val mm = new MmapIndex(path)
    try {
      val queries = vecs.filter(_._1 % 100 == 0)
      var recallSum = 0.0
      queries.foreach { case (qid, qv) =>
        val res = mm.searchPq(qv, 10, 64, cb1, codes1)
        // reported distances are the EXACT metric (rerank), never ADC
        res.foreach { case (nid, d) =>
          val exact = cosDist(qv, byId(nid))
          assert(math.abs(d - exact) < 1e-9, s"q $qid nid $nid: $d vs exact $exact")
        }
        val truth = vecs.map { case (nid, v) => (nid, cosDist(qv, v)) }
          .sortBy { case (nid, d) => (d, nid) }.take(10).map(_._1).toSet
        recallSum += res.count { case (nid, _) => truth(nid) } / 10.0
      }
      val recall = recallSum / queries.length
      assert(recall >= 0.85, s"PQ-guided recall@10 $recall below 0.85 floor")
    } finally mm.close()
  }

  test("openIndexWith: a cosine file served with dot after normalization equals the cosine order") {
    // the open_index_with contract (reference lib.rs:450): the
    // caller's metric wins over the stored name. For an L2-normalized
    // corpus, cosine distance = 1 + dotEval pointwise — an increasing
    // affine map — so the dot-override beam traversal must visit and
    // rank IDENTICALLY to the stored-cosine serving of the same file.
    val normed = Tables.embeddings(spark, SparkSpecBase.sf001).limit(300)
      .select($"vec_id", org.apache.spark.sql.functions.expr(
        """transform(embedding, x -> CAST(CAST(x AS DOUBLE) /
          |  greatest(sqrt(aggregate(transform(embedding,
          |    y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE)),
          |    0D, (a, e) -> a + e)), 1e-30D) AS FLOAT))""".stripMargin)
          .as("embedding"))
    val p = VamanaParams(maxDegree = 12, buildBeamWidth = 24, metric = "cosine")
    val idx = VamanaIndex.build(normed, p, numShards = 1)
    val file = "/tmp/graft_openwith.idx"
    SingleFileIndex.export(idx, p, file)

    // heap path: importLocal with the override reports the caller's
    // metric in params
    val (_, _, pDot) = SingleFileIndex.importLocal(file, Some("dot"))
    assert(pDot.metric == "dot")

    val mmCos = new MmapIndex(file)
    val mmDot = SingleFileIndex.openIndexWith(file, "dot")
    try {
      val (g, _, _) = SingleFileIndex.importLocal(file)
      for (qi <- Seq(0, 7, 50, 150)) {
        val qv = g.vecs.slice(qi * g.dim, (qi + 1) * g.dim)
        val cos = mmCos.search(qv, 10, 24).map(_._1).toSeq
        val dot = mmDot.search(qv, 10, 24).map(_._1).toSeq
        assert(cos == dot, s"q $qi: cosine order $cos vs dot-override $dot")
      }
    } finally { mmCos.close(); mmDot.close() }
  }

  test("a stale same-length sidecar is rejected by the pairing trailer, not served") {
    // the torn-install window the length check alone cannot see:
    // main file replaced (rename landed), crash before the sidecar
    // rename, row count unchanged — the stale sidecar must fail
    // loudly instead of silently serving old vec_ids
    val p = VamanaParams(maxDegree = 8, buildBeamWidth = 16, metric = "l2")
    def exportOne(mod: Int, dir: String): String = {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      val vecs = Tables.embeddings(spark, SparkSpecBase.sf001)
        .filter($"vec_id" % mod === 0).limit(60)
      SingleFileIndex.exportSharded(
        VamanaIndex.build(vecs, p, numShards = 1), p, dir)
      val man = SingleFileIndex.readManifest(spark, dir)
      s"$dir/${man.head._2}"
    }
    val a = exportOne(2, "/tmp/graft_pair_a")   // sparse ids → sidecar
    val b = exportOne(3, "/tmp/graft_pair_b")
    assert(Files.exists(Paths.get(a + ".ids")) && Files.exists(Paths.get(b + ".ids")))
    // both load cleanly when intact
    new MmapIndex(a).close(); new MmapIndex(b).close()
    // simulate the torn install: b's main lands where a's sidecar lives
    Files.copy(Paths.get(b), Paths.get(a),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    val e = intercept[IllegalArgumentException] { new MmapIndex(a) }
    assert(e.getMessage.contains("does not pair"), e.getMessage)
  }

  test("binary-steered serving: deterministic state, exact rerank distances, recall floor") {
    // the RaBitQ x DiskANN two-tier mode: traversal steered by
    // resident sign-bit Hamming, distances from the exact metric
    val (w1, wpv1, r1) = { val mm = new MmapIndex(path); try mm.buildBinaryState() finally mm.close() }
    val (w2, wpv2, r2) = { val mm = new MmapIndex(path); try mm.buildBinaryState() finally mm.close() }
    assert(wpv1 == wpv2 && java.util.Arrays.equals(w1, w2),
      "sign-bit packing must be deterministic")
    assert(java.util.Arrays.equals(r1, r2), "frozen rotation must be deterministic")

    val vecs = Tables.embeddings(spark, SparkSpecBase.sf001)
      .select($"vec_id", $"embedding").as[(Long, Array[Float])].collect().sortBy(_._1)
    val byId = vecs.toMap
    def cosDist(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i); i += 1
      }
      1.0 - dot / (math.max(math.sqrt(na), java.lang.Double.MIN_NORMAL) *
        math.max(math.sqrt(nb), java.lang.Double.MIN_NORMAL))
    }
    val mm = new MmapIndex(path)
    try {
      val queries = vecs.filter(_._1 % 100 == 0)
      var recallSum = 0.0
      queries.foreach { case (qid, qv) =>
        val res = mm.searchBinary(qv, 10, 64, w1, wpv1, r1)
        // reported distances are the EXACT metric (rerank), never Hamming
        res.foreach { case (nid, d) =>
          val exact = cosDist(qv, byId(nid))
          assert(math.abs(d - exact) < 1e-9, s"q $qid nid $nid: $d vs exact $exact")
        }
        val truth = vecs.map { case (nid, v) => (nid, cosDist(qv, v)) }
          .sortBy { case (nid, d) => (d, nid) }.take(10).map(_._1).toSet
        recallSum += res.count { case (nid, _) => truth(nid) } / 10.0
      }
      val recall = recallSum / queries.length
      info(f"binary-steered recall@10 $recall%.3f (beam 64)")
      assert(recall >= 0.7, s"binary-steered recall@10 $recall below 0.7 floor")
    } finally mm.close()
  }

  test("distributed serveBinary matches driver-side binary-guided search") {
    val (g, _, _) = SingleFileIndex.importLocal(path)
    val qs = Seq(4, 120, 404).map { i =>
      (i.toLong, g.vecs.slice(i * g.dim, (i + 1) * g.dim))
    }
    val served = SingleFileIndex.serveBinary(
        qs.toDF("q_id", "qv").repartition(3), path, k = 5, beamWidth = 32)
      .as[(Long, Int, Long, Double)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(r => (r._3, r._4)).toSeq).toMap
    val (w, wpv, rot) = { val mm = new MmapIndex(path); try mm.buildBinaryState() finally mm.close() }
    val mm = new MmapIndex(path)
    try qs.foreach { case (qid, qv) =>
      val local = mm.searchBinary(qv, 5, 32, w, wpv, rot).toSeq
        .map { case (nid, d) => (nid, math.rint(d * 1e4) / 1e4) }
      assert(served(qid) == local, s"q $qid: ${served(qid)} vs $local")
    } finally mm.close()
  }

  test("distributed servePq matches driver-side PQ-guided search") {
    val (g, ids, _) = SingleFileIndex.importLocal(path)
    val qs = Seq(4, 120, 404).map { i =>
      (i.toLong, g.vecs.slice(i * g.dim, (i + 1) * g.dim))
    }
    val served = SingleFileIndex.servePq(
        qs.toDF("q_id", "qv").repartition(3), path, k = 5, beamWidth = 32)
      .as[(Long, Int, Long, Double)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(r => (r._3, r._4)).toSeq).toMap
    val (cb, codes) = { val mm = new MmapIndex(path); try mm.buildPqState() finally mm.close() }
    val mm = new MmapIndex(path)
    try qs.foreach { case (qid, qv) =>
      val local = mm.searchPq(qv, 5, 32, cb, codes).toSeq
        .map { case (nid, d) => (nid, math.rint(d * 1e4) / 1e4) }
      assert(served(qid) == local, s"q $qid: ${served(qid)} vs $local")
    } finally mm.close()
  }
}
