package graft.index

import java.io.RandomAccessFile
import java.nio.{ByteBuffer, ByteOrder, MappedByteBuffer}
import java.nio.channels.FileChannel
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardOpenOption}

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions.size

/** Byte-true interop with the reference's single-file index layout
  * (reference lib.rs:32-36, 558-614):
  *
  * `[ metadata_len:u64 LE ][ metadata (bincode) ]
  *  [ zero padding up to vectors_offset = 1 MiB ]
  *  [ vectors (n·dim·elem_size, row-major, LE) ]
  *  [ adjacency (n·max_degree·u32 LE, 0xFFFFFFFF padding) ]`
  *
  * Metadata is the reference's bincode struct (bincode 1.x legacy
  * encoding: fixed-width little-endian integers, usize as u64, String
  * as u64 byte-length + UTF-8), fields in declaration order
  * (reference lib.rs:126-136): dim, num_vectors, max_degree,
  * medoid_id:u32, vectors_offset:u64, adjacency_offset:u64,
  * elem_size:u8, distance_name:String. A file written here parses in
  * rust-diskann's `open_index_with` (reference lib.rs:450-497) and
  * vice versa; `distance_name` mismatches are warning-only there, as
  * here.
  *
  * graft ids may be sparse; the reference layout has no id region, so
  * non-dense ids go to a `<path>.ids` sidecar (u64 LE per row) that a
  * reference reader never touches. Dense 0..n-1 ids write no sidecar
  * and the file is indistinguishable from a reference-written one.
  *
  * `medoid_id` is the entry point of serving searches. The reference
  * samples 8 random pivots (lib.rs:736-756, thread_rng — so no
  * byte-reproducible "right" value exists); we use [[VamanaGraph]]'s
  * deterministic pivot rule (min(64,n) evenly-spaced rows) so the
  * heap-loaded graph recomputes the identical entry point.
  */
object SingleFileIndex {

  private val Pad: Int = -1 // 0xFFFFFFFF as u32 (reference PAD_U32, lib.rs:51)

  /** Decode adjacency row `row` — `maxDegree` u32 LE ids starting at
    * byte `off` of `bb`, 0xFFFFFFFF padding skipped — into `out` and
    * return the neighbor count; ids past `out.length` are counted but
    * not written (the [[BestFirst.Adjacency]] contract). The ONE
    * decoder behind [[importLocal]], [[importLocalU8]] and
    * [[MmapIndex]]: any other id outside [0, n) is rejected here,
    * naming the file, row and slot, because the search's epoch marks
    * index by neighbor id. */
  private[index] def decodeRow(bb: ByteBuffer, off: Int, maxDegree: Int, n: Int,
      path: String, row: Int, out: Array[Int]): Int = {
    var cnt = 0
    var t = 0
    while (t < maxDegree) {
      val nb = bb.getInt(off + 4 * t)
      if (nb != Pad) {
        if (nb < 0 || nb >= n)
          throw new IllegalArgumentException(
            s"corrupt adjacency in $path: row $row slot $t holds neighbor id " +
              s"${Integer.toUnsignedString(nb)}, outside [0, $n)")
        if (cnt < out.length) out(cnt) = nb
        cnt += 1
      }
      t += 1
    }
    cnt
  }

  /** Read the whole adjacency region of a file into heap lists. */
  private def readAdjacency(raf: RandomAccessFile, meta: FileMeta, path: String,
      graph: Array[Array[Int]]): Unit = {
    raf.seek(meta.adjacencyOffset)
    val adjBytes = new Array[Byte](4 * meta.maxDegree)
    val bb = ByteBuffer.wrap(adjBytes).order(ByteOrder.LITTLE_ENDIAN)
    val row = new Array[Int](meta.maxDegree)
    var i = 0
    while (i < meta.numVectors) {
      raf.readFully(adjBytes)
      val cnt = decodeRow(bb, 0, meta.maxDegree, meta.numVectors, path, i, row)
      graph(i) = java.util.Arrays.copyOf(row, cnt)
      i += 1
    }
  }

  /** Fixed gap before the vectors region (reference lib.rs:558). */
  val VectorsOffset: Long = 1L << 20

  /** Parsed reference metadata block. */
  case class FileMeta(
      dim: Int, numVectors: Int, maxDegree: Int, medoidId: Int,
      vectorsOffset: Long, adjacencyOffset: Long, elemSize: Int,
      distanceName: String)

  /** graft metric name → anndists strategy type name (the string the
    * reference records via std::any::type_name, lib.rs:606). */
  private val MetricToName = Map(
    "l2" -> "anndists::dist::distances::DistL2",
    "cosine" -> "anndists::dist::distances::DistCosine",
    "dot" -> "anndists::dist::distances::DistDot",
    "hamming" -> "anndists::dist::distances::DistHamming",
    "l1" -> "anndists::dist::distances::DistL1",
    "linf" -> "anndists::dist::distances::DistLinf",
    "jaccard" -> "anndists::dist::distances::DistJaccard",
    "hellinger" -> "anndists::dist::distances::DistHellinger",
    "js" -> "anndists::dist::distances::DistJensenShannon")

  private[graft] def nameToMetric(name: String): String =
    MetricToName.collectFirst { case (m, n) if n == name => m }
      // Linf before L1 before L2: longest-substring first so DistLinf
      // can never be claimed by a shorter Dist* pattern
      .orElse(Seq("Linf", "L1", "L2", "Cosine", "Dot", "Hamming",
          "Jaccard", "Hellinger", "JensenShannon")
        .collectFirst { case s if name.contains("Dist" + s) =>
          if (s == "JensenShannon") "js" else s.toLowerCase })
      .getOrElse(throw new IllegalArgumentException(
        s"unrecognized distance_name '$name' in single-file metadata — " +
          "refusing to silently serve with l2"))

  private def serializeMeta(m: FileMeta): Array[Byte] = {
    val name = m.distanceName.getBytes(StandardCharsets.UTF_8)
    val bb = ByteBuffer.allocate(8 * 3 + 4 + 8 * 2 + 1 + 8 + name.length)
      .order(ByteOrder.LITTLE_ENDIAN)
    bb.putLong(m.dim.toLong).putLong(m.numVectors.toLong).putLong(m.maxDegree.toLong)
    bb.putInt(m.medoidId)
    bb.putLong(m.vectorsOffset).putLong(m.adjacencyOffset)
    bb.put(m.elemSize.toByte)
    bb.putLong(name.length.toLong)
    bb.put(name)
    bb.array()
  }

  private def parseMeta(bytes: Array[Byte]): FileMeta = {
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val dim = bb.getLong.toInt
    val n = bb.getLong.toInt
    val maxDeg = bb.getLong.toInt
    val medoid = bb.getInt
    val vOff = bb.getLong
    val aOff = bb.getLong
    val elem = bb.get() & 0xff
    val nameLen = bb.getLong.toInt
    val nameBytes = new Array[Byte](nameLen); bb.get(nameBytes)
    FileMeta(dim, n, maxDeg, medoid, vOff, aOff, elem,
      new String(nameBytes, StandardCharsets.UTF_8))
  }

  /** Read just the metadata header of an index file. */
  def readMeta(path: String): FileMeta = {
    val raf = new RandomAccessFile(path, "r")
    try {
      val lenBytes = new Array[Byte](8); raf.readFully(lenBytes)
      val mdLen = ByteBuffer.wrap(lenBytes).order(ByteOrder.LITTLE_ENDIAN).getLong.toInt
      val md = new Array[Byte](mdLen); raf.readFully(md)
      parseMeta(md)
    } finally raf.close()
  }

  private def sidecarPath(path: String) = path + ".ids"

  /** v2 sidecar trailer magic ("GRFTIDS2" little-endian). */
  private val IdsMagic = 0x3253444954465247L

  /** Pairing hash binding a sidecar to ITS main file: FNV-1a over
    * (n, the 8·n id bytes, the first 4 KiB of the main file's vector
    * region, the last 4 KiB of the file). Closes the
    * same-row-count torn-install window the length check alone cannot
    * see: a crash between the main-file rename and the sidecar rename
    * pairs a new main with a stale sidecar of identical length when n
    * didn't change — but replaced vector/adjacency content changes
    * the samples, so the stale pairing fails loudly at load. (The
    * sample is a probabilistic guard; identical n AND bit-identical
    * first/last 4 KiB with different ids is not a real failure mode
    * for exported graphs.) */
  private def pairingHash(mainPath: String, n: Int, idBytes: Array[Byte]): Long = {
    var h = 0xcbf29ce484222325L
    def mix(b: Byte): Unit = { h ^= (b & 0xffL); h *= 0x100000001b3L }
    var nv = n.toLong
    var k = 0
    while (k < 8) { mix((nv & 0xff).toByte); nv >>>= 8; k += 1 }
    var i = 0
    while (i < 8 * n) { mix(idBytes(i)); i += 1 }
    val meta = readMeta(mainPath)
    val raf = new RandomAccessFile(mainPath, "r")
    try {
      val len = raf.length()
      val s1 = new Array[Byte](
        math.min(4096L, math.max(0L, len - meta.vectorsOffset)).toInt)
      raf.seek(meta.vectorsOffset); raf.readFully(s1); s1.foreach(mix)
      val start2 = math.max(meta.vectorsOffset, len - 4096)
      val s2 = new Array[Byte]((len - start2).toInt)
      raf.seek(start2); raf.readFully(s2); s2.foreach(mix)
    } finally raf.close()
    h
  }

  /** Serialize ids + the v2 pairing trailer for the main file at
    * `mainPath` (which must already hold its final bytes — staged tmp
    * or installed, both work: the hash samples content, not name). */
  private def sidecarBytes(mainPath: String, ids: Array[Long]): Array[Byte] = {
    val n = ids.length
    val bb = ByteBuffer.allocate(8 * n + 16).order(ByteOrder.LITTLE_ENDIAN)
    ids.foreach(bb.putLong)
    bb.putLong(IdsMagic)
    bb.putLong(pairingHash(mainPath, n, bb.array()))
    bb.array()
  }

  private[index] def loadIds(path: String, n: Int): Array[Long] = {
    val p = Paths.get(sidecarPath(path))
    if (!Files.exists(p)) Array.tabulate(n)(_.toLong)
    else {
      val bytes = Files.readAllBytes(p)
      // v2 detection keys on the trailing magic, NEVER on the expected
      // row count: a stale v2 sidecar whose length happens to equal
      // 8·(n+2) would otherwise alias as a bare v1 file and serve its
      // magic+hash words as the last two vec_ids
      val isV2 = bytes.length >= 16 && bytes.length % 8 == 0 &&
        ByteBuffer.wrap(bytes, bytes.length - 16, 8)
          .order(ByteOrder.LITTLE_ENDIAN).getLong == IdsMagic
      val idCount = if (isV2) (bytes.length - 16) / 8 else bytes.length / 8
      // a sidecar that doesn't cover exactly this file's rows is a
      // torn install (crash between the main rename and the sidecar
      // rename) — fail loudly; silently falling back to identity ids
      // would serve wrong vec_ids with no error. Bare 8·n sidecars
      // (v1 / foreign) stay readable but get only the length check.
      require(idCount == n && (isV2 || bytes.length == 8L * n),
        s"id sidecar ${sidecarPath(path)} holds $idCount ids " +
          s"but the index file has $n rows — torn sidecar install; " +
          "re-export the index (or delete the sidecar if ids are dense)")
      if (isV2) {
        val stored = ByteBuffer.wrap(bytes, 8 * n + 8, 8)
          .order(ByteOrder.LITTLE_ENDIAN).getLong
        require(stored == pairingHash(path, n, bytes),
          s"id sidecar ${sidecarPath(path)} does not pair with $path " +
            "(same row count, different content) — torn sidecar " +
            "install; re-export the index")
      }
      val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
      Array.fill(n)(bb.getLong)
    }
  }

  /** Hard cap on exportable rows: export holds one (id, degree) pair
    * per row on the driver (~16 bytes each; 2²⁶ ≈ 1 GiB of driver
    * arrays with the id→position map) before streaming the data. At
    * 1 B+ vectors that array alone is ~16 GB of driver heap, so the
    * guard fails fast with a pointer to the distributed format instead
    * of an opaque OOM mid-export. */
  val MaxExportRows: Long = 1L << 26

  /** Export a (typically compacted single-shard) index into the
    * reference's single-file layout. Streams through
    * `toLocalIterator` — single-file = single-node by definition; the
    * distributed format remains the shard-partitioned parquet. */
  def export(index: Dataset[IndexRow], params: VamanaParams, path: String,
      maxRows: Long = MaxExportRows, u8: Boolean = false): Unit = {
    val spark = index.sparkSession
    import spark.implicits._
    val sorted = index.orderBy($"vec_id")
    val total = index.count()
    require(total <= maxRows,
      s"single-file export is a driver-streamed interop path: $total rows exceeds " +
        s"the $maxRows-row driver-heap guard — keep indexes this large in the " +
        "shard-partitioned parquet format (VamanaIndex.save)")
    // one job gathers ids + dim + observed max degree
    val idDegree = sorted.select($"vec_id", size($"neighbors"), size($"embedding"))
      .as[(Long, Int, Int)].collect()
    require(idDegree.nonEmpty, "cannot export an empty index")
    val n = idDegree.length
    val dim = idDegree(0)._3
    // never truncate adjacency: fixed degree = max(params, observed)
    val maxDeg = math.max(params.maxDegree, idDegree.map(_._2).max)
    val ids = idDegree.map(_._1)
    val idToPos = new java.util.HashMap[java.lang.Long, Integer](ids.length * 2)
    ids.zipWithIndex.foreach { case (id, p) => idToPos.put(id, p) }

    // medoid pivots: VamanaGraph.medoid's deterministic evenly-spaced
    // rule, so a heap reload recomputes the same entry point
    val np = math.min(64, n)
    val step = math.max(1, n / np)
    val pivotPos = (0 until np).map(_ * step % n).distinct.toArray
    val pivotIds = pivotPos.map(ids(_)).toSet
    val pivotById = sorted.filter($"vec_id".isin(pivotIds.toSeq: _*))
      .select($"vec_id", $"embedding").as[(Long, Array[Float])].collect().toMap
    val pivotVecs = pivotPos.map(p => pivotById(ids(p)))
    val metric = Metric.byName(params.metric)
    val isCos = metric eq Metric.Cosine
    // Hamming indexes pack bit-per-slot vectors into u64 words — the
    // reference's native DiskANN<u64, DistHamming> element type
    // (reference lib.rs:23-29): elem_size 8, file dim = word count,
    // popcount distances identical to the unpacked slot count.
    val packed = metric eq Metric.Hamming
    // the reference layout records only the WORD count, so a non-
    // multiple-of-64 slot dim cannot round-trip (import would inflate
    // dim and break the owner's queries) — fail loudly instead
    require(!packed || dim % 64 == 0,
      s"hamming export needs dim % 64 == 0 (got $dim); pad the bit vectors to a word multiple")
    // u8 mode (reference's generic T = u8, examples/bigann.rs): one
    // byte per slot, elem_size 1 — a 4× scan-volume reduction vs f32.
    // Slots must already be integral 0..255 (e.g. SQ8+offset codes);
    // export VALIDATES rather than quantizes, so the file is an exact
    // representation of the index it came from.
    require(!(packed && u8), "u8 export does not apply to hamming (packed u64) indexes")
    val words = (dim + 63) / 64
    val elemSize = if (packed) 8 else if (u8) 1 else 4
    val fileDim = if (packed) words else dim
    def normFloor(v: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < v.length) { val x = v(i).toDouble; s += x * x; i += 1 }
      math.max(math.sqrt(s), java.lang.Double.MIN_NORMAL)
    }
    val pivotNorms = if (isCos) pivotVecs.map(normFloor) else null

    val adjacencyOffset = VectorsOffset + elemSize.toLong * n * fileDim
    val raf = new RandomAccessFile(path, "rw")
    try {
      raf.setLength(0)
      val ch = raf.getChannel
      val stage = ByteBuffer.allocate(1 << 20).order(ByteOrder.LITTLE_ENDIAN)
      def flush(): Unit = { stage.flip(); while (stage.hasRemaining) ch.write(stage); stage.clear() }
      def ensure(k: Int): Unit = if (stage.remaining < k) flush()

      // vectors region (and the medoid argmin in the same pass)
      ch.position(VectorsOffset)
      var best = 0; var bestScore = Double.MaxValue
      var pos = 0
      sorted.select($"vec_id", $"embedding").as[(Long, Array[Float])]
        .toLocalIterator().forEachRemaining { case (_, v) =>
          if (packed) {
            ensure(8 * words)
            var w = 0
            while (w < words) {
              var word = 0L
              var b = 0
              while (b < 64 && w * 64 + b < dim) {
                val slot = v(w * 64 + b)
                require(slot == 0f || slot == 1f,
                  "hamming export expects bit-per-slot {0,1} vectors")
                if (slot != 0f) word |= (1L << b)
                b += 1
              }
              stage.putLong(word)
              w += 1
            }
          } else if (u8) {
            ensure(dim)
            var d = 0
            while (d < dim) {
              val slot = v(d)
              require(slot >= 0f && slot <= 255f && slot == math.rint(slot).toFloat,
                s"u8 export expects integral slots in [0,255], got $slot")
              stage.put(slot.toInt.toByte)
              d += 1
            }
          } else {
            ensure(4 * dim)
            v.foreach(stage.putFloat)
          }
          var s = 0.0
          if (isCos) {
            val vn = normFloor(v)
            var p = 0
            while (p < pivotVecs.length) {
              val pv = pivotVecs(p)
              var dot = 0.0; var i = 0
              while (i < dim) { dot += v(i).toDouble * pv(i).toDouble; i += 1 }
              s += 1.0 - dot / (vn * pivotNorms(p))
              p += 1
            }
          } else {
            var p = 0
            while (p < pivotVecs.length) {
              s += metric.eval(v, 0, pivotVecs(p), 0, dim); p += 1
            }
          }
          if (s < bestScore) { bestScore = s; best = pos }
          pos += 1
        }
      flush()

      // adjacency region (fixed-degree, padded, row positions)
      sorted.select($"vec_id", $"neighbors").as[(Long, Array[Long])]
        .toLocalIterator().forEachRemaining { case (_, nbrs) =>
          ensure(4 * maxDeg)
          var written = 0
          var i = 0
          while (i < nbrs.length) {
            // neighbors outside the exported row set (a filtered subset
            // export) become padding instead of an NPE mid-file
            val p = idToPos.get(nbrs(i))
            if (p != null && written < maxDeg) { stage.putInt(p.intValue()); written += 1 }
            i += 1
          }
          while (written < maxDeg) { stage.putInt(Pad); written += 1 }
        }
      flush()
      val endOfData = ch.position()

      // header (reference writes it last too, lib.rs:609-613)
      val meta = FileMeta(fileDim, n, maxDeg, best, VectorsOffset, adjacencyOffset, elemSize,
        MetricToName.getOrElse(params.metric, params.metric))
      val md = serializeMeta(meta)
      require(8 + md.length <= VectorsOffset, "metadata exceeds the 1 MiB gap")
      ch.position(0)
      val head = ByteBuffer.allocate(8 + md.length).order(ByteOrder.LITTLE_ENDIAN)
      head.putLong(md.length.toLong).put(md).flip()
      while (head.hasRemaining) ch.write(head)
      raf.setLength(endOfData) // file ends exactly at the adjacency end
    } finally raf.close()

    // id sidecar only when ids are sparse — staged + atomic rename so
    // a crash mid-write can never leave a truncated sidecar next to a
    // complete index file; the v2 pairing trailer binds it to THIS
    // main file's content (loadIds hard-errors on either mismatch).
    // NOTE: export writes the MAIN file in place and is therefore not
    // a crash-atomic replace of a live index — that contract belongs
    // to writeShardFile/exportSharded (staged main + ordered renames);
    // export targets fresh paths.
    val dense = ids.zipWithIndex.forall { case (id, p) => id == p.toLong }
    if (dense) Files.deleteIfExists(Paths.get(sidecarPath(path)))
    else {
      val st = Paths.get(sidecarPath(path) + ".tmp")
      Files.write(st, sidecarBytes(path, ids))
      atomicMove(st, Paths.get(sidecarPath(path)))
    }
  }

  /** Distributed serving straight off a reference-layout single file:
    * each task memory-maps the file once and serves its
    * partition of queries — cluster-parallel queries over one mmap'd
    * index, the engine analog of the reference's rayon concurrent
    * queries (README "Parallel query processing"). The file must be
    * visible to every executor (shared filesystem / distributed
    * cache); nothing about the index is heap-loaded or shuffled, so
    * serving capacity scales with partitions of `queries` alone.
    * Returns (q_id, rank, neighbor_id, dist) like every other search
    * surface. */
  def serve(queries: DataFrame, path: String, k: Int, beamWidth: Int): DataFrame = {
    val s = queries.sparkSession
    import s.implicits._
    queries.select("q_id", "qv").as[(Long, Array[Float])]
      .mapPartitions { it =>
        val mm = new MmapIndex(path)
        try {
          // materialize the partition's results before closing the map
          it.flatMap { case (qid, qv) =>
            mm.search(qv, k, beamWidth).iterator.zipWithIndex.map {
              case ((nid, d), r) =>
                (qid, r + 1, nid, math.rint(d * 1e4) / 1e4)
            }
          }.toArray.iterator
        } finally mm.close()
      }
      .toDF("q_id", "rank", "neighbor_id", "dist")
  }

  // ------------------------------------------------ sharded files tier

  /** Write ONE shard's rows as a reference-layout file — the
    * task-local unit of [[exportSharded]]. Adjacency comes from the
    * shard graph rebuild (global neighbor ids remapped to local rows,
    * out-of-shard edges dropped — exactly what in-memory serving
    * sees), and the recorded medoid is the rebuilt graph's
    * deterministic pivot medoid, so mmap serving of this file enters
    * where [[VamanaIndex.search]]'s rebuild does: the two tiers
    * return IDENTICAL results (ShardedFilesSpec pins it). */
  private def writeShardFile(
      group: Array[IndexRow], params: VamanaParams, path: String): Unit = {
    val (g, sorted) = VamanaIndex.rebuildShardGraph(group, params)
    val n = sorted.length
    require(n > 0, "cannot write an empty shard file")
    val dim = g.dim
    val maxDeg = math.max(params.maxDegree, g.graph.map(_.length).max)
    val adjacencyOffset = VectorsOffset + 4L * n * dim
    // Task side effects must survive retry/speculation: a second
    // attempt truncating the SAME visible file while a zombie attempt
    // still runs would let a later reader mmap a half-written index.
    // So each attempt writes to an attempt-unique temp name and
    // atomically renames over the target — attempts are deterministic
    // (identical bytes), so last-rename-wins is safe. A killed
    // attempt can orphan its .tmp-*, which is litter, never served.
    val attempt = Option(org.apache.spark.TaskContext.get())
      .map(_.taskAttemptId().toString)
      .getOrElse(java.util.UUID.randomUUID().toString.take(8))
    val tmpPath = s"$path.tmp-$attempt"
    val raf = new RandomAccessFile(tmpPath, "rw")
    try {
      raf.setLength(0)
      val ch = raf.getChannel
      val stage = ByteBuffer.allocate(1 << 20).order(ByteOrder.LITTLE_ENDIAN)
      def flush(): Unit = { stage.flip(); while (stage.hasRemaining) ch.write(stage); stage.clear() }
      def ensure(k: Int): Unit = if (stage.remaining < k) flush()
      ch.position(VectorsOffset)
      var i = 0
      while (i < n) {
        ensure(4 * dim)
        var d = 0
        while (d < dim) { stage.putFloat(g.vecs(i * dim + d)); d += 1 }
        i += 1
      }
      flush()
      i = 0
      while (i < n) {
        ensure(4 * maxDeg)
        val nbrs = g.graph(i)
        var written = 0
        var t = 0
        while (t < nbrs.length && written < maxDeg) {
          stage.putInt(nbrs(t)); written += 1; t += 1
        }
        while (written < maxDeg) { stage.putInt(Pad); written += 1 }
        i += 1
      }
      flush()
      val endOfData = ch.position()
      val meta = FileMeta(dim, n, maxDeg, g.medoid, VectorsOffset, adjacencyOffset, 4,
        MetricToName.getOrElse(params.metric, params.metric))
      val md = serializeMeta(meta)
      ch.position(0)
      val head = ByteBuffer.allocate(8 + md.length).order(ByteOrder.LITTLE_ENDIAN)
      head.putLong(md.length.toLong).put(md).flip()
      while (head.hasRemaining) ch.write(head)
      raf.setLength(endOfData)
    } finally raf.close()
    // Swap order chosen so EVERY crash-between-steps state is loudly
    // rejected by loadIds (the v2 pairing trailer binds a sidecar to
    // its main file's content):
    //  - sparse new ids: SIDECAR FIRST, then main. Crash between →
    //    old main + new sidecar → pairing hash (computed against the
    //    staged new main) fails against the old content. The reverse
    //    order had a silent hole when the OLD index was dense: new
    //    main + no sidecar reads as identity ids with no error.
    //  - dense new ids: MAIN FIRST, then delete the old sidecar.
    //    Crash between → new main + old v2 sidecar → count/pairing
    //    mismatch. (Delete-first would leave old main + no sidecar =
    //    silent identity ids.)
    // Residual: a pre-trailer v1 sidecar paired with a same-row-count
    // new main passes the length check — re-export once to upgrade.
    val dense = sorted.zipWithIndex.forall { case (r, p) => r.vec_id == p.toLong }
    if (dense) {
      atomicMove(Paths.get(tmpPath), Paths.get(path))
      Files.deleteIfExists(Paths.get(sidecarPath(path)))
    } else {
      // trailer hashed against the STAGED main (same bytes the
      // rename installs), so the pair is bound before either rename
      val st = Paths.get(sidecarPath(tmpPath))
      Files.write(st, sidecarBytes(tmpPath, sorted.map(_.vec_id)))
      atomicMove(st, Paths.get(sidecarPath(path)))
      atomicMove(Paths.get(tmpPath), Paths.get(path))
    }
  }

  private def atomicMove(from: java.nio.file.Path, to: java.nio.file.Path): Unit =
    try Files.move(from, to, java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    catch { case _: java.nio.file.AtomicMoveNotSupportedException =>
      Files.move(from, to, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }

  /** Distributed export of a sharded index into ONE reference-layout
    * file PER SHARD plus a routing manifest — the serving-tier form
    * of [[export]] without its driver bottleneck: each task writes
    * its own shard's file ([[writeShardFile]]), so export throughput
    * scales with shards exactly like the build, and the
    * [[MaxExportRows]] driver-heap guard does not apply. `dir` must
    * be shared storage on a real cluster (same contract as
    * [[serve]]). Manifest seeds are each shard's lowest-id vector —
    * the SAME routing rule as [[VamanaIndex.routingTable]], so probed
    * serving over files routes identically to the in-memory tier. */
  def exportSharded(index: Dataset[IndexRow], params: VamanaParams, dir: String,
      split: Int = 1): Unit = {
    val s = index.sparkSession
    import s.implicits._
    Files.createDirectories(Paths.get(dir))
    // overlapped index (replicated ids) → pivots must sample PRIMARY
    // rows only, same rule as the parquet tier's metadata.json
    // (VamanaIndex.save): the shard files still carry every replica
    // (serving needs them), only the routing sample filters. The
    // primary test is the broadcast global-argmin over the PARENT seed
    // table — `split` groups a capped build's sibling sub-shards back
    // to their parent Voronoi cell (VamanaIndex.pivotTablePrimary).
    val seedsB =
      if (VamanaIndex.hasReplicas(index))
        Some(s.sparkContext.broadcast(
          VamanaIndex.parentSeeds(VamanaIndex.routingTableWithIds(index), split)))
      else None
    val entries = index.repartition(org.apache.spark.sql.functions.col("shard"))
      .mapPartitions { it =>
        val rows = it.toArray
        rows.groupBy(_.shard).iterator.map { case (shard, group) =>
          writeShardFile(group, params, s"$dir/shard-$shard.idx")
          val sorted = group.sortBy(_.vec_id)
          // same pivot kernel as the parquet tier's metadata.json, so
          // both tiers rank shards identically; a sub-shard holding
          // only replicas falls back to sampling all residents (same
          // fallback as pivotTablePrimary)
          val pivotRows = seedsB match {
            case Some(b) =>
              val prim = sorted.filter(r =>
                VamanaIndex.primaryShard(r.embedding, b.value) == r.shard / split)
              if (prim.nonEmpty) prim else sorted
            case None => sorted
          }
          val pivots = VamanaIndex.selectPivots(
            pivotRows.iterator.map(r => (r.vec_id, r.embedding)))
          (shard, sorted.length.toLong, sorted.head.embedding, pivots)
        }
      }.collect().sortBy(_._1)
    require(entries.nonEmpty, "cannot export an empty index")
    val shardsJson = entries.map { case (sh, n, seed, pivots) =>
      s"""{"shard":$sh,"file":"shard-$sh.idx","n":$n,"seed":[${seed.mkString(",")}],""" +
        s""""pivots":[${pivots.map(_.mkString("[", ",", "]")).mkString(",")}]}"""
    }.mkString("[", ",", "]")
    Files.writeString(Paths.get(s"$dir/manifest.json"),
      s"""{"format":"graft-sharded-v1","num_shards":${entries.length},""" +
        s""""metric":"${params.metric}","max_degree":${params.maxDegree},""" +
        s""""shards":$shardsJson}""")
  }

  /** Parse the sharded-tier manifest: (shard, file, routing seed).
    * Driver-side ([[graft.index.MetaJson]]) — a pivot-bearing
    * manifest is ~1.4 MB of float text and must never ride a Spark
    * task. */
  def readManifest(spark: org.apache.spark.sql.SparkSession, dir: String)
      : Array[(Int, String, Array[Float])] = {
    val meta = MetaJson.parse(Files.readString(Paths.get(s"$dir/manifest.json")))
    MetaJson.elems(MetaJson.required(meta, "shards", s"$dir/manifest.json"))
      .map { sh =>
        (sh.get("shard").asInt(), sh.get("file").asText(),
          MetaJson.floats(sh.get("seed")))
      }.toArray.sortBy(_._1)
  }

  /** Manifest with routing pivots: (shard, file, pivot set). Manifests
    * written before the pivots field fall back to seed-as-sole-pivot,
    * so old exports keep serving (with seed routing). */
  def readManifestPivots(spark: org.apache.spark.sql.SparkSession, dir: String)
      : Array[(Int, String, Array[Array[Float]])] = {
    val raw = Files.readString(Paths.get(s"$dir/manifest.json"))
    if (!raw.contains("\"pivots\""))
      return readManifest(spark, dir).map { case (sh, f, seed) => (sh, f, Array(seed)) }
    val meta = MetaJson.parse(raw)
    MetaJson.elems(meta.get("shards")).map { sh =>
      (sh.get("shard").asInt(), sh.get("file").asText(),
        MetaJson.floatMatrix(sh.get("pivots")))
    }.toArray.sortBy(_._1)
  }

  /** Serve queries over the sharded-files tier: each task mmaps only
    * the shard files routed to it, searches its queries, and the
    * bounded TopK merge combines per-shard results — the disk-
    * resident twin of [[VamanaIndex.searchProbed]], with the same
    * L2-to-seed routing rule, returning IDENTICAL rows (spec-pinned).
    * `nprobe ≤ 0` probes every shard (== [[VamanaIndex.search]]). */
  def serveSharded(queries: DataFrame, dir: String, k: Int, beamWidth: Int,
      nprobe: Int = 0, distinctMerge: Boolean = false): DataFrame = {
    val s = queries.sparkSession
    import s.implicits._
    val man = readManifestPivots(s, dir)
    val qArr = queries.select("q_id", "qv").as[(Long, Array[Float])].collect().sortBy(_._1)
    val np = if (nprobe <= 0) man.length else nprobe
    val routed: Map[Int, Array[(Long, Array[Float])]] = qArr.flatMap { case (qid, qv) =>
      man.map { case (shard, _, pivots) =>
        (shard, VamanaIndex.pivotDist(qv, pivots), qid, qv)
      }.sortBy { case (shard, d, _, _) => (d, shard) }
        .take(np)
        .map { case (shard, _, q2, v2) => (shard, (q2, v2)) }
    }.groupBy(_._1).map { case (shard, rows) => shard -> rows.map(_._2) }
    val bc = s.sparkContext.broadcast(routed)
    val files = man.collect { case (sh, f, _) if routed.contains(sh) => (sh, f) }.toSeq
    val perShard = files.toDF("shard", "file")
      .repartition(math.max(1, files.length), $"shard")
      .as[(Int, String)]
      .mapPartitions { it =>
        it.flatMap { case (shard, file) =>
          val mm = new MmapIndex(s"$dir/$file")
          try {
            bc.value(shard).iterator.flatMap { case (qid, qv) =>
              mm.search(qv, k, beamWidth).iterator.map { case (nid, d) => (qid, nid, d) }
            }.toArray.iterator
          } finally mm.close()
        }
      }.toDF("q_id", "nid", "dist")
    graft.operators.VectorQueries.topkExplode(perShard, k, distinctIds = distinctMerge)
  }

  /** Resident single-process handle over the sharded-files tier — the
    * sub-ms serving path. [[serveSharded]] answers a query BATCH with
    * one Spark job (right for throughput; wrong for one interactive
    * query, where ~100 ms of job scheduling dwarfs the sub-ms search —
    * the reference's perf_test.rs measures per-query latency against a
    * resident handle, examples/perf_test.rs:40-80). This class opens
    * every shard's mmap ONCE and serves queries in-process: routing on
    * the manifest pivot sets, per-shard [[MmapIndex.search]], and a
    * merge with exactly [[graft.operators.TopKAgg]]'s (dist, id)
    * NaN-total order and the job path's round-half-up-4 — results are
    * spec-pinned identical to [[serveSharded]] (ShardedFilesSpec).
    * Spark is used only to parse the manifest at open; the query path
    * never touches it. */
  final class LocalSharded(spark: org.apache.spark.sql.SparkSession, dir: String)
      extends AutoCloseable {
    private val shards: Array[(Int, Array[Array[Float]], MmapIndex)] =
      readManifestPivots(spark, dir).map { case (sh, f, pv) =>
        (sh, pv, new MmapIndex(s"$dir/$f"))
      }

    /** Top-k (global id, dist) ascending; `nprobe <= 0` = all shards.
      * `distinctMerge` keeps one entry per id (for overlap-compacted
      * tiers, where replicas arrive from several probed shards) —
      * mirrors [[graft.operators.TopKAgg]]'s distinct mode. */
    def search(q: Array[Float], k: Int, beamWidth: Int, nprobe: Int = 0,
        distinctMerge: Boolean = false): Array[(Long, Double)] = {
      val np = if (nprobe <= 0) shards.length else math.min(nprobe, shards.length)
      val ranked = shards
        .map { case (sh, pv, mm) => (sh, VamanaIndex.pivotDist(q, pv), mm) }
        .sortBy { case (sh, d, _) => (d, sh) }
      val out = new scala.collection.mutable.ArrayBuffer[(Long, Double)]()
      var i = 0
      while (i < np) { out ++= ranked(i)._3.search(q, k, beamWidth); i += 1 }
      val sorted = out.toArray
        .sortWith { (a, b) =>
          val c = java.lang.Double.compare(a._2, b._2)
          c < 0 || (c == 0 && a._1 < b._1)
        }
      val merged =
        if (!distinctMerge) sorted
        else { // best entry per id comes first in (dist, id) order
          val seen = new java.util.HashSet[java.lang.Long]()
          sorted.filter(c => seen.add(c._1))
        }
      merged
        .take(k)
        .map { case (id, d) =>
          (id, BigDecimal(d).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
        }
    }

    def close(): Unit = shards.foreach(_._3.close())
  }

  /** Two-tier distributed serving — the actual DiskANN serving
    * architecture (Subramanya et al. NeurIPS'19 §3): PQ codes live in
    * executor MEMORY (m bytes per vector — broadcast once), the
    * full-precision vectors stay ON DISK, and each query's traversal
    * is steered by in-memory ADC lookups with only adjacency reads
    * and the final ≤ beamWidth exact rerank touching the file. At
    * 100 TB this is the serving mode: a dim=64 f32 corpus is 256 B/
    * vector on disk but 8 B/vector resident, so a 1000-executor
    * cluster holds the candidate-generation state for ~32× more
    * vectors than heap-resident serving. The PQ state is trained and
    * encoded once on the driver (one sequential file pass) and
    * torrent-broadcast; queries scale with their partitioning alone,
    * exactly like [[serve]]. */
  /** PQ state per (file identity, m, ksub, iters) and JVM — trained
    * once, served many times (the same build-once contract as every
    * index cache here). File identity includes mtime+size so a
    * re-export to the same path invalidates the entry: without that,
    * a rebuilt same-cardinality file would pass the codes-length
    * check and be steered by the OLD corpus's codebook. */
  private val pqStateCache =
    scala.collection.concurrent.TrieMap.empty[(String, Long, Long, Int, Int, Int), (PqCodebook, Array[Byte])]

  def servePq(queries: DataFrame, path: String, k: Int, beamWidth: Int,
      m: Int = 8, ksub: Int = 16, iters: Int = 5): DataFrame = {
    val s = queries.sparkSession
    import s.implicits._
    val f = new java.io.File(path)
    val state = pqStateCache.getOrElseUpdate(
      (path, f.lastModified(), f.length(), m, ksub, iters), {
      val mm = new MmapIndex(path)
      try mm.buildPqState(m, ksub, iters) finally mm.close()
    })
    val stateB = s.sparkContext.broadcast(state)
    queries.select("q_id", "qv").as[(Long, Array[Float])]
      .mapPartitions { it =>
        val mm = new MmapIndex(path)
        try {
          val (cb, codes) = stateB.value
          it.flatMap { case (qid, qv) =>
            mm.searchPq(qv, k, beamWidth, cb, codes).iterator.zipWithIndex.map {
              case ((nid, d), r) => (qid, r + 1, nid, math.rint(d * 1e4) / 1e4)
            }
          }.toArray.iterator
        } finally mm.close()
      }
      .toDF("q_id", "rank", "neighbor_id", "dist")
  }

  /** Binary state per (file identity, rotate) and JVM — the
    * [[pqStateCache]] contract (build once, serve many; mtime+size in
    * the key so a re-export invalidates). */
  private val binStateCache =
    scala.collection.concurrent.TrieMap.empty[(String, Long, Long, Boolean), (Array[Long], Int, Array[Float])]

  /** Two-tier distributed serving steered by RESIDENT sign-bit codes
    * — [[servePq]]'s binary twin (RaBitQ × DiskANN): the per-vector
    * resident state is dim/8 bits of sign words (no trained
    * codebook, no per-query LUT build), traversal steers by
    * xor+popcount, and only adjacency reads plus the ≤ beamWidth
    * exact rerank touch the file. The win case is the high-dim
    * serving shape: at dim 1536 the resident state is 192 B/vector
    * and each candidate costs 24 word ops, where the ADC tier pays a
    * per-(query) m·ksub·subdim LUT build plus m dependent byte
    * lookups per candidate — HiDimSpec records the measured
    * comparison. `rotate` defaults to the corpus-independent safe
    * choice (see [[MmapIndex.buildBinaryState]]). */
  def serveBinary(queries: DataFrame, path: String, k: Int, beamWidth: Int,
      rotate: Boolean = true): DataFrame = {
    val s = queries.sparkSession
    import s.implicits._
    val f = new java.io.File(path)
    val state = binStateCache.getOrElseUpdate(
      (path, f.lastModified(), f.length(), rotate), {
      val mm = new MmapIndex(path)
      try mm.buildBinaryState(rotate) finally mm.close()
    })
    val stateB = s.sparkContext.broadcast(state)
    queries.select("q_id", "qv").as[(Long, Array[Float])]
      .mapPartitions { it =>
        val mm = new MmapIndex(path)
        try {
          val (words, wpv, rot) = stateB.value
          it.flatMap { case (qid, qv) =>
            mm.searchBinary(qv, k, beamWidth, words, wpv, rot).iterator.zipWithIndex.map {
              case ((nid, d), r) => (qid, r + 1, nid, math.rint(d * 1e4) / 1e4)
            }
          }.toArray.iterator
        } finally mm.close()
      }
      .toDF("q_id", "rank", "neighbor_id", "dist")
  }

  /** Load a u8/L2 single-file index into a byte-resident [[U8Graph]]
    * — heap serving at 1/4 the memory of [[importLocal]]'s widened
    * f32 graph, with the distance loop in integer arithmetic (the
    * reference serves its BigANN u8 index without widening,
    * examples/bigann.rs). Search results are identical to the widened
    * graph's (SingleFileIndexSpec pins it). */
  def importLocalU8(path: String): (U8Graph, Array[Long], VamanaParams) = {
    val meta = readMeta(path)
    val metricName = nameToMetric(meta.distanceName)
    require(meta.elemSize == 1 && metricName == "l2",
      s"importLocalU8 serves u8/L2 files; this one is elem_size " +
        s"${meta.elemSize} with distance ${meta.distanceName}")
    // U8Graph's exact integer accumulation holds only for dim ≤ 8192
    // (8192·255² < 2³¹) — checked HERE, before the full code read and
    // any medoid fallback scan, instead of crashing in the U8Graph
    // constructor after both. MmapIndex makes the same cut.
    require(meta.dim <= 8192,
      s"importLocalU8 requires dim <= 8192 for exact integer " +
        s"distances (file dim ${meta.dim}) — use importLocal's " +
        "widened-f32 path for larger dims")
    val n = meta.numVectors
    val dim = meta.dim
    val raf = new RandomAccessFile(path, "r")
    try {
      val codes = new Array[Byte](n * dim)
      raf.seek(meta.vectorsOffset)
      raf.readFully(codes)
      val entry =
        if (meta.medoidId >= 0 && meta.medoidId < n) meta.medoidId
        else {
          // foreign file without a usable medoid: same deterministic
          // pivot rule as VamanaGraph.medoid, integer distances
          val np = math.min(64, n)
          val step = math.max(1, n / np)
          val pivots = (0 until np).map(_ * step % n).distinct.toArray
          var best = 0; var bestScore = Double.MaxValue
          var i = 0
          while (i < n) {
            var s = 0.0; var p = 0
            while (p < pivots.length) {
              var acc = 0; var d = 0
              val ao = i * dim; val bo = pivots(p) * dim
              while (d < dim) {
                val df = (codes(ao + d) & 0xff) - (codes(bo + d) & 0xff)
                acc += df * df; d += 1
              }
              s += math.sqrt(acc.toDouble); p += 1
            }
            if (s < bestScore) { bestScore = s; best = i }
            i += 1
          }
          best
        }
      val g = new U8Graph(codes, dim, n, entry)
      readAdjacency(raf, meta, path, g.graph)
      (g, loadIds(path, n), VamanaParams(maxDegree = meta.maxDegree, metric = metricName))
    } finally raf.close()
  }

  /** Resolve the serving metric for a file: the caller's override if
    * given (validated, with a warning on mismatch — the reference's
    * `open_index_with` contract, lib.rs:450: the caller's distance
    * wins, the stored name is advisory), else the stored metric. */
  private[graft] def resolveMetric(
      path: String, stored: String, override0: Option[String]): String =
    override0 match {
      case Some(m) =>
        Metric.byName(m) // fail fast on an unknown metric name
        if (m != stored)
          System.err.println(
            s"graft: serving $path with caller metric '$m' over the " +
              s"file's stored '$stored' (open_index_with override)")
        m
      case None => stored
    }

  /** Load a single-file index fully into a local [[VamanaGraph]] plus
    * the id mapping — the heap-resident serving mode (for the
    * disk-resident mode see [[MmapIndex]]).
    *
    * `metricOverride` serves the file with the caller's metric
    * instead of the stored one (warn on mismatch) — the heap-side
    * analog of the reference's `open_index_with` (lib.rs:450). File
    * LAYOUT decisions (packed-hamming word decode) always follow the
    * stored name: the override changes the distance evaluated, never
    * how bytes are interpreted. */
  def importLocal(path: String, metricOverride: Option[String] = None)
      : (VamanaGraph, Array[Long], VamanaParams) = {
    val meta = readMeta(path)
    val storedMetric = nameToMetric(meta.distanceName)
    val metricName = resolveMetric(path, storedMetric, metricOverride)
    val packed = meta.elemSize == 8 && storedMetric == "hamming"
    val u8 = meta.elemSize == 1
    require(meta.elemSize == 4 || u8 || packed,
      s"graft serves f32, u8, or packed-u64 hamming indexes; file has " +
        s"elem_size ${meta.elemSize} with distance ${meta.distanceName}")
    val n = meta.numVectors
    // a packed u64 hamming file records dim in WORDS; the in-memory
    // graph works bit-per-slot (64 float slots per word — identical
    // popcount distances, reference lib.rs:23-29)
    val dim = if (packed) meta.dim * 64 else meta.dim
    val raf = new RandomAccessFile(path, "r")
    try {
      val flat = new Array[Float](n * dim)
      raf.seek(meta.vectorsOffset)
      val vecBytes = new Array[Byte](meta.elemSize * meta.dim)
      var i = 0
      while (i < n) {
        raf.readFully(vecBytes)
        val bb = ByteBuffer.wrap(vecBytes).order(ByteOrder.LITTLE_ENDIAN)
        if (packed) {
          var w = 0
          while (w < meta.dim) {
            val word = bb.getLong
            var b = 0
            while (b < 64) {
              flat(i * dim + w * 64 + b) = if (((word >>> b) & 1L) != 0) 1f else 0f
              b += 1
            }
            w += 1
          }
        } else if (u8) {
          // u8 → float is lossless (0..255 exact in f32), so graph
          // distances equal native u8 integer arithmetic exactly
          var d = 0
          while (d < dim) { flat(i * dim + d) = (bb.get() & 0xff).toFloat; d += 1 }
        } else {
          var d = 0
          while (d < dim) { flat(i * dim + d) = bb.getFloat; d += 1 }
        }
        i += 1
      }
      val params = VamanaParams(maxDegree = meta.maxDegree, metric = metricName)
      val g = new VamanaGraph(flat, dim, n, params)
      // honor the file's stored entry point: a reference(rust)-written
      // file records a random-pivot medoid that graft's deterministic
      // rule would not reproduce — without this, heap and mmap serving
      // of the SAME file would start from different entries and could
      // return different results
      if (meta.medoidId >= 0 && meta.medoidId < n) g.entryOverride = meta.medoidId
      readAdjacency(raf, meta, path, g.graph)
      (g, loadIds(path, n), params)
    } finally raf.close()
  }

  /** Open a single-file index for disk-resident serving with the
    * caller's metric — the reference's `open_index_with` entry point
    * (lib.rs:450): the stored distance name is advisory; on mismatch
    * a warning is emitted and the index serves with `metric`. Use a
    * plain `new MmapIndex(path)` to serve with the stored metric. */
  def openIndexWith(path: String, metric: String,
      maxSegBytes: Long = Int.MaxValue.toLong): MmapIndex =
    new MmapIndex(path, maxSegBytes, Some(metric))
}

/** Disk-resident serving over a reference-layout index file: the file
  * is memory-mapped (reference lib.rs:450-497 `open_index_with` +
  * mmap) and beam search reads vectors and adjacency straight from
  * the mapping — the index is never heap-loaded. The only O(n) heap
  * state is the cached per-vector norm table for cosine (8n bytes),
  * mirroring [[VamanaGraph]]'s fused-dot fast path so results are
  * bit-identical to the heap-resident graph. Both modes enter at the
  * file's stored medoid_id ([[SingleFileIndex.importLocal]] threads it
  * into the graph), so the equivalence holds for reference-written
  * files too, whose random-pivot medoid graft would not recompute.
  *
  * The search is [[BestFirst]], and every per-query buffer lives in
  * the call, so one instance can be searched by many threads at once.
  *
  * Files beyond 2 GiB — a Java `MappedByteBuffer` is int-indexed —
  * are served through ROW-ALIGNED SEGMENTED mappings: the vector and
  * adjacency regions are each mapped as a chain of segments holding a
  * whole number of rows, so no row read ever straddles a segment.
  * The reference mmaps BigANN-scale (100 GB+) files; the old
  * single-segment form refused anything its one buffer couldn't
  * index. `maxSegBytes` exists for tests (tiny segments on small
  * files must serve identically).
  */
final class MmapIndex(path: String, maxSegBytes: Long = Int.MaxValue.toLong,
    metricOverride: Option[String] = None)
    extends AutoCloseable {
  import SingleFileIndex.FileMeta

  val meta: FileMeta = SingleFileIndex.readMeta(path)
  private val storedMetric = SingleFileIndex.nameToMetric(meta.distanceName)
  /** serving metric: caller override (open_index_with) or stored. */
  private val metricName0 =
    SingleFileIndex.resolveMetric(path, storedMetric, metricOverride)
  /** packed u64 hamming file (reference DiskANN<u64, DistHamming>):
    * file dim counts words; queries/vectors are bit-per-slot. Layout
    * follows the STORED metric — an override changes the distance
    * evaluated, never how the bytes are decoded. */
  private val packed = meta.elemSize == 8 && storedMetric == "hamming"
  // The mmap hot loop evaluates packed rows with a popcount kernel
  // that IS the hamming distance — a different serving metric would
  // be silently ignored (or, for cosine, misread packed words as
  // floats in the norm precompute). importLocal decodes packed files
  // bit-per-slot, so the override is honored there; send callers that
  // way instead of serving wrong distances.
  require(!packed || metricName0 == storedMetric,
    s"cannot serve packed-u64 hamming file $path with metric " +
      s"'$metricName0' off the mapping; use importLocal(path, " +
      "Some(metric)) — its bit-per-slot decode honors the override")
  /** u8 file (reference generic T = u8, examples/bigann.rs): slots are
    * unsigned bytes read straight off the mapping — no widened copy of
    * the vector region ever exists on the heap. */
  private val u8 = meta.elemSize == 1
  require(meta.elemSize == 4 || u8 || packed,
    s"graft serves f32, u8, or packed-u64 hamming indexes; file has " +
      s"elem_size ${meta.elemSize} with distance ${meta.distanceName}")
  val n: Int = meta.numVectors
  val dim: Int = if (packed) meta.dim * 64 else meta.dim
  val ids: Array[Long] = SingleFileIndex.loadIds(path, n)

  private val ch = FileChannel.open(Paths.get(path), StandardOpenOption.READ)

  /** Row-aligned segment chain over one file region: segment s holds
    * rows [s·rowsPerSeg, …), so `(bufOf(i), offOf(i))` addresses row i
    * without any read crossing a segment boundary. */
  private final class SegMap(base: Long, val rowBytes: Int, rows: Int) {
    val rowsPerSeg: Int = math.max(1, math.min(rows.toLong.max(1L),
      maxSegBytes / rowBytes).toInt)
    val segs: Array[MappedByteBuffer] =
      Array.tabulate(math.max(1, (rows + rowsPerSeg - 1) / rowsPerSeg)) { s =>
        val startRow = s.toLong * rowsPerSeg
        val segRows = math.min(rowsPerSeg.toLong, rows - startRow).max(0L)
        val m = ch.map(FileChannel.MapMode.READ_ONLY,
          base + startRow * rowBytes, segRows * rowBytes)
        m.order(ByteOrder.LITTLE_ENDIAN); m
      }
    @inline def bufOf(i: Int): MappedByteBuffer = segs(i / rowsPerSeg)
    @inline def offOf(i: Int): Int = (i % rowsPerSeg) * rowBytes
  }

  private val vecMap = new SegMap(meta.vectorsOffset, meta.dim * meta.elemSize, n)
  private val adjMap = new SegMap(meta.adjacencyOffset, meta.maxDegree * 4, n)

  private val metric = Metric.byName(metricName0)
  private val isCos = metric eq Metric.Cosine
  /** Native u8 integer-L2 path (the reference's generic-element
    * serving: examples/bigann.rs runs the whole search in u8):
    * when the file is u8/L2 and the query itself is exactly
    * u8-valued, each evaluation bulk-copies the candidate's dim bytes
    * off the mapping once and accumulates (a−b)² in an int over
    * primitive arrays — no per-slot float conversion, 1/4 the
    * memory traffic of the f32 loop, and a loop shape the JIT can
    * vectorize (per-slot MappedByteBuffer reads cannot). Bit-
    * identical to the widened path: u8 values and their squared
    * diffs are exact in double, and both paths finish with the same
    * sqrt. Int accumulation is exact for dim ≤ 8192 (8192·255² <
    * 2³¹); larger dims fall back to the widened path. */
  private val u8L2 = u8 && (metric eq Metric.L2) && dim <= 8192

  private val adjacency: BestFirst.Adjacency = (row, buf) =>
    SingleFileIndex.decodeRow(adjMap.bufOf(row), adjMap.offOf(row), meta.maxDegree, n,
      path, row, buf)

  /** Serving entry point: the file's stored medoid when valid. A
    * foreign file carrying the reference's 0xFFFFFFFF no-medoid
    * sentinel (or an out-of-range id) gets the same deterministic
    * pivot-medoid fallback as [[SingleFileIndex.importLocalU8]],
    * computed once off the mapping — previously such a file crashed
    * every search with a negative mmap read. Same pivot rule and
    * per-row pivot-ascending sum order as the u8 importer, so both
    * paths elect the same entry. */
  lazy val entryPoint: Int =
    if (meta.medoidId >= 0 && meta.medoidId < n) meta.medoidId
    else {
      val np = math.min(64, n)
      val step = math.max(1, n / np)
      val pivots = (0 until np).map(_ * step % n).distinct.toArray
      val pdist = pivots.map(p => queryDist(vector(p)))
      var best = 0; var bestScore = Double.MaxValue
      var i = 0
      while (i < n) {
        var s = 0.0; var p = 0
        while (p < pdist.length) { s += pdist(p)(i); p += 1 }
        if (s < bestScore) { bestScore = s; best = i }
        i += 1
      }
      best
    }

  /** Copy row `i` into a fresh array (reference get_vector, lib.rs:724);
    * packed rows come back bit-per-slot. */
  def vector(i: Int): Array[Float] = {
    val out = new Array[Float](dim)
    val vb = vecMap.bufOf(i); val off = vecMap.offOf(i)
    if (packed) {
      var w = 0
      while (w < meta.dim) {
        val word = vb.getLong(off + 8 * w)
        var b = 0
        while (b < 64) { out(w * 64 + b) = if (((word >>> b) & 1L) != 0) 1f else 0f; b += 1 }
        w += 1
      }
    } else {
      var d = 0
      while (d < dim) { out(d) = slot(vb, off, d); d += 1 }
    }
    out
  }

  /** Read slot `d` of the row at byte offset `off` in segment `b`:
    * unsigned byte for u8 files, f32 otherwise. `u8` is fixed per
    * instance so the branch predicts perfectly in the hot loops. */
  @inline private def slot(b: MappedByteBuffer, off: Int, d: Int): Float =
    if (u8) (b.get(off + d) & 0xff).toFloat else b.getFloat(off + 4 * d)

  /** cosine norms cached once (same floored form as VamanaGraph). */
  private val norms: Array[Double] =
    if (!isCos) null
    else {
      val out = new Array[Double](n)
      var i = 0
      while (i < n) {
        val vb = vecMap.bufOf(i); val off = vecMap.offOf(i)
        var s = 0.0; var d = 0
        while (d < dim) { val x = slot(vb, off, d).toDouble; s += x * x; d += 1 }
        out(i) = math.max(math.sqrt(s), java.lang.Double.MIN_NORMAL)
        i += 1
      }
      out
    }

  /** Cosine query norm, floored like the row norms. */
  private def queryNorm(q: Array[Float]): Double = {
    var acc = 0.0; var i = 0
    while (i < q.length) { acc += q(i).toDouble * q(i).toDouble; i += 1 }
    math.max(math.sqrt(acc), java.lang.Double.MIN_NORMAL)
  }

  /** Exact distance from `q` to any row. The query's per-call state —
    * packed hamming words, the u8 integer copy, the row buffer — is
    * captured here, never stored in the instance. */
  private def queryDist(q: Array[Float]): Int => Double = {
    require(q.length == dim, s"query dim ${q.length} != index dim $dim")
    if (packed) {
      // reference serving math: popcount over xor'd u64 words, equal
      // to the unpacked differing-slot count for {0,1} vectors
      val qw = new Array[Long](meta.dim)
      var w = 0
      while (w < meta.dim) {
        var b = 0
        while (b < 64) { if (q(w * 64 + b) != 0f) qw(w) |= (1L << b); b += 1 }
        w += 1
      }
      j => {
        val vb = vecMap.bufOf(j); val off = vecMap.offOf(j)
        var c = 0; var w = 0
        while (w < meta.dim) {
          c += java.lang.Long.bitCount(qw(w) ^ vb.getLong(off + 8 * w))
          w += 1
        }
        c.toDouble
      }
    } else if (isCos) {
      val qNorm = queryNorm(q)
      j => {
        val vb = vecMap.bufOf(j); val off = vecMap.offOf(j)
        var dot = 0.0; var i = 0
        while (i < dim) { dot += q(i).toDouble * slot(vb, off, i).toDouble; i += 1 }
        1.0 - dot / (qNorm * norms(j))
      }
    } else {
      val qInt = if (u8L2) U8Graph.intQuery(q) else null
      if (qInt != null) {
        val bytes = new Array[Byte](dim)
        j => {
          vecMap.bufOf(j).get(vecMap.offOf(j), bytes, 0, dim)
          math.sqrt(U8Graph.intL2(qInt, bytes, 0).toDouble)
        }
      } else {
        val row = new Array[Float](dim)
        j => {
          val vb = vecMap.bufOf(j); val off = vecMap.offOf(j)
          var d = 0
          while (d < dim) { row(d) = slot(vb, off, d); d += 1 }
          metric.eval(q, 0, row, 0, dim)
        }
      }
    }
  }

  /** Beam search straight off the mapping through [[BestFirst]] —
    * the kernel [[VamanaGraph.search]] runs, so the results match the
    * heap-resident graph exactly. Returns (global id, dist)
    * ascending. */
  def search(q: Array[Float], k: Int, beamWidth: Int): Array[(Long, Double)] =
    BestFirst.topK(n, entryPoint, k, beamWidth, adjacency, queryDist(q))
      .map { case (row, d) => (ids(row), d) }

  // ----------------------------------------------------- PQ-guided serving

  /** Row `i` as the PQ geometry sees it: the raw slots, L2-normalized
    * for cosine files (L2 order on unit vectors IS cosine order — the
    * DiskANN treatment of cosine corpora), raw for l2/u8. */
  private def loadPqRow(i: Int, out: Array[Float]): Unit = {
    val vb = vecMap.bufOf(i); val off = vecMap.offOf(i)
    var d = 0
    while (d < dim) { out(d) = slot(vb, off, d); d += 1 }
    if (isCos) {
      val inv = 1.0 / norms(i)
      d = 0
      while (d < dim) { out(d) = (out(d) * inv).toFloat; d += 1 }
    }
  }

  /** Build the resident PQ state for this file — trained codebook +
    * n·m code array — in one sequential pass over the mapping
    * (nothing else is heap-loaded; this is the 8-bytes-per-vector
    * state DiskANN keeps in RAM, Subramanya et al. NeurIPS'19 §3).
    * Training samples evenly-spaced rows (the deterministic rule every
    * kernel here uses), so two builds over the same file are
    * bit-identical. */
  def buildPqState(m: Int = 8, ksub: Int = 16, iters: Int = 5,
      sampleMax: Int = 4096): (PqCodebook, Array[Byte]) = {
    require(!packed, "PQ serving applies to f32/u8 files, not packed hamming")
    require(dim % m == 0, s"dim $dim not divisible by m=$m subspaces")
    val sN = math.min(n, sampleMax)
    val step = math.max(1, n / sN)
    val sample = new Array[Float](sN * dim)
    val row = new Array[Float](dim)
    var si = 0
    while (si < sN) {
      loadPqRow(si * step, row)
      System.arraycopy(row, 0, sample, si * dim, dim)
      si += 1
    }
    val cb = PqCodebook.train(sample, dim, sN, m, ksub, iters, sampleMax = sN)
    val codes = new Array[Byte](n * m)
    var i = 0
    while (i < n) { loadPqRow(i, row); cb.encodeInto(row, 0, codes, i * m); i += 1 }
    (cb, codes)
  }

  /** Build the resident SIGN-BIT state for this file — the RaBitQ ×
    * DiskANN serving composition: each (cosine-normalized, optionally
    * randomly-rotated) vector packs to ⌈dim/64⌉ long words of sign
    * bits, so candidate generation costs one xor+popcount chain per
    * visited node instead of an m-entry ADC walk, and the resident
    * footprint is dim/8 BITS per vector with NO trained codebook.
    * `rotate = true` applies the frozen random rotation
    * ([[graft.operators.Opq.randomRotationOf]] at this file's dim —
    * RaBitQ's isotropy preconditioner, Gao & Long SIGMOD'24): sign
    * codes estimate angles well only under isotropic variance, so
    * rotation is the corpus-independent safe default; raw axes
    * (`rotate = false`) can win on corpora validated axis-friendly
    * (the measured negative finding at Opq.bitCodes). One sequential
    * pass; deterministic (frozen seed), so two builds are
    * bit-identical. Returns (words, wordsPerVec, rotation|null). */
  def buildBinaryState(rotate: Boolean = true): (Array[Long], Int, Array[Float]) = {
    require(!packed, "binary serving applies to f32/u8 files, not packed hamming")
    val rot: Array[Float] =
      if (rotate) graft.operators.Opq.randomRotationOf(dim, graft.operators.Opq.BinRotSeed)
      else null
    val wpv = (dim + 63) >>> 6
    val words = new Array[Long](n * wpv)
    val row = new Array[Float](dim)
    var i = 0
    while (i < n) {
      loadPqRow(i, row)
      packSignBits(if (rot == null) row else graft.operators.Opq.rotateOf(row, rot, dim),
        words, i * wpv)
      i += 1
    }
    (words, wpv, rot)
  }

  /** Sign-pack `v` into `out(off ..< off+wpv)`: bit d of word d/64
    * set iff v(d) > 0 — one shared spelling for corpus rows and
    * queries so the two sides can never disagree on the convention. */
  private def packSignBits(v: Array[Float], out: Array[Long], off: Int): Unit = {
    var w = 0L; var d = 0
    while (d < dim) {
      if (v(d) > 0f) w |= 1L << (d & 63)
      if ((d & 63) == 63) { out(off + (d >>> 6)) = w; w = 0L }
      d += 1
    }
    if ((dim & 63) != 0) out(off + (dim >>> 6)) = w
  }

  /** Two-tier beam search steered by RESIDENT sign-bit Hamming —
    * [[searchPq]]'s twin through the same shared traversal kernel
    * ([[PqSearch.searchSteered]]): the mapping is touched only for
    * adjacency rows and the ≤ beamWidth exact rerank. Per visited
    * node the steering cost is wpv xor+popcounts (24 word ops at dim
    * 1536) against the ADC tier's m lookups + adds, and the state
    * needs no training pass. Returns (global id, EXACT distance)
    * ascending — same contract as [[searchPq]]. */
  def searchBinary(q: Array[Float], k: Int, beamWidth: Int,
      words: Array[Long], wpv: Int, rotation: Array[Float]): Array[(Long, Double)] = {
    require(words.length == n.toLong * wpv,
      s"words length ${words.length} != n($n)·wpv($wpv) — state from another file?")
    val exact = queryDist(q)
    val qSteer =
      if (rotation == null) steerQuery(q)
      else graft.operators.Opq.rotateOf(steerQuery(q), rotation, dim)
    val qw = new Array[Long](wpv)
    packSignBits(qSteer, qw, 0)
    @inline def hamming(j: Int): Double = {
      val base = j * wpv
      var h = 0; var t = 0
      while (t < wpv) { h += java.lang.Long.bitCount(words(base + t) ^ qw(t)); t += 1 }
      h.toDouble
    }
    PqSearch.searchSteered(n, adjacency, entryPoint, hamming, exact, k, beamWidth)
      .map { case (rowId, d) => (ids(rowId), d) }
  }

  /** The query as the resident codes see it: L2-normalized for cosine
    * files (the [[loadPqRow]] geometry), as given otherwise. */
  private def steerQuery(q: Array[Float]): Array[Float] =
    if (!isCos) q
    else { val inv = 1.0 / queryNorm(q); Array.tabulate(dim)(i => (q(i) * inv).toFloat) }

  /** Two-tier beam search (the DiskANN serving split): traversal is
    * steered by ADC distances over the RESIDENT `codes` array — the
    * mapping is touched only for adjacency rows and the ≤ beamWidth
    * exact rerank distances, so per-query disk traffic is O(visited ·
    * maxDegree · 4 B + beamWidth · dim · elem) instead of O(visited ·
    * dim · elem). Returns (global id, EXACT distance) ascending —
    * distances are the same metric [[search]] reports, only the
    * candidate set is PQ-approximate. */
  def searchPq(q: Array[Float], k: Int, beamWidth: Int,
      cb: PqCodebook, codes: Array[Byte]): Array[(Long, Double)] = {
    require(codes.length == n.toLong * cb.m,
      s"codes length ${codes.length} != n($n)·m(${cb.m}) — state from another file?")
    val exact = queryDist(q)
    val lut = cb.lut(steerQuery(q))
    PqSearch.searchSteered(n, adjacency, entryPoint, j => cb.adc(lut, codes, j), exact,
        k, beamWidth)
      .map { case (rowId, d) => (ids(rowId), d) }
  }

  override def close(): Unit = ch.close()
}
