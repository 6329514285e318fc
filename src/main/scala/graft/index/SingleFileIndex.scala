package graft.index

import java.io.RandomAccessFile
import java.nio.{ByteBuffer, ByteOrder, FloatBuffer, MappedByteBuffer}
import java.nio.channels.FileChannel
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardOpenOption}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
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
  * The layout has one writer ([[writeFile]], behind [[export]] and
  * [[exportSharded]]) and one open ([[IndexFile]], behind
  * [[MmapIndex]], [[importLocal]] and [[importLocalU8]]). The open
  * checks every header field against its use and against the file
  * length ([[readMeta]]) before it maps anything. The writer stages
  * the file under an attempt-unique temp name and renames it into
  * place, so a crash leaves the old index or none, never a torn one.
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

  private[graft] def nameToMetric(name: String,
      where: String = "single-file metadata"): String =
    MetricToName.collectFirst { case (m, n) if n == name => m }
      // Linf before L1 before L2: longest-substring first so DistLinf
      // can never be claimed by a shorter Dist* pattern
      .orElse(Seq("Linf", "L1", "L2", "Cosine", "Dot", "Hamming",
          "Jaccard", "Hellinger", "JensenShannon")
        .collectFirst { case s if name.contains("Dist" + s) =>
          if (s == "JensenShannon") "js" else s.toLowerCase })
      .getOrElse(throw new IllegalArgumentException(
        s"unrecognized distance_name '$name' in $where — " +
          "refusing to silently serve with l2"))

  private def serializeMeta(m: FileMeta): Array[Byte] = {
    val name = m.distanceName.getBytes(StandardCharsets.UTF_8)
    val bb = ByteBuffer.allocate(FixedMetaBytes + name.length)
      .order(ByteOrder.LITTLE_ENDIAN)
    bb.putLong(m.dim.toLong).putLong(m.numVectors.toLong).putLong(m.maxDegree.toLong)
    bb.putInt(m.medoidId)
    bb.putLong(m.vectorsOffset).putLong(m.adjacencyOffset)
    bb.put(m.elemSize.toByte)
    bb.putLong(name.length.toLong)
    bb.put(name)
    bb.array()
  }

  /** Bincode bytes before the name: dim, num_vectors, max_degree
    * (u64), medoid_id (u32), the two offsets (u64), elem_size (u8)
    * and the name length (u64). */
  private val FixedMetaBytes = 8 * 3 + 4 + 8 * 2 + 1 + 8

  /** Read and check the header of an index file: the one parse of the
    * layout's metadata. Every u64 field must fit its use, `dim`,
    * `num_vectors` and `max_degree` must be at least 1, `elem_size`
    * 1, 4 or 8, and the metadata block, the vectors region and the
    * adjacency region must lie inside the file without overlapping. A
    * failure is an IllegalArgumentException naming the file and the
    * field; nothing is mapped or allocated from an unchecked value. */
  def readMeta(path: String): FileMeta = {
    def bad(field: String, why: String): Nothing =
      throw new IllegalArgumentException(s"corrupt single-file index $path: $field $why")
    def u64(v: Long) = java.lang.Long.toUnsignedString(v)
    val raf = new RandomAccessFile(path, "r")
    try {
      val len = raf.length()
      if (len < 8 + FixedMetaBytes)
        bad("header", s"is truncated: the file holds $len bytes, the fixed fields ${8 + FixedMetaBytes}")
      val head = new Array[Byte](8 + FixedMetaBytes)
      raf.readFully(head)
      val bb = ByteBuffer.wrap(head).order(ByteOrder.LITTLE_ENDIAN)
      val mdLen = bb.getLong
      if (mdLen < FixedMetaBytes || mdLen > len - 8)
        bad("metadata_len", s"${u64(mdLen)} is outside [$FixedMetaBytes, ${len - 8}]")
      def count(field: String, v: Long): Int = {
        if (v < 1 || v > Int.MaxValue) bad(field, s"${u64(v)} is outside [1, ${Int.MaxValue}]")
        v.toInt
      }
      val dim = count("dim", bb.getLong)
      val n = count("num_vectors", bb.getLong)
      val maxDeg = count("max_degree", bb.getLong)
      val medoid = bb.getInt
      val vOff = bb.getLong
      val aOff = bb.getLong
      val elem = bb.get() & 0xff
      val nameLen = bb.getLong
      if (elem != 1 && elem != 4 && elem != 8) bad("elem_size", s"$elem is not 1, 4 or 8")
      // a row is read through an int-indexed buffer, and a packed row
      // decodes to 64 slots per word
      if (dim.toLong * elem > Int.MaxValue || (elem == 8 && dim.toLong * 64 > Int.MaxValue))
        bad("dim", s"$dim × elem_size $elem does not fit one mapped row")
      if (4L * maxDeg > Int.MaxValue) bad("max_degree", s"$maxDeg does not fit one mapped row")
      if (nameLen < 0 || nameLen > mdLen - FixedMetaBytes || nameLen > VectorsOffset)
        bad("distance_name", s"length ${u64(nameLen)} overruns the $mdLen-byte metadata block " +
          "or the 1 MiB gap")
      if (vOff < 0 || 8 + mdLen > vOff)
        bad("metadata_len", s"$mdLen overruns vectors_offset ${u64(vOff)}")
      // both products < 2^62: n, dim·elem and 4·max_degree are ints
      val vBytes = n.toLong * dim * elem
      val aBytes = 4L * n * maxDeg
      if (vOff > len || vBytes > len - vOff)
        bad("vectors_offset", s"${u64(vOff)} + num_vectors·dim·elem_size ($vBytes bytes) " +
          s"runs past the file's $len bytes")
      if (aOff < 8 + mdLen || aOff > len || aBytes > len - aOff)
        bad("adjacency_offset", s"${u64(aOff)} + num_vectors·max_degree·4 ($aBytes bytes) " +
          s"lies outside [${8 + mdLen}, $len]")
      if (aOff < vOff + vBytes && vOff < aOff + aBytes)
        bad("adjacency_offset", s"$aOff overlaps the vectors region [$vOff, ${vOff + vBytes})")
      val name = new Array[Byte](nameLen.toInt)
      raf.readFully(name)
      FileMeta(dim, n, maxDeg, medoid, vOff, aOff, elem,
        new String(name, StandardCharsets.UTF_8))
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
  private def pairingHash(mainPath: String, vectorsOffset: Long, n: Int,
      idBytes: Array[Byte]): Long = {
    var h = 0xcbf29ce484222325L
    def mix(b: Byte): Unit = { h ^= (b & 0xffL); h *= 0x100000001b3L }
    var nv = n.toLong
    var k = 0
    while (k < 8) { mix((nv & 0xff).toByte); nv >>>= 8; k += 1 }
    var i = 0
    while (i < 8 * n) { mix(idBytes(i)); i += 1 }
    val raf = new RandomAccessFile(mainPath, "r")
    try {
      val len = raf.length()
      val s1 = new Array[Byte](
        math.min(4096L, math.max(0L, len - vectorsOffset)).toInt)
      raf.seek(vectorsOffset); raf.readFully(s1); s1.foreach(mix)
      val start2 = math.max(vectorsOffset, len - 4096)
      val s2 = new Array[Byte]((len - start2).toInt)
      raf.seek(start2); raf.readFully(s2); s2.foreach(mix)
    } finally raf.close()
    h
  }

  /** The sidecar ids of a checked file, or the dense 0..n-1. A sidecar
    * that does not cover exactly this file's rows, or whose v2 trailer
    * does not pair with this file, is a torn install and fails naming
    * both files. */
  private def loadIds(path: String, meta: FileMeta): Array[Long] = {
    val n = meta.numVectors
    val sc = sidecarPath(path)
    val p = Paths.get(sc)
    if (!Files.exists(p)) Array.tabulate(n)(_.toLong)
    else {
      def torn(count: Long) =
        s"id sidecar $sc holds $count ids but num_vectors of $path is $n — " +
          "torn sidecar install; re-export the index (or delete the sidecar if ids are dense)"
      // sized before it is read: only 8·n (v1) or 8·n + 16 (v2) can pair
      val size = Files.size(p)
      require(size == 8L * n || size == 8L * n + 16, torn(size / 8))
      val bytes = Files.readAllBytes(p)
      // v2 detection keys on the trailing magic, NEVER on the expected
      // row count: a stale v2 sidecar whose length happens to equal
      // 8·(n+2) would otherwise alias as a bare v1 file and serve its
      // magic+hash words as the last two vec_ids
      val isV2 = bytes.length >= 16 &&
        ByteBuffer.wrap(bytes, bytes.length - 16, 8)
          .order(ByteOrder.LITTLE_ENDIAN).getLong == IdsMagic
      val idCount = if (isV2) (bytes.length - 16) / 8 else bytes.length / 8
      // bare 8·n sidecars (v1 / foreign) stay readable but get only
      // the length check
      require(idCount == n, torn(idCount))
      if (isV2) {
        val stored = ByteBuffer.wrap(bytes, 8 * n + 8, 8)
          .order(ByteOrder.LITTLE_ENDIAN).getLong
        require(stored == pairingHash(path, meta.vectorsOffset, n, bytes),
          s"id sidecar $sc does not pair with $path " +
            "(same row count, different content) — torn sidecar " +
            "install; re-export the index")
      }
      val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
      Array.fill(n)(bb.getLong)
    }
  }

  /** Row-aligned segment chain over one region of a file: segment s
    * holds rows [s·rowsPerSeg, …), so `(bufOf(i), offOf(i))` addresses
    * row i without any read crossing a segment boundary. A Java
    * `MappedByteBuffer` is int-indexed, so files beyond 2 GiB map as a
    * chain. */
  private[index] final class SegMap(ch: FileChannel, base: Long, val rowBytes: Int,
      rows: Int, maxSegBytes: Long) {
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

  /** Largest Java array the heap importers allocate. */
  private val MaxArrayCells = Int.MaxValue - 8

  /** The one open of the layout: the checked header ([[readMeta]]),
    * the id sidecar, and the vector and adjacency regions mapped
    * row-aligned, with the one decoder of each. [[MmapIndex]] serves
    * from it; [[importLocal]] and [[importLocalU8]] copy what it
    * decodes to the heap. A mapping outlives the channel that made it
    * (`FileChannel.map`), so the open closes its channel once both
    * regions are mapped and holds no file descriptor. */
  private[index] final class IndexFile(val path: String,
      maxSegBytes: Long = Int.MaxValue.toLong) {
    val meta: FileMeta = readMeta(path)
    val storedMetric: String = nameToMetric(meta.distanceName, path)
    /** packed u64 hamming file (reference DiskANN<u64, DistHamming>):
      * the file dim counts words, rows decode bit-per-slot. */
    val packed: Boolean = meta.elemSize == 8
    require(!packed || storedMetric == "hamming",
      s"graft serves f32, u8, or packed-u64 hamming indexes; $path has " +
        s"elem_size 8 with distance_name ${meta.distanceName}")
    /** u8 file (reference generic T = u8, examples/bigann.rs). */
    val u8: Boolean = meta.elemSize == 1
    val n: Int = meta.numVectors
    /** Slots per decoded row. */
    val dim: Int = if (packed) meta.dim * 64 else meta.dim
    val ids: Array[Long] = loadIds(path, meta)
    /** The stored entry row, or -1 for the reference's 0xFFFFFFFF
      * no-medoid sentinel or an out-of-range id. */
    val medoid: Int = if (meta.medoidId >= 0 && meta.medoidId < n) meta.medoidId else -1

    val (vecMap, adjMap) = {
      val ch = FileChannel.open(Paths.get(path), StandardOpenOption.READ)
      try (new SegMap(ch, meta.vectorsOffset, meta.dim * meta.elemSize, n, maxSegBytes),
        new SegMap(ch, meta.adjacencyOffset, 4 * meta.maxDegree, n, maxSegBytes))
      finally ch.close()
    }
    /** f32 rows: a little-endian float view of each vector segment, for
      * one absolute bulk read per row. */
    private val vecFloats: Array[FloatBuffer] =
      if (packed || u8) null else vecMap.segs.map(_.asFloatBuffer())

    /** The one adjacency decoder: row `row`'s u32 LE ids, 0xFFFFFFFF
      * padding skipped, into `out` (the [[BestFirst.Adjacency]]
      * contract: ids past `out.length` are counted but not written).
      * Any other id outside [0, n) is rejected, naming the file, row
      * and slot, because the search's epoch marks index by neighbor
      * id. */
    val adjacency: BestFirst.Adjacency = (row, out) => {
      val bb = adjMap.bufOf(row); val off = adjMap.offOf(row)
      var cnt = 0
      var t = 0
      while (t < meta.maxDegree) {
        val nb = bb.getInt(off + 4 * t)
        if (nb != Pad) {
          if (nb < 0 || nb >= n)
            throw new IllegalArgumentException(
              s"corrupt adjacency in $path: row $row slot $t holds neighbor id " +
                s"${Integer.toUnsignedString(nb)}, outside num_vectors [0, $n)")
          if (cnt < out.length) out(cnt) = nb
          cnt += 1
        }
        t += 1
      }
      cnt
    }

    /** Decode row `i` into `out(off ..< off + dim)`: f32 as stored, u8
      * widened (exact in f32), packed words bit-per-slot. */
    def decodeInto(i: Int, out: Array[Float], off: Int): Unit = {
      val b = vecMap.bufOf(i); val o = vecMap.offOf(i)
      if (packed) {
        var w = 0
        while (w < meta.dim) {
          val word = b.getLong(o + 8 * w)
          var k = 0
          while (k < 64) { out(off + w * 64 + k) = if (((word >>> k) & 1L) != 0) 1f else 0f; k += 1 }
          w += 1
        }
      } else if (u8) {
        var d = 0
        while (d < dim) { out(off + d) = (b.get(o + d) & 0xff).toFloat; d += 1 }
      } else vecFloats(i / vecMap.rowsPerSeg).get(o / 4, out, off, dim)
    }

    /** Every row decoded into one row-major heap array. */
    def rows(): Array[Float] = {
      val out = new Array[Float](heapCells())
      var i = 0
      while (i < n) { decodeInto(i, out, i * dim); i += 1 }
      out
    }

    /** The u8 rows copied to the heap as stored. */
    def bytes(): Array[Byte] = {
      val out = new Array[Byte](heapCells())
      var i = 0
      while (i < n) { vecMap.bufOf(i).get(vecMap.offOf(i), out, i * dim, dim); i += 1 }
      out
    }

    /** Every adjacency row as a heap list, into `graph`. */
    def readLists(graph: Array[Array[Int]]): Unit = {
      val row = new Array[Int](meta.maxDegree)
      var i = 0
      while (i < n) { graph(i) = java.util.Arrays.copyOf(row, adjacency.fill(i, row)); i += 1 }
    }

    private def heapCells(): Int = {
      val cells = n.toLong * dim
      require(cells <= MaxArrayCells,
        s"$path holds num_vectors $n × $dim slots, more than one Java array; " +
          "serve it disk-resident with MmapIndex")
      cells.toInt
    }
  }

  /** The one writer of the layout. `vectors` puts the `ids.length`
    * rows of `dim`·`elemSize` bytes into the staging buffer that
    * `room(k)` returns with `k` bytes free, and returns the entry row
    * (medoid_id); `adjacency`, evaluated after it, yields each row's
    * neighbors as rows, of which the first `maxDegree` are written and
    * the rest of the row padded with 0xFFFFFFFF. The header goes last
    * (the reference writes it last too, lib.rs:609-613).
    *
    * Task side effects must survive retry and speculation: a second
    * attempt truncating the SAME visible file while a zombie attempt
    * still runs would let a reader map a half-written index. So each
    * attempt writes an attempt-unique temp file and renames it over
    * the target; attempts are deterministic (identical bytes), so
    * last-rename-wins is safe, and a failed attempt removes its temp
    * file. */
  private def writeFile(path: String, ids: Array[Long], dim: Int, elemSize: Int,
      maxDegree: Int, metric: String)(
      vectors: (Int => ByteBuffer) => Int, adjacency: => Iterator[Array[Int]]): Unit = {
    val n = ids.length
    val adjacencyOffset = VectorsOffset + elemSize.toLong * n * dim
    val attempt = Option(org.apache.spark.TaskContext.get())
      .map(_.taskAttemptId().toString)
      .getOrElse(java.util.UUID.randomUUID().toString.take(8))
    val tmp = Paths.get(s"$path.tmp-$attempt")
    val tmpIds = Paths.get(sidecarPath(tmp.toString))
    try {
      val ch = FileChannel.open(tmp, StandardOpenOption.CREATE,
        StandardOpenOption.TRUNCATE_EXISTING, StandardOpenOption.WRITE)
      try {
        val buf = ByteBuffer.allocate(math.max(1 << 20, math.max(elemSize * dim, 4 * maxDegree)))
          .order(ByteOrder.LITTLE_ENDIAN)
        def flush(): Unit = { buf.flip(); while (buf.hasRemaining) ch.write(buf); buf.clear() }
        def room(k: Int): ByteBuffer = { if (buf.remaining < k) flush(); buf }
        ch.position(VectorsOffset)
        val medoid = vectors(room)
        adjacency.foreach { nbrs =>
          val bb = room(4 * maxDegree)
          val w = math.min(nbrs.length, maxDegree)
          var t = 0
          while (t < w) { bb.putInt(nbrs(t)); t += 1 }
          while (t < maxDegree) { bb.putInt(Pad); t += 1 }
        }
        flush()
        val md = serializeMeta(FileMeta(dim, n, maxDegree, medoid, VectorsOffset,
          adjacencyOffset, elemSize, MetricToName.getOrElse(metric, metric)))
        require(8 + md.length <= VectorsOffset, "metadata exceeds the 1 MiB gap")
        // the file ends at the adjacency end; the gap before the vectors
        // reads as zeros
        ch.position(0)
        room(8 + md.length).putLong(md.length.toLong).put(md)
        flush()
      } finally ch.close()
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
      if (ids.indices.forall(i => ids(i) == i)) {
        atomicMove(tmp, Paths.get(path))
        Files.deleteIfExists(Paths.get(sidecarPath(path)))
      } else {
        // trailer hashed against the STAGED main (same bytes the
        // rename installs), so the pair is bound before either rename
        val bb = ByteBuffer.allocate(8 * n + 16).order(ByteOrder.LITTLE_ENDIAN)
        ids.foreach(bb.putLong)
        bb.putLong(IdsMagic)
        bb.putLong(pairingHash(tmp.toString, VectorsOffset, n, bb.array()))
        Files.write(tmpIds, bb.array())
        atomicMove(tmpIds, Paths.get(sidecarPath(path)))
        atomicMove(tmp, Paths.get(path))
      }
    } catch { case e: Throwable =>
      Files.deleteIfExists(tmp); Files.deleteIfExists(tmpIds)
      throw e
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
    * distributed format remains the shard-partitioned parquet. The
    * file is staged and renamed into place ([[writeFile]]). */
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

    // medoid pivots: VamanaGraph.medoid's rule, so a heap reload
    // recomputes the same entry point; the argmin below streams the
    // same per-row, pivot-ordered sum as BestFirst.pivotMedoid
    val pivotPos = BestFirst.medoidPivots(n)
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
    val pivotNorms = if (isCos) pivotVecs.map(v => Metric.cosineNorm(v, 0, v.length)) else null

    writeFile(path, ids, fileDim, elemSize, maxDeg, params.metric)(room => {
      // vectors region, and the medoid argmin in the same pass
      var best = 0; var bestScore = Double.MaxValue
      var pos = 0
      sorted.select($"vec_id", $"embedding").as[(Long, Array[Float])]
        .toLocalIterator().forEachRemaining { case (_, v) =>
          if (packed) {
            val bb = room(8 * words)
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
              bb.putLong(word)
              w += 1
            }
          } else if (u8) {
            val bb = room(dim)
            var d = 0
            while (d < dim) {
              val slot = v(d)
              require(slot >= 0f && slot <= 255f && slot == math.rint(slot).toFloat,
                s"u8 export expects integral slots in [0,255], got $slot")
              bb.put(slot.toInt.toByte)
              d += 1
            }
          } else {
            val bb = room(4 * dim)
            v.foreach(bb.putFloat)
          }
          var s = 0.0
          if (isCos) {
            val vn = Metric.cosineNorm(v, 0, v.length)
            var p = 0
            while (p < pivotVecs.length) {
              s += Metric.cosineDist(Distance.dot(v, 0, pivotVecs(p), 0, dim), vn, pivotNorms(p))
              p += 1
            }
          } else {
            var p = 0
            while (p < pivotVecs.length) {
              s += Metric.graphDist(metric, v, 0, pivotVecs(p), 0, dim); p += 1
            }
          }
          if (s < bestScore) { bestScore = s; best = pos }
          pos += 1
        }
      best
    },
    // neighbors outside the exported row set (a filtered subset
    // export) become padding
    sorted.select($"vec_id", $"neighbors").as[(Long, Array[Long])]
      .toLocalIterator().asScala.map { case (_, nbrs) =>
        nbrs.flatMap(id => Option(idToPos.get(id)).map(_.intValue))
      })
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
  def serve(queries: DataFrame, path: String, k: Int, beamWidth: Int): DataFrame =
    serveFile(queries, path)(mm => qv => mm.search(qv, k, beamWidth))

  /** The per-task loop of every single-file surface ([[serve]],
    * [[servePq]], [[serveBinary]]): map the file once per partition of
    * `queries`, answer each query with `search(mm)`, and materialize
    * the partition's ranked rows (dist rounded to 4 places) before
    * closing the map. */
  private def serveFile(queries: DataFrame, path: String)(
      search: MmapIndex => Array[Float] => Array[(Long, Double)]): DataFrame = {
    val s = queries.sparkSession
    import s.implicits._
    queries.select("q_id", "qv").as[(Long, Array[Float])]
      .mapPartitions { it =>
        val mm = new MmapIndex(path)
        try {
          val one = search(mm)
          it.flatMap { case (qid, qv) =>
            one(qv).iterator.zipWithIndex.map {
              case ((nid, d), r) => (qid, r + 1, nid, math.rint(d * 1e4) / 1e4)
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
  private[index] def writeShardFile(
      group: Array[IndexRow], params: VamanaParams, path: String): Unit = {
    val (g, sorted) = VamanaIndex.rebuildShardGraph(group, params)(identity)
    val dim = g.dim
    val maxDeg = math.max(params.maxDegree, g.graph.map(_.length).max)
    writeFile(path, sorted.map(_.vec_id), dim, 4, maxDeg, params.metric)(room => {
      var i = 0
      while (i < sorted.length) {
        val bb = room(4 * dim)
        var d = 0
        while (d < dim) { bb.putFloat(g.vecs(i * dim + d)); d += 1 }
        i += 1
      }
      g.medoid
    }, g.graph.iterator)
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

  /** The sharded tier's manifest, parsed once: (shard, file, entry)
    * sorted by shard. `shards`, `shard` and `file` are required, and
    * `file` must name a file inside `dir`. Driver-side
    * ([[graft.index.MetaJson]]) — a pivot-bearing manifest is ~1.4 MB
    * of float text and must never ride a Spark task. */
  private def manifestShards(dir: String): Array[(Int, String, JsonNode)] = {
    val where = s"$dir/manifest.json"
    val meta =
      try MetaJson.parse(Files.readString(Paths.get(where)))
      catch { case e: java.io.IOException =>
        throw new IllegalArgumentException(s"cannot read manifest $where: $e", e)
      }
    require(meta != null && meta.isObject, s"manifest $where is not a JSON object")
    MetaJson.elems(MetaJson.required(meta, "shards", where)).map { sh =>
      val file = MetaJson.required(sh, "file", where).asText()
      require(file.nonEmpty && !file.exists(c => c == '/' || c == '\\') && !file.contains(".."),
        s"shard file '$file' in $where must name a file inside $dir")
      (MetaJson.required(sh, "shard", where).asInt(), file, sh)
    }.toArray.sortBy(_._1)
  }

  private def seedOf(shard: JsonNode, dir: String): Array[Float] =
    MetaJson.floats(MetaJson.required(shard, "seed", s"$dir/manifest.json"))

  /** Parse the sharded-tier manifest: (shard, file, routing seed). */
  def readManifest(spark: org.apache.spark.sql.SparkSession, dir: String)
      : Array[(Int, String, Array[Float])] =
    manifestShards(dir).map { case (sh, f, e) => (sh, f, seedOf(e, dir)) }

  /** Manifest with routing pivots: (shard, file, pivot set). A shard
    * written before the pivots field routes by its seed alone, so old
    * exports keep serving. */
  def readManifestPivots(spark: org.apache.spark.sql.SparkSession, dir: String)
      : Array[(Int, String, Array[Array[Float]])] =
    manifestShards(dir).map { case (sh, f, e) =>
      val pivots = e.get("pivots")
      (sh, f, if (pivots == null) Array(seedOf(e, dir)) else MetaJson.floatMatrix(pivots))
    }

  /** Serve queries over the sharded-files tier through
    * [[ShardServe]]: each task mmaps only the shard files routed to it
    * and searches its queries, and the bounded TopK merge combines
    * per-shard results — the disk-resident twin of
    * [[VamanaIndex.searchProbed]], with the same routing rule
    * ([[ShardServe.probe]]), returning IDENTICAL rows (spec-pinned).
    * `nprobe ≤ 0` probes every shard (== [[VamanaIndex.search]]). */
  def serveSharded(queries: DataFrame, dir: String, k: Int, beamWidth: Int,
      nprobe: Int = 0, distinctMerge: Boolean = false): DataFrame = {
    val s = queries.sparkSession
    import s.implicits._
    val man = readManifestPivots(s, dir)
    val qArr = queries.select("q_id", "qv").as[(Long, Array[Float])].collect().sortBy(_._1)
    val routed = ShardServe.route(qArr, man.map { case (sh, _, pv) => (sh, pv) }, nprobe)
    val files = man.collect { case (sh, f, _) if routed.contains(sh) => (sh, f) }.toSeq
    val shardFiles = files.toDF("shard", "file")
      .repartition(math.max(1, files.length), $"shard")
      .as[(Int, String)]
    ShardServe.serve(shardFiles, qArr, k, Some(routed), distinctIds = distinctMerge) { it =>
      it.map { case (shard, file) =>
        (shard, () => {
          val mm = new MmapIndex(s"$dir/$file")
          new ShardSearcher {
            def search(q: Array[Float], k: Int) = mm.search(q, k, beamWidth)
            override def close(): Unit = mm.close()
          }
        })
      }
    }
  }

  /** Resident single-process handle over the sharded-files tier — the
    * sub-ms serving path. [[serveSharded]] answers a query BATCH with
    * one Spark job (right for throughput; wrong for one interactive
    * query, where ~100 ms of job scheduling dwarfs the sub-ms search —
    * the reference's perf_test.rs measures per-query latency against a
    * resident handle, examples/perf_test.rs:40-80). This class opens
    * every shard's mmap ONCE and serves queries in-process: routing on
    * the manifest pivot sets ([[ShardServe.probe]], the job path's
    * rule), per-shard [[MmapIndex.search]], and a
    * merge with exactly [[graft.operators.TopKAgg]]'s (dist, id)
    * NaN-total order and the job path's round-half-up-4 — results are
    * spec-pinned identical to [[serveSharded]] (ShardedFilesSpec).
    * One query's probed shards are searched at once
    * ([[ShardServe.fanOut]]), each result kept in probe order, so the
    * merge sees the lists a sequential loop would. Spark is used only
    * to parse the manifest at open; the query path never touches it. */
  final class LocalSharded(spark: org.apache.spark.sql.SparkSession, dir: String)
      extends AutoCloseable {
    private val shards: Array[(Int, Array[Array[Float]], MmapIndex)] =
      readManifestPivots(spark, dir).map { case (sh, f, pv) =>
        (sh, pv, new MmapIndex(s"$dir/$f"))
      }
    private val shardIds = shards.map(_._1)
    private val pivotSets = shards.map(_._2)

    /** Top-k (global id, dist) ascending; `nprobe <= 0` = all shards.
      * `distinctMerge` keeps one entry per id (for overlap-compacted
      * tiers, where replicas arrive from several probed shards) —
      * mirrors [[graft.operators.TopKAgg]]'s distinct mode. */
    def search(q: Array[Float], k: Int, beamWidth: Int, nprobe: Int = 0,
        distinctMerge: Boolean = false): Array[(Long, Double)] = {
      val probed = ShardServe.probe(q, shardIds, pivotSets, nprobe)
      val sorted = ShardServe.fanOut(probed.length)(t =>
          shards(probed(t))._3.search(q, k, beamWidth))
        .flatten
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
    val f = new java.io.File(path)
    val state = pqStateCache.getOrElseUpdate(
      (path, f.lastModified(), f.length(), m, ksub, iters), {
      val mm = new MmapIndex(path)
      try mm.buildPqState(m, ksub, iters) finally mm.close()
    })
    val stateB = s.sparkContext.broadcast(state)
    serveFile(queries, path) { mm =>
      val (cb, codes) = stateB.value
      qv => mm.searchPq(qv, k, beamWidth, cb, codes)
    }
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
    val f = new java.io.File(path)
    val state = binStateCache.getOrElseUpdate(
      (path, f.lastModified(), f.length(), rotate), {
      val mm = new MmapIndex(path)
      try mm.buildBinaryState(rotate) finally mm.close()
    })
    val stateB = s.sparkContext.broadcast(state)
    serveFile(queries, path) { mm =>
      val (words, wpv, rot) = stateB.value
      qv => mm.searchBinary(qv, k, beamWidth, words, wpv, rot)
    }
  }

  /** Load a u8/L2 single-file index into a byte-resident [[U8Graph]]
    * — heap serving at 1/4 the memory of [[importLocal]]'s widened
    * f32 graph, with the distance loop in integer arithmetic (the
    * reference serves its BigANN u8 index without widening,
    * examples/bigann.rs). It enters where [[MmapIndex.entryPoint]]
    * does, and search results are identical to the widened graph's
    * (SingleFileIndexSpec pins it). */
  def importLocalU8(path: String): (U8Graph, Array[Long], VamanaParams) = {
    val mm = new MmapIndex(path)
    val f = mm.file
    require(f.u8 && f.storedMetric == "l2",
      s"importLocalU8 serves u8/L2 files; $path is elem_size " +
        s"${f.meta.elemSize} with distance_name ${f.meta.distanceName}")
    // U8Graph's exact integer accumulation holds only for dim ≤ 8192
    // (8192·255² < 2³¹) — checked before the code copy and any medoid
    // fallback scan. MmapIndex makes the same cut.
    require(f.dim <= 8192,
      s"importLocalU8 requires dim <= 8192 for exact integer distances " +
        s"($path has dim ${f.dim}) — use importLocal's widened-f32 path for larger dims")
    val g = new U8Graph(f.bytes(), f.dim, f.n, mm.entryPoint)
    f.readLists(g.graph)
    (g, f.ids, VamanaParams(maxDegree = f.meta.maxDegree, metric = "l2"))
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
    * disk-resident mode see [[MmapIndex]]). The graph enters at the
    * file's stored medoid_id when it is valid, so heap and mmap
    * serving of a reference-written file (whose random-pivot medoid
    * graft would not recompute) start from the same row.
    *
    * `metricOverride` serves the file with the caller's metric
    * instead of the stored one (warn on mismatch) — the heap-side
    * analog of the reference's `open_index_with` (lib.rs:450). File
    * LAYOUT decisions (packed-hamming word decode) always follow the
    * stored name: the override changes the distance evaluated, never
    * how bytes are interpreted. */
  def importLocal(path: String, metricOverride: Option[String] = None)
      : (VamanaGraph, Array[Long], VamanaParams) = {
    val f = new IndexFile(path)
    val params = VamanaParams(maxDegree = f.meta.maxDegree,
      metric = resolveMetric(path, f.storedMetric, metricOverride))
    val g = new VamanaGraph(f.rows(), f.dim, f.n, params)
    g.entryOverride = f.medoid
    f.readLists(g.graph)
    (g, f.ids, params)
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
  * is opened through [[SingleFileIndex.IndexFile]] (the checked header,
  * the id sidecar, and row-aligned read-only mappings — reference
  * lib.rs:450-497 `open_index_with` + mmap) and beam search reads
  * vectors and adjacency straight from the mapping — the index is
  * never heap-loaded. The only O(n) heap state is the cached
  * per-vector norm table for cosine (8n bytes), mirroring
  * [[VamanaGraph]]'s fused-dot fast path so results are bit-identical
  * to the heap-resident graph. Both modes enter at the file's stored
  * medoid_id ([[SingleFileIndex.importLocal]] threads it into the
  * graph), so the equivalence holds for reference-written files too,
  * whose random-pivot medoid graft would not recompute.
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
  *
  * The mappings outlive the channel that made them, and the open holds
  * no file descriptor, so [[close]] has nothing to release: an
  * instance that is never closed, or a [[SingleFileIndex.LocalSharded]]
  * whose later shard fails to open, leaks nothing but mappings the
  * garbage collector unmaps.
  */
final class MmapIndex(path: String, maxSegBytes: Long = Int.MaxValue.toLong,
    metricOverride: Option[String] = None)
    extends AutoCloseable {
  private[index] val file = new SingleFileIndex.IndexFile(path, maxSegBytes)
  val meta: SingleFileIndex.FileMeta = file.meta
  /** serving metric: caller override (open_index_with) or stored. */
  private val metricName0 =
    SingleFileIndex.resolveMetric(path, file.storedMetric, metricOverride)
  /** packed u64 hamming file: file dim counts words; queries/vectors
    * are bit-per-slot. Layout follows the STORED metric — an override
    * changes the distance evaluated, never how the bytes are decoded. */
  private val packed = file.packed
  // The mmap hot loop evaluates packed rows with a popcount kernel
  // that IS the hamming distance — a different serving metric would
  // be silently ignored (or, for cosine, misread packed words as
  // floats in the norm precompute). importLocal decodes packed files
  // bit-per-slot, so the override is honored there; send callers that
  // way instead of serving wrong distances.
  require(!packed || metricName0 == file.storedMetric,
    s"cannot serve packed-u64 hamming file $path with metric " +
      s"'$metricName0' off the mapping; use importLocal(path, " +
      "Some(metric)) — its bit-per-slot decode honors the override")
  /** u8 file: slots are unsigned bytes read straight off the mapping —
    * no widened copy of the vector region ever exists on the heap. */
  private val u8 = file.u8
  val n: Int = file.n
  val dim: Int = file.dim
  val ids: Array[Long] = file.ids

  private val vecMap = file.vecMap

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

  /** Serving entry point: the file's stored medoid when valid. A
    * foreign file carrying the reference's 0xFFFFFFFF no-medoid
    * sentinel (or an out-of-range id) gets the pivot medoid
    * ([[BestFirst.pivotMedoid]]), computed once off the mapping;
    * [[SingleFileIndex.importLocalU8]] enters here too. */
  lazy val entryPoint: Int =
    if (file.medoid >= 0) file.medoid
    else {
      val pdist = BestFirst.medoidPivots(n).map(p => queryDist(vector(p)))
      BestFirst.pivotMedoid(n, pdist.length, (i, p) => pdist(p)(i))
    }

  /** Copy row `i` into a fresh array (reference get_vector, lib.rs:724);
    * packed rows come back bit-per-slot. */
  def vector(i: Int): Array[Float] = {
    val out = new Array[Float](dim)
    file.decodeInto(i, out, 0)
    out
  }

  /** cosine norms cached once ([[Metric.cosineNorm]], as VamanaGraph). */
  private val norms: Array[Double] =
    if (!isCos) null
    else {
      val row = new Array[Float](dim)
      Array.tabulate(n) { i => file.decodeInto(i, row, 0); queryNorm(row) }
    }

  private def queryNorm(q: Array[Float]): Double = Metric.cosineNorm(q, 0, q.length)

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
      val row = new Array[Float](dim)
      j => {
        file.decodeInto(j, row, 0)
        Metric.cosineDist(Distance.dot(q, 0, row, 0, dim), qNorm, norms(j))
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
          file.decodeInto(j, row, 0)
          Metric.graphDist(metric, q, 0, row, 0, dim)
        }
      }
    }
  }

  /** Beam search straight off the mapping through [[BestFirst]] —
    * the kernel [[VamanaGraph.search]] runs, so the results match the
    * heap-resident graph exactly. Returns (global id, dist)
    * ascending. */
  def search(q: Array[Float], k: Int, beamWidth: Int): Array[(Long, Double)] =
    BestFirst.topK(n, entryPoint, k, beamWidth, file.adjacency, queryDist(q))
      .map { case (row, d) => (ids(row), d) }

  // ----------------------------------------------------- PQ-guided serving

  /** Row `i` as the PQ geometry sees it: the raw slots, L2-normalized
    * for cosine files (L2 order on unit vectors IS cosine order — the
    * DiskANN treatment of cosine corpora), raw for l2/u8. */
  private def loadPqRow(i: Int, out: Array[Float]): Unit = {
    file.decodeInto(i, out, 0)
    if (isCos) {
      val inv = 1.0 / norms(i)
      var d = 0
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
    PqSearch.searchSteered(n, file.adjacency, entryPoint, hamming, exact, k, beamWidth)
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
    PqSearch.searchSteered(n, file.adjacency, entryPoint, j => cb.adc(lut, codes, j), exact,
        k, beamWidth)
      .map { case (rowId, d) => (ids(rowId), d) }
  }

  /** Nothing to release: the open holds no file descriptor. */
  override def close(): Unit = ()
}
