package graft.sources

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import SqliteReader.localSize

/** Distributed writer for the SQLite database file format (format 3,
  * sqlite.org/fileformat2) — the inverse of [[SqliteReader]], closing
  * the reference's store loop in BOTH directions: the engine can read
  * a reference-style `vectors.db` (reference server.js:21-32) AND
  * export one a stock `sqlite3` opens, so a user migrating either way
  * never leaves the library.
  *
  * Scope: ONE rowid table per file, written fresh (no update path),
  * serial types for null/int/real/text/blob, overflow chains for
  * records past the local-payload threshold (the reference's
  * 6144-byte float32 blobs always overflow a 4096-byte page),
  * multi-level interior B-trees — and, through [[writeFull]] with an
  * [[ExportSchema.uniqueTextCol]], the reference's FULL schema: a
  * real `sqlite_autoindex_<table>_1` UNIQUE index B-tree (bulk-loaded
  * distributed, range-partitioned by the indexed column) and an
  * AUTOINCREMENT `sqlite_sequence` row seeded at max(rowid), so a
  * stock `sqlite3` can keep INSERTing into the export with the UNIQUE
  * constraint enforcing through the shipped index. The bare [[write]]
  * variant (no `uniqueTextCol`) still exports schema-only files for
  * tables without a uniqueness contract. Duplicate values in the
  * UNIQUE column are rejected loudly at export: adjacent duplicates by
  * a per-partition adjacency check executor-side, boundary-straddling
  * duplicates by a driver-side strict-increase check over each
  * partition's (first, last) indexed key — O(partitions) state.
  * Freelists/WAL/pointer maps don't occur in a fresh single-pass file.
  *
  * Distribution: SQLite is a single-FILE format, so the final byte
  * stream is inherently one writer — but everything CPU-shaped is
  * executor-side. Rows are range-partitioned by rowid (a table B-tree
  * is rowid-ordered, so ranged partitions own contiguous leaf runs),
  * each partition serializes its own leaf + overflow pages with
  * page numbers LOCAL to the partition (pointer fields carry local
  * indexes plus a fix-up list), a count-only job turns partition page
  * counts into global base offsets, and the driver then streams
  * pages to disk in partition order, patching each fix-up to
  * `base + local` as the bytes pass through. Driver memory for the
  * stream is O(largest partition's serialized pages) — the fetch unit
  * of `RDD.toLocalIterator` is a partition, not a page — plus the
  * O(leaves) (page number, max key) directories the interior builds
  * hold; zero driver-side record encoding. Interior levels are built
  * driver-side from those directories: O(leaves) entries ≈
  * file_bytes / 4 KiB — model-sized for the export/migration
  * workloads a single .db file can serve at all (this is the
  * migration seam, not the 100 TB store: the operational sink remains
  * the parquet/manifest store, exactly as the reader is the one-time
  * migration scan).
  */
object SqliteWriter {

  val PageSize = 4096
  /** No reserved bytes per page → the full page is usable. */
  val Usable: Int = PageSize

  /** What a write produced — surfaced so specs and call sites can
    * assert the tree SHAPE (overflow exercised, interior depth), not
    * just re-read the rows. The index fields stay 0 without a
    * [[ExportSchema.uniqueTextCol]]. */
  final case class WriteStats(rows: Long, dataPages: Long,
                              overflowPages: Long, interiorPages: Int,
                              levels: Int, rootPage: Long,
                              indexPages: Long = 0L, indexLevels: Int = 0)

  /** The exported file's logical schema. `createSql` is stored
    * verbatim in sqlite_master; `uniqueTextCol` (an index into `df`'s
    * columns, pointing at a TEXT column) additionally builds the
    * `sqlite_autoindex_<table>_1` UNIQUE index b-tree that a `UNIQUE`
    * column constraint in `createSql` obligates — without it a stock
    * sqlite3 would reject the schema/file pairing on its integrity
    * audit; `autoincrement` adds the `sqlite_sequence` bookkeeping
    * table an AUTOINCREMENT rowid obligates, seeded at max(rowid) so
    * subsequent stock-sqlite INSERTs continue the id sequence exactly
    * where the exporter left off. */
  final case class ExportSchema(table: String, createSql: String,
                                uniqueTextCol: Option[Int] = None,
                                autoincrement: Boolean = false)

  // ---- varints (big-endian 7-bit groups, 9th byte carries 8) -------

  private[graft] def varintLen(v: Long): Int = {
    if (v < 0) return 9 // sign bit set → full 9-byte form
    var n = 1
    var x = v >>> 7
    while (x != 0 && n < 8) { n += 1; x >>>= 7 }
    if (x != 0) 9 else n
  }

  /** Write the varint for `v` at `off`; returns bytes written. */
  private[graft] def putVarint(b: Array[Byte], off: Int, v: Long): Int = {
    val n = varintLen(v)
    if (n == 9) {
      var i = 0
      while (i < 8) { // 8 groups of 7 from the TOP bits
        b(off + i) = (0x80 | ((v >>> (57 - 7 * i)) & 0x7f)).toByte
        i += 1
      }
      b(off + 8) = (v & 0xff).toByte
    } else {
      var i = 0
      while (i < n) {
        val shift = 7 * (n - 1 - i)
        val g = ((v >>> shift) & 0x7f).toInt
        b(off + i) = (if (i < n - 1) (g | 0x80) else g).toByte
        i += 1
      }
    }
    n
  }

  // ---- record (row payload) encoding --------------------------------

  /** Serial type + body length for one value (schema format 1 types
    * only — 0/1 ride 1-byte ints so the file stays readable by every
    * format-aware tool, not just format-4 ones). */
  private def serialOf(v: Any): (Long, Int) = v match {
    case null => (0L, 0)
    case l: Long =>
      if (l >= -128 && l <= 127) (1L, 1)
      else if (l >= -32768 && l <= 32767) (2L, 2)
      else if (l >= -8388608 && l <= 8388607) (3L, 3)
      else if (l >= Int.MinValue && l <= Int.MaxValue) (4L, 4)
      else if (l >= -140737488355328L && l <= 140737488355327L) (5L, 6)
      else (6L, 8)
    case _: Double => (7L, 8)
    case s: String =>
      val n = s.getBytes("UTF-8").length; (13L + 2L * n, n)
    case b: Array[Byte] => (12L + 2L * b.length, b.length)
    case other => throw new IllegalArgumentException(
      s"unsupported SQLite value type: ${other.getClass.getName}")
  }

  private def putBody(out: Array[Byte], off0: Int, v: Any, len: Int): Int = {
    var off = off0
    v match {
      case null => ()
      case l: Long =>
        var i = len - 1
        while (i >= 0) { out(off + (len - 1 - i)) = ((l >>> (8 * i)) & 0xff).toByte; i -= 1 }
        off += len
      case d: Double =>
        val bits = java.lang.Double.doubleToLongBits(d)
        var i = 7
        while (i >= 0) { out(off + (7 - i)) = ((bits >>> (8 * i)) & 0xff).toByte; i -= 1 }
        off += 8
      case s: String =>
        val b = s.getBytes("UTF-8")
        System.arraycopy(b, 0, out, off, b.length); off += b.length
      case b: Array[Byte] =>
        System.arraycopy(b, 0, out, off, b.length); off += b.length
    }
    off
  }

  /** One record payload: varint header-length, serial-type varints,
    * then the bodies in order. */
  private[sources] def encodeRecord(values: IndexedSeq[Any]): Array[Byte] = {
    val st = values.map(serialOf)
    val typesLen = st.map(t => varintLen(t._1)).sum
    // header length includes its own varint; its varint width can grow
    // the length it encodes — iterate to the fixed point
    var hdrLen = typesLen + 1
    while (varintLen(hdrLen.toLong) + typesLen != hdrLen)
      hdrLen = varintLen(hdrLen.toLong) + typesLen
    val total = hdrLen + st.map(_._2).sum
    val out = new Array[Byte](total)
    var off = putVarint(out, 0, hdrLen.toLong)
    st.foreach { case (t, _) => off += putVarint(out, off, t) }
    values.iterator.zip(st.iterator).foreach { case (v, (_, len)) =>
      off = putBody(out, off, v, len)
    }
    out
  }

  // ---- executor-side page assembly ----------------------------------

  /** One serialized page, numbered locally within its partition.
    * `fixups` are offsets of 4-byte big-endian fields currently
    * holding a LOCAL page index; the final file patches each to
    * `partitionBasePageNo + localIndex`. `maxRowid` is set on leaf
    * pages only — the interior-building directory. */
  final case class LocalPage(localIdx: Int, bytes: Array[Byte],
                             fixups: Array[Int], isLeaf: Boolean,
                             maxRowid: Long)

  private final case class Cell(bytes: Array[Byte], fixupInCell: Int)

  /** The overflow chain for `payload` past its first `local` bytes:
    * pages at CONSECUTIVE local indexes `firstIdx..`, each [4-byte
    * next][usable−4 data]; every next-pointer holds the following
    * page's local index with a fix-up at offset 0 (the stream patch
    * adds the partition base), the last a true zero. */
  private def overflowChain(payload: Array[Byte], local: Int,
                            firstIdx: Int): IndexedSeq[LocalPage] = {
    val pages = ArrayBuffer.empty[LocalPage]
    var written = local
    var idx = firstIdx
    while (written < payload.length) {
      val pg = new Array[Byte](PageSize)
      val take = math.min(Usable - 4, payload.length - written)
      System.arraycopy(payload, written, pg, 4, take)
      written += take
      val isLast = written >= payload.length
      if (!isLast) u32(pg, 0, (idx + 1).toLong)
      pages += LocalPage(idx, pg,
        if (isLast) Array.empty[Int] else Array(0),
        isLeaf = false, maxRowid = Long.MinValue)
      idx += 1
    }
    pages.toIndexedSeq
  }

  /** Serialize a leaf page of the given type (0x0d table / 0x0a
    * index) from pre-built cells, its page header at `hdr` (100 on
    * page 1, after the file header); returns (page bytes,
    * page-relative fix-up offsets). */
  private def leafFromCells(pageType: Int, cells: Seq[Cell], hdr: Int = 0)
      : (Array[Byte], Array[Int]) = {
    val page = new Array[Byte](PageSize)
    page(hdr) = pageType.toByte
    u16(page, hdr + 3, cells.length)
    var content = Usable
    val fixups = ArrayBuffer.empty[Int]
    cells.zipWithIndex.foreach { case (c, i) =>
      content -= c.bytes.length
      System.arraycopy(c.bytes, 0, page, content, c.bytes.length)
      u16(page, hdr + 8 + 2 * i, content)
      if (c.fixupInCell >= 0) fixups += content + c.fixupInCell
    }
    u16(page, hdr + 5, content) // 4096-B pages: start always fits u16
    (page, fixups.toArray)
  }

  /** Serialize one partition's rowid-ascending rows into leaf +
    * overflow pages. Streaming: buffers one open leaf (its cells and
    * their overflow pages) at a time. */
  private[sources] final class PartitionPager(
      rows: Iterator[(Long, IndexedSeq[Any])])
    extends Iterator[LocalPage] {

    private val out = scala.collection.mutable.Queue.empty[LocalPage]
    private var nextLocal = 0
    // open-leaf state
    private var leafIdx = -1
    private val cells = ArrayBuffer.empty[Cell]
    private var cellBytes = 0
    private var leafMax = Long.MinValue
    private val leafOverflow = ArrayBuffer.empty[LocalPage]
    private var lastRowid = Long.MinValue

    private def openLeaf(): Unit = {
      leafIdx = nextLocal; nextLocal += 1
      cells.clear(); cellBytes = 0
      leafMax = Long.MinValue; leafOverflow.clear()
    }

    private def flushLeaf(): Unit = {
      val (page, fixups) = leafFromCells(0x0d, cells.toSeq)
      out += LocalPage(leafIdx, page, fixups, isLeaf = true, leafMax)
      leafOverflow.foreach(out += _)
      leafIdx = -1
    }

    private def addRow(rowid: Long, values: IndexedSeq[Any]): Unit = {
      require(rowid > lastRowid,
        s"rowids must be strictly increasing within the sorted input " +
          s"(saw $rowid after $lastRowid) — duplicate or unsorted keys " +
          "would produce a malformed B-tree")
      lastRowid = rowid
      val payload = encodeRecord(values)
      val local = localSize(payload.length, Usable, index = false)
      val overflows = local < payload.length
      val cellLen = varintLen(payload.length.toLong) + varintLen(rowid) +
        local + (if (overflows) 4 else 0)
      if (leafIdx < 0) openLeaf()
      else if (8 + 2 * (cells.length + 1) + cellBytes + cellLen > Usable) {
        flushLeaf(); openLeaf()
      }
      val cell = new Array[Byte](cellLen)
      var off = putVarint(cell, 0, payload.length.toLong)
      off += putVarint(cell, off, rowid)
      System.arraycopy(payload, 0, cell, off, local)
      var fixupInCell = -1
      if (overflows) {
        fixupInCell = off + local
        val chain = overflowChain(payload, local, nextLocal)
        u32(cell, fixupInCell, nextLocal.toLong) // head's local index
        nextLocal += chain.length
        leafOverflow ++= chain
      }
      cells += Cell(cell, fixupInCell)
      cellBytes += cellLen
      leafMax = math.max(leafMax, rowid)
    }

    // a partition with zero rows contributes zero pages (the driver
    // emits the one empty root leaf itself when the whole table is
    // empty)
    override def hasNext: Boolean = {
      while (out.isEmpty && rows.hasNext) {
        val (rid, vs) = rows.next()
        addRow(rid, vs)
        if (!rows.hasNext && leafIdx >= 0) flushLeaf()
      }
      out.nonEmpty
    }

    override def next(): LocalPage = {
      if (!hasNext) throw new NoSuchElementException("no more pages")
      out.dequeue()
    }
  }

  // ---- index (0x02 / 0x0a) b-tree assembly ---------------------------
  //
  // A UNIQUE column obligates an index b-tree whose entries are
  // (column value, rowid) records sorted by the column under BINARY
  // collation — which is exactly Spark's StringType sort order
  // (UTF8String compares unsigned byte-wise), so a repartitionByRange
  // + sortWithinPartitions on the column IS the index order and each
  // range partition owns a contiguous leaf run, like the table side.
  // Unlike the table tree, interior entries are full keys that appear
  // ONCE in the whole tree: the classic bulk-load promotes the next
  // key each time a leaf fills (and each partition > 0 promotes its
  // first key as the cross-partition separator).

  private[sources] sealed trait IndexOut extends Serializable
  private[sources] final case class IndexPageOut(page: LocalPage)
    extends IndexOut
  /** A key promoted OUT of the leaf level: sits between the leaf at
    * `afterLeafLocal` and the next leaf (−1 = partition-boundary
    * separator, belongs before this partition's first leaf). */
  private[sources] final case class IndexSepOut(afterLeafLocal: Int,
                                                key: Array[Byte])
    extends IndexOut
  /** One partition's (first, last) raw indexed-key bounds, emitted
    * after its pages: the executor-side adjacency check can only see
    * duplicates WITHIN a partition, so the driver re-checks strict
    * key increase ACROSS partition boundaries from these —
    * [[SqliteWriter.checkIndexPartitionBounds]]. */
  private[sources] final case class IndexBoundsOut(first: String,
                                                   last: String)
    extends IndexOut

  /** Bulk-loads one partition's sorted key records into 0x0a leaf
    * pages (+ overflow chains), emitting promoted separators for the
    * driver's interior build. */
  private[sources] final class IndexPager(entries: Iterator[Array[Byte]],
                                          promoteFirst: Boolean)
    extends Iterator[IndexOut] {

    private val out = scala.collection.mutable.Queue.empty[IndexOut]
    private var nextLocal = 0
    private var leafIdx = -1
    private val cells = ArrayBuffer.empty[Cell]
    // (payload, chainPages, cellLen) per cell — lets the trailing-key
    // rebalance pop the last placed entry back out
    private val cellMeta = ArrayBuffer.empty[(Array[Byte], Int, Int)]
    private var cellBytes = 0
    private val leafOverflow = ArrayBuffer.empty[LocalPage]
    private var pendingBoundary = promoteFirst

    private def openLeaf(): Unit = {
      leafIdx = nextLocal; nextLocal += 1
      cells.clear(); cellMeta.clear(); cellBytes = 0; leafOverflow.clear()
    }

    private def flushLeaf(): Unit = {
      val (page, fixups) = leafFromCells(0x0a, cells.toSeq)
      out += IndexPageOut(
        LocalPage(leafIdx, page, fixups, isLeaf = true, Long.MinValue))
      leafOverflow.foreach(p => out += IndexPageOut(p))
      leafIdx = -1
    }

    private def place(payload: Array[Byte], local: Int,
                      cellLen: Int): Unit = {
      val cell = new Array[Byte](cellLen)
      val off = putVarint(cell, 0, payload.length.toLong)
      System.arraycopy(payload, 0, cell, off, local)
      var fixupInCell = -1
      var chainLen = 0
      if (local < payload.length) {
        fixupInCell = off + local
        val chain = overflowChain(payload, local, nextLocal)
        u32(cell, fixupInCell, nextLocal.toLong)
        chainLen = chain.length
        nextLocal += chainLen
        leafOverflow ++= chain
      }
      cells += Cell(cell, fixupInCell)
      cellMeta += ((payload, chainLen, cellLen))
      cellBytes += cellLen
    }

    private def process(e: Array[Byte], last: Boolean): Unit = {
      if (pendingBoundary) {
        pendingBoundary = false
        out += IndexSepOut(-1, e)
        return
      }
      val local = localSize(e.length, Usable, index = true)
      val cellLen = varintLen(e.length.toLong) + local +
        (if (local < e.length) 4 else 0)
      if (leafIdx >= 0 &&
          8 + 2 * (cells.length + 1) + cellBytes + cellLen > Usable) {
        if (!last) { // the filled leaf's successor key moves UP
          val closed = leafIdx
          flushLeaf()
          out += IndexSepOut(closed, e)
          return
        }
        // a trailing key can't promote (no right sibling exists to
        // hold it) — promote the leaf's LAST PLACED entry instead:
        // every remaining leaf key sorts below it and `e` above, so
        // it is a valid separator, and `e` opens the trailing leaf.
        // An over-full leaf always holds ≥ 2 cells (two max-size
        // index cells fit any page), so the pop never empties it.
        val (prevPayload, chainLen, prevLen) =
          cellMeta.remove(cellMeta.length - 1)
        cells.remove(cells.length - 1)
        cellBytes -= prevLen
        if (chainLen > 0)
          leafOverflow.remove(leafOverflow.length - chainLen, chainLen)
        nextLocal -= chainLen
        val closed = leafIdx
        flushLeaf()
        out += IndexSepOut(closed, prevPayload)
        openLeaf()
        place(e, local, cellLen)
        return
      }
      if (leafIdx < 0) openLeaf()
      place(e, local, cellLen)
    }

    override def hasNext: Boolean = {
      while (out.isEmpty && entries.hasNext) {
        val e = entries.next()
        process(e, last = !entries.hasNext)
        if (!entries.hasNext && leafIdx >= 0) flushLeaf()
      }
      out.nonEmpty
    }

    override def next(): IndexOut = {
      if (!hasNext) throw new NoSuchElementException("no more pages")
      out.dequeue()
    }
  }

  /** One interior (0x02) level over `children` page numbers with the
    * `seps` keys between them (|seps| = |children|−1), all
    * driver-side (the directory is O(leaves)): greedy groups of ≥2
    * children, within-group seps become cells (4-byte child +
    * key payload, overflow chains allocated inline), group-boundary
    * seps promote to the next level. Returns (pages in page-number
    * order starting at `firstPageNo`, next level's children, next
    * level's seps). */
  private def indexInteriorLevel(children: IndexedSeq[Long],
                                 seps: IndexedSeq[Array[Byte]],
                                 firstPageNo: Long)
      : (IndexedSeq[Array[Byte]], IndexedSeq[Long],
         IndexedSeq[Array[Byte]]) = {
    def cellLenOf(key: Array[Byte]): Int = {
      val local = localSize(key.length, Usable, index = true)
      4 + varintLen(key.length.toLong) + local +
        (if (local < key.length) 4 else 0)
    }
    // plan group boundaries (start indexes into children)
    val starts = ArrayBuffer(0)
    var cur = 0
    var bytes = 0
    children.indices.foreach { i =>
      val cost = if (i < seps.length) cellLenOf(seps(i)) else 0
      if (cur >= 2 && 12 + 2 * (cur + 1) + bytes + cost > Usable) {
        starts += i; cur = 0; bytes = 0
      }
      cur += 1; bytes += cost
    }
    if (starts.length > 1 && children.length - starts.last == 1)
      starts(starts.length - 1) -= 1 // donate one child to the lone tail
    // serialize each group; overflow chains follow their page directly
    val pages = ArrayBuffer.empty[Array[Byte]]
    val nextChildren = ArrayBuffer.empty[Long]
    val nextSeps = ArrayBuffer.empty[Array[Byte]]
    starts.indices.foreach { g =>
      val a = starts(g)
      val b = if (g + 1 < starts.length) starts(g + 1) - 1
              else children.length - 1
      val pageNo = firstPageNo + pages.length
      val page = new Array[Byte](PageSize)
      page(0) = 0x02
      u16(page, 3, b - a)
      u32(page, 8, children(b)) // right-most child
      var content = Usable
      val chains = ArrayBuffer.empty[Array[Byte]]
      var chainNo = pageNo + 1
      (a until b).zipWithIndex.foreach { case (i, ci) =>
        val key = seps(i)
        val local = localSize(key.length, Usable, index = true)
        val len = cellLenOf(key)
        content -= len
        u32(page, content, children(i))
        var off = content + 4
        off += putVarint(page, off, key.length.toLong)
        System.arraycopy(key, 0, page, off, local)
        if (local < key.length) {
          u32(page, off + local, chainNo)
          // driver-side chains carry FINAL page numbers — rewrite the
          // local-index next-pointers the shared builder installed
          val chain = overflowChain(key, local, 0)
          chain.zipWithIndex.foreach { case (p, k) =>
            if (p.fixups.nonEmpty) u32(p.bytes, 0, chainNo + k + 1)
            chains += p.bytes
          }
          chainNo += chain.length
        }
        u16(page, 12 + 2 * ci, content)
      }
      u16(page, 5, content)
      pages += page
      chains.foreach(pages += _)
      nextChildren += pageNo
      if (b < children.length - 1) nextSeps += seps(b)
    }
    (pages.toIndexedSeq, nextChildren.toIndexedSeq, nextSeps.toIndexedSeq)
  }

  // ---- driver-side assembly ------------------------------------------

  private def u16(b: Array[Byte], off: Int, v: Int): Unit = {
    b(off) = ((v >>> 8) & 0xff).toByte; b(off + 1) = (v & 0xff).toByte
  }
  private def u32(b: Array[Byte], off: Int, v: Long): Unit = {
    b(off) = ((v >>> 24) & 0xff).toByte
    b(off + 1) = ((v >>> 16) & 0xff).toByte
    b(off + 2) = ((v >>> 8) & 0xff).toByte
    b(off + 3) = (v & 0xff).toByte
  }

  /** Interior level over `children` = (pageNo, maxRowid) in key order:
    * packs (4-byte child, varint maxRowid) cells, last child to the
    * right-most header pointer. Returns the level's pages paired with
    * their own (pageNo, maxRowid), page numbers allocated from
    * `firstPageNo`. */
  private def interiorLevel(children: IndexedSeq[(Long, Long)],
                            firstPageNo: Long)
      : (IndexedSeq[Array[Byte]], IndexedSeq[(Long, Long)]) = {
    // split into groups first (each ≥2 children, fitting one page),
    // then serialize — two passes over an O(pages) directory, and a
    // trailing lone child is rebalanced by borrowing from its left
    // neighbor instead of patching serialized bytes
    val groups = ArrayBuffer.empty[ArrayBuffer[(Long, Long)]]
    var cur = ArrayBuffer.empty[(Long, Long)]
    var cellBytes = 0
    children.foreach { case c @ (_, maxKey) =>
      val len = 4 + varintLen(maxKey)
      // conservative: charges the right-most child a phantom cell slot
      if (cur.length >= 2 &&
          12 + 2 * (cur.length + 1) + cellBytes + len > Usable) {
        groups += cur; cur = ArrayBuffer.empty; cellBytes = 0
      }
      cur += c; cellBytes += len
    }
    if (cur.nonEmpty) groups += cur
    if (groups.length > 1 && groups.last.length == 1)
      groups.last.prepend(
        groups(groups.length - 2).remove(groups(groups.length - 2).length - 1))
    val pages = groups.zipWithIndex.map { case (group, _) =>
      val page = new Array[Byte](PageSize)
      page(0) = 0x05
      val cells = group.init
      u16(page, 3, cells.length)
      u32(page, 8, group.last._1) // right-most child
      var content = Usable
      cells.zipWithIndex.foreach { case ((child, maxKey), i) =>
        val len = 4 + varintLen(maxKey)
        content -= len
        u32(page, content, child)
        putVarint(page, content + 4, maxKey): Unit
        u16(page, 12 + 2 * i, content)
      }
      u16(page, 5, content) // 4096-B pages: start always fits u16
      page
    }
    val dir = groups.zipWithIndex.map { case (group, i) =>
      (firstPageNo + i, group.last._2)
    }
    (pages.toIndexedSeq, dir.toIndexedSeq)
  }

  /** A non-overflowing table-leaf cell (driver-built pages:
    * sqlite_master rows, the sqlite_sequence row). */
  private def rowCell(rowid: Long, values: IndexedSeq[Any]): Cell = {
    val rec = encodeRecord(values)
    require(rec.length <= Usable - 35 - 100,
      s"driver-built record (${rec.length} B) would overflow its page " +
        "— shorten the CREATE TABLE statement")
    val cell = new Array[Byte](varintLen(rec.length.toLong) +
      varintLen(rowid) + rec.length)
    var off = putVarint(cell, 0, rec.length.toLong)
    off += putVarint(cell, off, rowid)
    System.arraycopy(rec, 0, cell, off, rec.length)
    Cell(cell, -1)
  }

  /** sqlite_master rows: the table, its automatic UNIQUE index (NULL
    * sql — sqlite's own convention for constraint-obligated indexes),
    * and the AUTOINCREMENT bookkeeping table. */
  private def masterCells(schema: ExportSchema, rootTable: Long,
                          rootIndex: Long, rootSeq: Long)
      : Seq[Cell] = {
    val t = schema.table
    val rows = ArrayBuffer[IndexedSeq[Any]](
      IndexedSeq("table", t, t, rootTable, schema.createSql))
    if (schema.uniqueTextCol.isDefined)
      rows += IndexedSeq("index", s"sqlite_autoindex_${t}_1", t,
        rootIndex, null)
    if (schema.autoincrement)
      rows += IndexedSeq("table", "sqlite_sequence", "sqlite_sequence",
        rootSeq, "CREATE TABLE sqlite_sequence(name,seq)")
    rows.zipWithIndex.map { case (r, i) => rowCell(i + 1L, r) }.toSeq
  }

  private def fileHeader(dbPages: Long): Array[Byte] = {
    val h = new Array[Byte](100)
    System.arraycopy("SQLite format 3 ".getBytes("ISO-8859-1"), 0, h, 0, 16)
    u16(h, 16, PageSize)
    h(18) = 1; h(19) = 1            // legacy (rollback-journal) versions
    h(20) = 0                        // reserved bytes per page
    h(21) = 64; h(22) = 32; h(23) = 32
    u32(h, 24, 1L)                   // file change counter
    u32(h, 28, dbPages)              // database size in pages
    u32(h, 40, 1L)                   // schema cookie
    u32(h, 44, 1L)                   // schema format 1 (max compat)
    u32(h, 56, 1L)                   // text encoding: UTF-8
    u32(h, 92, 1L)                   // version-valid-for == change counter
    u32(h, 96, 3045000L)             // library version stamp
    h
  }

  /** Convert a Spark row to the writer's value model per the schema
    * (first column = rowid, written as the B-tree key; when
    * `rowidAlias`, the record stores NULL there and readers surface
    * the rowid — SQLite's own INTEGER PRIMARY KEY layout). */
  private def rowValues(r: Row, types: Array[DataType],
                        rowidAlias: Boolean): (Long, IndexedSeq[Any]) = {
    val rid = types(0) match {
      case LongType => r.getLong(0)
      case IntegerType => r.getInt(0).toLong
      case t => throw new IllegalArgumentException(
        s"rowid column must be integral, got $t")
    }
    val vs = new Array[Any](types.length)
    vs(0) = if (rowidAlias) null else rid
    var i = 1
    while (i < types.length) {
      vs(i) =
        if (r.isNullAt(i)) null
        else types(i) match {
          case LongType => r.getLong(i)
          case IntegerType => r.getInt(i).toLong
          case ShortType => r.getShort(i).toLong
          case DoubleType => r.getDouble(i)
          case FloatType => r.getFloat(i).toDouble
          case StringType => r.getString(i)
          case BinaryType => r.getAs[Array[Byte]](i)
          case t => throw new IllegalArgumentException(
            s"unsupported column type for SQLite export: $t")
        }
      i += 1
    }
    (rid, vs.toIndexedSeq)
  }

  /** Export `df` (first column = unique integral rowid) as a fresh
    * SQLite file at local path `out`, bare schema (no index, no
    * sequence). Returns [[WriteStats]]. */
  def write(df: DataFrame, out: String, table: String, createSql: String,
            numPartitions: Int = 4, rowidAlias: Boolean = true)
      : WriteStats =
    writeFull(df, out, ExportSchema(table, createSql), numPartitions,
      rowidAlias)

  /** [[write]] with the full [[ExportSchema]] — optionally the
    * UNIQUE-constraint autoindex b-tree and the AUTOINCREMENT
    * `sqlite_sequence` table, making the exported file a drop-in for
    * the reference's own schema: a stock sqlite3 can keep INSERTing
    * (ids continue from the seeded sequence, the UNIQUE constraint
    * enforces through the shipped index) and its integrity audit
    * cross-validates index against table.
    *
    * `numPartitions` sizes the executor-side page-assembly fan-out
    * for BOTH trees (the index side range-partitions by the indexed
    * column, so its leaf runs are contiguous too); the final stream
    * write is single-file by format necessity.
    */
  def writeFull(df: DataFrame, out: String, schema: ExportSchema,
                numPartitions: Int = 4, rowidAlias: Boolean = true)
      : WriteStats = {
    import org.apache.spark.sql.functions.col
    val types = df.schema.fields.map(_.dataType)
    val rowidCol = df.schema.fields.head.name
    val prepared = df
      .repartitionByRange(numPartitions, col(rowidCol))
      .sortWithinPartitions(rowidCol)
    val pages = prepared.rdd.mapPartitions { it =>
      new PartitionPager(it.map(rowValues(_, types, rowidAlias)))
    }
    pages.persist(StorageLevel.MEMORY_AND_DISK)
    var idxOut: org.apache.spark.rdd.RDD[IndexOut] = null
    try {
      // one count-only pass → partition page counts → global bases
      val counts = pages.mapPartitionsWithIndex { (i, it) =>
        var n = 0L; var rows = 0L
        it.foreach { p => n += 1; if (p.isLeaf) rows += countCells(p.bytes) }
        Iterator((i, n, rows))
      }.collect().sortBy(_._1)
      val nParts = counts.length
      val bases = new Array[Long](nParts)
      var acc = 2L // data pages start right after page 1
      counts.foreach { case (i, n, _) => bases(i) = acc; acc += n }
      val totalData = acc - 2
      val totalRows = counts.map(_._3).sum
      // (leaf pageNo, maxRowid) directory, partition order = key order
      val leafDir: IndexedSeq[(Long, Long)] = pages
        .mapPartitionsWithIndex { (i, it) =>
          it.filter(_.isLeaf).map(p => (i, p.localIdx, p.maxRowid))
        }.collect().sortBy(t => (t._1, t._2))
        .map { case (i, li, mr) => (bases(i) + li, mr) }.toIndexedSeq

      // ---- index leaf level (distributed), sorted by the column ----
      val idxFirst = 2L + totalData
      var idxBases = Array.empty[Long]
      var idxCounts = Array.empty[Long]
      var totalIdx = 0L
      var idxLeaves: IndexedSeq[Long] = IndexedSeq.empty
      var idxSeps: IndexedSeq[Array[Byte]] = IndexedSeq.empty
      schema.uniqueTextCol.foreach { ci =>
        val cName = df.schema.fields(ci).name
        require(types(ci) == StringType,
          s"unique index column must be TEXT, got ${types(ci)}")
        // tiny inputs degrade to one partition: the bulk-load promotes
        // each partition's first key, which needs every non-empty
        // partition to hold ≥ 2 keys
        val idxParts =
          if (totalRows < numPartitions * 8L) 1 else numPartitions
        val entriesDf = df.select(col(cName), col(rowidCol))
          .repartitionByRange(idxParts, col(cName), col(rowidCol))
          .sortWithinPartitions(cName, rowidCol)
        val ridType = types(0)
        idxOut = entriesDf.rdd.mapPartitionsWithIndex { (pi, it) =>
          var first: String = null
          var last: String = null
          val entries = it.map { r =>
            val c = r.getString(0)
            require(c != null, "UNIQUE index column must be non-null")
            require(last == null || c != last,
              s"UNIQUE constraint violated in export input: duplicate " +
                s"value '${c.take(40)}'")
            if (first == null) first = c
            last = c
            val rid = ridType match {
              case LongType => r.getLong(1)
              case _ => r.getInt(1).toLong
            }
            encodeRecord(IndexedSeq(c, rid))
          }
          // ++'s right side is by-name: it materializes only after the
          // pager drains `entries`, when first/last hold this
          // partition's actual bounds
          new IndexPager(entries, promoteFirst = pi > 0) ++
            (if (first != null)
               Iterator.single(IndexBoundsOut(first, last))
             else Iterator.empty)
        }
        idxOut.persist(StorageLevel.MEMORY_AND_DISK)
        val meta = idxOut.mapPartitionsWithIndex { (i, it) =>
          var n = 0L
          val leaves = ArrayBuffer.empty[Int]
          val seps = ArrayBuffer.empty[Array[Byte]]
          var bounds: Option[(String, String)] = None
          it.foreach {
            case IndexPageOut(p) =>
              n += 1; if (p.isLeaf) leaves += p.localIdx
            case IndexSepOut(_, k) => seps += k
            case IndexBoundsOut(f, l) => bounds = Some((f, l))
          }
          Iterator((i, n, leaves.toVector, seps.toVector, bounds))
        }.collect().sortBy(_._1)
        checkIndexPartitionBounds(meta.flatMap(_._5).toIndexedSeq)
        idxBases = new Array[Long](meta.length)
        idxCounts = meta.map(_._2)
        var a2 = idxFirst
        meta.foreach { case (i, n, _, _, _) => idxBases(i) = a2; a2 += n }
        totalIdx = a2 - idxFirst
        idxLeaves = meta.flatMap { case (i, _, ls, _, _) =>
          ls.map(idxBases(i) + _) }.toIndexedSeq
        idxSeps = meta.flatMap(_._4).toIndexedSeq
        require(idxSeps.length == math.max(0, idxLeaves.length - 1),
          s"index bulk-load invariant broken: ${idxLeaves.length} " +
            s"leaves need ${math.max(0, idxLeaves.length - 1)} " +
            s"separators, got ${idxSeps.length} (a range partition " +
            "held a single key — use fewer partitions)")
      }

      // ---- table interior levels (driver, O(leaves) directory) -----
      val tiFirst = idxFirst + totalIdx
      val tableInteriors = ArrayBuffer.empty[Array[Byte]]
      var levels = 1
      var rootTable = tiFirst
      if (leafDir.isEmpty) {
        tableInteriors += leafFromCells(0x0d, Nil)._1
      } else if (leafDir.length == 1) {
        rootTable = leafDir.head._1
      } else {
        var level = leafDir
        var nextNo = tiFirst
        while (level.length > 1) {
          val (pgs, dir) = interiorLevel(level, nextNo)
          tableInteriors ++= pgs
          nextNo += pgs.length
          level = dir
          levels += 1
        }
        rootTable = level.head._1
      }

      // ---- index interior levels ------------------------------------
      val iiFirst = tiFirst + tableInteriors.length
      val indexInteriors = ArrayBuffer.empty[Array[Byte]]
      var indexLevels = 0
      var rootIndex = iiFirst
      if (schema.uniqueTextCol.isDefined) {
        indexLevels = 1
        if (idxLeaves.isEmpty) {
          indexInteriors += leafFromCells(0x0a, Nil)._1 // empty root leaf
        } else if (idxLeaves.length == 1) {
          rootIndex = idxLeaves.head
        } else {
          var ch = idxLeaves
          var sp = idxSeps
          var nextNo = iiFirst
          while (ch.length > 1) {
            val (pgs, nc, ns) = indexInteriorLevel(ch, sp, nextNo)
            indexInteriors ++= pgs
            nextNo += pgs.length
            ch = nc; sp = ns
            indexLevels += 1
          }
          rootIndex = ch.head
        }
      }

      // ---- sqlite_sequence ------------------------------------------
      val seqPageNo = iiFirst + indexInteriors.length
      val seqPage: Option[Array[Byte]] =
        if (!schema.autoincrement) None
        else Some(leafFromCells(0x0d, leafDir.lastOption.toSeq.map(l =>
          rowCell(1L, IndexedSeq(schema.table, l._2))))._1)

      val dbPages = seqPageNo - 1 + (if (seqPage.isDefined) 1L else 0L)

      val os = new java.io.BufferedOutputStream(
        new java.io.FileOutputStream(out), 1 << 16)
      try {
        // page 1: file header + sqlite_master leaf
        val (p1, _) = leafFromCells(0x0d,
          masterCells(schema, rootTable, rootIndex, seqPageNo), hdr = 100)
        System.arraycopy(fileHeader(dbPages), 0, p1, 0, 100)
        os.write(p1)
        // distributed pages stream through in partition order; every
        // fix-up is patched local → global as the bytes pass.
        // toLocalIterator yields partitions in index order, so the
        // owning partition of the page at global number `expect` is
        // found by advancing a cursor past finished (or empty —
        // end == base) partitions.
        def streamPages(rdd: org.apache.spark.rdd.RDD[LocalPage],
                        pBases: Array[Long], pCounts: Array[Long],
                        first: Long, total: Long): Unit = {
          var expect = first
          val ends = pBases.zip(pCounts).map { case (b, n) => b + n }
          var pi = 0
          rdd.toLocalIterator.foreach { p =>
            while (pi < pBases.length - 1 && expect >= ends(pi)) pi += 1
            val base = pBases(pi)
            val no = base + p.localIdx
            assert(no == expect,
              s"page stream out of order: expected page $expect, got $no")
            p.fixups.foreach { off =>
              val local = ((p.bytes(off) & 0xff).toLong << 24) |
                ((p.bytes(off + 1) & 0xff) << 16) |
                ((p.bytes(off + 2) & 0xff) << 8) | (p.bytes(off + 3) & 0xff)
              u32(p.bytes, off, base + local)
            }
            os.write(p.bytes)
            expect += 1
          }
          require(expect == first + total,
            s"wrote ${expect - first} pages, expected $total")
        }
        streamPages(pages, bases, counts.map(_._2), 2L, totalData)
        if (idxOut != null)
          streamPages(idxOut.flatMap {
            case IndexPageOut(p) => Some(p)
            case _ => None
          }, idxBases, idxCounts, idxFirst, totalIdx)
        tableInteriors.foreach(os.write)
        indexInteriors.foreach(os.write)
        seqPage.foreach(os.write)
      } finally os.close()
      WriteStats(totalRows, totalData, totalData - leafDir.length,
        if (leafDir.isEmpty) 0 else tableInteriors.length,
        levels, rootTable,
        indexPages = totalIdx + indexInteriors.length,
        indexLevels = indexLevels)
    } finally {
      pages.unpersist()
      if (idxOut != null) idxOut.unpersist()
      ()
    }
  }

  private def countCells(leaf: Array[Byte]): Long =
    (((leaf(3) & 0xff) << 8) | (leaf(4) & 0xff)).toLong

  /** Driver-side half of the UNIQUE-duplicate rejection. The
    * executor-side adjacency check sees duplicates only WITHIN a
    * partition, but the index input is range-partitioned by
    * (key, rowid) — two rows with the same key and different rowids
    * sort adjacent yet can land in ADJACENT partitions, each passing
    * its partition-local check, which would ship a sqlite_autoindex
    * holding duplicate keys (stock sqlite3's integrity_check reports
    * 'non-unique entry'). Range partitioning guarantees the global
    * order is non-decreasing across partition boundaries, so a
    * straddling duplicate surfaces exactly as boundary EQUALITY:
    * require strict increase from each non-empty partition's last key
    * to the next one's first. `bounds` must be in partition-index
    * order (empty partitions already dropped); O(partitions) driver
    * state — cheap at any scale. */
  private[graft] def checkIndexPartitionBounds(
      bounds: IndexedSeq[(String, String)]): Unit =
    bounds.sliding(2).foreach {
      case Seq((_, prevLast), (nextFirst, _)) =>
        require(utf8Less(prevLast, nextFirst),
          s"UNIQUE constraint violated in export input: duplicate " +
            s"value '${nextFirst.take(40)}' straddles an index " +
            "partition boundary")
      case _ => ()
    }

  /** Strict less-than in UNSIGNED UTF-8 byte order — the collation
    * BOTH sides of this check live in: Spark's range partitioner
    * orders StringType by UTF8String binary comparison and SQLite
    * BINARY collation is memcmp over the stored UTF-8, while Java's
    * `String.compareTo` (UTF-16 code units) disagrees with both for
    * supplementary characters (surrogates D800–DFFF sort below
    * E000–FFFF in UTF-16 but encode code points ABOVE them). */
  private def utf8Less(a: String, b: String): Boolean = {
    val x = a.getBytes("UTF-8")
    val y = b.getBytes("UTF-8")
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c < 0
      i += 1
    }
    x.length < y.length
  }
}
