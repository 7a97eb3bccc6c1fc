package graft.sources

import java.nio.ByteBuffer

/** Minimal read-only parser for the SQLite database file format
  * (format 3, the public on-disk format documented at
  * sqlite.org/fileformat2) — just enough to migrate a reference-style
  * `vectors.db` (reference server.js:21-32: one rowid table
  * `documents(id INTEGER PRIMARY KEY, content TEXT UNIQUE, vector
  * BLOB)`) into the engine without a JDBC driver, which this
  * zero-dependency build does not ship.
  *
  * Supported: table B-trees (interior + leaf pages), overflow-page
  * chains (the 6144-byte float32 blobs always overflow a 4096-byte
  * page), all integer/float/text/blob serial types, rowid-alias
  * columns (INTEGER PRIMARY KEY stores NULL in the record; the value
  * is the B-tree rowid), and index B-trees for the UNIQUE-constraint
  * autoindex (equality lookups + counts — [[readTableByContent]]).
  * Not supported (not needed for migration reads): general secondary
  * indexes, freelists, WAL, pointer-map pages, non-UTF8 text
  * encodings.
  *
  * Pure function over the file bytes → runs inside executors; see
  * [[Sources.fromSqliteDocuments]] for the distributed wiring.
  */
object SqliteReader {

  /** One decoded cell: the B-tree rowid plus the record's column
    * values (null | Long | Double | String | Array[Byte]). */
  final case class Row(rowid: Long, values: IndexedSeq[Any])

  /** The unrestricted rowid interval — the identity element of range
    * pushdown. */
  val FullRange: IndexedSeq[(Long, Long)] =
    IndexedSeq((Long.MinValue, Long.MaxValue))

  /** (value, bytesConsumed) of the varint at `off` in `b`: big-endian
    * 7-bit groups, the 9th byte contributing all 8 bits. */
  private[graft] def varintAt(b: Array[Byte], off: Int): (Long, Int) = {
    var v = 0L
    var i = 0
    while (i < 8) {
      val x = b(off + i) & 0xff
      v = (v << 7) | (x & 0x7f)
      i += 1
      if ((x & 0x80) == 0) return (v, i)
    }
    ((v << 8) | (b(off + 8) & 0xff), 9)
  }

  /** Bytes of a `payloadLen`-byte cell payload stored on the B-tree page
    * itself; the rest spills to an overflow chain of (usable − 4)-byte
    * pages. The documented split: table leaves keep up to usable − 35
    * bytes local, index cells up to (usable − 12)·64/255 − 23; past
    * that, the local part is K = minLocal + (payloadLen − minLocal) mod
    * (usable − 4), or minLocal when K exceeds the maximum. */
  private[graft] def localSize(payloadLen: Long, usable: Int,
                               index: Boolean): Int = {
    val maxLocal =
      if (index) (usable - 12) * 64 / 255 - 23 else usable - 35
    if (payloadLen <= maxLocal) payloadLen.toInt
    else {
      val minLocal = (usable - 12) * 32 / 255 - 23
      val k = minLocal + ((payloadLen - minLocal) % (usable - 4)).toInt
      if (k > maxLocal) minLocal else k
    }
  }

  private def inRanges(ranges: IndexedSeq[(Long, Long)], r: Long): Boolean =
    ranges.exists(t => t._1 <= r && r <= t._2)

  private final class Db(bytes: Array[Byte]) {
    /** B-tree pages visited by data walks (interior + leaf; overflow
      * pages excluded — their count is proportional to rows RETURNED,
      * not rows pruned; the sqlite_master read at open excluded). The
      * rowid-range pushdown's spec pins a 1-row lookup at O(depth) via
      * this counter. */
    var btreePagesVisited: Long = 0L
    require(bytes.length >= 100 &&
      new String(bytes, 0, 16, "ISO-8859-1").startsWith("SQLite format 3"),
      "not a SQLite format 3 file")
    private val declaredPageSize =
      ((bytes(16) & 0xff) << 8) | (bytes(17) & 0xff)
    val pageSize: Int =
      if (declaredPageSize == 1) 65536 else declaredPageSize
    val usable: Int = pageSize - (bytes(20) & 0xff)

    def u8(off: Int): Int = bytes(off) & 0xff
    def u16(off: Int): Int = (u8(off) << 8) | u8(off + 1)
    def u32(off: Int): Long =
      (u8(off).toLong << 24) | (u8(off + 1) << 16) |
        (u8(off + 2) << 8) | u8(off + 3)

    /** Absolute offset of page `n` (1-based), verified to lie fully
      * inside the file — without this a TRUNCATED file would be read
      * through `Arrays.copyOfRange`'s silent zero-padding and yield
      * corrupt rows instead of an error.
      */
    def pageOff(n: Long): Int = {
      require(n >= 1 && n * pageSize <= bytes.length,
        s"page $n (of ${bytes.length / pageSize} in file) out of " +
          "bounds — truncated or corrupt SQLite file")
      ((n - 1) * pageSize).toInt
    }

    /** sqlite_master's rows (type, name, tbl_name, rootpage, sql): the
      * table B-tree at page 1, read once at open. */
    private val master: Vector[Row] = {
      val rows = tableRows(1L).toVector
      btreePagesVisited = 0L
      rows
    }

    /** The range-pruned walk of the table B-tree rooted at `root`,
      * handing each kept leaf page's (page offset, header offset) to
      * `leaf`. `ranges` is a sorted-disjoint set of inclusive rowid
      * intervals; whole subtrees outside every range are SKIPPED
      * without reading their pages ([[keptChildren]]). With
      * [[FullRange]] the traversal is exactly the unpruned walk. */
    private def walk[A](root: Long, ranges: IndexedSeq[(Long, Long)])(
        leaf: (Int, Int) => Iterator[A]): Iterator[A] = {
      btreePagesVisited += 1
      val off = pageOff(root)
      val hdr = off + (if (root == 1L) 100 else 0)
      u8(hdr) match {
        case 0x05 =>
          keptChildren(off, hdr, ranges).iterator.flatMap(walk(_, ranges)(leaf))
        case 0x0d => leaf(off, hdr)
        case t => throw new IllegalStateException(
          s"unexpected b-tree page type 0x${t.toHexString} at page $root")
      }
    }

    /** Child pages of the interior table page at `hdr` that may hold a
      * rowid in `ranges`. Interior cells carry (child page, max rowid
      * in child) after the 12-byte header — child i covers (key(i-1),
      * key(i)], the rightmost pointer (key(n-1), +inf). */
    private def keptChildren(off: Int, hdr: Int,
                             ranges: IndexedSeq[(Long, Long)]): Vector[Long] = {
      val nCells = u16(hdr + 3)
      val picked = Vector.newBuilder[Long]
      var prev = Long.MinValue
      (0 until nCells).foreach { i =>
        val cellOff = off + u16(hdr + 12 + 2 * i)
        val key = varintAt(bytes, cellOff + 4)._1
        // the FIRST child covers [-inf, key]: prev is seeded at
        // Long.MinValue, and a range whose upper bound IS MinValue
        // (filter id = Long.MinValue) must still select it — the strict
        // `> prev` alone would skip every child on a multi-level tree
        // while a single-leaf table returned the row
        if (ranges.exists(r => r._1 <= key &&
            (r._2 > prev || (i == 0 && r._2 == prev))))
          picked += u32(cellOff)
        prev = key
      }
      // right-most child: (prev, +inf) — or everything, when the page
      // somehow has no separator cells
      if (ranges.exists(_._2 > prev) || (nCells == 0 && ranges.nonEmpty))
        picked += u32(hdr + 8)
      picked.result()
    }

    /** Offsets of the cells on the leaf table page at `hdr` whose rowid
      * lies in `ranges` — the rowid varint is the only thing read. */
    private def leafCells(off: Int, hdr: Int,
                          ranges: IndexedSeq[(Long, Long)]): Iterator[Int] =
      (0 until u16(hdr + 3)).iterator
        .map(i => off + u16(hdr + 8 + 2 * i))
        .filter { c =>
          val (_, n1) = varintAt(bytes, c) // payload length, then rowid
          inRanges(ranges, varintAt(bytes, c + n1)._1)
        }

    /** The rows in `ranges` of the table B-tree at `root`, payloads
      * reassembled across overflow chains; excluded cells skip the
      * payload decode entirely. */
    def tableRows(root: Long, keep: Int => Boolean = _ => true,
                  ranges: IndexedSeq[(Long, Long)] = FullRange)
        : Iterator[Row] =
      walk(root, ranges)((off, hdr) =>
        leafCells(off, hdr, ranges).map(readLeafCell(_, keep)))

    /** COUNT the rows in `ranges` WITHOUT decoding any payload: leaves
      * only read cell counts (full range: the page header's cell count
      * — zero varint reads) or rowid varints (pruned range). Overflow
      * chains are never followed, so a table of 6 KiB blobs counts at
      * pure b-tree-page cost. */
    def countRows(root: Long, ranges: IndexedSeq[(Long, Long)]): Long =
      walk(root, ranges)((off, hdr) => Iterator.single(
        if (ranges == FullRange) u16(hdr + 3).toLong
        else leafCells(off, hdr, ranges).size.toLong)).sum

    /** [[tableRows]] decoding only `ordinals` (indexes into the
      * table's stored column order), values in `ordinals` order; a NULL
      * at ordinal 0 is the INTEGER PRIMARY KEY rowid alias and reads as
      * the rowid. */
    def projected(root: Long, ordinals: Array[Int],
                  ranges: IndexedSeq[(Long, Long)])
        : Iterator[IndexedSeq[Any]] = {
      val keep = ordinals.toSet
      tableRows(root, keep.contains, ranges).map { r =>
        ordinals.toIndexedSeq.map { o =>
          val v = r.values.lift(o).orNull
          if (o == 0 && v == null) r.rowid else v
        }
      }
    }

    private def readLeafCell(cellOff: Int, keep: Int => Boolean): Row = {
      val (payloadLen, n1) = varintAt(bytes, cellOff)
      val (rowid, n2) = varintAt(bytes, cellOff + n1)
      Row(rowid, decodeRecord(
        payload(cellOff + n1 + n2, payloadLen, index = false), keep))
    }

    /** The `payloadLen`-byte payload whose local part starts at
      * `payloadOff`, reassembled across its overflow chain (each page:
      * 4-byte next pointer, then usable − 4 payload bytes). */
    private def payload(payloadOff: Int, payloadLen: Long,
                        index: Boolean): Array[Byte] = {
      val kind = if (index) "index cell" else "table cell"
      val local = localSize(payloadLen, usable, index)
      if (local == payloadLen) {
        // copyOfRange zero-pads past end-of-array; a corrupt cell
        // pointer must fail loudly, not fabricate zero bytes
        require(payloadOff + payloadLen <= bytes.length,
          s"$kind payload at $payloadOff+$payloadLen overruns " +
            s"${bytes.length}-byte file (corrupt cell pointer?)")
        java.util.Arrays.copyOfRange(bytes, payloadOff,
          payloadOff + payloadLen.toInt)
      } else {
        val out = new Array[Byte](payloadLen.toInt)
        System.arraycopy(bytes, payloadOff, out, 0, local)
        var written = local
        var page = u32(payloadOff + local)
        while (page != 0L && written < payloadLen) {
          val po = pageOff(page)
          val take = math.min(usable - 4, payloadLen.toInt - written)
          System.arraycopy(bytes, po + 4, out, written, take)
          written += take
          page = u32(po)
        }
        require(written == payloadLen,
          s"$kind overflow chain ended early: $written of $payloadLen bytes")
        out
      }
    }

    /** Decode a record payload: header of serial types, then values.
      * Columns with `keep(ordinal) == false` are SKIPPED — their body
      * bytes advance the cursor but are never materialized (the DSv2
      * column-pruning contract: a pruned 6 KiB blob costs zero
      * allocations), and a null placeholder keeps ordinals stable. */
    private def decodeRecord(p: Array[Byte],
                             keep: Int => Boolean): IndexedSeq[Any] = {
      val (hdrLen, n0) = varintAt(p, 0)
      var off = n0
      val types = scala.collection.mutable.ArrayBuffer.empty[Long]
      while (off < hdrLen) {
        val (t, n) = varintAt(p, off)
        types += t
        off += n
      }
      var dataOff = hdrLen.toInt
      var ci = -1
      types.map { t =>
        ci += 1
        val bodyLen: Int = t match {
          case 0 | 8 | 9 => 0
          case 1 => 1
          case 2 => 2
          case 3 => 3
          case 4 => 4
          case 5 => 6
          case 6 | 7 => 8
          case n if n >= 13 && n % 2 == 1 => ((n - 13) / 2).toInt
          case n if n >= 12 && n % 2 == 0 => ((n - 12) / 2).toInt
          case other =>
            throw new IllegalStateException(s"reserved serial type $other")
        }
        if (!keep(ci)) { dataOff += bodyLen; null }
        else {
          def int(nBytes: Int): Long = {
            var v = if ((p(dataOff) & 0x80) != 0) -1L else 0L // sign-extend
            var i = 0
            while (i < nBytes) { v = (v << 8) | (p(dataOff + i) & 0xff); i += 1 }
            dataOff += nBytes
            v
          }
          t match {
            case 0 => null
            case 1 => int(1)
            case 2 => int(2)
            case 3 => int(3)
            case 4 => int(4)
            case 5 => int(6)
            case 6 => int(8)
            case 7 =>
              val v = java.lang.Double.longBitsToDouble(int(8)); v
            case 8 => 0L
            case 9 => 1L
            case n if n >= 13 && n % 2 == 1 => // text
              val s = new String(p, dataOff, bodyLen, "UTF-8")
              dataOff += bodyLen
              s
            case _ => // blob (reserved types already rejected above)
              val b = java.util.Arrays.copyOfRange(p, dataOff,
                dataOff + bodyLen)
              dataOff += bodyLen
              b
          }
        }
      }.toIndexedSeq
    }

    /** rootpage of the sqlite_master entry of type `kind` named `name`. */
    private def masterRoot(kind: String, name: String): Option[Long] =
      master.collectFirst {
        case Row(_, vs)
            if vs.lift(0).contains(kind) && vs.lift(1).contains(name) =>
          vs(3).asInstanceOf[Long]
      }

    def rootPageOf(table: String): Long =
      if (table == "sqlite_master") 1L // the master table IS page 1
      else masterRoot("table", table).getOrElse(
        throw new NoSuchElementException(
          s"table '$table' not found in sqlite_master"))

    /** Rowids (sorted, distinct) of the rows in `ranges` whose UNIQUE
      * column is one of `keys`: ONE batched descent of `table`'s
      * UNIQUE-constraint autoindex (`sqlite_autoindex_<table>_1`) — the
      * index b-tree a stock sqlite3 probes for its duplicate check
      * (reference server.js:198) and [[SqliteWriter.writeFull]]
      * bulk-loads. Throws NoSuchElementException when the file has no
      * such index — callers must not silently fall back, the pushdown
      * contract is exactness. */
    def contentRowids(table: String, keys: Seq[String],
                      ranges: IndexedSeq[(Long, Long)]): IndexedSeq[Long] = {
      val idxRoot = masterRoot("index", s"sqlite_autoindex_${table}_1")
        .getOrElse(throw new NoSuchElementException(
          s"no sqlite_autoindex_${table}_1 in sqlite_master — " +
            "content-keyed reads need the UNIQUE autoindex"))
      indexHits(idxRoot, keys.distinct.map(_.getBytes("UTF-8")).toIndexedSeq)
        .map(_._2).filter(inRanges(ranges, _)).distinct.sorted
    }

    /** The payload of the INDEX cell whose payload-length varint
      * starts at `off` (index cells carry no rowid varint). */
    private def indexCell(off: Int): Array[Byte] = {
      val (payloadLen, n1) = varintAt(bytes, off)
      payload(off + n1, payloadLen, index = true)
    }

    /** Batched equality lookup in an index b-tree: ONE descent for
      * ALL probe keys, each interior page partitioning the probes
      * among its children, so a k-key IN reads O(depth + k) pages
      * regardless of table size. Index interior cells hold REAL
      * entries (SQLite's index b-trees are not blind separators), so
      * equality can hit mid-descent. Keys compare as unsigned
      * byte-wise UTF-8 — SQLite's BINARY collation, the autoindex's
      * default. Returns decoded (key, rowid) hits. */
    private def indexHits(root: Long, probes: IndexedSeq[Array[Byte]])
        : IndexedSeq[(String, Long)] =
      if (probes.isEmpty) IndexedSeq.empty
      else {
        btreePagesVisited += 1
        val off = pageOff(root)
        val hdr = off // index pages are never page 1
        def entryOf(p: Array[Byte]): (String, Long) = {
          val vs = decodeRecord(p, _ => true)
          (vs(0).asInstanceOf[String], vs(1).asInstanceOf[Long])
        }
        u8(hdr) match {
          case 0x02 => // interior index page
            val nCells = u16(hdr + 3)
            val out = scala.collection.mutable.ArrayBuffer
              .empty[(String, Long)]
            var remaining = probes
            (0 until nCells).foreach { i =>
              if (remaining.nonEmpty) {
                val cellOff = off + u16(hdr + 12 + 2 * i)
                val (keyStr, rowid) = entryOf(indexCell(cellOff + 4))
                val kb = keyStr.getBytes("UTF-8")
                val (below, rest) = remaining.partition(p =>
                  java.util.Arrays.compareUnsigned(p, kb) < 0)
                if (below.nonEmpty)
                  out ++= indexHits(u32(cellOff), below)
                val (eq, above) = rest.partition(p =>
                  java.util.Arrays.equals(p, kb))
                if (eq.nonEmpty) out += ((keyStr, rowid))
                remaining = above
              }
            }
            if (remaining.nonEmpty)
              out ++= indexHits(u32(hdr + 8), remaining)
            out.toIndexedSeq
          case 0x0a => // leaf index page
            val nCells = u16(hdr + 3)
            (0 until nCells).flatMap { i =>
              val cellOff = off + u16(hdr + 8 + 2 * i)
              val (keyStr, rowid) = entryOf(indexCell(cellOff))
              val kb = keyStr.getBytes("UTF-8")
              if (probes.exists(java.util.Arrays.equals(_, kb)))
                Some((keyStr, rowid))
              else None
            }
          case t => throw new IllegalStateException(
            s"unexpected index page type 0x${t.toHexString} at $root")
        }
      }
  }

  /** Rows of `table` in `ranges` (sorted disjoint inclusive intervals
    * over the rowid — the DSv2 filter pushdown), decoding ONLY
    * `ordinals` (indexes into the table's stored column order; other
    * columns' bodies are cursor-skipped, never materialized). Values
    * come back in `ordinals` order, a NULL at ordinal 0 read as the
    * INTEGER PRIMARY KEY rowid alias. Only subtrees intersecting
    * `ranges` are read — interior-page separators bound each child, so
    * a 1-row lookup visits O(tree depth) pages, not the table. Returns
    * the row iterator plus a pages-visited thunk (valid after the
    * iterator is consumed) so the claim is measurable, not asserted. */
  def readTableRanges(bytes: Array[Byte], table: String,
                      ordinals: Array[Int],
                      ranges: IndexedSeq[(Long, Long)])
      : (Iterator[IndexedSeq[Any]], () => Long) = {
    val db = new Db(bytes)
    (db.projected(db.rootPageOf(table), ordinals, ranges),
      () => db.btreePagesVisited)
  }

  /** CONTENT-KEYED lookup through the UNIQUE autoindex — the
    * reference's own duplicate-check shape (server.js:198: probe by
    * `content` before INSERT) served at b-tree cost: ONE batched
    * descent of `sqlite_autoindex_<table>_1` for all `keys`
    * (O(depth + k) index pages), then point-reads of the hit rowids
    * through the table b-tree (O(depth) each) — never a table scan.
    * `ranges` intersects additionally-pushed rowid bounds (a hit
    * outside them is dropped before any table page is read). Returns
    * the projected rows plus a pages-visited thunk spanning BOTH
    * walks. Throws NoSuchElementException when the file has no
    * autoindex for `table`. */
  def readTableByContent(bytes: Array[Byte], table: String,
                         ordinals: Array[Int], keys: Seq[String],
                         ranges: IndexedSeq[(Long, Long)] = FullRange)
      : (Iterator[IndexedSeq[Any]], () => Long) = {
    val db = new Db(bytes)
    val rowids = db.contentRowids(table, keys, ranges)
    val tblRoot = db.rootPageOf(table)
    val it =
      if (rowids.isEmpty) Iterator.empty
      else db.projected(tblRoot, ordinals, rowids.map(r => (r, r)))
    (it, () => db.btreePagesVisited)
  }

  /** COUNT(*) at pure b-tree cost (the DSv2 aggregate pushdown —
    * the reference's sync guard `SELECT COUNT(*)`, server.js:67):
    * full-range counts read each leaf's header cell count (zero
    * payload or even rowid decode), pruned ranges read rowid varints
    * only; overflow chains never load. Returns (count, pages). */
  def countRows(bytes: Array[Byte], table: String,
                ranges: IndexedSeq[(Long, Long)] = FullRange)
      : (Long, Long) = {
    val db = new Db(bytes)
    val root = db.rootPageOf(table)
    val n = if (ranges.isEmpty) 0L else db.countRows(root, ranges)
    (n, db.btreePagesVisited)
  }

  /** [[countRows]] under a content-key constraint: the count is the
    * number of autoindex hits inside `ranges` — NO table page is
    * read at all. */
  def countByContent(bytes: Array[Byte], table: String,
                     keys: Seq[String],
                     ranges: IndexedSeq[(Long, Long)] = FullRange)
      : (Long, Long) = {
    val db = new Db(bytes)
    val n = db.contentRowids(table, keys, ranges).size.toLong
    (n, db.btreePagesVisited)
  }

  /** All rows of `table`, rowid-aliased NULL integer-primary-key
    * columns resolved to the rowid. */
  def readTable(bytes: Array[Byte], table: String): Iterator[Row] = {
    val db = new Db(bytes)
    db.tableRows(db.rootPageOf(table)).map { r =>
      // `INTEGER PRIMARY KEY` columns store NULL; surface the rowid so
      // callers see the value SQL would return
      if (r.values.nonEmpty && r.values.head == null)
        r.copy(values = r.rowid +: r.values.tail)
      else r
    }
  }
}
