package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Small-file compaction — the housekeeping op every incremental sink needs
  * at scale: micro-batch appends (t4/t11/t12-style) and partitioned
  * first-write-wins sinks (S7/S8) accrete files far below the
  * row-group-efficient size, and at 100 TB the scan-planning and
  * footer-read overhead of millions of tiny files dominates before a
  * single value is decoded.
  *
  * `compact` sizes the output from the INPUT's actual on-disk bytes (not a
  * row count — rows don't predict encoded size), targeting `targetBytes`
  * per output file, and rewrites with `coalesce` — a narrow, shuffle-free
  * repack (each output task concatenates whole input partitions; no data
  * moves between executors). An optional sort column re-clusters while
  * compacting (that variant shuffles — stated cost, it's a layout rebuild).
  * Writes to a NEW directory: compaction must be atomic-swap-able and never
  * rewrite in place over its own input.
  */
object Compact {

  /** A store read with its declared schema — the schema of the frame that
    * writes it; None = store absent (an HDFS `exists` answer — never a
    * caught read error, so a bad filter built on the frame still throws).
    * A store directory holding no data file yet (a writer that crashed
    * before its first append) reads as empty: the declared schema leaves
    * nothing to infer. */
  def scanStore(spark: SparkSession, path: String,
                schema: StructType): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(path)
    if (!p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)) None
    else Some(spark.read.schema(schema).parquet(path))
  }

  /** Whether micro-batch `batchId` ends a compaction cycle of `every`
    * batches (`every` ≤ 0: never). */
  def due(every: Int, batchId: Long): Boolean =
    every > 0 && (batchId + 1) % every == 0

  /** Total bytes of the parquet part-files under `dir`. */
  def dirBytes(spark: SparkSession, dir: String): Long = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(path, true)
    var total = 0L
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.startsWith("part-")) total += f.getLen
    }
    total
  }

  /** Repack `srcDir` into `dstDir` at ~`targetBytes` per file. Returns the
    * output file count. Shuffle-free (`coalesce`); pass `sortBy` to
    * re-cluster during the rewrite (adds one range shuffle). */
  def compact(spark: SparkSession, srcDir: String, dstDir: String,
              targetBytes: Long, sortBy: Option[String] = None): Int = {
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    val n = math.max(1, math.ceil(dirBytes(spark, srcDir).toDouble / targetBytes).toInt)
    val df = spark.read.parquet(srcDir)
    val packed = sortBy match {
      case Some(c) => df.repartitionByRange(n, col(c)).sortWithinPartitions(col(c))
      case None    => df.coalesce(n)
    }
    packed.write.mode("overwrite").parquet(dstDir)
    // count through the Hadoop FS API (like dirBytes) — java.io.File only
    // sees the local filesystem
    val path = new org.apache.hadoop.fs.Path(dstDir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(path).count(_.getPath.getName.startsWith("part-"))
  }

  /** Crash-safe compaction for APPEND-ONLY LEDGERS (the t26/t27/t28
    * streaming sinks): snapshot the ledger's current fragments, append
    * their `merge`d equivalent as a new fragment, and GC with a GRACE
    * CYCLE — the snapshotted originals are only recorded as tombstones
    * now and deleted on the NEXT compaction call. No rename protocol and
    * no read-modify-write — correctness leans on the ledger's own
    * roll-up contract: any reader must absorb duplicate rows (idempotent
    * merges like KMV union and min-partials do inherently; counter
    * ledgers key rows by batch_id and the roll-up collapses per-key
    * duplicates first). Under that contract a crash at ANY point —
    * after the append, mid-tombstone-write, or mid-delete — leaves
    * originals alongside the merged fragment, and the roll-up is
    * unchanged; the next pass absorbs or re-deletes the leftovers
    * (tombstoned deletes are idempotent, and a tombstoned file's rows
    * are ALWAYS also in a previously-appended merged fragment, so
    * deletion never loses data).
    *
    * The grace cycle is the concurrent-reader seam: a reader that lists
    * the directory sees every non-tombstoned fragment (complete) plus
    * possibly tombstoned ones (duplicates, absorbed); a file it listed
    * can only vanish mid-scan if the reader outlives a FULL compaction
    * interval — not the milliseconds of a delete-after-append.
    *
    * `merge` must preserve the ledger schema AND the roll-up value (e.g.
    * re-merge sketches per source, min first-occurrence partials per
    * token, collapse counter rows per (batch_id, bucket)); it must NOT
    * collapse across batch_ids on non-idempotent ledgers — a replayed
    * micro-batch appends rows under its original batch_id, and that key
    * is the only thing standing between replay and double-count.
    *
    * Returns (fragments before, fragments after — including the
    * tombstoned ones that survive until the next call). A month-long
    * stream calling this every N micro-batches holds the ledger at
    * O(N + rows/targetBytes) fragments instead of one per batch forever. */
  def compactLedger(spark: SparkSession, ledgerDir: String,
                    merge: DataFrame => DataFrame,
                    targetBytes: Long = 128L * 1024 * 1024): (Int, Int) = {
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    val path = new org.apache.hadoop.fs.Path(ledgerDir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tombPath = new org.apache.hadoop.fs.Path(ledgerDir, "_tombstones")

    // 1) reap the PREVIOUS cycle's tombstones — their rows were merged
    //    into a fragment appended before they were recorded, so deletion
    //    can never lose data, and re-deletion after a crash is a no-op
    if (fs.exists(tombPath)) {
      val in = fs.open(tombPath)
      val listed = try scala.io.Source.fromInputStream(in, "UTF-8")
        .getLines().filter(_.nonEmpty).toList finally in.close()
      listed.foreach(p => fs.delete(new org.apache.hadoop.fs.Path(p), false))
      fs.delete(tombPath, false)
    }

    val parts = fs.listStatus(path).filter(_.getPath.getName.startsWith("part-"))
    if (parts.length <= 1) return (parts.length, parts.length)
    val snapshot = parts.map(_.getPath.toString).toSeq
    // merged output is never larger than its input bytes
    val n = math.max(1, math.ceil(
      parts.map(_.getLen).sum.toDouble / targetBytes).toInt)
    merge(spark.read.parquet(snapshot: _*))
      .coalesce(n).write.mode("append").parquet(ledgerDir)

    // 2) tombstone the snapshot for the NEXT cycle (atomic rename; a
    //    crash before the rename just leaves the originals as ordinary
    //    fragments for the next pass to re-compact)
    val tmp = new org.apache.hadoop.fs.Path(ledgerDir, "_tombstones.tmp")
    val out = fs.create(tmp, true)
    try out.write((snapshot.mkString("\n") + "\n").getBytes("UTF-8"))
    finally out.close()
    // a rename that fails by RETURNING false (some FS contracts) would
    // silently drop the tombstone list — originals would never be reaped
    // and the fragment count would grow without bound
    require(fs.rename(tmp, tombPath),
      s"tombstone rename failed: $tmp -> $tombPath")
    (parts.length,
      fs.listStatus(path).count(_.getPath.getName.startsWith("part-")))
  }

  // ---------------------------------------------------------------------
  // Crash-safe compaction for PARTITIONED FIRST-WRITE-WINS STORES (the
  // LivePipeline tick/candle/grid-fact tables): per-micro-batch appends
  // accrete one fragment set per batch per touched (pair, dt) partition
  // forever. Unlike the ledgers above, these stores are SETS — a reader
  // must never see a row twice — so append-then-absorb does not apply;
  // instead each over-fragmented LEAF PARTITION is rewritten and swapped
  // in place with a recoverable three-rename protocol:
  //
  //   1. rewrite leaf -> root/_compact/<token>/   (invisible: "_" prefix;
  //      Spark's own _SUCCESS marks the rewrite complete)
  //   2. rename leaf  -> parent/_old.<leaf with '=' -> '~'>  (invisible:
  //      "_" prefix AND no '=' so partition discovery never parses it)
  //   3. rename root/_compact/<token> -> leaf      (ONE atomic rename)
  //   4. delete the _old dir
  //
  // A crash at any point leaves a state [[recoverStore]] classifies
  // unambiguously: leaf present + _old present -> crashed after 3, delete
  // _old; leaf absent + tmp complete -> finish 3+4; leaf absent + tmp
  // incomplete -> rename _old back; tmp present + leaf present -> crashed
  // before 2, drop tmp. The `_compact` dir itself is the protocol-active
  // marker: it is created first and removed last, so the per-batch
  // recovery check is ONE exists() call in the steady state.
  //
  // Single-writer protocol (the store's writing stream runs it inside
  // foreachBatch between its own reads); concurrent outside readers would
  // need the ledger-style grace cycle instead.
  // ---------------------------------------------------------------------

  private def hfs(spark: SparkSession, dir: String) = {
    val p = new org.apache.hadoop.fs.Path(dir)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  private def tokenOf(root: org.apache.hadoop.fs.Path,
                      leaf: org.apache.hadoop.fs.Path): String =
    java.net.URLEncoder.encode(
      leaf.toString.stripPrefix(root.toString).stripPrefix("/"), "UTF-8")

  private def hiddenOld(leaf: org.apache.hadoop.fs.Path) =
    new org.apache.hadoop.fs.Path(leaf.getParent,
      "_old." + leaf.getName.replace("=", "~"))

  /** Leaf data directories (those directly holding part- files) under
    * `root`, skipping protocol/metadata names. */
  private def leafDirs(fs: org.apache.hadoop.fs.FileSystem,
                       root: org.apache.hadoop.fs.Path)
      : Seq[org.apache.hadoop.fs.Path] = {
    val out = Seq.newBuilder[org.apache.hadoop.fs.Path]
    def walk(d: org.apache.hadoop.fs.Path): Unit = {
      val st = fs.listStatus(d)
      if (st.exists(f => f.isFile && f.getPath.getName.startsWith("part-")))
        out += d
      st.filter(f => f.isDirectory &&
          !f.getPath.getName.startsWith("_") && !f.getPath.getName.startsWith("."))
        .foreach(f => walk(f.getPath))
    }
    walk(root)
    out.result()
  }

  /** Finish or roll back an interrupted [[compactStore]] swap. O(1) when
    * no protocol was active (one exists() probe) — call before every read
    * of a store whose writer compacts. */
  def recoverStore(spark: SparkSession, root: String): Unit = {
    val (fs, rootPath) = hfs(spark, root)
    if (!fs.exists(rootPath)) return
    val pending = new org.apache.hadoop.fs.Path(rootPath, "_compact")
    if (!fs.exists(pending)) return // steady state: nothing interrupted
    def walk(d: org.apache.hadoop.fs.Path): Unit =
      fs.listStatus(d).filter(_.isDirectory).foreach { f =>
        val name = f.getPath.getName
        if (name.startsWith("_old.")) {
          val leaf = new org.apache.hadoop.fs.Path(f.getPath.getParent,
            name.stripPrefix("_old.").replace("~", "="))
          val tmp = new org.apache.hadoop.fs.Path(pending, tokenOf(rootPath, leaf))
          if (fs.exists(leaf)) {
            // crashed after swap-in: the new leaf is authoritative
            require(fs.delete(f.getPath, true), s"recover: delete $f failed")
          } else if (fs.exists(new org.apache.hadoop.fs.Path(tmp, "_SUCCESS"))) {
            // rewrite completed: finish the swap forward
            require(fs.rename(tmp, leaf), s"recover: rename $tmp -> $leaf failed")
            require(fs.delete(f.getPath, true), s"recover: delete $f failed")
          } else {
            // rewrite incomplete: restore the original leaf
            require(fs.rename(f.getPath, leaf), s"recover: restore $leaf failed")
          }
        } else if (!name.startsWith("_") && !name.startsWith(".")) walk(f.getPath)
      }
    walk(rootPath)
    fs.delete(pending, true)
  }

  // ---------------------------------------------------------------------
  // Retention/GC for PARTITIONED STORES: compaction bounds fragment
  // counts, but nothing ever RETIRES data — an always-on deployment's
  // stores grow without bound. [[retireStore]] drops (or archives) every
  // `col=value` partition directory with value < horizon, with the same
  // crash-window discipline as [[compactStore]]:
  //
  //  ARCHIVE mode is a SINGLE atomic rename per partition
  //  (leaf -> archiveRoot/<relative leaf path>): a crash leaves every
  //  partition in exactly one of its two complete homes — no recovery
  //  protocol needed at all.
  //
  //  DROP mode is rename-then-delete:
  //    1. create root/_retire            (the protocol-active marker)
  //    2. rename leaf -> parent/_hidden  ("_retired." + leaf with '='->'~'
  //       — invisible to partition discovery AND to [[leafDirs]]; ATOMIC,
  //       so a reader never sees a partially-deleted partition)
  //    3. delete the hidden dir recursively
  //    4. remove root/_retire
  //  A crash after 2 or mid-3 leaves only invisible residue;
  //  [[recoverRetire]] (O(1) exists() probe in the steady state, the
  //  recoverStore pattern) finishes the deletes on the next batch.
  //
  // Single-writer protocol, like compactStore: the store's own writing
  // stream runs it inside foreachBatch between its reads.
  // ---------------------------------------------------------------------

  private def hiddenRetired(leaf: org.apache.hadoop.fs.Path) =
    new org.apache.hadoop.fs.Path(leaf.getParent,
      "_retired." + leaf.getName.replace("=", "~"))

  /** Finish an interrupted DROP-mode [[retireStore]]: delete any hidden
    * `_retired.*` residue. O(1) when no retire was active. */
  def recoverRetire(spark: SparkSession, root: String): Unit = {
    val (fs, rootPath) = hfs(spark, root)
    if (!fs.exists(rootPath)) return
    val marker = new org.apache.hadoop.fs.Path(rootPath, "_retire")
    if (!fs.exists(marker)) return
    def walk(d: org.apache.hadoop.fs.Path): Unit =
      fs.listStatus(d).filter(_.isDirectory).foreach { f =>
        val name = f.getPath.getName
        if (name.startsWith("_retired."))
          require(fs.delete(f.getPath, true), s"recoverRetire: delete $f failed")
        else if (!name.startsWith("_") && !name.startsWith(".")) walk(f.getPath)
      }
    walk(rootPath)
    fs.delete(marker, false)
  }

  /** Retire every `partCol=value` partition directory under `root` with
    * value strictly below `horizon` (string compare — exact for ISO
    * dates, the `dt` convention): DROP by default, or MOVE under
    * `archiveRoot` preserving the relative path. Returns the number of
    * partitions retired. Work is proportional to the PARTITION COUNT
    * scanned (directory listings only) plus the retired data handled —
    * never a byte of kept data moves. */
  def retireStore(spark: SparkSession, root: String, partCol: String,
                  horizon: String,
                  archiveRoot: Option[String] = None): Int = {
    require(horizon.nonEmpty, "horizon must be non-empty")
    val (fs, rootPath) = hfs(spark, root)
    if (!fs.exists(rootPath)) return 0
    recoverRetire(spark, root)
    val prefix = partCol + "="
    val expired = Seq.newBuilder[org.apache.hadoop.fs.Path]
    def walk(d: org.apache.hadoop.fs.Path): Unit =
      fs.listStatus(d).filter(_.isDirectory).foreach { f =>
        val name = f.getPath.getName
        if (name.startsWith(prefix)) {
          if (name.stripPrefix(prefix) < horizon) expired += f.getPath
        } else if (!name.startsWith("_") && !name.startsWith("."))
          walk(f.getPath)
      }
    walk(rootPath)
    val leaves = expired.result()
    if (leaves.isEmpty) return 0
    archiveRoot match {
      case Some(ar) =>
        val (afs, arPath) = hfs(spark, ar)
        // walk paths come back scheme-qualified (file:/...); qualify the
        // root the same way or the relative strip silently no-ops and the
        // "move" renames each leaf onto itself
        val qRoot = fs.makeQualified(rootPath).toString
        leaves.foreach { leaf =>
          val q = fs.makeQualified(leaf).toString
          require(q.startsWith(qRoot), s"retire: $q escapes $qRoot")
          val rel = q.stripPrefix(qRoot).stripPrefix("/")
          val dst = new org.apache.hadoop.fs.Path(arPath, rel)
          afs.mkdirs(dst.getParent)
          // ONE atomic rename: the partition is always complete in
          // exactly one of its two homes, crash anywhere
          require(fs.rename(leaf, dst), s"retire: rename $leaf -> $dst failed")
        }
      case None =>
        val marker = new org.apache.hadoop.fs.Path(rootPath, "_retire")
        fs.mkdirs(marker)
        leaves.foreach { leaf =>
          val hidden = hiddenRetired(leaf)
          require(fs.rename(leaf, hidden), s"retire: rename $leaf -> $hidden failed")
          require(fs.delete(hidden, true), s"retire: delete $hidden failed")
        }
        fs.delete(marker, false)
    }
    leaves.size
  }

  /** Compact every leaf partition of `root` holding more than
    * `maxFragments` part-files down to ~`targetBytes`-sized files, with
    * the crash-safe swap protocol above. Returns the number of leaves
    * rewritten. Work is proportional to the FRAGMENTED partitions only —
    * a month-long stream compacting every N batches touches the hot
    * partitions of the last N batches, never the whole store. */
  def compactStore(spark: SparkSession, root: String, maxFragments: Int = 8,
                   targetBytes: Long = 128L * 1024 * 1024): Int = {
    require(maxFragments >= 1, s"maxFragments must be >= 1, got $maxFragments")
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    val (fs, rootPath) = hfs(spark, root)
    if (!fs.exists(rootPath)) return 0
    recoverStore(spark, root)
    val pending = new org.apache.hadoop.fs.Path(rootPath, "_compact")
    var done = 0
    leafDirs(fs, rootPath).foreach { leaf =>
      val parts = fs.listStatus(leaf)
        .filter(f => f.isFile && f.getPath.getName.startsWith("part-"))
      if (parts.length > maxFragments) {
        val tmp = new org.apache.hadoop.fs.Path(pending, tokenOf(rootPath, leaf))
        val n = math.max(1,
          math.ceil(parts.map(_.getLen).sum.toDouble / targetBytes).toInt)
        spark.read.parquet(leaf.toString).coalesce(n)
          .write.mode("overwrite").parquet(tmp.toString)
        val old = hiddenOld(leaf)
        require(fs.rename(leaf, old), s"compact: rename $leaf -> $old failed")
        require(fs.rename(tmp, leaf), s"compact: rename $tmp -> $leaf failed")
        require(fs.delete(old, true), s"compact: delete $old failed")
        done += 1
      }
    }
    if (fs.exists(pending)) fs.delete(pending, true)
    done
  }
}
