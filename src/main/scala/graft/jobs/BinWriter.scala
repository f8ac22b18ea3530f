package graft.jobs

import java.net.URI

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Options, Path => HPath}

/** Executor-side single-writer-per-bin commit (used by
  * `Restructure.commitBins`): rows arrive sorted by bin path; each bin
  * streams to a dot-prefixed temp file next to its target (invisible to
  * Spark readers) and is atomically swapped in on close. Gzip/zip wrap the
  * stream directly — no committer temp tree, no post-pass repack, and
  * renames parallelize across tasks instead of a driver pool.
  */
private[jobs] object BinWriter {

  private val fileContexts =
    new java.util.concurrent.ConcurrentHashMap[URI, Option[org.apache.hadoop.fs.FileContext]]()

  /** Cached FileContext lookup — shared by [[renameOver]] (which commits
    * through it when available) and [[writePartition]] (which only pays the
    * fingerprint capture when it is NOT: the FileContext path never reads
    * the fingerprint).
    */
  private def fileContextFor(fs: FileSystem, conf: Configuration): Option[org.apache.hadoop.fs.FileContext] =
    fileContexts.computeIfAbsent(fs.getUri, uri =>
      try Some(org.apache.hadoop.fs.FileContext.getFileContext(uri, conf))
      catch { case _: org.apache.hadoop.fs.UnsupportedFileSystemException => None })

  /** Content fingerprint of a written temp: its byte length, the first
    * `min(FpBlock, len)` and last `min(FpBlock, len - headLen)` raw bytes,
    * and — when captured at write time by [[FingerprintStream]] — the
    * CRC32C of EVERY byte. Used by the non-FileContext commit fallback to
    * validate a false-reporting rename's target by content, not just
    * length: the crc closes the head/tail check's blind spot (a
    * same-length file differing only in the middle). `crc` is None when
    * the fingerprint was reconstructed from ranged reads of the temp
    * (no cheap full pass available there).
    */
  private[jobs] final case class Fingerprint(
      len: Long, head: Array[Byte], tail: Array[Byte], crc: Option[Long])

  private[jobs] final val FpBlock = 8192

  /** OutputStream wrapper retaining the first and rolling-last [[FpBlock]]
    * raw bytes plus the byte count while streaming to `underlying` — the
    * commit fallback's fingerprint then costs zero extra I/O instead of an
    * open + two ranged reads of the temp this same task just wrote (on s3a
    * that re-read is two GETs per bin, on the happy path).
    */
  private[jobs] final class FingerprintStream(underlying: java.io.OutputStream)
      extends java.io.OutputStream {
    private var len = 0L
    private val head = new Array[Byte](FpBlock)
    private val ring = new Array[Byte](FpBlock)
    // every byte also folds into a CRC32C (hardware-accelerated on
    // JDK 9+), so the commit fallback can verify FULL content — not just
    // head/tail blocks — for the cost of one re-read of the target, paid
    // only on the cold adoption path
    private val crc32 = new java.util.zip.CRC32C()
    override def write(b: Int): Unit = {
      if (len < FpBlock) head(len.toInt) = b.toByte
      ring((len % FpBlock).toInt) = b.toByte
      crc32.update(b)
      len += 1
      underlying.write(b)
    }
    override def write(b: Array[Byte], off: Int, n: Int): Unit = {
      if (len < FpBlock) {
        val c = math.min(n.toLong, FpBlock - len).toInt
        System.arraycopy(b, off, head, len.toInt, c)
      }
      crc32.update(b, off, n)
      // only the final min(n, FpBlock) bytes of this write can survive in
      // the ring; earlier ones would be overwritten within the same call
      var i = math.max(0, n - FpBlock)
      var pos = ((len + i) % FpBlock).toInt
      while (i < n) {
        ring(pos) = b(off + i)
        pos += 1; if (pos == FpBlock) pos = 0
        i += 1
      }
      len += n
      underlying.write(b, off, n)
    }
    override def flush(): Unit = underlying.flush()
    override def close(): Unit = underlying.close()
    /** Call after close(): the stream's final length and head/tail bytes. */
    def fingerprint: Fingerprint = {
      val headLen = math.min(FpBlock.toLong, len).toInt
      val tailLen = math.min(FpBlock.toLong, len - headLen).toInt
      val t = new Array[Byte](tailLen)
      var pos = ((len - tailLen) % FpBlock).toInt
      var i = 0
      while (i < tailLen) { t(i) = ring(pos); pos += 1; if (pos == FpBlock) pos = 0; i += 1 }
      Fingerprint(len, java.util.Arrays.copyOf(head, headLen), t, Some(crc32.getValue))
    }
  }

  def renameOver(fs: FileSystem, conf: Configuration, src: HPath, target: HPath): Unit =
    renameOver(fs, conf, src, target, None)

  /** K8 atomic replace (reference parity: `Files.move(ATOMIC_MOVE,
    * REPLACE_EXISTING)`, target/LocalTargetStorage.kt:100-122). Local FS is
    * one nio syscall (FileContext would fork an `ls` per target stat);
    * other filesystems use a cached FileContext with `Rename.OVERWRITE`;
    * those with no FileContext binding (s3a — where rename is a copy and
    * nothing is atomic anyway) fall back to delete+rename. `fp` is the
    * temp's write-time fingerprint when the caller captured one (the bin
    * writer does); without it the fallback reads head/tail from the temp.
    * By-name so the FileContext and local paths never materialize it.
    */
  def renameOver(fs: FileSystem, conf: Configuration, src: HPath, target: HPath,
      fp: => Option[Fingerprint]): Unit =
    if (fs.getScheme == "file") {
      java.nio.file.Files.move(
        java.nio.file.Paths.get(src.toUri.getPath),
        java.nio.file.Paths.get(target.toUri.getPath),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    } else {
      fileContextFor(fs, conf) match {
        case Some(fc) =>
          fc.rename(fs.makeQualified(src), fs.makeQualified(target), Options.Rename.OVERWRITE)
        case None =>
          // capture the temp's length BEFORE touching anything: it gates
          // both the overwrite delete below (src already gone -> there is
          // nothing to move, so the existing target must NOT be deleted)
          // and the false-reporting-rename acceptance after
          val srcLen =
            try fs.getFileStatus(src).getLen
            catch { case _: java.io.FileNotFoundException => -1L }
          // the write-time fingerprint, materialized ONCE for this whole
          // fallback (the by-name parameter spares only the FileContext
          // and local paths). When the caller streamed the bytes itself
          // (the bin writer), this is the authoritative content evidence —
          // usable even after the temp is gone.
          val fpHeld: Option[Fingerprint] = fp
          // Does the target's content match fingerprint `v`? Length plus
          // first/last-block bytes (two ranged reads, a cheap early
          // reject), then — when the fingerprint was captured at write
          // time and so carries a CRC32C of every byte — one streaming
          // pass over the whole target to verify FULL content. That pass
          // runs only on this cold fallback/adoption path and reads
          // exactly one bin; it closes the blind spot where a foreign
          // same-length file differing only in its middle bytes matched
          // the head/tail check. Assumes read-after-write consistency
          // (HDFS, ABFS, and S3 since 2020 all provide it); on a store
          // without it a stale read could mis-judge, and the idempotent
          // bin replay on task retry is the backstop.
          def targetMatches(v: Fingerprint): Boolean =
            try {
              fs.getFileStatus(target).getLen == v.len && (v.len == 0 || {
                val head = new Array[Byte](v.head.length)
                val tail = new Array[Byte](v.tail.length)
                val in = fs.open(target)
                try {
                  in.readFully(0L, head, 0, head.length)
                  if (tail.length > 0)
                    in.readFully(v.len - tail.length, tail, 0, tail.length)
                } finally in.close()
                java.util.Arrays.equals(head, v.head) &&
                  java.util.Arrays.equals(tail, v.tail)
              }) && (v.len == 0 || v.crc.forall { want =>
                val c = new java.util.zip.CRC32C()
                val buf = new Array[Byte](65536)
                val in = fs.open(target)
                try {
                  var n = in.read(buf)
                  while (n >= 0) { if (n > 0) c.update(buf, 0, n); n = in.read(buf) }
                } finally in.close()
                c.getValue == want
              })
            } catch { case _: java.io.FileNotFoundException => false }
          // src gone BEFORE the first rename (srcLen = -1) or between its
          // stat and the fingerprint read: e.g. a speculative duplicate
          // attempt whose twin already committed, or external dot-temp
          // cleanup. A present target may be adopted as the commit (ours
          // or the twin's; the bin's bytes are rebuilt deterministically
          // from the same sorted rows, so either writer's file is the same
          // content) — but NEVER unvalidated when validation is possible:
          // with the write-time fingerprint in hand the target must match
          // its length and head/tail bytes; with only the temp's stat'd
          // length, the target must at least match that length. Only a
          // fingerprint-less caller with srcLen unknown falls back to
          // bare-existence adoption (weaker — made visible in the task
          // log). A validation miss throws so the idempotent bin replay on
          // task retry rewrites the bin deterministically instead of
          // accepting a foreign writer's bytes.
          def adoptOrFail(why: String): Unit = (fpHeld, srcLen) match {
            case (Some(v), _) =>
              if (targetMatches(v))
                Console.err.println(s"[graft] adopting existing $target as commit: " +
                  s"$why; content matches this task's write-time fingerprint")
              else
                throw new java.io.IOException(s"failed to commit $src -> $target " +
                  s"($why and no target matching the write-time fingerprint found)")
            case (None, len) if len >= 0 =>
              val tLen =
                try fs.getFileStatus(target).getLen
                catch { case _: java.io.FileNotFoundException => -1L }
              if (tLen == len)
                Console.err.println(s"[graft] adopting existing $target as commit: " +
                  s"$why; length matches the temp's ($len) — no content fingerprint available")
              else
                throw new java.io.IOException(s"failed to commit $src -> $target " +
                  s"($why and no target matching the temp's length ($len) found)")
            case _ =>
              if (!fs.exists(target))
                throw new java.io.IOException(
                  s"failed to commit $src -> $target ($why and no committed target found)")
              else
                Console.err.println(s"[graft] adopting existing $target as commit: " +
                  s"$why (speculative twin or replay); no content validation possible")
          }
          if (srcLen < 0) {
            adoptOrFail("temp already absent before first rename")
            return
          }
          // Content fingerprint of the temp BEFORE the renames (src is gone
          // afterwards): write-time-captured when the caller passed one
          // (zero I/O), else first + last block via two ranged reads of a
          // file this task just wrote — not the full-bin re-read the
          // length-only check was avoiding. This closes the
          // equal-length-foreign-file residual: acceptance below requires
          // the target to match the temp's length AND its head/tail bytes.
          // A temp vanishing between the stat above and the ranged read
          // (external dot-temp cleanup) lands in the same VALIDATED
          // adoption path as srcLen < 0 — here srcLen is known, so at
          // minimum the target's length must match it — not a raw
          // FileNotFoundException task failure.
          val fpRead: Option[Fingerprint] = fpHeld.filter(_.len == srcLen) match {
            case s @ Some(_) => s
            case None =>
              try {
                val headLen = math.min(FpBlock.toLong, srcLen).toInt
                val tailLen = math.min(FpBlock.toLong, srcLen - headLen).toInt
                val head = new Array[Byte](headLen)
                val tail = new Array[Byte](tailLen)
                if (srcLen > 0) {
                  val in = fs.open(src)
                  try {
                    in.readFully(0L, head, 0, headLen)
                    if (tailLen > 0) in.readFully(srcLen - tailLen, tail, 0, tailLen)
                  } finally in.close()
                }
                // ranged reads see only head/tail — no full pass, no crc
                Some(Fingerprint(srcLen, head, tail, None))
              } catch { case _: java.io.FileNotFoundException => None }
          }
          val fpv = fpRead match {
            case Some(v) => v
            case None =>
              adoptOrFail("temp vanished between its length stat and the fingerprint read")
              return
          }
          if (fs.exists(target)) fs.delete(target, false)
          // CHECK the boolean: a silently failed rename here loses the
          // bin's freshly written temp (task reports success, file absent).
          // The FIRST rename can complete while reporting false (transient
          // store error after the server-side move); the bare retry then
          // also returns false (src is gone) — so before failing the task,
          // accept a present target with no remaining src as a committed
          // rename rather than throwing a misleading error for work that
          // succeeded. Acceptance requires the target to match the temp's
          // pre-captured length AND first/last-block bytes, so a foreign
          // writer's file — even of coincidentally equal length — fails the
          // task instead of being adopted as this task's commit.
          def committed: Boolean = !fs.exists(src) && targetMatches(fpv)
          if (!fs.rename(src, target) && !fs.rename(src, target) && !committed)
            throw new java.io.IOException(s"failed to commit $src -> $target " +
              s"(no target matching the temp's length ($srcLen) and " +
              "first/last-block fingerprint appeared)")
      }
    }

  /** No in-writer dedup (0), keep-FIRST by key — A2, streaming, state =
    * seen-key set (1) — or keep-LAST by key — A1, buffers one bin's
    * surviving lines in last-occurrence order, exactly the reference's
    * per-file `lineMap[hash]=idx` algorithm and memory shape
    * (format/CsvAvroConverterFactory.kt:30-86) (2). Running dedup inside
    * the writer saves the pre-shuffle aggregation pass: one full-data
    * shuffle instead of two.
    */
  final val DedupOff = 0
  final val DedupKeepFirst = 1
  final val DedupKeepLast = 2

  /** Stream one task's `(relPath, dedupKey, line)` rows — sorted by path,
    * within a path by extraction order — into exactly one file per distinct
    * path, every file under the same `header`. Returns the written relative
    * paths. A failing task deletes its in-flight temp so retries start
    * clean; already-committed bins are idempotently re-replaced on retry.
    */
  def writePartition(
      it: Iterator[(String, String, String)], outputRoot: String,
      confEntries: Map[String, String], header: Option[String],
      gzip: Boolean, zip: Boolean, dedup: Int = DedupOff,
      localUid: Int = -1, localGid: Int = -1,
      sidecar: Option[(String, Array[Byte])] = None,
      runId: String = ""): Iterator[String] =
    writeBins(it.map { case (p, k, l) => (p, 0, k, l) }, outputRoot, confEntries, _ => header,
      gzip, zip, dedup, localUid, localGid, sidecar, runId)

  /** [[writePartition]] over `(relPath, group, dedupKey, line)` rows: a
    * file's header is `headers(group)` of its first row.
    */
  def writeBins(
      it: Iterator[(String, Int, String, String)], outputRoot: String,
      confEntries: Map[String, String], headers: Int => Option[String],
      gzip: Boolean, zip: Boolean, dedup: Int,
      // target.local.{userId,groupId} (reference LocalTargetStorage.kt:
      // 94-101): committed files and created directories get these unix
      // owner attributes when >= 0; local filesystems only
      localUid: Int, localGid: Int,
      // K4 schema sidecar, written executor-side the first time a task
      // touches an output directory: (filename, content). Create-if-absent
      // is idempotent across concurrently-writing tasks (every writer holds
      // the same bytes). The same first-touch hook sweeps stale dot-temps
      // left by crashed writers, so sidecar+sweep cost scales with
      // executors instead of a driver thread pool over a collected bin
      // list. Swept = older than 1 h AND not carrying this job's `runId`
      // (temp names embed it) — a concurrently-running sibling task that
      // opened its temp over an hour ago is never swept; only temps from
      // DEAD runs are.
      sidecar: Option[(String, Array[Byte])],
      runId: String): Iterator[String] = {
    if (!it.hasNext) return Iterator.empty
    val conf = new Configuration()
    confEntries.foreach { case (k, v) => conf.set(k, v) }
    val fs = new HPath(outputRoot).getFileSystem(conf)
    fs.setWriteChecksum(false)
    fs.setVerifyChecksum(false)
    val written = scala.collection.mutable.ArrayBuffer.empty[String]
    var current: String = null
    var tmp: HPath = null
    var target: HPath = null
    var out: java.io.BufferedWriter = null
    var fpStream: FingerprintStream = null
    // keep-first: keys already written to the current bin (stream, O(keys));
    // keep-last: surviving line per key in last-occurrence order (remove +
    // re-insert on duplicate = the reference's surviving-index order)
    val seen = new java.util.HashSet[String]()
    val lastMap = new java.util.LinkedHashMap[String, String]()

    val localFs = fs.getScheme == "file"
    def chown(p: HPath): Unit =
      if (localFs && (localUid >= 0 || localGid >= 0)) {
        val nio = java.nio.file.Paths.get(p.toUri.getPath)
        if (localUid >= 0) java.nio.file.Files.setAttribute(nio, "unix:uid", localUid)
        if (localGid >= 0) java.nio.file.Files.setAttribute(nio, "unix:gid", localGid)
      }

    def close(): Unit = if (out != null) {
      if (dedup == DedupKeepLast) {
        val it2 = lastMap.values.iterator()
        while (it2.hasNext) { out.write(it2.next()); out.write('\n') }
        lastMap.clear()
      }
      seen.clear()
      out.close() // cascades: flush chars → finish gzip/zip → close stream
      renameOver(fs, conf, tmp, target, Option(fpStream).map(_.fingerprint))
      chown(target)
      written += current
      out = null
    }
    val mkdirsDone = new java.util.HashSet[String]()
    def open(rel: String, header: Option[String]): Unit = {
      target = new HPath(s"$outputRoot/$rel")
      // one mkdirs per distinct parent, not per bin (tasks write many bins
      // per directory; at 50k bins the repeated stat+mkdir chain is real)
      if (mkdirsDone.add(target.getParent.toString)) {
        fs.mkdirs(target.getParent)
        chown(target.getParent)
        sidecar.foreach { case (name, bytes) =>
          val sc = new HPath(target.getParent, name)
          val createdSidecar = !fs.exists(sc)
          if (createdSidecar) {
            val o = fs.create(sc, true)
            try o.write(bytes) finally o.close()
            chown(sc)
          }
          // Stale dot-temp sweep, cost-gated: an ungated sweep listStatus'es
          // each shared directory up to T times per commit (T tasks × D
          // dirs of object-store LIST latency). Election: the sidecar
          // CREATOR always sweeps (fresh directories start clean,
          // deterministically); otherwise election derives from
          // hash(directory, UTC day) % 16 — STABLE within a day, so every
          // directory is guaranteed sweep coverage within a bounded ~16-day
          // window no matter how rarely it is written. (A per-commit-UUID
          // key was memoryless: a rarely-written directory's leftovers
          // could survive far past the expected 16 commits in the tail,
          // and chunked merges issuing several commits per batch skewed
          // the amortization.) Amortized listing cost is unchanged: each
          // directory sweeps on ~1/16 of days. An empty runId (direct
          // invocation) always sweeps. Cross-run assumption: concurrent
          // jobs writing the SAME directories hold locks (LockManager) or
          // use topic-scoped templates; the runId guard below spares THIS
          // run's live siblings, not another live run's.
          val utcDay = System.currentTimeMillis() / 86400000L
          val sweepElected = createdSidecar || runId.isEmpty ||
            java.lang.Math.floorMod(
              target.getParent.toString.hashCode * 31L + utcDay, 16L) == 0L
          if (sweepElected) {
            val staleBefore = System.currentTimeMillis() - 3600000L
            fs.listStatus(target.getParent).foreach { st =>
              val n = st.getPath.getName
              if (n.startsWith(".") && n.contains(".tmp-") &&
                  st.getModificationTime < staleBefore &&
                  !(runId.nonEmpty && n.contains(runId)))
                try fs.delete(st.getPath, false) catch { case _: Exception => }
            }
          }
        }
      }
      val runTag = if (runId.isEmpty) "" else s"$runId-"
      tmp = new HPath(target.getParent,
        s".${target.getName}.tmp-$runTag${java.util.UUID.randomUUID()}")
      // local FS: plain FileOutputStream — skip the Hadoop stream wrapper
      // (same rationale as renameOver's nio move). Commits that will take
      // renameOver's delete+rename FALLBACK (no FileContext binding — s3a
      // and friends) capture the head/tail fingerprint while the bytes
      // stream out instead of re-reading the temp later; local and
      // FileContext stores never read it, so they skip the ring work too.
      val raw: java.io.OutputStream =
        if (localFs) { fpStream = null; new java.io.FileOutputStream(tmp.toUri.getPath) }
        else {
          val created = fs.create(tmp, true)
          fpStream =
            if (fileContextFor(fs, conf).isEmpty) new FingerprintStream(created) else null
          if (fpStream != null) fpStream else created
        }
      val stream: java.io.OutputStream =
        if (zip) {
          // K6: single entry named after the file, level 7
          // (compression/ZipCompression.kt:10-25)
          val z = new java.util.zip.ZipOutputStream(raw)
          z.setLevel(7)
          z.putNextEntry(new java.util.zip.ZipEntry(target.getName.stripSuffix(".zip")))
          z
        } else if (gzip) new java.util.zip.GZIPOutputStream(raw, 65536)
        else raw
      out = new java.io.BufferedWriter(
        new java.io.OutputStreamWriter(stream, java.nio.charset.StandardCharsets.UTF_8), 65536)
      header.foreach { h => out.write(h); out.write('\n') }
    }

    try {
      it.foreach { case (rel, group, key, line) =>
        if (rel != current) { close(); current = rel; open(rel, headers(group)) }
        dedup match {
          case DedupKeepLast =>
            lastMap.remove(key)
            lastMap.put(key, line)
          case DedupKeepFirst =>
            if (seen.add(key)) { out.write(line); out.write('\n') }
          case _ =>
            out.write(line)
            out.write('\n')
        }
      }
      close()
      written.iterator
    } catch {
      case e: Throwable =>
        if (out != null) {
          try out.close() catch { case _: Exception => }
          try fs.delete(tmp, false) catch { case _: Exception => }
        }
        throw e
    }
  }
}
