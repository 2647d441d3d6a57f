package graft.sources

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Json

/** Iceberg-style snapshot table emulation (SURVEY §7: no Iceberg runtime jar in
  * this sandbox, so snapshot/commit/lineage semantics are provided by layout):
  *
  * {{{
  * table/
  *   CURRENT               — "<k>" (atomically replaced pointer)
  *   manifest-v<k>.json    — snapshot id, parent, per-chunk files+rows, metrics
  *   v<k>/_chunk=<c>/      — committed data files
  *   _staging-v<k>/        — in-flight write (never visible to readers)
  * }}}
  *
  * Commit protocol (atomic + resumable):
  *  1. stage: one Spark job writes all chunks under `_staging-v<k>` and drops a
  *     `_STAGED` marker — restartable from scratch, invisible to readers.
  *     Every commit stages through one write ([[writeChunks]]) after one
  *     layout step: `write`/`append` and the copy-on-write rewrite exchange
  *     by the exact chunk id ([[byChunk]]), so each chunk lands in the task
  *     of its own index as one file; the internal entry [[commitAligned]]
  *     takes a frame whose partitioning agrees with the chunk function
  *     (extraction routes by a modulus that divides or is a multiple of
  *     `numChunks`) and stages it with no exchange, one file per chunk a
  *     partition holds;
  *  2. promote: per-chunk directory rename into `v<k>` — idempotent (already-
  *     promoted chunks are skipped on rerun);
  *  3. manifest: written to a temp name, atomically moved — the manifest IS the
  *     commit; a killed job before this point leaves the previous snapshot
  *     intact and a rerun with the same snapshot id completes it with no
  *     duplicate or missing chunks;
  *  4. CURRENT pointer swap.
  *
  * On a real cluster the same protocol runs over the HDFS/S3-committer rename
  * primitives; here `java.nio.file` stands in. Readers never list staging dirs.
  */
object Snapshot {

  private def currentVersion(table: Path): Option[Int] = {
    val cur = table.resolve("CURRENT")
    if (Files.exists(cur)) Some(Files.readString(cur).trim.toInt) else None
  }

  /** Highest COMMITTED snapshot version — decided from the manifests (the
    * manifest IS the commit), not the CURRENT pointer, repairing a wedged
    * CURRENT on the way (kill between manifest write and pointer swap).
    * This is the version every "does the table exist / what is its tip"
    * decision must use: the CURRENT file alone under-reports a wedged
    * table, which would make an `append` fall through to `write`, collide
    * with the wedged version's manifest, and silently drop its batch. */
  def committedVersion(tablePath: String): Option[Int] =
    recoverCommitted(Paths.get(tablePath))

  private def recoverCommitted(table: Path): Option[Int] =
    versions(table).lastOption.map { k => finishCommitted(table, k); k }

  /** The committed tip, or `version` when it is given (>= 0). A table with
    * no committed snapshot is a named error, not a bare `None.get`. */
  private def versionOrTip(tablePath: String, version: Int = -1): Int =
    if (version >= 0) version
    else recoverCommitted(Paths.get(tablePath)).getOrElse(
      throw new IllegalStateException(s"no committed snapshot at $tablePath"))

  /** Eager directory listing that CLOSES the underlying stream — a bare
    * `Files.list(...).iterator()` leaks one directory handle per call,
    * which matters on per-micro-batch paths (`committedTags`). */
  private def listDir(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try s.iterator().asScala.toSeq finally s.close()
  }

  private def chunkDirs(dir: Path): Seq[Path] =
    listDir(dir).filter(_.getFileName.toString.startsWith("_chunk="))

  private def chunkId(chunkDir: Path): Long =
    chunkDir.getFileName.toString.stripPrefix("_chunk=").toLong

  private def parquetFiles(chunkDir: Path): Seq[Path] =
    listDir(chunkDir).filter(_.getFileName.toString.endsWith(".parquet"))

  /** Tags are caller input that also rides the `_STAGED` marker's framing
    * and names batches in the exactly-once handshake; restrict them to
    * characters that can never collide with any framing. */
  private def requireSafeTag(tag: String): Unit =
    require(tag.matches("[A-Za-z0-9._-]*"),
      s"snapshot tag must match [A-Za-z0-9._-]*: '$tag'")

  /** Observed metric keys travel through two builder-authored framings —
    * the `_STAGED` marker's "k=v" lines and the manifest's `"metrics"`
    * object — so keys carrying framing characters are REJECTED up front
    * (requireSafeTag's fail-loud approach; the old silent `=`→`_` fold let
    * two distinct Observation names collide and lose a value on a resumed
    * commit). */
  private def requireSafeMetricKeys(m: Map[String, Long]): Unit =
    m.keys.foreach { k =>
      require(!k.exists(c => c == '=' || c == '\n' || c == '\r' || c == '"' ||
          c == '{' || c == '}' || c == '\\'),
        s"metric key contains marker/JSON framing characters: '$k' — " +
          "rename the Observation metric")
    }

  /** Observed metrics ride INSIDE the `_STAGED` marker ("k=v" lines): a
    * commit retried after a kill past the staging step would otherwise
    * re-commit with silently EMPTY metrics (the Observation only fires on
    * the run that executed the write job). Keys are framing-validated
    * (fail-loud, see [[requireSafeMetricKeys]]), and the reader skips any
    * unparseable line (old "ok" markers parse to an empty map) — a marker
    * that already landed can never wedge the resume. */
  private def metricsMarker(m: Map[String, Long]): String = {
    requireSafeMetricKeys(m)
    m.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString("\n")
  }

  private def markerMetrics(p: Path): Map[String, Long] =
    Files.readString(p).linesIterator
      .filter(_.contains('=')).flatMap { l =>
        val i = l.indexOf('=')
        l.substring(i + 1).toLongOption.map(l.substring(0, i) -> _)
      }.toMap

  // ------------------------------------------------------------- manifest
  // The one decoder of the manifest format: [[versions]] is the only match
  // on manifest file names, [[head]] the bounded-prefix read of the fields
  // [[commitManifest]] renders before the table-sized `filestats` body, and
  // [[manifest]] the full parse. Every reader below goes through them.

  private def manifestPath(table: Path, k: Int): Path =
    table.resolve(s"manifest-v$k.json")

  private val ManifestName = "manifest-v(\\d+)\\.json".r

  /** Committed versions of `table`, ascending; none for a directory that
    * does not exist yet. FULL-name match: a leftover
    * `manifest-v<k>.json.tmp-*` from a writer killed mid-claim must never
    * count as committed — a phantom max here wedges every read. */
  private def versions(table: Path): Seq[Int] =
    if (!Files.exists(table)) Nil
    else listDir(table).map(_.getFileName.toString)
      .collect { case ManifestName(k) => k.toInt }.sorted

  /** Manifest fields that render BEFORE `filestats`. `chunkKey`/`numChunks`
    * are None only on a manifest that predates them. */
  private case class ManifestHead(append: Boolean, tag: String,
                                  chunkKey: Option[String], numChunks: Option[Int],
                                  metrics: Map[String, Long],
                                  rewrittenChunks: Seq[Long]) {
    /** The table's chunking, required by every rewrite of it. */
    def chunking: (String, Int) =
      (chunkKey.getOrElse(throw new IllegalStateException("manifest missing chunk_key")),
       numChunks.getOrElse(throw new IllegalStateException("manifest missing num_chunks")))
  }

  /** A whole manifest: its head, the per-file stat entries grouped by file
    * key (`<chunk>/<filename>`, entry order preserved), and the per-chunk
    * lineage's row total and file keys. */
  private case class Manifest(head: ManifestHead,
                              fileStats: Map[String, Seq[Map[String, String]]],
                              rows: Long, fileKeys: Set[String])

  private def jsonObj(v: Any): Map[String, Any] = v match {
    case m: Map[_, _] => m.asInstanceOf[Map[String, Any]]
    case other => throw new IllegalArgumentException(s"manifest: expected an object, got $other")
  }

  private def jsonArr(v: Any): Vector[Any] = v match {
    case a: Vector[_] => a
    case other => throw new IllegalArgumentException(s"manifest: expected an array, got $other")
  }

  /** A flat stat entry: every value a string (or number text). */
  private def jsonStrObj(v: Any): Map[String, String] = {
    val m = jsonObj(v)
    require(m.valuesIterator.forall(_.isInstanceOf[String]),
      s"manifest: expected a flat string object, got $m")
    m.asInstanceOf[Map[String, String]]
  }

  private def headOf(f: Map[String, Any]): ManifestHead = {
    def text(key: String) = f.get(key).collect { case s: String => s }
    ManifestHead(
      append = f.get("append").contains(true),
      tag = text("tag").getOrElse(""),
      chunkKey = text("chunk_key"),
      numChunks = text("num_chunks").map(_.toInt),
      metrics = f.get("metrics").fold(Map.empty[String, Long])(m =>
        jsonObj(m).map { case (key, v) => key -> v.toString.toLong }),
      rewrittenChunks = f.get("rewritten_chunks").fold(Seq.empty[Long])(a =>
        jsonArr(a).map(_.toString.toLong)))
  }

  /** Head of manifest `k` from a bounded byte prefix, grown (8 KB,
    * doubling) only until the top-level `filestats` key is reached:
    * per-micro-batch readers ([[committedTags]], [[metricsOfTag]],
    * [[metricsHistory]], the readAppended probe) never pay a read that
    * scales with the table's file count. Bytes accumulate raw and decode
    * whole, so a read boundary can never split a multi-byte character. */
  private def head(table: Path, k: Int): ManifestHead = {
    val p = manifestPath(table, k)
    val in = Files.newInputStream(p)
    try {
      val buf = new java.io.ByteArrayOutputStream(8192)
      var n = 8192
      var fields = Option.empty[Map[String, Any]]
      while (fields.isEmpty) {
        val chunk = in.readNBytes(n)
        buf.write(chunk)
        fields = Json.parsePrefix(
          buf.toString(java.nio.charset.StandardCharsets.UTF_8), "filestats")
        require(fields.isDefined || chunk.length == n, s"truncated manifest $p")
        n = math.min(n * 2, 1 << 22)
      }
      headOf(fields.get)
    } finally in.close()
  }

  private def manifest(table: Path, k: Int): Manifest = {
    val f = jsonObj(Json.parse(Files.readString(manifestPath(table, k))))
    val chunks = f.get("chunks").fold(Map.empty[String, Any])(jsonObj)
      .map { case (c, v) => c -> jsonObj(v) }
    Manifest(headOf(f),
      f.get("filestats").fold(Vector.empty[Any])(jsonArr).map(jsonStrObj)
        .groupBy(_("file")),
      chunks.valuesIterator.map(_("rows").toString.toLong).sum,
      chunks.iterator.flatMap { case (c, m) =>
        jsonArr(m("files")).map(name => s"$c/$name") }.toSet)
  }

  /** Committed metrics of the snapshot carrying `tag`, if any — the
    * replay-path accessor for exactly-once batch commits
    * (`Extraction.incrementalCommit`): a tag hit resolves to the tagged
    * version's manifest metrics so replays honor the same return contract
    * as the run that committed. Pure head-prefix metadata reads. */
  def metricsOfTag(tablePath: String, tag: String): Option[Map[String, Long]] = {
    val table = Paths.get(tablePath)
    tagVersion(table, tag).map(head(table, _).metrics)
  }

  /** Highest committed version whose manifest carries `tag`, if any. A table
    * directory that does not exist yet carries no tags (a tagged first
    * commit to a new table path). */
  private def tagVersion(table: Path, tag: String): Option[Int] =
    versions(table).reverseIterator.find(head(table, _).tag == tag)

  /** Lineage parent of a new snapshot `k`: the highest committed version
    * BELOW it, from the manifests — never the raw CURRENT pointer, which
    * under-reports on a wedged table (kill between manifest and pointer
    * swap) and would record a lineage chain that skips the wedged
    * version. */
  private def parentOf(table: Path, k: Int): Int =
    versions(table).filter(_ < k).lastOption.getOrElse(-1)

  // ---------------------------------------------------------------- stats
  // Per-FILE column statistics, Iceberg-style: rows + min/max/null-count per
  // column, read from the parquet FOOTERS at commit time (metadata-only — no
  // data page is ever decoded) and recorded in the manifest as an array of
  // flat JSON objects. Hard-linked files (delta appends, untouched
  // copy-on-write chunks) reuse their parent manifest's entries verbatim, so
  // an append to a 10^12-row table reads only the NEW files' footers.
  // [[readWhere]] prunes files against these stats before the scan ever
  // lists them — the manifest-level data skipping that makes "last 3 days"
  // queries on an append-only corpus read 3 days, not the whole table.

  /** min/max encoding: "long"/"double" = decimal; "string" = lowercase hex
    * of the UTF-8 bytes, truncated to [[StatsMaxBytes]] with the parquet
    * bound-preserving adjustment (prefix for min; prefix with the last
    * non-0xFF byte incremented for max). `hasNonNull = false` means the
    * file is all-null for the column (min/max empty, every range predicate
    * prunes it). `pt` is the parquet PHYSICAL type ("i32"/"i64"/"f32"/
    * "f64"/"bin") — needed by chunk-hash pruning, because `xxhash64`
    * hashes Int and Long differently and the chunk a key lives in was
    * decided by the column's type at write time. `approx = true` marks
    * truncation-adjusted string bounds: still sound for pruning, but never
    * reported as exact by [[tableStats]]. `lk` is the LOGICAL kind the
    * stored numbers are in — "int" (plain integral), "date" (days),
    * "tsu"/"tsn" (timestamp micros, UTC-adjusted vs wall-clock), ""
    * (double/string) — and comparisons only
    * happen between a literal and a bound of the SAME kind: a decimal
    * column (unscaled storage) gets no stat at all, and a date literal
    * never compares against timestamp-micros bounds. `nulls = -1` means
    * the footer did not carry a null count (IS NULL can never prune). */
  private case class ColStat(t: String, min: String, max: String,
                             nulls: Long, hasNonNull: Boolean, pt: String = "",
                             approx: Boolean = false, lk: String = "")

  private val StatsMaxBytes = 48

  private def hex(bs: Array[Byte]): String = bs.map("%02x".format(_)).mkString
  private def unhex(s: String): Array[Byte] =
    s.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

  /** Truncated UPPER bound for a byte-ordered max: prefix with its last
    * non-0xFF byte incremented (the suffix after it drops). None when every
    * byte is 0xFF — the caller drops the stat rather than record an
    * incorrect bound. */
  private def truncateUpper(bs: Array[Byte]): Option[Array[Byte]] = {
    if (bs.length <= StatsMaxBytes) return Some(bs)
    val p = bs.take(StatsMaxBytes)
    var i = p.length - 1
    while (i >= 0 && p(i) == 0xFF.toByte) i -= 1
    if (i < 0) None
    else Some(java.util.Arrays.copyOf(p, i + 1).updated(i, (p(i) + 1).toByte))
  }

  /** Footer scan of one parquet file: (row count, per-column stats).
    * Columns whose physical type has no byte-comparable stat mapping —
    * or whose footer carries no usable statistics — are simply absent
    * (absent = unpruneable, never unsafe). */
  private lazy val hadoopConf = new org.apache.hadoop.conf.Configuration()

  private def footerFileStats(file: Path): (Long, Seq[(String, ColStat)]) = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val rd = ParquetFileReader.open(HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(file.toUri), hadoopConf))
    try {
      val blocks = rd.getFooter.getBlocks.asScala.toSeq
      val rows = blocks.map(_.getRowCount).sum
      val byCol = blocks.flatMap(_.getColumns.asScala).groupBy(_.getPath.toDotString)
      (rows, byCol.toSeq.sortBy(_._1).flatMap { case (name, chunks) =>
        colStatOf(chunks).map(name -> _)
      })
    } finally rd.close()
  }

  /** Footer row counts of parquet files (URI strings, as a file index
    * lists them) — no Spark job, no data page — read through `conf`, so
    * the file system settings of the caller's session apply. The read
    * options are built once for every file the returned reader opens. */
  private[graft] def footerRows(conf: org.apache.hadoop.conf.Configuration): String => Long = {
    import org.apache.parquet.HadoopReadOptions
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val options = HadoopReadOptions.builder(conf).build()
    file => {
      val rd = ParquetFileReader.open(HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(new java.net.URI(file)), conf), options)
      try rd.getRecordCount finally rd.close()
    }
  }

  private def colStatOf(
      chunks: Seq[org.apache.parquet.hadoop.metadata.ColumnChunkMetaData])
      : Option[ColStat] = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import org.apache.parquet.schema.LogicalTypeAnnotation
    val prim = chunks.head.getPrimitiveType
    val ann = prim.getLogicalTypeAnnotation
    // logical kind gates comparability: stored numbers only ever compare
    // against literals of the SAME unit. Decimal (unscaled storage),
    // unsigned ints, and non-micro timestamps get NO stat — absent is
    // conservative; a wrong-unit comparison would prune matching rows.
    val intKind: Option[String] = ann match {
      case null => Some("int")
      case i: LogicalTypeAnnotation.IntLogicalTypeAnnotation if i.isSigned => Some("int")
      case _: LogicalTypeAnnotation.DateLogicalTypeAnnotation => Some("date")
      case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation
          if t.getUnit == LogicalTypeAnnotation.TimeUnit.MICROS =>
        // UTC-adjusted (TimestampType) vs wall-clock (NTZ) micros differ by
        // the session-zone offset under a cast — never comparable cross-kind
        Some(if (t.isAdjustedToUTC) "tsu" else "tsn")
      case _ => None
    }
    val (tag, pt, lk) = prim.getPrimitiveTypeName match {
      case INT64 => ("long", "i64", intKind.getOrElse(return None))
      case INT32 => ("long", "i32", intKind.getOrElse(return None))
      case DOUBLE => ("double", "f64", "")
      case FLOAT => ("double", "f32", "")
      case BINARY if ann
        .isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation] =>
        ("string", "bin", "")
      case _ => return None
    }
    val sts = chunks.map(_.getStatistics)
    if (sts.exists(_ == null)) return None
    // SOUNDNESS GATE for omitted bounds: parquet-mr DROPS a chunk's min/max
    // when min+max exceed MAX_STATS_SIZE (4 KB — routine for long document
    // text) while still writing null_count. A bound-less chunk is therefore
    // NOT evidence of an all-null chunk: conclude "no non-null values" ONLY
    // when null_count PROVES it (numNulls == valueCount). Any chunk that
    // lacks bounds without that proof poisons the whole column's stat —
    // bounds from the other chunks would not cover its values, and an
    // "all-null" verdict would let readWhere prune files full of matches.
    val counts = chunks.map(_.getValueCount)
    if (sts.zip(counts).exists { case (s, vc) =>
        !s.hasNonNullValue && s.getNumNulls != vc })
      return None
    // -1 = some footer omitted its null count: bounds still prune, IS NULL
    // never does (nulls=0 would wrongly prune a null-bearing file)
    val nulls = if (sts.exists(_.getNumNulls < 0)) -1L
                else sts.map(_.getNumNulls).sum
    val valued = sts.filter(_.hasNonNullValue)
    if (valued.isEmpty) // every chunk PROVED all-null above
      return Some(ColStat(tag, "", "", nulls, hasNonNull = false, pt, lk = lk))
    tag match {
      case "long" =>
        val mins = valued.map(_.genericGetMin.asInstanceOf[Number].longValue)
        val maxs = valued.map(_.genericGetMax.asInstanceOf[Number].longValue)
        Some(ColStat(tag, mins.min.toString, maxs.max.toString, nulls, true, pt, lk = lk))
      case "double" =>
        val mins = valued.map(_.genericGetMin.asInstanceOf[Number].doubleValue)
        val maxs = valued.map(_.genericGetMax.asInstanceOf[Number].doubleValue)
        if (mins.exists(_.isNaN) || maxs.exists(_.isNaN)) None
        else
          // raw footer bounds: tableStats stays exact; the -0.0/0.0
          // widening SQL equality needs happens at COMPARE time
          // (cmpBounds), which also covers older manifests
          Some(ColStat(tag, mins.min.toString, maxs.max.toString, nulls, true, pt))
      case "string" =>
        val ord = (a: Array[Byte], b: Array[Byte]) =>
          java.util.Arrays.compareUnsigned(a, b)
        val mins = valued.map(_.genericGetMin
          .asInstanceOf[org.apache.parquet.io.api.Binary].getBytes)
        val maxs = valued.map(_.genericGetMax
          .asInstanceOf[org.apache.parquet.io.api.Binary].getBytes)
        val mn = mins.reduce((a, b) => if (ord(a, b) <= 0) a else b)
        val mx = maxs.reduce((a, b) => if (ord(a, b) >= 0) a else b)
        truncateUpper(mx).map(up =>
          ColStat(tag, hex(mn.take(StatsMaxBytes)), hex(up), nulls, true, pt,
            approx = mn.length > StatsMaxBytes || mx.length > StatsMaxBytes))
    }
  }

  /** Flat JSON entries for one file: a rows record plus one record per
    * column stat. Field order is pinned so parent-manifest reuse re-renders
    * byte-identically. */
  private def statsEntries(fileKey: String, rows: Long,
                           cols: Seq[(String, ColStat)]): Seq[String] =
    Json.obj("file" -> Json.str(fileKey), "rows" -> Json.str(rows.toString)) +:
    cols.map { case (c, s) =>
      Json.obj((Seq("file" -> Json.str(fileKey), "col" -> Json.str(c),
        "t" -> Json.str(s.t), "pt" -> Json.str(s.pt)) ++
        (if (s.lk.nonEmpty) Seq("lk" -> Json.str(s.lk)) else Nil) ++
        Seq("min" -> Json.str(s.min), "max" -> Json.str(s.max),
        "nulls" -> Json.str(s.nulls.toString),
        "nn" -> Json.str(if (s.hasNonNull) "1" else "0")) ++
        (if (s.approx) Seq("ap" -> Json.str("1")) else Nil)): _*)
    }

  private def atomicWrite(target: Path, content: String): Unit = {
    // writer-unique tmp: wedged-table repair (finishCommitted) runs from
    // every reader's recovery path, so concurrent parties must not collide
    // on one fixed tmp name (the loser's move would throw NoSuchFile)
    val tmp = target.resolveSibling(target.getFileName.toString +
      s".tmp-${ProcessHandle.current().pid()}-${Thread.currentThread().getId}")
    Files.writeString(tmp, content)
    Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** Atomic-EXCLUSIVE commit of a version's manifest — the one contested
    * point of the protocol. `link(2)` publishes the file iff no other
    * writer has (create-if-absent is atomic, unlike exists-then-move). A
    * pre-existing IDENTICAL manifest is this commit's own replay (manifests
    * are fully deterministic — no timestamps, stable field/stat order) and
    * a no-op; a DIFFERENT one means a second live writer raced the same
    * snapshot version — fail loudly instead of silently clobbering the
    * winner's commit. Coordination beyond this guard (true multi-writer)
    * needs an external catalog CAS, exactly as Apache Iceberg requires of
    * its catalogs: single-writer-per-table is this emulation's documented
    * contract, and this claim turns a violated contract into an error
    * rather than a corrupted table. */
  private[graft] def claimManifest(table: Path, k: Int, content: String): Unit = {
    val target = manifestPath(table, k)
    val tmp = target.resolveSibling(
      s"${target.getFileName}.tmp-${ProcessHandle.current().pid()}-${System.nanoTime()}")
    Files.writeString(tmp, content)
    try { Files.createLink(target, tmp); Files.delete(tmp) }
    catch { case _: java.nio.file.FileAlreadyExistsException =>
      Files.delete(tmp)
      if (Files.readString(target) != content)
        throw new java.util.ConcurrentModificationException(
          s"manifest-v$k.json of $table was committed concurrently with different " +
          "content (two writers raced the same snapshot version); this table is " +
          "single-writer-per-table — serialize commits or assign versions externally")
    }
  }

  /** Resume path for a commit whose manifest already landed: the manifest IS
    * the commit, but a kill between the manifest write and the CURRENT swap
    * would otherwise wedge the table forever (every rerun computes the same
    * k, sees the manifest, and returns — CURRENT never advances, all future
    * commits silently no-op). Finish the swap + staging cleanup here. */
  private def finishCommitted(table: Path, k: Int): Boolean = {
    val mf = manifestPath(table, k)
    if (!Files.exists(mf)) return false
    if (currentVersion(table).getOrElse(-1) < k)
      atomicWrite(table.resolve("CURRENT"), k.toString)
    deleteRecursively(table.resolve(s"_staging-v$k"))
    // a kill between claimManifest's link() and its tmp delete leaves
    // harmless (full-name-match-ignored) litter: sweep it here
    listDir(table).filter(_.getFileName.toString.startsWith(s"${mf.getFileName}.tmp-"))
      .foreach(p => try Files.deleteIfExists(p) catch { case _: java.io.IOException => () })
    true
  }

  /** Shared commit tail of write/append/cowRewrite: per-chunk lineage +
    * per-file column stats from the promoted data dir, manifest (the commit
    * point), CURRENT swap, staging cleanup. `extraFields` go into the
    * manifest verbatim.
    *
    * Rows and stats come from parquet FOOTERS, never a data scan — and a
    * file present in `parentStats` (hard-linked by append / copy-on-write,
    * same `<chunk>/<name>` key: names are version-prefixed so a reused name
    * is the same inode) re-renders its parent entries without touching the
    * file at all. A delta append to an arbitrarily large table therefore
    * costs footer reads for its NEW files only. A full write links no
    * parent file (its staged names carry a fresh job id), so it passes no
    * parent stats and never parses the parent manifest body. */
  private def commitManifest(table: Path, k: Int,
                             parent: Int, chunkKey: String, numChunks: Int,
                             observed: Map[String, Long],
                             tag: String,
                             extraFields: Seq[(String, String)],
                             parentStats: Map[String, Seq[Map[String, String]]]): Unit = {
    requireSafeMetricKeys(observed) // fail-loud before any framing
    val dataDir = table.resolve(s"v$k")
    val statEntryOrder = Seq("file", "rows", "col", "t", "pt", "lk", "min", "max", "nulls", "nn", "ap")
    val chunkFiles: Seq[(Long, Seq[String])] = chunkDirs(dataDir).map(chunkId).sorted
      .map(c => c -> parquetFiles(dataDir.resolve(s"_chunk=$c")).map(_.getFileName.toString).sorted)
    // reuse only current-format parent entries (pt present; long stats
    // carry their logical kind): pre-upgrade entries re-derive from the
    // footer ONCE here, so old tables self-heal instead of carrying
    // unprunable stats forward forever
    def reusable(key: String): Option[Seq[Map[String, String]]] =
      parentStats.get(key).filter(entries =>
        entries.exists(_.contains("rows")) &&
          entries.filter(_.contains("col")).forall(e =>
            e.contains("pt") && (e("t") != "long" || e.contains("lk"))))
    // footer reads for files with no reusable parent entry run on a bounded
    // driver pool: a clustered rowsPerFile write cuts hundreds of files and
    // sequential footer opens were the commit's wall (driver-side metadata
    // work, guide §5 — the manifest text below stays deterministic because
    // assembly order is still the sorted (chunk, file) order)
    val toRead = for {
      (c, files) <- chunkFiles; f <- files
      if reusable(s"$c/$f").isEmpty
    } yield (s"$c/$f", dataDir.resolve(s"_chunk=$c").resolve(f))
    val freshStats: Map[String, (Long, Seq[(String, ColStat)])] =
      if (toRead.size <= 1) toRead.map { case (k0, p) => k0 -> footerFileStats(p) }.toMap
      else {
        val pool = java.util.concurrent.Executors.newFixedThreadPool(
          math.min(16, toRead.size))
        try {
          import scala.jdk.CollectionConverters._
          pool.invokeAll(toRead.map { case (k0, p) =>
            new java.util.concurrent.Callable[(String, (Long, Seq[(String, ColStat)]))] {
              def call() = k0 -> footerFileStats(p)
            }
          }.asJava).asScala.map(_.get()).toMap
        } finally pool.shutdown()
      }
    val allEntries = scala.collection.mutable.ArrayBuffer[String]()
    val chunkJson = chunkFiles.map { case (c, files) =>
      var rows = 0L
      files.foreach { f =>
        val key = s"$c/$f"
        reusable(key) match {
          case Some(entries) =>
            rows += entries.iterator.flatMap(_.get("rows")).next().toLong
            allEntries ++= entries.map(e => Json.obj(
              statEntryOrder.collect { case fld if e.contains(fld) =>
                fld -> Json.str(e(fld)) }: _*))
          case None =>
            val (r, cols) = freshStats(key)
            rows += r
            allEntries ++= statsEntries(key, r, cols)
        }
      }
      c.toString -> Json.obj(
        "rows" -> rows.toString,
        "files" -> Json.arr(files.map(Json.str)))
    }
    // extraFields stay at the HEAD of the manifest: readAppended's
    // append-only probe reads a bounded prefix per range version, not the
    // (table-sized) filestats body
    val fields =
      Seq("snapshot" -> k.toString, "parent" -> parent.toString) ++
      extraFields ++
      Seq("tag" -> Json.str(tag),
        "chunk_key" -> Json.str(chunkKey),
        "num_chunks" -> numChunks.toString,
        "metrics" -> Json.obj(observed.toSeq.sortBy(_._1)
          .map { case (key, v) => key -> v.toString }: _*),
        "filestats" -> Json.arr(allEntries),
        "chunks" -> Json.obj(chunkJson: _*))
    claimManifest(table, k, Json.obj(fields: _*))
    if (currentVersion(table).getOrElse(-1) < k)
      atomicWrite(table.resolve("CURRENT"), k.toString)
    deleteRecursively(table.resolve(s"_staging-v$k"))
  }

  /** The one chunk exchange of every staged commit. `_chunk` is
    * `pmod(xxhash64(chunkKey), numChunks)`, never null, so it already is a
    * partition id: each chunk goes to the task of its own index and lands
    * as one file, whatever the upstream width. A hash exchange on `_chunk`
    * would Murmur3 the id again and fold chunks together (32 into 20 tasks). */
  private def byChunk(numChunks: Int)(chunked: DataFrame): DataFrame =
    chunked.repartitionById(numChunks, col("_chunk").cast("int"))

  /** Layout of the public `write`/`append` (Iceberg write-ordered-by):
    * [[byChunk]], rows sorted by (chunk, clusterBy…) within each task, and
    * `rowsPerFile` cutting the sorted run into sequential files — every
    * file covers a DISJOINT clusterBy range, so the manifest stats make
    * [[readWhere]] range predicates prune inside every chunk, and the file
    * count tracks rows/rowsPerFile, not buckets × chunks.
    *
    * A clustered write that asks for many files per chunk (`rowsPerFile >
    * 0`, the z-order layout) on a session wider than `numChunks`
    * range-partitions on (_chunk, clusterBy…) across that width instead
    * (Iceberg write.distribution-mode=range): the same disjoint key ranges,
    * with the file cutting spread machine-wide (one task per chunk
    * serialized ~100 tiny-file writes: 2.3 s of the 2.9 s
    * q_snapshot_zorder line). With `rowsPerFile` 0 no range exchange runs. */
  private def clustered(numChunks: Int, clusterBy: Seq[String], rowsPerFile: Long)
                       (chunked: DataFrame): DataFrame =
    if (clusterBy.isEmpty) byChunk(numChunks)(chunked)
    else {
      // expr, not col: cluster keys may be computed (`zorder2(user_id, ts)`
      // sorts by the Morton key without storing it) or plain column names
      val keys = col("_chunk") +: clusterBy.map(expr)
      lazy val width = chunked.sparkSession.sparkContext.defaultParallelism
      (if (rowsPerFile > 0 && width > numChunks) chunked.repartitionByRange(width, keys: _*)
       else byChunk(numChunks)(chunked))
        .sortWithinPartitions(keys: _*)
    }

  /** Write `df` as snapshot `snapshotId` of `tablePath`, chunked by
    * `pmod(xxhash64(chunkKey), numChunks)`. Safe to re-invoke after a kill at
    * any point; a completed snapshot is a no-op. Returns observed metrics.
    *
    * Resume contract corollary: a rerun after a kill RESUMES the staged
    * attempt — it commits the data staged by the killed run, not a re-read
    * of `df` (that is what makes resume cheap: the write job never
    * re-executes past the `_STAGED` marker). Re-invoking a half-committed
    * version with a DIFFERENT input is therefore a contract violation of
    * the same single-writer family `claimManifest` guards at the manifest:
    * delete `_staging-v<k>`/`v<k>` first if the input legitimately changed.
    *
    * `clusterBy` sorts rows by the given columns within each chunk and
    * `rowsPerFile > 0` splits the sorted run into that many rows per file —
    * together they give each data file a tight, disjoint min/max range on
    * the cluster columns, which is what makes [[readWhere]] prune range
    * predicates on NON-chunk columns (recency scans on a key-chunked
    * table). */
  def write(df: DataFrame, tablePath: String, chunkKey: String,
            numChunks: Int, snapshotId: Int = -1,
            observation: Option[org.apache.spark.sql.Observation] = None,
            tag: String = "", clusterBy: Seq[String] = Nil,
            rowsPerFile: Long = 0): Map[String, Long] =
    writeStaged(df, tablePath, chunkKey, numChunks, snapshotId, observation, tag,
      clustered(numChunks, clusterBy, rowsPerFile), rowsPerFile)

  private def writeStaged(df: DataFrame, tablePath: String, chunkKey: String,
                          numChunks: Int, snapshotId: Int,
                          observation: Option[org.apache.spark.sql.Observation],
                          tag: String, layout: DataFrame => DataFrame,
                          rowsPerFile: Long): Map[String, Long] = {
    requireCommittable(df, tag)
    val table = Paths.get(tablePath)
    Files.createDirectories(table)
    // auto-id from the committed tip (manifest scan), not CURRENT: on a
    // wedged table CURRENT under-reports and the new snapshot would collide
    // with the wedged version's manifest, silently dropping this df
    val k = if (snapshotId >= 0) snapshotId
            else recoverCommitted(table).getOrElse(-1) + 1
    // already committed: the staging marker is gone, but the manifest still
    // knows the metrics — honor the return contract on replays too
    if (finishCommitted(table, k)) return head(table, k).metrics

    // 1. stage
    val observed = stage(df, table, k, chunkKey, numChunks, observation, layout,
      rowsPerFile)

    // 2. promote chunk dirs (idempotent)
    val dataDir = table.resolve(s"v$k")
    Files.createDirectories(dataDir)
    chunkDirs(stagedData(table, k)).sortBy(_.toString).foreach { cd =>
      val dst = dataDir.resolve(cd.getFileName.toString)
      if (!Files.exists(dst))
        Files.move(cd, dst, StandardCopyOption.ATOMIC_MOVE)
    }

    // 3+4. manifest (= the commit, per-chunk lineage from parquet footers
    // only), pointer swap, staging cleanup
    commitManifest(table, k, parentOf(table, k),
      chunkKey, numChunks, observed, tag, Nil, Map.empty)
    observed
  }

  /** Caller-input checks every commit makes before touching the table. */
  private def requireCommittable(df: DataFrame, tag: String): Unit = {
    requireSafeTag(tag)
    require(!df.columns.contains("_chunk"),
      "_chunk is the table's reserved layout column: write/append/upsert " +
      "would silently overwrite it and reads drop it — rename the column")
  }

  private def stagedData(table: Path, k: Int): Path =
    table.resolve(s"_staging-v$k").resolve("data")

  /** Stage step of write/append: [[writeChunks]] writes every chunk of
    * `df` in one Spark job, then the `_STAGED` marker lands carrying
    * the observed metrics — restarted from scratch if the marker never
    * landed. Returns the metrics from the marker, not the Observation: on a
    * resumed commit the write job never re-runs, so only the marker still
    * knows them. */
  private def stage(df: DataFrame, table: Path, k: Int, chunkKey: String,
                    numChunks: Int,
                    observation: Option[org.apache.spark.sql.Observation],
                    layout: DataFrame => DataFrame,
                    rowsPerFile: Long): Map[String, Long] = {
    val staging = table.resolve(s"_staging-v$k")
    val stagedMarker = staging.resolve("_STAGED")
    if (!Files.exists(stagedMarker)) {
      if (Files.exists(staging)) deleteRecursively(staging)
      writeChunks(df, table, k, chunkKey, numChunks, layout, rowsPerFile)
      val m = observation.map(_.get.collect {
        case (key, v: Long) => key -> v
        case (key, v: Int) => key -> v.toLong
      }).getOrElse(Map.empty[String, Long])
      atomicWrite(stagedMarker, metricsMarker(m))
    }
    markerMetrics(stagedMarker)
  }

  /** The one staged write of every commit: tag each row of `df` with its
    * chunk, apply `layout` ([[clustered]] for `write`/`append`, [[byChunk]]
    * for the copy-on-write rewrite, `identity` for [[commitAligned]]'s
    * already-routed frame), and write it partitioned by `_chunk` under
    * `_staging-v<k>/data`. */
  private def writeChunks(df: DataFrame, table: Path, k: Int, chunkKey: String,
                          numChunks: Int, layout: DataFrame => DataFrame,
                          rowsPerFile: Long = 0): Unit = {
    val w = layout(df.withColumn("_chunk", pmod(xxhash64(col(chunkKey)), lit(numChunks))))
      .write.partitionBy("_chunk").mode("overwrite")
    (if (rowsPerFile > 0) w.option("maxRecordsPerFile", rowsPerFile) else w)
      .parquet(stagedData(table, k).toString)
  }

  /** Promote step of append and copy-on-write: hard-link the parquet files
    * of every parent chunk `relink` accepts into `v<k>` (metadata-only
    * reuse), then move each staged file in as `<prefix><k>-<name>`, so it
    * never collides with a linked one. Idempotent: links and moves already
    * made are skipped on a rerun. */
  private def linkAndPromote(table: Path, parent: Int, k: Int, prefix: String,
                             relink: Long => Boolean): Path = {
    val dataDir = table.resolve(s"v$k")
    Files.createDirectories(dataDir)
    def into(cd: Path)(place: (Path, Path) => Unit): Unit = {
      val dst = dataDir.resolve(cd.getFileName.toString)
      Files.createDirectories(dst)
      parquetFiles(cd).foreach(f => place(f, dst))
    }
    chunkDirs(table.resolve(s"v$parent")).filter(cd => relink(chunkId(cd)))
      .foreach(into(_) { (f, dst) =>
        val lnk = dst.resolve(f.getFileName.toString)
        if (!Files.exists(lnk)) Files.createLink(lnk, f)
      })
    val staged = stagedData(table, k)
    if (Files.exists(staged))
      chunkDirs(staged).foreach(into(_) { (f, dst) =>
        val moved = dst.resolve(s"$prefix$k-${f.getFileName}")
        if (!Files.exists(moved)) Files.move(f, moved, StandardCopyOption.ATOMIC_MOVE)
      })
    dataDir
  }

  /** Read the CURRENT snapshot (or an explicit version) of a table.
    * `mergeSchema = true` reconciles per-file schemas — needed to read a
    * version whose delta-appended files added a column (schema evolution:
    * pre-existing rows surface the new column as null). Off by default: the
    * merged-footer scan costs one footer read per file. */
  def read(spark: SparkSession, tablePath: String, version: Int = -1,
           mergeSchema: Boolean = false): DataFrame = {
    // tip from the manifests (repairing a wedged CURRENT on the way), never
    // the raw pointer: a kill between manifest write and pointer swap must
    // not make the default read disagree with readByTag on the same table
    val k = versionOrTip(tablePath, version)
    spark.read.option("mergeSchema", mergeSchema.toString)
      .parquet(Paths.get(tablePath).resolve(s"v$k").toString).drop("_chunk")
  }

  /** Read with manifest-level data skipping: whole FILES are pruned against
    * the per-file column stats recorded at commit time, before the scan ever
    * lists them, then `predicate` applies as a normal residual filter (so
    * the result is always exactly `read(...).filter(predicate)`). Pruning
    * handles `And`/`Or` of `=`, `<`, `<=`, `>`, `>=`, `IN`, `IS [NOT] NULL`
    * over stat-typed columns (integral/date/timestamp, floating, string);
    * any other sub-predicate simply keeps the file (absent stat = never
    * unsafe). This is what makes "last 3 days" on an append-only 10^12-row
    * corpus read 3 days of files, not the whole table: appended files carry
    * tight min/max on their ingest keys, and the prune is a pure manifest
    * read — no footer, no task, no listing of pruned chunks. */
  def readWhere(spark: SparkSession, tablePath: String,
                predicate: org.apache.spark.sql.Column, version: Int = -1,
                mergeSchema: Boolean = false): DataFrame = {
    val table = Paths.get(tablePath)
    val k = versionOrTip(tablePath, version)
    val dataDir = table.resolve(s"v$k")
    val expr = org.apache.spark.sql.GraftColumnBridge.catalystExpression(predicate)
    val (kept, total) = pruneFilesExpr(table, k, expr)
    val rd = spark.read.option("mergeSchema", mergeSchema.toString)
    val base =
      if (kept.size == total) rd.parquet(dataDir.toString)
      else if (kept.isEmpty) rd.parquet(dataDir.toString).where(lit(false))
      else {
        val pruned = rd.option("basePath", dataDir.toString)
          .parquet(kept.map(_.toString): _*)
        // schema evolution: if pruning dropped every file CARRYING a
        // predicate column, the residual filter could not resolve over the
        // survivors — fall back to the full read (correct, merely unpruned)
        val refs = expr.collect {
          case u: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute => u.name
          case r: org.apache.spark.sql.catalyst.expressions.AttributeReference => r.name
        }.toSet
        if (!refs.subsetOf(pruned.columns.toSet)) rd.parquet(dataDir.toString)
        else if (!mergeSchema) pruned
        else {
          // mergeSchema contract: the result schema must equal the FULL
          // merged table schema even when every file CARRYING a
          // delta-evolved non-predicate column was pruned. Surviving rows
          // come from files without that column, so the full read would
          // surface it null for exactly these rows — null-filling the
          // union schema onto the pruned frame IS read(...).filter(pred),
          // keeping the prune instead of falling back to a full scan. The
          // merged-footer schema probe costs what any mergeSchema read
          // already accepts (one footer per file, no data tasks).
          val fullSchema = rd.parquet(dataDir.toString).schema
          val have = pruned.columns.toSet
          val missing = fullSchema.filterNot(f => have.contains(f.name))
          if (missing.isEmpty) pruned
          else missing.foldLeft(pruned)((df, f) =>
              df.withColumn(f.name, lit(null).cast(f.dataType)))
            .select(fullSchema.map(f => col(f.name)): _*)
        }
      }
    base.drop("_chunk").filter(predicate)
  }

  /** The prune decision behind [[readWhere]], exposed for tests and
    * observability: (surviving parquet files, total file count) of version
    * `k` under `predicate`. Files without recorded stats always survive. */
  private[graft] def pruneFiles(table: Path, k: Int,
                                predicate: org.apache.spark.sql.Column): (Seq[Path], Int) =
    pruneFilesExpr(table, k,
      org.apache.spark.sql.GraftColumnBridge.catalystExpression(predicate))

  private def pruneFilesExpr(table: Path, k: Int,
      expr: org.apache.spark.sql.catalyst.expressions.Expression): (Seq[Path], Int) = {
    val mf = manifest(table, k)
    val all = chunkDirs(table.resolve(s"v$k")).sortBy(_.toString).flatMap { cd =>
      parquetFiles(cd).sortBy(_.toString).map(f => (s"${chunkId(cd)}/${f.getFileName}", f))
    }
    // chunk-hash pruning: an equality/IN predicate on the table's chunk key
    // pins the chunks those values hash to — every other chunk's files drop
    // without a stat comparison. Hashed per (physical, logical) type pair,
    // memoized.
    val chunkKeyCol = mf.head.chunkKey
    val numChunks = mf.head.numChunks
    val chunkSetCache = scala.collection.mutable.Map[(String, String), Option[Set[Long]]]()
    def allowedFor(pt: String, lk: String): Option[Set[Long]] =
      chunkSetCache.getOrElseUpdate((pt, lk), (chunkKeyCol, numChunks) match {
        case (Some(ck), Some(n)) if pt.nonEmpty => allowedChunks(expr, ck, pt, lk, n)
        case _ => None
      })
    val kept = all.collect {
      case (key, f) if {
        val cs = mf.fileStats.get(key).map(colStatsFor)
        val chunkOk = cs.flatMap(c => chunkKeyCol.flatMap(c.get)) match {
          case Some(st) =>
            allowedFor(st.pt, st.lk).forall(_.contains(key.takeWhile(_ != '/').toLong))
          case None => true
        }
        chunkOk && cs.forall(fileSurvives(expr, _))
      } => f
    }
    (kept, all.size)
  }

  private def attrNameOf(
      a: org.apache.spark.sql.catalyst.expressions.Expression): Option[String] = a match {
    case u: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute => Some(u.name)
    case r: org.apache.spark.sql.catalyst.expressions.AttributeReference => Some(r.name)
    case _ => None
  }

  /** Driver-side replica of the write path's chunk assignment
    * `pmod(xxhash64(col(chunkKey)), numChunks)` for ONE literal key value,
    * hashed at the file's recorded PHYSICAL type (`xxhash64` of Int and
    * Long differ, and the chunk a key landed in was decided by the
    * column's type at that file's write time) and gated on the LOGICAL
    * kind (a date literal must not hash against a timestamp column's
    * micros). None = not computable — no chunk pruning. */
  private def chunkOf(lit: org.apache.spark.sql.catalyst.expressions.Literal,
                      pt: String, lk: String, numChunks: Int): Option[Long] = {
    import org.apache.spark.sql.catalyst.expressions.{Literal => CLit, XxHash64}
    import org.apache.spark.sql.types._
    import org.apache.spark.unsafe.types.UTF8String
    val typed: Option[CLit] = (pt, lk, lit.dataType, lit.value) match {
      // hash expressions leave the seed untouched on null — type-free
      case (_, _, _, null) => Some(CLit(null, StringType))
      case ("i64", "int", ByteType | ShortType | IntegerType | LongType, v: Number) =>
        Some(CLit(v.longValue, LongType))
      case ("i64", "tsu", TimestampType, v: java.lang.Long) =>
        Some(CLit(v.longValue, LongType))
      case ("i64", "tsn", TimestampNTZType, v: java.lang.Long) =>
        Some(CLit(v.longValue, LongType))
      case ("i32", "int", ByteType | ShortType | IntegerType | LongType, v: Number)
          if v.longValue.isValidInt =>
        Some(CLit(v.intValue, IntegerType))
      case ("i32", "date", DateType, v: Integer) =>
        Some(CLit(v.intValue, IntegerType))
      case ("bin", _, _, u: UTF8String) => Some(CLit(u, StringType))
      case ("bin", _, _, s: String) => Some(CLit(UTF8String.fromString(s), StringType))
      case _ => None
    }
    typed.map { l =>
      val h = new XxHash64(Seq(l)).eval(null).asInstanceOf[Long]
      ((h % numChunks) + numChunks) % numChunks
    }
  }

  /** Chunk ids the predicate permits for the chunk key (hashed at physical
    * type `pt`) — None = unconstrained (every chunk may match). And =
    * intersection (an unconstrained side is the universe), Or = union
    * (BOTH sides must constrain), Eq/In = the hashed value set, IsNull =
    * the null chunk. Everything else keeps all chunks. */
  private def allowedChunks(e: org.apache.spark.sql.catalyst.expressions.Expression,
                            key: String, pt: String, lk: String,
                            n: Int): Option[Set[Long]] = {
    import org.apache.spark.sql.catalyst.expressions._
    val nullLit = Literal(null, org.apache.spark.sql.types.StringType)
    def isKey(a: Expression) = attrNameOf(a).contains(key)
    def eqSet(a: Expression, v: Literal): Option[Set[Long]] =
      if (isKey(a)) chunkOf(v, pt, lk, n).map(Set(_)) else None
    def inSet(a: Expression, vs: Seq[Expression]): Option[Set[Long]] =
      if (!isKey(a) || vs.isEmpty) None
      else {
        val cs = vs.map(v => chunkOf(v.asInstanceOf[Literal], pt, lk, n))
        if (cs.exists(_.isEmpty)) None else Some(cs.flatten.toSet)
      }
    def conj(l: Option[Set[Long]], r: Option[Set[Long]]) = (l, r) match {
      case (Some(a), Some(b)) => Some(a intersect b)
      case (a, b) => a.orElse(b)
    }
    def disj(l: Option[Set[Long]], r: Option[Set[Long]]) =
      for { a <- l; b <- r } yield a union b
    def rec(x: Expression): Option[Set[Long]] = x match {
      case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
          if f.nameParts.sizeIs == 1 =>
        (f.nameParts.head, f.arguments) match {
          case ("and", Seq(l, r)) => conj(rec(l), rec(r))
          case ("or", Seq(l, r)) => disj(rec(l), rec(r))
          case ("=" | "==", Seq(a, v: Literal)) => eqSet(a, v)
          case ("=" | "==", Seq(v: Literal, a)) => eqSet(a, v)
          case ("in", a +: vs) if vs.forall(_.isInstanceOf[Literal]) => inSet(a, vs)
          case ("isNull", Seq(a)) if isKey(a) => chunkOf(nullLit, pt, lk, n).map(Set(_))
          case _ => None
        }
      case And(l, r) => conj(rec(l), rec(r))
      case Or(l, r) => disj(rec(l), rec(r))
      case EqualTo(a, v: Literal) => eqSet(a, v)
      case EqualTo(v: Literal, a) => eqSet(a, v)
      case In(a, vs) if vs.forall(_.isInstanceOf[Literal]) => inSet(a, vs)
      case IsNull(a) if isKey(a) => chunkOf(nullLit, pt, lk, n).map(Set(_))
      case _ => None
    }
    rec(e)
  }

  private def colStatsFor(entries: Seq[Map[String, String]]): Map[String, ColStat] =
    entries.filter(_.contains("col")).map { e =>
      e("col") -> ColStat(e("t"), e("min"), e("max"), e("nulls").toLong,
        e("nn") == "1", e.getOrElse("pt", ""), e.get("ap").contains("1"),
        e.getOrElse("lk", ""))
    }.toMap

  /** Conservative stats evaluation: true = the file MAY contain a matching
    * row (keep), false = provably cannot (prune). Unknown shapes keep. */
  private def fileSurvives(e: org.apache.spark.sql.catalyst.expressions.Expression,
                           colStats: Map[String, ColStat]): Boolean = {
    import org.apache.spark.sql.catalyst.expressions._
    def stat(a: Expression): Option[ColStat] = attrNameOf(a).flatMap(colStats.get)
    // survive test for `col <op> literal`: keepIf(cmpMin, cmpMax) over the
    // literal-vs-bound comparisons; absent stat or uncomparable literal keeps
    def range(a: Expression, l: Literal)(keepIf: (Int, Int) => Boolean): Boolean =
      stat(a).forall { s =>
        if (l.value == null) true // null-literal comparisons: let Spark filter
        else if (!s.hasNonNull) false // all-null file: no comparison matches
        else cmpBounds(s, l).forall { case (cmpMin, cmpMax) =>
          keepIf(cmpMin, cmpMax) }
      }
    // prefix match: strings starting with p live in [p, bump(p)) — keep the
    // file iff that interval intersects [min, max] (bounds conservative)
    def prefixKeep(a: Expression, l: Literal): Boolean = stat(a).forall { s =>
      val pOpt = l.value match {
        case u: org.apache.spark.unsafe.types.UTF8String => Some(u.getBytes)
        case str: String =>
          Some(str.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        case _ => None
      }
      if (l.value == null) true
      else if (!s.hasNonNull) false
      else (s.t, pOpt) match {
        case ("string", Some(p)) =>
          val belowMax = java.util.Arrays.compareUnsigned(p, unhex(s.max)) <= 0
          var i = p.length - 1
          while (i >= 0 && p(i) == 0xFF.toByte) i -= 1
          val bumped = if (i < 0) None
            else Some(java.util.Arrays.copyOf(p, i + 1).updated(i, (p(i) + 1).toByte))
          belowMax && bumped.forall(u =>
            java.util.Arrays.compareUnsigned(unhex(s.min), u) < 0)
        case _ => true
      }
    }
    e match {
      // Column-DSL predicates arrive as unresolved function applications
      // (the ColumnNode converter does not resolve operators); SQL-parsed
      // predicates (`expr("ts >= 5")`) arrive as the catalyst nodes below.
      case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
          if f.nameParts.sizeIs == 1 =>
        def fs(x: Expression) = fileSurvives(x, colStats)
        (f.nameParts.head, f.arguments) match {
          case ("and", Seq(l, r)) => fs(l) && fs(r)
          case ("or", Seq(l, r)) => fs(l) || fs(r)
          case ("=" | "==", Seq(a, l: Literal)) =>
            range(a, l)((mn, mx) => mn >= 0 && mx <= 0)
          case ("=" | "==", Seq(l: Literal, a)) =>
            range(a, l)((mn, mx) => mn >= 0 && mx <= 0)
          case (">", Seq(a, l: Literal)) => range(a, l)((_, mx) => mx < 0)
          case (">", Seq(l: Literal, a)) => range(a, l)((mn, _) => mn > 0)
          case (">=", Seq(a, l: Literal)) => range(a, l)((_, mx) => mx <= 0)
          case (">=", Seq(l: Literal, a)) => range(a, l)((mn, _) => mn >= 0)
          case ("<", Seq(a, l: Literal)) => range(a, l)((mn, _) => mn > 0)
          case ("<", Seq(l: Literal, a)) => range(a, l)((_, mx) => mx < 0)
          case ("<=", Seq(a, l: Literal)) => range(a, l)((mn, _) => mn >= 0)
          case ("<=", Seq(l: Literal, a)) => range(a, l)((_, mx) => mx <= 0)
          case ("in", a +: vs) if vs.nonEmpty && vs.forall(_.isInstanceOf[Literal]) =>
            vs.exists(v => range(a, v.asInstanceOf[Literal])(
              (mn, mx) => mn >= 0 && mx <= 0))
          case ("isNull", Seq(a)) => stat(a).forall(_.nulls != 0)
          case ("isNotNull", Seq(a)) => stat(a).forall(_.hasNonNull)
          case ("startswith", Seq(a, l: Literal)) => prefixKeep(a, l)
          case _ => true
        }
      case And(l, r) => fileSurvives(l, colStats) && fileSurvives(r, colStats)
      case Or(l, r) => fileSurvives(l, colStats) || fileSurvives(r, colStats)
      case EqualTo(a, l: Literal) => range(a, l)((mn, mx) => mn >= 0 && mx <= 0)
      case EqualTo(l: Literal, a) => range(a, l)((mn, mx) => mn >= 0 && mx <= 0)
      case GreaterThan(a, l: Literal) => range(a, l)((_, mx) => mx < 0)
      case GreaterThan(l: Literal, a) => range(a, l)((mn, _) => mn > 0) // a < l
      case GreaterThanOrEqual(a, l: Literal) => range(a, l)((_, mx) => mx <= 0)
      case GreaterThanOrEqual(l: Literal, a) => range(a, l)((mn, _) => mn >= 0)
      case LessThan(a, l: Literal) => range(a, l)((mn, _) => mn > 0)
      case LessThan(l: Literal, a) => range(a, l)((_, mx) => mx < 0) // a > l
      case LessThanOrEqual(a, l: Literal) => range(a, l)((mn, _) => mn >= 0)
      case LessThanOrEqual(l: Literal, a) => range(a, l)((_, mx) => mx <= 0)
      case In(a, vs) if vs.nonEmpty && vs.forall(_.isInstanceOf[Literal]) =>
        vs.exists(v => range(a, v.asInstanceOf[Literal])((mn, mx) => mn >= 0 && mx <= 0))
      case IsNull(a) => stat(a).forall(_.nulls != 0)
      case IsNotNull(a) => stat(a).forall(_.hasNonNull)
      case StartsWith(a, l: Literal) => prefixKeep(a, l)
      case _ => true
    }
  }

  /** (compare(lit, min), compare(lit, max)) in the stat's value order, or
    * None when the literal's TYPE doesn't carry the stat's logical kind
    * (then nothing prunes): plain integral bounds compare only against
    * integral literals, date-days only against DateType, timestamp-micros
    * only against Timestamp(NTZ)Type — the stored numbers and the literal
    * must share a unit, or a sound-looking comparison silently prunes
    * matching rows. String bounds are the stored conservative prefixes, so
    * those comparisons stay sound under truncation. */
  private def cmpBounds(s: ColStat,
      l: org.apache.spark.sql.catalyst.expressions.Literal): Option[(Int, Int)] = {
    import org.apache.spark.sql.types._
    s.t match {
      case "long" =>
        val lv: Option[Long] = (s.lk, l.dataType, l.value) match {
          case ("int", ByteType | ShortType | IntegerType | LongType, n: Number) =>
            Some(n.longValue)
          case ("date", DateType, n: Integer) => Some(n.longValue)
          case ("tsu", TimestampType, n: java.lang.Long) => Some(n)
          case ("tsn", TimestampNTZType, n: java.lang.Long) => Some(n)
          case _ => None
        }
        lv.map(n => (java.lang.Long.compare(n, s.min.toLong),
                     java.lang.Long.compare(n, s.max.toLong)))
      case "double" =>
        val dv = l.value match {
          case n: Double => Some(n)
          case n: Float => Some(n.toDouble)
          case n: Long => Some(n.toDouble)
          case n: Int => Some(n.toDouble)
          case _ => None
        }
        // SQL treats -0.0 == 0.0; stored bounds use total order — widen a
        // zero bound at COMPARE time so neither sign wrongly prunes
        val mn0 = s.min.toDouble; val mx0 = s.max.toDouble
        val mn = if (mn0 == 0.0d) -0.0d else mn0
        val mx = if (mx0 == 0.0d) 0.0d else mx0
        dv.filterNot(_.isNaN).map(n =>
          (java.lang.Double.compare(n, mn), java.lang.Double.compare(n, mx)))
      case "string" =>
        val bv = l.value match {
          case u: org.apache.spark.unsafe.types.UTF8String => Some(u.getBytes)
          case str: String => Some(str.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          case _ => None
        }
        bv.map(b => (java.util.Arrays.compareUnsigned(b, unhex(s.min)),
                     java.util.Arrays.compareUnsigned(b, unhex(s.max))))
      case _ => None
    }
  }

  /** Time travel by TAG: read the snapshot whose manifest carries `tag`
    * (e.g. a streaming micro-batch id or a named release). Resolution is a
    * pure metadata scan of the manifests. */
  def readByTag(spark: SparkSession, tablePath: String, tag: String): DataFrame = {
    require(tag.nonEmpty, "tag must be non-empty")
    readByVersionOpt(spark, tablePath, tagVersion(Paths.get(tablePath), tag), tag)
  }

  private def readByVersionOpt(spark: SparkSession, tablePath: String,
                               v: Option[Int], tag: String): DataFrame =
    read(spark, tablePath, v.getOrElse(
      throw new IllegalStateException(s"no snapshot tagged '$tag' at $tablePath")))

  /** Version diff (Iceberg's changelog read, keyed flavor): rows of
    * `toVersion` not in `fromVersion` (`added`) and vice versa (`removed`),
    * compared on `keyCols` only — two column-pruned anti-joins, so a diff
    * of two 10^12-row snapshots moves keys, never payloads. The audit
    * primitive behind "what did yesterday's pipeline commit actually
    * change". */
  def diff(spark: SparkSession, tablePath: String, keyCols: Seq[String],
           fromVersion: Int, toVersion: Int = -1): DataFrame = {
    import org.apache.spark.sql.functions.lit
    val from = read(spark, tablePath, fromVersion).select(keyCols.head, keyCols.tail: _*)
    val to = read(spark, tablePath, toVersion).select(keyCols.head, keyCols.tail: _*)
    to.join(from, keyCols, "left_anti").withColumn("change", lit("added"))
      .unionByName(
        from.join(to, keyCols, "left_anti").withColumn("change", lit("removed")))
  }

  def manifestJson(tablePath: String, version: Int = -1): String =
    Files.readString(manifestPath(Paths.get(tablePath), versionOrTip(tablePath, version)))

  /** Incremental consumption of an APPEND-ONLY table: the rows versions
    * `(fromVersion, toVersion]` added, read from exactly the files those
    * commits wrote — a pure manifest file-set diff, no anti-join, no scan
    * of pre-existing data (hard links preserve file identity across
    * versions, so "new file" = "new rows"). The daily-consumer primitive:
    * "what landed since yesterday's version" costs yesterday's delta, not
    * the table. `fromVersion = -1` consumes from the beginning — served
    * from the tip alone (every live row is in v<to>'s files), so it works
    * even after older snapshots expired.
    *
    * Safety: every commit in the range must BE an append. upsert/delete/
    * compact REWRITE files, which would surface old rows as newly-added —
    * those ranges need the keyed [[diff]], and this method throws rather
    * than silently over-report; an expired range manifest throws a
    * curated error instead of a raw missing-file exception. */
  def readAppended(spark: SparkSession, tablePath: String, fromVersion: Int,
                   toVersion: Int = -1, mergeSchema: Boolean = false): DataFrame = {
    val table = Paths.get(tablePath)
    val tip = versionOrTip(tablePath)
    val to = if (toVersion >= 0) toVersion else tip
    require(to <= tip,
      s"toVersion $to does not exist at $tablePath: committed tip is $tip")
    require(fromVersion <= to, s"fromVersion $fromVersion > toVersion $to")
    if (fromVersion < 0)
      return read(spark, tablePath, to, mergeSchema)
    def unexpired(v: Int): Int =
      if (Files.exists(manifestPath(table, v))) v
      else throw new IllegalStateException(
        s"version $v of $tablePath has been expired: cannot prove the range " +
        "is append-only — re-bootstrap from a full read or use diff()")
    // append-only probe: the op flag renders at the manifest HEAD (see
    // commitManifest), so each range version costs a bounded prefix read,
    // never its table-sized filestats body
    ((fromVersion + 1) to to).foreach { v =>
      require(head(table, unexpired(v)).append,
        s"version $v of $tablePath is not an append commit: rewritten files " +
        "would surface old rows as new — use diff() for this range")
    }
    val toKeys = manifest(table, unexpired(to)).fileKeys
    val added = (toKeys -- manifest(table, unexpired(fromVersion)).fileKeys).toSeq.sorted
    val dataDir = table.resolve(s"v$to")
    def filePath(key: String): String = {
      val Array(c, f) = key.split("/", 2)
      dataDir.resolve(s"_chunk=$c").resolve(f).toString
    }
    val rd = spark.read.option("mergeSchema", mergeSchema.toString)
    val base =
      if (added.nonEmpty)
        rd.option("basePath", dataDir.toString).parquet(added.map(filePath): _*)
      else toKeys.toSeq.sorted.headOption match {
        // nothing landed (the common poll): schema off ONE known file, not
        // a full-table listing — the call stays metadata-cheap. Merged-
        // schema consumers need the real union (one old file would hide
        // delta-evolved columns from the empty frame), so they pay the
        // directory read on quiet polls only.
        case Some(key) if !mergeSchema => rd.option("basePath", dataDir.toString)
          .parquet(filePath(key)).where(lit(false))
        case _ => rd.parquet(dataDir.toString).where(lit(false))
      }
    base.drop("_chunk")
  }

  /** Compaction: rewrite the CURRENT snapshot as a new snapshot whose chunks
    * hold one file each (`filesPerChunk` tasks per chunk) — the Iceberg
    * `rewrite_data_files` maintenance action. Long-running ingestion leaves
    * a small-files tail (every incremental commit adds per-chunk part
    * files); at scale the scan's task count — and the namenode/listing
    * load — tracks file count, not byte count, so periodic compaction is
    * what keeps a 10^12-turn table scannable. Runs through the same staged
    * commit protocol (kill-safe, idempotent); readers see either the old or
    * the new snapshot, never a mix. Chunking key/count are taken from the
    * current manifest, so co-location invariants survive compaction. */
  def compact(spark: SparkSession, tablePath: String,
              clusterBy: Seq[String] = Nil,
              rowsPerFile: Long = 0): Map[String, Long] = {
    val k = versionOrTip(tablePath)
    val (chunkKey, numChunks) = head(Paths.get(tablePath), k).chunking
    // mergeSchema: a delta append may have evolved the schema — a plain
    // read would pick one footer's columns and the rewrite would silently
    // DROP the evolved ones from the table forever
    val full = read(spark, tablePath, k, mergeSchema = true)
    // one-file-per-chunk layout is re-established by the staging path
    // itself (write exchanges by the exact chunk id, `byChunk`);
    // repartitioning here too would shuffle the whole table twice
    write(full, tablePath, chunkKey, numChunks, snapshotId = k + 1,
      clusterBy = clusterBy, rowsPerFile = rowsPerFile)
  }

  /** Delta-append commit (Iceberg append semantics): a new snapshot that
    * REUSES every data file of the current one via hard links (metadata-only,
    * no data rewrite — the property that makes daily commits to a 10^12-turn
    * table affordable) and adds only the staged new rows, prefixed
    * `s<k>-` so names never collide. Each version directory stays
    * self-contained, so time travel, compaction, and expiry are unchanged
    * (expiring an old snapshot unlinks its directory; shared file inodes
    * survive in newer versions). Same staged protocol: kill-safe at every
    * step, manifest commits last.
    *
    * Retry contract: a rerun resumes the SAME in-flight version, but once
    * the manifest has landed the append is committed — a blind re-invoke
    * then starts a NEW version and duplicates the batch (unlike `write`,
    * append has no fixed snapshot id to collide on). Exactly-once retries
    * therefore need the `tag` handshake: pass a stable batch tag and gate
    * the retry on [[committedTags]], as every shipped caller does
    * (`StreamingSnapshot.append`, `Dedup.incremental*`,
    * `Extraction.incrementalCommit`). */
  def append(df: DataFrame, tablePath: String, chunkKey: String,
             numChunks: Int,
             observation: Option[org.apache.spark.sql.Observation] = None,
             tag: String = "", clusterBy: Seq[String] = Nil,
             rowsPerFile: Long = 0): Map[String, Long] =
    appendStaged(df, tablePath, chunkKey, numChunks, observation, tag,
      clustered(numChunks, clusterBy, rowsPerFile), rowsPerFile)

  private def appendStaged(df: DataFrame, tablePath: String, chunkKey: String,
                           numChunks: Int,
                           observation: Option[org.apache.spark.sql.Observation],
                           tag: String, layout: DataFrame => DataFrame,
                           rowsPerFile: Long): Map[String, Long] = {
    requireCommittable(df, tag)
    val table = Paths.get(tablePath)
    // committed tip from manifests (repairing a wedged CURRENT): falling
    // through to write() is only correct when NOTHING has ever committed
    val parentVersion = recoverCommitted(table).getOrElse(
      return writeStaged(df, tablePath, chunkKey, numChunks, -1, observation, tag,
        layout, rowsPerFile))
    // chunking is a TABLE property: an append under a different key/modulus
    // would hard-link parent files into dirs the new scheme disagrees with,
    // and chunk-hash pruning would then silently drop their rows
    val ph = head(table, parentVersion)
    require(ph.chunkKey.forall(_ == chunkKey) && ph.numChunks.forall(_ == numChunks),
      s"append chunking ($chunkKey, $numChunks) contradicts the parent manifest " +
      s"(${ph.chunkKey.getOrElse("?")}, ${ph.numChunks.getOrElse("?")}); re-chunk via write/compact")
    val k = parentVersion + 1
    if (finishCommitted(table, k)) return head(table, k).metrics

    val observed = stage(df, table, k, chunkKey, numChunks, observation, layout,
      rowsPerFile)
    // every parent file is reused; staged files land as s<k>-<name>
    linkAndPromote(table, parentVersion, k, "s", _ => true)
    commitManifest(table, k, parentVersion, chunkKey, numChunks,
      observed, tag, Seq("append" -> "true"), manifest(table, parentVersion).fileStats)
    observed
  }

  /** Internal staging entry for a frame whose partitioning already agrees
    * with the chunk function (`pmod(xxhash64(chunkKey), numChunks)`): each
    * partition holds whole chunks, or rows of one chunk, as
    * `Extraction.commit`'s routing guarantees. The frame is staged with
    * the `identity` layout, WITHOUT [[byChunk]]'s exchange — one file per
    * chunk a partition holds — then committed as an append (`append`) or a
    * full write, through the same protocol as [[append]]/[[write]]. A
    * frame that is not aligned still commits correctly, only into more
    * files. */
  private[graft] def commitAligned(df: DataFrame, tablePath: String, chunkKey: String,
                                   numChunks: Int,
                                   observation: org.apache.spark.sql.Observation,
                                   tag: String, append: Boolean): Map[String, Long] = {
    if (append) appendStaged(df, tablePath, chunkKey, numChunks, Some(observation), tag, identity, 0)
    else writeStaged(df, tablePath, chunkKey, numChunks, -1, Some(observation), tag, identity, 0)
  }

  /** Keyed MERGE / upsert (Iceberg copy-on-write MERGE at chunk
    * granularity): every row of `df` REPLACES the current row with the same
    * key (or is added if the key is new). Only chunks that contain a batch
    * key are rewritten; every untouched chunk's files are hard-linked into
    * the new version (metadata-only) — a small daily correction to a
    * 10^12-row table costs only its touched chunks. The merge key is the
    * table's `chunk_key` (from the manifest): that identity is what gives
    * both the chunk pruning and the rewrite co-partitioning.
    *
    * Batch semantics: `df` must carry one row per key (dedup upstream —
    * duplicate batch keys would all survive as duplicate rows).
    *
    * Same staged protocol as `write`/`append`: the touched-chunk list is
    * persisted next to the staged data (`_TOUCHED`), so a rerun after a
    * kill at ANY point completes the same commit — no duplicate and no
    * missing chunks; the manifest commits last. */
  def upsert(df: DataFrame, tablePath: String, tag: String = ""): Map[String, Long] =
    cowRewrite(df, tablePath, tag, "upsert", keepBatch = true)

  /** Keyed DELETE (the GDPR / right-to-be-forgotten primitive over a
    * training corpus): removes every row whose key appears in `keys` (a
    * one-column DataFrame of the table's chunk key). Same copy-on-write
    * machinery as [[upsert]] — only chunks containing a deleted key are
    * rewritten, everything else hard-links — so purging a handful of
    * conversations from a 10^12-turn table costs only their chunks, and the
    * expired old versions (see [[expireSnapshots]]) are what bounds how long
    * the deleted bytes survive on disk. */
  def deleteKeys(keys: DataFrame, tablePath: String, tag: String = ""): Map[String, Long] =
    cowRewrite(keys, tablePath, tag, "delete", keepBatch = false)

  /** Shared copy-on-write engine behind [[upsert]]/[[deleteKeys]]: anti-join
    * survivors of the touched chunks (+ the batch rows themselves for
    * upsert), staged-rewrite those chunks, hard-link the rest. */
  private def cowRewrite(df: DataFrame, tablePath: String, tag: String,
                         opName: String, keepBatch: Boolean): Map[String, Long] = {
    requireCommittable(df, tag)
    val spark = df.sparkSession
    val table = Paths.get(tablePath)
    val parentVersion = recoverCommitted(table).getOrElse(
      throw new IllegalStateException(s"$opName needs a committed snapshot at $tablePath"))
    val k = parentVersion + 1
    if (finishCommitted(table, k)) {
      // replay of a completed commit: recover the return contract's chunk
      // counts from the manifest it committed
      return Map("rewritten_chunks" -> head(table, k).rewrittenChunks.size.toLong,
        "total_chunks" -> chunkDirs(table.resolve(s"v$k")).size.toLong)
    }

    val (chunkKey, numChunks) = head(table, parentVersion).chunking

    val staging = table.resolve(s"_staging-v$k")
    val stagedMarker = staging.resolve("_STAGED")
    val touchedFile = staging.resolve("_TOUCHED")
    if (!Files.exists(stagedMarker)) {
      if (Files.exists(staging)) deleteRecursively(staging)
      Files.createDirectories(staging)
      // ONE evaluation of the batch: it feeds the touched-chunk collect, the
      // anti-join, AND the staged union — unpersisted, a non-deterministic
      // batch source could make _TOUCHED disagree with the staged chunk dirs
      // (a chunk both hard-linked as untouched AND rewritten = duplicates),
      // and even a deterministic one pays three full computations
      val batchDf = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        // touched chunks from the batch — at most numChunks values, driver-safe
        val touched = batchDf.select(pmod(xxhash64(col(chunkKey)), lit(numChunks)))
          .distinct().collect().map(_.getLong(0)).sorted
        // file-level pruning: read ONLY the touched parent chunk dirs
        val parentDir = table.resolve(s"v$parentVersion")
        val touchedDirs = touched.map(c => parentDir.resolve(s"_chunk=$c"))
          .filter(Files.exists(_)).map(_.toString)
        // mergeSchema: a delta append may have added columns — a single-footer
        // schema pick would silently drop them from the rewritten chunks.
        // One read: its footer pass gives both the schema and the empty
        // survivors of a batch that touches no existing chunk
        val parent = read(spark, tablePath, parentVersion, mergeSchema = true)
        val tableSchema = parent.schema
        val survivors =
          if (touchedDirs.isEmpty) parent.filter(lit(false))
          else spark.read.option("basePath", parentDir.toString)
            .option("mergeSchema", "true")
            .parquet(touchedDirs: _*).drop("_chunk")
            .join(batchDf.select(chunkKey), Seq(chunkKey), "left_anti")
        // upsert keeps EVERY table column (survivors carry delta-evolved
        // columns the batch may not know about — selecting df.columns here
        // would destroy their values in rewritten chunks while untouched
        // chunks keep them); missing columns on either side null-fill —
        // including evolved columns carried by NO touched-chunk file, which
        // a bare select would throw UNRESOLVED_COLUMN on (typed null-fill
        // from the merged schema, so the parquet write keeps real types)
        val have = survivors.columns.toSet
        val filled = tableSchema.fields.filterNot(f => have(f.name))
          .foldLeft(survivors)((d, f) =>
            d.withColumn(f.name, lit(null).cast(f.dataType)))
        val staged =
          if (keepBatch) filled.unionByName(batchDf, allowMissingColumns = true)
          else filled.select(tableSchema.fieldNames.map(col): _*)
        writeChunks(staged, table, k, chunkKey, numChunks, byChunk(numChunks))
        Files.writeString(touchedFile, touched.mkString(","))
        // marker lands atomically and strictly after _TOUCHED: a kill at any
        // point either leaves no marker (rerun restages from scratch) or a
        // complete marker + touched list (rerun promotes)
        atomicWrite(stagedMarker, "ok")
      } finally batchDf.unpersist()
    }
    val touched = Files.readString(touchedFile).split(",")
      .filter(_.nonEmpty).map(_.toLong).toSet

    // promote: link parent files of UNTOUCHED chunks, move staged rewrites
    val dataDir = linkAndPromote(table, parentVersion, k, "u", c => !touched.contains(c))
    commitManifest(table, k, parentVersion, chunkKey, numChunks,
      Map.empty, tag, Seq(opName -> "true",
        "rewritten_chunks" -> Json.arr(touched.toSeq.sorted.map(_.toString))),
      manifest(table, parentVersion).fileStats)
    Map("rewritten_chunks" -> touched.size.toLong,
      "total_chunks" -> chunkDirs(dataDir).size.toLong)
  }

  /** Tags of every committed snapshot (empty tags excluded). The
    * exactly-once handshake for streaming micro-batch commits: a replayed
    * batch (at-least-once delivery after a crash) finds its tag already
    * committed and skips — see `streaming.StreamingSnapshot`. */
  def committedTags(tablePath: String): Set[String] = {
    val table = Paths.get(tablePath)
    // head reads: this runs per streaming micro-batch
    versions(table).map(head(table, _).tag).filter(_.nonEmpty).toSet
  }

  /** Exact table-level column statistic from [[tableStats]]: min/max are
    * None for an all-null column, typed Long/Double/String otherwise. */
  case class ColumnStats(min: Option[Any], max: Option[Any], nulls: Long)

  /** EXACT, metadata-only table statistics of a snapshot: total row count
    * plus per-column [[ColumnStats]] folded over every file's manifest
    * stats — the read behind unfiltered `count(*) / min(c) / max(c) /
    * count(c)`: no data file is opened, no job runs, whatever the table
    * size. A column is reported only when EVERY data file carries a stat
    * for it (schema-evolved columns missing from old files are omitted)
    * and no string bound was truncation-adjusted — reported values are
    * exact, never estimates. Row count comes from the per-chunk lineage,
    * so it is exact on any manifest version, including pre-stats ones. */
  def tableStats(tablePath: String, version: Int = -1)
      : (Long, Map[String, ColumnStats]) = {
    val mf = manifest(Paths.get(tablePath), versionOrTip(tablePath, version))
    val rows = mf.rows
    val colMaps = mf.fileStats.values.map(colStatsFor).toSeq
    // every file must contribute: a file without stats (pre-stats commit)
    // disqualifies column reporting, never mis-reports it
    if (colMaps.size != mf.fileKeys.size || colMaps.isEmpty) return (rows, Map.empty)
    val shared = colMaps.map(_.keySet).reduce(_ intersect _)
    val byteOrd = java.util.Arrays.compareUnsigned(_: Array[Byte], _: Array[Byte])
    val cols = shared.iterator.flatMap { c =>
      val ss = colMaps.map(_(c))
      // approx string bounds and unknown null counts both break exactness
      if (ss.exists(s => s.approx || s.nulls < 0)) None
      else {
        val nulls = ss.map(_.nulls).sum
        val valued = ss.filter(_.hasNonNull)
        val (mn, mx): (Option[Any], Option[Any]) =
          if (valued.isEmpty) (None, None)
          else ss.head.t match {
            case "long" => (Some(valued.map(_.min.toLong).min),
                            Some(valued.map(_.max.toLong).max))
            case "double" =>
              // parquet writers sign-adjust zero bounds (min 0.0 → -0.0,
              // PARQUET-1222), so a zero's sign is unknowable from the
              // footer; normalize to +0.0 — exact under SQL equality,
              // which treats the two zeros as the same value
              def norm(d: Double) = if (d == 0.0d) 0.0d else d
              (Some(norm(valued.map(_.min.toDouble).min)),
               Some(norm(valued.map(_.max.toDouble).max)))
            case _ =>
              val mnB = valued.map(s => unhex(s.min))
                .reduce((a, b) => if (byteOrd(a, b) <= 0) a else b)
              val mxB = valued.map(s => unhex(s.max))
                .reduce((a, b) => if (byteOrd(a, b) >= 0) a else b)
              (Some(new String(mnB, java.nio.charset.StandardCharsets.UTF_8)),
               Some(new String(mxB, java.nio.charset.StandardCharsets.UTF_8)))
          }
        Some(c -> ColumnStats(mn, mx, nulls))
      }
    }.toMap
    (rows, cols)
  }

  /** Metrics history across every committed version: (version, tag, metric,
    * value) — the Iceberg-snapshot-summary time series. Extraction metrics
    * land in each manifest via `Observation` at commit time, so this read
    * is pure metadata: no data file is opened however large the table. The
    * "did yesterday's commit extract a plausible record count" telemetry
    * the north rule's per-partition metrics exist to answer. */
  def metricsHistory(spark: SparkSession, tablePath: String): DataFrame = {
    import spark.implicits._
    val table = Paths.get(tablePath)
    versions(table).flatMap { v =>
      val h = head(table, v)
      h.metrics.toSeq.sortBy(_._1).map { case (m, x) => (v, h.tag, m, x) }
    }.toDF("version", "tag", "metric", "value")
  }

  /** Snapshot expiry (Iceberg `expire_snapshots`): drop all but the last
    * `keep` committed snapshots — data dirs and manifests. Time-travel
    * reads of the kept versions are untouched; CURRENT never expires. */
  def expireSnapshots(tablePath: String, keep: Int = 2): Seq[Int] = {
    require(keep >= 1, "must keep at least the current snapshot")
    val table = Paths.get(tablePath)
    val vs = versions(table) // none on an absent table: sibling APIs no-op
    // committed tip from the manifests: on a wedged table the raw CURRENT
    // under-reports, and expiry keyed off it would DELETE the newest
    // committed-but-unpointed snapshot (repair first, then protect it)
    val cur = recoverCommitted(table).getOrElse(return Seq.empty)
    val expire = vs.filter(_ != cur).dropRight(math.max(0, keep - 1))
    expire.foreach { v =>
      deleteRecursively(table.resolve(s"v$v"))
      Files.deleteIfExists(manifestPath(table, v))
    }
    expire
  }

  private def deleteRecursively(p: Path): Unit =
    if (Files.exists(p))
      // deleteIfExists: wedged-table repair runs from EVERY reader's
      // recoverCommitted, so two parties may race to clean the same staging
      // dir — the loser must no-op, not throw out of a read()
      Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]())
        .iterator().asScala.foreach(q =>
          try Files.deleteIfExists(q)
          catch { case _: java.nio.file.DirectoryNotEmptyException
                     | _: java.nio.file.NoSuchFileException => () })
}
