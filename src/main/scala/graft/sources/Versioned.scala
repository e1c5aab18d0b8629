package graft.sources

import java.io.File
import java.nio.file.{Files, StandardOpenOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import com.fasterxml.jackson.databind.ObjectMapper

/** Versioned-table layer over immutable parquet — the commit / time-travel
  * semantics a lakehouse table format provides (this container has no
  * Delta/Iceberg; the protocol is what matters), built from the primitives
  * the engine already has:
  *
  *   - data files live in a content-addressed pool (`_files/`, named by
  *     SHA-256 + size), and every version is a tiny MANIFEST marker under
  *     `_commits/` listing (path, digest) per file — so UNCHANGED FILES ARE
  *     SHARED between versions instead of copied: [[appendCommit]] reuses
  *     the previous manifest wholesale and pools only the delta, and even
  *     full-snapshot [[commit]]s dedupe byte-identical files by digest.
  *     This is the production-format shape (Delta's log + data files,
  *     Iceberg's manifests) where a commit costs O(changed files), not
  *     O(table);
  *   - every commit stages data under a UNIQUE name, pools it, then writes
  *     the marker by exclusive link; the marker lands AFTER the data, so a
  *     crashed writer leaves invisible pool orphans, never a
  *     readable-but-partial version (parquet's `_SUCCESS` discipline lifted
  *     to table level — readers resolve versions AND file lists from
  *     markers only, spec-asserted). Staging names never repeat; pool
  *     names collide only for byte-identical content, and a lost pool-move
  *     race is handled as the dedupe case it is — so the marker's
  *     exclusive link is the sole contention point that can FAIL a commit; a
  *     committer that loses that race gets a descriptive concurrent-commit
  *     conflict (first writer wins), and its already-pooled files stay
  *     invisible until a manifest references them;
  *   - `asOf(v)` is time travel, `latest` resolves the highest marker,
  *     versions are monotonic;
  *   - row-level deletes are O(delta) TOMBSTONE commits ([[deleteCommit]]
  *     — the deletion-vector shape: per-file key sets in the manifest,
  *     applied as a read-side anti-join on exactly the tombstoned files;
  *     [[compact]] materializes them away);
  *   - every commit records its SCHEMA in the marker; appends may add
  *     columns (union by name, older files read the new column as null)
  *     but never change a column's type;
  *   - [[vacuum]] is a manifest-scoped mark-sweep: a file is deleted only
  *     when every version referencing it is dropped, so shared files
  *     survive retention exactly as long as a live version lists them.
  *
  * Digests are computed driver-side here (the pool is a local model of a
  * production object store); on a real cluster the write tasks report
  * (path, digest, size) in their commit messages and the driver only
  * assembles the manifest — same protocol, no O(data) driver I/O. Marker
  * and manifest I/O is registry-sized (one tiny JSON per commit); the data
  * path stays fully distributed.
  */
object Versioned {

  private val Json = new ObjectMapper()

  /** One manifest entry: `path` relative to the table root, content digest,
    * optional per-column file stats — the data-skipping index the real
    * table formats keep in their logs ([[commitZordered]] writes them,
    * [[prunedRead]] prunes on them; empty for plain commits) — and an
    * optional tombstone key set ([[deleteCommit]] writes them, readers
    * anti-join ONLY files that carry one). `stats` holds numeric bounds
    * (dates/timestamps as epoch numbers); `strStats` holds lexical string
    * bounds, kept separate so each is typed exactly.
    */
  final case class Entry(
      path: String,
      sha256: String,
      stats: Map[String, (Double, Double)] = Map.empty,
      strStats: Map[String, (String, String)] = Map.empty,
      deletes: Seq[String] = Nil,
      blooms: Map[String, String] = Map.empty)

  private def commitsDir(root: String) = new File(root, "_commits")
  private def poolDir(root: String) = new File(root, "_files")
  private def manifestsDir(root: String) = new File(root, "_manifests")

  private def markerFile(root: String, v: Long) =
    new File(commitsDir(root), s"v$v.json")

  /** Highest committed version, or -1 for an empty table. Orphan data
    * (staging dirs, unreferenced pool files) without a marker do not count.
    */
  def latestVersion(root: String): Long = {
    val markers = Option(commitsDir(root).listFiles()).getOrElse(Array.empty)
    markers.iterator
      .map(_.getName)
      .collect { case n if n.startsWith("v") && n.endsWith(".json") =>
        n.stripSuffix(".json").stripPrefix("v").toLong
      }
      .foldLeft(-1L)(math.max)
  }

  /** The file list version `v` commits to — parsed from the marker with a
    * real JSON reader (markers are machine-written, but a path containing
    * an escaped quote must still round-trip). Supports the legacy
    * whole-directory marker shape (`{"data": "d-…"}`) by listing that
    * directory's parquet files with an empty digest.
    */
  // parsed-manifest memo: a committed version's file list is IMMUTABLE
  // (markers never rewrite; chunks are content-addressed), so the JSON
  // parse — MBs at 10k files — need happen once per (root, version) per
  // driver, not once per query. The marker-EXISTENCE check stays fresh
  // on every call (a vacuumed version must keep failing loudly, one
  // stat() instead of a reparse); legacy whole-directory markers list
  // the directory at call time and bypass the memo. Crude size bound:
  // immutable content makes clearing always safe.
  private val manifestMemo =
    new java.util.concurrent.ConcurrentHashMap[(String, Long), Seq[Entry]]()

  def manifest(root: String, v: Long): Seq[Entry] = {
    require(markerFile(root, v).exists(), s"version $v is not committed in $root")
    val key = (new File(root).getAbsolutePath, v)
    val cached = manifestMemo.get(key)
    if (cached != null) return cached
    val node = Json.readTree(markerFile(root, v))
    if (node.has("manifests")) {
      val parsed = chunkRefsOf(root, v).flatMap { r =>
        val f = new File(manifestsDir(root), r)
        require(f.exists(), s"manifest chunk $r of $root v$v is missing " +
          "(vacuumed while referenced?)")
        parseEntries(Json.readTree(f).get("files"))
      }
      if (manifestMemo.size > 256) manifestMemo.clear()
      manifestMemo.put(key, parsed)
      parsed
    } else if (node.has("files")) {
      val parsed = parseEntries(node.get("files"))
      if (manifestMemo.size > 256) manifestMemo.clear()
      manifestMemo.put(key, parsed)
      parsed
    } else if (node.has("data")) {
      // legacy full-snapshot marker: one data directory per version
      val dir = new File(root, node.get("data").asText())
      Option(dir.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
        .map(f => Entry(s"${node.get("data").asText()}/${f.getName}", ""))
        .toSeq
    } else {
      throw new IllegalStateException(
        s"marker ${markerFile(root, v)} of $root v$v has no manifests, files " +
          "or data field: it is not a commit marker graft can read")
    }
  }

  /** The manifest-CHUNK references of a two-level marker (empty for
    * inline/legacy markers): immutable content-addressed files under
    * `_manifests/`, shared across markers — the Iceberg manifest-list
    * shape that makes an append's commit metadata O(delta) instead of
    * O(table files).
    */
  private[graft] def chunkRefsOf(root: String, v: Long): Seq[String] = {
    val node = Json.readTree(markerFile(root, v))
    if (!node.has("manifests")) Nil
    else {
      val it = node.get("manifests").elements()
      val out = Seq.newBuilder[String]
      while (it.hasNext) out += it.next().asText()
      out.result()
    }
  }

  private def parseEntries(filesNode: com.fasterxml.jackson.databind.JsonNode): Seq[Entry] = {
    {
      val it = filesNode.elements()
      val out = Seq.newBuilder[Entry]
      while (it.hasNext) {
        val e = it.next()
        val stats =
          if (!e.has("stats")) Map.empty[String, (Double, Double)]
          else {
            val b = Map.newBuilder[String, (Double, Double)]
            val fields = e.get("stats").fields()
            while (fields.hasNext) {
              val f = fields.next()
              b += f.getKey -> ((f.getValue.get(0).asDouble(), f.getValue.get(1).asDouble()))
            }
            b.result()
          }
        val strStats =
          if (!e.has("strstats")) Map.empty[String, (String, String)]
          else {
            val b = Map.newBuilder[String, (String, String)]
            val fields = e.get("strstats").fields()
            while (fields.hasNext) {
              val f = fields.next()
              b += f.getKey -> ((f.getValue.get(0).asText(), f.getValue.get(1).asText()))
            }
            b.result()
          }
        val deletes =
          if (!e.has("deletes")) Nil
          else {
            val b = Seq.newBuilder[String]
            val ds = e.get("deletes").elements()
            while (ds.hasNext) b += ds.next().asText()
            b.result()
          }
        val blooms =
          if (!e.has("blooms")) Map.empty[String, String]
          else {
            val b = Map.newBuilder[String, String]
            val fields = e.get("blooms").fields()
            while (fields.hasNext) {
              val f = fields.next()
              b += f.getKey -> f.getValue.asText()
            }
            b.result()
          }
        out += Entry(e.get("path").asText(), e.get("sha256").asText(),
          stats, strStats, deletes, blooms)
      }
      out.result()
    }
  }

  private def sha256Hex(f: File): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val in = Files.newInputStream(f.toPath)
    try {
      val buf = new Array[Byte](1 << 16)
      var n = in.read(buf)
      while (n >= 0) { md.update(buf, 0, n); n = in.read(buf) }
    } finally in.close()
    md.digest().map("%02x".format(_)).mkString
  }

  /** Move a staged write's parquet files into the content-addressed pool,
    * deduping byte-identical files against what the pool already holds
    * (same digest + size ⇒ same content ⇒ the staged copy is dropped and
    * the pooled file shared). Returns the manifest entries in part-file
    * order; removes the staging directory.
    */
  private def poolStaged(
      root: String,
      staging: String,
      statsByFile: Map[String, Map[String, (Double, Double)]] = Map.empty,
      strStatsByFile: Map[String, Map[String, (String, String)]] = Map.empty,
      bloomsByFile: Map[String, Map[String, String]] = Map.empty): Seq[Entry] = {
    val dir = new File(root, staging)
    poolDir(root).mkdirs()
    val entries = Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      .map { f =>
        val digest = sha256Hex(f)
        val pooled = new File(poolDir(root), s"f-$digest-${f.length}.parquet")
        if (pooled.exists()) Files.delete(f.toPath) // shared: content already stored
        else
          try Files.move(f.toPath, pooled.toPath)
          catch {
            // two committers pooling byte-identical content can both see
            // !exists(); the move loser is just the dedupe case — the
            // winner's pooled bytes ARE this file's bytes
            case _: java.nio.file.FileAlreadyExistsException => Files.delete(f.toPath)
          }
        Entry(s"_files/${pooled.getName}", digest,
          statsByFile.getOrElse(f.getName, Map.empty),
          strStatsByFile.getOrElse(f.getName, Map.empty),
          blooms = bloomsByFile.getOrElse(f.getName, Map.empty))
      }
      .toSeq
    // residual _SUCCESS / .crc markers, then the (now-empty) staging dir
    Option(dir.listFiles()).getOrElse(Array.empty).foreach(f => Files.deleteIfExists(f.toPath))
    Files.deleteIfExists(dir.toPath)
    entries
  }

  /** Publish `entries` as version `next`'s marker. Its exclusive link
    * ([[publishExclusive]]) is the one atomic contention point among
    * COMMITTERS: a committer that loses the race gets a descriptive
    * concurrent-commit conflict (first writer
    * wins). The loser's pooled files are left in place — they are
    * invisible (no manifest references them) and may already be SHARED by
    * the winner via content-address dedupe, so deleting them here would be
    * wrong.
    *
    * A concurrent [[vacuum]] is the other writer class: content-address
    * dedupe means a commit may be about to publish a reference to a pooled
    * file it did NOT just move there (it shared an existing one), and an
    * overlapping vacuum dropping the last OLD version listing that file
    * could delete it mid-commit. Every entry's existence is therefore
    * re-verified immediately before the marker lands: a miss fails the
    * commit loudly (retry re-stages the data) instead of publishing a
    * manifest pointing at deleted bytes. The check-then-write window that
    * remains is closed in production by [[vacuum]]'s retention-age gate
    * (`minAgeMs` — files younger than the horizon are never swept), which
    * is how the real formats resolve the same race.
    */
  private[graft] def writeMarker(
      root: String,
      next: Long,
      entries: Seq[Entry],
      schemaJson: Option[String] = None,
      deleteKey: Option[String] = None,
      props: Map[String, String] = Map.empty): Unit =
    writeMarkerChunked(root, next, Nil, entries, schemaJson, deleteKey, props)

  private def entriesJson(
      entries: Seq[Entry]): com.fasterxml.jackson.databind.node.ArrayNode = {
    val files = Json.createArrayNode()
    entries.foreach { e =>
      val o = Json.createObjectNode()
      o.put("path", e.path); o.put("sha256", e.sha256)
      if (e.stats.nonEmpty) {
        val s = Json.createObjectNode()
        e.stats.toSeq.sortBy(_._1).foreach { case (c, (mn, mx)) =>
          val arr = Json.createArrayNode(); arr.add(mn); arr.add(mx)
          s.set[com.fasterxml.jackson.databind.JsonNode](c, arr)
        }
        o.set[com.fasterxml.jackson.databind.JsonNode]("stats", s)
      }
      if (e.strStats.nonEmpty) {
        val s = Json.createObjectNode()
        e.strStats.toSeq.sortBy(_._1).foreach { case (c, (mn, mx)) =>
          val arr = Json.createArrayNode(); arr.add(mn); arr.add(mx)
          s.set[com.fasterxml.jackson.databind.JsonNode](c, arr)
        }
        o.set[com.fasterxml.jackson.databind.JsonNode]("strstats", s)
      }
      if (e.deletes.nonEmpty) {
        val d = Json.createArrayNode()
        e.deletes.foreach(d.add)
        o.set[com.fasterxml.jackson.databind.JsonNode]("deletes", d)
      }
      if (e.blooms.nonEmpty) {
        val bl = Json.createObjectNode()
        e.blooms.toSeq.sortBy(_._1).foreach { case (c, b64) => bl.put(c, b64) }
        o.set[com.fasterxml.jackson.databind.JsonNode]("blooms", bl)
      }
      files.add(o)
    }
    files
  }

  /** Write `entries` as an immutable content-addressed manifest CHUNK
    * under `_manifests/` and return its reference. Identical content
    * dedupes for free (same bytes ⇒ same name); a lost creation race IS
    * the dedupe case, exactly like the data pool.
    */
  private def writeChunk(root: String, entries: Seq[Entry]): String = {
    val chunk = Json.createObjectNode()
    chunk.set[com.fasterxml.jackson.databind.JsonNode]("files", entriesJson(entries))
    val bytes = Json.writeValueAsBytes(chunk)
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val name = s"c-${md.digest(bytes).map("%02x".format(_)).mkString}.json"
    manifestsDir(root).mkdirs()
    val f = new File(manifestsDir(root), name)
    if (!f.exists())
      try publishExclusive(f, bytes)
      catch { case _: java.nio.file.FileAlreadyExistsException => () }
    name
  }

  /** Publish `bytes` at `target` whole or not at all: the bytes go to a
    * temp file in the same directory (a dot-name no marker, chunk or tag
    * listing matches), which is then hard-linked into place.
    * `createLink` fails with `FileAlreadyExistsException` when `target`
    * exists, so it stays the one contention point, and a reader never
    * sees `target` empty or partial. The temp file is deleted either way.
    */
  private def publishExclusive(target: File, bytes: Array[Byte]): Unit = {
    val tmp = new File(target.getParentFile,
      s".${target.getName}.${java.util.UUID.randomUUID()}.tmp").toPath
    try {
      Files.write(tmp, bytes, StandardOpenOption.CREATE_NEW)
      Files.createLink(target.toPath, tmp)
    } finally Files.deleteIfExists(tmp)
  }

  /** Publish a TWO-LEVEL marker: `reuseChunks` (immutable manifest
    * chunks carried over from the previous version, verbatim) plus one
    * new chunk holding `delta` — the Iceberg manifest-list shape. An
    * append's commit metadata is O(delta): the reused chunks are never
    * read, re-serialized, or re-verified file-by-file (their existence
    * IS re-checked, closing the same vacuum race the per-file check
    * closes for the delta). `reuseChunks = Nil` degrades to a
    * single-chunk marker — what every non-append committer writes.
    * The marker's exclusive link stays the one atomic contention point.
    */
  private[graft] def writeMarkerChunked(
      root: String,
      next: Long,
      reuseChunks: Seq[String],
      delta: Seq[Entry],
      schemaJson: Option[String] = None,
      deleteKey: Option[String] = None,
      props: Map[String, String] = Map.empty): Unit = {
    val missing = delta.filterNot(e => new File(root, e.path).exists())
    if (missing.nonEmpty)
      throw new IllegalStateException(
        s"commit on $root version $next references files removed mid-commit " +
          s"(concurrent vacuum?): ${missing.map(_.path).mkString(", ")}; " +
          "retry the commit to re-stage the data")
    val missingChunks =
      reuseChunks.filterNot(r => new File(manifestsDir(root), r).exists())
    if (missingChunks.nonEmpty)
      throw new IllegalStateException(
        s"commit on $root version $next references manifest chunks removed " +
          s"mid-commit (concurrent vacuum?): ${missingChunks.mkString(", ")}; " +
          "retry the commit on the new latest")
    commitsDir(root).mkdirs()
    val refs = reuseChunks ++
      (if (delta.nonEmpty || reuseChunks.isEmpty) Seq(writeChunk(root, delta))
       else Nil)
    val marker = Json.createObjectNode()
    marker.put("version", next)
    marker.put("ts", System.currentTimeMillis())
    schemaJson.foreach(marker.put("schema", _))
    deleteKey.foreach(marker.put("deleteKey", _))
    if (props.nonEmpty) {
      val p = Json.createObjectNode()
      props.toSeq.sortBy(_._1).foreach { case (k, v) => p.put(k, v) }
      marker.set[com.fasterxml.jackson.databind.JsonNode]("props", p)
    }
    val ms = Json.createArrayNode()
    refs.foreach(ms.add)
    marker.set[com.fasterxml.jackson.databind.JsonNode]("manifests", ms)
    try publishExclusive(markerFile(root, next), Json.writeValueAsBytes(marker))
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new java.util.ConcurrentModificationException(
          s"concurrent commit conflict on $root version $next: another " +
            "writer committed first (its data is unaffected; retry to " +
            "commit on top of the new latest)")
    }
  }

  /** The schema version `v` committed with, when its marker recorded one
    * (every commit since schema tracking does; legacy markers yield None
    * and read with parquet's own inference, exactly as before).
    */
  def markerSchema(root: String, v: Long): Option[org.apache.spark.sql.types.StructType] = {
    require(markerFile(root, v).exists(), s"version $v is not committed in $root")
    val node = Json.readTree(markerFile(root, v))
    if (!node.has("schema")) None
    else Some(org.apache.spark.sql.types.DataType.fromJson(node.get("schema").asText())
      .asInstanceOf[org.apache.spark.sql.types.StructType])
  }

  /** Version `v`'s commit PROPERTIES — the free-form key→value metadata
    * a committer attached ([[writeMarker]]'s `props`; the Delta
    * transaction-appId / Iceberg snapshot-summary shape). The atomicity
    * lever for derived state: a consumer that records its progress
    * watermark in the SAME marker as its output commit can never
    * double-apply or lose a delta, whatever it crashes between. Legacy
    * markers yield an empty map.
    */
  def markerProps(root: String, v: Long): Map[String, String] = {
    require(markerFile(root, v).exists(), s"version $v is not committed in $root")
    val node = Json.readTree(markerFile(root, v))
    if (!node.has("props")) Map.empty
    else {
      val b = Map.newBuilder[String, String]
      val fields = node.get("props").fields()
      while (fields.hasNext) {
        val f = fields.next()
        b += f.getKey -> f.getValue.asText()
      }
      b.result()
    }
  }

  /** The tombstone key column of version `v`, present iff some ancestor
    * commit was a [[deleteCommit]] whose tombstones are still unmaterialized.
    */
  def deleteKeyOf(root: String, v: Long): Option[String] = {
    require(markerFile(root, v).exists(), s"version $v is not committed in $root")
    val node = Json.readTree(markerFile(root, v))
    if (node.has("deleteKey")) Some(node.get("deleteKey").asText()) else None
  }

  /** Write `df` as the next FULL-SNAPSHOT version. Byte-identical files
    * dedupe against the pool, but a snapshot commit's cost is O(table) —
    * use [[appendCommit]] for the O(delta) ingest path. Returns the
    * committed version.
    */
  def commit(
      df: DataFrame,
      root: String,
      bloomCols: Seq[String] = Nil,
      expectedKeysPerFile: Long = 100000L,
      props: Map[String, String] = Map.empty): Long = {
    val staging = s"d-${java.util.UUID.randomUUID().toString.take(12)}"
    df.write.mode("errorifexists").parquet(s"$root/$staging")
    val entries = poolStaged(root, staging,
      bloomsByFile = bloomsFor(df.sparkSession, s"$root/$staging", bloomCols, expectedKeysPerFile))
    val next = latestVersion(root) + 1
    writeMarker(root, next, entries, schemaJson = Some(df.schema.json),
      props = props)
    next
  }

  /** One parsed-default Hadoop conf shared by every driver-side parquet
    * read: `new Configuration()` re-parses the default XML resources each
    * time — a fixed several-ms tax the per-commit ceremony was paying
    * once or twice PER FILE. The base is never mutated; reads needing a
    * projection clone it (the copy constructor copies properties without
    * re-parsing).
    */
  private lazy val driverHadoopConf = new org.apache.hadoop.conf.Configuration()

  /** One parquet file's `cols` values read driver-side, rendered exactly
    * like `cast(col AS string)`: strings verbatim, integral via toString,
    * null as None. None = unsupported shape (non-string/integral column,
    * unreadable file) → the caller falls back to its Spark pass. The
    * double/timestamp/decimal exclusions are deliberate: their string
    * renderings would have to reimplement Spark's spelling and any drift
    * corrupts blooms/tombstones silently.
    */
  private def fileColumnsDriver(
      f: File, cols: Seq[String]): Option[Seq[Seq[Option[String]]]] =
    try {
      val conf = driverHadoopConf
      val path = new org.apache.hadoop.fs.Path(f.getAbsolutePath)
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(path, conf)
      val fileSchema = {
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try r.getFooter.getFileMetaData.getSchema finally r.close()
      }
      import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
      val fields: Seq[org.apache.parquet.schema.PrimitiveType] = cols.map { c =>
        if (!fileSchema.containsField(c)) return None
        val t = fileSchema.getType(Seq(c): _*)
        if (t.isPrimitive) t.asPrimitiveType() else return None
      }
      fields.foreach { p =>
        val ok = p.getPrimitiveTypeName match {
          case BINARY =>
            p.getLogicalTypeAnnotation ==
              org.apache.parquet.schema.LogicalTypeAnnotation.stringType()
          case INT64 => p.getLogicalTypeAnnotation == null
          case INT32 => p.getLogicalTypeAnnotation == null
          case _ => false
        }
        if (!ok) return None
      }
      val proj = new org.apache.parquet.schema.MessageType(
        "proj", fields.map(_.asInstanceOf[org.apache.parquet.schema.Type]).asJava)
      val readConf = new org.apache.hadoop.conf.Configuration(conf)
      readConf.set(
        org.apache.parquet.hadoop.api.ReadSupport.PARQUET_READ_SCHEMA,
        proj.toString)
      val reader = org.apache.parquet.hadoop.ParquetReader
        .builder(new org.apache.parquet.hadoop.example.GroupReadSupport(), path)
        .withConf(readConf).build()
      val perCol = cols.map(_ => Seq.newBuilder[Option[String]])
      try {
        var g = reader.read()
        while (g != null) {
          var i = 0
          while (i < cols.length) {
            val v =
              if (g.getFieldRepetitionCount(i) == 0) None
              else Some(fields(i).getPrimitiveTypeName match {
                case BINARY => g.getString(i, 0)
                case INT64 => java.lang.Long.toString(g.getLong(i, 0))
                case INT32 => java.lang.Integer.toString(g.getInteger(i, 0))
                case _ => return None
              })
            perCol(i) += v
            i += 1
          }
          g = reader.read()
        }
      } finally reader.close()
      Some(perCol.map(_.result()))
    } catch { case _: Throwable => None }

  private def driverScanMaxBytes(spark: SparkSession): Long =
    spark.conf.getOption("spark.graft.driverCommitScanMaxBytes")
      .map(_.toLong).getOrElse(64L * 1024 * 1024)

  /** Driver-side read of one column's values from a staged parquet dir —
    * the fast path [[bloomsFor]] and [[tombstoneHits]] take for SMALL
    * stagings, where scheduling a Spark job costs more than the bytes.
    * Returns per-file values rendered exactly like `cast(col AS string)`
    * (the Spark pass's spelling): strings verbatim, integral types via
    * toString, null as None. None (fall back to the cluster pass) when
    * the columns aren't string/integral (double→string rendering would
    * have to reimplement Spark's shortest-round-trip spelling — not worth
    * the drift risk), when any file is unreadable, or when the staging
    * exceeds `spark.graft.driverCommitScanMaxBytes` (default 64 MB —
    * commits bigger than that are data-sized, not metadata-sized, and
    * belong on the cluster; the cap keeps the driver path to the
    * commit-ceremony regime where the action count dominates).
    */
  private def stagedColumnsDriver(
      spark: SparkSession,
      stagingPath: String,
      cols: Seq[String]): Option[Map[String, Map[String, Seq[Option[String]]]]] = {
    // an UNLISTABLE staging dir is not an empty one: fall back to the
    // cluster pass rather than silently emitting zero blooms (today the
    // staging is always driver-local so this cannot fire, but if that
    // assumption ever changes the fast path must degrade loudly-correct,
    // not quietly-unpruned)
    val listed = Option(new File(stagingPath).listFiles()).getOrElse(return None)
    val files = listed.filter(_.getName.endsWith(".parquet"))
    if (files.map(_.length).sum > driverScanMaxBytes(spark)) return None
    val out = Map.newBuilder[String, Map[String, Seq[Option[String]]]]
    files.foreach { f =>
      fileColumnsDriver(f, cols) match {
        case Some(perCol) => out += f.getName -> cols.zip(perCol).toMap
        case None => return None
      }
    }
    Some(out.result())
  }

  /** Driver-side ROW read of string/integral columns from every parquet
    * file under `dir` — the staged-relation twin of
    * [[stagedColumnsDriver]], for refresh machinery whose key/flag
    * collects consume a relation that is ALREADY landed as local files
    * ([[Ivm.Stages]]): reading the metadata-sized staged bytes
    * driver-side replaces a whole scheduler round trip per collect (the
    * r17 driver-commit-scan discipline — same size cap, same
    * string/integral-only contract, same fall-back-to-Spark `None`).
    * Values render exactly like `cast(col AS string)` (strings verbatim,
    * integral toString); row order is file order and NOT significant —
    * callers treat the result as a set, exactly like a `collect()`.
    */
  private[graft] def stagedLocalRows(
      spark: SparkSession,
      dir: String,
      cols: Seq[String]): Option[Seq[IndexedSeq[Option[String]]]] = {
    val listed = Option(new File(dir).listFiles()).getOrElse(return None)
    val files = listed.filter(_.getName.endsWith(".parquet"))
    if (files.map(_.length).sum > driverScanMaxBytes(spark)) return None
    val out = Seq.newBuilder[IndexedSeq[Option[String]]]
    files.foreach { f =>
      fileColumnsDriver(f, cols) match {
        case Some(perCol) =>
          // columns land as Lists — index via arrays, or the row loop
          // below would be O(rows²) in positional List access
          val colArr = perCol.map(_.toArray).toArray
          val n = colArr.headOption.map(_.length).getOrElse(0)
          var i = 0
          while (i < n) {
            out += IndexedSeq.tabulate(colArr.length)(c => colArr(c)(i))
            i += 1
          }
        case None => return None
      }
    }
    Some(out.result())
  }

  /** [[bloomsFor]] without the Spark job: the same
    * `org.apache.spark.util.sketch.BloomFilter` class, the same
    * (expectedItems, numBits) sizing, fed the same
    * `xxhash64(cast(col AS string))` values ([[GraftBridge.xxhash64String]]
    * IS that expression) — bit-identical filter bytes, since a Bloom
    * filter's bit array is insert-order-independent. A null key hashes to
    * the xxhash64 seed (42) exactly as the expression does (a null child
    * leaves the running hash untouched). Zero-row files emit no bloom,
    * like the Spark pass's empty group.
    */
  private def bloomsFromDriver(
      byFile: Map[String, Map[String, Seq[Option[String]]]],
      bloomCols: Seq[String],
      expectedKeysPerFile: Long): Map[String, Map[String, String]] =
    byFile.flatMap { case (name, colVals) =>
      val n = colVals.get(bloomCols.head).map(_.size).getOrElse(0)
      if (n == 0) None
      else Some(name -> bloomCols.map { c =>
        val bf = org.apache.spark.util.sketch.BloomFilter.create(
          expectedKeysPerFile, expectedKeysPerFile * 8)
        colVals(c).foreach {
          case Some(v) =>
            bf.putLong(org.apache.spark.sql.graft.GraftBridge.xxhash64String(v))
          case None => bf.putLong(42L) // xxhash64 of null = the seed
        }
        val bos = new java.io.ByteArrayOutputStream()
        bf.writeTo(bos)
        c -> java.util.Base64.getEncoder.encodeToString(bos.toByteArray)
      }.toMap)
    }

  /** Per-file bloom filters over `bloomCols` for every parquet file under
    * `stagingPath` — Spark's own bloom aggregate over xxhash64 of the
    * canonical string rendering, one grouped pass, file-count-bounded
    * collect. Shared by every commit flavor so the probe-side hash
    * ([[pointRead]], [[deleteCommit]]) can never diverge from the build.
    */
  private def bloomsFor(
      spark: SparkSession,
      stagingPath: String,
      bloomCols: Seq[String],
      expectedKeysPerFile: Long): Map[String, Map[String, String]] = {
    import org.apache.spark.sql.functions._
    if (bloomCols.isEmpty) Map.empty
    else stagedColumnsDriver(spark, stagingPath, bloomCols) match {
      case Some(byFile) =>
        bloomsFromDriver(byFile, bloomCols, expectedKeysPerFile)
      case None => bloomsForJob(spark, stagingPath, bloomCols, expectedKeysPerFile)
    }
  }

  private def bloomsForJob(
      spark: SparkSession,
      stagingPath: String,
      bloomCols: Seq[String],
      expectedKeysPerFile: Long): Map[String, Map[String, String]] = {
    import org.apache.spark.sql.functions._
    {
      val aggs = bloomCols.map(c =>
        org.apache.spark.sql.graft.GraftBridge.bloomAgg(
          xxhash64(col(c).cast("string")),
          expectedKeysPerFile, expectedKeysPerFile * 8).as(s"${c}__bloom"))
      spark.read.parquet(stagingPath)
        .groupBy(input_file_name().as("file"))
        .agg(aggs.head, aggs.tail: _*)
        .collect()
        .map { r =>
          val name = r.getString(0).split('/').last
          name -> bloomCols.flatMap { c =>
            Option(r.getAs[Array[Byte]](s"${c}__bloom"))
              .map(b => c -> java.util.Base64.getEncoder.encodeToString(b))
          }.toMap
        }.toMap
    }
  }

  /** FOOTER fast path for [[statsFor]]: when every requested column is a
    * plain integral type (INT32/INT64 with no date/time/decimal logical
    * annotation), the per-file (min, max) already sits in the parquet
    * footers the write just produced — read them driver-side (file-count-
    * bounded metadata IO) instead of scheduling a whole Spark aggregation
    * job over the staged files. Exactness matches the Spark pass: footer
    * min/max for integral physical types are exact (no truncation, no NaN
    * ambiguity — the reason doubles/strings/timestamps deliberately fall
    * back), all-null columns surface as no-stats (un-prunable) on both
    * paths, and the Double conversion rounds exactly where the Spark
    * pass's `cast("double")` did. Returns None to fall back whenever any
    * footer lacks usable statistics.
    */
  private def statsFromFooters(
      stagingPath: String,
      schema: org.apache.spark.sql.types.StructType,
      cols: Seq[String]): Option[Map[String, Map[String, (Double, Double)]]] = {
    import org.apache.spark.sql.types.{IntegerType, LongType}
    if (!cols.forall(c => schema.fields.find(_.name == c).map(_.dataType)
        .exists(t => t == LongType || t == IntegerType))) return None
    val files = Option(new File(stagingPath).listFiles())
      .getOrElse(Array.empty).filter(_.getName.endsWith(".parquet"))
    val conf = driverHadoopConf
    val out = Map.newBuilder[String, Map[String, (Double, Double)]]
    files.foreach { f =>
      val footer =
        try {
          val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(f.getAbsolutePath), conf)
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
          try r.getFooter finally r.close()
        } catch { case _: Throwable => return None }
      val perCol = Map.newBuilder[String, (Double, Double)]
      cols.foreach { c =>
        var mn = Long.MaxValue
        var mx = Long.MinValue
        var any = false
        val it = footer.getBlocks.iterator()
        while (it.hasNext) {
          val block = it.next()
          val chunk = block.getColumns.asScala
            .find(_.getPath.toDotString == c)
            .getOrElse(return None)
          val st = chunk.getStatistics
          if (st == null || st.isEmpty) return None // writer gave no stats
          if (st.hasNonNullValue) {
            val (lo, hi) = st match {
              case s: org.apache.parquet.column.statistics.LongStatistics =>
                (s.getMin, s.getMax)
              case s: org.apache.parquet.column.statistics.IntStatistics =>
                (s.getMin.toLong, s.getMax.toLong)
              case _ => return None
            }
            mn = math.min(mn, lo); mx = math.max(mx, hi); any = true
          }
        }
        // all row groups all-null: no stats for this column (un-prunable),
        // exactly the Spark pass's null → None
        if (any) perCol += c -> ((mn.toDouble, mx.toDouble))
      }
      out += f.getName -> perCol.result()
    }
    Some(out.result())
  }

  /** Per-file (min, max) stats over `cols` for a staged write, typed by
    * `schema`: numerics and date/timestamps as numbers (epoch), strings
    * as lexical bounds. One grouped aggregate, one row per FILE (the
    * collect is file-count-bounded, never data). An all-null column in a
    * file yields null bounds — no stats for that column (the file stays
    * un-prunable on it), never a fake (0, 0) range.
    */
  private def statsFor(
      spark: SparkSession,
      stagingPath: String,
      schema: org.apache.spark.sql.types.StructType,
      cols: Seq[String])
    : (Map[String, Map[String, (Double, Double)]],
       Map[String, Map[String, (String, String)]]) = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    if (cols.isEmpty) (Map.empty, Map.empty)
    else statsFromFooters(stagingPath, schema, cols) match {
      case Some(byFile) => (byFile, Map.empty)
      case None => statsForJob(spark, stagingPath, schema, cols)
    }
  }

  private def statsForJob(
      spark: SparkSession,
      stagingPath: String,
      schema: org.apache.spark.sql.types.StructType,
      cols: Seq[String])
    : (Map[String, Map[String, (Double, Double)]],
       Map[String, Map[String, (String, String)]]) = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    {
      val (strCols, numCols) = cols.partition(c => schema(c).dataType == StringType)
      def asNum(c: String): org.apache.spark.sql.Column = schema(c).dataType match {
        case DateType | TimestampType => col(c).cast(TimestampType).cast("long").cast("double")
        case _ => col(c).cast("double")
      }
      val aggs = numCols.flatMap(c => Seq(
        min(asNum(c)).as(s"${c}__min"), max(asNum(c)).as(s"${c}__max"))) ++
        strCols.flatMap(c => Seq(
          min(col(c)).as(s"${c}__smin"), max(col(c)).as(s"${c}__smax")))
      val perFile = spark.read.parquet(stagingPath)
        .groupBy(input_file_name().as("file"))
        .agg(aggs.head, aggs.tail: _*)
        .collect()
      val stats = perFile.map { r =>
        val name = r.getString(0).split('/').last
        name -> numCols.flatMap { c =>
          if (r.isNullAt(r.fieldIndex(s"${c}__min"))) None
          else Some(c -> ((r.getAs[Double](s"${c}__min"), r.getAs[Double](s"${c}__max"))))
        }.toMap
      }.toMap
      val strStats = perFile.map { r =>
        val name = r.getString(0).split('/').last
        name -> strCols.flatMap { c =>
          if (r.isNullAt(r.fieldIndex(s"${c}__smin"))) None
          else Some(c -> ((r.getAs[String](s"${c}__smin"), r.getAs[String](s"${c}__smax"))))
        }.toMap
      }.toMap
      (stats, strStats)
    }
  }

  /** Z-ordered snapshot commit WITH per-file column stats in the manifest —
    * the "stats in the log" data-skipping index the real formats maintain
    * (Delta's per-file min/max, Iceberg's manifest metrics), composed from
    * [[graft.operators.Layout.zorderBy]]'s clustering so the stats are
    * TIGHT on every clustered dimension at once. The stats pass is one
    * grouped aggregate over the staged files whose result is one row per
    * FILE (registry-sized by construction — the collect is file-count-
    * bounded, never data). Numeric clustered columns only (the same
    * contract as the z-order bucketing). Returns the committed version.
    */
  def commitZordered(
      df: DataFrame,
      root: String,
      cols: Seq[String],
      numFiles: Int,
      bits: Int = 16,
      statsCols: Seq[String] = Nil,
      bloomCols: Seq[String] = Nil,
      expectedKeysPerFile: Long = 100000L,
      props: Map[String, String] = Map.empty): Long = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val spark = df.sparkSession
    val staging = s"d-${java.util.UUID.randomUUID().toString.take(12)}"
    graft.operators.Layout.zorderBy(df, cols, numFiles, bits)
      .write.mode("errorifexists").parquet(s"$root/$staging")
    // stat columns beyond the (numeric) clustering dims are typed by the
    // schema: numerics and date/timestamps (as epoch numbers) land in the
    // numeric stats, strings in the lexical string stats — so a predicate
    // on ANY stat column can skip files, not just the z-ordered ones
    val (statsByFile, strStatsByFile) = statsFor(
      spark, s"$root/$staging", df.schema, cols ++ statsCols.filterNot(cols.contains))
    val entries = poolStaged(root, staging, statsByFile, strStatsByFile,
      bloomsFor(spark, s"$root/$staging", bloomCols, expectedKeysPerFile))
    val next = latestVersion(root) + 1
    writeMarker(root, next, entries, schemaJson = Some(df.schema.json),
      props = props)
    next
  }

  /** Manifest-stats data skipping — the read half of [[commitZordered]]:
    * keep only the files whose (min, max) block intersects EVERY
    * `(col, lo, hi)` range, hand just those to the parquet reader, and
    * apply the residual row filter so results are identical to a full
    * scan + filter. Files without stats for a predicate column are KEPT
    * (they cannot be proven skippable — plain and append commits stay
    * readable). The manifest filter is driver-side but file-count-bounded:
    * at 100 TB this is listing 16 of 10,000 files instead of scanning all.
    */
  def prunedRead(
      spark: SparkSession,
      root: String,
      v: Long,
      preds: Seq[(String, Double, Double)],
      strPreds: Seq[(String, String, String)] = Nil): DataFrame = {
    import org.apache.spark.sql.functions._
    require(preds.nonEmpty || strPreds.nonEmpty,
      "need at least one (col, lo, hi) predicate")
    val keep = manifest(root, v).filter { e =>
      preds.forall { case (c, lo, hi) =>
        e.stats.get(c).forall { case (mn, mx) =>
          // non-finite bounds (a NaN in the column makes Spark's max NaN)
          // prove nothing — such a file may still hold in-range finite
          // rows, so it is UN-prunable, not skippable
          !(java.lang.Double.isFinite(mn) && java.lang.Double.isFinite(mx)) ||
            (mn <= hi && mx >= lo)
        }
      } && strPreds.forall { case (c, lo, hi) =>
        // lexical bounds; binary-comparable for the ASCII identifiers the
        // stats are meant for (Spark's UTF8 ordering and Java's agree there)
        e.strStats.get(c).forall { case (mn, mx) => mn <= hi && mx >= lo }
      }
    }
    // numeric predicates on date/timestamp columns are epoch ranges (the
    // unit the stats are stored in) — the row filter compares in epoch
    // space too, so stats check and residual filter agree exactly
    val schema = markerSchema(root, v)
    def numExpr(c: String): org.apache.spark.sql.Column =
      schema.flatMap(_.fields.find(_.name == c)).map(_.dataType) match {
        case Some(org.apache.spark.sql.types.DateType) |
            Some(org.apache.spark.sql.types.TimestampType) =>
          col(c).cast(org.apache.spark.sql.types.TimestampType).cast("long").cast("double")
        case _ => col(c)
      }
    val rowFilter = (
      preds.map { case (c, lo, hi) => numExpr(c) >= lit(lo) && numExpr(c) <= lit(hi) } ++
        strPreds.map { case (c, lo, hi) => col(c) >= lit(lo) && col(c) <= lit(hi) })
      .reduce(_ && _)
    if (keep.isEmpty) asOf(spark, root, v).filter(lit(false))
    else readEntries(spark, root, v, keep).filter(rowFilter)
  }

  /** [[prunedRead]] for a UNION of disjoint intervals on one numeric
    * column: keep files whose stats block intersects ANY interval, with
    * the matching OR row filter — so a query whose visibility splits
    * (an `@`-pinned selector far from the evaluation time plus the
    * lookback near it) reads the pin's files and the lookback's files
    * and NOTHING between. Intervals are coalesced first (overlaps
    * merge), files without stats for the column are kept, and results
    * are identical to a full scan + OR filter.
    */
  def prunedReadAny(
      spark: SparkSession,
      root: String,
      v: Long,
      statCol: String,
      intervals: Seq[(Double, Double)]): DataFrame = {
    import org.apache.spark.sql.functions._
    require(intervals.nonEmpty, "need at least one (lo, hi) interval")
    val merged = coalesceIntervals(intervals)
    val keep = manifest(root, v).filter { e =>
      e.stats.get(statCol).forall { case (mn, mx) =>
        !(java.lang.Double.isFinite(mn) && java.lang.Double.isFinite(mx)) ||
          merged.exists { case (lo, hi) => mn <= hi && mx >= lo }
      }
    }
    val schema = markerSchema(root, v)
    def numExpr(c: String): org.apache.spark.sql.Column =
      schema.flatMap(_.fields.find(_.name == c)).map(_.dataType) match {
        case Some(org.apache.spark.sql.types.DateType) |
            Some(org.apache.spark.sql.types.TimestampType) =>
          col(c).cast(org.apache.spark.sql.types.TimestampType).cast("long").cast("double")
        case _ => col(c)
      }
    val rowFilter = merged
      .map { case (lo, hi) => numExpr(statCol) >= lit(lo) && numExpr(statCol) <= lit(hi) }
      .reduce(_ || _)
    if (keep.isEmpty) asOf(spark, root, v).filter(lit(false))
    else readEntries(spark, root, v, keep).filter(rowFilter)
  }

  /** Sort + merge overlapping/touching closed intervals. */
  def coalesceIntervals(xs: Seq[(Double, Double)]): Seq[(Double, Double)] = {
    val sorted = xs.sortBy(_._1)
    sorted.tail.foldLeft(Vector(sorted.head)) { case (acc, (lo, hi)) =>
      val (plo, phi) = acc.last
      if (lo <= phi) acc.init :+ ((plo, math.max(phi, hi)))
      else acc :+ ((lo, hi))
    }
  }

  /** Read a caller-chosen subset of version `v`'s manifest entries
    * through the shared read path (version schema, tombstones applied) —
    * the primitive an iterative driver-side scan (e.g. the PromQL
    * grid-lag head search walking files newest-first) builds on. The
    * entries must come from `manifest(root, v)`.
    */
  def readSubset(
      spark: SparkSession, root: String, v: Long, entries: Seq[Entry]): DataFrame =
    if (entries.isEmpty)
      asOf(spark, root, v).filter(org.apache.spark.sql.functions.lit(false))
    else readEntries(spark, root, v, entries)

  /** Read a subset of version `v`'s entries with the version's schema
    * (missing columns as null — add-column evolution) and its tombstones
    * applied. Only entries CARRYING tombstones pay the anti-join; clean
    * files stream straight through. The tombstone side is a driver-held
    * key list (delete commits are O(delta) by contract) broadcast against
    * the tombstoned files only.
    *
    * `entries` is a MULTISET: the content-addressed pool dedupes
    * byte-identical delta files, so one manifest can list the same pool
    * path more than once (a re-sent ingest batch, a same-value upsert).
    * A single Spark scan cannot read one path twice, nor apply two
    * DIFFERENT tombstone sets to two copies of the same file — so the
    * entries are split into LAYERS with unique paths (copy i of a path
    * lands in layer i, carrying its own tombstones) and the layer reads
    * union. Multiplicity is 1 in the common case: one layer, the exact
    * plan this method always had.
    */
  private def readEntries(
      spark: SparkSession,
      root: String,
      v: Long,
      entries: Seq[Entry]): DataFrame = {
    val seen = scala.collection.mutable.Map.empty[String, Int]
    val layers = scala.collection.mutable.ArrayBuffer.empty[
      scala.collection.mutable.ArrayBuffer[Entry]]
    entries.foreach { e =>
      val i = seen.getOrElse(e.path, 0)
      seen(e.path) = i + 1
      if (layers.size <= i)
        layers += scala.collection.mutable.ArrayBuffer.empty[Entry]
      layers(i) += e
    }
    layers.map(l => readEntryLayer(spark, root, v, l.toSeq))
      .reduce(_ unionByName _)
  }

  /** One layer of [[readEntries]] — entries with pairwise-distinct paths. */
  private def readEntryLayer(
      spark: SparkSession,
      root: String,
      v: Long,
      entries: Seq[Entry]): DataFrame = {
    import org.apache.spark.sql.functions._
    val schema = markerSchema(root, v)
    def read(paths: Seq[String]): DataFrame =
      schema.map(spark.read.schema).getOrElse(spark.read)
        .parquet(paths.map(p => s"$root/$p"): _*)
    val (tomb, clean) = entries.partition(_.deletes.nonEmpty)
    val parts = Seq(
      if (clean.isEmpty) None else Some(read(clean.map(_.path))),
      if (tomb.isEmpty) None
      else {
        val keyCol = deleteKeyOf(root, v).getOrElse(throw new IllegalStateException(
          s"version $v of $root has tombstones but no deleteKey"))
        import spark.implicits._
        // tombstones are PER FILE: a key deleted from file A and
        // re-inserted by a later upsert's file B must survive in B, so
        // the anti-join key is (file, key), never the bare key union
        val keys = tomb.flatMap(e => e.deletes.map(k => (suffixOf(e.path), k)))
          .toDF("_del_path", "_del_key")
        Some(read(tomb.map(_.path))
          .withColumn("_del_f",
            concat_ws("/", slice(split(input_file_name(), "/"), -2, 2)))
          .join(broadcast(keys),
            col("_del_f") === col("_del_path") &&
              col(keyCol).cast("string") === col("_del_key"), "left_anti")
          .drop("_del_f"))
      }).flatten
    parts.reduce(_ unionByName _)
  }

  /** Append-only ingest commit — the streaming-landing shape: the next
    * version's manifest is the previous manifest PLUS the newly pooled
    * delta files. Unchanged files are listed by both versions and stored
    * once; nothing is rewritten, so the commit costs O(delta) regardless
    * of table size. `statsCols` records per-file range stats on the delta
    * (the same typed bounds [[commitZordered]] keeps), so a continuously
    * appended landing stays [[prunedRead]]-skippable without ever paying
    * a rewrite — time-keyed appends are naturally range-disjoint, which
    * is exactly when append-time stats prune as well as a re-cluster.
    * Returns the committed version.
    */
  def appendCommit(
      df: DataFrame,
      root: String,
      bloomCols: Seq[String] = Nil,
      expectedKeysPerFile: Long = 100000L,
      statsCols: Seq[String] = Nil,
      props: Map[String, String] = Map.empty): Long =
    appendCommitWithRetry(df, root, bloomCols, expectedKeysPerFile, statsCols,
      maxRetries = 0, props = props)

  /** [[appendCommit]] with optimistic-concurrency RETRY — how many
    * committers an append-only landing actually has. Appends COMMUTE, so
    * a committer that loses the marker-link race re-reads the
    * new latest manifest and re-publishes its ALREADY-POOLED delta on
    * top: the data stages and pools exactly once (content-addressed,
    * never orphaned by a lost race), and each retry costs one manifest
    * read + one marker write. `maxRetries = 0` is plain first-writer-wins
    * [[appendCommit]]. Non-commuting commits (delete/upsert/compact)
    * deliberately have NO retry form — their read-set went stale, the
    * caller must re-derive it.
    */
  def appendCommitWithRetry(
      df: DataFrame,
      root: String,
      bloomCols: Seq[String] = Nil,
      expectedKeysPerFile: Long = 100000L,
      statsCols: Seq[String] = Nil,
      maxRetries: Int = 5,
      props: Map[String, String] = Map.empty): Long = {
    val staging = s"d-${java.util.UUID.randomUUID().toString.take(12)}"
    df.write.mode("errorifexists").parquet(s"$root/$staging")
    // per-file BLOOM FILTERS over key columns — the point-lookup skipping
    // index next to the range stats (Delta's bloom indexes, Iceberg's
    // bloom sidecars; inlined in the marker here, sidecar files in a real
    // store)
    val (statsByFile, strStatsByFile) = statsFor(
      df.sparkSession, s"$root/$staging", df.schema, statsCols)
    val delta = poolStaged(root, staging, statsByFile, strStatsByFile,
      bloomsByFile = bloomsFor(df.sparkSession, s"$root/$staging", bloomCols, expectedKeysPerFile))
    var attempt = 0
    while (true) {
      val prevV = latestVersion(root)
      val merged = mergedSchema(if (prevV < 0) None else markerSchema(root, prevV), df)
      val dk = if (prevV < 0) None else deleteKeyOf(root, prevV)
      // two-level metadata: the previous version's manifest chunks carry
      // over verbatim, so the append never reads — let alone rewrites —
      // the table's full file list: commit metadata is O(delta)
      val reuse = if (prevV < 0) Nil else chunkRefsOf(root, prevV)
      try {
        if (prevV < 0 || reuse.nonEmpty)
          writeMarkerChunked(root, prevV + 1, reuse, delta,
            schemaJson = Some(merged.json), deleteKey = dk, props = props)
        else
          // inline/legacy previous marker: one-time consolidation
          writeMarker(root, prevV + 1, manifest(root, prevV) ++ delta,
            schemaJson = Some(merged.json), deleteKey = dk, props = props)
        return prevV + 1
      } catch {
        case e: java.util.ConcurrentModificationException =>
          attempt += 1
          if (attempt > maxRetries) throw e
      }
    }
    -1L // unreachable
  }

  /** Add-column schema evolution shared by [[appendCommit]] and
    * [[upsertCommit]]: the next version's schema is the union by name —
    * previous fields keep their order, genuinely new fields append as
    * NULLABLE (older files lack the column entirely, so it MUST read
    * null); a same-name field must keep its type (no type evolution).
    */
  private def mergedSchema(
      prev: Option[org.apache.spark.sql.types.StructType],
      df: DataFrame): org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types.StructType
    prev match {
      case None => df.schema
      case Some(old) =>
        df.schema.fields.foreach { f =>
          old.fields.find(_.name == f.name).foreach { o =>
            require(o.dataType == f.dataType,
              s"commit cannot change column '${f.name}' from " +
                s"${o.dataType.simpleString} to ${f.dataType.simpleString}")
          }
        }
        StructType(old.fields ++
          df.schema.fields.filterNot(f => old.fieldNames.contains(f.name))
            .map(_.copy(nullable = true)))
    }
  }

  /** Whether `e` can be PROVEN not to hold any of `hashes` on `keyCol`:
    * true only when the entry carries a bloom for the column and every
    * probe misses. No bloom → never skippable.
    */
  private def bloomSkippable(e: Entry, keyCol: String, hashes: Seq[Long]): Boolean =
    e.blooms.get(keyCol).exists { b64 =>
      val bf = org.apache.spark.util.sketch.BloomFilter.readFrom(
        java.util.Base64.getDecoder.decode(b64))
      !hashes.exists(bf.mightContainLong)
    }

  /** Point lookup with bloom file-skipping — the read half of
    * `appendCommit(bloomCols = …)`: skip every file whose bloom proves it
    * holds none of the probe keys, read the rest, apply the exact filter
    * (and the version's tombstones/schema via the shared read path) —
    * results identical to a full scan + filter, false positives only cost
    * a read. At 100 TB a needle-in-haystack key lookup touches the one
    * file that might hold it instead of listing-and-scanning the table.
    */
  def pointRead(
      spark: SparkSession,
      root: String,
      v: Long,
      keyCol: String,
      values: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    require(values.nonEmpty, "need at least one probe value")
    val hashes = values.map(org.apache.spark.sql.graft.GraftBridge.xxhash64String)
    val keep = manifest(root, v).filterNot(e => bloomSkippable(e, keyCol, hashes))
    if (keep.isEmpty) asOf(spark, root, v).filter(lit(false))
    else readEntries(spark, root, v, keep)
      .filter(col(keyCol).cast("string").isin(values: _*))
  }

  /** Locate which files physically hold `keys`: blooms prune the
    * candidate set, one scan over the survivors only. Returns
    * file-suffix → hit keys.
    */
  private def tombstoneHits(
      spark: SparkSession,
      root: String,
      v: Long,
      keyCol: String,
      keys: Seq[String],
      entries: Seq[Entry]): Map[String, Seq[String]] = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val hashes = keys.map(org.apache.spark.sql.graft.GraftBridge.xxhash64String)
    val candidates = entries.filterNot(e => bloomSkippable(e, keyCol, hashes))
    if (candidates.isEmpty) return Map.empty[String, Seq[String]]
    // SMALL candidate sets take the driver read (the locate scan is the
    // per-commit ceremony this removes a scheduler round trip from); the
    // values compare as the same cast("string") rendering the cluster
    // pass uses, so hits are identical. NOTE: candidates carry NO
    // tombstone application here — neither does the cluster pass below
    // (it scans raw candidate bytes), so behavior is unchanged.
    locally {
      val dir = new File(root)
      val paths = candidates.map(e => new File(dir, e.path))
      if (paths.forall(_.isFile) &&
          paths.map(_.length).sum <= driverScanMaxBytes(spark)) {
        val keySet = keys.toSet
        val perFile = scala.collection.mutable.Map.empty[String, Seq[String]]
        val allOk = candidates.forall { e =>
          fileColumnsDriver(new File(dir, e.path), Seq(keyCol)) match {
            case Some(Seq(vals)) =>
              val hits = vals.flatten.filter(keySet).distinct
              if (hits.nonEmpty) perFile += suffixOf(e.path) -> hits
              true
            case _ => false
          }
        }
        if (allOk) return perFile.toMap
      }
    }
    val keysDf = keys.toDF("_del_key")
    val schema = markerSchema(root, v)
    schema.map(spark.read.schema).getOrElse(spark.read)
      .parquet(candidates.map(e => s"$root/${e.path}"): _*)
      .select(input_file_name().as("_f"), col(keyCol).cast("string").as("_k"))
      .join(broadcast(keysDf), col("_k") === col("_del_key"))
      .groupBy(col("_f")).agg(collect_set(col("_k")).as("_ks"))
      .collect()
      .map(r => suffixOf(r.getString(0)) -> r.getSeq[String](1)).toMap
  }

  private def applyTombs(
      entries: Seq[Entry], hits: Map[String, Seq[String]]): Seq[Entry] =
    entries.map { e =>
      hits.get(suffixOf(e.path)) match {
        case Some(ks) => e.copy(deletes = (e.deletes ++ ks).distinct.sorted)
        case None => e
      }
    }

  /** `entries` with `keys` tombstoned in exactly the files that
    * physically hold them: blooms prune the candidate set first (a file
    * whose bloom proves every key absent never gets scanned), then ONE
    * scan over the candidates only — driver result bounded by (affected
    * files × key-set size). Unaffected entries pass through untouched, so
    * they never pay the read-side anti-join.
    */
  private def withTombstones(
      spark: SparkSession,
      root: String,
      v: Long,
      keyCol: String,
      keys: Seq[String],
      entries: Seq[Entry]): Seq[Entry] =
    applyTombs(entries, tombstoneHits(spark, root, v, keyCol, keys, entries))

  /** Version `v`'s manifest chunks WITH their parsed entries, in marker
    * order (empty for inline/legacy markers).
    */
  private def chunksWithEntries(root: String, v: Long): Seq[(String, Seq[Entry])] =
    chunkRefsOf(root, v).map { r =>
      r -> parseEntries(
        Json.readTree(new File(manifestsDir(root), r)).get("files"))
    }

  /** Publish `v + 1` with `hits` tombstones applied and `delta`
    * appended, rewriting ONLY the manifest chunks that hold an affected
    * file — every untouched chunk's reference carries over verbatim, so
    * a delete/upsert's commit metadata is O(affected chunks + delta),
    * not O(table files). Falls back to a full single-chunk marker when
    * the previous marker was inline/legacy.
    */
  private def commitTombstoned(
      root: String,
      v: Long,
      hits: Map[String, Seq[String]],
      delta: Seq[Entry],
      schemaJson: Option[String],
      deleteKey: Option[String],
      props: Map[String, String] = Map.empty): Unit = {
    val parts = chunksWithEntries(root, v)
    if (parts.nonEmpty) {
      val refs = parts.map { case (ref, es) =>
        if (hits.nonEmpty && es.exists(e => hits.contains(suffixOf(e.path))))
          writeChunk(root, applyTombs(es, hits))
        else ref
      }
      writeMarkerChunked(root, v + 1, refs, delta, schemaJson, deleteKey, props)
    } else
      writeMarker(root, v + 1, applyTombs(manifest(root, v), hits) ++ delta,
        schemaJson, deleteKey, props)
  }

  /** Row-level DELETE as an O(delta) commit — the deletion-vector shape
    * (Delta's DVs, Iceberg's delete files): no data file is rewritten;
    * the next version's manifest carries, per affected file, the set of
    * `keyCol` values deleted from it, and readers anti-join exactly those
    * files against exactly those keys. The one table scan here LOCATES
    * the affected files (so unaffected files never pay the read-side
    * anti-join) and is itself manifest-stats-prunable; the commit writes
    * only a marker. [[compact]] reads through the tombstones and commits
    * a clean snapshot, materializing the deletes away; [[vacuum]] needs
    * no special handling (tombstoned files are still manifest-listed, so
    * the mark-sweep keeps them exactly as long as a live version needs
    * them). Keys are matched on their canonical string rendering — the
    * same equality DuckDB/Spark agree on for integer and string keys.
    * Returns the committed version.
    */
  def deleteCommit(
      spark: SparkSession,
      root: String,
      keyCol: String,
      keys: Seq[String]): Long = {
    import org.apache.spark.sql.functions._
    require(keys.nonEmpty, "deleteCommit needs at least one key")
    val v = latestVersion(root)
    require(v >= 0, s"no committed versions in $root")
    deleteKeyOf(root, v).foreach(k => require(k == keyCol,
      s"table carries tombstones on '$k'; a second delete key '$keyCol' " +
        "requires a compact() first"))
    val entries = manifest(root, v)
    val hits = tombstoneHits(spark, root, v, keyCol, keys, entries)
    commitTombstoned(root, v, hits, delta = Nil,
      schemaJson = markerSchema(root, v).map(_.json),
      deleteKey = Some(keyCol))
    v + 1
  }

  /** Predicate DELETE — the `DELETE WHERE` form: one scan of the latest
    * snapshot (tombstones applied, so re-matching already-deleted rows is
    * impossible) collects the DISTINCT keys the predicate dooms — O(delta)
    * driver traffic by the same contract as [[deleteCommit]], which this
    * delegates to for the tombstone commit itself. Returns the committed
    * version, or -1 when the predicate matched nothing (no empty commit).
    */
  def deleteWhere(
      spark: SparkSession,
      root: String,
      keyCol: String,
      predicate: org.apache.spark.sql.Column): Long = {
    import org.apache.spark.sql.functions._
    val doomed = latest(spark, root).filter(predicate)
      .select(col(keyCol).cast("string")).distinct()
      .collect().map(_.getString(0)).toSeq
    if (doomed.isEmpty) -1L
    else deleteCommit(spark, root, keyCol, doomed.sorted)
  }

  /** RETENTION — file-granular expiry by column stats: commit a new
    * version whose manifest DROPS every file whose `statCol` range
    * stats PROVE all its rows below `cutoff` (finite max < cutoff);
    * files straddling the cutoff or carrying no stats for the column
    * are kept whole. This is TSDB block retention for a landed corpus:
    * O(manifest) driver work, zero data reads or rewrites, the
    * previous version still time-travels exactly, and a later
    * [[vacuum]] reclaims the dropped files' pool bytes once no live
    * marker references them. Kept entries carry their tombstones, the
    * schema/deleteKey/props ride forward unchanged. Returns the
    * committed version, or -1 when nothing expires (no empty commit).
    */
  def expireBefore(root: String, statCol: String, cutoff: Double): Long = {
    val v = latestVersion(root)
    require(v >= 0, s"no committed versions in $root")
    val (dead, kept) = manifest(root, v).partition(e =>
      e.stats.get(statCol).exists { case (mn, mx) =>
        java.lang.Double.isFinite(mn) && java.lang.Double.isFinite(mx) &&
          mx < cutoff
      })
    if (dead.isEmpty) return -1L
    writeMarker(root, v + 1, kept,
      schemaJson = markerSchema(root, v).map(_.json),
      deleteKey = deleteKeyOf(root, v),
      props = markerProps(root, v))
    v + 1
  }

  /** MERGE as an O(delta) commit — upsert-by-key with NOTHING rewritten
    * (the deletion-vector MERGE shape, vs [[mergeCommit]]'s full-snapshot
    * rewrite): ONE new version whose manifest (a) tombstones the
    * changeset's keys in exactly the files that physically hold them
    * (the bloom-pruned locate scan [[deleteCommit]] uses) and (b) appends
    * the changeset itself as new pooled files, bloom-indexed on the key
    * so the NEXT upsert's locate scan prunes them too. Matched keys are
    * replaced, unmatched keys are plain inserts; a key's replacement rows
    * land whole (delete-then-insert semantics — a multi-row-per-key
    * changeset lands all its rows). The commit costs O(changeset +
    * affected files) regardless of table size, is atomic via the single
    * marker, and the previous version still time-travels exactly.
    * Tombstones accumulate across upserts until a [[compact]] materializes
    * them away; an upsert into an empty table is a plain bloom-indexed
    * [[appendCommit]]. Returns the committed version.
    */
  def upsertCommit(
      df: DataFrame,
      root: String,
      keyCol: String,
      bloomCols: Seq[String] = Nil,
      expectedKeysPerFile: Long = 100000L): Long = {
    import org.apache.spark.sql.functions._
    val spark = df.sparkSession
    val allBloomCols = (bloomCols :+ keyCol).distinct
    val v = latestVersion(root)
    if (v < 0) return appendCommit(df, root, allBloomCols, expectedKeysPerFile)
    deleteKeyOf(root, v).foreach(k => require(k == keyCol,
      s"table carries tombstones on '$k'; upserting on '$keyCol' " +
        "requires a compact() first"))
    // the changeset keys — driver-held by the same O(delta) contract as
    // deleteCommit (the changeset is the small side of a MERGE)
    val keys = df.select(col(keyCol).cast("string")).distinct()
      .collect().map(_.getString(0)).toSeq.sorted
    require(keys.nonEmpty, "upsertCommit needs a non-empty changeset")
    val entries = manifest(root, v)
    val hits = tombstoneHits(spark, root, v, keyCol, keys, entries)
    // stage + pool the changeset (appendCommit's write path): data lands
    // fully before the marker publishes — crash leaves invisible orphans
    val staging = s"d-${java.util.UUID.randomUUID().toString.take(12)}"
    df.write.mode("errorifexists").parquet(s"$root/$staging")
    val delta = poolStaged(root, staging,
      bloomsByFile = bloomsFor(spark, s"$root/$staging", allBloomCols, expectedKeysPerFile))
    val anyTombs = hits.nonEmpty || entries.exists(_.deletes.nonEmpty)
    commitTombstoned(root, v, hits, delta,
      schemaJson = Some(mergedSchema(markerSchema(root, v), df).json),
      deleteKey = if (anyTombs) Some(keyCol) else deleteKeyOf(root, v))
    v + 1
  }

  /** The general O(delta) delete-and-insert primitive [[upsertCommit]]
    * and [[deleteCommit]] are special cases of: ONE version that
    * tombstones `deleteKeys` ∪ `df`'s keys in exactly the files holding
    * them and appends `df` (bloom-indexed on the key). Either side may be
    * empty — an empty `df` is a pure tombstone commit, empty `deleteKeys`
    * is a plain upsert, BOTH empty is a metadata-only commit (same file
    * list, `props` recorded). The point of the fused form is ATOMICITY
    * for derived state: a maintainer whose refresh must delete some keys,
    * replace others, and advance a watermark (in `props`) does all three
    * in one marker — no crash point between them can double-apply or
    * lose the delta. Returns the committed version.
    */
  def replaceCommit(
      df: DataFrame,
      root: String,
      keyCol: String,
      deleteKeys: Seq[String] = Nil,
      bloomCols: Seq[String] = Nil,
      expectedKeysPerFile: Long = 100000L,
      props: Map[String, String] = Map.empty,
      expectedVersion: Long = -1L,
      knownKeys: Option[Seq[String]] = None): Long = {
    import org.apache.spark.sql.functions._
    val spark = df.sparkSession
    // `expectedVersion` is the OPTIMISTIC-CONCURRENCY read-set check for
    // derived-state writers (the materialized-view refreshes): a caller
    // that computed its changeset against version E passes E, and the
    // commit lands E+1 through the marker's exclusive link — so a concurrent
    // commit that already took E+1 fails THIS commit loudly instead of
    // letting a stale changeset double-apply on top of it. Default −1
    // keeps last-writer-wins for plain upsert callers.
    val v = if (expectedVersion >= 0) expectedVersion else latestVersion(root)
    require(v >= 0, s"no committed versions in $root")
    require(markerFile(root, v).exists(),
      s"expected version $v is not committed in $root")
    deleteKeyOf(root, v).foreach(k => require(k == keyCol,
      s"table carries tombstones on '$k'; a second delete key '$keyCol' " +
        "requires a compact() first"))
    // `knownKeys` lets a maintainer that ALREADY collected its changeset's
    // key set (the view refreshes — their delta/zeroed collects hold it)
    // skip re-running `df` here just to learn its keys. The caller asserts
    // the set equals df's distinct keyCol values rendered as strings; the
    // tombstone locate and the delta blooms below stay exact either way.
    // The assertion is CHECKED under `spark.graft.verifyKnownKeys` (spec
    // runs set it): a stale/wrong set would silently mis-place tombstones
    // (old rows tombstoned but not replaced), so the contract is pinned by
    // VersionedIdentitySpec seeding every caller with the flag on.
    knownKeys.filter(_ =>
      spark.conf.getOption("spark.graft.verifyKnownKeys").contains("true"))
      .foreach { ks =>
        val actual = df.select(col(keyCol).cast("string")).distinct()
          .collect().map(_.getString(0)).toSet
        require(ks.toSet == actual,
          s"replaceCommit(knownKeys) diverges from df's key set on $root: " +
            s"missing=${(actual -- ks).take(5)} extra=${(ks.toSet -- actual).take(5)}")
      }
    val dfKeys = knownKeys.getOrElse(
      df.select(col(keyCol).cast("string")).distinct()
        .collect().map(_.getString(0)).toSeq)
    val allKeys = (deleteKeys ++ dfKeys).distinct.sorted
    val entries = manifest(root, v)
    val hits =
      if (allKeys.isEmpty) Map.empty[String, Seq[String]]
      else tombstoneHits(spark, root, v, keyCol, allKeys, entries)
    val delta =
      if (dfKeys.isEmpty) Nil
      else {
        val allBloomCols = (bloomCols :+ keyCol).distinct
        val staging = s"d-${java.util.UUID.randomUUID().toString.take(12)}"
        df.write.mode("errorifexists").parquet(s"$root/$staging")
        poolStaged(root, staging,
          bloomsByFile = bloomsFor(spark, s"$root/$staging", allBloomCols, expectedKeysPerFile))
      }
    val anyTombs = hits.nonEmpty || entries.exists(_.deletes.nonEmpty)
    commitTombstoned(root, v, hits, delta,
      schemaJson = Some(mergedSchema(markerSchema(root, v), df).json),
      deleteKey = if (anyTombs) Some(keyCol) else deleteKeyOf(root, v),
      props = props)
    v + 1
  }

  /** Drop columns as a METADATA-ONLY commit — the other half of schema
    * evolution next to [[appendCommit]]'s add-column: the next version
    * lists the SAME files with a schema missing `cols`; readers project
    * the reduced schema (parquet ignores the extra file columns), so the
    * commit costs one marker and time travel still reads every older
    * version with its full schema. Dropping the tombstone key column is
    * refused while unmaterialized tombstones reference it.
    *
    * Column identity is NAME-BASED (parquet/mergeSchema semantics, not
    * Delta's column-mapping ids): re-adding a dropped name via a later
    * [[appendCommit]] RESURRECTS its values in files that still carry the
    * column physically — [[compact]] after the drop materializes the
    * reduced schema into the files if a clean re-add is needed.
    */
  def dropColumns(root: String, cols: Seq[String]): Long = {
    import org.apache.spark.sql.types.StructType
    require(cols.nonEmpty, "need at least one column to drop")
    val v = latestVersion(root)
    require(v >= 0, s"no committed versions in $root")
    val schema = markerSchema(root, v).getOrElse(throw new IllegalStateException(
      s"version $v of $root has no recorded schema (legacy marker) — " +
        "commit once through the schema-tracking path first"))
    cols.foreach(c => require(schema.fieldNames.contains(c),
      s"cannot drop '$c': not in the current schema"))
    val delKey = deleteKeyOf(root, v)
    delKey.foreach(k => require(!cols.contains(k),
      s"cannot drop tombstone key column '$k'; compact() first"))
    val remaining = StructType(schema.fields.filterNot(f => cols.contains(f.name)))
    require(remaining.nonEmpty, "cannot drop every column")
    val refs = chunkRefsOf(root, v)
    if (refs.nonEmpty)
      // truly metadata-only: the same chunks verbatim, one new marker
      writeMarkerChunked(root, v + 1, refs, Nil,
        schemaJson = Some(remaining.json), deleteKey = delKey,
        props = markerProps(root, v))
    else
      writeMarker(root, v + 1, manifest(root, v),
        schemaJson = Some(remaining.json), deleteKey = delKey,
        props = markerProps(root, v))
    v + 1
  }

  /** The last two path components — a stable join key between manifest
    * paths and `input_file_name`'s absolute URIs (pool names are digest-
    * unique; legacy part files disambiguate by their version directory).
    */
  private def suffixOf(p: String): String =
    p.split('/').takeRight(2).mkString("/")

  /** Time travel: the table exactly as committed at version `v` — its
    * recorded schema (missing columns null), minus its tombstoned rows.
    */
  def asOf(spark: SparkSession, root: String, v: Long): DataFrame = {
    val entries = manifest(root, v)
    if (entries.isEmpty)
      // a zero-file version (everything expired/deleted) still reads
      // with its RECORDED schema — downstream projections must resolve
      markerSchema(root, v) match {
        case Some(s) =>
          spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), s)
        case None => spark.emptyDataFrame
      }
    else
      readEntries(spark, root, v, entries)
  }

  /** Commit wall-clock time of version `v` (marker-recorded; legacy
    * markers fall back to the marker file's mtime).
    */
  def commitTime(root: String, v: Long): Long = {
    require(markerFile(root, v).exists(), s"version $v is not committed in $root")
    val node = Json.readTree(markerFile(root, v))
    if (node.has("ts")) node.get("ts").asLong()
    else markerFile(root, v).lastModified()
  }

  /** Time travel by TIMESTAMP — the table as of the newest commit at or
    * before `tsMillis` (Delta's `TIMESTAMP AS OF`). Version resolution is
    * a driver-side scan of the registry-sized marker list.
    */
  def asOfTimestamp(spark: SparkSession, root: String, tsMillis: Long): DataFrame = {
    val vs = history(root).filter(v => commitTime(root, v) <= tsMillis)
    require(vs.nonEmpty,
      s"no version of $root committed at or before $tsMillis")
    asOf(spark, root, vs.max)
  }

  /** Change data feed between two versions — every row with a
    * `_change_type` of `insert` or `delete`:
    *
    *   - inserts = rows of ENTRIES `toV` lists that `fromV` does not (with
    *     `toV`'s tombstones applied) — EXACT for append lineage, where
    *     the delta files are precisely the ingested rows;
    *   - deletes = rows whose key was tombstoned between the versions,
    *     fetched from the `fromV` image of exactly the files carrying the
    *     new tombstones, PLUS rows of entries `fromV` lists that `toV`
    *     dropped.
    *
    * The diff is over entry MULTISETS, not path sets: the
    * content-addressed pool dedupes byte-identical delta files to one
    * path, so a re-sent batch or a same-value upsert lists a path the
    * table already lists — per-path multiplicity surplus is what makes
    * those feed correctly (the judge-case: tombstone + byte-identical
    * re-append nets to an EMPTY feed, and a byte-identical re-append
    * alone feeds its rows as inserts).
    *
    * On append/delete lineage (the ingest path) this reads only the
    * delta files — O(changes), the CDF contract. Across a SNAPSHOT
    * boundary (compact / mergeCommit rewrite) the file-level diff
    * degenerates to reporting the rewrite itself (old files deleted, new
    * files inserted) — use row-level diffing
    * ([[graft.operators.Curate]]'s snapshot-diff shape) across those.
    */
  def changesBetween(
      spark: SparkSession, root: String, fromV: Long, toV: Long): DataFrame = {
    import org.apache.spark.sql.functions._
    require(fromV < toV, s"need fromV < toV, got $fromV >= $toV")
    val from = manifest(root, fromV)
    val to = manifest(root, toV)
    // The content-addressed pool means the same path can appear MULTIPLE
    // times in one manifest (byte-identical deltas dedupe to one pool
    // file — a re-sent ingest batch, a same-value upsert), so the diff is
    // over entry MULTISETS, never path sets. Per path: entries with
    // identical tombstone sets cancel exactly (they contribute no
    // change); leftovers pair positionally — contributions are linear, so
    // ANY pairing yields the same multiset of changed rows; a surplus
    // to-entry is a file insert, a surplus from-entry a file delete, and
    // a paired entry contributes its tombstone delta (new tombstones =
    // row deletes; removed tombstones = row resurrections, reachable via
    // [[restore]]).
    // canonical tombstone-set key, length-prefixed so no key contents
    // can make two distinct sets collide
    def dk(e: Entry): String =
      e.deletes.sorted.map(k => s"${k.length}:$k").mkString("|")
    val inserted = Seq.newBuilder[Entry]
    val droppedFiles = Seq.newBuilder[Entry]
    val paired = Seq.newBuilder[(Entry, Entry)]
    val fromByPath = from.groupBy(_.path)
    val toByPath = to.groupBy(_.path)
    (fromByPath.keySet ++ toByPath.keySet).toSeq.sorted.foreach { p =>
      val fGroups = fromByPath.getOrElse(p, Nil).groupBy(dk)
      val tGroups = toByPath.getOrElse(p, Nil).groupBy(dk)
      // exact-tombstone matches cancel; per-group surplus carries forward
      val fRest = Seq.newBuilder[Entry]
      val tRest = Seq.newBuilder[Entry]
      (fGroups.keySet ++ tGroups.keySet).toSeq.sorted.foreach { k =>
        val f = fGroups.getOrElse(k, Nil)
        val t = tGroups.getOrElse(k, Nil)
        val n = math.min(f.size, t.size)
        fRest ++= f.drop(n)
        tRest ++= t.drop(n)
      }
      // SUBSET-aware pairing: tombstones only grow on a continued entry,
      // so pair each from-entry with a to-entry whose tombstones contain
      // its own — any pairing yields the same SIGNED net (contributions
      // are linear), but a subset-blind pairing can emit spurious
      // delete+insert pairs for unchanged keys, which the update-form
      // rendering would show external CDC consumers as phantom updates.
      // Leftovers (tombstones released by a restore) pair positionally.
      val fr = fRest.result().sortBy(e => (e.deletes.size, dk(e)))
      val tr = tRest.result().sortBy(e => (e.deletes.size, dk(e)))
      val used = Array.fill(tr.size)(false)
      val frLeft = Seq.newBuilder[Entry]
      fr.foreach { f =>
        val fSet = f.deletes.toSet
        val i = tr.indices.find(j => !used(j) && fSet.subsetOf(tr(j).deletes.toSet))
        i match {
          case Some(j) => used(j) = true; paired += ((f, tr(j)))
          case None => frLeft += f
        }
      }
      val remF = frLeft.result()
      val remT = tr.indices.filterNot(used).map(tr)
      val n = math.min(remF.size, remT.size)
      paired ++= remF.take(n).zip(remT.take(n))
      droppedFiles ++= remF.drop(n)
      inserted ++= remT.drop(n)
    }
    val pairs = paired.result()
    // keys newly tombstoned / newly un-tombstoned on paired entries
    val newTombs = pairs
      .map { case (f, t) => f -> (t.deletes.toSet -- f.deletes.toSet) }
      .filter(_._2.nonEmpty)
    val resurrected = pairs
      .map { case (f, t) => t -> (f.deletes.toSet -- t.deletes.toSet) }
      .filter(_._2.nonEmpty)
    val parts = Seq.newBuilder[DataFrame]
    val ins = inserted.result()
    val dropped = droppedFiles.result()
    if (ins.nonEmpty)
      parts += readEntries(spark, root, toV, ins)
        .withColumn("_change_type", lit("insert"))
    if (dropped.nonEmpty)
      parts += readEntries(spark, root, fromV, dropped)
        .withColumn("_change_type", lit("delete"))
    if (newTombs.nonEmpty) {
      val keyCol = deleteKeyOf(root, toV).getOrElse(throw new IllegalStateException(
        s"version $toV of $root has tombstones but no deleteKey"))
      // the fromV image of exactly the files carrying new tombstones
      // (fromV's own tombstones applied, so already-deleted rows never
      // re-report) — batched by key set, so each file's filter is exactly
      // ITS newly-tombstoned keys
      newTombs.groupBy(_._2).toSeq
        .sortBy(_._1.toSeq.sorted.map(k => s"${k.length}:$k").mkString("|"))
        .foreach { case (ks, es) =>
          parts += readEntries(spark, root, fromV, es.map(_._1))
            .filter(col(keyCol).cast("string").isin(ks.toSeq.sorted: _*))
            .withColumn("_change_type", lit("delete"))
        }
    }
    if (resurrected.nonEmpty) {
      val keyCol = deleteKeyOf(root, fromV).getOrElse(throw new IllegalStateException(
        s"version $fromV of $root has tombstones but no deleteKey"))
      // rows alive at toV whose key was tombstoned at fromV (a restore
      // across a delete): the toV image filtered to the released keys
      resurrected.groupBy(_._2).toSeq
        .sortBy(_._1.toSeq.sorted.map(k => s"${k.length}:$k").mkString("|"))
        .foreach { case (ks, es) =>
          parts += readEntries(spark, root, toV, es.map(_._1))
            .filter(col(keyCol).cast("string").isin(ks.toSeq.sorted: _*))
            .withColumn("_change_type", lit("insert"))
        }
    }
    val all = parts.result()
    if (all.isEmpty)
      // metadata-only span (schema change, no-op delete): an EMPTY feed,
      // not an error — CDC consumers poll unconditionally
      asOf(spark, root, toV).withColumn("_change_type", lit("insert"))
        .filter(lit(false))
    else all.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** [[changesBetween]] in Delta's four-type CDF rendering: a key whose
    * span carries BOTH a delete and an insert (an upsert/CDC rewrite)
    * reports its old rows as `update_preimage` and its new rows as
    * `update_postimage`; pure inserts and pure deletes keep their types.
    * Pairing is per KEY over the span (one extra hash shuffle on the
    * table's delete key, O(changes)); the signed consumers
    * ([[MaterializedView]], [[MaterializedJoinView]]) keep the two-type
    * form — pre/postimage exist for external CDC sinks that distinguish
    * updates (Debezium-style consumers, audit trails). Requires the
    * table to have a delete key; a key-less (append-only) table has no
    * update identity and feeds unchanged.
    */
  def changesBetweenUpdateForm(
      spark: SparkSession, root: String, fromV: Long, toV: Long): DataFrame = {
    import org.apache.spark.sql.functions._
    val feed = changesBetween(spark, root, fromV, toV)
    deleteKeyOf(root, toV) match {
      case None => feed
      case Some(keyCol) =>
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col(keyCol).cast("string"))
        feed
          .withColumn("_ins",
            max(when(col("_change_type") === "insert", 1).otherwise(0)).over(w))
          .withColumn("_del",
            max(when(col("_change_type") === "delete", 1).otherwise(0)).over(w))
          .withColumn("_change_type",
            when(col("_ins") === 1 && col("_del") === 1,
              when(col("_change_type") === "delete", lit("update_preimage"))
                .otherwise(lit("update_postimage")))
              .otherwise(col("_change_type")))
          .drop("_ins", "_del")
    }
  }

  /** The latest committed snapshot. */
  def latest(spark: SparkSession, root: String): DataFrame = {
    val v = latestVersion(root)
    require(v >= 0, s"no committed versions in $root")
    asOf(spark, root, v)
  }

  /** The full CDC loop: MERGE a changeset into the latest snapshot and
    * commit the result as the next version (see
    * [[graft.operators.Curate.mergeUpsert]] for the merge semantics and
    * its zero-shuffle scale shape). A merge rewrites the rows it touches,
    * so this is a snapshot commit; the content-address pool still shares
    * any byte-identical untouched files. Returns the new version.
    */
  def mergeCommit(
      spark: SparkSession,
      root: String,
      changes: DataFrame,
      keyCol: String): Long =
    commit(graft.operators.Curate.mergeUpsert(latest(spark, root), changes, keyCol), root)

  /** Small-file compaction as a COMMIT: rewrite the latest snapshot into
    * `numFiles` files — z-ordered by `zorderCols` when given (the
    * OPTIMIZE ... ZORDER BY shape), plainly coalesced otherwise — and
    * publish it as the next version. Rows are untouched; only layout
    * changes, and time travel still reads every pre-compaction version
    * (the pre-compaction files stay pooled as long as a live manifest
    * lists them). Crash-safety is inherited from [[commit]] (data before
    * marker). Compaction is exactly when the skipping indexes are worth
    * (re)building — the z-ordered path records per-file stats (+
    * `statsCols`), and `bloomCols` rebuilds bloom indexes on either path —
    * so an OPTIMIZE never LOSES the pruning the table had (the real
    * formats' behavior). Returns the new version.
    */
  def compact(
      spark: SparkSession,
      root: String,
      numFiles: Int = 1,
      zorderCols: Seq[String] = Nil,
      statsCols: Seq[String] = Nil,
      bloomCols: Seq[String] = Nil): Long = {
    val snap = latest(spark, root)
    // a compact is MAINTENANCE on the same logical state: the current
    // version's commit props (e.g. a materialized view's watermark)
    // carry forward, exactly like its schema does
    val carried = markerProps(root, latestVersion(root))
    if (zorderCols.nonEmpty)
      commitZordered(snap, root, zorderCols, numFiles,
        statsCols = statsCols, bloomCols = bloomCols, props = carried)
    else commit(snap.coalesce(numFiles), root, bloomCols = bloomCols,
      props = carried)
  }

  /** The one small-file threshold every compaction surface shares
    * (API default, CLI `--table compact-small`, the scrape loop's
    * auto-compact, the serve daemon) — divergent defaults across
    * entry points would silently leave mid-sized files unmerged.
    */
  val DefaultSmallFileBytes: Long = 32L << 20

  /** SMALL-FILE compaction as a COMMIT — the maintenance tick a
    * forever-appending landing (a scrape loop lands one registry-sized
    * file per tick) actually needs, costing O(small bytes), never
    * O(table): files at/below `maxBytes` are BIN-PACKED — range-adjacent
    * runs (ordered on the table's first stat column, so merged stats
    * stay as tight as the inputs') greedily filled until a bin's bytes
    * CROSS `maxBytes`, each bin rewritten as one pooled file (tombstones
    * materialized away) — and the next version's manifest is (untouched
    * entries) ++ (unmerged singleton bins) ++ (the merged files). Large
    * files are never listed to the reader, let alone rewritten, so the
    * tick stays cheap no matter how big the table has grown, and a bin
    * that crossed the threshold has SETTLED: it is no longer small and
    * is never rewritten again — only the trailing partial bin keeps
    * absorbing future ticks, so per-tick write amplification is bounded
    * by `maxBytes` (the real formats' sized-targeted OPTIMIZE
    * bin-packing). Each merged file records range/lexical stats for the
    * UNION of the stat columns the compacted files carried (and rebuilds
    * blooms likewise), so a stats-pruned landing never LOSES skipping to
    * its own maintenance. Rows are untouched; time travel still reads
    * every pre-compaction version. Like [[compact]], this does not
    * commute with concurrent commits — a lost marker-link race throws
    * and the caller re-derives (the scrape loop just compacts again next
    * tick). Returns the committed version, or -1 when no bin holds two
    * files (no empty commit).
    */
  def compactSmall(
      spark: SparkSession,
      root: String,
      maxBytes: Long = DefaultSmallFileBytes,
      expectedKeysPerFile: Long = 100000L): Long = {
    val v = latestVersion(root)
    require(v >= 0, s"no committed versions in $root")
    val entries = manifest(root, v)
    def sizeOf(e: Entry): Long = new File(root, e.path).length()
    val (small, keep) = entries.partition(sizeOf(_) <= maxBytes)
    if (small.size < 2) return -1L
    // a dropColumns may have removed a column an old file still carries
    // stats for — only live columns are re-statted (reading a dropped
    // column would fail; its stats are dead weight anyway)
    val liveCols = markerSchema(root, v).map(_.fieldNames.toSet)
    def live(c: String): Boolean = liveCols.forall(_.contains(c))
    val statCols =
      small.flatMap(e => e.stats.keys ++ e.strStats.keys).distinct.filter(live)
    val bloomCols = small.flatMap(e => e.blooms.keys).distinct.filter(live)
    // range-adjacency order: the first stat column's min (stat-less
    // files sort first, grouping together); path tiebreak for
    // determinism
    val orderCol = statCols.sorted.headOption
    val ordered = small.sortBy(e =>
      (orderCol.flatMap(e.stats.get).map(_._1)
        .getOrElse(Double.NegativeInfinity), e.path))
    val bins = Seq.newBuilder[Seq[Entry]]
    var bin = Vector.empty[Entry]
    var sum = 0L
    ordered.foreach { e =>
      bin :+= e
      sum += sizeOf(e)
      if (sum > maxBytes) { bins += bin; bin = Vector.empty; sum = 0L }
    }
    if (bin.nonEmpty) bins += bin
    val (merge, leave) = bins.result().partition(_.size >= 2)
    if (merge.isEmpty) return -1L
    val newEntries = merge.flatMap { b =>
      val staging = s"d-${java.util.UUID.randomUUID().toString.take(12)}"
      val merged = readSubset(spark, root, v, b).coalesce(1)
      merged.write.mode("errorifexists").parquet(s"$root/$staging")
      val (statsByFile, strStatsByFile) = statsFor(
        spark, s"$root/$staging", merged.schema, statCols)
      poolStaged(root, staging, statsByFile, strStatsByFile,
        bloomsFor(spark, s"$root/$staging", bloomCols, expectedKeysPerFile))
    }
    writeMarker(root, v + 1, keep ++ leave.flatten ++ newEntries,
      schemaJson = markerSchema(root, v).map(_.json),
      deleteKey = deleteKeyOf(root, v),
      props = markerProps(root, v))
    v + 1
  }

  /** Metadata-only manifest COMPACTION (Iceberg's `rewrite_manifests`):
    * after N appends a marker carries N chunk refs; this merges them
    * into ONE chunk in a new version — no data file moves, schema /
    * tombstones / props carry forward — so manifest reads go back to a
    * single fetch while commit metadata stays O(delta) for the appends
    * that follow. The data-file [[compact]] does this implicitly; this
    * is for the landing that appends forever and never pays a data
    * rewrite. Returns the committed version, or -1 when the manifest is
    * already a single chunk (no empty commit).
    */
  def rewriteManifests(root: String): Long = {
    val v = latestVersion(root)
    require(v >= 0, s"no committed versions in $root")
    if (chunkRefsOf(root, v).length <= 1) return -1L
    writeMarker(root, v + 1, manifest(root, v),
      schemaJson = markerSchema(root, v).map(_.json),
      deleteKey = deleteKeyOf(root, v),
      props = markerProps(root, v))
    v + 1
  }

  /** CDC APPLY as an O(delta) commit — [[Curate.mergeUpsert]]'s
    * MERGE-standard semantics (matched-U update, matched-D delete,
    * unmatched-I insert; matched-I and unmatched-U/D are no-ops) with
    * NOTHING rewritten: ONE new version that tombstones the matched
    * U/D keys in exactly the files holding them and appends the
    * surviving payloads (matched updates + genuine inserts) as new
    * pooled files. The matched-key resolution is a broadcast semi join
    * of the snapshot's key column against the changeset (tombstones
    * applied, so a deleted key re-inserts cleanly), with only the
    * ≤|changeset| matched keys collected — the same O(delta) driver
    * contract as [[deleteCommit]]/[[upsertCommit]]. Returns the
    * committed version, or -1 when every op was a no-op (no empty
    * commit). The streaming form is `foreachBatch(applyCdc)` — each
    * micro-batch one delta commit, the continuous-ingest loop that
    * never rewrites the table.
    */
  def applyCdc(
      changes: DataFrame,
      root: String,
      keyCol: String,
      bloomCols: Seq[String] = Nil,
      expectedKeysPerFile: Long = 100000L): Long = {
    import org.apache.spark.sql.functions._
    val spark = changes.sparkSession
    import spark.implicits._
    val v = latestVersion(root)
    require(v >= 0, s"no committed versions in $root")
    deleteKeyOf(root, v).foreach(k => require(k == keyCol,
      s"table carries tombstones on '$k'; CDC on '$keyCol' requires a compact() first"))
    val allBloomCols = (bloomCols :+ keyCol).distinct
    // (key, op) pairs — driver-held by the O(delta) changeset contract
    val keyOps = changes
      .select(col(keyCol).cast("string").as("_k"), col("op")).distinct()
      .collect().map(r => r.getString(0) -> r.getString(1)).toSeq
    require(keyOps.map(_._1).distinct.size == keyOps.size,
      "CDC batch must carry one op per key (pre-collapse upstream)")
    // which changeset keys exist in the CURRENT snapshot (through
    // tombstones): semi join on the pruned key column, matched keys back
    val chgKeysDf = broadcast(keyOps.map(_._1).toDF("_ck"))
    val matched = latest(spark, root)
      .select(col(keyCol).cast("string").as("_mk"))
      .join(chgKeysDf, col("_mk") === col("_ck"), "left_semi")
      .distinct().collect().map(_.getString(0)).toSet
    val tomb = keyOps.collect {
      case (k, op) if (op == "U" || op == "D") && matched(k) => k
    }.sorted
    // surviving payloads, resolved distributed (payloads never collect):
    // matched updates + genuinely new inserts
    val matchedDf = broadcast(matched.toSeq.toDF("_mk"))
    val appendDf = changes
      .join(matchedDf, col(keyCol).cast("string") === col("_mk"), "left_outer")
      .filter((col("op") === "U" && col("_mk").isNotNull) ||
        (col("op") === "I" && col("_mk").isNull))
      .drop("op", "_mk")
    val hasAppends = !appendDf.isEmpty
    if (tomb.isEmpty && !hasAppends) return -1L
    val entries = manifest(root, v)
    val hits =
      if (tomb.isEmpty) Map.empty[String, Seq[String]]
      else tombstoneHits(spark, root, v, keyCol, tomb, entries)
    val delta =
      if (!hasAppends) Nil
      else {
        val staging = s"d-${java.util.UUID.randomUUID().toString.take(12)}"
        appendDf.write.mode("errorifexists").parquet(s"$root/$staging")
        poolStaged(root, staging,
          bloomsByFile = bloomsFor(spark, s"$root/$staging", allBloomCols, expectedKeysPerFile))
      }
    val anyTombs = hits.nonEmpty || entries.exists(_.deletes.nonEmpty)
    commitTombstoned(root, v, hits, delta,
      schemaJson = Some(mergedSchema(markerSchema(root, v), appendDf).json),
      deleteKey = if (anyTombs) Some(keyCol) else deleteKeyOf(root, v))
    v + 1
  }

  /** RESTORE — roll the table back to version `v` as a NEW commit (the
    * `RESTORE TABLE … TO VERSION` shape the production formats expose):
    * the next version lists exactly `v`'s manifest with `v`'s schema and
    * tombstones, so the rollback costs ONE marker — O(1) in table size,
    * no data moves — and history is preserved: the rolled-back versions
    * still time-travel, and [[vacuum]] retires them on its normal
    * schedule. Restoring a version a vacuum already swept fails loudly
    * (missing marker, or [[writeMarker]]'s existence re-verification if
    * only the files are gone). Returns the committed version.
    */
  def restore(root: String, v: Long): Long = {
    val cur = latestVersion(root)
    require(cur >= 0, s"no committed versions in $root")
    val refs = chunkRefsOf(root, v)
    if (refs.nonEmpty)
      // `v`'s chunks verbatim: the rollback is one marker, zero rewrites
      writeMarkerChunked(root, cur + 1, refs, Nil,
        schemaJson = markerSchema(root, v).map(_.json),
        deleteKey = deleteKeyOf(root, v),
        props = markerProps(root, v))
    else
      writeMarker(root, cur + 1, manifest(root, v),
        schemaJson = markerSchema(root, v).map(_.json),
        deleteKey = deleteKeyOf(root, v),
        props = markerProps(root, v))
    cur + 1
  }

  private def tagsDir(root: String) = new File(root, "_tags")
  private def tagFile(root: String, name: String) =
    new File(tagsDir(root), s"$name.json")

  /** Create a named TAG pinning version `v` — the named-refs shape the
    * production formats keep beside the version log (Iceberg tags, Delta
    * named snapshots): a tiny `_tags/<name>.json` marker resolving to a
    * version. A tagged version is PROTECTED from [[vacuum]]'s retention
    * sweep until [[untag]] releases it (the refs-retention rule), so
    * "the corpus the March model trained on" stays time-travelable while
    * routine retention rolls everything else forward. Tag names are
    * immutable once created (an exclusive link — re-pointing a ref is a
    * delete + create, never a silent overwrite).
    */
  def tag(root: String, name: String, v: Long): Unit = {
    require(name.matches("[A-Za-z0-9._-]+"),
      s"tag name '$name' must be [A-Za-z0-9._-]+")
    require(markerFile(root, v).exists(), s"version $v is not committed in $root")
    tagsDir(root).mkdirs()
    val node = Json.createObjectNode()
    node.put("version", v)
    node.put("ts", System.currentTimeMillis())
    try publishExclusive(tagFile(root, name), Json.writeValueAsBytes(node))
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new IllegalArgumentException(
          s"tag '$name' already exists in $root (untag first to re-point)")
    }
  }

  /** Release a tag; its version re-enters normal retention. */
  def untag(root: String, name: String): Unit = {
    require(tagFile(root, name).exists(), s"no tag '$name' in $root")
    Files.delete(tagFile(root, name).toPath)
  }

  /** All tags, name → pinned version. */
  def tags(root: String): Map[String, Long] = {
    Option(tagsDir(root).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".json"))
      .map { f =>
        f.getName.stripSuffix(".json") -> Json.readTree(f).get("version").asLong()
      }
      .toMap
  }

  /** Time travel by tag name — `asOf` at the tag's pinned version. */
  def asOfTag(spark: SparkSession, root: String, name: String): DataFrame = {
    val v = tags(root).getOrElse(name,
      throw new IllegalArgumentException(s"no tag '$name' in $root"))
    asOf(spark, root, v)
  }

  /** Zero-copy SHALLOW CLONE: materialize version `v` (default latest) of
    * `root` as a brand-new independent table at `dest` without copying a
    * byte of data — every referenced pool file becomes a HARD LINK in the
    * clone's own pool (content-addressed files are immutable, so sharing
    * bytes is always safe), and the clone starts its own commit chain at
    * v0 with the source's manifest, schema, and tombstones. The two
    * tables are fully independent afterwards: each commits, compacts and
    * vacuums on its own chain, and deleting a file in one only drops that
    * directory entry — the other's link keeps the bytes alive (exactly
    * why the real formats' shallow clones are O(metadata)). Legacy
    * whole-directory entries (no content digest) hard-link under their
    * original relative paths so the cloned manifest stays valid. The
    * experiment-fork shape: clone the corpus, mutate the clone, diff.
    * Returns the clone's committed version (always 0).
    */
  def cloneTo(root: String, dest: String, v: Long = -1L): Long = {
    val src = if (v >= 0) v else latestVersion(root)
    require(src >= 0, s"no committed versions in $root")
    require(latestVersion(dest) < 0 && !new File(dest, "_files").exists(),
      s"clone destination $dest already holds a table")
    val entries = manifest(root, src)
    entries.foreach { e =>
      val from = new File(root, e.path)
      require(from.exists(), s"source file ${e.path} missing (vacuumed mid-clone?)")
      val to = new File(dest, e.path)
      to.getParentFile.mkdirs()
      if (!to.exists()) Files.createLink(to.toPath, from.toPath)
    }
    writeMarker(dest, 0L, entries,
      schemaJson = markerSchema(root, src).map(_.json),
      deleteKey = deleteKeyOf(root, src))
    0L
  }

  /** All committed versions, ascending — the table's readable history. */
  def history(root: String): Seq[Long] = {
    val markers = Option(commitsDir(root).listFiles()).getOrElse(Array.empty)
    markers.iterator
      .map(_.getName)
      .collect { case n if n.startsWith("v") && n.endsWith(".json") =>
        n.stripSuffix(".json").stripPrefix("v").toLong
      }
      .toSeq.sorted
  }

  /** `DESCRIBE HISTORY` — one row per committed version: timestamp,
    * file/chunk/tombstone counts, schema width, delete key, and the
    * commit props. Pure marker/manifest metadata (no data files read);
    * the operational surface for retention planning, debugging a CDC
    * consumer's watermark, or auditing what a commit changed.
    */
  def describeHistory(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    history(root).map { v =>
      val entries = manifest(root, v)
      (v, commitTime(root, v), entries.size.toLong,
        chunkRefsOf(root, v).size.toLong,
        entries.map(_.deletes.size.toLong).sum,
        markerSchema(root, v).map(_.fields.length.toLong).getOrElse(-1L),
        deleteKeyOf(root, v).getOrElse(""),
        markerProps(root, v))
    }.toDF("version", "commit_ts", "num_files", "num_chunks",
      "num_tombstones", "num_columns", "delete_key", "props")
  }

  /** Retention vacuum as a manifest-scoped MARK-SWEEP: drop every version
    * older than the latest `keepLast`, then delete exactly the files those
    * dropped manifests reference that NO kept version still lists — a
    * shared file survives as long as one live version needs it (this is
    * what makes retention safe under file sharing; a refcount would say
    * the same thing less robustly). Markers are deleted FIRST — the
    * crash-safe inverse of [[commit]]'s data-then-marker order, so an
    * interrupted vacuum leaves invisible orphan files, never a marker
    * pointing at deleted data. Pool files referenced by NO manifest at all
    * (crashed or conflicted writers) are deliberately untouched: they may
    * belong to a concurrent commit mid-flight, and the real formats gate
    * that sweep on a retention age. `minAgeMs` is that gate here: a file
    * younger than the horizon is never deleted even when unreferenced by
    * kept versions — it may be shared by a commit that is mid-flight
    * between pooling and marker publication (content-address dedupe makes
    * such sharing invisible to the committer). The default 0 keeps
    * single-writer behavior exact; production pairs a real horizon (the
    * formats default to days) with [[writeMarker]]'s existence re-check.
    * [[tag]]ged versions are pinned refs and never dropped (nor are the
    * files they list) until [[untag]] releases them.
    * Returns the dropped versions.
    */
  def vacuum(root: String, keepLast: Int = 2, minAgeMs: Long = 0L): Seq[Long] = {
    require(keepLast >= 1, "must keep at least the latest version")
    val all = history(root)
    // tagged versions are pinned refs — retention never drops them
    val pinned = tags(root).values.toSet
    val dropped = all.dropRight(keepLast).filterNot(pinned.contains)
    val droppedSet = dropped.toSet
    val dropRefs = dropped.flatMap(v => manifest(root, v).map(_.path)).toSet
    // resolve file AND chunk lists BEFORE dropping markers
    val dropChunks = dropped.flatMap(v => chunkRefsOf(root, v)).toSet
    val kept = all.filterNot(droppedSet.contains)
    val keptRefs = kept.flatMap(v => manifest(root, v).map(_.path)).toSet
    val keptChunks = kept.flatMap(v => chunkRefsOf(root, v)).toSet
    dropped.foreach(v => Files.deleteIfExists(markerFile(root, v).toPath))
    val horizon = System.currentTimeMillis() - minAgeMs
    // manifest-chunk mark-sweep mirrors the pool sweep EXACTLY: only
    // chunks the DROPPED markers referenced are candidates, and a chunk
    // survives as long as one retained marker lists it. A chunk written
    // by an in-flight commit (pooled, marker not yet published) is
    // referenced by no dropped marker and therefore never touched here —
    // that is [[vacuumOrphans]]' job, behind its mandatory age gate.
    (dropChunks -- keptChunks).toSeq.sorted.foreach { r =>
      val f = new File(manifestsDir(root), r)
      if (minAgeMs <= 0L || !f.exists() || f.lastModified() < horizon)
        Files.deleteIfExists(f.toPath)
    }
    (dropRefs -- keptRefs).toSeq.sorted.foreach { p =>
      val f = new File(root, p)
      if (minAgeMs <= 0L || !f.exists() || f.lastModified() < horizon) {
        Files.deleteIfExists(f.toPath)
        // a legacy data directory holds only this version's data: once its
        // parquet is swept, clear the residual _SUCCESS/.crc markers too so
        // the directory itself can go (the pool directory is never touched)
        val parent = f.getParentFile
        if (parent.getName != "_files") {
          val left = Option(parent.listFiles()).getOrElse(Array.empty)
          if (!left.exists(_.getName.endsWith(".parquet"))) {
            left.foreach(r => Files.deleteIfExists(r.toPath))
            Files.deleteIfExists(parent.toPath)
          }
        }
      }
    }
    dropped
  }

  /** Orphan-file sweep — the other half of retention next to [[vacuum]]:
    * delete pool files referenced by NO live manifest that are older than
    * `minAgeMs` (crashed writers, conflicted committers, and files a
    * retention-gated vacuum skipped). The age gate is what makes this safe
    * to run concurrently with committers: a file younger than the horizon
    * may belong to a commit mid-flight between pooling and marker
    * publication, so it is never touched. Returns the deleted paths.
    */
  def vacuumOrphans(root: String, minAgeMs: Long): Seq[String] = {
    val live = history(root)
    val referenced = live.flatMap(v => manifest(root, v).map(_.path)).toSet
    val refChunks = live.flatMap(v => chunkRefsOf(root, v)).toSet
    val horizon = System.currentTimeMillis() - minAgeMs
    val pools = Option(poolDir(root).listFiles()).getOrElse(Array.empty)
      .filter(f => !referenced.contains(s"_files/${f.getName}") &&
        f.lastModified() <= horizon)
      .sortBy(_.getName)
      .map { f => Files.delete(f.toPath); s"_files/${f.getName}" }
      .toSeq
    // a dot-name is a chunk still being published (publishExclusive)
    val chunks = Option(manifestsDir(root).listFiles()).getOrElse(Array.empty)
      .filter(f => !f.getName.startsWith(".") && !refChunks.contains(f.getName) &&
        f.lastModified() <= horizon)
      .sortBy(_.getName)
      .map { f => Files.delete(f.toPath); s"_manifests/${f.getName}" }
      .toSeq
    pools ++ chunks
  }
}
