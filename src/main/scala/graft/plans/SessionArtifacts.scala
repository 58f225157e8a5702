package graft.plans

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** The session cache for derived artifacts: one key, one bound, one lock
  * rule, one pair of counters and one [[clear]] for every artifact a
  * curation session derives once and reads from many queries (the
  * reference's content-addressed view cache, lifted to session-level
  * artifacts).
  *
  * Two storage forms, chosen by the caller, which knows its artifact's
  * size:
  *   - [[rows]]: BOUNDED artifacts (k IVF centroids, m·ksub PQ codebook
  *     rows, PCA components, BPE merge tables, staging checksums) are
  *     collected and replayed as a local relation in the caller's
  *     session, so every consumer sees bit-identical rows whether it
  *     derived or hit;
  *   - [[parquet]]: GRAPH-SIZED artifacts (near-dup pair graphs, component
  *     labels, the curation ledger) are never collected. They are written
  *     once as Parquet under a session-unique tmp root and read back as a
  *     plain file scan, which survives the long-lived-session
  *     `Checkpoints.releaseAll` sweep that kills localCheckpoint blocks.
  *
  * Keying: sorted input files + canonicalized logical plan +
  * [[leafDigest]] + the caller's tag (every knob that changes the
  * derivation), MD5'd. A frame with no file-backed leaf (in-memory spec
  * corpora) or with a leaf that cannot be fingerprinted derives uncached.
  *
  * Bound: one access-ordered LRU of [[maxEntries]]; a hit refreshes the
  * entry, the eldest leaves past the cap and its next caller re-derives.
  * Eviction is logged to stderr: a session whose working set exceeds the
  * cap turns every cache win into a re-derivation, which would otherwise
  * read as an unexplained per-query regression. An evicted Parquet entry
  * leaves the map only; its directory lives until the shutdown hook
  * deletes the root, because frames already handed out read the path
  * lazily and must keep working. Every derivation writes a fresh
  * directory (the `gen` suffix), so a re-derived key never overwrites a
  * path an earlier frame still reads.
  *
  * Locking: one monitor PER KEY covers lookup, derive and register, so
  * same-key callers derive once while different artifacts derive in
  * parallel (a global monitor convoyed parallel Verify). Nested
  * derivations on different keys are legal (`pcaComponent2` derives
  * `pcaComponent`, the ledger reads the pair graph): the monitors nest
  * along the acyclic call DAG. The entry map has a short monitor of its
  * own, because an access-ordered `get` mutates LRU state.
  *
  * At cluster scale the Parquet form holds with a durable FS path instead
  * of java.io.tmpdir: the cache IS the "write the pair graph once, audit
  * it many times" workflow, not a bench trick. */
object SessionArtifacts {

  private sealed trait Entry {
    def frame(s: SparkSession): DataFrame
    /** False for a Parquet entry whose write did not finish. */
    def complete: Boolean = true
  }
  private final case class Rows(schema: StructType, rows: Array[Row]) extends Entry {
    def frame(s: SparkSession): DataFrame =
      s.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }
  private final case class Dir(dir: java.io.File) extends Entry {
    def frame(s: SparkSession): DataFrame = s.read.parquet(dir.getAbsolutePath)
    override def complete: Boolean = new java.io.File(dir, "_SUCCESS").isFile
  }

  private[graft] var maxEntries = 64 // var: the eviction spec shrinks it
  private val entries = new java.util.LinkedHashMap[String, Entry](
    16, 0.75f, /*accessOrder=*/ true)
  private val keyLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private val gen = new java.util.concurrent.atomic.AtomicLong
  private[graft] val hits = new java.util.concurrent.atomic.AtomicLong
  private[graft] val misses = new java.util.concurrent.atomic.AtomicLong
  private[graft] def size: Int = entries.synchronized(entries.size)

  /** Drop every entry and every key lock, delete the Parquet entries, and
    * drop the memoized table frames ([[graft.Tables.tClear]]). Results
    * are unaffected: every artifact re-derives deterministically. This is
    * the one staleness seam for a harness that rewrites inputs in place
    * inside one JVM (see [[leafDigest]]). */
  private[graft] def clear(): Unit = {
    entries.synchronized {
      entries.values.forEach {
        case Dir(d) => org.apache.commons.io.FileUtils.deleteQuietly(d)
        case _ =>
      }
      entries.clear()
    }
    keyLocks.clear()
    graft.Tables.tClear()
  }

  private lazy val root: java.io.File = {
    val rt = java.lang.management.ManagementFactory.getRuntimeMXBean
    val d = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_artifacts_${rt.getPid}_${rt.getStartTime}")
    d.mkdirs()
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      org.apache.commons.io.FileUtils.deleteQuietly(d)))
    d
  }

  /** `derive` over `input`, collected on first use and replayed as a
    * local relation afterwards. For bounded artifacts only. */
  def rows(input: DataFrame, tag: String)(derive: => DataFrame): DataFrame =
    cached(input, tag, derive) { (_, df) => Rows(df.schema, df.collect()) }

  /** `derive` over `input`, written once as Parquet and read back as a
    * file scan afterwards. For graph-sized artifacts. */
  def parquet(input: DataFrame, tag: String)(derive: => DataFrame): DataFrame =
    cached(input, tag, derive) { (key, df) =>
      val d = new java.io.File(root, s"${key}_${gen.incrementAndGet()}")
      df.write.mode("overwrite").parquet(d.getAbsolutePath)
      Dir(d)
    }

  private def cached(input: DataFrame, tag: String, derive: => DataFrame)(
      store: (String, DataFrame) => Entry): DataFrame =
    key(input, tag) match {
      case None => derive
      case Some(k) =>
        val lock = keyLocks.computeIfAbsent(k, _ => new Object)
        val entry = lock.synchronized {
          val found = entries.synchronized {
            val e = entries.get(k)
            // a crashed partial write must not poison the session
            if (e != null && !e.complete) { entries.remove(k); null } else e
          }
          if (found != null) { hits.incrementAndGet(); found }
          else {
            misses.incrementAndGet()
            val e = store(k, derive)
            register(k, e)
            e
          }
        }
        entry.frame(input.sparkSession)
    }

  private def register(k: String, e: Entry): Unit = entries.synchronized {
    entries.put(k, e)
    while (entries.size > maxEntries) {
      val evicted = entries.keySet.iterator.next()
      entries.remove(evicted)
      System.err.println(s"[artifacts] evicted $evicted " +
        s"(cap $maxEntries); its next caller re-derives")
    }
  }

  /** MD5 of sorted input files + canonicalized plan + leaf digest + tag;
    * None when `input` has no file-backed leaf or an unhashable one. */
  private def key(input: DataFrame, tag: String): Option[String] = {
    val files = input.inputFiles
    if (files.isEmpty) None
    else leafDigest(input).map { leaves =>
      // maxFields = MaxValue: the default toString truncates wide field
      // lists ("... N more fields"), which would alias two plans that
      // differ only inside the truncated tail
      val plan = input.queryExecution.analyzed.canonicalized
        .treeString(verbose = false, addSuffix = false,
          maxFields = Int.MaxValue, printOperatorId = false)
      java.util.HexFormat.of().formatHex(
        java.security.MessageDigest.getInstance("MD5").digest(
          (files.sorted.mkString("\n") + "\u0000" + plan + "\u0000" +
            leaves + "\u0000" + tag).getBytes("UTF-8")))
    }
  }

  /** Content digest of the plan's leaves. The leaf digest matters because
    * canonicalized plans OMIT LocalRelation data: without it, two
    * residual frames built from different literal centroid sets (same
    * schema, same corpus files) would alias one key. LocalRelations hash
    * their rows (rendered via UnsafeProjection, so equal content digests
    * equal regardless of the backing InternalRow representation);
    * file-backed leaves hash every file's path + length + modification
    * time — paths alone would replay a stale artifact after a file is
    * rewritten in place within the JVM lifetime. None (derive uncached)
    * for any other leaf: a checkpointed LogicalRDD's content is not
    * cheaply hashable, and a non-file V2 source (e.g. a stream)
    * contributes no inputFiles, so skipping either would let two
    * different datasets alias one key.
    *
    * RESIDUAL RISK (documented, accepted): file identity is
    * path|length|mtime at filesystem-timestamp granularity — an in-place
    * rewrite that preserves the byte length within the same mtime tick
    * (sub-millisecond on ext4) aliases the old key and replays a stale
    * artifact. Closing it would take a content checksum, i.e. a full
    * corpus scan per LOOKUP — strictly worse than the re-derivation the
    * cache exists to avoid. A harness that regenerates inputs in place
    * inside one JVM calls [[clear]] instead (the eviction/staleness specs
    * do); Verify and Bench are one-JVM-per-run, so they never see a
    * mid-session rewrite. */
  private[graft] def leafDigest(df: DataFrame): Option[String] = {
    import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
    import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, OneRowRelation}
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2Relation, FileTable}
    val md = java.security.MessageDigest.getInstance("MD5")
    def foldFiles(index: org.apache.spark.sql.execution.datasources.FileIndex): Unit =
      index.listFiles(Nil, Nil).flatMap(_.files)
        .map(f => s"${f.getPath}|${f.getLen}|${f.getModificationTime}")
        .sorted
        .foreach(s => md.update(s.getBytes("UTF-8")))
    var ok = true
    df.queryExecution.analyzed.collectLeaves().foreach {
      case l: LocalRelation =>
        md.update(l.schema.catalogString.getBytes("UTF-8"))
        val proj = UnsafeProjection.create(l.schema)
        l.data.foreach(r => md.update(proj(r).getBytes))
      case _: OneRowRelation => md.update('1'.toByte)
      case l: LogicalRelation => l.relation match {
        case fs: HadoopFsRelation => foldFiles(fs.location)
        case _ => ok = false // non-file V1 relation (e.g. JDBC): not hashable
      }
      case l: DataSourceV2Relation => l.table match {
        case ft: FileTable => foldFiles(ft.fileIndex)
        case _ => ok = false // non-file V2 source: contributes no inputFiles
      }
      case _ => ok = false
    }
    if (ok) Some(java.util.HexFormat.of().formatHex(md.digest())) else None
  }
}
