package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.model.{Identifier, Record}

/** Corpus sources and sinks (SURVEY.md §2a: D1-D3, D7, D14, D15, D18).
  *
  * The engine-native store is Parquet — columnar and splittable, so reading
  * `identifier` plus one view does not deserialize parse forests (impossible
  * in the reference's monolithic one-Thrift-file-per-document layout,
  * `HadoopCuratorClient.java:83-104`). Scale: a write can be laid out in
  * cells by the leading hex nibble of the content hash, uniformly sized at
  * any corpus size (the incremental streaming sink's layout); readers take
  * flat and celled directories alike.
  */
object Sources {

  /** Wall-clock nanos spent inside the FS-heavy sink operations
    * (record write, output rotation, store swap/recovery) this JVM —
    * the bench reads before/after deltas per query so a composed-
    * pipeline regression is attributable to disk vs compute from the
    * diagnostics artifact alone (q_pipeline_e2e deletes and rewrites
    * out/store each run BY DESIGN, so a slow disk day reads exactly
    * like a slow planner without this split). */
  private[graft] val fsNanos = new java.util.concurrent.atomic.AtomicLong
  @inline private def fsTimed[A](f: => A): A = {
    val t0 = System.nanoTime()
    try f finally fsNanos.addAndGet(System.nanoTime() - t0)
  }

  /** D3: raw-text ingest — directory of UTF-8 `.txt` files, one document
    * each, to fresh Records (reference
    * `CuratorClient.createRecordsFromRawInputFiles`, 406-429). Empty
    * documents are rejected (`CuratorClient.java:527-536`); duplicate
    * documents collapse by content hash (content-addressed identity).
    *
    * The directory is the one root path and `pathGlobFilter` picks the
    * `.txt` files, so Spark lists it once, without a listing job. A glob
    * over the `.txt` files expands to one root path per file, and past 32
    * roots Spark lists them with a parallel job of one task per file.
    * Only top-level `.txt` files are documents: files in a plain
    * subdirectory are not. An empty directory gives an empty corpus; a
    * missing one fails with `PATH_NOT_FOUND`. A `k=v`-named subdirectory
    * is refused: Spark would read it as a partition and drop the
    * top-level files (one level deeper, its partition discovery fails
    * with `CONFLICTING_DIRECTORY_STRUCTURES`). */
  def rawTextDir(spark: SparkSession, dir: String, whitespaced: Boolean = false): Dataset[Record] = {
    import spark.implicits._
    val text = spark.read.format("text").option("wholetext", "true")
      .option("pathGlobFilter", "*.txt")
      .load(dir)
    val partitions = text.columns.filterNot(_ == "value")
    require(partitions.isEmpty,
      s"$dir: k=v subdirectories (${partitions.mkString(", ")}) are not raw-text input")
    text.select(col("value").as("rawText"))
      .filter(length(col("rawText")) > 0)
      .distinct() // content dedup on the string (hash-aggregable), not the record
      .as[String]
      .map(t => Record.fresh(t, whitespaced))
  }

  /** Ingest from any DataFrame with a text column (e.g. the `documents`
    * table) — the column form of the sha1 identity keeps the whole ingest
    * inside codegen. */
  def fromTextColumn(df: DataFrame, textCol: String, whitespaced: Boolean = false): Dataset[Record] = {
    val spark = df.sparkSession
    import spark.implicits._
    // dedup on the bare text BEFORE attaching the (map-typed) view columns:
    // a distinct over maps can only SortAggregate; over one string column it
    // is a codegen'd HashAggregate
    df.select(col(textCol).as("rawText"))
      .filter(length(col("rawText")) > 0)
      .distinct()
      .select(
        Identifier.idColumn(col("rawText"), lit(whitespaced)).as("identifier"),
        col("rawText"),
        typedLit(Map.empty[String, graft.model.Labeling]).as("labelViews"),
        typedLit(Map.empty[String, graft.model.Clustering]).as("clusterViews"),
        typedLit(Map.empty[String, graft.model.Forest]).as("parseViews"),
        typedLit(Map.empty[String, graft.model.GView]).as("views"),
        lit(whitespaced).as("whitespaced"))
      .as[Record]
  }

  /** Sharded-JSONL egress — the de-facto LLM training-data interchange
    * format (one JSON object per line, N part files = the standard
    * sharded layout every downstream trainer consumes). Spark's JSON
    * sink handles escaping/unicode; each partition becomes one shard, so
    * shard count and size follow the frame's partitioning — repartition
    * before writing to choose shard granularity. Column types survive
    * via the schema the reader is given back ([[readJsonl]]); this is an
    * INTERCHANGE sink, not the engine-native store (Parquet keeps
    * columnar pruning; JSONL exists because the rest of the ecosystem
    * speaks it). Scale note: leave shards UNCOMPRESSED or use many
    * moderate shards if compressing — gzip JSONL is unsplittable, so a
    * handful of huge .gz shards serializes any later read to one task
    * per shard. */
  def writeJsonl(df: DataFrame, path: String, mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).json(path)

  /** Sharded-JSONL ingest with an explicit schema — schema inference
    * would scan the corpus twice and silently widen types, so the
    * contract is schema-first (the norm for training-data manifests).
    * Splittable: uncompressed JSONL reads in parallel at any shard
    * size. Corrupt lines fail loudly (FAILFAST) rather than becoming
    * silent nulls — at 100 TB a single malformed shard discovered at
    * training time costs far more than a failed ingest job. */
  def readJsonl(spark: SparkSession, path: String, schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.schema(schema).option("mode", "FAILFAST").json(path)

  /** D7: engine-native sink. `idPrefixPartitions` buckets by the first hex
    * char of the identifier — 16 balanced partitions per write, stable under
    * corpus growth (content hashes are uniform). */
  def writeRecords(ds: Dataset[Record], path: String, mode: SaveMode = SaveMode.Overwrite,
      idPrefixPartitions: Boolean = false): Unit = fsTimed {
    val out = if (idPrefixPartitions)
      ds.withColumn("id_prefix", substring(col("identifier"), 1, 1))
        .repartition(col("id_prefix"))
        .write.partitionBy("id_prefix")
    else ds.write
    out.mode(mode).parquet(path)
  }

  /** D7: read a record directory, flat or in `id_prefix=` cells, with the
    * known `Record` schema: no schema-inference job, and the driver lists
    * the directory once, when the Dataset is made. Partition discovery
    * still appends the `id_prefix` column, which is dropped. An empty
    * directory reads as an empty corpus rather than failing inference, so
    * callers that must tell a record directory from anything else gate on
    * [[containsSerializedRecords]] first. */
  def readRecords(spark: SparkSession, path: String): Dataset[Record] = {
    import spark.implicits._
    spark.read.schema(Encoders.product[Record].schema).parquet(path)
      .drop("id_prefix").as[Record]
  }

  /** Compact a record store to ~`targetBytes` files. Long-lived archives
    * accumulate small files (every micro-batch / upsert writes its own):
    * at cluster scale the store's READ cost becomes dominated by file-open
    * overhead and driver file-listing, not bytes.
    *
    * The rewrite goes through [[swapInPlace]] with the store's standard
    * `_tmp`/`_bak` companions, so a crash at ANY point leaves a complete
    * copy that [[recoverSwap]] (run here on entry, and by the streaming
    * sinks before every batch) restores — an earlier rotate-then-rename
    * version had a window where the only full copy sat in a
    * `_compact_tmp` dir no recovery path knew about, and the next batch's
    * record probe would re-seed an empty store.
    *
    * A store laid out in `id_prefix=<hex>` cells (the incremental
    * streaming sink's format) is rewritten IN that layout —
    * `repartitionByRange` over (cell, identifier) respects the file-size
    * target across cells while each output task straddles at most two
    * cell directories; a flat rewrite would leave flat files that the
    * next incremental batch's partition dirs then sit beside, breaking
    * partition discovery. Returns the new data-file count. */
  def compactRecords(
      spark: SparkSession,
      path: String,
      targetBytes: Long = 128L * 1024 * 1024): Int = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(hconf)
    val tmp = new org.apache.hadoop.fs.Path(path + "_tmp")
    val bak = new org.apache.hadoop.fs.Path(path + "_bak")
    recoverSwap(fs, p, tmp, bak)
    val bytes = fs.getContentSummary(p).getLength
    val nFiles = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    val celled = fs.listStatus(p).exists(s =>
      s.isDirectory && s.getPath.getName.startsWith("id_prefix="))
    val compacted = readRecords(spark, path)
    swapInPlace(fs, p, tmp, bak) { t =>
      if (celled)
        compacted.withColumn("id_prefix", substring(col("identifier"), 1, 1))
          .repartitionByRange(nFiles, col("id_prefix"), col("identifier"))
          .write.partitionBy("id_prefix").mode(SaveMode.Overwrite).parquet(t)
      else writeRecords(compacted.repartition(nFiles), t)
    }
    val it = fs.listFiles(p, true)
    var n = 0
    while (it.hasNext) if (it.next().getPath.getName.endsWith(".parquet")) n += 1
    n
  }

  /** D15: archive lookup — incoming documents keep the stored (annotated)
    * record when the store already has their content hash
    * (`CuratorClient.getRecFromDatabase`, 348-371). Implemented as a
    * left join on `identifier` + coalesce, one shuffle (or broadcast when
    * the incoming batch is small). */
  def lookup(incoming: Dataset[Record], store: Dataset[Record]): Dataset[Record] = {
    val spark = incoming.sparkSession
    import spark.implicits._
    // column-level (no typed map): the join key stays the scanned
    // `identifier` column. The store is read by path (readRecords), so no
    // bucket spec applies even to one written with Bucketing.writeBucketed:
    // a store too big to broadcast is shuffled by `identifier`, whole
    // records and all, like the incoming batch
    def keyed(ds: Dataset[Record], name: String) = {
      val df = ds.toDF()
      df.select(col("identifier").as("id"),
        struct(df.columns.map(col).toIndexedSeq: _*).as(name))
    }
    keyed(incoming, "fresh")
      .join(keyed(store, "stored"), Seq("id"), "left")
      .select(coalesce(col("stored"), col("fresh")).as("r"))
      .select("r.*").as[Record]
  }

  /** D14: archive upsert — a record replaces its stored version iff it
    * carries MORE views (`CuratorClient.informDatabaseOfUpdatedRecords`,
    * 581-651): the richer side wins, and on equal richness the stored
    * record stays. For updates that were NOT computed from the stored
    * record: the streaming record-store sinks (`Streams.recordUpsertSink`
    * and its incremental form) call it. `Pipeline.run` commits with
    * [[supersede]] instead, since its output was computed from the store.
    *
    * Updates may carry the same identifier more than once (a micro-batch
    * that saw a document twice): the richest of them is the candidate —
    * richer-wins is then associative over any batch split, which is what
    * makes the streaming sinks' sequential folds equal a one-shot merge
    * (StreamingSpec's split-invariance property). Equal-richness
    * duplicates tie-break on the sorted view-name list — deterministic,
    * and immaterial when they are the same annotation depth of the same
    * content (the only way ties arise from the deterministic annotators).
    *
    * One shuffle, no typed round trip: both sides are tagged (stored 0,
    * update 1), richness is computed from the view-map keys as columns,
    * and a `row_number` over `identifier` ordered by (richness desc,
    * side, names) keeps the first row. */
  def upsert(store: Dataset[Record], updates: Dataset[Record]): Dataset[Record] = {
    val spark = store.sparkSession
    import spark.implicits._
    // the record struct lists its fields in Record's order on both sides:
    // unionByName matches nested struct fields by position
    val fields = Encoders.product[Record].schema.fieldNames.toIndexedSeq
    def tagged(ds: Dataset[Record], side: Int) = {
      val names = array_distinct(concat(
        Seq("labelViews", "clusterViews", "parseViews", "views").map(c => map_keys(col(c))): _*))
      ds.toDF().select(
        col("identifier").as("id"),
        size(names).as("n"),
        lit(side).as("side"),
        array_join(sort_array(names), ",").as("names"),
        struct(fields.map(col): _*).as("r"))
    }
    val first = Window.partitionBy("id").orderBy(col("n").desc, col("side"), col("names"))
    tagged(store, 0).unionByName(tagged(updates, 1))
      .withColumn("rank", row_number().over(first))
      .filter(col("rank") === 1)
      .select("r.*").as[Record]
  }

  /** D14 for a run computed from the store: every `output` record
    * replaces its stored version, and the stored records the run did not
    * touch are carried over as they are. `output` must hold one record per
    * identifier, each computed from its stored version (`Pipeline.run`
    * looks every input up in the store and only adds or refreshes views),
    * so it already holds every stored view, with stale ones refreshed —
    * where [[upsert]]'s richer-wins rule would keep a stale stored record
    * over an output of equal depth.
    *
    * The left-anti join reads only `output`'s `identifier` column: broadcast
    * when it is small, there is no shuffle, and the store's records are
    * written from the tasks that scan them. */
  def supersede(store: Dataset[Record], output: Dataset[Record]): Dataset[Record] = {
    val untouched = store.join(output.select("identifier"), Seq("identifier"), "left_anti")
    output.unionByName(untouched.as(store.encoder))
  }

  /** Restore `target` if a previous [[swapInPlace]] crashed mid-flight:
    * the surviving full copy is `tmp` (written complete before the target
    * was moved aside) or else `bak` (the pre-swap content). Call BEFORE
    * probing the target for content — a crash window otherwise reads as
    * an empty store. */
  def recoverSwap(
      fs: org.apache.hadoop.fs.FileSystem,
      target: org.apache.hadoop.fs.Path,
      tmp: org.apache.hadoop.fs.Path,
      bak: org.apache.hadoop.fs.Path): Unit = fsTimed {
    if (!fs.exists(target)) {
      if (fs.exists(tmp)) mv(fs, tmp, target)
      else if (fs.exists(bak)) mv(fs, bak, target)
    }
  }

  /** Replace `target` with content `write`n to `tmp`, keeping a full copy
    * alive at EVERY point: write to `tmp`, rename the live target aside
    * to `bak`, promote `tmp`, drop `bak`. A crash between any two steps
    * leaves either the target or a complete copy in `tmp`/`bak` for
    * [[recoverSwap]] (a bare delete-then-rename has a window where the
    * only full copy is the rename source — a crash there loses the
    * archive). */
  def swapInPlace(
      fs: org.apache.hadoop.fs.FileSystem,
      target: org.apache.hadoop.fs.Path,
      tmp: org.apache.hadoop.fs.Path,
      bak: org.apache.hadoop.fs.Path)(write: String => Unit): Unit = {
    fsTimed { if (fs.exists(tmp)) fs.delete(tmp, true) } // stale partial write
    write(tmp.toString) // the writer times itself (writeRecords is fsTimed)
    fsTimed {
      if (fs.exists(bak)) fs.delete(bak, true) // stale from a done swap
      val hadTarget = fs.exists(target)
      if (hadTarget) mv(fs, target, bak)
      mv(fs, tmp, target)
      if (hadTarget) fs.delete(bak, true)
    }
  }

  @inline private def mv(
      fs: org.apache.hadoop.fs.FileSystem,
      src: org.apache.hadoop.fs.Path,
      dst: org.apache.hadoop.fs.Path): Unit =
    require(fs.rename(src, dst), s"store swap failed: rename($src, $dst)")

  /** D18: old-output rotation — move an existing output dir aside into
    * `old_jobs/<name>_<n>` before writing (reference
    * `CuratorJob.setUpIODirectories`, 119-142). */
  def rotateOldOutput(spark: SparkSession, path: String): Option[String] = fsTimed {
    val hconf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(hconf)
    if (!fs.exists(p)) None
    else {
      val base = new org.apache.hadoop.fs.Path(p.getParent, "old_jobs")
      fs.mkdirs(base)
      var i = 0
      var dest = new org.apache.hadoop.fs.Path(base, s"${p.getName}_$i")
      while (fs.exists(dest)) { i += 1; dest = new org.apache.hadoop.fs.Path(base, s"${p.getName}_$i") }
      fs.rename(p, dest)
      Some(dest.toString)
    }
  }

  /** D11: input-kind detection — does a directory hold serialized records or
    * raw text? Probe-read like `JobHandler.containsSerializedRecords`
    * (468-482): look for the `identifier` and `rawText` columns in the
    * Parquet footer of one data file (top level or inside a partition
    * directory), read on the driver without a Spark job. A directory
    * that is missing, unreadable or without a `.parquet` data file is
    * not one. */
  def containsSerializedRecords(spark: SparkSession, dir: String): Boolean =
    try {
      val hconf = spark.sparkContext.hadoopConfiguration
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(hconf)
      firstParquetFile(fs, p).exists { f =>
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f, hconf))
        try {
          val schema = reader.getFooter.getFileMetaData.getSchema
          Seq("identifier", "rawText").forall(schema.containsField)
        } finally reader.close()
      }
    } catch { case _: Exception => false }

  /** First `.parquet` data file under `dir`, descending only into
    * directories Spark would read (not `_`- or `.`-prefixed). */
  private def firstParquetFile(
      fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path): Option[org.apache.hadoop.fs.Path] = {
    val (dirs, files) = fs.listStatus(dir).toSeq
      .filterNot(s => s.getPath.getName.startsWith("_") || s.getPath.getName.startsWith("."))
      .partition(_.isDirectory)
    files.map(_.getPath).find(_.getName.endsWith(".parquet"))
      .orElse(dirs.iterator.flatMap(d => firstParquetFile(fs, d.getPath)).nextOption())
  }
}
