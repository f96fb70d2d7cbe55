package graft.sources

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Spark-native series-family facade (SURVEY.md §1.4).
  *
  * The reference's SeriesFamily (core/seriesfamily.go:8-11) is "a
  * collection of series that shares certain attributes" — its table
  * analogue. Here a family IS a table: long-format rows
  * `(series string, ts timestamp, value double, tags map, attributes map)`
  * stored as date-partitioned parquet. Everything the reference
  * hand-builds on top of m3db — distributionFactor striping
  * (m3dbseriesfamily.go:156-168), k-way shard merge
  * (boostseriesiterator.go:270-343), symbol-table dictionary streams
  * (core/symtable.go:28-55) — collapses into Spark partitioning, shuffle
  * sort, and parquet dictionary encoding respectively.
  *
  * Scale stance: writes are partitioned by event date, and within a file
  * rows are sorted by (series, ts) so parquet row-group min/max stats
  * prune series scans. On a frame opened with [[open]], conjunctive
  * WHERE `ts` bounds also prune date partitions ([[FamilyScan]] derives
  * the `dt` bounds). At 100 TB this is the layout that keeps a
  * `WHERE series = 'cpu' AND ts BETWEEN ...` query reading only the
  * touched dates' files and only the row groups containing that series.
  *
  * Layout contract: `dt = to_date(ts)` in the session time zone. Every
  * family writer derives `dt` that way and the derived `dt` bounds use
  * the reading session's time zone, so a family must be read in the
  * time zone it was written in (every session in this repository runs
  * in UTC).
  */
object TimeSeriesTable {
  val SchemaColumns: Seq[String] = Seq("series", "ts", "value", "tags", "attributes")

  val schema: StructType = StructType(Seq(
    StructField("series", StringType, nullable = false),
    StructField("ts", TimestampType, nullable = false),
    StructField("value", DoubleType, nullable = true),
    StructField("tags", MapType(StringType, StringType), nullable = true),
    StructField("attributes", MapType(StringType, StringType), nullable = true)
  ))

  /** Adapt the driver's `events` table to the series-family row shape
    * (FIXTURES.md §3): series=event_type, attributes=parsed props JSON,
    * user_id hoisted as an attribute. Series-level tags (the reference's
    * dc/env-style series metadata, executor_test.go:127-131) are derived
    * deterministically from the series name — constant per series, so
    * they behave exactly like stored tags and stay oracle-expressible:
    * dc = 'dc' || length(series) % 3, env = prod for click/view else test.
    */
  def fromEvents(events: DataFrame): DataFrame = {
    val attrs = from_json(col("props"), MapType(StringType, StringType))
    events.select(
      col("event_type").as("series"),
      col("ts"),
      col("value"),
      map(
        lit("dc"), concat(lit("dc"), pmod(length(col("event_type")), lit(3)).cast(StringType)),
        lit("env"), when(col("event_type").isin("click", "view"), "prod").otherwise("test")
      ).as("tags"),
      map_concat(
        coalesce(attrs, map().cast(MapType(StringType, StringType))),
        map(lit("user"), col("user_id").cast(StringType)),
        map(lit("event_id"), col("event_id").cast(StringType))
      ).as("attributes")
    )
  }

  /** [[fromEvents]] with the per-row decode parallelized for
    * ingest-shaped consumers (append/seed paths that materialize EVERY
    * column): when the raw events scan yields fewer splits than the
    * session's parallelism — the fixture corpus is one sub-MB parquet
    * row group, so ONE task would run the whole `from_json` +
    * map-building projection — fan the narrow raw rows out first so
    * the decode lands above the exchange on every core (guide §2.5
    * "input skew: repartition immediately after the read"). Production
    * corpora (many files / row groups) already exceed the threshold
    * and take NO extra exchange. Round-robin repartition is
    * retry-deterministic (sortBeforeRepartition is on by default).
    * Read paths keep plain [[fromEvents]]: they prune the decode away
    * or filter at the scan, where an unconditional exchange would only
    * cost (measured: the docs-table variant of this fan-out regressed
    * every pruned read 1.4-3.3x at sf0.1).
    */
  def fromEventsFanned(events: DataFrame): DataFrame =
    fromEvents(graft.util.FanOut.ifNarrow(events))

  /** Open a family from a warehouse root: `root/domain/family/`.
    * Format is parquet by default; orc/json/csv are supported for
    * interchange (the explicit schema keeps text formats lossless for
    * the scalar columns; maps require parquet/orc). Installs the
    * [[FamilyScan]] planner extension on `spark` and marks the relation
    * as a family, which holds the layout contract above.
    */
  def open(spark: SparkSession, root: String, domain: String, family: String,
      format: String = "parquet"): DataFrame = {
    FamilyScan.install(spark)
    spark.read.schema(schema).format(format).option(FamilyScan.Marker, "true")
      .load(s"$root/$domain/$family")
  }

  /** Open a family as a STREAMING source — the read half of the ingest
    * topology whose write half is
    * [[graft.streaming.StreamingOps.streamIntoFamily]]: a downstream job
    * tails the warehouse path and processes files as they land in the
    * date partitions. The file stream source discovers new files
    * incrementally (state = seen-file log in the checkpoint);
    * `maxFilesPerTrigger` bounds per-micro-batch work so one giant
    * backfill day cannot monopolize a trigger. The partition column `dt`
    * is part of the streamed schema — partition pruning applies to the
    * discovery listing exactly as it does to batch scans.
    */
  def openStream(spark: SparkSession, root: String, domain: String,
      family: String, maxFilesPerTrigger: Int = 64): DataFrame =
    spark.readStream
      .schema(schema.add(StructField("dt", DateType, nullable = true)))
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(s"$root/$domain/$family")

  /** Append rows (any DataFrame with the family schema), partitioned by
    * event date — the write path analogue of SeriesFamily.WriteTagged
    * (m3dbseriesfamily.go:147-185). `sortWithinPartitions` gives parquet
    * row groups clustered by series so series predicates prune via
    * min/max stats.
    */
  def append(df: DataFrame, root: String, domain: String, family: String,
      format: String = "parquet"): Unit =
    df.withColumn("dt", to_date(col("ts")))
      .repartition(col("dt"))
      .sortWithinPartitions("series", "ts")
      .write.partitionBy("dt").mode("append")
      .format(format).save(s"$root/$domain/$family")

  /** RETENTION: drop whole date partitions older than the cutoff —
    * metadata-only directory removal, never a rewrite, which is the
    * only way retention works at 100 TB (a DELETE-shaped rewrite of a
    * petabyte family to age out a day is an anti-pattern; the
    * reference's m3db side ages out whole blocks the same way).
    * Returns the dropped partition names, sorted. Directories that are
    * not `dt=YYYY-MM-DD` are left untouched.
    */
  def expire(spark: SparkSession, root: String, domain: String,
      family: String, olderThan: java.sql.Date): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(s"$root/$domain/$family")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return Seq.empty
    fs.listStatus(p).toSeq.filter(_.isDirectory).flatMap { st =>
      val name = st.getPath.getName
      if (!name.startsWith("dt=")) None
      else scala.util.Try(java.sql.Date.valueOf(name.stripPrefix("dt=")))
        .toOption.filter(_.before(olderThan))
        .map { _ => fs.delete(st.getPath, true); name }
    }.sorted
  }

  /** CONTINUOUS-AGGREGATE MATERIALIZATION (the TimescaleDB continuous
    * aggregate / Prometheus recording-rule idiom): roll a family up
    * into fixed-width buckets and write the result as a NEW family in
    * the same warehouse, queryable through every existing read path —
    * `open`, the dialect, `openStream`. Each source series emits four
    * rollup series named `{series}:{agg}_{label}` (avg/min/max/count;
    * count is cast to double — the family value type), bucket start as
    * `ts`.
    *
    * Determinism contract: `avg` accumulates as DECIMAL(30,6) sums
    * over the bucket (order-independent, partitioning-invariant) and
    * divides once in doubles — the same rollup bytes on every run and
    * every engine replaying the arithmetic, which plain double
    * summation cannot promise. Bucketing is integer arithmetic on
    * epoch micros (`u − u mod width`).
    *
    * Plan shape: one hash aggregation on (series, bucket), a narrow
    * 4-way explode, then [[append]]'s date repartition — the rollup is
    * |series|×|buckets| rows, so everything after the first exchange
    * is metadata-sized relative to the source. At 100 TB this is THE
    * dashboard-latency lever: queries over months hit the 1-day
    * rollup family and never rescan raw points.
    *
    * Series-level `tags` carry through (`first` per series — constant
    * per series by the family contract); `attributes` do not (they are
    * per-point).
    */
  def downsample(spark: SparkSession, root: String, domain: String,
      family: String, bucketMicros: Long, label: String,
      toFamily: Option[String] = None): String = {
    require(bucketMicros > 0, "bucketMicros must be positive")
    require(label.nonEmpty && label.forall(c => c.isLetterOrDigit || c == '_'),
      "label must be alphanumeric")
    val rows = rollupRows(open(spark, root, domain, family),
      bucketMicros, label)
    val target = toFamily.getOrElse(s"${family}_$label")
    append(rows, root, domain, target)
    target
  }

  /** The downsample aggregation body over an arbitrary source frame —
    * shared by the one-shot [[downsample]] materialization and the
    * incremental [[refreshDownsample]] (which feeds it only the
    * changed dates' files). Determinism contract as documented on
    * [[downsample]].
    */
  private def rollupRows(src: DataFrame, bucketMicros: Long,
      label: String): DataFrame = {
    val u = unix_micros(col("ts"))
    val bucket = timestamp_micros(u - pmod(u, lit(bucketMicros)))
    // tags are series-constant by the data model, but nothing enforces
    // that at write time — `first(tags)` would pick whichever map a
    // task order happened to deliver. Pick DETERMINISTICALLY instead:
    // the map with the lexicographically least canonical rendering
    // (sorted k=v list). Well-formed series (one map) are unaffected;
    // a malformed mixed-tags series downsamples reproducibly under any
    // partitioning (pinned in spec).
    val renderedTags = array_join(array_sort(transform(
      map_entries(col("tags")),
      e => concat_ws("=", e.getField("key"), e.getField("value")))), ",")
    val g = src.groupBy(col("series"), bucket.as("ts"))
      .agg(
        sum(col("value").cast("decimal(30,6)")).cast("double").as("__sum"),
        count(col("value")).as("__n"),
        min(col("value")).as("__min"), max(col("value")).as("__max"),
        min_by(col("tags"), renderedTags).as("__tags"))
      .withColumn("__avg", col("__sum") / col("__n").cast("double"))
    g.select(col("series"), col("ts"), col("__tags"),
      explode(array(
        struct(lit("avg").as("a"), col("__avg").as("v")),
        struct(lit("min").as("a"), col("__min").as("v")),
        struct(lit("max").as("a"), col("__max").as("v")),
        struct(lit("count").as("a"),
          col("__n").cast("double").as("v")))).as("e"))
      .select(
        concat(col("series"), lit(":"), col("e.a"), lit("_" + label))
          .as("series"),
        col("ts"), col("e.v").as("value"), col("__tags").as("tags"),
        map().cast(MapType(StringType, StringType)).as("attributes"))
  }

  /** INCREMENTAL materialized-rollup maintenance — the refresh verb
    * that keeps a [[downsample]] family current as its source family
    * takes appends, upserts, deletes or compactions, recomputing ONLY
    * the source date partitions whose file set changed.
    *
    * Change detection is metadata-only: a per-date signature (sorted
    * file-name:length:mtime list, hashed) of the source's data files,
    * compared against a manifest stored as a hidden sidecar in the
    * derived family (`.graft_refresh_manifest`; dot-files are invisible
    * to parquet readers). A date whose signature moved — new files
    * appended, a compaction's rewrite, a mutate verb's swap — is
    * re-aggregated from its files alone and SWAPPED into the derived
    * family partition-atomically (two renames per date, aside
    * recoverable via [[recover]]); a date that vanished from the
    * source (expire/retention) drops from the rollup; untouched dates'
    * derived files are never read, written, or moved. First refresh of
    * a missing derived family is simply "every date changed" — the
    * initial materialization and the maintenance path are one code
    * path. The manifest writes LAST, so a crash anywhere re-runs as a
    * larger-but-idempotent refresh.
    *
    * Requires `bucketMicros` to divide a day: derived rows then land
    * on the same `dt` as their source rows, which is what makes the
    * per-date swap sound (a week-wide bucket would straddle dates).
    * At 100 TB this is THE rollup-maintenance lever: a daily ingest
    * touches yesterday's partition, so the refresh re-aggregates one
    * date, not months.
    *
    * Returns (rebuilt derived partitions, dropped derived partitions).
    */
  def refreshDownsample(spark: SparkSession, root: String, domain: String,
      family: String, bucketMicros: Long, label: String,
      toFamily: Option[String] = None): (Seq[String], Seq[String]) = {
    require(bucketMicros > 0, "bucketMicros must be positive")
    require(86400000000L % bucketMicros == 0,
      "refreshDownsample needs a day-divisible bucket so derived rows " +
        "stay on their source date — use downsample() for wider buckets")
    require(label.nonEmpty && label.forall(c => c.isLetterOrDigit || c == '_'),
      "label must be alphanumeric")
    val target = toFamily.getOrElse(s"${family}_$label")
    val srcDir = s"$root/$domain/$family"
    val srcPath = new org.apache.hadoop.fs.Path(srcDir)
    val fs = srcPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tgtPath = new org.apache.hadoop.fs.Path(s"$root/$domain/$target")
    def dtOf(p: String): Option[String] = p.split('/').collectFirst {
      case seg if seg.startsWith("dt=") => seg.stripPrefix("dt=")
    }
    val statuses =
      if (fs.exists(srcPath)) listDataStatus(fs, srcPath) else Seq.empty
    val byDt = statuses.groupBy(st => dtOf(st.getPath.toString))
    if (byDt.contains(None) && byDt(None).nonEmpty)
      throw new java.io.IOException(
        s"refreshDownsample on $srcDir: data files exist OUTSIDE the " +
          "dt= partition layout — compact() the family first")
    val sig: Map[String, String] = byDt.collect {
      case (Some(d), sts) =>
        // name + length + mtime: mtime catches a non-Spark writer that
        // rewrites a file IN PLACE with the same name and byte length
        // (Spark's own writers always mint fresh UUID names, but the
        // signature shouldn't depend on that discipline)
        val rendered = sts.map(st =>
            st.getPath.getName + ":" + st.getLen + ":" +
              st.getModificationTime).sorted.mkString("\n")
        val md = java.security.MessageDigest.getInstance("MD5")
        (d, md.digest(rendered.getBytes("UTF-8"))
          .map("%02x".format(_)).mkString)
    }
    val manifestPath = new org.apache.hadoop.fs.Path(tgtPath,
      ".graft_refresh_manifest")
    val old: Map[String, String] =
      if (!fs.exists(manifestPath)) Map.empty
      else {
        val in = fs.open(manifestPath)
        val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
        text.linesIterator.filter(_.nonEmpty).map { line =>
          val Array(d, s) = line.split('\t'); (d, s)
        }.toMap
      }
    val changed = sig.keySet.filter(d => !old.get(d).contains(sig(d)))
    val removed = old.keySet -- sig.keySet
    if (changed.isEmpty && removed.isEmpty) return (Seq.empty, Seq.empty)
    if (changed.nonEmpty) {
      val rebuildFiles = statuses.map(_.getPath.toString)
        .filter(f => dtOf(f).exists(changed.contains))
      val rows = rollupRows(
        spark.read.schema(schema).parquet(rebuildFiles: _*),
        bucketMicros, label)
      val tmp = new org.apache.hadoop.fs.Path(
        s"$root/$domain/.${target}__refreshing")
      if (fs.exists(tmp)) fs.delete(tmp, true)
      rows.withColumn("dt", to_date(col("ts")))
        .repartition(col("dt"))
        .sortWithinPartitions("series", "ts")
        .write.partitionBy("dt").mode("overwrite").parquet(tmp.toString)
      val asideRoot = new org.apache.hadoop.fs.Path(
        s"$root/$domain/.${target}__refresh_old")
      if (fs.exists(asideRoot)) fs.delete(asideRoot, true)
      fs.mkdirs(asideRoot)
      if (!fs.exists(tgtPath)) fs.mkdirs(tgtPath)
      changed.toSeq.sorted.foreach { d =>
        val live = new org.apache.hadoop.fs.Path(tgtPath, s"dt=$d")
        val aside = new org.apache.hadoop.fs.Path(asideRoot, s"dt=$d")
        val movedAside = fs.exists(live)
        if (movedAside && !fs.rename(live, aside))
          throw new java.io.IOException(
            s"refresh swap failed for $target: could not move dt=$d " +
              "aside — partition left untouched")
        val rewritten = new org.apache.hadoop.fs.Path(tmp, s"dt=$d")
        // a source date whose every row has a NULL value can roll up
        // to nothing; absence of rewrite output then means an empty
        // derived partition — the aside move above already cleared it
        if (fs.exists(rewritten) && !fs.rename(rewritten, live)) {
          // restore the aside inline (matching the mergeRows swap) so
          // the derived partition isn't missing until recover() runs
          if (movedAside) fs.rename(aside, live)
          throw new java.io.IOException(
            s"refresh swap failed for $target: rewrite rename of " +
              s"dt=$d failed — derived partition restored")
        }
      }
      fs.delete(asideRoot, true)
      fs.delete(tmp, true)
    }
    removed.toSeq.sorted.foreach { d =>
      fs.delete(new org.apache.hadoop.fs.Path(tgtPath, s"dt=$d"), true)
    }
    // manifest LAST: a crash above re-runs as a larger refresh
    val outStream = fs.create(manifestPath, true)
    try outStream.write(sig.toSeq.sorted
      .map { case (d, s) => s"$d\t$s" }.mkString("\n").getBytes("UTF-8"))
    finally outStream.close()
    (changed.toSeq.sorted.map(d => s"dt=$d"),
      removed.toSeq.sorted.map(d => s"dt=$d"))
  }

  /** COMPACTION: rewrite the family into few large (series, ts)-sorted
    * files per date partition — the operational counterpart of the
    * streaming ingest path, whose sink lands one small file per
    * micro-batch per partition. Small files tax the scan twice at
    * scale (listing + per-file open, and row groups too small for
    * min/max pruning to bite); compaction restores the
    * [[append]]-shaped layout.
    *
    * Safety contract:
    *  - The source is read by EXPLICIT FILE LIST, never by directory.
    *    A directory that was ever a streaming-sink target carries a
    *    `_spark_metadata` log, and a directory read honors only the
    *    files that log committed — files landed by the batch path
    *    ([[append]] / SQL `INSERT`, which target the same layout) would
    *    be invisible to the rewrite and then destroyed with the swap.
    *    The explicit list sees every parquet file regardless of
    *    provenance; the sink log itself is retired by the swap (the
    *    compacted directory is batch-owned), so roll any live ingest
    *    stream to a new root first — its checkpoint's file log does not
    *    carry over.
    *  - The rewrite is VERIFIED (row counts must match) before the
    *    source is touched; a mismatch aborts with the source intact.
    *  - The swap is two renames: the old directory moves aside to
    *    `.{family}__old`, the rewrite renames in, then the old copy is
    *    dropped. The live path is missing only for the instant between
    *    the renames, and any failure leaves the data recoverable (the
    *    source either still in place or intact under `.{family}__old`).
    * Returns (data files before, data files after).
    */
  /** Sum of the files' parquet-footer record counts — the authoritative
    * per-file row count (what the writer committed), read from metadata
    * only. Footers are fetched on a bounded thread pool: compaction
    * targets are exactly the many-small-files directories, and a
    * thousand sequential ~ms footer reads would add driver seconds for
    * no reason (object stores amplify per-request latency further).
    */
  private def footerRowCount(files: Seq[String],
      conf: org.apache.hadoop.conf.Configuration): Long = {
    if (files.isEmpty) return 0L
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(16, files.length))
    try {
      import scala.jdk.CollectionConverters._
      val tasks: java.util.List[java.util.concurrent.Callable[Long]] =
        files.map[java.util.concurrent.Callable[Long]] { f => () =>
          val in = org.apache.parquet.hadoop.util.HadoopInputFile
            .fromPath(new org.apache.hadoop.fs.Path(f), conf)
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
          try r.getRecordCount finally r.close()
        }.asJava
      pool.invokeAll(tasks).asScala.map(_.get()).sum
    } finally pool.shutdown()
  }

  /** Recursive data-file listing, parallelized PER DIRECTORY: one
    * listStatus per directory on a bounded pool, level by level. The
    * sequential `fs.listFiles(path, true)` walk this replaces paid one
    * round-trip per directory in series — ~30 s at 3,000 date
    * partitions (CompactProbe), and worse against an object store
    * where each LIST is a network call. Parallel per-prefix listing is
    * the standard S3 idiom; on a local fs it just collapses the walk
    * to near-zero. Skips the streaming-sink log (`_spark_metadata`)
    * and counts only data files.
    */
  private def listDataFiles(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Seq[String] =
    listDataStatus(fs, root).map(_.getPath.toString)

  private def listDataStatus(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path)
      : Seq[org.apache.hadoop.fs.FileStatus] = {
    import scala.jdk.CollectionConverters._
    val out = scala.collection.mutable.ArrayBuffer
      .empty[org.apache.hadoop.fs.FileStatus]
    var dirs = Seq(root)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(16)
    try {
      while (dirs.nonEmpty) {
        val tasks: java.util.List[java.util.concurrent.Callable[
            Array[org.apache.hadoop.fs.FileStatus]]] =
          dirs.map[java.util.concurrent.Callable[
            Array[org.apache.hadoop.fs.FileStatus]]] { d => () =>
            fs.listStatus(d)
          }.asJava
        val level = pool.invokeAll(tasks).asScala.flatMap(_.get())
        dirs = level.collect {
          case st if st.isDirectory &&
            st.getPath.getName != "_spark_metadata" => st.getPath
        }.toSeq
        out ++= level.collect {
          case st if !st.isDirectory &&
            st.getPath.getName.endsWith(".parquet") => st
        }
      }
      out.toSeq
    } finally pool.shutdown()
  }

  def compact(spark: SparkSession, root: String, domain: String,
      family: String): (Int, Int) = {
    val dir = s"$root/$domain/$family"
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return (0, 0)
    val files = listDataFiles(fs, p)
    if (files.isEmpty) return (0, 0)
    val withDt = schema.add(StructField("dt", DateType, nullable = true))
    // explicit file list + basePath: bypasses any _spark_metadata sink
    // log (mixed batch+stream files all participate) while keeping the
    // dt partition column derivable from the file paths
    val src = spark.read.schema(withDt).option("basePath", dir)
      .parquet(files: _*)
    // row counts on both sides come from the parquet FOOTERS (summed
    // row-group record counts — authoritative commit metadata, no data
    // scan), so the rewrite write is the compaction's ONLY
    // data-proportional pass; the r13 form burned two extra full scans
    // (source count + rewrite count) for the same verification
    val hconf = spark.sparkContext.hadoopConfiguration
    val expected = footerRowCount(files, hconf)
    val tmp = new org.apache.hadoop.fs.Path(s"$root/$domain/.${family}__compacting")
    src.repartition(col("dt"))
      .sortWithinPartitions("series", "ts")
      .write.partitionBy("dt").mode("overwrite").parquet(tmp.toString)
    // verify via the explicit file list as well: the temp dir is
    // dot-prefixed (hidden from sibling listings by design), and a
    // directory listing of a hidden root would be filtered — the
    // recursive file list is immune
    val tmpFiles = listDataFiles(fs, tmp)
    val rewritten = footerRowCount(tmpFiles, hconf)
    if (rewritten != expected) {
      fs.delete(tmp, true)
      throw new java.io.IOException(
        s"compaction aborted for $dir: rewrite holds $rewritten rows, " +
          s"source holds $expected — source left untouched")
    }
    val aside = new org.apache.hadoop.fs.Path(s"$root/$domain/.${family}__old")
    if (fs.exists(aside)) fs.delete(aside, true)
    if (!fs.rename(p, aside))
      throw new java.io.IOException(
        s"compaction swap failed for $dir: could not move the old " +
          "directory aside — source left untouched")
    if (!fs.rename(tmp, p)) {
      fs.rename(aside, p) // roll back; source restored
      throw new java.io.IOException(
        s"compaction swap failed for $dir: rewrite rename failed — " +
          "source restored")
    }
    fs.delete(aside, true)
    // the compacted file set IS tmpFiles (the tmp dir became the live
    // path by rename) — a third recursive listing here measured 33 s
    // on a 3000-partition family for a number already in hand
    (files.length, tmpFiles.length)
  }

  /** Partition inventory — the operational "what would expire, compact
    * or a takedown touch" question: one row per `dt=` date partition
    * with its file count, byte size and parquet-footer row total,
    * sorted by partition. METADATA-ONLY: one parallel listing plus
    * footer reads, no data scan — the same cost class as the mutate
    * verbs' count passes, safe to point at a petabyte family. Files
    * outside the dt= layout (pre-partition-era writes) group under
    * `(unpartitioned)` so the inventory never under-reports.
    *
    * The footer reads are CACHED through a self-validating manifest
    * sidecar (`.graft_partitions_manifest`, the refreshDownsample
    * discipline): each call signs every partition's file set
    * (name:length:mtime, metadata already in the listing's hand) and
    * re-reads footers ONLY for partitions whose signature moved — a
    * daily-ingest family answers from yesterday's manifest plus one
    * partition's footers, however many dates it holds. The cache can
    * never serve stale rows (a changed file set changes the signature,
    * which is exactly what every writer — append, compact, the mutate
    * swaps, a non-Spark tool — must alter to change the data), and a
    * read-only warehouse still works: the manifest write is
    * best-effort.
    */
  def partitions(spark: SparkSession, root: String, domain: String,
      family: String): DataFrame = {
    import spark.implicits._
    val p = new org.apache.hadoop.fs.Path(s"$root/$domain/$family")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val hconf = spark.sparkContext.hadoopConfiguration
    val empty = Seq.empty[(String, Long, Long, Long)]
      .toDF("part", "n_files", "n_bytes", "n_rows")
    if (!fs.exists(p)) return empty
    val statuses = listDataStatus(fs, p)
    if (statuses.isEmpty) return empty
    def dtOf(f: String): Option[String] = f.split('/').collectFirst {
      case seg if seg.startsWith("dt=") => seg
    }
    val byPart = statuses.groupBy(st =>
      dtOf(st.getPath.toString).getOrElse("(unpartitioned)"))
    def sigOf(sts: Seq[org.apache.hadoop.fs.FileStatus]): String = {
      val rendered = sts.map(st =>
        st.getPath.getName + ":" + st.getLen + ":" +
          st.getModificationTime).sorted.mkString("\n")
      val md = java.security.MessageDigest.getInstance("MD5")
      md.digest(rendered.getBytes("UTF-8")).map("%02x".format(_)).mkString
    }
    val manifestPath = new org.apache.hadoop.fs.Path(p,
      ".graft_partitions_manifest")
    // part → (sig, n_files, n_bytes, n_rows); unparsable lines ignored
    val cached: Map[String, (String, Long, Long, Long)] =
      if (!fs.exists(manifestPath)) Map.empty
      else try {
        val in = fs.open(manifestPath)
        val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
        text.linesIterator.flatMap { line =>
          line.split('\t') match {
            case Array(part, sig, nf, nb, nr) =>
              try Some(part -> (sig, nf.toLong, nb.toLong, nr.toLong))
              catch { case _: NumberFormatException => None }
            case _ => None
          }
        }.toMap
      } catch { case _: java.io.IOException => Map.empty }
    var footerReads = false
    val rows = byPart.toSeq.map { case (part, sts) =>
      val sig = sigOf(sts)
      cached.get(part) match {
        case Some((s, nf, nb, nr)) if s == sig => (part, sig, nf, nb, nr)
        case _ =>
          footerReads = true
          (part, sig, sts.size.toLong, sts.map(_.getLen).sum,
            footerRowCount(sts.map(_.getPath.toString), hconf))
      }
    }.sortBy(_._1)
    // rewrite the manifest only when something changed (incl. dropped
    // partitions); best-effort — SHOW must work on a read-only store.
    // Written to a temp sibling then renamed over the live path (the
    // mutate verbs' swap discipline): an in-place overwrite lets a
    // concurrent reader see a torn final line whose truncated n_rows
    // still parses as a smaller valid number under a complete signature
    if (footerReads || cached.keySet != byPart.keySet) try {
      val tmpManifest = new org.apache.hadoop.fs.Path(p,
        s".graft_partitions_manifest.tmp.${java.util.UUID.randomUUID}")
      val out = fs.create(tmpManifest, true)
      try out.write(rows.map { case (part, sig, nf, nb, nr) =>
        s"$part\t$sig\t$nf\t$nb\t$nr" }.mkString("\n").getBytes("UTF-8"))
      finally out.close()
      fs.delete(manifestPath, false)
      if (!fs.rename(tmpManifest, manifestPath)) fs.delete(tmpManifest, false)
    } catch { case _: java.io.IOException => () }
    rows.map { case (part, _, nf, nb, nr) => (part, nf, nb, nr) }
      .toDF("part", "n_files", "n_bytes", "n_rows")
  }

  /** Manifest-cached DESCRIBE over a warehouse family — the per-series
    * catalog (point count, epoch-micros time extent, sorted
    * attribute/tag key inventories; the same six columns the dialect's
    * frame-based `DESCRIBE` computes) served WITHOUT re-scanning
    * partitions whose file set has not moved. The discipline is
    * [[partitions]]'s: each call signs every partition's file set
    * (name:length:mtime, metadata already in the listing's hand) and
    * re-aggregates ONLY signature-moved partitions, merging
    * per-partition stats — counts sum, extents min/max, key sets
    * union — so a daily-ingest family answers from yesterday's
    * sidecar (`.graft_describe_manifest`) plus one partition's scan.
    * Per-series stats merge EXACTLY (no sketches), so the cached
    * answer is identical to the from-scratch aggregation.
    *
    * The sidecar holds one line per (partition, series) — the design
    * assumes series-cardinality × partitions is metadata-sized (the
    * same assumption the manifest file itself embodies); values are
    * URL-encoded so series names and key inventories survive tabs.
    * The cache can never serve stale rows (a changed file set changes
    * the signature — exactly what every writer must alter), writes go
    * through temp+rename (no torn reads), and a read-only warehouse
    * still works: the manifest write is best-effort. Files outside the
    * dt= layout group under `(unpartitioned)` like [[partitions]].
    */
  def describeCached(spark: SparkSession, root: String, domain: String,
      family: String): DataFrame = {
    import spark.implicits._
    val p = new org.apache.hadoop.fs.Path(s"$root/$domain/$family")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val empty = Seq.empty[(String, Long, Option[Long], Option[Long],
      String, String)].toDF("series", "n_points", "first_us", "last_us",
      "attr_keys", "tag_keys")
    if (!fs.exists(p)) return empty
    val statuses = listDataStatus(fs, p)
    if (statuses.isEmpty) return empty
    def dtOf(f: String): Option[String] = f.split('/').collectFirst {
      case seg if seg.startsWith("dt=") => seg
    }
    val byPart = statuses.groupBy(st =>
      dtOf(st.getPath.toString).getOrElse("(unpartitioned)"))
    def sigOf(sts: Seq[org.apache.hadoop.fs.FileStatus]): String = {
      val rendered = sts.map(st =>
        st.getPath.getName + ":" + st.getLen + ":" +
          st.getModificationTime).sorted.mkString("\n")
      val md = java.security.MessageDigest.getInstance("MD5")
      md.digest(rendered.getBytes("UTF-8")).map("%02x".format(_)).mkString
    }
    // one cached stat row: (series, n, firstUs, lastUs, attrKeys, tagKeys)
    type Stat = (Option[String], Long, Option[Long], Option[Long],
      Seq[String], Seq[String])
    def enc(s: String): String =
      java.net.URLEncoder.encode(s, "UTF-8")
    def dec(s: String): String =
      java.net.URLDecoder.decode(s, "UTF-8")
    def encOpt(s: Option[String]): String = s.fold("0")("1" + enc(_))
    def decOpt(s: String): Option[String] =
      if (s == "0") None else Some(dec(s.substring(1)))
    def encL(l: Option[Long]): String = l.fold("-")(_.toString)
    def decL(s: String): Option[Long] =
      if (s == "-") None else Some(s.toLong)
    val manifestPath = new org.apache.hadoop.fs.Path(p,
      ".graft_describe_manifest")
    val cached: Map[String, (String, Seq[Stat])] =
      if (!fs.exists(manifestPath)) Map.empty
      else try {
        val in = fs.open(manifestPath)
        val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
        text.linesIterator.flatMap { line =>
          // split with limit -1: an empty key-inventory tail field is a
          // legitimate value, and the default split would DROP trailing
          // empties — silently un-matching the 8-field pattern and
          // serving that partition's remaining rows as the full set
          line.split("\t", -1) match {
            case Array(part, sig, ser, n, fu, lu, ak, tk) =>
              try Some((part, sig, (decOpt(ser), n.toLong, decL(fu),
                decL(lu),
                if (ak.isEmpty) Seq.empty[String]
                else ak.split(',').toSeq.map(dec),
                if (tk.isEmpty) Seq.empty[String]
                else tk.split(',').toSeq.map(dec)): Stat))
              catch { case _: RuntimeException => None }
            case _ => None
          }
        }.toSeq.groupBy(_._1).map { case (part, rows) =>
          // a partition's lines all carry one signature by construction;
          // discard the partition if a torn write ever mixed two
          val sigs = rows.map(_._2).distinct
          part -> (sigs.head, if (sigs.length == 1) rows.map(_._3)
            else Seq.empty)
        }.filter(_._2._2.nonEmpty)
      } catch { case _: java.io.IOException => Map.empty }
    // One Spark job for ALL signature-moved partitions, not one per
    // partition (guide §1.2 step 1 / §5 driver): the previous
    // per-partition scan+collect launched a sequential job per moved
    // partition — a fresh 30-date family paid 30 job schedules for one
    // catalog (measured: ~1.5 s of boost_describe_cached's 2.65 s) and
    // a 3,000-partition backfill would pay 3,000. The moved files are
    // tagged with their partition name via a path→part lookup column
    // and aggregated by (part, series) in one pass; the collect stays
    // bounded at (moved partitions × series) rows — the sidecar's own
    // size assumption.
    val sigs: Map[String, String] = byPart.map { case (part, sts) =>
      part -> sigOf(sts)
    }
    val moved: Seq[(String, Seq[org.apache.hadoop.fs.FileStatus])] =
      byPart.toSeq.sortBy(_._1).filter { case (part, _) =>
        !cached.get(part).exists(_._1 == sigs(part)) }
    val rescans = moved.nonEmpty
    val movedStats: Map[String, Seq[Stat]] = if (!rescans) Map.empty
    else {
      // partition name from the file's own path — the same `dt=` segment
      // rule the listing's dtOf applies, as a native (codegen) regexp
      // rather than a closure UDF; both spellings of the path carry the
      // identical directory segment, so the keys line up with byPart's
      val seg = regexp_extract(input_file_name(), "/(dt=[^/]+)/", 1)
      val df = spark.read.schema(schema)
        .parquet(moved.flatMap(_._2).map(_.getPath.toString): _*)
        .withColumn("__part",
          when(seg =!= "", seg).otherwise(lit("(unpartitioned)")))
      df.groupBy(col("__part"), col("series")).agg(
          count(lit(1)).as("n"),
          unix_micros(min(col("ts"))).as("fu"),
          unix_micros(max(col("ts"))).as("lu"),
          array_sort(array_distinct(flatten(
            collect_set(map_keys(col("attributes")))))).as("ak"),
          array_sort(array_distinct(flatten(
            collect_set(map_keys(col("tags")))))).as("tk"))
        .collect().toSeq.map { r =>
          r.getString(0) -> ((Option(r.getString(1)), r.getLong(2),
            if (r.isNullAt(3)) None else Some(r.getLong(3)),
            if (r.isNullAt(4)) None else Some(r.getLong(4)),
            r.getSeq[String](5), r.getSeq[String](6)): Stat)
        }.groupBy(_._1).map { case (part, rows) => part -> rows.map(_._2) }
    }
    val perPart: Seq[(String, String, Seq[Stat])] =
      byPart.toSeq.sortBy(_._1).map { case (part, _) =>
        val sig = sigs(part)
        cached.get(part) match {
          case Some((s, rows)) if s == sig => (part, sig, rows)
          case _ => (part, sig, movedStats.getOrElse(part, Seq.empty))
        }
      }
    // best-effort sidecar rewrite, temp+rename (the partitions()
    // manifest discipline)
    if (rescans || cached.keySet != byPart.keySet) try {
      val lines = perPart.flatMap { case (part, sig, rows) =>
        rows.map { case (ser, n, fu, lu, ak, tk) =>
          Seq(part, sig, encOpt(ser), n.toString, encL(fu), encL(lu),
            ak.map(enc).mkString(","), tk.map(enc).mkString(","))
            .mkString("\t")
        }
      }
      val tmpManifest = new org.apache.hadoop.fs.Path(p,
        s".graft_describe_manifest.tmp.${java.util.UUID.randomUUID}")
      val out = fs.create(tmpManifest, true)
      try out.write(lines.mkString("\n").getBytes("UTF-8"))
      finally out.close()
      fs.delete(manifestPath, false)
      if (!fs.rename(tmpManifest, manifestPath))
        fs.delete(tmpManifest, false)
    } catch { case _: java.io.IOException => () }
    // exact merge across partitions: counts sum, extents min/max,
    // key inventories union — identical to the one-pass aggregation
    val out = perPart.flatMap(_._3).groupBy(_._1).toSeq.map {
      case (ser, rows) =>
        (ser.orNull,
          rows.map(_._2).sum,
          rows.flatMap(_._3).reduceOption(_ min _),
          rows.flatMap(_._4).reduceOption(_ max _),
          rows.flatMap(_._5).distinct.sorted.mkString(","),
          rows.flatMap(_._6).distinct.sorted.mkString(","))
    }
    out.toDF("series", "n_points", "first_us", "last_us",
      "attr_keys", "tag_keys").orderBy("series")
  }

  /** Rewrite parallelism for the mutate verbs ([[deleteRows]] /
    * [[updateRows]]): hash each date's rows into
    * `shufflePartitions / |affected partitions|` series slices, so a
    * takedown touching three dates of a TB-per-day family does NOT
    * serialize each date into one task (a bare `repartition(dt)`
    * would). Series-hash slicing keeps every series' rows CLUSTERED
    * within one file per date — row-group series pruning survives the
    * rewrite — and unlike `repartitionByRange` it needs no sampling
    * pass over the input. With many affected dates the quotient hits 1
    * and the shape degrades gracefully to the one-file-per-date
    * [[append]] layout.
    */
  private def rewriteSlices(spark: SparkSession, affectedParts: Int): Int =
    math.max(1, spark.sessionState.conf.numShufflePartitions /
      math.max(1, affectedParts))

  /** ROW-LEVEL DELETE — the takedown path (PII purge, copyright
    * removal: the one mutate verb an LLM corpus store is guaranteed to
    * need). The reference's write tier has append/retention but no
    * row-level mutate (boostsession.go:94-184 is its most complete
    * surface and this verb is absent); [[expire]] covers the
    * whole-partition retention shape, and this covers everything else
    * as a COPY-ON-WRITE rewrite of ONLY the date partitions that hold
    * matching rows.
    *
    * Semantics: rows where `predicate` is TRUE are deleted; FALSE and
    * NULL rows are kept (ANSI DELETE). Two passes:
    *
    *  1. COUNT scan: per-partition matched counts. Column-pruned to
    *     the predicate's columns + `dt`, and series/ts conjuncts push
    *     into parquet row-group stats — at 100 TB a takedown touching
    *     three dates reads a few predicate columns everywhere and
    *     actual data almost nowhere. The collect is bounded: one row
    *     per AFFECTED date partition.
    *  2. REWRITE: only the affected partitions' files (explicit file
    *     list, same [[compact]] rationale) are re-read, the kept rows
    *     rewritten in the [[append]] layout ((series, ts)-sorted), the
    *     result VERIFIED against parquet footers (kept = source −
    *     matched, per the count pass) before anything moves, then each
    *     affected partition swaps in via two renames. Partitions with
    *     no matches are never read, moved, or rewritten — their files
    *     stay BYTE-IDENTICAL (pinned in TimeSeriesTableSpec).
    *
    * A crash mid-swap leaves every partition either untouched or fully
    * swapped, with the originals recoverable under
    * `.{family}__delete_old`. Returns (rows deleted, affected
    * partition names); (0, empty) when nothing matches — no writes at
    * all in that case.
    */
  def deleteRows(spark: SparkSession, root: String, domain: String,
      family: String, predicate: org.apache.spark.sql.Column): (Long, Seq[String]) = {
    val dir = s"$root/$domain/$family"
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return (0L, Seq.empty)
    val files = listDataFiles(fs, p)
    if (files.isEmpty) return (0L, Seq.empty)
    val withDt = schema.add(StructField("dt", DateType, nullable = true))
    val src = spark.read.schema(withDt).option("basePath", dir)
      .parquet(files: _*)
    val hit = coalesce(predicate, lit(false))
    val matchedRows = src.filter(hit).groupBy(col("dt")).count().collect()
    if (matchedRows.isEmpty) return (0L, Seq.empty)
    if (matchedRows.exists(_.isNullAt(0)))
      throw new java.io.IOException(
        s"row-level DELETE on $dir: matching rows exist OUTSIDE the " +
          "dt= partition layout — the per-partition copy-on-write swap " +
          "needs the partitioned layout; compact() the family first")
    val matched = matchedRows.map(r => (r.getDate(0).toString, r.getLong(1))).toMap
    def dtOf(f: String): Option[String] = f.split('/').collectFirst {
      case seg if seg.startsWith("dt=") => seg.stripPrefix("dt=")
    }
    val affected = matched.keySet
    val affectedFiles = files.filter(f => dtOf(f).exists(affected.contains))
    val hconf = spark.sparkContext.hadoopConfiguration
    // the verification identity: kept-after-rewrite must equal the
    // affected partitions' footer total minus the count pass's matches
    val expectedKept = footerRowCount(affectedFiles, hconf) - matched.values.sum
    val tmp = new org.apache.hadoop.fs.Path(s"$root/$domain/.${family}__deleting")
    if (fs.exists(tmp)) fs.delete(tmp, true)
    spark.read.schema(withDt).option("basePath", dir)
      .parquet(affectedFiles: _*)
      .filter(!hit)
      .repartition(col("dt"), pmod(hash(col("series")), lit(rewriteSlices(spark, affected.size))))
      .sortWithinPartitions("series", "ts")
      .write.partitionBy("dt").mode("overwrite").parquet(tmp.toString)
    val kept = footerRowCount(listDataFiles(fs, tmp), hconf)
    if (kept != expectedKept) {
      fs.delete(tmp, true)
      throw new java.io.IOException(
        s"row-level DELETE aborted for $dir: rewrite holds $kept rows, " +
          s"expected $expectedKept (source minus matches) — a concurrent " +
          "write or a rewrite fault; source left untouched")
    }
    val asideRoot = new org.apache.hadoop.fs.Path(
      s"$root/$domain/.${family}__delete_old")
    if (fs.exists(asideRoot)) fs.delete(asideRoot, true)
    fs.mkdirs(asideRoot)
    affected.toSeq.sorted.foreach { d =>
      val live = new org.apache.hadoop.fs.Path(p, s"dt=$d")
      val aside = new org.apache.hadoop.fs.Path(asideRoot, s"dt=$d")
      if (!fs.rename(live, aside)) throw new java.io.IOException(
        s"row-level DELETE swap failed for $dir: could not move " +
          s"dt=$d aside — partition left untouched")
      val rewritten = new org.apache.hadoop.fs.Path(tmp, s"dt=$d")
      // a partition whose every row matched has no rewrite output: the
      // rename-aside IS the delete (the partition disappears)
      if (fs.exists(rewritten) && !fs.rename(rewritten, live)) {
        fs.rename(aside, live) // roll back; partition restored
        throw new java.io.IOException(
          s"row-level DELETE swap failed for $dir: rewrite rename of " +
            s"dt=$d failed — partition restored")
      }
    }
    fs.delete(asideRoot, true)
    fs.delete(tmp, true)
    (matched.values.sum, affected.toSeq.sorted.map(d => s"dt=$d"))
  }

  /** ROW-LEVEL UPDATE — the redaction path, [[deleteRows]]'s sibling
    * mutate verb: where DELETE removes a takedown's rows, UPDATE
    * rewrites them in place (PII masking — `SET click.user =
    * 'REDACTED'` — value corrections, attribute backfills). Same
    * copy-on-write machinery, same 100 TB stance: a count pass finds
    * the affected date partitions (column-pruned, predicate-pushed,
    * collect bounded by one row per affected partition), then ONLY
    * those partitions' files are re-read with the assignments applied,
    * footer-verified, and swapped in via two renames per partition.
    * Untouched partitions stay byte-identical.
    *
    * Assignments are `(series, attr, rhs)` triples over the long
    * layout: `attr = None` sets the series' VALUE column (rhs cast to
    * double), `attr = Some(a)` sets per-point attribute `a` (rhs cast
    * to string; a NULL rhs REMOVES the key — redaction by deletion).
    * Every RHS evaluates against the OLD row (ANSI UPDATE: all SET
    * expressions see pre-update state, so `SET a = b, b = a` swaps).
    * A row is touched when `predicate` is TRUE on it AND its series
    * has an assignment; FALSE/NULL rows and other series pass through
    * bit-unchanged inside rewritten partitions.
    *
    * The verify identity is row-count PRESERVATION: the rewrite must
    * hold exactly the affected partitions' footer total (UPDATE moves
    * no rows — `ts` and `series` are not assignable, so no row changes
    * partition). A crash mid-swap leaves each partition untouched or
    * fully swapped, originals recoverable under
    * `.{family}__update_old`. Returns (rows updated, affected
    * partition names); (0, empty) when nothing matches — no writes.
    */
  def updateRows(spark: SparkSession, root: String, domain: String,
      family: String, predicate: org.apache.spark.sql.Column,
      assigns: Seq[(String, Option[String], org.apache.spark.sql.Column)])
      : (Long, Seq[String]) = {
    require(assigns.nonEmpty, "updateRows needs at least one assignment")
    val dir = s"$root/$domain/$family"
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return (0L, Seq.empty)
    val files = listDataFiles(fs, p)
    if (files.isEmpty) return (0L, Seq.empty)
    val withDt = schema.add(StructField("dt", DateType, nullable = true))
    val src = spark.read.schema(withDt).option("basePath", dir)
      .parquet(files: _*)
    val hit = coalesce(predicate, lit(false))
    val targetSeries = assigns.map(_._1).distinct
    val touched = hit && col("series").isin(targetSeries: _*)
    val matchedRows = src.filter(touched).groupBy(col("dt")).count().collect()
    if (matchedRows.isEmpty) return (0L, Seq.empty)
    if (matchedRows.exists(_.isNullAt(0)))
      throw new java.io.IOException(
        s"row-level UPDATE on $dir: matching rows exist OUTSIDE the " +
          "dt= partition layout — the per-partition copy-on-write swap " +
          "needs the partitioned layout; compact() the family first")
    val matched = matchedRows.map(r => (r.getDate(0).toString, r.getLong(1))).toMap
    def dtOf(f: String): Option[String] = f.split('/').collectFirst {
      case seg if seg.startsWith("dt=") => seg.stripPrefix("dt=")
    }
    val affected = matched.keySet
    val affectedFiles = files.filter(f => dtOf(f).exists(affected.contains))
    val hconf = spark.sparkContext.hadoopConfiguration
    // the verification identity: UPDATE preserves row counts — the
    // rewrite must hold exactly the affected partitions' footer total
    val expectedRows = footerRowCount(affectedFiles, hconf)
    // all assignments in ONE select over the OLD row: value-sets fold
    // into nested CASEs on the value column, attribute-sets into map
    // rebuilds on the attributes column — both reference only source
    // columns, so ANSI pre-update-state semantics hold by construction
    val newValue = assigns.collect { case (s, None, rhs) => (s, rhs) }
      .foldLeft(col("value")) { case (prev, (s, rhs)) =>
        when(hit && col("series") === lit(s), rhs.cast(DoubleType))
          .otherwise(prev)
      }
    val newAttrs = assigns.collect { case (s, Some(a), rhs) => (s, a, rhs) }
      .foldLeft(col("attributes")) { case (prev, (s, a, rhs)) =>
        val r = rhs.cast(StringType)
        val cleaned = map_filter(
          coalesce(prev, map().cast(MapType(StringType, StringType))),
          (k, _) => k =!= lit(a))
        val set = when(r.isNull, cleaned)
          .otherwise(map_concat(cleaned, map(lit(a), r)))
        when(hit && col("series") === lit(s), set).otherwise(prev)
      }
    val tmp = new org.apache.hadoop.fs.Path(s"$root/$domain/.${family}__updating")
    if (fs.exists(tmp)) fs.delete(tmp, true)
    spark.read.schema(withDt).option("basePath", dir)
      .parquet(affectedFiles: _*)
      .select(col("series"), col("ts"), newValue.as("value"),
        col("tags"), newAttrs.as("attributes"), col("dt"))
      .repartition(col("dt"), pmod(hash(col("series")), lit(rewriteSlices(spark, affected.size))))
      .sortWithinPartitions("series", "ts")
      .write.partitionBy("dt").mode("overwrite").parquet(tmp.toString)
    val rewritten = footerRowCount(listDataFiles(fs, tmp), hconf)
    if (rewritten != expectedRows) {
      fs.delete(tmp, true)
      throw new java.io.IOException(
        s"row-level UPDATE aborted for $dir: rewrite holds $rewritten " +
          s"rows, expected $expectedRows (updates preserve row counts) " +
          "— a concurrent write or a rewrite fault; source left untouched")
    }
    val asideRoot = new org.apache.hadoop.fs.Path(
      s"$root/$domain/.${family}__update_old")
    if (fs.exists(asideRoot)) fs.delete(asideRoot, true)
    fs.mkdirs(asideRoot)
    affected.toSeq.sorted.foreach { d =>
      val live = new org.apache.hadoop.fs.Path(p, s"dt=$d")
      val aside = new org.apache.hadoop.fs.Path(asideRoot, s"dt=$d")
      if (!fs.rename(live, aside)) throw new java.io.IOException(
        s"row-level UPDATE swap failed for $dir: could not move " +
          s"dt=$d aside — partition left untouched")
      val rewrittenPart = new org.apache.hadoop.fs.Path(tmp, s"dt=$d")
      if (!fs.rename(rewrittenPart, live)) {
        fs.rename(aside, live) // roll back; partition restored
        throw new java.io.IOException(
          s"row-level UPDATE swap failed for $dir: rewrite rename of " +
            s"dt=$d failed — partition restored")
      }
    }
    fs.delete(asideRoot, true)
    fs.delete(tmp, true)
    (matched.values.sum, affected.toSeq.sorted.map(d => s"dt=$d"))
  }

  /** ROW-LEVEL UPSERT (MERGE) — the idempotent-ingest verb completing
    * the mutate tier ([[deleteRows]] is the takedown, [[updateRows]]
    * the redaction, this the re-delivery): every incoming row REPLACES
    * all existing rows with the same (series, ts) key and INSERTS
    * otherwise, so re-running a batch (at-least-once upstreams,
    * backfill re-runs, late corrections) never duplicates points. The
    * reference's write path is append-only (boostsession.go:94-184);
    * re-delivery there duplicates.
    *
    * The incoming frame is STAGED to parquet first (one write,
    * batch-proportional): the key-overlap count and the rewrite must
    * see the SAME rows, and an arbitrary incoming plan (a shuffled
    * SELECT, a sampled source) is not re-read-stable. Incoming frames
    * with NULL or internally-duplicate (series, ts) keys refuse —
    * which duplicate wins is undefined in a DataFrame.
    *
    * Incoming dates then split two ways (bounded collects — one row
    * per date):
    *
    *  - dates whose keys OVERLAP existing rows → copy-on-write rewrite
    *    of only those partitions (existing rows anti-joined against the
    *    incoming keys, unioned with the incoming rows), footer-VERIFIED
    *    (kept = existing − replaced + incoming) before anything moves,
    *    then the [[deleteRows]]-style two-rename swap per partition;
    *  - dates with no key overlap (whether the partition exists or is
    *    brand new) → plain additive [[append]] of just those incoming
    *    rows. The daily-ingest case stays append-cheap even when
    *    spelled as UPSERT — no rewrite unless a key actually collides.
    *
    * Existing duplicate keys all fall to the one incoming row (MERGE's
    * delete-then-insert semantics). A crash mid-swap leaves each
    * partition untouched or fully swapped ([[recover]] knows the
    * upsert aside); a crash between the swap and the append phase
    * leaves the replaced dates applied and the append dates absent —
    * re-running the same upsert finishes it (replacement is
    * idempotent). Returns (existing rows replaced, incoming rows
    * written, rewritten partition names).
    */
  def upsertRows(spark: SparkSession, root: String, domain: String,
      family: String, incoming: DataFrame): (Long, Long, Seq[String]) = {
    val missing = SchemaColumns.filterNot(incoming.columns.contains)
    require(missing.isEmpty,
      s"upsertRows needs the family columns; missing ${missing.mkString(", ")}")
    val dir = s"$root/$domain/$family"
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val hconf = spark.sparkContext.hadoopConfiguration
    val staging = new org.apache.hadoop.fs.Path(
      s"$root/$domain/.${family}__upsert_in")
    if (fs.exists(staging)) fs.delete(staging, true)
    incoming.select(col("series").cast(StringType),
        col("ts").cast(TimestampType), col("value").cast(DoubleType),
        col("tags").cast(MapType(StringType, StringType)),
        col("attributes").cast(MapType(StringType, StringType)))
      .write.parquet(staging.toString)
    try {
      val inc = spark.read.schema(schema).parquet(staging.toString)
      // ONE pass for key-sanity stats + per-date counts (mergeRows'
      // fusion, same per-date distinct == global distinct identity)
      val dtStats = inc.groupBy(to_date(col("ts")).as("dt"))
        .agg(count(lit(1)).as("n"),
          count(when(col("series").isNull, 1)).as("nulls"),
          countDistinct(col("series"), col("ts")).as("dist"))
        .collect()
      val incomingTotal = dtStats.map(_.getLong(1)).sum
      if (incomingTotal == 0L) return (0L, 0L, Seq.empty)
      if (dtStats.exists(r => r.isNullAt(0) || r.getLong(2) > 0L))
        throw new java.io.IOException(
          s"UPSERT into $dir: incoming rows carry NULL (series, ts) keys " +
            "— the merge key must be present on every row")
      if (dtStats.map(_.getLong(3)).sum != incomingTotal)
        throw new java.io.IOException(
          s"UPSERT into $dir: the incoming batch holds duplicate " +
            "(series, ts) keys — which duplicate wins is undefined in a " +
            "DataFrame; aggregate the batch to one row per key first")
      val incDates = dtStats
        .map(r => (r.getDate(0).toString, r.getLong(1))).toMap
      val files = if (fs.exists(p)) listDataFiles(fs, p) else Seq.empty
      def dtOf(f: String): Option[String] = f.split('/').collectFirst {
        case seg if seg.startsWith("dt=") => seg.stripPrefix("dt=")
      }
      val withDt = schema.add(StructField("dt", DateType, nullable = true))
      // only files on incoming dates can hold colliding keys; files
      // OUTSIDE the dt= layout could too, invisibly to the swap — read
      // them in the count pass and refuse if they collide (same
      // compact-first contract as the other mutate verbs)
      val candidates = files.filter(f =>
        dtOf(f).fold(true)(incDates.contains))
      val overlapByDt: Map[String, Long] =
        if (candidates.isEmpty) Map.empty
        else {
          val rows = spark.read.schema(withDt).option("basePath", dir)
            .parquet(candidates: _*)
            .join(inc.select("series", "ts"), Seq("series", "ts"), "leftsemi")
            .groupBy(col("dt")).count().collect()
          if (rows.exists(_.isNullAt(0))) throw new java.io.IOException(
            s"UPSERT into $dir: colliding keys exist OUTSIDE the dt= " +
              "partition layout — the per-partition copy-on-write swap " +
              "needs the partitioned layout; compact() the family first")
          rows.map(r => (r.getDate(0).toString, r.getLong(1))).toMap
        }
      val overlapDates = overlapByDt.keySet
      val replaced = overlapByDt.values.sum
      def onDates(ds: Set[String]) = inc.filter(
        to_date(col("ts")).isin(ds.toSeq.map(java.sql.Date.valueOf): _*))
      if (overlapDates.nonEmpty) {
        val rewriteFiles = files.filter(f =>
          dtOf(f).exists(overlapDates.contains))
        val expectedKept = footerRowCount(rewriteFiles, hconf) - replaced +
          overlapDates.toSeq.map(incDates).sum
        val tmp = new org.apache.hadoop.fs.Path(
          s"$root/$domain/.${family}__upserting")
        if (fs.exists(tmp)) fs.delete(tmp, true)
        // existing rows KEEP their path-derived dt (like the sibling
        // verbs — a row never migrates partitions in a rewrite);
        // incoming rows land on their ts-date, which is within the
        // overlap set by construction
        spark.read.schema(withDt).option("basePath", dir)
          .parquet(rewriteFiles: _*)
          .join(inc.select("series", "ts"), Seq("series", "ts"), "left_anti")
          .unionByName(onDates(overlapDates)
            .withColumn("dt", to_date(col("ts"))))
          .repartition(col("dt"),
            pmod(hash(col("series")), lit(rewriteSlices(spark, overlapDates.size))))
          .sortWithinPartitions("series", "ts")
          .write.partitionBy("dt").mode("overwrite").parquet(tmp.toString)
        val kept = footerRowCount(listDataFiles(fs, tmp), hconf)
        if (kept != expectedKept) {
          fs.delete(tmp, true)
          throw new java.io.IOException(
            s"UPSERT aborted for $dir: rewrite holds $kept rows, expected " +
              s"$expectedKept (existing − replaced + incoming) — a " +
              "concurrent write or a rewrite fault; source left untouched")
        }
        val asideRoot = new org.apache.hadoop.fs.Path(
          s"$root/$domain/.${family}__upsert_old")
        if (fs.exists(asideRoot)) fs.delete(asideRoot, true)
        fs.mkdirs(asideRoot)
        overlapDates.toSeq.sorted.foreach { d =>
          val live = new org.apache.hadoop.fs.Path(p, s"dt=$d")
          val aside = new org.apache.hadoop.fs.Path(asideRoot, s"dt=$d")
          if (!fs.rename(live, aside)) throw new java.io.IOException(
            s"UPSERT swap failed for $dir: could not move dt=$d aside — " +
              "partition left untouched")
          val rewritten = new org.apache.hadoop.fs.Path(tmp, s"dt=$d")
          if (!fs.rename(rewritten, live)) {
            fs.rename(aside, live) // roll back; partition restored
            throw new java.io.IOException(
              s"UPSERT swap failed for $dir: rewrite rename of dt=$d " +
                "failed — partition restored")
          }
        }
        fs.delete(asideRoot, true)
        fs.delete(tmp, true)
      }
      val appendDates = incDates.keySet -- overlapDates
      if (appendDates.nonEmpty)
        append(onDates(appendDates), root, domain, family)
      (replaced, incomingTotal, overlapDates.toSeq.sorted.map(d => s"dt=$d"))
    } finally fs.delete(staging, true)
  }

  /** One `WHEN NOT MATCHED BY SOURCE` clause for [[mergeRows]]:
    * `cond` (None = unconditional) sees TARGET columns only; `action`
    * is `"delete"` or `"update"`; an update clause carries its SET
    * assignments in [[updateRows]]'s shape — (series, None, rhs) sets
    * that series' value, (series, Some(attr), rhs) a per-point
    * attribute (NULL rhs removes the key) — with RHS over target
    * columns only (there is no source row by definition).
    */
  case class BySourceClause(cond: Option[org.apache.spark.sql.Column],
      action: String,
      assigns: Seq[(String, Option[String], org.apache.spark.sql.Column)] =
        Seq.empty)

  /** ANSI MERGE over a family — the general mutate verb subsuming
    * [[upsertRows]] (which is matched-UPDATE + not-matched-INSERT with
    * no conditions): incoming rows match existing rows on the family
    * key (series, ts); each MATCHED existing row takes the FIRST
    * `matched` clause whose condition holds — `"update"` replaces the
    * row with the source row (value, tags, attributes), `"delete"`
    * drops it, no clause true → the row is kept as is. Unmatched
    * incoming rows are written only when `insertUnmatched`. Clause
    * conditions are Columns over the JOINED row: the existing row's
    * columns (series, ts, value, tags, attributes) plus the source
    * row's as `src_value` / `src_tags` / `src_attributes`; a NULL
    * condition is false (ANSI).
    *
    * Same copy-on-write machinery and 100 TB stance as the sibling
    * verbs: the incoming batch STAGES to parquet once (the
    * classification pass and the rewrite must see identical rows —
    * recomputing a nondeterministic source between passes would merge
    * two different batches), a classification pass touches only files
    * on incoming dates (column access is the clause conditions' and
    * the collect is bounded at one row per date × clause), ONLY dates
    * holding a non-keep outcome rewrite — footer-verified at
    * existing − deleted + inserted-on-those-dates — and swap in via
    * two renames per partition. Matched-keep-only dates and untouched
    * dates stay byte-identical; unmatched inserts on non-rewrite dates
    * take the additive [[append]] path (a daily-ingest MERGE stays
    * append-cheap). Existing duplicate (series, ts) keys each take the
    * merge outcome independently — the verb preserves multiplicity;
    * UPSERT is the collapsing variant.
    *
    * `bySource` carries the mirror-sync clauses (`WHEN NOT MATCHED BY
    * SOURCE [AND <cond>] THEN DELETE | UPDATE SET …`): existing rows
    * whose key is ABSENT from the batch take the first true by-source
    * clause (conditions see target columns only — there is no source
    * row by definition). DELETE drops the row; UPDATE applies its SET
    * assignments ([[updateRows]]'s shape — a value set or a per-point
    * attribute set, RHS over target columns only) — the "flag stale
    * rows instead of purging them" half of mirror-sync. A row captured
    * by an UPDATE clause whose series has no assignment is a no-op:
    * ANSI semantics still consume the clause (no fall-through to later
    * clauses), but the row neither counts as updated nor forces its
    * date to rewrite. Locality inverts: absent-key rows can sit on ANY
    * date, so the classification covers the WHOLE family, not just
    * incoming dates — keep-only dates still stay byte-identical.
    * Returns (rows updated, rows deleted, rows inserted, rewritten
    * partitions).
    */
  def mergeRows(spark: SparkSession, root: String, domain: String,
      family: String, incoming: DataFrame,
      matched: Seq[(Option[org.apache.spark.sql.Column], String)],
      insertUnmatched: Boolean,
      bySource: Seq[BySourceClause] = Seq.empty)
      : (Long, Long, Long, Seq[String]) = {
    require(matched.forall(c => c._2 == "update" || c._2 == "delete"),
      "matched clause actions must be update|delete")
    require(bySource.forall(c => c.action == "delete" ||
      c.action == "update"),
      "NOT MATCHED BY SOURCE clause actions must be delete|update")
    require(bySource.forall(c =>
      c.action != "update" || c.assigns.nonEmpty),
      "a NOT MATCHED BY SOURCE UPDATE clause needs SET assignments")
    require(bySource.forall(c =>
      c.action != "delete" || c.assigns.isEmpty),
      "a NOT MATCHED BY SOURCE DELETE clause takes no SET assignments")
    require(matched.nonEmpty || insertUnmatched || bySource.nonEmpty,
      "MERGE needs at least one WHEN clause")
    val missing = SchemaColumns.filterNot(incoming.columns.contains)
    require(missing.isEmpty,
      s"mergeRows needs the family columns; missing ${missing.mkString(", ")}")
    val dir = s"$root/$domain/$family"
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val hconf = spark.sparkContext.hadoopConfiguration
    val staging = new org.apache.hadoop.fs.Path(
      s"$root/$domain/.${family}__merge_in")
    if (fs.exists(staging)) fs.delete(staging, true)
    incoming.select(col("series").cast(StringType),
        col("ts").cast(TimestampType), col("value").cast(DoubleType),
        col("tags").cast(MapType(StringType, StringType)),
        col("attributes").cast(MapType(StringType, StringType)))
      .write.parquet(staging.toString)
    try {
      val inc = spark.read.schema(schema).parquet(staging.toString)
      // ONE pass over the staged batch for the key-sanity stats AND the
      // per-date counts (guide §1.2: don't re-read what one aggregation
      // can answer) — previously two sequential jobs. The global
      // distinct-key count decomposes per date exactly because the key
      // embeds the date: duplicate (series, ts) pairs always share
      // to_date(ts), so Σ per-date distinct == global distinct.
      val dtStats = inc.groupBy(to_date(col("ts")).as("dt"))
        .agg(count(lit(1)).as("n"),
          count(when(col("series").isNull, 1)).as("nulls"),
          countDistinct(col("series"), col("ts")).as("dist"))
        .collect()
      val incomingTotal = dtStats.map(_.getLong(1)).sum
      if (incomingTotal == 0L) return (0L, 0L, 0L, Seq.empty)
      // a NULL ts lands in the null dt group; a NULL series counts there
      if (dtStats.exists(r => r.isNullAt(0) || r.getLong(2) > 0L))
        throw new java.io.IOException(
          s"MERGE into $dir: incoming rows carry NULL (series, ts) keys " +
            "— the merge key must be present on every row")
      if (dtStats.map(_.getLong(3)).sum != incomingTotal)
        throw new java.io.IOException(
          s"MERGE into $dir: the incoming batch holds duplicate " +
            "(series, ts) keys — ANSI MERGE refuses a source that matches " +
            "one target row twice; aggregate the batch to one row per key")
      val incDates = dtStats
        .map(r => (r.getDate(0).toString, r.getLong(1))).toMap
      val files = if (fs.exists(p)) listDataFiles(fs, p) else Seq.empty
      def dtOf(f: String): Option[String] = f.split('/').collectFirst {
        case seg if seg.startsWith("dt=") => seg.stripPrefix("dt=")
      }
      val withDt = schema.add(StructField("dt", DateType, nullable = true))
      // only files on incoming dates can hold matching keys; files
      // OUTSIDE the dt= layout could too, invisibly to the swap —
      // refuse on collision (compact-first, same as the sibling verbs).
      // A NOT MATCHED BY SOURCE clause inverts the locality: rows
      // ABSENT from the batch can sit on ANY date, so the
      // classification (and potentially the rewrite) covers the whole
      // family — inherent to mirror-sync, and stated in the sqlMerge
      // doc rather than silently narrowed.
      val candidates =
        if (bySource.nonEmpty) files
        else files.filter(f => dtOf(f).fold(true)(incDates.contains))
      val incSrc = inc.select(col("series"), col("ts"),
        col("value").as("src_value"), col("tags").as("src_tags"),
        col("attributes").as("src_attributes"),
        lit(true).as("__src_matched"))
      // first-true-clause-wins outcome over the joined row; NULL
      // conditions are false, no clause true → keep (-1)
      val outcome: org.apache.spark.sql.Column = matched.zipWithIndex
        .foldLeft(Option.empty[org.apache.spark.sql.Column]) {
          case (acc, ((cond, _), i)) =>
            val c = coalesce(cond.getOrElse(lit(true)), lit(false))
            Some(acc.fold(when(c, lit(i)))(_.when(c, lit(i))))
        }.fold(lit(-1))(_.otherwise(lit(-1)))
      // NOT MATCHED BY SOURCE clauses take the index space after the
      // matched ones (first-true-wins among themselves); conditions see
      // TARGET columns only. With no by-source clauses this folds to
      // the keep outcome (-1) — the pre-existing unmatched behavior.
      val bsOutcome: org.apache.spark.sql.Column = bySource.zipWithIndex
        .foldLeft(Option.empty[org.apache.spark.sql.Column]) {
          case (acc, (cl, i)) =>
            val c = coalesce(cl.cond.getOrElse(lit(true)), lit(false))
            val idx = lit(matched.length + i)
            Some(acc.fold(when(c, idx))(_.when(c, idx)))
        }.fold(lit(-1))(_.otherwise(lit(-1)))
      val deleteIdx = matched.zipWithIndex.collect {
        case ((_, "delete"), i) => i } ++
        bySource.zipWithIndex.collect {
          case (cl, i) if cl.action == "delete" => matched.length + i }
      val updateIdx = matched.zipWithIndex.collect {
        case ((_, "update"), i) => i }
      val bsUpdateIdx = bySource.zipWithIndex.collect {
        case (cl, i) if cl.action == "update" => matched.length + i }
      // EFFECTIVE outcome: a row captured by a by-source UPDATE clause
      // whose series has no assignment is a no-op — ANSI already
      // consumed the clause (bsOutcome picked it, so no fall-through),
      // and downgrading it to keep (-1) afterwards is byte-identical
      // while sparing its date a pointless rewrite
      def effOutcome(raw: org.apache.spark.sql.Column)
          : org.apache.spark.sql.Column =
        bySource.zipWithIndex.foldLeft(raw) {
          case (acc, (cl, i)) if cl.action == "update" =>
            val targets = cl.assigns.map(_._1).distinct
            when(raw === lit(matched.length + i) &&
              !col("series").isin(targets: _*), lit(-1)).otherwise(acc)
          case (acc, _) => acc
        }
      // classification pass: per (date, outcome) row counts — bounded
      // at touched dates × (clauses + 1) rows on the driver
      val byDtOutcome: Seq[(String, Int, Long)] =
        if (candidates.isEmpty || (matched.isEmpty && bySource.isEmpty))
          Seq.empty
        else {
          val existing = spark.read.schema(withDt).option("basePath", dir)
            .parquet(candidates: _*)
          val classified =
            if (bySource.isEmpty)
              existing.join(incSrc, Seq("series", "ts"), "inner")
                .select(col("dt"), outcome.as("__oc"))
            else existing.join(incSrc, Seq("series", "ts"), "left")
              .select(col("dt"),
                when(coalesce(col("__src_matched"), lit(false)), outcome)
                  .otherwise(effOutcome(bsOutcome)).as("__oc"))
          val rows = classified
            .groupBy(col("dt"), col("__oc")).count().collect()
          if (rows.exists(_.isNullAt(0))) throw new java.io.IOException(
            s"MERGE into $dir: matching keys exist OUTSIDE the dt= " +
              "partition layout — the per-partition copy-on-write swap " +
              "needs the partitioned layout; compact() the family first")
          rows.toSeq.map(r =>
            (r.getDate(0).toString, r.getInt(1), r.getLong(2)))
        }
      val updated = byDtOutcome.collect {
        case (_, oc, n) if updateIdx.contains(oc) ||
          bsUpdateIdx.contains(oc) => n }.sum
      val deleted = byDtOutcome.collect {
        case (_, oc, n) if deleteIdx.contains(oc) => n }.sum
      val deletedByDt: Map[String, Long] = byDtOutcome
        .filter(r => deleteIdx.contains(r._2))
        .groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
      // a date rewrites only when some row there takes a non-keep
      // outcome; matched-keep-only dates stay byte-identical
      val rewriteDates: Set[String] = byDtOutcome
        .collect { case (d, oc, _) if oc >= 0 => d }.toSet
      // unmatched incoming rows (the INSERT half) — computed only when
      // a NOT MATCHED clause exists; existing keys come from the same
      // candidate files the classification read
      val unmatched: Option[DataFrame] =
        if (!insertUnmatched) None
        else if (candidates.isEmpty) Some(inc)
        else Some(inc.join(
          spark.read.schema(withDt).option("basePath", dir)
            .parquet(candidates: _*).select("series", "ts"),
          Seq("series", "ts"), "left_anti"))
      val insertedByDt: Map[String, Long] = unmatched.fold(
        Map.empty[String, Long])(u => u.groupBy(to_date(col("ts")).as("d"))
        .count().collect()
        .map(r => (r.getDate(0).toString, r.getLong(1))).toMap)
      val inserted = insertedByDt.values.sum
      val appendDates = insertedByDt.keySet -- rewriteDates
      // the unmatched anti-join reads the PRE-swap candidate files, so
      // the append subset must MATERIALIZE before the swap replaces
      // them (a lazy read after the swap would hit deleted paths); the
      // appended bytes are proportional to the batch's insert half
      val insStaging = new org.apache.hadoop.fs.Path(
        s"$root/$domain/.${family}__merge_ins")
      if (fs.exists(insStaging)) fs.delete(insStaging, true)
      if (appendDates.nonEmpty)
        unmatched.get.filter(to_date(col("ts")).isin(
          appendDates.toSeq.map(java.sql.Date.valueOf): _*))
          .write.parquet(insStaging.toString)
      if (rewriteDates.nonEmpty) {
        val rewriteFiles = files.filter(f =>
          dtOf(f).exists(rewriteDates.contains))
        val expectedKept = footerRowCount(rewriteFiles, hconf) -
          deletedByDt.filter(kv => rewriteDates.contains(kv._1)).values.sum +
          insertedByDt.filter(kv => rewriteDates.contains(kv._1)).values.sum
        val tmp = new org.apache.hadoop.fs.Path(
          s"$root/$domain/.${family}__merging")
        if (fs.exists(tmp)) fs.delete(tmp, true)
        val isUpdate = updateIdx.foldLeft(lit(false))(
          (acc, i) => acc || col("__oc") === lit(i))
        val isDelete = deleteIdx.foldLeft(lit(false))(
          (acc, i) => acc || col("__oc") === lit(i))
        // existing rows keep their path-derived dt (a mutate verb never
        // migrates a row); unmatched inserts on rewrite dates ride the
        // same swap so the partition flips once, atomically.
        // By-source UPDATE assignments fold over the matched-update
        // base exactly like updateRows' SET machinery: value sets
        // nested-CASE on the value column, attribute sets rebuild the
        // map FROM THE ACCUMULATED column (so several assignments to
        // one series compose), both reading pre-update state only.
        val bsValue = bySource.zipWithIndex.foldLeft(
          when(isUpdate, col("src_value")).otherwise(col("value"))) {
          case (prev, (cl, i)) if cl.action == "update" =>
            cl.assigns.collect { case (s, None, rhs) => (s, rhs) }
              .foldLeft(prev) { case (pv, (s, rhs)) =>
                when(col("__oc") === lit(matched.length + i) &&
                  col("series") === lit(s), rhs.cast(DoubleType))
                  .otherwise(pv)
              }
          case (prev, _) => prev
        }
        val bsAttrs = bySource.zipWithIndex.foldLeft(
          when(isUpdate, col("src_attributes"))
            .otherwise(col("attributes"))) {
          case (prev, (cl, i)) if cl.action == "update" =>
            cl.assigns.collect { case (s, Some(a), rhs) => (s, a, rhs) }
              .foldLeft(prev) { case (pv, (s, a, rhs)) =>
                val r = rhs.cast(StringType)
                val cleaned = map_filter(
                  coalesce(pv,
                    map().cast(MapType(StringType, StringType))),
                  (k, _) => k =!= lit(a))
                val set = when(r.isNull, cleaned)
                  .otherwise(map_concat(cleaned, map(lit(a), r)))
                when(col("__oc") === lit(matched.length + i) &&
                  col("series") === lit(s), set).otherwise(pv)
              }
          case (prev, _) => prev
        }
        val existingMerged = spark.read.schema(withDt)
          .option("basePath", dir).parquet(rewriteFiles: _*)
          .join(incSrc, Seq("series", "ts"), "left")
          .withColumn("__oc",
            when(coalesce(col("__src_matched"), lit(false)), outcome)
              .otherwise(effOutcome(bsOutcome)))
          .filter(!isDelete)
          .select(col("series"), col("ts"),
            bsValue.as("value"),
            when(isUpdate, col("src_tags")).otherwise(col("tags"))
              .as("tags"),
            bsAttrs.as("attributes"),
            col("dt"))
        val insertsOnRewrite = unmatched.map(_
          .withColumn("dt", to_date(col("ts")))
          .filter(col("dt").isin(
            rewriteDates.toSeq.map(java.sql.Date.valueOf): _*)))
        val rewrite = insertsOnRewrite
          .fold(existingMerged)(existingMerged.unionByName(_))
        rewrite
          .repartition(col("dt"), pmod(hash(col("series")),
            lit(rewriteSlices(spark, rewriteDates.size))))
          .sortWithinPartitions("series", "ts")
          .write.partitionBy("dt").mode("overwrite").parquet(tmp.toString)
        val kept = footerRowCount(listDataFiles(fs, tmp), hconf)
        if (kept != expectedKept) {
          fs.delete(tmp, true)
          throw new java.io.IOException(
            s"MERGE aborted for $dir: rewrite holds $kept rows, expected " +
              s"$expectedKept (existing − deleted + inserted) — a " +
              "concurrent write or a rewrite fault; source left untouched")
        }
        val asideRoot = new org.apache.hadoop.fs.Path(
          s"$root/$domain/.${family}__merge_old")
        if (fs.exists(asideRoot)) fs.delete(asideRoot, true)
        fs.mkdirs(asideRoot)
        rewriteDates.toSeq.sorted.foreach { d =>
          val live = new org.apache.hadoop.fs.Path(p, s"dt=$d")
          val aside = new org.apache.hadoop.fs.Path(asideRoot, s"dt=$d")
          if (!fs.rename(live, aside)) throw new java.io.IOException(
            s"MERGE swap failed for $dir: could not move dt=$d aside — " +
              "partition left untouched")
          val rewritten = new org.apache.hadoop.fs.Path(tmp, s"dt=$d")
          // a partition whose every row was deleted (and received no
          // insert) has no rewrite output: the rename-aside IS the merge
          if (fs.exists(rewritten) && !fs.rename(rewritten, live)) {
            fs.rename(aside, live) // roll back; partition restored
            throw new java.io.IOException(
              s"MERGE swap failed for $dir: rewrite rename of dt=$d " +
                "failed — partition restored")
          }
        }
        fs.delete(asideRoot, true)
        fs.delete(tmp, true)
      }
      if (appendDates.nonEmpty) {
        append(spark.read.schema(schema).parquet(insStaging.toString),
          root, domain, family)
        fs.delete(insStaging, true)
      }
      (updated, deleted, inserted,
        rewriteDates.toSeq.sorted.map(d => s"dt=$d"))
    } finally {
      fs.delete(staging, true)
      fs.delete(new org.apache.hadoop.fs.Path(
        s"$root/$domain/.${family}__merge_ins"), true)
    }
  }

  /** Crash recovery for the copy-on-write verbs ([[compact]],
    * [[deleteRows]], [[updateRows]], [[upsertRows]], [[mergeRows]]) —
    * makes a family READABLE again
    * after a crash mid-swap, applying each verb's documented
    * either-untouched-or-fully-swapped invariant:
    *
    *  - compact's whole-dir aside (`.{family}__old`): live dir missing
    *    means the crash hit between the two renames — the aside IS the
    *    source, restore it; live dir present means the swap finished —
    *    the aside is a stale copy, drop it.
    *  - the mutate verbs' per-partition asides
    *    (`.{family}__delete_old` / `__update_old` / `__upsert_old` /
    *    `__merge_old`): a
    *    partition still present under the aside was either swapped
    *    (live dt exists — drop the aside copy) or mid-swap (live dt
    *    missing — rename it back).
    *  - in-flight rewrite temps (`__compacting` / `__deleting` /
    *    `__updating` / `__upserting` / `__merging`) and the staged
    *    incoming batches (`__upsert_in` / `__merge_in`) are dropped —
    *    unswapped rewrite output is rolled back, never half-applied.
    *
    * After recovery the family is consistent but a crashed DELETE /
    * UPDATE may be PARTIALLY applied across partitions (each partition
    * fully, per the invariant). Re-running a DELETE finishes it
    * (survivor rows still match). Re-running an UPDATE is safe only
    * when its predicate excludes already-updated rows (a mask like
    * `SET user = 'REDACTED' WHERE user = '3'` is; an arithmetic
    * rewrite like `SET v = v * 0.5 WHERE v > x` is not — check the
    * returned action log before re-running). Returns one line per
    * action taken; empty = nothing to recover.
    */
  def recover(spark: SparkSession, root: String, domain: String,
      family: String): Seq[String] = {
    val live = new org.apache.hadoop.fs.Path(s"$root/$domain/$family")
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val actions = scala.collection.mutable.ArrayBuffer.empty[String]
    // whole-dir asides first (the live dir itself may be gone):
    // compact's and CREATE OR REPLACE FAMILY's swap share the shape
    Seq("old" -> "compact", "ctas_old" -> "ctas").foreach {
      case (sfx, verb) =>
        val wholeAside = new org.apache.hadoop.fs.Path(
          s"$root/$domain/.${family}__$sfx")
        if (fs.exists(wholeAside)) {
          if (!fs.exists(live)) {
            if (!fs.rename(wholeAside, live)) throw new java.io.IOException(
              s"recovery failed: could not restore $live from $wholeAside")
            actions += s"restored $family from the $verb aside"
          } else {
            fs.delete(wholeAside, true)
            actions += s"dropped stale $verb aside (swap had completed)"
          }
        }
    }
    // mutate verbs: per-partition asides
    Seq("delete", "update", "upsert", "merge", "refresh").foreach { verb =>
      val asideRoot = new org.apache.hadoop.fs.Path(
        s"$root/$domain/.${family}__${verb}_old")
      if (fs.exists(asideRoot)) {
        fs.listStatus(asideRoot).toSeq
          .filter(st => st.isDirectory && st.getPath.getName.startsWith("dt="))
          .sortBy(_.getPath.getName)
          .foreach { st =>
            val d = st.getPath.getName
            val liveDt = new org.apache.hadoop.fs.Path(live, d)
            if (fs.exists(liveDt)) {
              fs.delete(st.getPath, true)
              actions += s"dropped swapped $verb aside $d"
            } else {
              if (!fs.rename(st.getPath, liveDt))
                throw new java.io.IOException(
                  s"recovery failed: could not restore $d from the " +
                    s"$verb aside")
              actions += s"restored $d from the $verb aside (mid-swap)"
            }
          }
        fs.delete(asideRoot, true)
      }
    }
    // in-flight rewrite temps: unswapped output rolls back
    Seq("compacting", "deleting", "updating", "upserting", "upsert_in",
        "merging", "merge_in", "merge_ins", "ctas", "refreshing")
      .foreach { phase =>
      val tmp = new org.apache.hadoop.fs.Path(
        s"$root/$domain/.${family}__$phase")
      if (fs.exists(tmp)) {
        fs.delete(tmp, true)
        actions += s"dropped in-flight $phase temp"
      }
    }
    actions.toSeq
  }

  /** Bucketed layout variant (SURVEY §7.4.4's open layout question):
    * date partitions × series-hash buckets, rows sorted by (series, ts)
    * within each bucket file. Spark's bucketing metadata lives in the
    * catalog, so this registers an external table (the path still holds
    * plain parquet). What it buys at 100 TB over the sorted layout:
    *  - `series = 'x'` prunes to 1/nBuckets of the files per date
    *    partition (bucket pruning) BEFORE row-group stats apply;
    *  - series-keyed aggregations and self-joins read pre-partitioned
    *    data — no exchange, the shuffle the sorted layout always pays.
    * Cost: writes shuffle into nBuckets files per date partition, and
    * readers must go through the catalog table, not the path.
    * Measured against the sorted layout by [[graft.LayoutBench]]
    * (BENCH_layout.json): at 10x sf0.1 the exchange IS eliminated
    * (plan-verified) but wall-time LOSES ~2-3x, because this corpus
    * has only 5 distinct series — scan parallelism collapses to the
    * non-empty bucket count. Bucketing pays when series cardinality
    * >> nBuckets and the downstream exchange dominates the scan, i.e.
    * at the 100 TB / thousands-of-series end; the sorted layout stays
    * the default.
    */
  def appendBucketed(df: DataFrame, root: String, domain: String,
      family: String, nBuckets: Int = 32): String = {
    val table = s"graft_${domain}_${family}_bucketed"
    df.withColumn("dt", to_date(col("ts")))
      .write.mode("append")
      .option("path", s"$root/$domain/${family}_bucketed")
      .partitionBy("dt")
      .bucketBy(nBuckets, "series")
      .sortBy("series", "ts")
      .format("parquet")
      .saveAsTable(table)
    table
  }

  /** Open a bucketed family by its catalog name (as returned by
    * [[appendBucketed]]). */
  def openBucketed(spark: SparkSession, table: String): DataFrame =
    spark.table(table)

  /** Time-range scan `[start, end)` — the FetchSeries analogue
    * (executor.go:426-478). The `ts` predicate pushes into parquet
    * row-group stats, and on a frame opened with [[open]] it also
    * prunes date partitions ([[FamilyScan]]). A frame not opened with
    * [[open]] gets no `dt` bounds: nothing says its `dt` is `to_date(ts)`.
    */
  def timeRange(df: DataFrame, start: Timestamp, end: Timestamp): DataFrame =
    df.filter(col("ts") >= lit(start) && col("ts") < lit(end))

  /** Fetch one series over a time range, time-ordered — the reference's
    * Fetch + k-way merge (boostseriesiterator.go:157-343) is just a sort.
    */
  def fetchSeries(df: DataFrame, series: String, start: Timestamp, end: Timestamp): DataFrame =
    timeRange(df, start, end).filter(col("series") === series).orderBy("ts")

  /** Select the series whose tags carry every given (key, value) — the
    * FetchTagged analogue (m3dbseriesfamily.go:187-224, there a tag-query
    * against the index; here a conjunctive map filter the scan evaluates
    * row-side, prunable via parquet dictionary stats on the tag column).
    */
  def fetchTagged(df: DataFrame, tags: Map[String, String]): DataFrame = {
    require(tags.nonEmpty, "fetchTagged needs at least one tag matcher")
    df.filter(tags.map { case (k, v) => element_at(col("tags"), k) === v }
      .reduce(_ && _))
  }
}
