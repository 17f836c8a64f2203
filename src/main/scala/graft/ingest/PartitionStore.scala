package graft.ingest

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.schema.{PartitionFilename, Schema}

import scala.jdk.CollectionConverters._

/** The partition store: sorted ZSTD parquet chunks of ≤10k rewarded
  * decisions whose FILENAMES index the data —
  * `{maxTs}-{minTs}-{count}-{uuid}.parquet` under
  * `rewarded_decisions/{model}/parquet/{yyyy}/{MM}/{dd}/`
  * (reference: src/ingest/partition.py:77-109, 375-463).
  *
  * Write pipeline (all distributed; the only driver-side data are one
  * (prefixLength → maxGroupCount) row per candidate resolution — ten
  * rows — and the file listing, both bounded):
  *
  *  1. assign each row its KSUID-timestamp prefix at the coarsest
  *     resolution (YYYYmm → YYYYmmddTHHMMSS) at which every prefix
  *     group holds ≤ maxRowsPerFile rows — the reference's
  *     "split on timestamp boundaries" (partition.py:375-405), which
  *     disperses overlap repairs through the timeline so grooming
  *     converges in ~O(log N) passes;
  *  2. shuffle by prefix, sort rows by decision_id within partitions,
  *     write one parquet file per prefix chunk (deliberately NO
  *     maxRecordsPerFile backstop — splitting a same-second overflow
  *     would create identical-range files groom re-merges forever;
  *     see the NOTE in write());
  *  3. rename each written file to the name-encoded index using the
  *     parquet FOOTER statistics (min/max decision_id, row count) —
  *     metadata-only reads, no data scan.
  */
object PartitionStore {

  val MaxRowsPerFile = 10000

  /** Driver-side pool for the footer-stats + rename tail of write(). */
  val RenamePoolSize = 32

  /** Prefix lengths: YYYYmm (6) … YYYYmmddTHHMMSS (15) of the basic-ISO
    * timestamp rendering of the KSUID's time.
    */
  private val MinPrefix = 6
  private val MaxPrefix = 15

  /** Write a merged rewarded-decision DataFrame for ONE model into the
    * store at `baseDir`; returns the written keys (relative to baseDir).
    *
    * `df` runs TWICE — once for the prefix-length census, once for the
    * chunked write — so it must be a cheap, re-runnable, DETERMINISTIC
    * input: a scan of already-materialized columnar files (the
    * per-model staging tree of [[Merge.writePerModel]], the gates'
    * merged cache) or a bounded groom group. A caller with an
    * expensive upstream (gzip JSONL parse + merge) stages it once
    * itself, as writePerModel does for all its models. Materializing
    * here instead would cost every call a write+read round trip (most
    * of a groom group's wall time, OPTIMIZATION_r14.md) or a persist
    * that serializes concurrent groom groups on the session-global
    * CacheManager lock (r13). The determinism assumption is CHECKED:
    * the chunk footers must hold exactly the rows the census counted,
    * or the write throws before the first file is published.
    */
  def write(df: DataFrame, baseDir: String, model: String,
      maxRowsPerFile: Int = MaxRowsPerFile): Seq[String] = {
    val spark = df.sparkSession
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(baseDir).getFileSystem(conf)

    val tmpDir = s"$baseDir/_tmp_${java.util.UUID.randomUUID()}"
    // native codegen KSUID decode (limb arithmetic, no BigInteger/UDF);
    // throws on an invalid id exactly like PartitionFilename.timestampOf
    val withTs = df.drop(Schema.Model)
      .withColumn("_ts",
        graft.functions.KsuidExpressions.ksuidBasicIso(col(Schema.DecisionId)))
    // cleanup in finally: a failed write must not leak the partial tmp
    // output under baseDir (it lives outside rewarded_decisions/, so
    // nothing would ever reclaim it)
    try {

    // Prefix-length choice: the coarsest resolution at which every
    // prefix group holds ≤ maxRowsPerFile rows. Per-second counts —
    // one row per distinct second — roll up over all candidate
    // lengths in one distributed agg, so exactly
    // (MaxPrefix−MinPrefix+1) rows reach the driver. Each length's
    // groups partition the input, so any length's sum is the census
    // row count the write is checked against below.
    val census = withTs
      .select(substring(col("_ts"), 1, MaxPrefix).as("_p"))
      .groupBy("_p").count()
      .select(explode(array((MinPrefix to MaxPrefix).map(i =>
        struct(lit(i).as("len"), substring(col("_p"), 1, i).as("pfx"))): _*)).as("lp"),
        col("count"))
      .groupBy(col("lp.len").as("len"), col("lp.pfx"))
      .agg(sum("count").as("n"))
      .groupBy("len").agg(max("n").as("maxN"), sum("n").as("total"))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    val prefixLen = (MinPrefix to MaxPrefix)
      .find(i => census.get(i).forall(_._1 <= maxRowsPerFile))
      .getOrElse(MaxPrefix)
    val censusRows = census.values.headOption.fold(0L)(_._2)

    // NOTE: deliberately no maxRecordsPerFile backstop. If >maxRows
    // rows share one SECOND (prefix length 15 still over the cap),
    // splitting them into several files would create same-second
    // overlapping ranges that groom re-merges forever (livelock);
    // the reference writes one oversized file in that case
    // (partition.py:375-405 splits only down to 1s resolution) and
    // so do we.
    withTs
      .withColumn("_chunk", substring(col("_ts"), 1, prefixLen))
      .drop("_ts")
      .repartition(col("_chunk"))
      .sortWithinPartitions("_chunk", Schema.DecisionId)
      .write
      .partitionBy("_chunk")
      .option("compression", "zstd")
      .parquet(tmpDir)

    val written = listFiles(fs, new Path(tmpDir)).filter(_.getName.endsWith(".parquet"))
    // Footer reads and renames are independent metadata operations; a
    // pooled pass keeps the driver tail O(files / pool) instead of
    // O(files) — at backfill scale one batch can emit ~10⁵ chunks, and
    // against object stores each footer read + rename is a round trip.
    // Hadoop FileSystem instances are thread-safe for these calls.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(written.size, RenamePoolSize)))
    def pooled[A, B](xs: Seq[A])(f: A => B): Seq[B] =
      xs.map { x =>
        pool.submit(new java.util.concurrent.Callable[B] {
          override def call(): B = f(x)
        })
      }.map { fut =>
        try fut.get()
        catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
      }
    try {
      val stats = pooled(written)(footerStats(conf, _))
      // every footer is read BEFORE the first rename: if the two runs
      // of `df` disagreed (a nondeterministic upstream), the chunking
      // was sized for rows the write never saw — fail with nothing
      // published rather than silently store a different row set
      val footerRows = stats.map(_._3).sum
      if (footerRows != censusRows)
        throw new IllegalStateException(
          s"PartitionStore.write: the chunk files hold $footerRows rows but " +
            s"the prefix census counted $censusRows — the input is not " +
            "deterministic across write's two runs; stage it first")
      pooled(written.zip(stats)) { case (file, (minId, maxId, rows)) =>
        val key = PartitionFilename.key(model, minId, maxId, rows)
        val dest = new Path(baseDir, key)
        fs.mkdirs(dest.getParent)
        if (!fs.rename(file, dest))
          throw new java.io.IOException(s"rename $file -> $dest failed")
        key
      }
    } finally pool.shutdownNow()
    } finally fs.delete(new Path(tmpDir), true)
  }

  /** min/max decision_id + row count from the parquet footer only. */
  def footerStats(conf: org.apache.hadoop.conf.Configuration,
      file: Path): (String, String, Long) = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
    try {
      val blocks = reader.getFooter.getBlocks
      var min: String = null
      var max: String = null
      var rows = 0L
      blocks.forEach { b =>
        rows += b.getRowCount
        // resolve decision_id by NAME: write() is public API and a
        // caller's column order must not silently corrupt the
        // name-encoded ranges the groom overlap invariant relies on
        val col = b.getColumns.asScala
          .find(_.getPath.toDotString == Schema.DecisionId)
          .getOrElse(throw new IllegalStateException(
            s"no ${Schema.DecisionId} column in footer of $file"))
        val stats = col.getStatistics
        def asString(v: Any): String = v match {
          case b: org.apache.parquet.io.api.Binary => b.toStringUsingUTF8
          case other => other.toString
        }
        val bMin = asString(stats.genericGetMin)
        val bMax = asString(stats.genericGetMax)
        if (min == null || bMin < min) min = bMin
        if (max == null || bMax > max) max = bMax
      }
      (min, max, rows)
    } finally reader.close()
  }

  /** Lexicographically sorted valid partition keys for a model —
    * chronological by max decision time (partition.py:461-463).
    */
  def listKeys(spark: SparkSession, baseDir: String, model: String): Seq[String] = {
    val root = new Path(s"$baseDir/rewarded_decisions/$model/parquet")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Seq.empty
    listFiles(fs, root)
      .map(p => relativize(baseDir, p))
      .filter(PartitionFilename.isValidKey)
      .sorted
  }

  /** Read partition files (by key) back as one DataFrame. */
  def read(spark: SparkSession, baseDir: String, keys: Seq[String]): DataFrame =
    spark.read.schema(Schema.rewardedDecision)
      .parquet(keys.map(k => s"$baseDir/$k"): _*)

  /** Point lookup of ONE decision's rewarded-decision row(s): the
    * filename-encoded [minTs, maxTs] ranges ARE a skip index, so only
    * the files whose range covers the id's KSUID timestamp are opened
    * (typically one once groom has removed overlaps), and the pushed
    * `decision_id = …` predicate then prunes row groups WITHIN the
    * file because chunks are written sorted by decision_id. At any
    * store size the cost is one listing + one file's relevant row
    * group — the serving-path lookup ("what did decision X see and
    * earn") without scanning the store.
    */
  def lookupDecision(spark: SparkSession, baseDir: String, model: String,
      decisionId: String): DataFrame = {
    val ts = PartitionFilename.timestampOf(decisionId) // rejects invalid ids
    // Groom's memoized parse cache (one entry per listed key, shared
    // with Loader/Groom): a point lookup over a 100k-file store must
    // not pay 100k fresh regex parses per call
    val keys = listKeys(spark, baseDir, model).filter { k =>
      Groom.parsedOption(k).exists(p => p.minTs <= ts && ts <= p.maxTs)
    }
    if (keys.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        Schema.rewardedDecision)
    else
      read(spark, baseDir, keys)
        .filter(col(Schema.DecisionId) === decisionId)
  }

  def delete(spark: SparkSession, baseDir: String, keys: Seq[String]): Unit = {
    val fs = new Path(baseDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    keys.foreach(k => fs.delete(new Path(baseDir, k), false))
  }

  private def relativize(baseDir: String, p: Path): String = {
    val base = new Path(baseDir).toUri.getPath.stripSuffix("/")
    p.toUri.getPath.stripPrefix(base).stripPrefix("/")
  }

  private def listFiles(fs: FileSystem, root: Path): Seq[Path] = {
    val out = Seq.newBuilder[Path]
    val it = fs.listFiles(root, true)
    while (it.hasNext) {
      val f = it.next()
      if (f.isFile) out += f.getPath
    }
    out.result()
  }
}
