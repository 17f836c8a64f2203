package graft.ingest

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.schema.{PartitionFilename, Schema}

/** Groom — background compaction of the partition store until
  * quiescent (reference: src/ingest/groom.py). The grouping runs on
  * the FILE LISTING only (names encode [minTs, maxTs] + row count),
  * never the data:
  *
  *  1. fold lexicographically-listed keys into groups of adjacent
  *     keys while Σ rowcount ≤ 10k and ≤ 500 keys;
  *  2. merge single ADJACENT PAIRS of groups whose timestamp ranges
  *     overlap (pairs only, bounding a group at 1000 keys / 20k rows);
  *  3. drop singleton groups (nothing to do);
  *  4. cap total key bytes (the reference's Step-Function payload cap
  *     — kept for output-size parity);
  *
  * then each group is load → merge → split-write → delete-inputs, and
  * the loop repeats (≤ 30 iterations) until no groups remain, at which
  * point the listing must be overlap-free. Rewards arrive unboundedly
  * late by design, so this idempotent re-consolidation — not a
  * watermarked streaming state — is the correct streaming model
  * (SURVEY §2.9).
  */
object Groom {

  val MaxGroomIterations = 30

  /** Concurrent compaction fan-out per iteration. Groups are disjoint
    * key ranges, so they can compact in parallel; the reference fans
    * out up to 64 workers (one Lambda per group). In a single shared
    * SparkSession the jobs multiplex the same executor pool, so the
    * default matches the reference's 64 rather than serializing on a
    * small driver-side pool.
    */
  val MaxConcurrentGroups = 64
  val MaxKeyBytes = 204800

  // memoized: the grouping/overlap pipeline reads rowCount/minTs/maxTs
  // of the same key several times per groom iteration — on a 100k-file
  // listing that is ~half a million driver-side regex parses per
  // iteration without the cache. Bounded: one entry per listed key.
  private val parseCache =
    new java.util.concurrent.ConcurrentHashMap[String, PartitionFilename.Parsed]()

  private def parsed(key: String): PartitionFilename.Parsed = {
    // groomed stores mint fresh filenames every pass, so in a
    // long-lived driver the cache would creep — reset it instead of
    // letting it outgrow the listings it serves
    if (parseCache.size() > 1000000) parseCache.clear()
    parseCache.computeIfAbsent(key, k =>
      PartitionFilename.parse(k.split('/').last)
        .getOrElse(throw new IllegalArgumentException(s"invalid partition key $k")))
  }

  /** Parse-or-None through the same memo cache (for callers that must
    * SKIP foreign files in the listing rather than fail on them).
    */
  def parsedOption(key: String): Option[PartitionFilename.Parsed] =
    try Some(parsed(key)) catch { case _: IllegalArgumentException => None }

  def rowCount(key: String): Long = parsed(key).rowCount
  def minTs(key: String): String = parsed(key).minTs
  def maxTs(key: String): String = parsed(key).maxTs

  /** Adjacent keys while Σ rows ≤ maxRowCount and < maxGroupSize keys. */
  def groupSmallAdjacentPartitions(keys: Seq[String],
      maxRowCount: Long = PartitionStore.MaxRowsPerFile,
      maxGroupSize: Int = 500): Seq[Seq[String]] = {
    val out = Seq.newBuilder[Seq[String]]
    var group = Vector.empty[String]
    var groupRows = 0L
    keys.foreach { key =>
      val rows = rowCount(key)
      if (groupRows + rows <= maxRowCount && group.size < maxGroupSize) {
        group :+= key
        groupRows += rows
      } else {
        if (group.nonEmpty) out += group
        group = Vector(key)
        groupRows = rows
      }
    }
    if (group.nonEmpty) out += group
    out.result()
  }

  /** Merge single pairs of adjacent groups with overlapping
    * [minTs, maxTs] ranges — pairs only, never unbounded runs.
    */
  def mergeOverlappingAdjacentGroupPairs(groups: Seq[Seq[String]]): Seq[Seq[String]] = {
    val out = Seq.newBuilder[Seq[String]]
    var candidate: Option[Seq[String]] = None
    groups.foreach { group =>
      require(group.nonEmpty)
      candidate match {
        case Some(cand) =>
          if (cand.map(maxTs).max >= group.map(minTs).min) {
            out += (cand ++ group)
            candidate = None // pairs only
          } else {
            out += cand
            candidate = Some(group)
          }
        case None => candidate = Some(group)
      }
    }
    candidate.foreach(out += _)
    out.result()
  }

  /** Cap cumulative key bytes; a trailing partial group survives only
    * if it still has ≥ 2 keys (groom.py:143-156).
    */
  def capKeyBytes(groups: Seq[Seq[String]], maxBytes: Long = MaxKeyBytes): Seq[Seq[String]] = {
    val out = Seq.newBuilder[Seq[String]]
    var bytes = 0L
    var done = false
    groups.foreach { group =>
      if (!done) {
        var capped = Vector.empty[String]
        group.foreach { key =>
          if (!done) {
            bytes += key.getBytes("UTF-8").length
            if (bytes > maxBytes) {
              if (capped.length > 1) out += capped
              done = true
            } else capped :+= key
          }
        }
        if (!done) out += capped
      }
    }
    out.result()
  }

  /** The full grouping pipeline; empty result = store is quiescent. */
  def groupPartitionsToGroom(keys: Seq[String]): Seq[Seq[String]] =
    capKeyBytes(
      mergeOverlappingAdjacentGroupPairs(groupSmallAdjacentPartitions(keys))
        .filter(_.length > 1))

  /** No two files' [min, max] ranges may overlap; ranges sorted by max,
    * next min must be STRICTLY greater than current max (groom.py:71-84).
    */
  def findOverlaps(keys: Seq[String]): Seq[(String, String)] = {
    val infos = keys.map(k => (minTs(k), maxTs(k), k)).sortBy(_._2)
    infos.sliding(2).collect {
      case Seq((_, prevMax, prevKey), (curMin, _, curKey)) if curMin <= prevMax =>
        (prevKey, curKey)
    }.toSeq
  }

  def assertNoOverlappingKeys(keys: Seq[String]): Unit = {
    val overlaps = findOverlaps(keys)
    require(overlaps.isEmpty, s"overlapping keys detected: ${overlaps.take(3)}")
  }

  /** Compact one group: load its files (listing order = precedence
    * order for duplicate reward keys), merge, split-write, delete
    * inputs (reference groom_handler → RewardedDecisionPartition.process).
    */
  // concurrency probe: high-water mark of simultaneously running
  // compactGroup calls since the last reset — lets a spec assert the
  // fan-out actually overlaps without racing on wall-clock timing
  private val activeCompactions = new java.util.concurrent.atomic.AtomicInteger(0)
  private val peakCompactions = new java.util.concurrent.atomic.AtomicInteger(0)
  def resetConcurrencyProbe(): Unit = peakCompactions.set(0)
  def peakConcurrentCompactions: Int = peakCompactions.get()
  // test seam: runs on entry to every compactGroup (e.g. a latch that
  // only opens once all groups of an iteration have started)
  private[ingest] var compactionStartHook: () => Unit = () => ()

  def compactGroup(spark: SparkSession, baseDir: String, model: String,
      keys: Seq[String], maxRowsPerFile: Int = PartitionStore.MaxRowsPerFile): Seq[String] = {
    require(keys.length <= 1000)
    val active = activeCompactions.incrementAndGet()
    peakCompactions.getAndAccumulate(active, math.max)
    try {
      compactionStartHook()
      compactGroupImpl(spark, baseDir, model, keys, maxRowsPerFile)
    } finally activeCompactions.decrementAndGet()
  }

  private def compactGroupImpl(spark: SparkSession, baseDir: String, model: String,
      keys: Seq[String], maxRowsPerFile: Int): Seq[String] = {
    // filenames are uuid-unique, so the last path segment keys the
    // order. Column program, not a UDF: a map literal over the group's
    // (bounded, byte-capped) key list rides the plan, and an unknown
    // file must FAIL loudly via raise_error, not silently take
    // precedence 0 in duplicate-reward resolution (parsed() throws
    // likewise).
    val orderMap = map(keys.zipWithIndex.flatMap { case (k, i) =>
      Seq(lit(k.split('/').last), lit(i))
    }: _*)
    val pathOrder = coalesce(
      element_at(orderMap, substring_index(input_file_name(), "/", -1)),
      raise_error(concat(lit("file "), input_file_name(),
        lit(" not in the group's key list"))).cast("int"))
    val df = PartitionStore.read(spark, baseDir, keys)
      .withColumn(Merge.SrcOrder, pathOrder)
      .withColumn(Schema.Model, lit(model))
    // No staging for the (bounded, ≤ a pair of groups × maxRowsPerFile)
    // group merge: the upstream is a deterministic scan of the group's
    // own few parquet files + one tiny merge agg, cheap to run once
    // per write() run. Memory staging serializes the concurrent
    // groups on the session-global CacheManager write lock (measured
    // r13: ~8.4 s/group at 12 concurrent); disk staging pays a
    // write+read round-trip per group that dominated each group's wall
    // time (measured r14: store.stage ~1.7 s of a ~1.9 s group write).
    // Production grooming runs MORE groups at once, not fewer — both
    // convoys worsen with scale while the double-scan stays per-group
    // constant.
    val written = PartitionStore.write(Merge.merge(df), baseDir, model, maxRowsPerFile)
    PartitionStore.delete(spark, baseDir, keys)
    written
  }

  /** Groom loop: iterate until no groups remain or the cap is hit;
    * returns iterations used. Groups within an iteration are
    * independent (disjoint key sets) and submitted as concurrent
    * Spark jobs — the reference fans out ≤ 64 Lambdas.
    */
  def groom(spark: SparkSession, baseDir: String, model: String,
      maxIterations: Int = MaxGroomIterations,
      maxRowsPerFile: Int = PartitionStore.MaxRowsPerFile,
      maxConcurrentGroups: Int = MaxConcurrentGroups): Int = {
    var iteration = 0
    var previousKeys: Seq[String] = null
    while (iteration < maxIterations) {
      val keys = PartitionStore.listKeys(spark, baseDir, model)
      val groups = groupPartitionsToGroom(keys)
      if (groups.isEmpty) {
        assertNoOverlappingKeys(keys)
        return iteration
      }
      // progress guard: identical chunk structure (ranges+counts) after
      // a full pass means further passes cannot converge — stop instead
      // of burning the remaining iterations rewriting the same rows.
      // This exit still ASSERTS overlap-freedom: returning normally
      // with overlapping keys would let a caller trust a listing that
      // still splits decisions across files.
      val shape = keys.map(_.split('/').last.split('-').take(3).mkString("-")).sorted
      if (previousKeys != null && shape == previousKeys) {
        assertNoOverlappingKeys(keys)
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"groom: chunk shape stable after $iteration iteration(s) without " +
            "reaching the empty-group state (e.g. an unsplittable same-second " +
            "overflow) — listing is overlap-free, stopping early")
        return iteration
      }
      previousKeys = shape
      iteration += 1
      // Data-derived shuffle width for the group merges: a group is
      // REFERENCE-BOUNDED (≤ 1000 keys and ≤ ~2 groups × 10k rows —
      // the grouping caps above), so each compaction's merge/census/
      // chunk exchanges move at most ~20k rows no matter the corpus
      // size — a session-wide width (e.g. 32) schedules 32 near-empty
      // tasks per stage × 3 jobs × every concurrent group, and the
      // scheduler convoy tripled each group's wall time (measured:
      // group write 1.85 s concurrent vs 0.6 s alone; groom step
      // 3.7 → see OPTIMIZATION_r14.md). The width is set once around
      // the fan-out (session conf is global, the group threads
      // inherit it — ConfScope single-thread contract holds: groom
      // owns the session while it runs). The scope encloses the pool's
      // drain, so a fail-fast exit restores the caller's width only
      // after every sibling compaction has stopped.
      graft.core.ConfScope.withShufflePartitions(spark,
        math.max(2, 2 * maxRowsPerFile / PartitionStore.MaxRowsPerFile)) {
        val pool = java.util.concurrent.Executors.newFixedThreadPool(
          math.max(1, math.min(groups.size, maxConcurrentGroups)))
        try {
          implicit val ec: scala.concurrent.ExecutionContext =
            scala.concurrent.ExecutionContext.fromExecutor(pool)
          val futures = groups.map(g => scala.concurrent.Future {
            compactGroup(spark, baseDir, model, g, maxRowsPerFile)
          })
          scala.concurrent.Await.result(
            scala.concurrent.Future.sequence(futures), scala.concurrent.duration.Duration.Inf)
        } finally {
          pool.shutdown()
          // a fail-fast Await may leave sibling compactions mid-flight;
          // returning while they still write/delete store files would
          // race the caller's next listKeys/groom pass — and if even the
          // drain WINDOW expires, the caller must not proceed as if the
          // store were quiet
          if (!pool.awaitTermination(1, java.util.concurrent.TimeUnit.HOURS)) {
            pool.shutdownNow()
            throw new IllegalStateException(
              "groom: sibling compactions still running after the 1h drain " +
                "window — store may be mid-mutation; do not trust the listing")
          }
        }
      }
    }
    // iteration cap reached: the listing may still contain groomable
    // groups, but it must at least be overlap-free to hand back
    assertNoOverlappingKeys(PartitionStore.listKeys(spark, baseDir, model))
    iteration
  }
}
