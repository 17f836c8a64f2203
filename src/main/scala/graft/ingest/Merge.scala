package graft.ingest

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.CanonicalJson
import graft.schema.Schema._

import scala.jdk.CollectionConverters._

/** G1 — the rewarded-decision merge, the engine's core aggregation
  * (reference: src/ingest/partition.py:155-338). Decisions and
  * partial reward rows share one schema; merging groups them by
  * `decision_id` and per group:
  *
  *   - item/context/count/sample: first non-null value (only the
  *     decision row carries them, so first-non-null is deterministic;
  *     a duplicate decision row does NOT overwrite — reference test
  *     semantics);
  *   - rewards: union of all JSON reward maps (keys are unique reward
  *     message_ids; on conflict the later value wins), canonical
  *     sorted-keys serialization; no rewards → "{}";
  *   - reward: Σ of the merged map's values; no rewards → 0.0.
  *
  * Spark shape: ONE hash-aggregate shuffle keyed on (model,
  * decision_id) with map-side partial aggregation — at 100 TB this is
  * the minimal-communication plan (the reference needs a global sort
  * for the same result; we don't, because the filename index is
  * written separately by PartitionStore).
  */
object Merge {

  /** Merge a list of JSON reward-map strings into (canonical map, sum).
    * Values keep their original JSON number form (an integral reward
    * tracked as `100` stays `100`, not `100.0`), as orjson does.
    */
  def mergeRewardMaps(maps: Seq[String]): (String, Double) = {
    // node factory, not a fresh ObjectMapper: this runs once per
    // (model, decision_id) group — the engine's hottest aggregation —
    // and mapper construction is heavyweight next to the map union
    val acc = com.fasterxml.jackson.databind.node.JsonNodeFactory.instance.objectNode()
    maps.foreach { m =>
      if (m != null && m != EmptyRewardsJson) {
        CanonicalJson.tryParse(m).foreach { node =>
          node.properties().asScala.foreach(e => acc.set[com.fasterxml.jackson.databind.JsonNode](e.getKey, e.getValue))
        }
      }
    }
    if (acc.isEmpty) (EmptyRewardsJson, NoRewardsValue)
    else {
      val sum = acc.elements().asScala.map(_.doubleValue()).sum
      (CanonicalJson.dumps(acc), sum) // dumps sorts keys
    }
  }

  /** Source-order column: rows from already-merged partitions carry a
    * lower order than the fresh batch, so on a duplicate reward key
    * the LATER source wins — the reference's dict.update() order
    * (partitions load first, fresh batch appended last;
    * partition.py:60-74, 203-205).
    */
  val SrcOrder = "_src_order"

  /** `mergeRewardMaps` as a mergeable aggregate (see
    * [[graft.functions.RewardMergeAgg]]): folds reward rows
    * incrementally with one buffer entry per DISTINCT reward key
    * instead of collect_list-ing every row's map per group, so a hot
    * decision_id with ~10⁶ rewards no longer builds one unbounded
    * aggregation buffer and map-side partial aggregation genuinely
    * shrinks the shuffle. Bit-identical to the old sorted fold
    * (RewardMergeAggSpec proves it property-wise).
    */
  private def mergeRewardsAgg(srcOrder: Column, seq: Column, rewards: Column): Column =
    org.apache.spark.sql.graftshim.GraftColumn.of(
      graft.functions.RewardMergeAgg(
        org.apache.spark.sql.graftshim.GraftColumn.expr(srcOrder),
        org.apache.spark.sql.graftshim.GraftColumn.expr(seq),
        org.apache.spark.sql.graftshim.GraftColumn.expr(rewards)
      ).toAggregateExpression())

  /** Earliest row's non-null value under (SrcOrder, _seq): min over a
    * struct orders lexicographically, and `when` nulls out rows where
    * the column is absent so min skips them — a deterministic
    * replacement for first(ignoreNulls), whose answer depends on
    * post-shuffle row order when a decision_id is re-tracked with a
    * different payload.
    */
  private def firstNonNullByOrder(c: String): Column =
    min(when(col(c).isNotNull,
      struct(col(SrcOrder), col("_seq"), col(c).as("v")))).getField("v").as(c)

  /** first-non-null per non-reward column + reward-map union. */
  def merge(df: DataFrame): DataFrame = {
    val ordered =
      (if (df.columns.contains(SrcOrder)) df else df.withColumn(SrcOrder, lit(0)))
        // secondary order within a source tier: a content hash of the
        // payload rather than monotonically_increasing_id, which is
        // partition-layout-dependent (a task retry or different file
        // split could flip which duplicate reward wins). The hash is
        // retry-stable: equal payloads tie harmlessly, different
        // payloads resolve in an arbitrary-but-deterministic order.
        .withColumn("_seq", xxhash64(
          col(Item), col(Context), col(Count), col(Sample), col(Rewards)))
    val grouped = ordered
      .groupBy(col(Model), col(DecisionId))
      .agg(
        firstNonNullByOrder(Item),
        firstNonNullByOrder(Context),
        firstNonNullByOrder(Count),
        firstNonNullByOrder(Sample),
        mergeRewardsAgg(col(SrcOrder), col("_seq"), col(Rewards)).as("_rw"))
    grouped.select(
      col(DecisionId), col(Item), col(Context), col(Count), col(Sample),
      col("_rw.rewards").as(Rewards), col("_rw.reward").as(Reward), col(Model))
  }

  /** Write an already-merged frame into the store, one partition set
    * per model present — the tail every ingest entry point (batch job,
    * streaming micro-batch) shares, so failure handling and the
    * model-scoping rule live in exactly one place. Returns
    * model → written keys.
    *
    * Scale shape: the merged frame (typically gzip-JSONL parse + merge
    * shuffle — expensive, not re-runnable for free) is materialized in
    * ONE pass, `partitionBy(model)` into a transient staging tree;
    * each model's store write then reads only its own staged subtree
    * (a pruned columnar scan). Upstream cost is O(1) in the number of
    * models — a thousand-model firehose batch costs one pass + one
    * bounded listing, not a thousand upstream re-scans.
    */
  def writePerModel(merged: org.apache.spark.sql.DataFrame,
      storeDir: String): Map[String, Seq[String]] = {
    val spark = merged.sparkSession
    val stageDir = s"$storeDir/_permodel_stage_${java.util.UUID.randomUUID()}"
    val stagePath = new org.apache.hadoop.fs.Path(stageDir)
    val fs = stagePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // LZ4: the stage is transient, codec speed beats ratio
    merged.write.option("compression", "lz4")
      .partitionBy(Model).parquet(stageDir)
    try {
      // model names are schema-validated to a filesystem-safe charset
      // (Schema model regexp), so directory name == model name
      val models = fs.listStatus(stagePath)
        .filter(_.isDirectory)
        .map(_.getPath.getName)
        .collect { case n if n.startsWith(s"$Model=") => n.drop(Model.length + 1) }
        .sorted
      // loud guard: a null/unvalidated model value reaches partitionBy
      // as __HIVE_DEFAULT_PARTITION__ (or percent-escaped) and would
      // otherwise materialize a bogus store subtree whose rows no
      // legitimate listing ever finds
      models.foreach(m => require(isValidModelName(m),
        s"writePerModel: staged partition '$m' is not a valid model name " +
          "(null or unvalidated model column in the merged frame?)"))
      models.map { m =>
        // the staged slice lost the model column to the directory key;
        // PartitionStore.write drops it anyway, so no need to restore.
        // The slice is cheap re-runnable columnar input (a pruned scan
        // of the staging tree we just wrote): write()'s two runs each
        // scan the pruned subtree
        m -> graft.ingest.PartitionStore.write(
          spark.read.parquet(s"$stageDir/$Model=$m"), storeDir, m)
      }.toMap
    } finally { fs.delete(stagePath, true); () }
  }

  /** Convenience: parse firehose files and merge in one go —
    * the reference's ingest path (ingest_firehose.py:18-31).
    */
  def ingest(spark: org.apache.spark.sql.SparkSession, paths: Seq[String],
      nowEpochSeconds: Long = System.currentTimeMillis() / 1000): DataFrame = {
    import spark.implicits._
    merge(FirehoseRecords.records(spark, paths, nowEpochSeconds).toDF())
  }
}
