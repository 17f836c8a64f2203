package graft.ingest

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.core.Ksuid
import graft.schema.{PartitionFilename, RewardedDecisionRow, Schema}

import scala.jdk.CollectionConverters._

class PartitionStoreSpec extends AnyFunSuite with SparkTestBase {

  private val base = 1660000000L // fixed, in the past

  private def syntheticRows(n: Int, spreadSeconds: Long): Seq[RewardedDecisionRow] =
    (0 until n).map { i =>
      val ts = base + (i * spreadSeconds / n)
      RewardedDecisionRow(
        decision_id = Ksuid.deterministic(ts, i.toLong),
        item = Some(s"""{"v":$i}"""), context = Some("{}"),
        count = Some(5.0), sample = None,
        rewards = Some("{}"), reward = Some(0.0), model = "m")
    }

  test("write → name-encoded chunks; listing is chronological; round-trip intact") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("pstore").toString
    // 2000 rows over ~3 months with 100-row files forces prefix splits
    val rows = syntheticRows(2000, 90L * 24 * 3600)
    val keys = PartitionStore.write(rows.toDF(), dir, "m", maxRowsPerFile = 100)

    assert(keys.nonEmpty)
    keys.foreach(k => assert(PartitionFilename.isValidKey(k), k))

    val listed = PartitionStore.listKeys(spark, dir, "m")
    assert(listed.sorted == listed)
    assert(listed.toSet == keys.toSet)

    // name-encoded [minTs, maxTs] and row counts are truthful
    var totalRows = 0L
    listed.foreach { key =>
      val parsed = PartitionFilename.parse(key.split('/').last).get
      val df = PartitionStore.read(spark, dir, Seq(key))
      val Array(minId, maxId, n) = df
        .agg(min(Schema.DecisionId), max(Schema.DecisionId), count(lit(1)))
        .collect().head.toSeq.toArray
      assert(parsed.rowCount == n.asInstanceOf[Long])
      assert(parsed.minTs == PartitionFilename.timestampOf(minId.asInstanceOf[String]))
      assert(parsed.maxTs == PartitionFilename.timestampOf(maxId.asInstanceOf[String]))
      assert(parsed.rowCount <= 100)
      totalRows += parsed.rowCount
    }
    assert(totalRows == 2000)

    // full read-back preserves every row
    val back = PartitionStore.read(spark, dir, listed)
    assert(back.count() == 2000)
    assert(back.select(Schema.DecisionId).distinct().count() == 2000)

    // non-overlapping ranges after a single consolidated write
    val ranges = listed.map(k => PartitionFilename.parse(k.split('/').last).get)
      .map(p => (p.minTs, p.maxTs)).sortBy(_._2)
    ranges.sliding(2).foreach {
      case Seq((_, prevMax), (curMin, _)) => assert(prevMax <= curMin)
      case _ =>
    }

    // delete removes the files
    PartitionStore.delete(spark, dir, listed)
    assert(PartitionStore.listKeys(spark, dir, "m").isEmpty)
  }

  test("small batch stays one file named by its bounds") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("pstore2").toString
    val rows = syntheticRows(50, 10)
    val keys = PartitionStore.write(rows.toDF(), dir, "m")
    assert(keys.length == 1)
    val parsed = PartitionFilename.parse(keys.head.split('/').last).get
    assert(parsed.rowCount == 50)
  }

  test("backfill-scale write: >1k chunk files are footer-named and renamed in parallel") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("pstore_bulk").toString
    // 1200 rows, one per distinct second, at maxRowsPerFile=1 → the
    // prefix search lands on full-second resolution and the write
    // emits 1200 one-row chunks: the footer-stats + rename tail (now
    // pooled) has to process every one of them
    val n = 1200
    val rows = (0 until n).map { i =>
      RewardedDecisionRow(
        decision_id = Ksuid.deterministic(base + i, i.toLong),
        item = Some(s"""{"v":$i}"""), context = None,
        count = None, sample = None, rewards = None, reward = Some(0.0),
        model = "m")
    }
    val t0 = System.nanoTime()
    val keys = PartitionStore.write(rows.toDF(), dir, "m", maxRowsPerFile = 1)
    val tailSecs = (System.nanoTime() - t0) / 1e9
    assert(keys.length == n, s"expected $n chunk files, got ${keys.length}")
    keys.foreach(k => assert(PartitionFilename.isValidKey(k), k))
    assert(keys.distinct.length == n)
    // listing agrees and the store round-trips every row
    val listed = PartitionStore.listKeys(spark, dir, "m")
    assert(listed.toSet == keys.toSet)
    assert(PartitionStore.read(spark, dir, listed).count() == n)
    // generous wall-clock guard: the serial tail at ~3 footer+rename
    // round trips per file would blow far past this on a slow day;
    // the real assertion is "does not scale O(files) on the driver"
    assert(tailSecs < 120, s"bulk write took ${tailSecs}s")
  }

  test("writePerModel: 50 models, ONE pass over the merged frame, per-model stores intact") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("pstore_models").toString
    val nModels = 50
    val perModel = 20
    val rows = (0 until nModels).flatMap { mi =>
      (0 until perModel).map { i =>
        RewardedDecisionRow(
          decision_id = Ksuid.deterministic(base + mi * 1000 + i, (mi * 100 + i).toLong),
          item = Some(s"""{"m":$mi,"v":$i}"""), context = Some("{}"),
          count = Some(2.0), sample = None,
          rewards = Some("{}"), reward = Some(0.0), model = f"model-$mi%02d")
      }
    }
    // count how many times the merged frame's rows are EVALUATED: the
    // single-pass contract means upstream executes once, not once per
    // model. (Accumulators over-count on task retries; local mode has
    // none, and the 2× slack keeps the assertion about O(1) vs
    // O(models) passes, not exact evaluation counts.)
    val evals = spark.sparkContext.longAccumulator("merged_evals")
    val counted = org.apache.spark.sql.functions.udf { (s: String) =>
      evals.add(1L); s
    }
    val merged = rows.toDF().withColumn(Schema.Item, counted(col(Schema.Item)))
    val written = Merge.writePerModel(merged, dir)

    assert(written.keySet == (0 until nModels).map(mi => f"model-$mi%02d").toSet)
    assert(evals.value <= 2L * rows.size,
      s"merged frame evaluated ${evals.value} times for ${rows.size} rows — not one pass")
    // every model's store round-trips its own rows, nobody else's
    Seq(0, 17, 49).foreach { mi =>
      val m = f"model-$mi%02d"
      val back = PartitionStore.read(spark, dir, PartitionStore.listKeys(spark, dir, m))
      assert(back.count() == perModel, m)
      assert(back.select(Schema.Item).as[String].collect()
        .forall(_.contains(s""""m":$mi,""")), m)
    }
    // the transient per-model staging tree is gone
    val leftovers = new java.io.File(dir).list().toSeq.filter(_.startsWith("_permodel_stage_"))
    assert(leftovers.isEmpty, leftovers.toString)
  }

  test("input that changes between write's two runs throws and publishes nothing") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("pstore_nondet").toString
    // an existing chunk the failed write must leave untouched
    PartitionStore.write(syntheticRows(10, 10).toDF(), dir, "m")
    def files() = {
      val root = java.nio.file.Paths.get(dir)
      val walk = java.nio.file.Files.walk(root)
      try walk.iterator().asScala.map(root.relativize(_).toString).toSet
      finally walk.close()
    }
    val keysBefore = PartitionStore.listKeys(spark, dir, "m")
    val filesBefore = files()

    // the filter keeps every even-numbered call of a JVM-wide counter:
    // over 101 rows the census run (calls 1..101) keeps 50 and the
    // write run (calls 102..202) keeps 51, whatever the task order
    val src = java.nio.file.Files.createTempDirectory("pstore_nondet_src").toString
    syntheticRows(101, 1000).toDF().write.mode("overwrite").parquet(src)
    PartitionStoreSpec.calls.set(0)
    val keepEven = udf { (_: String) =>
      PartitionStoreSpec.calls.incrementAndGet() % 2 == 0
    }.asNondeterministic()
    val drifting = spark.read.parquet(src).filter(keepEven(col(Schema.DecisionId)))

    val e = intercept[IllegalStateException](PartitionStore.write(drifting, dir, "m"))
    assert(e.getMessage.contains("hold 51 rows") && e.getMessage.contains("counted 50"),
      e.getMessage)
    assert(PartitionStore.listKeys(spark, dir, "m") == keysBefore)
    assert(files() == filesBefore)
  }

  test("point lookup opens only the covering file(s), finds the row, misses cleanly") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("pstore3").toString
    val rows = syntheticRows(2000, 90L * 24 * 3600)
    PartitionStore.write(rows.toDF(), dir, "m", maxRowsPerFile = 100)
    val nFiles = PartitionStore.listKeys(spark, dir, "m").size
    assert(nFiles > 5, s"fixture must split into many files, got $nFiles")

    val target = rows(777)
    val hit = PartitionStore.lookupDecision(spark, dir, "m", target.decision_id)
    // file-level skip: the plan's input files are the covering subset,
    // not the store
    val opened = hit.inputFiles.length
    assert(opened >= 1 && opened < nFiles / 2,
      s"lookup opened $opened of $nFiles files")
    val got = hit.collect()
    assert(got.map(_.getAs[String]("decision_id")).toSeq == Seq(target.decision_id))
    assert(got.head.getAs[String]("item") == target.item.get)

    // a valid ksuid that was never written: empty result (whether or
    // not some file's time range covers its second)
    val absent = graft.core.Ksuid.deterministic(base + 1, 999999L)
    assert(PartitionStore.lookupDecision(spark, dir, "m", absent).count() == 0)
    // out-of-range timestamp: no candidate files at all
    val far = graft.core.Ksuid.deterministic(base + 10L * 365 * 24 * 3600, 1L)
    val miss = PartitionStore.lookupDecision(spark, dir, "m", far)
    assert(miss.count() == 0)
    intercept[IllegalArgumentException](
      PartitionStore.lookupDecision(spark, dir, "m", "not-a-ksuid"))
  }
}

object PartitionStoreSpec {
  /** Call counter for the nondeterministic filter (local mode: one JVM). */
  val calls = new java.util.concurrent.atomic.AtomicLong(0)
}
