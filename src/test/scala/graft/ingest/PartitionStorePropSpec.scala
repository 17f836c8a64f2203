package graft.ingest

import org.scalacheck.{Gen, Prop, Properties, Test}

import graft.SparkTestBase
import graft.core.Ksuid
import graft.schema.{PartitionFilename, RewardedDecisionRow}

/** Property check of the single write path: PartitionStore.write runs
  * its input twice (prefix census, then the chunked write), and what
  * it publishes — the name-encoded (minTs, maxTs, count) of every chunk
  * and the rows read back — must be a function of the rows alone, never
  * of how the input happens to be partitioned.
  */
object PartitionStorePropSpec extends Properties("PartitionStore") {

  // every case is two Spark writes: a handful of cases covers the
  // split resolutions without dominating the suite's wall time
  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(12)

  private lazy val spark = SparkTestBase.session
  private val base = 1660000000L // fixed, in the past
  private val MaxRows = 20

  private val genCase: Gen[(Seq[RewardedDecisionRow], Int)] = for {
    n <- Gen.choose(1, 300)
    // one second (an unsplittable overflow) up to ~3 months (month-level
    // prefixes): every resolution the prefix search can land on
    spread <- Gen.oneOf(1L, 60L, 3600L, 86400L, 90L * 86400)
    offsets <- Gen.listOfN(n, Gen.choose(0L, spread - 1))
    rewards <- Gen.listOfN(n, Gen.option(Gen.choose(0, 5).map(_.toDouble)))
    parts <- Gen.choose(1, 8)
  } yield {
    val rows = offsets.zip(rewards).zipWithIndex.map { case ((off, reward), i) =>
      RewardedDecisionRow(Ksuid.deterministic(base + off, i.toLong),
        Some(s"""{"v":$i}"""), Some("{}"), Some(1.0), None, None, reward, "m")
    }
    (rows, parts)
  }

  /** Write `rows` split over `parts` input partitions; returns the
    * sorted filename stats and the sorted read-back rows.
    */
  private def writeWith(rows: Seq[RewardedDecisionRow],
      parts: Int): (Seq[(String, String, Long)], Seq[String]) = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("pstore_prop")
    try {
      val keys = PartitionStore.write(rows.toDF().repartition(parts), dir.toString, "m",
        maxRowsPerFile = MaxRows)
      val names = keys.map { k =>
        val p = PartitionFilename.parse(k.split('/').last).get
        (p.minTs, p.maxTs, p.rowCount)
      }.sorted
      val back = PartitionStore.read(spark, dir.toString, keys)
        .collect().map(_.toSeq.mkString("|")).toSeq.sorted
      (names, back)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  property("chunk names and stored rows do not depend on the input partitioning") =
    Prop.forAll(genCase) { case (rows, parts) =>
      val (names1, back1) = writeWith(rows, 1)
      val (namesK, backK) = writeWith(rows, parts)
      (Prop(names1 == namesK) :| s"chunk names differ at $parts partitions") &&
        (Prop(back1 == backK) :| s"stored rows differ at $parts partitions") &&
        (Prop(names1.map(_._3).sum == rows.size) :| "chunk counts miss rows")
    }
}
