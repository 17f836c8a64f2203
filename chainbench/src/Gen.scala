package chainbench

import java.io.{BufferedWriter, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.SplittableRandom
import java.util.zip.GZIPOutputStream

import graft.core.Ksuid

/** Seeded firehose generator: writes one `batch-NNN.jsonl.gz` per
  * batch in the reference's record format (decision and reward lines)
  * and returns what the groomed store must contain afterwards.
  *
  * Everything is a pure function of (shape, seed): a SplittableRandom
  * drives every draw, KSUID timestamps start at a fixed past instant so
  * `Ksuid.isValid` accepts them however late the run happens, and
  * GZIPOutputStream writes a header without a timestamp, so one seed
  * gives byte-identical files.
  */
object Gen {

  final case class Shape(
      decisions: Int,
      batches: Int,
      rewardShare: Double,
      /** A reward lands 0..maxRewardLag batches after its decision. */
      maxRewardLag: Int,
      contextWidth: Int,
      invalidPerBucket: Int,
      batchSpanSeconds: Long)

  /** Census of the generated data. `invalid` is keyed by the parser's
    * own bucket names (FirehoseRecords.parseLine).
    */
  final case class Expected(decisions: Long, rewarded: Long, rewardCents: Long,
      invalid: Map[String, Long]) {
    def +(o: Expected): Expected = Expected(decisions + o.decisions,
      rewarded + o.rewarded, rewardCents + o.rewardCents,
      (invalid.keySet ++ o.invalid.keySet).map(k =>
        k -> (invalid.getOrElse(k, 0L) + o.invalid.getOrElse(k, 0L))).toMap)
  }

  /** A scoring probe and its planted expected stored reward. */
  final case class Probe(item: String, context: String, expected: Double)

  final case class Output(files: Seq[String], perBatch: Seq[Expected], probes: Seq[Probe]) {
    def expected: Expected = perBatch.reduce(_ + _)
  }

  val Model = "bench"
  /** 2024-01-01T00:00:00Z: every id lies in the past. */
  val BaseEpoch = 1704067200L
  val Items = 12
  val Probes = 2000
  val InvalidBuckets = Seq(
    "invalid json", "invalid message_id", "invalid count of 1 with sample", "invalid reward")

  private def itemBase(i: Int): Double = (i % 4) / 3.0
  private val itemJson: Array[String] = Array.tabulate(Items)(i =>
    f"""{"id":"item$i%02d","price":${1 + (i * 7) % 10}}""")
  private val fieldKeys: Array[String] = Array.tabulate(100)(i => f""""f$i%02d":""")

  /** Planted mean of one reward: item base value plus two context
    * effects, one numeric (`f00`) and one categorical (`f01`).
    */
  private def meanReward(item: Int, num0: Double, cat1: Int): Double =
    0.2 + 0.6 * itemBase(item) + 0.4 * num0 + (if (cat1 == 1) 0.3 else 0.0)

  /** Context with `width` fields `f00..`: numeric, categorical and
    * integer fields in turn. Returns (json, f00, f01 category).
    */
  private def context(rnd: SplittableRandom, width: Int): (String, Double, Int) = {
    val sb = new StringBuilder("{")
    var num0 = 0.0
    var cat1 = 0
    var i = 0
    while (i < width) {
      if (i > 0) sb.append(',')
      sb.append(fieldKeys(i))
      i % 3 match {
        case 0 =>
          val v = rnd.nextInt(1000) / 1000.0
          if (i == 0) num0 = v
          sb.append(v)
        case 1 =>
          val c = rnd.nextInt(5)
          if (i == 1) cat1 = c
          sb.append("\"v").append(c).append('"')
        case _ => sb.append(rnd.nextInt(100))
      }
      i += 1
    }
    (sb.append('}').toString, num0, cat1)
  }

  private def ksuid(rnd: SplittableRandom, epochSeconds: Long): String = {
    val payload = new Array[Byte](Ksuid.PayloadBytes)
    rnd.nextBytes(payload)
    Ksuid.encode(epochSeconds, payload)
  }

  /** Writes the batches under `dir`; batch b's decisions carry KSUID
    * times in [b, b+1) × batchSpanSeconds after BaseEpoch. A batch file
    * is complete once its own decisions are drawn (rewards only land
    * later), so it is written then: memory holds one batch's pending
    * rewards per future batch, whatever the total size.
    */
  def write(dir: Path, shape: Shape, seed: Long): Output = {
    val rnd = new SplittableRandom(seed)
    Files.createDirectories(dir)
    // reward lines waiting for their landing batch
    val pending = Array.fill(shape.batches)(Vector.newBuilder[String])
    val invalid = InvalidBuckets.map(_ -> shape.invalidPerBucket.toLong).toMap

    def rewardLine(batch: Int, decisionId: String, decisionTs: Long, value: Long): Unit = {
      val lag = rnd.nextInt(shape.maxRewardLag + 1)
      val landing = math.min(shape.batches - 1, batch + lag)
      val landingStart = BaseEpoch + landing * shape.batchSpanSeconds
      val ts = math.max(decisionTs + 1, landingStart + rnd.nextLong(shape.batchSpanSeconds))
      val cents = value % 100
      pending(landing) += s"""{"message_id":"${ksuid(rnd, ts)}","model":"$Model",""" +
        s""""decision_id":"$decisionId","reward":${value / 100}.${if (cents < 10) "0" else ""}$cents}"""
    }

    val batches = (0 until shape.batches).map { b =>
      val start = BaseEpoch + b * shape.batchSpanSeconds
      val n = shape.decisions / shape.batches + (if (b < shape.decisions % shape.batches) 1 else 0)
      var rewarded, cents = 0L
      val path = dir.resolve(f"batch-$b%03d.jsonl.gz")
      val w = new BufferedWriter(new OutputStreamWriter(
        new GZIPOutputStream(Files.newOutputStream(path), 1 << 16), StandardCharsets.UTF_8))
      def line(l: String): Unit = { w.write(l); w.write('\n') }
      try {
        for (k <- 0 until n) {
          val ts = start + k * shape.batchSpanSeconds / n
          val id = ksuid(rnd, ts)
          val item = rnd.nextInt(Items)
          val count = 1 + rnd.nextInt(3)
          val (ctx, num0, cat1) = context(rnd, shape.contextWidth)
          val sample =
            if (count > 1) s""","sample":${itemJson((item + 1 + rnd.nextInt(Items - 1)) % Items)}"""
            else ""
          line(s"""{"message_id":"$id","model":"$Model","count":$count,""" +
            s""""item":${itemJson(item)},"context":$ctx$sample}""")
          if (rnd.nextDouble() < shape.rewardShare) {
            val noise = rnd.nextDouble() + rnd.nextDouble() + rnd.nextDouble() - 1.5
            val value = math.max(1L,
              math.round((meanReward(item, num0, cat1) + 0.2 * noise) * 100))
            rewarded += 1
            cents += value
            // one in ten rewards arrives split over two reward records
            if (value > 1 && rnd.nextInt(10) == 0) {
              rewardLine(b, id, ts, value / 2)
              rewardLine(b, id, ts, value - value / 2)
            } else rewardLine(b, id, ts, value)
          }
        }
        pending(b).result().foreach(line)
        pending(b) = null
        for (_ <- 0 until shape.invalidPerBucket) {
          val id = ksuid(rnd, start)
          line(s"""{"message_id":"$id","model":"$Model","count":""")
          line(s"""{"message_id":"${id.take(20)}","model":"$Model","count":1,"item":{},"context":{}}""")
          line(s"""{"message_id":"$id","model":"$Model","count":1,"item":{},"context":{},"sample":{}}""")
          line(s"""{"message_id":"$id","model":"$Model","decision_id":"${ksuid(rnd, start)}"}""")
        }
      } finally w.close()
      (path.toString, Expected(n.toLong, rewarded, cents, invalid))
    }

    val probes = (0 until Probes).map { _ =>
      val item = rnd.nextInt(Items)
      val (ctx, num0, cat1) = context(rnd, shape.contextWidth)
      Probe(itemJson(item), ctx, shape.rewardShare * meanReward(item, num0, cat1))
    }
    Output(batches.map(_._1), batches.map(_._2), probes)
  }

  /** `Gen <dir> <workload> <seed> [decisions batches]`: write a
    * workload's batches, optionally resized (e.g. the one-off
    * reference-envelope run), and print their census.
    */
  def main(args: Array[String]): Unit = {
    require(args.length == 3 || args.length == 5,
      "usage: Gen <dir> <workload> <seed> [decisions batches]")
    val base = Workload.named(args(1)).shape
    val shape =
      if (args.length == 3) base
      else base.copy(decisions = args(3).toInt, batches = args(4).toInt)
    println(write(java.nio.file.Paths.get(args(0)), shape, args(2).toLong).expected)
  }
}
