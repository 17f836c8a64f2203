package chainbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.encoding.Encoding
import graft.functions.Functions
import graft.ingest.{FirehoseRecords, Groom, Merge, PartitionStore}
import graft.schema.Schema
import graft.train.{Loader, ModelStore, Scorer, Trainer}

/** The workloads; README.md gives the reason for each. */
object Workload {
  /** `filesPerIngest`: generated files handed to one ingest call. */
  final case class Spec(name: String, shape: Gen.Shape, filesPerIngest: Int)

  val all: Seq[Spec] = Seq(
    Spec("trickle", Gen.Shape(decisions = 4800, batches = 3, rewardShare = 0.3,
      maxRewardLag = 2, contextWidth = 10, invalidPerBucket = 3, batchSpanSeconds = 900), 1),
    // four half-hour firehose files in one ingest call; two hourly
    // store files of 5500 rows, so no adjacent pair fits the 10k groom
    // cap and groom finds nothing to do
    Spec("backfill", Gen.Shape(decisions = 11000, batches = 4, rewardShare = 0.3,
      maxRewardLag = 0, contextWidth = 40, invalidPerBucket = 3, batchSpanSeconds = 1800), 4))

  def named(n: String): Spec = all.find(_.name == n).getOrElse(
    throw new IllegalArgumentException(s"unknown workload $n; one of ${all.map(_.name).mkString(", ")}"))
}

/** One timed (or traced) pass over the chain: every timed batch
  * ingested, groom to quiescence, then a cold two-phase train.
  */
final case class IterationResult(
    batchS: Seq[Double], groomS: Double, storeReadyS: Double, trainS: Double,
    refreshS: Double, cpuS: Double, peakHeapMb: Double, storeBytesPerDecision: Double,
    rmse: Double, decisionsIngested: Long, layers: Map[String, Double])

/** Counts layer calls and checks; the first failure ends the run. */
final class Gate(plantWrongCount: Boolean) {
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]

  def call[A](what: String)(body: => A): A = {
    attempted += 1
    try body
    catch { case e: Throwable => failed += 1; failures += s"$what: $e"; throw e }
  }

  def check(what: String, ok: Boolean, detail: => String): Unit = {
    attempted += 1
    if (!ok) {
      failed += 1
      failures += s"$what: $detail"
      throw new IllegalStateException(s"correctness check failed: $what: $detail")
    }
  }

  /** The expected census, with one count made wrong on request (the
    * benchmark's own test proves a wrong count fails the run).
    */
  def expect(e: Gen.Expected): Gen.Expected =
    if (plantWrongCount) e.copy(decisions = e.decisions + 1) else e
}

final class Chain(spark: SparkSession, wl: Workload.Spec, seed: Long, work: Path,
    gate: Gate, cores: Int) {
  import spark.implicits._

  val Model: String = Gen.Model
  /** The production TrainConfig with fewer, shallower trees, so a
    * train fits a run; the decision model still beats predicting the
    * mean on the holdout probes.
    */
  val trainConfig: Trainer.TrainConfig =
    Trainer.TrainConfig(propensityTrees = 5, maxTrees = 10, treeDepth = 3)
  /** TrainJob's default row cap. */
  val MaxRows = 8000000L

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** Peak old-generation occupancy after a GC since `reset()`: what
    * the collector could not free, without the short-lived humongous
    * buffers a raw pool peak catches depending on task timing.
    */
  private object OldGenAfterGc extends javax.management.NotificationListener {
    @volatile var peak = 0L
    def reset(): Unit = peak = 0L
    override def handleNotification(n: javax.management.Notification, hb: AnyRef): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(
          n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
        info.getGcInfo.getMemoryUsageAfterGc.forEach { (pool, u) =>
          if (pool.contains("Old Gen") || pool.contains("Tenured"))
            peak = math.max(peak, u.getUsed)
        }
      }
    ManagementFactory.getGarbageCollectorMXBeans.forEach {
      case e: javax.management.NotificationEmitter => e.addNotificationListener(this, null, null)
      case _ => ()
    }
  }

  /** Writes the firehose batches of `shape` under `dir`. */
  def prepare(dir: Path, shape: Gen.Shape): Gen.Output =
    Gen.write(dir.resolve("firehose"), shape, seed)

  /** IngestJob's calls, in its order, plus the unpersists its process
    * exit would otherwise do.
    */
  private def ingest(files: Seq[String], store: String,
      tr: Tracer): (Map[String, Long], Seq[String]) = {
    val (parsed, census) = tr.span("parse") {
      val p = gate.call("parse")(FirehoseRecords.parse(spark, files).persist())
      (p, gate.call("invalidCensus")(FirehoseRecords.invalidCensus(p)))
    }
    try {
      val merged = Merge.merge(parsed.flatMap(_.row).toDF()).persist()
      try {
        val written = tr.span("merge_write")(gate.call("writePerModel")(
          Merge.writePerModel(merged, store)))
        (census, written.getOrElse(Model, Nil))
      } finally merged.unpersist(blocking = true)
    } finally parsed.unpersist(blocking = true)
  }

  /** TrainJob's calls, in its order, into a fresh model dir. */
  private def train(store: String, outDir: String, tr: Tracer): Trainer.PropensityModel = {
    val cfg = trainConfig
    val sample = if (cfg.explore) Encoding.NonZeroPoissonProbability else 1.0
    val modelOut = s"$outDir/$Model"
    val reused = tr.span("model_store")(ModelStore.loadCheckpoint(spark, s"$modelOut/checkpoint"))
    gate.check("cold phase 1", reused.isEmpty, "a checkpoint was reused")
    val phase1 = tr.span("load")(gate.call("load")(Loader.load(spark, store, Model,
      maxRows = MaxRows, minRows = MaxRows, sample = sample, seed = cfg.seed)
      .withColumn(Schema.Model, lit(Model))))
    val pm = tr.span("p1")(gate.call("trainPropensity")(Trainer.trainPropensity(phase1, cfg)))
    tr.span("model_store")(gate.call("saveCheckpoint")(
      ModelStore.saveCheckpoint(pm, s"$modelOut/checkpoint")))
    val phase2 = tr.span("load")(gate.call("load")(Loader.load(spark, store, Model,
      maxRows = MaxRows, sample = sample, seed = cfg.seed + 1)
      .withColumn(Schema.Model, lit(Model))))
    val dm = tr.span("p2")(gate.call("trainDecision")(Trainer.trainDecision(phase2, pm, cfg)))
    tr.span("model_store") {
      gate.call("saveDecisionModel")(ModelStore.saveDecisionModel(dm, s"$modelOut/latest"))
      gate.call("publish")(ModelStore.publish(s"$modelOut/latest", outDir, Model))
    }
    pm
  }

  private def sizeOf(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  def run(gen: Gen.Output, i: Int, tr: Tracer): IterationResult = {
    val dir = work.resolve(s"it$i")
    val store = dir.resolve("store")
    val models = dir.resolve("models")
    // a GC lets Spark's ContextCleaner drop the previous pass's
    // shuffle and broadcast state; the pause lets it finish before timing
    System.gc()
    Thread.sleep(300)
    OldGenAfterGc.reset()
    tr.begin(i)
    val cpu0 = osBean.getProcessCpuTime
    val t0 = System.nanoTime()

    val census = mutable.Map.empty[String, Long]
    var filesWritten, bytesWritten = 0L
    val batchS = gen.files.grouped(wl.filesPerIngest).toSeq.map { files =>
      val b0 = System.nanoTime()
      val (c, keys) = ingest(files, store.toString, tr)
      c.foreach { case (k, n) => census(k) = census.getOrElse(k, 0L) + n }
      filesWritten += keys.length
      // sized before groom replaces them; traced passes only
      if (tr.enabled) bytesWritten += keys.map(k => Files.size(store.resolve(k))).sum
      (System.nanoTime() - b0) / 1e9
    }
    val groomIn =
      if (tr.enabled) PartitionStore.listKeys(spark, store.toString, Model).length else 0
    val g0 = System.nanoTime()
    val groomIters = tr.span("groom") {
      Groom.resetConcurrencyProbe()
      gate.call("groom")(Groom.groom(spark, store.toString, Model))
    }
    val peakGroups = Groom.peakConcurrentCompactions
    // GroomJob's own tail: list the store and look for overlaps
    val keys = PartitionStore.listKeys(spark, store.toString, Model)
    val overlaps = Groom.findOverlaps(keys)
    val t1 = System.nanoTime()
    val pm = train(store.toString, models.toString, tr)
    val t2 = System.nanoTime()
    val cpuS = (osBean.getProcessCpuTime - cpu0) / 1e9
    val peakMb = OldGenAfterGc.peak / Tracer.Mb
    tr.end()

    // correctness gate, outside the timed region
    val exp = gate.expect(gen.expected)
    gate.check("no overlaps", overlaps.isEmpty, s"${overlaps.length} overlapping range(s)")
    val tooBig = keys.filter(k => Groom.rowCount(k) > PartitionStore.MaxRowsPerFile)
    gate.check("file row cap", tooBig.isEmpty, s"${tooBig.length} file(s) over the cap")
    val row = PartitionStore.read(spark, store.toString, keys).agg(
      count(lit(1)), count(col(Schema.Item)),
      count(when(col(Schema.Reward) > 0, 1)),
      coalesce(sum(round(col(Schema.Reward) * 100).cast("long")), lit(0L))).head()
    gate.check("decisions", row.getLong(0) == exp.decisions && row.getLong(1) == exp.decisions,
      s"rows ${row.getLong(0)}, with item ${row.getLong(1)}, expected ${exp.decisions}")
    gate.check("rewarded decisions", row.getLong(2) == exp.rewarded,
      s"${row.getLong(2)}, expected ${exp.rewarded}")
    gate.check("reward cents", row.getLong(3) == exp.rewardCents,
      s"${row.getLong(3)}, expected ${exp.rewardCents}")
    gate.check("invalid census", census.toMap == exp.invalid,
      s"${census.toMap}, expected ${exp.invalid}")
    val unpacked = dir.resolve("unpacked").toString
    gate.check("published model unpacks",
      ModelStore.unpackLatest(models.toString, Model, unpacked), "no published model")
    val dm = ModelStore.loadDecisionModel(spark, unpacked)
    gate.check("published model reloads", dm.isDefined, "loadDecisionModel returned None")
    val probes = gen.probes
    val scores = Scorer.score(probes.map(p => (p.item, p.context)).toDF("item", "context"), dm.get)
      .select("score").as[Double].collect()
    gate.check("probe scores finite", scores.length == probes.length &&
      scores.forall(s => !s.isNaN && !s.isInfinite), s"${scores.take(5).mkString(",")}")
    val rmse = math.sqrt(scores.zip(probes).map { case (s, p) =>
      (s - p.expected) * (s - p.expected) }.sum / probes.length)

    val storeBytes = keys.map(k => Files.size(store.resolve(k))).sum
    val layers =
      if (!tr.enabled) Map.empty[String, Double]
      else {
        val sel = Loader.selectFiles(keys, MaxRows, MaxRows,
          Encoding.NonZeroPoissonProbability, trainConfig.seed)
        val (lines, _) = tr.io(i, "parse")
        val (_, groomBytes) = tr.io(i, "groom")
        val base = tr.layerMetrics(i, cores)
        base ++ Map(
          "parse.lines" -> lines.toDouble,
          "parse.invalid" -> census.values.sum.toDouble,
          "store.files_written" -> filesWritten.toDouble,
          "store.mb_written" -> bytesWritten / Tracer.Mb,
          "groom.iterations" -> groomIters.toDouble,
          "groom.files_in" -> groomIn.toDouble,
          "groom.files_out" -> keys.length.toDouble,
          "groom.mb_rewritten" -> groomBytes / Tracer.Mb,
          "groom.write_amp" -> groomBytes.toDouble / math.max(1L, bytesWritten),
          "groom.peak_groups" -> peakGroups.toDouble,
          "load.files" -> sel.keys.length.toDouble,
          "load.rows" -> sel.listedRows.toDouble,
          "p1.trees" -> pm.model.getNumTrees.toDouble,
          "p1.features" -> pm.featureNames.length.toDouble,
          "p1.jobs_per_tree" -> base("p1.jobs") / pm.model.getNumTrees,
          "p2.trees" -> dm.get.model.getNumTrees.toDouble,
          "p2.jobs_per_tree" -> base("p2.jobs") / dm.get.model.getNumTrees,
          "p2.holdout_rmse" -> rmse,
          "model_store.mb" -> sizeOf(models) / Tracer.Mb)
      }
    deleteTree(dir)
    IterationResult(batchS, (t1 - g0) / 1e9, (t1 - t0) / 1e9, (t2 - t1) / 1e9,
      (t2 - t0) / 1e9, cpuS, peakMb, storeBytes.toDouble / exp.decisions, rmse,
      gen.expected.decisions, layers)
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
    finally s.close()
  }
}

/** `Main --workload <w> --seed <n> --seconds <s> --trace <0|1>
  * --work <dir> --results <dir> [--plant-wrong-count]`.
  */
object Main {
  val SetupRepeats = 5

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString
  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  private def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  /** End-to-end metrics (trace 0) with their units. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "store_ready_s" -> "s", "ingest_batch_p50_s" -> "s",
    "train_s" -> "s", "model_refresh_s" -> "s",
    "decisions_per_s" -> "1/s", "cpu_s" -> "s", "peak_heap_mb" -> "MB",
    "store_bytes_per_decision" -> "B")

  def unitOf(layerMetric: String): String = layerMetric.split('.').last match {
    case s if s.endsWith("_s") => "s"
    case s if s.endsWith("mb") || s == "mb_written" || s == "mb_rewritten" => "MB"
    case "slot_busy" | "write_amp" | "overhead_store_ready" | "overhead_model_refresh" => "ratio"
    case "holdout_rmse" => "reward"
    case _ => "count"
  }

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") => k.drop(2) -> v
    }.toMap
    val wl = Workload.named(opts("workload"))
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val work = Paths.get(opts("work"))
    val results = Paths.get(opts("results"))
    val gate = new Gate(args.contains("--plant-wrong-count"))
    val cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

    // the session graft.jobs.Jobs builds for every job
    val spark = SparkSession.builder()
      .appName(s"chainbench-${wl.name}")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))
      .master(s"local[$cores]")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Functions.register(spark)

    val chain = new Chain(spark, wl, seed, work, gate, cores)
    val info = mutable.LinkedHashMap.empty[String, String]
    var exit = 0
    try {
      info("host") = obj(Seq(
        "nproc" -> Runtime.getRuntime.availableProcessors.toString,
        "mem_total_kb" -> scala.util.Try(scala.io.Source.fromFile("/proc/meminfo")
          .getLines().find(_.startsWith("MemTotal:")).get.split("\\s+")(1)).getOrElse("0"),
        "jdk" -> str(System.getProperty("java.version")),
        "spark" -> str(spark.version),
        "spark_cores" -> cores.toString,
        "max_heap_mb" -> num(Runtime.getRuntime.maxMemory / Tracer.Mb)))
      info("train_config") = str(chain.trainConfig.toString)
      info("shape") = str(wl.shape.toString)

      // an untimed full-size pass first, so the JIT and Spark's code
      // caches are warm on every layer; then set-up SetupRepeats times on
      // the warm JVM (the median is setup_s, the last output is timed)
      val off = new Tracer(spark, enabled = false)
      val on = new Tracer(spark, enabled = traced)
      val w0 = System.nanoTime()
      chain.run(chain.prepare(work.resolve("warmup"), wl.shape), 0, off)
      info("warmup_s") = num((System.nanoTime() - w0) / 1e9)
      chain.deleteTree(work.resolve("warmup"))
      val setups = (1 to SetupRepeats).map { i =>
        // each set-up starts from the same collected heap
        System.gc()
        val t0 = System.nanoTime()
        val g = chain.prepare(work.resolve(s"setup$i"), wl.shape)
        if (i < SetupRepeats) chain.deleteTree(work.resolve(s"setup$i"))
        ((System.nanoTime() - t0) / 1e9, g)
      }
      val setupS = median(setups.map(_._1))
      val gen = setups.last._2
      info("setup_s") = setups.map(p => num(p._1)).mkString("[", ",", "]")

      val timed = mutable.ArrayBuffer.empty[IterationResult]
      val plain = mutable.ArrayBuffer.empty[IterationResult]
      val start = System.nanoTime()
      if (!traced) {
        var i = 1
        while (i == 1 || (System.nanoTime() - start) / 1e9 < seconds) {
          timed += chain.run(gen, i, off)
          i += 1
        }
      } else {
        // untraced, traced, untraced: the tracing overhead compares the
        // traced pass with the mean of its neighbours, so a drift
        // across the three passes cancels
        plain += chain.run(gen, 1, off)
        timed += chain.run(gen, 2, on)
        plain += chain.run(gen, 3, off)
      }
      info("timed_s") = num((System.nanoTime() - start) / 1e9)
      // after the timed passes, so the probe runs on a warm JVM
      info("calibration") = calibrate(spark, work.resolve("calibration"))
      def med(f: IterationResult => Double) = median(timed.map(f).toSeq)
      info("iterations") = timed.length.toString
      info("store_ready_s") = timed.map(r => num(r.storeReadyS)).mkString("[", ",", "]")
      info("model_refresh_s") = timed.map(r => num(r.refreshS)).mkString("[", ",", "]")
      info("groom_s") = timed.map(r => num(r.groomS)).mkString("[", ",", "]")
      info("holdout_rmse") = timed.map(r => num(r.rmse)).mkString("[", ",", "]")

      val metrics: Seq[(String, Double, String)] =
        if (!traced) {
          val values = Map(
            "setup_s" -> setupS,
            "store_ready_s" -> med(_.storeReadyS),
            "ingest_batch_p50_s" -> med(r => median(r.batchS)),
            "train_s" -> med(_.trainS),
            "model_refresh_s" -> med(_.refreshS),
            "decisions_per_s" -> med(r => r.decisionsIngested / r.storeReadyS),
            "cpu_s" -> med(_.cpuS),
            "peak_heap_mb" -> med(_.peakHeapMb),
            "store_bytes_per_decision" -> med(_.storeBytesPerDecision))
          EndToEnd.map { case (n, u) => (n, values(n), u) }
        } else {
          val names = timed.head.layers.keys.toSeq.sorted
          val overhead = Seq(
            "trace.overhead_store_ready" ->
              (med(_.storeReadyS) / median(plain.map(_.storeReadyS).toSeq) - 1),
            "trace.overhead_model_refresh" ->
              (med(_.refreshS) / median(plain.map(_.refreshS).toSeq) - 1))
          (names.map(n => n -> med(_.layers(n))) ++ overhead).map { case (n, v) => (n, v, unitOf(n)) }
        }
      info("jvm_uptime_s") = num(ManagementFactory.getRuntimeMXBean.getUptime / 1e3)
      info("metrics") = obj(metrics.map { case (n, v, _) => n -> num(v) })

      Files.createDirectories(results)
      val tag = s"${wl.name}-seed$seed-trace${if (traced) 1 else 0}"
      val spanJson = on.spanList.map(s => obj(Seq("iteration" -> s.iteration.toString,
        "layer" -> str(s.name), "start_s" -> num((s.startNs - start) / 1e9),
        "end_s" -> num((s.endNs - start) / 1e9))))
      Files.write(results.resolve(s"$tag.json"),
        (obj(info.toSeq ++ (if (traced) Seq("spans" -> spanJson.mkString("[", ",", "]")) else Nil))
          + "\n").getBytes("UTF-8"))
      println(obj(Seq("chainbench_info" -> obj(info.toSeq))))
      println(obj(Seq(
        "correct" -> (gate.failed == 0).toString,
        "attempted" -> gate.attempted.toString,
        "failed" -> gate.failed.toString,
        "metrics" -> obj(metrics.map { case (n, v, u) =>
          n -> obj(Seq("value" -> num(v), "unit" -> str(u))) }))))
    } catch {
      case e: Throwable =>
        System.err.println(s"[chainbench] FAILED: $e")
        gate.failures.foreach(f => System.err.println(s"[chainbench]   $f"))
        e.printStackTrace()
        exit = 1
    } finally {
      spark.stop()
      chain.deleteTree(work)
    }
    sys.exit(exit)
  }

  /** Fixed probe in the style of graft.Bench: a CPU pass and a small
    * parquet write+read, so a result can be read against box load.
    */
  private def calibrate(spark: SparkSession, dir: Path): String = {
    def timeIt(f: => Unit): Double = { val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9 }
    val cpu = timeIt(spark.range(0, 5000000L).selectExpr("sum(xxhash64(id) & 1048575)").collect())
    val io = timeIt {
      spark.range(0, 500000L)
        .selectExpr("id", "xxhash64(id) AS h", "CAST(id % 97 AS DOUBLE) AS v")
        .write.mode("overwrite").parquet(dir.toString)
      spark.read.parquet(dir.toString).selectExpr("sum(h & 1048575)").collect()
    }
    obj(Seq("cpu_s" -> num(cpu), "io_s" -> num(io)))
  }
}
