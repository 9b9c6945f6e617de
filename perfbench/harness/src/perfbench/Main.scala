package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Bench, GraftSession, SparkEntry}
import graft.pipeline.Medallion
import graft.quality.Anomaly

/** The benchmark's JVM side: one process, one closed-loop client on
  * `local[cores]`. Reads a plan written by `run.py` (workload, seed-
  * derived inputs, time budget), runs the set-up passes, the timed ops
  * and the output checks, and writes one JSON record for `run.py`.
  *
  * It calls only the program's public surface: `Medallion.run`,
  * `Anomaly.recordRun`/`historyAnomalies`, `SparkEntry.queries`/
  * `oracleSql`, the query packs' `defs` (to name each query's pack)
  * and `Bench.canary`/`fsCanary`/`publishedIndexes`.
  */
object Main {

  /** Medallion layers by the directory their merge writes target. */
  val Layers: Seq[(String, String)] =
    Seq("stg" -> "stg_events", "int" -> "int_latest", "dwh" -> "dwh_daily")

  val Packs: Seq[(String, Iterable[String])] = {
    import graft.queries._
    Seq("ParityQueries" -> ParityQueries.defs.keys,
      "RelationalQueries" -> RelationalQueries.defs.keys,
      "AnalyticsQueries" -> AnalyticsQueries.defs.keys,
      "TextQueries" -> TextQueries.defs.keys,
      "SimilarityQueries" -> SimilarityQueries.defs.keys,
      "MetarQueries" -> MetarQueries.defs.keys,
      "PipelineQueries" -> PipelineQueries.defs.keys,
      "OpsQueries" -> OpsQueries.defs.keys,
      "SetOpQueries" -> SetOpQueries.defs.keys,
      "SqlQueries" -> SqlQueries.defs.keys,
      "ScalarQueries" -> ScalarQueries.defs.keys)
  }

  final class Plan(p: java.util.Properties) {
    def apply(k: String): String =
      Option(p.getProperty(k)).getOrElse(sys.error(s"plan lacks $k"))
    def int(k: String): Int = apply(k).toInt
    def list(k: String): Seq[String] = apply(k).split(",").toSeq.filter(_.nonEmpty)
  }

  /** One timed op as the record keeps it. */
  final case class Op(id: String, kind: String, wallS: Double, ok: Boolean,
      traced: Boolean, layers: Map[String, Double], rows: Long = 0L,
      error: String = "")

  def main(args: Array[String]): Unit = {
    val props = new java.util.Properties()
    val in = Files.newInputStream(Paths.get(args(0)))
    try props.load(in) finally in.close()
    val plan = new Plan(props)
    val cores = plan.int("cores")
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", plan("state") + "/spark-local")
      .config("spark.sql.warehouse.dir", plan("state") + "/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    GraftSession.prepare(spark)
    val rec = new Record(spark, cores)
    rec.info("session_ready_s") = Main.uptimeS().toString
    try {
      plan("workload") match {
        case "medallion_cycles" => new Cycles(plan, spark, rec).run()
        case "query_sweep" => new Sweep(plan, spark, rec).run()
        case w => sys.error(s"unknown workload $w")
      }
    } catch {
      case e: Throwable if scala.util.control.NonFatal(e) =>
        rec.fatal = e.toString
        e.printStackTrace()
    }
    rec.write(Paths.get(plan("out")))
    spark.stop()
  }

  // ---------------------------------------------------------------
  // shared helpers

  def now(): Long = System.nanoTime()
  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally walk.close()
    }

  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val walk = Files.walk(p)
      try walk.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally walk.close()
    }

  /** Seconds from the JVM's start to now. */
  def uptimeS(): Double =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0

  /** Heap in use after a full collection, in MB. */
  def liveHeapMb(): Double = {
    System.gc(); System.gc()
    val r = Runtime.getRuntime
    (r.totalMemory() - r.freeMemory()) / (1024.0 * 1024.0)
  }
}

/** Everything one run reports; serialised by hand as JSON. */
final class Record(spark: SparkSession, cores: Int) {
  val ops = mutable.ArrayBuffer[Main.Op]()
  val setupS = mutable.ArrayBuffer[Double]()
  val metrics = mutable.LinkedHashMap[String, Double]()
  val info = mutable.LinkedHashMap[String, String]()
  val failures = mutable.ArrayBuffer[String]()
  val spans = mutable.ArrayBuffer[Span]()
  var fatal = ""

  private var canaryWarm = false

  /** Bench's CPU and fs probes; the first call of each is untimed (it
    * pays probe-plan codegen and directory warm-up), as in Bench.
    */
  def canaries(tag: String): Unit = {
    if (!canaryWarm) { Bench.canary(spark, cores); Bench.fsCanary(); canaryWarm = true }
    info(s"canary_$tag") = Bench.canary(spark, cores).toString
    info(s"fs_canary_$tag") = Bench.fsCanary().toString
  }

  private def q(s: String) = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => " "
    case c => c.toString
  } + "\""
  private def num(d: Double) = if (d.isNaN || d.isInfinite) "null" else d.toString

  def write(out: Path): Unit = {
    val opsJson = ops.map { o =>
      val layers = o.layers.map { case (k, v) => s"${q(k)}:${num(v)}" }.mkString("{", ",", "}")
      s"""{"id":${q(o.id)},"kind":${q(o.kind)},"wall_s":${num(o.wallS)},"ok":${o.ok},"traced":${o.traced},"rows":${o.rows},"error":${q(o.error)},"layers":$layers}"""
    }.mkString("[", ",", "]")
    val body = Seq(
      s""""ops":$opsJson""",
      s""""setup_s":${setupS.map(num).mkString("[", ",", "]")}""",
      s""""metrics":${metrics.map { case (k, v) => s"${q(k)}:${num(v)}" }.mkString("{", ",", "}")}""",
      s""""info":${info.map { case (k, v) => s"${q(k)}:${q(v)}" }.mkString("{", ",", "}")}""",
      s""""failures":${failures.map(q).mkString("[", ",", "]")}""",
      s""""spans":${spans.map(x => s"[${q(x.kind)},${q(x.name)},${x.start},${x.end},${q(x.parent)},${q(x.op)}]").mkString("[", ",", "]")}""",
      s""""fatal":${q(fatal)}""").mkString("{", ",", "}")
    Files.write(out, body.getBytes("UTF-8"))
  }
}

/** `medallion_cycles`: the paper's DAG at its 30-minute cadence. */
final class Cycles(plan: Main.Plan, spark: SparkSession, rec: Record) {
  import Main._
  private val data = Paths.get(plan("data"))
  private val state = Paths.get(plan("state"))
  private val arrivals = plan.list("arrivals").map { a =>
    val Array(f, n) = a.split(":"); (f, n.toLong) }
  private val historyRows = plan("history_rows").toLong
  private val warm = plan.int("warm_cycles")
  private val cores = plan.int("cores")

  private var root: Path = _
  private def landing = root.resolve("landing")
  private def eventsDir = landing.resolve("events.parquet")
  private def mat = root.resolve("mat").toString
  private def monitor = root.resolve("monitor").toString
  private var landed = 0L // distinct new rows in the landing dir
  private var cycles = 0

  /** One cycle: the arrival is already in place; run the DAG and the
    * monitoring step, check the monitoring history's length.
    */
  private def cycle(file: String, trace: Option[OpTrace]): Unit = {
    def call[T](name: String)(b: => T): T = trace.fold(b)(_.call(name)(b))
    call("Medallion.run")(Medallion.run(spark, landing.toString, mat))
    call("Anomaly.recordRun")(Anomaly.recordRun(spark, monitor,
      spark.read.parquet(eventsDir.resolve(file).toString), "value", f"c$cycles%05d"))
    val hist = call("Anomaly.historyAnomalies")(
      Anomaly.historyAnomalies(spark, monitor).collect())
    cycles += 1
    require(hist.length == cycles + 1,
      s"monitoring history has ${hist.length} runs, expected ${cycles + 1}")
  }

  /** Set-up pass: fresh state, land the history, build every layer
    * from it and record its monitoring metrics.
    */
  private def setupPass(k: Int): Unit = {
    root = state.resolve(s"medallion-$k")
    deleteTree(root)
    Files.createDirectories(eventsDir)
    Files.copy(data.resolve("history.parquet"), eventsDir.resolve("history.parquet"))
    Medallion.run(spark, landing.toString, mat)
    Anomaly.recordRun(spark, monitor,
      spark.read.parquet(eventsDir.resolve("history.parquet").toString), "value", "history")
    cycles = 0
    landed = historyRows
  }

  /** Land arrival `i` (generated in set-up, so landing is a rename). */
  private def land(i: Int): (String, Long) = {
    val (f, n) = arrivals(i)
    Files.move(data.resolve("arrivals").resolve(f), eventsDir.resolve(f),
      StandardCopyOption.ATOMIC_MOVE)
    landed += n
    (f, n)
  }

  def run(): Unit = {
    val passes = plan.int("setup_passes")
    (1 to passes).foreach { k =>
      val t0 = now()
      setupPass(k)
      rec.setupS += secs(t0)
      if (k < passes) deleteTree(root)
    }
    // untimed warm-up cycles: the first incremental runs in the process
    val w0 = now()
    (0 until warm).foreach(i => cycle(land(i)._1, None))
    rec.info("warm_cycles_s") = secs(w0).toString

    val traced = plan.int("trace") == 1
    val budget = plan("seconds").toDouble
    rec.canaries("start")
    val idx0 = Bench.publishedIndexes(spark)
    rec.metrics("startup_s") = uptimeS()
    val t0 = now()
    var i = warm
    val minCycles = plan.int("min_ops")
    var last = 0.0 // a cycle starts only if one as long as the last ends in budget
    while (i < arrivals.size && (i - warm < minCycles || secs(t0) + last <= budget)) {
      val (f, n) = land(i)
      // traced runs alternate traced and untraced cycles, so the
      // untraced ones give the overhead baseline under the same history
      val tr = if (traced && (i - warm) % 2 == 1) Some(new OpTrace(spark, s"cycle-$i", cores)) else None
      val c0 = now()
      val err = try { cycle(f, tr); "" } catch {
        case e: Throwable if scala.util.control.NonFatal(e) => e.toString
      }
      val wall = secs(c0)
      last = wall
      val layers = tr.map { t =>
        val (sp, m) = t.close(); rec.spans ++= sp; m }.getOrElse(Map.empty)
      rec.ops += Op(s"cycle-$i", "cycle", wall, err.isEmpty, tr.isDefined, layers, n, err)
      i += 1
    }
    rec.metrics("operators.persisted_built") = (Bench.publishedIndexes(spark) -- idx0).size
    rec.metrics("live_heap_mb") = liveHeapMb()
    rec.canaries("end")
    check()
  }

  /** Output checks, outside the timed region: stg holds every distinct
    * landed row once (redeliveries dropped by the watermark), and the
    * incremental dwh mart equals a one-shot build over the same landing
    * dir (keys, counts, max/min exact; |Δavg| ≤ 1e-3, null-safe).
    */
  private def check(): Unit = {
    val stgRows = spark.read.parquet(s"$mat/stg_events").count()
    if (stgRows != landed)
      rec.failures += s"stg_events holds $stgRows rows, expected $landed"
    val landedBytes = treeBytes(eventsDir)
    val storedBytes = Seq(s"$mat/stg_events", s"$mat/int_latest", s"$mat/dwh_daily", monitor)
      .map(p => treeBytes(Paths.get(p))).sum
    rec.metrics("stored_bytes_ratio") = storedBytes.toDouble / landedBytes
    rec.info("landed_bytes") = landedBytes.toString
    val full = Medallion.run(spark, landing.toString, root.resolve("oneshot").toString)
    val inc = spark.read.parquet(s"$mat/dwh_daily")
    def keyed(df: DataFrame, tag: String) =
      df.select(col("user_id_date"),
        col("day").as(s"day_$tag"), col("n_events").as(s"n_$tag"),
        col("max_value").as(s"max_$tag"), col("min_value").as(s"min_$tag"),
        col("avg_value").as(s"avg_$tag"))
    def differs(a: String, b: String) = !(col(a) <=> col(b))
    val j = keyed(full, "f").join(keyed(inc, "i"), Seq("user_id_date"), "full")
      .agg(
        count(when(col("day_f").isNull || col("day_i").isNull, 1)),
        count(when(differs("n_f", "n_i") || differs("max_f", "max_i") ||
          differs("min_f", "min_i") || differs("day_f", "day_i"), 1)),
        count(when(differs("avg_f", "avg_i") &&
          coalesce(abs(col("avg_f") - col("avg_i")) > 0.001, lit(true)), 1)),
        count(lit(1)))
      .head()
    rec.info("dwh_rows") = j.getLong(3).toString
    if (j.getLong(0) + j.getLong(1) + j.getLong(2) > 0 || j.getLong(3) == 0)
      rec.failures += s"incremental dwh differs from the one-shot build: " +
        s"structural=${j.getLong(0)} exact=${j.getLong(1)} avg=${j.getLong(2)} rows=${j.getLong(3)}"
  }
}

/** `query_sweep`: the seed-ordered query set through the noop sink,
  * every query against warm persisted state.
  */
final class Sweep(plan: Main.Plan, spark: SparkSession, rec: Record) {
  import Main._
  private val dataDir = plan("data")
  private val state = Paths.get(plan("state"))
  private val persisted = Paths.get(plan("persisted_root"))
  private val names = plan.list("queries")
  private val cores = plan.int("cores")
  private val queries = SparkEntry.queries
  private val packOf: Map[String, String] =
    Packs.flatMap { case (p, ks) => ks.map(_ -> p) }.toMap

  /** Bench's untimed warm-up of the streaming machinery. */
  private def streamWarmup(dir: Path): Unit = {
    import spark.implicits._
    deleteTree(dir)
    Seq(1L).toDF("x").write.parquet(dir.resolve("d").toString)
    val q = spark.readStream.schema("x LONG").parquet(dir.resolve("d").toString)
      .groupBy("x").count()
      .writeStream.format("memory").queryName("perfbench_warmup")
      .outputMode("update")
      .option("checkpointLocation", dir.resolve("ckpt").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  private def noop(n: String): Unit =
    queries(n)(spark, dataDir).write.format("noop").mode("overwrite").save()

  def run(): Unit = {
    // set-up pass: an empty artifact root, the streaming warm-up and a
    // build of every persisted artifact the query set publishes
    val publishers = plan.list("publishers")
    (1 to plan.int("setup_passes")).foreach { k =>
      val t0 = now()
      deleteTree(persisted)
      streamWarmup(state.resolve("warm"))
      publishers.foreach(noop)
      rec.setupS += secs(t0)
    }
    checkRound()
    System.gc()

    val traced = plan.int("trace") == 1
    val budget = plan("seconds").toDouble
    val minRounds = plan.int("min_ops")
    rec.canaries("start")
    val idx0 = Bench.publishedIndexes(spark)
    var built = 0
    rec.metrics("startup_s") = uptimeS()
    val t0 = now()
    var round = 0
    var last = 0.0
    // a round starts only if one more round of the last one's length
    // still ends inside the budget
    while (round < minRounds || secs(t0) + last <= budget) {
      val r0 = now()
      // traced runs alternate untraced and traced rounds
      val tracedRound = traced && round % 2 == 1
      names.foreach { n =>
        val pre = Bench.publishedIndexes(spark)
        val tr = if (tracedRound) Some(new OpTrace(spark, s"$n#$round", cores)) else None
        val q0 = now()
        val err = try {
          tr.fold(noop(n))(_.call(s"SparkEntry.queries($n)")(noop(n)))
          ""
        } catch {
          case e: Throwable if scala.util.control.NonFatal(e) => e.toString
        }
        val wall = secs(q0)
        val layers = tr.map { t =>
          val (sp, m) = t.close(); rec.spans ++= sp; m }.getOrElse(Map.empty)
        built += (Bench.publishedIndexes(spark) -- pre).size
        rec.ops += Op(s"$n#$round", packOf.getOrElse(n, "unknown"), wall,
          err.isEmpty, tr.isDefined, layers, 0L, err)
        spark.catalog.clearCache()
        System.gc()
      }
      last = secs(r0)
      round += 1
    }
    rec.metrics("live_heap_mb") = liveHeapMb()
    rec.canaries("end")
    rec.metrics("operators.persisted_built") = built
    rec.info("rounds") = round.toString
    rec.info("persisted_at_start") = idx0.size.toString
    rec.metrics("stored_bytes_ratio") =
      treeBytes(persisted).toDouble / treeBytes(Paths.get(dataDir))
  }

  /** Warm round, untimed, after set-up: every query once on the
    * persisted state the timed rounds use, its result written as
    * parquet for the DuckDB oracle check that run.py makes. A query
    * that publishes an artifact here is missing from the set-up's
    * publishers, and fails the run.
    */
  private def checkRound(): Unit = {
    val c0 = now()
    names.foreach { n =>
      val pre = Bench.publishedIndexes(spark)
      queries(n)(spark, dataDir).write.mode("overwrite")
        .parquet(state.resolve("results").resolve(n).toString)
      spark.catalog.clearCache()
      if ((Bench.publishedIndexes(spark) -- pre).nonEmpty)
        rec.failures += s"$n published a persisted artifact after set-up"
    }
    rec.info("warm_round_s") = secs(c0).toString
    val oracles = SparkEntry.oracleSql
    val sql = names.filter(oracles.contains).map(n =>
      s"${n}\t${oracles(n).replace("\n", " ").replace("\t", " ")}")
    Files.write(state.resolve("oracle_sql.tsv"), sql.mkString("\n").getBytes("UTF-8"))
  }
}
