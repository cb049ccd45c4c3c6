package linkbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.{Linkage, LinkageParams, RunPipeline}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case ch if ch < ' ' => b ++= f"\\u${ch.toInt}%04x"
      case ch => b += ch
    }
    (b += '"').toString
  }
  def num(x: Double): String = if (x.isNaN || x.isInfinite) "null" else java.lang.Double.toString(x)
  def num(x: Long): String = x.toString
  def obj(kv: Seq[(String, String)]): String = kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
}

/** Local-filesystem helpers (all benchmark paths are local). */
object Files {
  import java.nio.file.{Files => F, Path, Paths}
  private def p(s: String): Path = Paths.get(s)
  def exists(path: String): Boolean = F.exists(p(path))
  def delete(path: String): Unit =
    if (F.exists(p(path))) {
      val s = F.walk(p(path))
      try s.iterator().asScala.toSeq.reverse.foreach(F.delete) finally s.close()
    }
  def size(path: String): Long =
    if (!F.exists(p(path))) 0L
    else {
      val s = F.walk(p(path))
      try s.iterator().asScala.filter(F.isRegularFile(_)).map(F.size).sum finally s.close()
    }
  def write(path: String, content: String): Unit = {
    F.createDirectories(p(path).toAbsolutePath.getParent)
    F.write(p(path), content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
  def lines(path: String): Seq[String] = F.readAllLines(p(path)).asScala.toSeq
  def rename(from: String, to: String): Unit = F.move(p(from), p(to))
}

/** Host canary: a single-thread xorshift loop owned by the benchmark.
  * Its rate moves with the host (frequency, contention), never with the
  * program, so a slow pass next to a slow canary points at the host. */
object Canary {
  @volatile var sink = 0L
  def mops(): Double = {
    val n = 20000000
    var x = 0x9e3779b97f4a7c15L
    var acc = 0L
    var i = 0
    val t0 = System.nanoTime()
    while (i < n) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; acc += x; i += 1 }
    val s = (System.nanoTime() - t0) / 1e9
    sink = acc
    n / s / 1e6
  }
}

final case class Workload(
    name: String,
    format: String,
    flags: Seq[String],
    checkpoint: Boolean,
    /** pairwise F1 below this fails the pass (see README) */
    f1Floor: Double,
    check: (Array[Pair], Array[Member]) => Seq[String]) {
  def pages: Boolean = format == "pages"
  def urls: Boolean = flags.contains("--urls")
}

/** Generated inputs plus what the checks need: entity labels, the CLK
  * of every record and, for pages, its url. */
final case class Inputs(
    paths: Seq[String],
    truth: Map[(Int, Long), Long],
    clks: Map[(Int, Long), Array[Byte]],
    urls: Map[(Int, Long), String]) {
  def records: Long = truth.size.toLong
}

object LinkBench {

  val Warmups = 1
  val MinPasses = 3
  val MinTracedRounds = 1
  /** Stop starting passes after this long, whatever --seconds says. */
  val HardStopS = 100.0

  val workloads: Map[String, Workload] = Seq(
    Workload("link-boilerplate", "pages", Seq("--solver", "greedy", "--urls"),
      checkpoint = false, f1Floor = 0.90, Checks.greedyMatching),
    Workload("link-clk", "clk-jsonl",
      Seq("--format", "clk-jsonl", "--blocking", "bitband", "--solver", "probabilistic"),
      checkpoint = true, f1Floor = 0.99, Checks.partyClusters)
  ).map(w => w.name -> w).toMap

  private val started = System.nanoTime()
  def log(msg: String): Unit =
    System.err.println(f"[linkbench ${(System.nanoTime() - started) / 1e9}%6.1f s] $msg")

  def epochNanos(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano
  }

  /** Build the session the way the program's mains do and run a first
    * job. Returns the seconds since `launchNs` (when the JVM was
    * launched). */
  def session(launchNs: Long): (SparkSession, Double) = {
    val spark = RunPipeline.buildSession("linkbench")
    spark.sparkContext.setLogLevel("WARN")
    spark.range(0L, 1000L, 1L, spark.sparkContext.defaultParallelism).agg(sum("id")).collect()
    (spark, (epochNanos() - launchNs) / 1e9)
  }

  // ---- inputs -----------------------------------------------------

  def prepare(spark: SparkSession, wl: Workload, seed: Long, root: String): String = {
    val dir = s"$root/g${Gen.Version}/${wl.name}-s$seed"
    if (!Files.exists(s"$dir/_DONE")) {
      val tmp = s"$dir.tmp"
      Files.delete(tmp)
      Files.delete(dir)
      val t0 = System.nanoTime()
      val labels =
        if (wl.pages) {
          val pages = Gen.boilerplatePages(seed)
          (0 to 1).foreach { p =>
            spark.createDataFrame(pages.filter(_.party == p).map(x => (x.url, x.text, "en")))
              .toDF("url", "text", "lang")
              .coalesce(1).write.parquet(s"$tmp/party$p")
          }
          pages.map(x => s"${x.party}\t${x.url}\t${x.entity}")
        } else {
          val clks = Gen.clkParties(seed)
          val enc = java.util.Base64.getEncoder
          (0 to 2).foreach { p =>
            Files.write(s"$tmp/party$p.jsonl", clks.iterator.filter(_.party == p)
              .map(r => s"""{"recId":${r.recId},"clk":"${enc.encodeToString(r.clk)}"}""")
              .mkString("", "\n", "\n"))
          }
          clks.map(x => s"${x.party}\t${x.recId}\t${x.entity}")
        }
      Files.write(s"$tmp/labels.tsv", labels.mkString("", "\n", "\n"))
      Files.write(s"$tmp/_DONE", "")
      Files.rename(tmp, dir)
      log(f"generated ${labels.length} records for ${wl.name} seed $seed in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    }
    dir
  }

  def load(spark: SparkSession, meter: Meter, wl: Workload, dir: String): Inputs = meter.inGroup("check") {
    val labels = Files.lines(s"$dir/labels.tsv").map(_.split('\t'))
    if (wl.pages) {
      val paths = Seq(s"$dir/party0", s"$dir/party1")
      val entityOf = labels.map(a => (a(0).toInt, a(1)) -> a(2).toLong).toMap
      val pages = paths.zipWithIndex
        .map { case (p, ix) => spark.read.parquet(p).select(col("url"), col("text"), lit(ix).as("d")) }
        .reduce(_ unionByName _)
      // the CLKs the pipeline scores, from the program's own encoder
      val enc = Linkage.encode(pages, LinkageParams(), col("d"))
        .select(col("dsetId"), col("recId"), col("url"), col("clk")).collect()
      require(enc.length == entityOf.size, s"encode returned ${enc.length} of ${entityOf.size} records")
      val key = enc.map(r => (r.getInt(0), r.getLong(1)))
      Inputs(paths,
        key.zip(enc).map { case (k, r) => k -> entityOf((k._1, r.getString(2))) }.toMap,
        key.zip(enc).map { case (k, r) => k -> r.getAs[Array[Byte]](3) }.toMap,
        key.zip(enc).map { case (k, r) => k -> r.getString(2) }.toMap)
    } else {
      val paths = (0 to 2).map(p => s"$dir/party$p.jsonl")
      val line = """\{"recId":(\d+),"clk":"([^"]+)"\}""".r
      val dec = java.util.Base64.getDecoder
      val clks = paths.zipWithIndex.flatMap { case (p, ix) =>
        Files.lines(p).collect { case line(id, b64) => (ix, id.toLong) -> dec.decode(b64) }
      }.toMap
      Inputs(paths, labels.map(a => (a(0).toInt, a(1).toLong) -> a(2).toLong).toMap, clks, Map.empty)
    }
  }

  // ---- one pass ---------------------------------------------------

  def config(wl: Workload, in: Inputs, dir: String): RunPipeline.Config =
    RunPipeline.parse((Seq("--input", in.paths.mkString(","), "--out", s"$dir/clusters",
      "--pairs-out", s"$dir/pairs") ++
      (if (wl.checkpoint) Seq("--checkpoint", s"$dir/ckpt") else Nil) ++ wl.flags).toArray)

  /** Checks of one pass's written outputs; returns the violations and
    * the pairwise F1. */
  def check(spark: SparkSession, meter: Meter, wl: Workload, in: Inputs,
      c: RunPipeline.Config, seed: Long): (Seq[String], Double) = meter.inGroup("check") {
    val ps = spark.read.parquet(c.pairsOut.get)
      .select(col("sim").cast("double"), col("dset0").cast("int"), col("dset1").cast("int"),
        col("rec0").cast("long"), col("rec1").cast("long"))
      .collect().map(r => Pair(r.getDouble(0), r.getInt(1), r.getInt(2), r.getLong(3), r.getLong(4)))
    val clusters = spark.read.parquet(c.out)
    val ms = clusters.select(col("dsetId").cast("int"), col("recId").cast("long"), col("clusterId").cast("long"))
      .collect().map(r => Member(r.getInt(0), r.getLong(1), r.getLong(2)))
    val bad = mutable.ArrayBuffer.empty[String]
    if (!Files.exists(s"${c.out}/_SUMMARY.json")) bad += "no _SUMMARY.json next to the clusters"
    bad ++= Checks.pairs(ps, c.threshold, c.k.get, in.clks.get, seed)
    bad ++= wl.check(ps, ms)
    if (ms.exists(m => !in.truth.contains((m.dset, m.rec)))) bad += "a clustered record is not in the input"
    if (wl.urls) {
      val wrong = clusters.select(col("dsetId").cast("int"), col("recId").cast("long"), col("url"))
        .collect().count(r => in.urls.get((r.getInt(0), r.getLong(1))) != Option(r.getString(2)))
      if (wrong > 0) bad += s"$wrong clustered records carry a wrong url"
    }
    val f1 = Checks.pairF1(ms, in.truth)
    if (f1 < wl.f1Floor) bad += s"pair_f1 $f1 below the floor ${wl.f1Floor}"
    (bad.toSeq, f1)
  }

  def gcSeconds(): Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3

  final case class PassResult(wallS: Double, stats: GroupStats, gcS: Double)

  /** One untraced `RunPipeline.run`, timed; outputs are left for checks. */
  def pass(spark: SparkSession, meter: Meter, c: RunPipeline.Config): PassResult = {
    Seq(c.out) ++ c.pairsOut ++ c.checkpointDir foreach Files.delete
    meter.take()
    val gc0 = gcSeconds()
    val t0 = System.nanoTime()
    meter.inGroup("pass")(RunPipeline.run(spark, c))
    val wall = (System.nanoTime() - t0) / 1e9
    val gc = gcSeconds() - gc0
    PassResult(wall, meter.take().getOrElse("pass", new GroupStats), gc)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  // ---- main -------------------------------------------------------

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val launchNs = opts("launch-ns").toLong
    val wl = workloads(opts("workload"))
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val work = opts("work")
    val (spark, setupS) = session(launchNs)
    val meter = new Meter(spark.sparkContext)
    spark.sparkContext.addSparkListener(meter)
    try {
      val inputDir = prepare(spark, wl, seed, s"$work/inputs")
      if (opts("generate-only") == "1") {
        println("LINKBENCH_INPUTS " + inputDir)
        return
      }
      val in = load(spark, meter, wl, inputDir)
      val runDir = s"$work/run/${wl.name}-s$seed-t${opts("trace")}"
      Files.delete(runDir)
      val out =
        if (traced) tracedRun(spark, meter, wl, in, runDir, seed, seconds)
        else endToEnd(spark, meter, wl, in, runDir, seed, seconds, setupS)
      Files.delete(runDir)
      Files.write(s"$work/results/${wl.name}-s$seed-${if (traced) "trace" else "e2e"}.json", out + "\n")
      println("LINKBENCH_RESULT " + out)
    } finally spark.stop()
  }

  private def warmUp(spark: SparkSession, meter: Meter, wl: Workload, in: Inputs, runDir: String): Unit =
    (1 to Warmups).foreach { i =>
      val r = pass(spark, meter, config(wl, in, s"$runDir/warm$i"))
      log(f"warm-up $i: ${r.wallS}%.2f s")
    }

  def endToEnd(spark: SparkSession, meter: Meter, wl: Workload, in: Inputs, runDir: String,
      seed: Long, seconds: Double, setupS: Double): String = {
    warmUp(spark, meter, wl, in, runDir)
    val ok = mutable.ArrayBuffer.empty[(PassResult, Double, Double)] // pass, canary, f1
    var attempted = 0
    var failed = 0
    var correct = true
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    while ((attempted < MinPasses || elapsed < seconds) && elapsed < HardStopS) {
      attempted += 1
      val canary = Canary.mops()
      val c = config(wl, in, s"$runDir/p$attempted")
      try {
        val r = pass(spark, meter, c)
        val tc = System.nanoTime()
        val (bad, f1) = check(spark, meter, wl, in, c, seed + attempted)
        log(f"pass $attempted: ${r.wallS}%.3f s, cpu ${r.stats.cpuS}%.2f s, jobs ${r.stats.jobs}, " +
          f"canary $canary%.0f Mops/s, f1 $f1%.4f, checked in ${(System.nanoTime() - tc) / 1e9}%.2f s")
        if (bad.isEmpty) ok += ((r, canary, f1))
        else { failed += 1; correct = false; bad.foreach(b => log(s"CHECK FAILED: $b")) }
      } catch {
        case e: Exception => failed += 1; log(s"pass $attempted threw: $e")
      }
      Seq(c.out) ++ c.pairsOut ++ c.checkpointDir foreach Files.delete
    }
    require(ok.nonEmpty, "no pass succeeded")
    val wall = median(ok.map(_._1.wallS).toSeq)
    def m(name: String, v: Double, unit: String) =
      name -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(unit)))
    Json.obj(Seq(
      "correct" -> correct.toString,
      "attempted" -> Json.num(attempted.toLong),
      "failed" -> Json.num(failed.toLong),
      "metrics" -> Json.obj(Seq(
        m("wall_s", wall, "s"),
        m("records_per_s", in.records / wall, "records/s"),
        m("cpu_s", median(ok.map(_._1.stats.cpuS).toSeq), "s"),
        m("shuffle_mb", median(ok.map(_._1.stats.shuffleMb).toSeq), "MB"),
        m("peak_task_mem_mb", median(ok.map(_._1.stats.peakTaskMem / 1e6).toSeq), "MB"),
        m("setup_s", setupS, "s"),
        m("pair_f1", median(ok.map(_._3).toSeq), "ratio"))),
      "passes" -> Json.obj(Seq(
        "wall_s" -> Json.arr(ok.map(x => Json.num(x._1.wallS)).toSeq),
        "canary_mops" -> Json.arr(ok.map(x => Json.num(x._2)).toSeq),
        "jobs" -> Json.arr(ok.map(x => Json.num(x._1.stats.jobs.toLong)).toSeq))),
      "records" -> Json.num(in.records)))
  }

  def tracedRun(spark: SparkSession, meter: Meter, wl: Workload, in: Inputs, runDir: String,
      seed: Long, seconds: Double): String = {
    warmUp(spark, meter, wl, in, runDir)
    val rounds = mutable.ArrayBuffer.empty[(Seq[(String, Double, String)], TracedPass)]
    var attempted = 0
    var failed = 0
    var correct = true
    var tasksFailed = 0L
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    while ((attempted < MinTracedRounds || elapsed < seconds) && elapsed < HardStopS) {
      attempted += 1
      val canary = Canary.mops()
      val cu = config(wl, in, s"$runDir/u$attempted")
      val ct = config(wl, in, s"$runDir/t$attempted")
      try {
        val u = pass(spark, meter, cu)
        val (badU, _) = check(spark, meter, wl, in, cu, seed + attempted)
        Seq(ct.out) ++ ct.pairsOut ++ ct.checkpointDir foreach Files.delete
        meter.take() // drop the check's task events
        val t = Traced.pass(spark, meter, ct)
        val (badT, _) = check(spark, meter, wl, in, ct, seed + attempted)
        tasksFailed += u.stats.tasksFailed + t.groups.valuesIterator.map(_.tasksFailed).sum
        val bad = badU ++ badT ++ t.violations
        log(f"round $attempted: untraced ${u.wallS}%.3f s, traced layers ${t.totalS}%.3f s " +
          f"of ${t.passWallS - t.funnelS}%.3f s outside funnel counts")
        if (bad.nonEmpty) { failed += 1; correct = false; bad.foreach(b => log(s"CHECK FAILED: $b")) }
        else rounds += ((layerMetrics(t, u, canary), t))
      } catch {
        case e: Exception => failed += 1; log(s"round $attempted threw: $e")
      }
      Seq(cu, ct).foreach(c => Seq(c.out) ++ c.pairsOut ++ c.checkpointDir foreach Files.delete)
    }
    require(rounds.nonEmpty, "no traced round succeeded")
    val metrics = rounds.head._1.map { case (n, _, u) =>
      (n, median(rounds.map(_._1.find(_._1 == n).get._2).toSeq), u)
    } :+ (("spark.tasks_failed", tasksFailed.toDouble, "count"))
    val last = rounds.last._2
    val funnel = last.funnel
    log("funnel " + funnel.map { case (k, v) => s"$k $v" }.mkString(" -> "))
    Json.obj(Seq(
      "correct" -> correct.toString,
      "attempted" -> Json.num(attempted.toLong),
      "failed" -> Json.num(failed.toLong),
      "metrics" -> Json.obj(metrics.map { case (n, v, u) =>
        val value = if (Set("count", "rows", "comparisons")(u)) Json.num(math.round(v)) else Json.num(v)
        n -> Json.obj(Seq("value" -> value, "unit" -> Json.str(u)))
      }),
      "funnel" -> Json.obj(funnel.map { case (k, v) => k -> Json.num(v) }),
      "coverage" -> Json.num(last.totalS / (last.passWallS - last.funnelS)),
      "groups" -> Json.obj(last.groups.toSeq.sortBy(_._1).map { case (n, g) =>
        n -> Json.obj(Seq("jobs" -> Json.num(g.jobs.toLong), "tasks" -> Json.num(g.tasks.toLong),
          "cpu_s" -> Json.num(g.cpuS), "shuffle_mb" -> Json.num(g.shuffleMb),
          "spill_mb" -> Json.num(g.spillBytes / 1e6), "peak_task_mem_mb" -> Json.num(g.peakTaskMem / 1e6),
          "task_skew" -> Json.num(g.taskSkew)))
      }),
      "spans" -> Json.arr(last.spans.map(s => Json.obj(Seq(
        "name" -> Json.str(s.name), "start_s" -> Json.num(s.startS), "end_s" -> Json.num(s.endS))))),
      "records" -> Json.num(in.records)))
  }

  /** The per-layer metrics of one traced round: (name, value, unit). */
  def layerMetrics(t: TracedPass, u: PassResult, canary: Double): Seq[(String, Double, String)] = {
    def g(name: String): GroupStats = t.groups.getOrElse(name, new GroupStats)
    def f(name: String): Double = t.funnel.find(_._1 == name).get._2.toDouble
    Seq(
      ("encode.wall_s", t.layerWall("encode"), "s"),
      ("encode.cpu_s", g("encode").cpuS, "s"),
      ("io.read_wall_s", t.layerWall("io.read"), "s"),
      ("io.snapshot_wall_s", t.layerWall("io.snapshot"), "s"),
      ("io.write_wall_s", t.layerWall("io.write"), "s"),
      ("io.write_mb", t.writeBytes / 1e6, "MB"),
      ("block.wall_s", t.layerWall("block"), "s"),
      ("block.cpu_s", g("block").cpuS, "s"),
      ("block.shuffle_mb", g("block").shuffleMb, "MB"),
      ("block.band_rows", f("band_rows"), "rows"),
      ("block.blocked_rows", f("blocked_rows"), "rows"),
      ("block.hot_keys", f("hot_keys"), "count"),
      ("block.cells", f("cells"), "count"),
      ("block.max_cell_cmp", f("max_cell_cmp"), "comparisons"),
      ("block.task_skew", g("block").taskSkew, "ratio"),
      ("sim.wall_s", t.layerWall("sim"), "s"),
      ("sim.cpu_s", g("sim").cpuS, "s"),
      ("sim.comparisons", f("comparisons"), "count"),
      ("sim.emitted", f("emitted"), "count"),
      ("sim.cmp_per_cpu_s", f("comparisons") / g("sim").cpuS, "comparisons/s"),
      ("sim.task_skew", g("sim").taskSkew, "ratio"),
      ("cand.wall_s", t.layerWall("cand"), "s"),
      ("cand.cpu_s", g("cand").cpuS, "s"),
      ("cand.shuffle_mb", g("cand").shuffleMb, "MB"),
      ("cand.distinct_pairs", f("distinct_pairs"), "count"),
      ("cand.pairs", f("pairs"), "count"),
      ("cand.useful_ratio", f("distinct_pairs") / f("comparisons"), "ratio"),
      ("solve.wall_s", t.layerWall("solve"), "s"),
      ("solve.cpu_s", g("solve").cpuS, "s"),
      ("solve.jobs", g("solve").jobs.toDouble, "count"),
      ("solve.clusters", f("clusters"), "count"),
      ("solve.shuffle_mb", g("solve").shuffleMb, "MB"),
      ("spark.jobs", u.stats.jobs.toDouble, "count"),
      ("jvm.gc_s", u.gcS, "s"),
      ("host.canary_mops", canary, "Mops/s"),
      ("trace.total_s", t.totalS, "s"),
      ("trace.overhead_s", t.totalS - u.wallS, "s"))
  }
}
