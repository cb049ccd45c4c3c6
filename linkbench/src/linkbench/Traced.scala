package linkbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.{BitBandBlocking, Linkage, LinkageParams, MinhashBlocking, RunPipeline}
import graft.cand.Candidates
import graft.io.{ClkJsonSource, Snapshots}

final case class Span(name: String, startS: Double, endS: Double) {
  def wallS: Double = endS - startS
}

/** One traced pass and what it measured. */
final case class TracedPass(
    spans: Seq[Span],
    groups: Map[String, GroupStats],
    funnel: Seq[(String, Long)],
    funnelS: Double,
    passWallS: Double,
    writeBytes: Long,
    violations: Seq[String]) {
  def layerWall(name: String): Double =
    spans.iterator.filter(_.name == name).map(_.wallS).sum
  def totalS: Double = spans.iterator.map(_.wallS).sum
}

/** The traced run: calls each layer's public functions in turn, the way
  * `RunPipeline.run` composes them, and materialises each layer's output
  * before the next starts, so that every job belongs to exactly one
  * layer. Each layer runs under its own job group; the [[Meter]]
  * attributes task CPU, shuffle, spill and task-time skew to it.
  * Funnel counts run under the `funnel` group, outside every layer.
  * Covers the two solvers and blockings the workloads use. */
object Traced {

  def pass(spark: SparkSession, meter: Meter, c: RunPipeline.Config): TracedPass = {
    val sc = spark.sparkContext
    val origin = System.nanoTime()
    def now: Double = (System.nanoTime() - origin) / 1e9
    val spans = mutable.ArrayBuffer.empty[Span]
    def layer[T](name: String)(body: => T): T = {
      val t0 = now
      val out = meter.inGroup(name)(body)
      spans += Span(name, t0, now)
      out
    }
    var funnelS = 0.0
    val funnel = mutable.ArrayBuffer.empty[(String, Long)]
    def record(name: String)(body: => Long): Unit = {
      val t0 = now
      funnel += name -> meter.inGroup("funnel")(body)
      funnelS += now - t0
    }
    val cached = mutable.ArrayBuffer.empty[Dataset[_]]
    def keep[T](ds: Dataset[T]): Dataset[T] = { cached += ds; ds.cache() }

    // the same snapshot scoping and parameters RunPipeline.run derives
    val inputKey = c.inputs.mkString(",") + "/" + c.format + "/" + c.dsetCol
    val ckpt = c.checkpointDir.map(d => Snapshots.stageDir(d, "run", inputKey))
    val blocking = if (c.blocking == "minhash") MinhashBlocking() else BitBandBlocking()
    val params = LinkageParams(blocking = blocking, threshold = c.threshold, k = c.k,
      pairBudget = c.pairBudget, checkpointDir = ckpt)
    val minParts = sc.defaultParallelism
    def rebalanced[T](ds: Dataset[T]): Dataset[T] =
      if (ds.rdd.getNumPartitions < minParts) ds.repartition(2 * minParts) else ds

    try {
      val (enc, scan) = c.format match {
        case "pages" =>
          val scan = c.inputs.zipWithIndex
            .map { case (p, ix) =>
              spark.read.parquet(p).select(col("url"), col("text")).withColumn("graft_dset", lit(ix))
            }
            .reduce(_ unionByName _)
          val pruned = layer("io.read") {
            scan.count()
            val r = keep(rebalanced(scan)); r.count(); r
          }
          val enc = layer("encode") {
            val e = keep(Linkage.encode(pruned, params, col("graft_dset"))); e.count(); e
          }
          (enc, Some(scan))
        case _ =>
          val decoded = layer("io.read") {
            c.inputs.map { p => val d = keep(ClkJsonSource.readJsonl(spark, p)); d.count(); d }
          }
          val enc = layer("encode") {
            val e = keep(rebalanced(decoded.zipWithIndex
              .map { case (d, ix) => ClkJsonSource.toEncoded(d, ix, params.blocking) }
              .reduce(_ union _)))
            e.count(); e
          }
          (enc, None)
      }
      record("records")(enc.count())
      record("band_rows")(enc.select(sum(size(col("bandKeys")))).head().getLong(0))

      val (blocked, salted) = layer("block") {
        val (b, s) = Linkage.blockAndSaltWithStats(enc, params)
        val bc = keep(b); bc.count(); (bc, s)
      }
      record("blocked_rows")(blocked.count())
      record("hot_keys")(blocked.where(col("salt") > 0).select("key").distinct().count())
      val cells = blocked.groupBy("key", "salt", "dsetId").count()
        .groupBy("key", "salt")
        .agg(sum("count").as("s"), sum(col("count") * col("count")).as("s2"))
        .select(((col("s") * col("s") - col("s2")) / 2).cast("long").as("cmp"))
        .agg(count(lit(1)), max("cmp"), sum("cmp"))
      var census: org.apache.spark.sql.Row = null
      record("cells") { census = cells.head(); census.getLong(0) }
      record("max_cell_cmp")(census.getLong(1))

      val acc = sc.longAccumulator("linkbench.comparisons")
      val keyed = c.k.isDefined && salted
      val scored = layer("sim") {
        val s = keep(
          if (keyed) Linkage.scorePairsWithKey(blocked, params, Some(acc))
          else Linkage.scorePairs(blocked, params, Some(acc)))
        s.count(); s
      }
      record("comparisons")(acc.value)
      record("emitted")(scored.count())

      val raw = if (keyed) Candidates.perBlockTopK(scored, c.k.get).drop("key") else scored
      record("distinct_pairs")(raw.select("dset0", "dset1", "rec0", "rec1").distinct().count())
      val pairs0 = layer("cand") {
        val p = keep(Candidates.finalize(raw, c.k)); p.count(); p
      }
      record("pairs")(pairs0.count())
      val pairs = layer("io.snapshot") {
        val s = Snapshots.resumeOrCompute(spark, ckpt, "candidates", params.toString + "/clk")(pairs0)
        if (ckpt.isDefined) s.count()
        s
      }
      Seq(enc, blocked, scored).foreach(_.unpersist())

      var clusters: DataFrame = null
      layer("solve") {
        clusters =
          if (c.solver == "greedy") {
            // RunPipeline's two-dataset guard, one job
            val combos = pairs.select(col("dset0"), col("dset1")).distinct().limit(2).collect()
            require(combos.length <= 1, "greedy needs two datasets")
            graft.solve.DistributedGreedy.clusters2Party(pairs,
              checkpointDir = ckpt.map(d => s"$d/greedy"))
          } else
            graft.solve.DistributedProbGreedy.clusters(pairs, c.mergeThreshold.getOrElse(0.5),
              deduplicated = !c.allowSameDataset, checkpointDir = ckpt.map(d => s"$d/prob"))
        val row = clusters.agg(count(lit(1)), countDistinct(col("clusterId"))).head()
        record("clusters")(row.getLong(1))
      }

      layer("io.write") {
        c.pairsOut.foreach(d => pairs.write.mode("overwrite").parquet(d))
        val out = scan.filter(_ => c.urls) match {
          case Some(pages) =>
            val ident = pages
              .select(col("graft_dset").as("dsetId"), Linkage.recIdCol(col("url")).as("recId"), col("url"))
              .dropDuplicates("dsetId", "recId")
            clusters.join(ident, Seq("dsetId", "recId"), "left")
          case None => clusters
        }
        out.write.mode("overwrite").parquet(c.out)
        for (d <- ckpt; sub <- Seq("greedy", "prob")) Files.delete(s"$d/$sub")
        Files.write(s"${c.out}/_SUMMARY.json", Json.obj(funnel.toSeq.map { case (k, v) => k -> Json.num(v) }))
      }
      Seq[Dataset[_]](pairs0, clusters).foreach(_.unpersist())

      val comparisons = funnel.find(_._1 == "comparisons").get._2
      val violations =
        if (comparisons == census.getLong(2)) Nil
        else Seq(s"kernel comparisons $comparisons != cell census ${census.getLong(2)}")
      val writeBytes = Files.size(c.out) + c.pairsOut.map(Files.size).getOrElse(0L)
      TracedPass(spans.toSeq, meter.take(), funnel.toSeq, funnelS, now, writeBytes, violations)
    } finally cached.foreach(_.unpersist())
  }
}
