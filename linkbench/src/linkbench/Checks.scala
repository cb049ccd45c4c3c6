package linkbench

import scala.collection.mutable

final case class Pair(sim: Double, d0: Int, d1: Int, r0: Long, r1: Long)
final case class Member(dset: Int, rec: Long, cluster: Long)

/** Output checks computed by the benchmark itself: nothing here calls
  * the program under test or compares with a stored copy of an earlier
  * output. Each check returns the list of its violations. */
object Checks {

  /** The total order the greedy solver follows: (-sim, dset0, dset1,
    * rec0, rec1). */
  val greedyOrder: Ordering[Pair] =
    Ordering.by((p: Pair) => (-p.sim, p.d0, p.d1, p.r0, p.r1))

  final class UnionFind {
    private val parent = mutable.HashMap.empty[(Int, Long), (Int, Long)]
    def find(x: (Int, Long)): (Int, Long) = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var y = x
      while (y != r) { val n = parent(y); parent(y) = r; y = n }
      r
    }
    def union(a: (Int, Long), b: (Int, Long)): Unit = {
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent(ra) = rb
    }
  }

  def components(pairs: Array[Pair]): UnionFind = {
    val uf = new UnionFind
    pairs.foreach(p => uf.union((p.d0, p.r0), (p.d1, p.r1)))
    uf
  }

  /** Own popcount Dice over little-endian CLK bytes. */
  def dice(a: Array[Byte], b: Array[Byte]): Double = {
    var and = 0; var pa = 0; var pb = 0; var i = 0
    while (i < a.length) {
      and += Integer.bitCount(a(i) & b(i) & 0xff)
      pa += Integer.bitCount(a(i) & 0xff)
      pb += Integer.bitCount(b(i) & 0xff)
      i += 1
    }
    if (pa + pb == 0) 0.0 else 2.0 * and / (pa + pb)
  }

  /** Checks every workload shares: pair shape, threshold, uniqueness,
    * the per-record k cap and a seeded sample of recomputed Dice. */
  def pairs(ps: Array[Pair], threshold: Double, k: Int,
      clks: ((Int, Long)) => Option[Array[Byte]], seed: Long): Seq[String] = {
    val bad = mutable.ArrayBuffer.empty[String]
    def fail(msg: String): Unit = if (bad.length < 5) bad += msg
    if (ps.isEmpty) fail("no candidate pairs written")
    ps.foreach { p =>
      if (!(p.d0 < p.d1)) fail(s"pair with dset0 >= dset1: $p")
      if (!(p.sim >= threshold && p.sim <= 1.0)) fail(s"sim outside [t, 1]: $p")
    }
    val ids = ps.map(p => (p.d0, p.d1, p.r0, p.r1))
    if (ids.distinct.length != ids.length) fail(s"${ids.length - ids.distinct.length} duplicate pairs")
    val left = ps.groupBy(p => (p.d0, p.d1, p.r0)).valuesIterator.map(_.length).maxOption.getOrElse(0)
    val right = ps.groupBy(p => (p.d0, p.d1, p.r1)).valuesIterator.map(_.length).maxOption.getOrElse(0)
    if (left > k || right > k) fail(s"a record is in ${left max right} pairs of one dataset pair (k = $k)")
    val r = new java.util.SplittableRandom(seed)
    (0 until math.min(300, ps.length)).foreach { _ =>
      val p = ps(r.nextInt(ps.length))
      (clks((p.d0, p.r0)), clks((p.d1, p.r1))) match {
        case (Some(a), Some(b)) =>
          val d = dice(a, b)
          if (math.abs(d - p.sim) > 1e-12) fail(s"sim ${p.sim} but recomputed Dice $d: $p")
        case _ => fail(s"pair endpoint not in the input: $p")
      }
    }
    bad.toSeq
  }

  private def byCluster(ms: Array[Member]): Map[Long, Array[Member]] = ms.groupBy(_.cluster)

  private def uniqueRecords(ms: Array[Member]): Seq[String] = {
    val recs = ms.map(m => (m.dset, m.rec))
    if (recs.distinct.length != recs.length) Seq("a record is in more than one cluster") else Nil
  }

  /** link-boilerplate: the clusters are the greedy matching of the
    * written pairs. A matching of one record per party, built from
    * written pairs, in which every unmatched pair shares an endpoint
    * with a matched pair earlier in [[greedyOrder]], is unique and is
    * the greedy result. */
  def greedyMatching(ps: Array[Pair], ms: Array[Member]): Seq[String] = {
    val bad = mutable.ArrayBuffer.empty[String]
    bad ++= uniqueRecords(ms)
    val matched = byCluster(ms).valuesIterator.flatMap { c =>
      val a = c.filter(_.dset == 0); val b = c.filter(_.dset == 1)
      if (c.length != 2 || a.length != 1 || b.length != 1) {
        bad += s"cluster is not one record per party: ${c.toSeq}"; None
      } else Some((a.head.rec, b.head.rec))
    }.toSet
    val byIds = ps.iterator.filter(p => p.d0 == 0 && p.d1 == 1).map(p => (p.r0, p.r1) -> p).toMap
    if (byIds.size != ps.length) bad += "greedy workload wrote pairs outside dataset pair (0, 1)"
    val missing = matched.filterNot(byIds.contains)
    if (missing.nonEmpty) bad += s"${missing.size} matched pairs are not candidate pairs"
    val left = mutable.HashMap.empty[Long, Pair]
    val right = mutable.HashMap.empty[Long, Pair]
    matched.iterator.flatMap(byIds.get).foreach { p => left(p.r0) = p; right(p.r1) = p }
    val unblocked = ps.count { p =>
      !matched.contains((p.r0, p.r1)) &&
        !left.get(p.r0).exists(greedyOrder.lt(_, p)) &&
        !right.get(p.r1).exists(greedyOrder.lt(_, p))
    }
    if (unblocked > 0) bad += s"$unblocked unmatched pairs have no earlier matched pair at an endpoint"
    bad.toSeq
  }

  /** link-clk: every cluster holds at most one record per party and lies
    * inside one connected component of the written pairs. */
  def partyClusters(ps: Array[Pair], ms: Array[Member]): Seq[String] = {
    val uf = components(ps)
    val bad = mutable.ArrayBuffer.empty[String]
    bad ++= uniqueRecords(ms)
    byCluster(ms).valuesIterator.foreach { c =>
      if (c.map(_.dset).distinct.length != c.length) bad += s"cluster with two records of one party: ${c.toSeq}"
      if (c.map(m => uf.find((m.dset, m.rec))).distinct.length != 1) bad += s"cluster spans components: ${c.toSeq}"
    }
    bad.take(5).toSeq
  }

  /** Pairwise F1 of the clusters against the entity labels; records
    * missing from the cluster table are singletons. */
  def pairF1(ms: Array[Member], truth: collection.Map[(Int, Long), Long]): Double = {
    def choose2(n: Long): Long = n * (n - 1) / 2
    val predicted = byCluster(ms).valuesIterator.map(c => choose2(c.length.toLong)).sum
    val actual = truth.values.groupBy(identity).valuesIterator.map(v => choose2(v.size.toLong)).sum
    val tp = byCluster(ms).valuesIterator.map { c =>
      c.groupBy(m => truth.getOrElse((m.dset, m.rec), -1L - m.rec)).valuesIterator
        .map(g => choose2(g.length.toLong)).sum
    }.sum
    if (predicted == 0 || actual == 0) 0.0
    else {
      val precision = tp.toDouble / predicted
      val recall = tp.toDouble / actual
      if (tp == 0) 0.0 else 2 * precision * recall / (precision + recall)
    }
  }
}
