package linkbench

import java.util.SplittableRandom

/** Seeded input generators for the two workloads.
  *
  * Everything here is the benchmark's own code (own hashing, own word
  * list, own Bloom insertion), so no change to the program under test
  * can change the inputs. The same (workload, seed, [[Version]]) always
  * yields byte-identical records. Every record carries its entity label;
  * two records are a true match iff they share an entity.
  */
object Gen {

  /** Bump whenever a generator's output changes: inputs are cached on
    * disk under this version. */
  val Version = 1

  final case class Page(party: Int, url: String, text: String, entity: Long)
  final case class Clk(party: Int, recId: Long, clk: Array[Byte], entity: Long)

  /** splitmix64 finalizer. */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** An independent random stream per (seed, stream, id). */
  def rng(seed: Long, stream: Long, id: Long): SplittableRandom =
    new SplittableRandom(mix(mix(seed * 0x2545f4914f6cdd1dL ^ mix(stream)) + id))

  val VocabSize = 4000
  private val vocab: Array[String] = Array.tabulate(VocabSize) { i =>
    var h = mix(0x70cab1eL + i)
    val len = 3 + java.lang.Long.remainderUnsigned(h >>> 8, 6L).toInt
    val cs = new Array[Char](len)
    var j = 0
    while (j < len) {
      cs(j) = ('a' + java.lang.Long.remainderUnsigned(h, 26L).toInt).toChar
      h = mix(h)
      j += 1
    }
    new String(cs)
  }

  private def words(r: SplittableRandom, n: Int): Array[Int] =
    Array.fill(n)(r.nextInt(VocabSize))

  /** Per word: with probability p/2 substitute a random word, with p/2
    * delete it. */
  private def perturb(ws: Array[Int], p: Double, r: SplittableRandom): Array[Int] = {
    val out = Array.newBuilder[Int]
    ws.foreach { w =>
      val u = r.nextDouble()
      if (u >= p) out += w
      else if (u >= p / 2) out += r.nextInt(VocabSize)
    }
    out.result()
  }

  private def text(ws: Array[Int]): String = ws.iterator.map(vocab(_)).mkString(" ")

  // ---- link-boilerplate -------------------------------------------

  /** Records per party on the largest host, and on the 40 Zipf-sized
    * hosts behind it. */
  val BigHost = 4500
  val TailRecords = 600
  val TailHosts = 40
  val HeaderWords = 22
  val FooterWords = 20
  val FamilySize = 12
  /** Host templates are the same for every seed, so the hot band keys
    * and their cell sizes (the salting and kernel load) barely move
    * between seeds; the seed draws the entities, bodies and families. */
  val TemplateSeed = 0x7e3a1a7eL

  /** Two-party boilerplate pages. Every page of a host wraps its body
    * in the host's header and footer template, so the template
    * dominates the shingle set: same-host pages of different entities
    * collide on the template's minhash band keys (the largest host's
    * keys exceed the default pair budget of 4M comparisons per cell and
    * are salted) while their Dice stays below 0.8. 60% of each host's
    * entities appear in both parties; a third of those come in families
    * of 12 near-duplicate bodies, so records compete for k and for the
    * greedy matching. Host sizes are skewed: one host of [[BigHost]]
    * pages per party, then [[TailRecords]] pages per party over
    * [[TailHosts]] hosts with Zipf(1.1) weights. */
  def boilerplatePages(seed: Long): Seq[Page] = {
    val w = (1 to TailHosts).map(h => 1.0 / math.pow(h.toDouble, 1.1))
    val tail = w.map(x => math.max(2, math.round(TailRecords * x / w.sum).toInt))
    val sizes = BigHost +: tail
    var nextEntity = 0L
    sizes.zipWithIndex.flatMap { case (n, h) =>
      val tr = rng(TemplateSeed, 10, h)
      val header = words(tr, HeaderWords)
      val footer = words(tr, FooterWords)
      val shared = math.round(0.6 * n).toInt
      val inFamilies = (shared / 3 / FamilySize) * FamilySize
      val first = nextEntity
      nextEntity += shared + 2 * (n - shared)
      // entity e's body: a family base perturbed by 15%, or its own words
      def body(i: Int): Array[Int] = {
        val r = rng(seed, 11, first + i)
        if (i < inFamilies) {
          val fam = rng(seed, 12, first + i / FamilySize)
          perturb(words(fam, 14 + fam.nextInt(5)), 0.15, r)
        } else words(r, 12 + r.nextInt(9))
      }
      def page(i: Int, p: Int): Page = {
        val e = first + i
        val b = perturb(body(i), 0.03, rng(seed, 13 + p, e))
        Page(p, s"https://h$h.example/item/$e/p$p", text(header ++ b ++ footer), e)
      }
      (0 until shared).flatMap(i => Seq(page(i, 0), page(i, 1))) ++
        (0 until n - shared).map(i => page(shared + i, 0)) ++
        (0 until n - shared).map(i => page(shared + n - shared + i, 1))
    }
  }

  // ---- link-clk ---------------------------------------------------

  val ClkEntities = 3750
  val ClkPerParty = 3000
  val ClkBits = 1024
  /** Bits flipped in each party's copy of an entity's CLK. */
  val Flips = Array(5, 15, 26)
  /** Every fifth entity is a near-twin of the one before it. */
  val TwinEvery = 5

  /** Three-party CLKs. Each of 3750 entities has a clkhash-style Bloom
    * filter: 50–70 tokens from a 3000-token alphabet, 8 bits per token
    * in 1024 bits (≈37% fill). Every fifth entity reuses its
    * predecessor's tokens with 15% replaced, so twins score above the
    * threshold and the solver must tell them apart. Each party holds
    * 3000 of the entities in its own random order (recId = position)
    * and flips a fixed number of random bits per record ([[Flips]]). */
  def clkParties(seed: Long): Seq[Clk] = {
    val tokens = new Array[Array[Int]](ClkEntities)
    (0 until ClkEntities).foreach { e =>
      val r = rng(seed, 20, e)
      tokens(e) =
        if (e % TwinEvery == TwinEvery - 1)
          tokens(e - 1).map(t => if (r.nextDouble() < 0.15) r.nextInt(3000) else t)
        else Array.fill(50 + r.nextInt(21))(r.nextInt(3000))
    }
    val bases = tokens.map { ts =>
      val bits = new java.util.BitSet(ClkBits)
      ts.foreach { t =>
        val h1 = mix(t ^ 0x5eedL)
        val h2 = mix(t + 0x3c6ef372L) | 1L
        (0 until 8).foreach(i =>
          bits.set(java.lang.Long.remainderUnsigned(h1 + i * h2, ClkBits.toLong).toInt))
      }
      bits
    }
    (0 until 3).flatMap { p =>
      val order = shuffled(ClkEntities, rng(seed, 21, p))
      (0 until ClkPerParty).map { i =>
        val e = order(i)
        val r = rng(seed, 22 + p, e)
        val bits = bases(e).clone().asInstanceOf[java.util.BitSet]
        shuffled(ClkBits, r).take(Flips(p)).foreach(bits.flip)
        val bytes = java.util.Arrays.copyOf(bits.toByteArray, ClkBits / 8)
        Clk(p, i.toLong, bytes, e.toLong)
      }
    }
  }

  private def shuffled(n: Int, r: SplittableRandom): Array[Int] = {
    val a = Array.tabulate(n)(identity)
    var i = n - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a
  }
}
