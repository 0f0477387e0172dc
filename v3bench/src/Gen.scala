package v3bench

import java.sql.Timestamp
import scala.collection.mutable.ArrayBuffer

import graft.v3.{Swap, SwapMath}

/** Seeded generator of Uniswap v3 event tables and of a planted
  * curation corpus, plus the plain-Scala truth every check compares
  * against. Nothing here touches Spark: the rows are handed to the
  * program as DataFrames by the workloads.
  *
  * Pool model: one wide base position over the whole tick range at
  * pool creation (so every price has positive in-range liquidity),
  * then a seeded mix of swaps and mint/burns. The swap tick is a
  * random walk; `sqrtPriceX96` is the price at the middle of that tick,
  * so the tick floored from the price is the stored tick. Every event
  * of a chain sits in its own block, so `as_of` is unique per pool. */
object Gen {

  val TickSpacing = 60L
  val Fee = 3000L
  val MaxUsable: Long = Math.floorDiv(SwapMath.MaxTick, TickSpacing) * TickSpacing
  val Genesis: Long = 1700000000000L // ms, 2023-11-14
  val BlockMs = 12000L
  val FirstBlock = 1000L

  final case class PoolSpec(chain: String, address: String, token0: String,
                            token1: String, createdBlock: Long)

  final case class SwapRow(chain: String, address: String, block: Long,
                           tx: Long, log: Long, tick: Long, sqrtX96: String,
                           amount0: String, amount1: String, liquidity: String,
                           gasPrice: Long, gasUsed: Long, hash: String) {
    def asOf: Double = block + tx / 1e4
    def ts: Timestamp = new Timestamp(Genesis + (block - FirstBlock) * BlockMs)
  }

  final case class MbRow(chain: String, address: String, block: Long, tx: Long,
                         log: Long, amount: Long, tickLower: Long,
                         tickUpper: Long, typ: Int, owner: String,
                         hash: String) {
    def asOf: Double = block + tx / 1e4
    def ts: Timestamp = new Timestamp(Genesis + (block - FirstBlock) * BlockMs)
  }

  final case class Events(pools: IndexedSeq[PoolSpec],
                          swaps: IndexedSeq[SwapRow],
                          mbs: IndexedSeq[MbRow]) {
    lazy val swapsByPool: Map[(String, String), IndexedSeq[SwapRow]] =
      swaps.groupBy(s => (s.chain, s.address)).map { case (k, v) => k -> v.sortBy(_.asOf) }
    lazy val mbsByPool: Map[(String, String), IndexedSeq[MbRow]] =
      mbs.groupBy(m => (m.chain, m.address)).map { case (k, v) => k -> v.sortBy(_.asOf) }
    def blockRange(chain: String): (Long, Long) = {
      val bs = swaps.iterator.filter(_.chain == chain).map(_.block) ++
        mbs.iterator.filter(_.chain == chain).map(_.block)
      bs.foldLeft((Long.MaxValue, Long.MinValue)) { case ((lo, hi), b) =>
        (math.min(lo, b), math.max(hi, b)) }
    }
  }

  private def hex(r: java.util.SplittableRandom, n: Int): String = {
    val sb = new StringBuilder("0x")
    (0 until n).foreach(_ => sb.append("0123456789abcdef".charAt(r.nextInt(16))))
    sb.toString
  }

  /** sqrtPriceX96 of the middle of `tick`, as an exact integer string. */
  def sqrtX96(tick: Long): String =
    (BigDecimal(math.pow(1.0001, (tick + 0.5) / 2)) * BigDecimal(BigInt(2).pow(96)))
      .toBigInt.toString

  /** `eventsPerChain` events per chain spread over `poolsPerChain` pools;
    * about one in six is a mint or burn. */
  def events(seed: Long, chains: Seq[String], poolsPerChain: Int,
             eventsPerChain: Int): Events = {
    val r = new java.util.SplittableRandom(seed)
    val pools = ArrayBuffer.empty[PoolSpec]
    val swaps = ArrayBuffer.empty[SwapRow]
    val mbs = ArrayBuffer.empty[MbRow]
    chains.foreach { chain =>
      final class State(val spec: PoolSpec, var tick: Long) {
        val open = ArrayBuffer.empty[(Long, Long, Long, String)] // lower, upper, amount, owner
        var liquidity = 0L
      }
      val st = (0 until poolsPerChain).map { p =>
        val spec = PoolSpec(chain, hex(r, 40), hex(r, 40), hex(r, 40),
          FirstBlock - 100 + p)
        pools += spec
        new State(spec, r.nextLong(-60000L, 60000L))
      }
      var block = FirstBlock
      // base position first, one block per pool
      st.foreach { s =>
        val amt = 1000000000000L + r.nextLong(1000000000L)
        mbs += MbRow(chain, s.spec.address, block, 0L, 0L, amt, -MaxUsable,
          MaxUsable, 1, hex(r, 40), hex(r, 64))
        s.liquidity += amt
        block += 1
      }
      (0 until eventsPerChain).foreach { _ =>
        block += 1 + r.nextInt(4)
        val s = st(r.nextInt(st.size))
        val tx = r.nextLong(200L)
        val log = r.nextLong(400L)
        val k = r.nextInt(12)
        if (k == 0 || (k == 1 && s.open.isEmpty)) {
          val lower = (Math.floorDiv(s.tick, TickSpacing) - 1 - r.nextInt(20)) * TickSpacing
          val upper = lower + (2 + r.nextInt(30)) * TickSpacing
          val amt = 1000000000L + r.nextLong(100000000000L)
          val owner = hex(r, 40)
          s.open += ((lower, upper, amt, owner))
          if (lower <= s.tick && s.tick < upper) s.liquidity += amt
          mbs += MbRow(chain, s.spec.address, block, tx, log, amt, lower, upper, 1,
            owner, hex(r, 64))
        } else if (k == 1) {
          val i = r.nextInt(s.open.size)
          val (lower, upper, amt, owner) = s.open(i)
          val burn = if (r.nextBoolean()) amt else amt / 2
          if (burn == amt) s.open.remove(i) else s.open(i) = (lower, upper, amt - burn, owner)
          if (lower <= s.tick && s.tick < upper) s.liquidity -= burn
          mbs += MbRow(chain, s.spec.address, block, tx, log, burn, lower, upper, -1,
            owner, hex(r, 64))
        } else {
          val step = r.nextLong(-40L, 41L)
          val next = s.tick + step
          // in-range liquidity follows the positions the tick crosses
          s.open.foreach { case (lo, hi, a, _) =>
            val was = lo <= s.tick && s.tick < hi
            val is = lo <= next && next < hi
            if (was && !is) s.liquidity -= a else if (!was && is) s.liquidity += a
          }
          s.tick = next
          val a0 = r.nextLong(1L, 1000000000000L)
          val a1 = r.nextLong(1L, 1000000000000L)
          val up = step >= 0
          swaps += SwapRow(chain, s.spec.address, block, tx, log, s.tick, sqrtX96(s.tick),
            (if (up) -a0 else a0).toString, (if (up) a1 else -a1).toString,
            s.liquidity.toString, 1000000000L + r.nextLong(50000000000L),
            21000L + r.nextLong(300000L), hex(r, 64))
        }
      }
    }
    Events(pools.toIndexedSeq, swaps.toIndexedSeq, mbs.toIndexedSeq)
  }

  // ---- v3 truth ----------------------------------------------------

  /** Latest swap strictly before `asOf` (the Pool getters' contract). */
  def swapBefore(ev: Events, chain: String, pool: String, asOf: Double): Option[SwapRow] = {
    val ss = ev.swapsByPool.getOrElse((chain, pool), IndexedSeq.empty)
    var lo = 0; var hi = ss.length // first index with asOf >= bound
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (ss(mid).asOf < asOf) lo = mid + 1 else hi = mid
    }
    if (lo == 0) None else Some(ss(lo - 1))
  }

  /** Liquidity distribution strictly before `asOf`: per-side nonzero
    * net deltas, combined per tick, running sum in tick order. Amounts
    * are integers below 2^53, so these sums are exact in Double. */
  def liquidityAt(mbs: Iterable[MbRow], asOf: Double): IndexedSeq[(Long, Double)] = {
    val lower = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    val upper = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    mbs.foreach { m =>
      if (m.asOf < asOf) {
        lower(m.tickLower) += m.amount * m.typ
        upper(m.tickUpper) -= m.amount * m.typ
      }
    }
    val ticks = (lower.filter(_._2 != 0).keySet ++ upper.filter(_._2 != 0).keySet)
      .toIndexedSeq.sorted
    var cum = 0L
    ticks.map { t => cum += lower(t) + upper(t); (t, cum.toDouble) }
  }

  def poolLiquidityAt(ev: Events, chain: String, pool: String, asOf: Double): IndexedSeq[(Long, Double)] =
    liquidityAt(ev.mbsByPool.getOrElse((chain, pool), IndexedSeq.empty), asOf)

  /** The swap precompute built from truth liquidity, exactly as
    * `Liquidity.swapDF` + `Pool.calcSwapDF` define it, so the program's
    * `Swap.swapIn` can be run over generator-built ticks. */
  def swapState(ev: Events, chain: String, pool: String, asOf: Double)
      : (IndexedSeq[Swap.SwapTick], Swap.InRangeValues) = {
    val price = BigInt(swapBefore(ev, chain, pool, asOf).get.sqrtX96).toDouble
    val tickFloor = SwapMath.priceX96ToTickFloor(price, TickSpacing)
    val pos = poolLiquidityAt(ev, chain, pool, asOf).filter(_._2 > 0)
    val ticks = pos.indices.map { i =>
      val (t, l) = pos(i)
      val tb = if (i + 1 < pos.length) pos(i + 1)._1 else MaxUsable
      // Spark's pow is StrictMath.pow
      val pa = StrictMath.pow(StrictMath.pow(1.0001, t.toDouble), 0.5)
      val pb = StrictMath.pow(StrictMath.pow(1.0001, tb.toDouble), 0.5)
      Swap.SwapTick(l, t, tb, pa, pb, l * ((pb - pa) / (pb * pa)), l * (pb - pa))
    }
    val c = ticks.find(t => t.tickA <= tickFloor && t.tickB > tickFloor).get
    val sqrtP = price / SwapMath.Q96
    (ticks, Swap.InRangeValues(sqrtP,
      inRange0 = SwapMath.getAmount0Delta(c.pA, sqrtP, c.liquidity),
      inRangeToSwap0 = SwapMath.getAmount1Delta(c.pA, sqrtP, c.liquidity),
      inRange1 = SwapMath.getAmount1Delta(c.pB, sqrtP, c.liquidity),
      inRangeToSwap1 = SwapMath.getAmount0Delta(c.pB, sqrtP, c.liquidity),
      liquidity = c.liquidity, tick = c.tickA))
  }

  /** Non-gas price series: per epoch-aligned bucket at or after `start`
    * with any swap on the chain, the bucket's max block and the pool's
    * last tick in the latest pool bucket at or before it. */
  def priceSeries(ev: Events, chain: String, pool: String, startMs: Long,
                  bucketMs: Long): Map[Long, (Long, Option[Long])] = {
    def bucket(ms: Long) = Math.floorDiv(ms, bucketMs) * bucketMs
    val chainSwaps = ev.swaps.filter(s => s.chain == chain && s.ts.getTime >= startMs)
    val blocks = chainSwaps.groupBy(s => bucket(s.ts.getTime)).map { case (b, ss) => b -> ss.map(_.block).max }
    val poolLast = chainSwaps.filter(_.address == pool)
      .groupBy(s => bucket(s.ts.getTime))
      .map { case (b, ss) => b -> ss.maxBy(s => (s.block, s.tx, s.log)).tick }
    val poolBuckets = poolLast.keys.toIndexedSeq.sorted
    blocks.map { case (b, bn) =>
      val prior = poolBuckets.takeWhile(_ <= b).lastOption
      b -> (bn, prior.map(poolLast))
    }
  }

  // ---- curation corpus --------------------------------------------

  final case class Corpus(docs: IndexedSeq[(Long, String)],
                          originalOf: Map[Long, Long], // planted copy id -> original id
                          exactCopies: Set[Long]) {
    def baseIds: Set[Long] = docs.map(_._1).toSet -- originalOf.keySet
  }

  private val Stop = Array("the", "and", "of", "to", "in", "a", "is", "for", "on", "with")
  private val Syllables = Array("ka", "lo", "mi", "ren", "tas", "vo", "pel", "dri",
    "sun", "ma", "tor", "qui", "ben", "gal", "fe", "nox", "ri", "stu", "wam", "zel")

  /** `bases` documents of 120 whitespace tokens drawn from a seeded
    * pseudo-word vocabulary with about one stopword in seven (so every
    * base passes the quality gate and no two bases share a 5-gram), then
    * `exact` byte-identical copies and `near` copies whose last token is
    * replaced. Every copy gets an id above its original's. */
  def corpus(seed: Long, bases: Int, exact: Int, near: Int): Corpus = {
    val r = new java.util.SplittableRandom(seed ^ 0x5eedL)
    // every two-syllable word plus 200 three-syllable ones: a mean token
    // length near 5.6 characters, inside the gate's 3-7 band
    def syl() = Syllables(r.nextInt(Syllables.length))
    val vocab = (for (a <- Syllables; b <- Syllables) yield a + b) ++
      Array.fill(200)(syl() + syl() + syl())
    def word() = if (r.nextInt(7) == 0) Stop(r.nextInt(Stop.length)) else vocab(r.nextInt(vocab.length))
    val base = (0 until bases).map(i => (i.toLong * 3 + 1, Array.fill(120)(word()).mkString(" ")))
    val docs = ArrayBuffer.from(base)
    val originalOf = scala.collection.mutable.Map.empty[Long, Long]
    val exactIds = scala.collection.mutable.Set.empty[Long]
    var next = bases.toLong * 3 + 10
    def plant(n: Int)(f: String => String): Seq[Long] = (0 until n).map { _ =>
      val (oid, text) = base(r.nextInt(base.size))
      next += 1 + r.nextInt(3)
      docs += ((next, f(text)))
      originalOf(next) = oid
      next
    }
    exactIds ++= plant(exact)(identity)
    plant(near) { t =>
      val toks = t.split(' ')
      var w = word()
      while (w == toks.last) w = word()
      toks(toks.length - 1) = w
      toks.mkString(" ")
    }
    // arrival order is not id order
    val shuffled = docs.toIndexedSeq.map(d => (r.nextLong(), d)).sortBy(_._1).map(_._2)
    Corpus(shuffled, originalOf.toMap, exactIds.toSet)
  }
}
