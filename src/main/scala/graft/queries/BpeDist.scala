package graft

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

import scala.collection.mutable

/** Executor-side BPE merge training above the driver dictionary
  * budget — [[Text.bpeTrainAt]]'s one fallback (round-18, after the
  * round-17 vocabulary-stress measurement proved exact (unpruned)
  * training leaves any driver budget toward a 1e8-word web
  * vocabulary — SCALE.md: 385 s / 18.6 GB at 6.22M distinct words,
  * 1047 s / 46.3 GB at 14.05M, super-linear in both axes).
  *
  * Architecture — the dictionary never visits the driver:
  *
  *   - The (freq, sym) dictionary RDD is cached once and each
  *     partition materializes a [[Shard]] in an executor-local
  *     registry: its slice's words + freqs, per-pair posting bags
  *     ([[Text.IntBag]] — the same stale-tolerant append-only
  *     membership the in-memory trainer uses), and a running token
  *     total. Shard state is O(slice); driver state is O(distinct
  *     adjacent pairs) — the pair-count queue, which starts ≤ 256²
  *     for a byte alphabet and stays orders of magnitude below the
  *     dictionary (pairs are symbol-vocabulary-shaped, words are
  *     corpus-vocabulary-shaped).
  *   - Each training step runs ONE job: every shard applies the
  *     step's merge batch to its affected words only (posting-bag
  *     drain, exactly the driver trainer's inner loop) and returns
  *     the resulting pair-count DELTAS plus its token total. The
  *     driver folds the deltas into its queue — winner selection is
  *     then a driver-local heap read, no per-round count pass.
  *   - Fault tolerance is by deterministic rebuild, not replication:
  *     a shard is valid only if its applied-merge count equals the
  *     rules prefix the driver expects; any mismatch (lost executor,
  *     task retry after a partial mutation, speculative twin) makes
  *     the task re-derive the shard from the cached base slice by
  *     re-encoding each word under the rules-so-far with the
  *     rank-cursor encoder ([[Text.bpeEncodeSymsRank]] — fuzz-pinned
  *     equal to the sequential merge fold, which is exactly the
  *     trainer's word state). Rules ship as a periodically refreshed
  *     broadcast plus a ≤[[bcRefreshEvery]]-rule closure tail, so a
  *     32k-round train creates ~128 broadcasts, not 32k.
  *
  * Exact batching: one job per merge round would pace a 32k train on
  * job latency, so each step takes the maximal PROVABLY-SAFE prefix
  * of the count-ordered queue — extending while each next candidate
  * (a) shares no symbol with any earlier member or its merged string
  * (disjointness means earlier members cannot change its count, so
  * the recorded count is exactly what a one-at-a-time trainer would
  * record), (b) strictly exceeds every possible new-pair count the
  * earlier members can create (a pair born of merge (l,r) occupies a
  * pre-image adjacency ending at l or starting at r, so its count is
  * ≤ max existing count with right=l or left=r — tracked as
  * monotone-raised per-symbol upper bounds, refreshed exact every
  * [[ubRefreshEvery]] steps), and (c) stopping once a member's
  * merged string aliases a live symbol (only then can an EXISTING
  * pair's count grow, invalidating bounds below it). On natural text
  * the prefix is long (top pairs diversify fast); on adversarially
  * uniform pair distributions it degrades to one merge per job and
  * the train is paced by ~10 ms local job latency — both exact.
  * TextBpeSpec pins the result bit-identical to [[Text.bpeTrainDriver]]
  * (merge table, counts, exhaustion, token accounting) on the fuzz
  * corpora and the 1000-merge fixture; t33 gates the same equality
  * on the real corpus inside the driver's DuckDB harness.
  *
  * Reference scope note: the reference repo trains nothing like this
  * (its text work is the `spark_jobs` KPI queries); this operator is
  * part of the mandated LLM-pipeline surface, with the contract
  * inherited from t21's oracle-gated merge loop.
  */
object BpeDist {

  /** Broadcast the rules prefix every this-many merges; the gap since
    * the last broadcast rides in the task closure (≤ this many pairs).
    */
  private val bcRefreshEvery = 256

  /** Recompute the per-symbol count upper bounds exactly (full pair
    * map scan, O(distinct pairs)) every this-many steps; between
    * refreshes the bounds only ever over-estimate (raised on count
    * increases, never lowered on decreases) — safe, just batch-
    * shrinking.
    */
  private val ubRefreshEvery = 64

  /** One partition's slice of the training dictionary: mutable word
    * arrays, posting bags, and a running token total. All mutation
    * happens inside the per-shard lock in [[runStep]].
    */
  private[graft] final class Shard(
      val freqs: Array[Long], val words: Array[Array[String]]) {
    var mergesApplied: Int = 0
    var tokens: Long = {
      var t = 0L; var i = 0
      while (i < words.length) { t += freqs(i) * words(i).length; i += 1 }
      t
    }
    private val postings =
      new mutable.AnyRefMap[String, Text.IntBag](words.length * 2)

    /** Scan word wi's adjacent pairs: bump `delta` (skipped when
      * null — the rebuild path re-registers postings without
      * re-emitting counts the driver already holds) and, on +1
      * scans, append to the posting bags (append-only membership —
      * see [[Text.IntBag]]).
      */
    private def scanWord(
        wi: Int, sign: Long, delta: mutable.AnyRefMap[String, Long]): Unit = {
      val w = words(wi); val f = freqs(wi) * sign
      var i = 0
      while (i < w.length - 1) {
        val p = w(i) + " " + w(i + 1)
        if (delta != null) {
          val nw = delta.getOrElse(p, 0L) + f
          if (nw == 0L) delta.remove(p) else delta.update(p, nw)
        }
        if (sign > 0) postings.getOrElseUpdate(p, new Text.IntBag(4)).add(wi)
        i += 1
      }
    }

    /** Register every word's pairs. With a non-null `delta` this IS
      * the initial global count emission; with null it rebuilds
      * postings only.
      */
    def registerAll(delta: mutable.AnyRefMap[String, Long]): Unit = {
      var wi = 0
      while (wi < words.length) { scanWord(wi, 1L, delta); wi += 1 }
    }

    /** Apply the step's merges in round order — the driver trainer's
      * inner loop verbatim: drain the pair's posting bag (a superset
      * of current holders; stale members rewrite to themselves), and
      * for each actually-rewritten word emit a −1 scan of the old
      * pairs and a +1 scan of the new ones into `delta`.
      */
    def applyBatch(
        batch: Array[(String, String)],
        delta: mutable.AnyRefMap[String, Long]): Unit = {
      var b = 0
      while (b < batch.length) {
        val l = batch(b)._1; val r = batch(b)._2
        val affected = postings.get(l + " " + r)
          .map(_.drainSortedDistinct()).getOrElse(Array.empty[Int])
        var k = 0
        while (k < affected.length) {
          val wi = affected(k)
          val w = words(wi)
          val nw = Text.bpeApplyMerge(w, l, r)
          if (!(nw eq w)) {
            scanWord(wi, -1L, delta)
            tokens -= freqs(wi) * (w.length - nw.length)
            words(wi) = nw
            scanWord(wi, 1L, delta)
          }
          k += 1
        }
        mergesApplied += 1
        b += 1
      }
    }
  }

  /** Executor-local shard registry, keyed "trainId:partitionId".
    * Entries from dead trains (a crashed driver loop never reaches
    * its cleanup job) are evicted after 30 idle minutes.
    */
  private object Registry {
    private final class Entry(val shard: Shard) {
      @volatile var lastUsed: Long = System.currentTimeMillis()
    }
    private val m = new java.util.concurrent.ConcurrentHashMap[String, Entry]()
    // never evicted (tiny monitor objects, removed with their train) —
    // so two concurrent tasks for one shard always see ONE monitor
    private val locks =
      new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()
    private val ttlMs = 30L * 60 * 1000

    def lockFor(key: String): AnyRef =
      locks.computeIfAbsent(key, _ => new Object)

    def get(key: String): Option[Shard] = Option(m.get(key)).map { e =>
      e.lastUsed = System.currentTimeMillis(); e.shard
    }

    def put(key: String, s: Shard): Unit = {
      val now = System.currentTimeMillis()
      val it = m.entrySet().iterator()
      while (it.hasNext) {
        if (now - it.next().getValue.lastUsed > ttlMs) it.remove()
      }
      m.put(key, new Entry(s))
      ()
    }

    def removeTrain(trainId: String): Unit = {
      val p = trainId + ":"
      val it = m.keySet().iterator()
      while (it.hasNext) { if (it.next().startsWith(p)) it.remove() }
      val lt = locks.keySet().iterator()
      while (lt.hasNext) { if (lt.next().startsWith(p)) lt.remove() }
    }
  }

  /** One training step's executor half: get-or-rebuild the shard
    * (valid iff its applied-merge count equals the driver's rules
    * prefix), apply the batch, return (count deltas, token total).
    */
  private def runStep(
      base: RDD[(Long, String)], trainId: String, expectedMerges: Int,
      batch: Array[(String, String)], rulesBc: Broadcast[Array[(String, String)]],
      rulesTail: Array[(String, String)], emitInitial: Boolean)
      : Array[(mutable.AnyRefMap[String, Long], Long)] = {
    base.mapPartitionsWithIndex({ (pid, iter) =>
      val key = s"$trainId:$pid"
      Registry.lockFor(key).synchronized {
        val delta = new mutable.AnyRefMap[String, Long](1024)
        val shard = Registry.get(key)
          .filter(_.mergesApplied == expectedMerges)
          .getOrElse {
            // deterministic rebuild from the cached base slice: the
            // word state after k merges is exactly the rank-ordered
            // fold of rules 1..k (TextBpeSpec fuzz-pins the rank
            // encode equal to that fold), so a fresh encode under
            // the rules-so-far reproduces the lost shard bit-for-bit
            val rules =
              if (rulesTail.isEmpty) rulesBc.value
              else rulesBc.value ++ rulesTail
            require(rules.length == expectedMerges,
              s"rules prefix ${rules.length} != expected $expectedMerges")
            val rank = Text.bpeRankOf(rules)
            val fb = new mutable.ArrayBuffer[Long](1024)
            val wb = new mutable.ArrayBuffer[Array[String]](1024)
            iter.foreach { case (f, sym) =>
              fb += f
              wb += (if (expectedMerges == 0) sym.split(" ")
                     else Text.bpeEncodeSymsRank(sym, rules, rank))
            }
            val s = new Shard(fb.toArray, wb.toArray)
            s.mergesApplied = expectedMerges
            s.registerAll(if (emitInitial) delta else null)
            Registry.put(key, s)
            s
          }
        shard.applyBatch(batch, delta)
        Iterator.single((delta, shard.tokens))
      }
    }, preservesPartitioning = true).collect()
  }

  /** Train `rounds` merges over a (freq, sym) dictionary frame
    * without ever collecting it, returning exactly what
    * [[Text.bpeTrainDriver]] returns on the same dictionary: the
    * merge table with per-round winning counts, the exhaustion flag,
    * and the token totals initially / after `checkpointRound` merges
    * / at the end.
    */
  /** Dictionary rows per shard partition — sizes the per-step task
    * count to the dictionary (floor 1, cap defaultParallelism): a
    * 32k-round train runs 32k+ jobs, so a 100k-word dictionary on 32
    * near-empty partitions pays 32× the task overhead per step for no
    * parallelism it can use, while a 1e8-row dictionary keeps the
    * full width.
    */
  private val rowsPerShard = 100000L

  private[graft] def train(
      spark: SparkSession, dict: DataFrame,
      rounds: Int, checkpointRound: Int = 0): Text.BpeDriverTrain = {
    val sc = spark.sparkContext
    val raw: RDD[(Long, String)] = dict
      .select(col("freq").cast("long"), col("sym"))
      .rdd.map(r => (r.getLong(0), r.getString(1)))
    val nRows = dict.count()
    val nParts = math.max(1L, math.min(
      sc.defaultParallelism.toLong, nRows / rowsPerShard + 1)).toInt
    val base = (if (raw.getNumPartitions > nParts) raw.coalesce(nParts)
                else raw)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val trainId = java.util.UUID.randomUUID().toString

    // driver state: pair counts + winner queue + per-symbol count
    // upper bounds + live-symbol refcounts — all O(distinct pairs)
    val cnt = new mutable.AnyRefMap[String, Long](1 << 16)
    val queue = mutable.TreeSet.empty[(Long, String)](
      Ordering.by { case (c, p) => (-c, p) })
    val symRef = new mutable.AnyRefMap[String, Int](1 << 12)
    var ubLeft = new mutable.AnyRefMap[String, Long](1 << 12)
    var ubRight = new mutable.AnyRefMap[String, Long](1 << 12)

    def refSym(s: String, d: Int): Unit = {
      val n = symRef.getOrElse(s, 0) + d
      if (n == 0) symRef.remove(s) else symRef.update(s, n)
    }
    def bump(p: String, delta: Long): Unit = {
      if (delta == 0L) return
      val old = cnt.getOrElse(p, 0L)
      if (old != 0L) queue.remove((old, p))
      val nw = old + delta
      val sep = p.indexOf(' ')
      val l = p.substring(0, sep); val r = p.substring(sep + 1)
      if (nw != 0L) {
        cnt.update(p, nw); queue.add((nw, p))
        if (old == 0L) { refSym(l, 1); refSym(r, 1) }
        if (nw > old) {
          if (nw > ubLeft.getOrElse(l, 0L)) ubLeft.update(l, nw)
          if (nw > ubRight.getOrElse(r, 0L)) ubRight.update(r, nw)
        }
      } else {
        cnt.remove(p)
        if (old != 0L) { refSym(l, -1); refSym(r, -1) }
      }
    }
    def refreshUbs(): Unit = {
      ubLeft = new mutable.AnyRefMap[String, Long](1 << 12)
      ubRight = new mutable.AnyRefMap[String, Long](1 << 12)
      cnt.foreach { case (p, c) =>
        val sep = p.indexOf(' ')
        val l = p.substring(0, sep); val r = p.substring(sep + 1)
        if (c > ubLeft.getOrElse(l, 0L)) ubLeft.update(l, c)
        if (c > ubRight.getOrElse(r, 0L)) ubRight.update(r, c)
      }
    }

    // rules broadcast bookkeeping (rebuild path only)
    val rules = new mutable.ArrayBuffer[(String, String)](rounds)
    var rulesBc: Broadcast[Array[(String, String)]] =
      sc.broadcast(Array.empty[(String, String)])
    var bcCovers = 0
    def maybeRefreshBc(): Unit = {
      if (rules.length - bcCovers > bcRefreshEvery) {
        val old = rulesBc
        rulesBc = sc.broadcast(rules.toArray)
        bcCovers = rules.length
        old.destroy()
      }
    }

    def step(batch: Array[(String, String)], emitInitial: Boolean)
        : Long = {
      val expected = rules.length - batch.length
      val tail = rules.slice(bcCovers, expected).toArray
      val res = runStep(base, trainId, expected, batch, rulesBc, tail,
        emitInitial)
      var tokens = 0L
      res.foreach { case (delta, t) =>
        tokens += t
        delta.foreach { case (p, d) => bump(p, d) }
      }
      tokens
    }

    // init: build shards, pull the full initial counts + token total
    val tokensInitial = step(Array.empty, emitInitial = true)
    var tokensLast = tokensInitial
    var tokensCk = if (checkpointRound == 0) tokensInitial else -1L
    val out = mutable.ListBuffer.empty[(Int, String, String, Long)]
    var exhausted = false
    var mergesDone = 0
    var stepsSinceUbRefresh = 0

    while (mergesDone < rounds && !exhausted) {
      if (queue.isEmpty) exhausted = true
      else {
        if (stepsSinceUbRefresh >= ubRefreshEvery) {
          refreshUbs(); stepsSinceUbRefresh = 0
        }
        stepsSinceUbRefresh += 1
        // refresh the rules broadcast while `rules` is exactly the
        // APPLIED prefix — after the batch is appended, bcCovers
        // would overrun `expected` and break the rebuild slice
        maybeRefreshBc()
        var room = rounds - mergesDone
        if (mergesDone < checkpointRound)
          room = math.min(room, checkpointRound - mergesDone)
        // maximal provably-safe batch: the count-ordered prefix that
        // stays symbol-disjoint, above the new-pair bound, and
        // alias-free (see the scaladoc's (a)/(b)/(c))
        val batch = new mutable.ArrayBuffer[(String, String, Long)](16)
        val dirty = new mutable.HashSet[String]()
        var nb = -1L
        var stop = false
        val it = queue.iterator
        while (!stop && batch.length < room && it.hasNext) {
          val (c, p) = it.next()
          val sep = p.indexOf(' ')
          val l = p.substring(0, sep); val r = p.substring(sep + 1)
          val merged = l + r
          val take =
            if (batch.isEmpty) true
            else !dirty.contains(l) && !dirty.contains(r) && c > nb
          if (!take) stop = true
          else {
            batch += ((l, r, c))
            dirty += l; dirty += r; dirty += merged
            nb = math.max(nb, math.max(
              ubRight.getOrElse(l, 0L), ubLeft.getOrElse(r, 0L)))
            // alias stop (c): if the merged string is a LIVE symbol,
            // existing pairs involving it can GROW when this merge
            // fires, so no bound below this member survives — take it
            // (its own count is still exact) and end the batch. A
            // collision with an EARLIER member's merged string needs
            // no extra check: that string is in `dirty`, so any
            // pre-existing pair containing it was already a stop, and
            // pairs born during the batch are new pairs under `nb`.
            if (symRef.getOrElse(merged, 0) > 0) stop = true
          }
        }
        // record + apply
        var i = 0
        while (i < batch.length) {
          val (l, r, c) = batch(i)
          out += ((mergesDone + i + 1, l, r, c))
          rules += ((l, r))
          i += 1
        }
        tokensLast = step(batch.map(b => (b._1, b._2)).toArray,
          emitInitial = false)
        mergesDone += batch.length
        if (mergesDone == checkpointRound) tokensCk = tokensLast
      }
    }
    if (tokensCk < 0L) tokensCk = tokensLast

    // cleanup: drop shard state and the cached base
    base.mapPartitionsWithIndex({ (_, _) =>
      Registry.removeTrain(trainId); Iterator.empty
    }, preservesPartitioning = true).count()
    base.unpersist(blocking = false)
    rulesBc.destroy()

    Text.BpeDriverTrain(out.toList, exhausted, tokensInitial, tokensCk,
      tokensLast)
  }
}
