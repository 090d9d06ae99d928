package graft.wcoj

import org.apache.spark.rdd.RDD

/** One-pass per-relation statistics for the share optimizer: row count plus a
  * per-column Misra-Gries heavy-hitter sketch (the per-attribute frequency
  * input the reference's EnumShareComputer draws from its Statistics layer,
  * optimization/statsEstimation/Statistics.scala:27-70 — here collected on
  * the fly from the already-persisted prepared inputs, so it replaces rather
  * than adds to the counting pass).
  *
  * Misra-Gries guarantees `estimate(x) ≥ freq(x) − n/k`, so the reported max
  * frequency is a LOWER bound — errors push the optimizer toward the classic
  * uniform model, never toward phantom skew.
  */
object SkewStats {

  /** Mergeable Misra-Gries summary over Long keys, capacity k counters. */
  final class MisraGries(val k: Int) extends Serializable {
    private val counts = new scala.collection.mutable.LongMap[Long]()

    def add(x: Long): Unit = {
      val c = counts.getOrElse(x, 0L)
      if (c > 0L) counts(x) = c + 1L
      else if (counts.size < k) counts(x) = 1L
      else decrementAll(1L)
    }

    // classic step: an absent key with full counters decrements everyone
    // (snapshot first — no structural mutation mid-iteration)
    private def decrementAll(by: Long): Unit = {
      val n = counts.size
      val keys = new Array[Long](n)
      val vals = new Array[Long](n)
      var i = 0
      counts.foreach { case (key, c) => keys(i) = key; vals(i) = c; i += 1 }
      var j = 0
      while (j < n) {
        if (vals(j) <= by) counts.remove(keys(j)) else counts(keys(j)) = vals(j) - by
        j += 1
      }
    }

    /** Merge: sum counters, then shrink back to k by subtracting the
      * (k+1)-largest count from all (the standard mergeable-MG reduction —
      * preserves the n/k error bound).
      */
    def merge(o: MisraGries): MisraGries = {
      o.counts.foreach { case (key, c) =>
        counts(key) = counts.getOrElse(key, 0L) + c
      }
      if (counts.size > k) {
        val sorted = counts.values.toArray
        java.util.Arrays.sort(sorted)
        val cut = sorted(sorted.length - k - 1)
        decrementAll(cut)
      }
      this
    }

    /** Lower bound on the heaviest value's count (0 when empty). */
    def maxCount: Long = if (counts.isEmpty) 0L else counts.values.max
  }

  /** The optimizer's [[HyperCube.RelStat]] for ALL prepared relations in
    * ONE job: inputs are unioned with a relation tag and aggregated
    * together. The per-relation form cost one scheduler round-trip per
    * relation — on an 8-edge pattern over tiny inputs those 8 round-trips
    * WERE the apparatus floor (StockCompare r14: S7 on the capped graph ran
    * 2.5× a stock binary plan, most of it fixed overhead). One union job
    * also materializes every child's cache in a single wave instead of
    * sequentially. Bytes are the routed-payload estimate: an Array[Long]
    * row costs 8·width data + ~24 object/header overhead.
    */
  def relStats(preps: Seq[(Array[String], RDD[Array[Long]])]): Seq[HyperCube.RelStat] = {
    if (preps.isEmpty) return Nil
    val sc = preps.head._2.sparkContext
    val widths = preps.map(_._1.length).toArray
    val tagged = sc.union(preps.zipWithIndex.map { case ((_, rdd), i) =>
      rdd.map(r => (i, r))
    }.toSeq)
    val zero = (new Array[Long](preps.size),
      widths.map(w => Array.fill(w)(new MisraGries(32))))
    val (counts, sketches) = tagged.treeAggregate(zero)(
      seqOp = { case ((n, sk), (i, row)) =>
        n(i) += 1
        var j = 0
        while (j < row.length) { sk(i)(j).add(row(j)); j += 1 }
        (n, sk)
      },
      combOp = { case ((n1, a), (n2, b)) =>
        var i = 0
        while (i < n1.length) { n1(i) += n2(i); i += 1 }
        var r = 0
        while (r < a.length) {
          var j = 0
          while (j < a(r).length) { a(r)(j).merge(b(r)(j)); j += 1 }
          r += 1
        }
        (n1, a)
      })
    preps.zipWithIndex.map { case ((attrs, _), i) =>
      val n = counts(i)
      val heavy =
        if (n == 0) Map.empty[String, Double]
        else attrs.indices.map(j =>
          attrs(j) -> sketches(i)(j).maxCount.toDouble / n).toMap
      HyperCube.RelStat(attrs.toSet, n, n * (8L * attrs.length + 24), heavy)
    }
  }

  /** EXACT degree-sequence output bound for the global attribute order —
    * the binding-count cap the single-cell router needs when the AGM bound
    * (counts only, blind to degree caps) is too loose to decide.
    *
    * Enumerate attributes in `ord`; extending a partial binding to attribute
    * v offers at most
    *   cap(v) = min over relations R ∋ v of
    *     - |distinct_R(v)|                  when v is R's earliest attr in ord
    *     - maxFreq_R(R's attrs before v)    otherwise (rows sharing a value
    *                                         of the earlier-attr tuple bound
    *                                         the distinct v-extensions)
    * choices, so |output| ≤ Π_v cap(v). On a degree-capped graph this is
    * orders of magnitude tighter than AGM (measured sf0.1: capped-graph S6
    * AGM 5.9e7 vs degree bound 2.8e5 vs actual 1.6e5; dense triangle both
    * ~9e6 vs actual 8.3e6), which is exactly the case AGM alone mis-routes.
    *
    * Cost: ONE aggregation job whose state is bounded by the input rows —
    * callers only invoke it in the measured-small regime (routed payload
    * already ≤ [[LeapFrogJoinExec.SingleCellBytes]]), so the job is milliseconds by
    * construction and the big-input path still pays exactly one stats job.
    * Hash maps keyed by exact prefix tuples (no collision under-counting),
    * so the returned value is a true upper bound.
    */
  def degreeBound(preps: Seq[(Array[String], RDD[Array[Long]])],
      ord: Seq[String]): Double = {
    if (preps.isEmpty) return 0.0
    val sc = preps.head._2.sparkContext
    val widths = preps.map(_._1.length).toArray
    val tagged = sc.union(preps.zipWithIndex.map { case ((_, rdd), i) =>
      rdd.map(r => (i, r))
    }.toSeq)
    // per relation: distinct first-attr values + per-prefix-length tuple counts
    type RelAgg = (scala.collection.mutable.HashSet[Long],
      Array[scala.collection.mutable.HashMap[Vector[Long], Long]])
    def zero: Array[RelAgg] = widths.map { w =>
      (scala.collection.mutable.HashSet.empty[Long],
        Array.fill(math.max(w - 1, 0))(
          scala.collection.mutable.HashMap.empty[Vector[Long], Long]))
    }
    val agg = tagged.treeAggregate(zero)(
      seqOp = { case (a, (i, row)) =>
        a(i)._1 += row(0)
        var j = 0
        while (j < a(i)._2.length) {
          val key = row.take(j + 1).toVector
          a(i)._2(j).update(key, a(i)._2(j).getOrElse(key, 0L) + 1L)
          j += 1
        }
        a
      },
      combOp = { (a, b) =>
        var i = 0
        while (i < a.length) {
          a(i)._1 ++= b(i)._1
          var j = 0
          while (j < a(i)._2.length) {
            b(i)._2(j).foreach { case (k, c) =>
              a(i)._2(j).update(k, a(i)._2(j).getOrElse(k, 0L) + c)
            }
            j += 1
          }
          i += 1
        }
        a
      })
    if (agg.exists(_._1.isEmpty)) return 0.0 // an empty relation: empty join
    ord.map { v =>
      val caps = preps.indices.flatMap { i =>
        val attrs = preps(i)._1
        val j = attrs.indexOf(v)
        if (j < 0) None
        else if (j == 0) Some(agg(i)._1.size.toDouble)
        else Some(agg(i)._2(j - 1).valuesIterator.max.toDouble)
      }
      if (caps.isEmpty) 1.0 else caps.min
    }.product
  }
}
