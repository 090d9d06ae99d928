package graft.wcoj

/** HyperCube (Shares) partitioning math — the reference's
  * HyperCubePartitioner + EnumShareComputer capability
  * (execution/plan/communication/HyperCubePartitioner.scala:23-167,
  * ShareComputer.scala:30-216; re-derived from the published Shares/HyperCube
  * algorithm, no code ported).
  *
  * Each join attribute a gets a share p_a; the task grid is the cartesian
  * product of attribute buckets (Π p_a cells). A tuple of relation R is sent
  * to every cell that agrees with hash(value)%p_a on R's attributes —
  * replication factor Π_{a∉R} p_a. Every potential output binding maps to
  * exactly one cell, so a single round of communication suffices for any
  * n-way join (the property binary join chains lack).
  *
  * Two scale refinements over a fixed grid (the reference's EnumShareComputer
  * memory-budget capability, ShareComputer.scala:30-160):
  *
  *   - '''Skew-aware load model.''' Hash-splitting relation R on attribute a
  *     with share p sends at most `f + (1-f)/p` of R's rows to one bucket,
  *     where f is the heaviest value's frequency fraction — the heavy value
  *     lands whole in a single bucket and only the remainder spreads. The
  *     optimizer minimizes the estimated MAX per-cell payload
  *     Σ_R bytes_R · Π_{a∈R} bucketFrac(f_{R,a}, p_a), which with f=0
  *     degenerates to the classic average-load objective
  *     Σ_R bytes_R / Π_{a∈R} p_a. Share spent on a skewed attribute has
  *     diminishing returns under this model, so the grid budget drifts to the
  *     attributes hashing can actually split.
  *
  *   - '''Memory-budgeted cell sizing.''' [[budgetedShares]] doubles the cell
  *     count from a parallelism floor until the estimated max cell payload
  *     fits a per-task byte budget — at 100× the data the grid grows with
  *     the data instead of a fixed-size cell outgrowing task heap. Growth
  *     stops where it no longer shrinks the max cell (skew), and a budget
  *     below one row of every relation keeps the floor.
  */
object HyperCube {

  final case class Shares(attrs: Array[String], p: Array[Int]) {
    val numCells: Int = p.product
    /** mixed-radix cell id from per-attribute bucket indices. */
    def cellId(bucket: Array[Int]): Int = {
      var id = 0
      var i = 0
      while (i < p.length) { id = id * p(i) + bucket(i); i += 1 }
      id
    }
    def bucketOf(attr: String, value: Long): Int = {
      val i = attrs.indexOf(attr)
      (((value.hashCode.toLong % p(i)) + p(i)) % p(i)).toInt
    }
  }

  /** Per-relation input statistics for the share optimizer.
    *
    * @param heavyFrac per-attribute frequency fraction of the heaviest value
    *                  IN THIS RELATION (0..1); absent attribute = assumed
    *                  uniform. A Misra-Gries lower bound is fine — it errs
    *                  toward the uniform (classic) model.
    */
  final case class RelStat(
      attrs: Set[String],
      rows: Long,
      bytes: Long,
      heavyFrac: Map[String, Double] = Map.empty)

  /** Chosen shares plus the load estimate that drove the choice. */
  final case class SizedShares(shares: Shares, estMaxCellBytes: Double)

  /** Max bucket fraction when hash-splitting on an attribute with share p
    * whose heaviest value holds fraction f of the relation's rows.
    */
  private def bucketFrac(f: Double, p: Int): Double =
    if (p <= 1) 1.0 else f + (1.0 - f) / p

  /** Enumerate share vectors with Π p_a ≤ maxCells and pick the one
    * minimizing the estimated MAX per-cell input payload (skew-aware; see
    * object doc). Ties: lower total communication Σ_R bytes_R · Π_{a∉R} p_a,
    * then larger grid.
    */
  def optimalSharesStat(attrs: Seq[String], stats: Seq[RelStat],
      maxCells: Int): SizedShares = {
    val as = attrs.toArray
    val k = as.length
    val nRel = stats.length
    // per relation: sorted member attr indices, their heavy fractions, bytes
    val member: Array[Array[Int]] =
      stats.map(st => as.indices.filter(j => st.attrs.contains(as(j))).toArray).toArray
    val fArr: Array[Array[Double]] = Array.tabulate(nRel)(r =>
      member(r).map(j => stats(r).heavyFrac.getOrElse(as(j), 0.0)))
    val bytes: Array[Double] = stats.map(_.bytes.toDouble.max(1.0)).toArray

    val cur = new Array[Int](k)
    var bestP: Array[Int] = null
    var bestLoad = Double.MaxValue
    var bestComm = Double.MaxValue
    var bestCells = 0

    // allocation-free candidate evaluation: the enumeration visits O(maxCells
    // · log^(k-1) maxCells) vectors, so the leaf must be a handful of flops.
    def evalLeaf(cells: Int): Unit = {
      var load = 0.0
      var comm = 0.0
      var r = 0
      while (r < nRel) {
        val m = member(r)
        val f = fArr(r)
        var cellFrac = 1.0
        var repl = 1.0
        var mi = 0
        var j = 0
        while (j < k) {
          if (mi < m.length && m(mi) == j) { cellFrac *= bucketFrac(f(mi), cur(j)); mi += 1 }
          else repl *= cur(j)
          j += 1
        }
        load += bytes(r) * cellFrac
        comm += bytes(r) * repl
        r += 1
      }
      val eps = 1e-9
      val better =
        load < bestLoad * (1 - eps) ||
          (load <= bestLoad * (1 + eps) &&
            (comm < bestComm * (1 - eps) ||
              (comm <= bestComm * (1 + eps) && cells > bestCells)))
      if (better) {
        bestP = cur.clone(); bestLoad = load; bestComm = comm; bestCells = cells
      }
    }

    def rec(i: Int, cells: Int): Unit = {
      if (i == k) evalLeaf(cells)
      else {
        var pi = 1
        while (cells.toLong * pi <= maxCells) {
          cur(i) = pi
          rec(i + 1, cells * pi)
          pi += 1
        }
      }
    }
    rec(0, 1)
    SizedShares(Shares(as, bestP), bestLoad)
  }

  /** Estimated max per-cell input payload for a fixed share vector. */
  def estMaxCellBytes(s: Shares, stats: Seq[RelStat]): Double =
    stats.map { st =>
      var frac = 1.0
      s.attrs.indices.foreach { j =>
        if (st.attrs.contains(s.attrs(j)))
          frac *= bucketFrac(st.heavyFrac.getOrElse(s.attrs(j), 0.0), s.p(j))
      }
      st.bytes.toDouble.max(1.0) * frac
    }.sum

  /** Memory-budgeted share choice: start at `minCells` (the parallelism
    * floor) and double the grid until the estimated max cell payload fits
    * `budgetBytes`, capped at `cellCap`. Growth stops early, keeping the
    * last grid that shrank the payload, when a doubling no longer shrinks
    * it: skew floors the achievable load, since a heavy value is
    * indivisible. A budget below one row of every relation (the least a
    * cell that yields output holds) is out of reach of any grid, so it
    * keeps the floor instead of the cap's thousands of near-empty cells.
    */
  def budgetedShares(attrs: Seq[String], stats: Seq[RelStat], minCells: Int,
      budgetBytes: Long, cellCap: Int): SizedShares = {
    var cells = math.max(1, minCells)
    var best = optimalSharesStat(attrs, stats, cells)
    val rowBytes = stats.map(s => if (s.rows > 0) s.bytes.toDouble / s.rows else 0.0).sum
    var shrinks = budgetBytes >= rowBytes
    while (shrinks && best.estMaxCellBytes > budgetBytes && cells < cellCap) {
      cells = math.min(cellCap.toLong, cells.toLong * 2).toInt
      val grown = optimalSharesStat(attrs, stats, cells)
      shrinks = grown.estMaxCellBytes < best.estMaxCellBytes * (1 - 1e-9)
      if (shrinks) best = grown
    }
    best
  }
}
