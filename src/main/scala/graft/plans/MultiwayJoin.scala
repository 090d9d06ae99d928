package graft.plans

import org.apache.spark.sql.DataFrame

/** GHD-guided n-ary natural join planner — the Spark-first rendition of the
  * reference's MultiwayJoin operator (multiwayOperators.scala:57-154) +
  * OptimizeMultiwayJoin rule: instead of a private hypercube/WCOJ runtime,
  * the decomposition shapes a DataFrame join tree that Catalyst then
  * executes (broadcast/shuffle/codegen as usual).
  *
  * Effect on plans: an acyclic query degenerates to the usual join chain;
  * a cyclic query (triangle, 4-cycle, cliques) gets its cyclic core grouped
  * inside one bag — joined there with plain hash joins — and bags are joined
  * along the GHD tree on their shared attributes, which bounds intermediate
  * blow-up by the bag structure rather than the raw join order.
  */
object MultiwayJoin {

  /** Attribute order for a cyclic WCOJ bag: most-covered attributes first
    * (tightest intersections early), attribute name next for determinism.
    */
  private[graft] def wcojAttrOrder(rels: Seq[(DataFrame, Seq[String])],
      attrs: Set[String]): Seq[String] =
    attrs.toSeq.sortBy(a => (-rels.count(_._2.contains(a)), a))

  /** Every column a join attribute, and every attribute's occurrences pass
    * the ONE shared eligibility rule (WcojJoin.attrOccurrencesEligible) —
    * duplicating the rule here let planner and executor drift apart.
    * NULL parity: the WCOJ kernel drops rows with NULL in ANY listed
    * attribute (a trie level has no NULL binding), which matches the
    * binary fallback only for attributes that actually join (≥ 2
    * occurrences); a NULLABLE attribute carried by a single relation
    * would ride through the fallback as a value but be dropped by the
    * kernel — such inputs take the fallback, keeping wcoj a pure plan
    * choice rather than a semantics change.
    */
  private def wcojEligible(rels: Seq[(DataFrame, Seq[String])]): Boolean =
    rels.forall { case (df, attrs) => df.columns.toSet == attrs.toSet } && {
      val fields = rels.flatMap { case (df, attrs) =>
        attrs.map(a => a -> df.schema(a))
      }
      fields.groupBy(_._1).values.forall { fs =>
        graft.wcoj.WcojJoin.attrOccurrencesEligible(fs.map(_._2.dataType)) &&
          (fs.size >= 2 || !fs.head._2.nullable)
      }
    }

  /** Natural-join the relations (join attributes = same-named columns),
    * ordering the joins by the minimum-fhtw GHD of the join hypergraph.
    *
    * @param reduce Yannakakis semijoin reduction: before joining bags, run a
    *   leaves→root then root→leaves `left_semi` sweep along the GHD tree so
    *   every bag keeps only rows that participate in the final result. Two
    *   extra semijoin passes (cheap shuffles) buy intermediate results that
    *   never exceed the output size — the right trade when bags are
    *   selective or the data is large; off by default for small queries.
    * @param wcoj route the MAXIMAL CYCLIC CORE(s) — the edges surviving GYO
    *   ear reduction — through the worst-case-optimal LeapFrog Catalyst
    *   node, one bag per core component, with the acyclic periphery joined
    *   around them binarily (the reference planner's
    *   `MultiwayJoin → trie+leapfrog` strategy,
    *   execution/planning/SeccoStrategies.scala:182-191, plus its per-bag
    *   join trees, optimization/rules/join.scala:233-270). When the whole
    *   query is the core (cliques, S6–S8) this is one whole-query
    *   enumeration; a core with pendant tails keeps the tails on the linear
    *   route. Opt-in because it imposes SET semantics (one output row per
    *   distinct binding — callers must dedup inputs if they carry
    *   duplicates). Join columns may be any atomic type: integral columns
    *   run on the trie directly (emitted as LongType), everything else is
    *   dictionary-encoded and decoded transparently
    *   ([[graft.wcoj.WcojJoin.join]]), so a string-keyed cyclic join
    *   keeps the WCOJ speedup instead of silently falling back. Null join
    *   values are dropped (they can never match a natural inner join).
    *   Acyclic queries fall back to binary joins unchanged.
    */
  def join(relations: Seq[(DataFrame, Seq[String])], reduce: Boolean = false,
      wcoj: Boolean = false): DataFrame = {
    require(relations.nonEmpty, "no relations to join")
    if (relations.size == 1) return relations.head._1

    // wcoj + a CYCLIC hypergraph: run the MAXIMAL CYCLIC CORE(s) — the
    // edges surviving GYO ear reduction — as one LeapFrogJoin each, and
    // join the acyclic periphery around them with the GHD/Yannakakis route.
    // Two failure modes bound this design from both sides (r13/r14):
    //   - a GHD bag is only bounded by ITS OWN output, and a decomposition
    //     can hand an acyclic bag whose internal star join materializes a
    //     non-output-bounded cube: S7's {a,c,d,e} bag (edges de, ae, ce) is
    //     Σ_e indeg(e)³ rows, measured 15+ s on the degree-capped sf0.1
    //     graph where one worst-case-optimal enumeration over all 8 edges —
    //     AGM-bounded for the whole query — takes 0.5 s. So the cyclic core
    //     is never split across bags: when the whole query IS the core
    //     (S4/S6/S7), this is one whole-query LeapFrogJoin.
    //   - the inverse overshoot: a small cyclic core with a long acyclic
    //     tail pays trie-building and WCOJ enumeration over relations a
    //     linear join handles for free. So periphery edges (those GYO
    //     reduces away) stay on the binary route; contracting each core
    //     component to one hyperedge leaves an α-acyclic hypergraph, so the
    //     recursive call below degenerates to a plain GHD join tree.
    // Set semantics note: with duplicate-free inputs (the documented wcoj
    // contract) a natural join of sets is a set, so core-bag + binary
    // periphery emits exactly the whole-query distinct bindings.
    // Acyclic full patterns keep the GHD/Yannakakis route below; so do
    // core bags with ineligible attribute types.
    if (wcoj && {
      val attrSets = relations.map(_._2.toSet)
      !JoinHyperGraph.isAcyclic(attrSets)
    }) {
      val attrSets = relations.map(_._2.toSet)
      val core = JoinHyperGraph.cyclicCoreIds(attrSets)

      if (core.size == relations.size) {
        if (wcojEligible(relations)) return wcojBag(relations)
        // ineligible types: fall through to the GHD route (per-bag checks)
      } else {
        val comps = JoinHyperGraph.connectedComponents(
          core.toSeq.sorted, i => attrSets(i))
        if (comps.forall(c => wcojEligible(c.map(relations)))) {
          val coreDfs = comps.map { ids =>
            val df = wcojBag(ids.map(relations))
            (df, df.columns.toSeq)
          }
          val periphery =
            relations.indices.filterNot(core).map(relations)
          return join(coreDfs ++ periphery, reduce, wcoj = false)
        }
        // an ineligible core component: GHD route below still WCOJs the
        // cyclic bags whose types qualify
      }
    }

    val edges = relations.zipWithIndex.map { case ((_, attrs), i) =>
      JoinHyperGraph.Edge(i, attrs.toSet)
    }
    val ghd = JoinHyperGraph.decompose(edges)

    def naturalJoin(l: DataFrame, r: DataFrame): DataFrame = {
      val common = l.columns.intersect(r.columns).toIndexedSeq
      if (common.isEmpty) l.crossJoin(r) else l.join(r, common, "inner")
    }

    /** Greedy bushy join of a bag's relations: repeatedly join the pair with
      * the largest column overlap (earliest-index tie-break, joined results
      * appended last, so unjoined base relations pair up first). On a
      * 4-cycle this produces ((ab⋈bc) ⋈ (cd⋈da)) — two path-2 intermediates
      * joined on both closing attributes — instead of the left-deep chain
      * whose path-3 intermediate dwarfs everything. Natural inner joins are
      * tree-order independent in result (every shared column is equated
      * whenever both sides carry it), so only the plan shape changes.
      */
    def joinBag(dfs: Seq[DataFrame]): DataFrame = {
      val items = scala.collection.mutable.ArrayBuffer(dfs: _*)
      while (items.size > 1) {
        var bi = 0; var bj = 1; var bestC = -1
        var i = 0
        while (i < items.size) {
          var j = i + 1
          while (j < items.size) {
            val c = items(i).columns.intersect(items(j).columns).length
            if (c > bestC) { bestC = c; bi = i; bj = j }
            j += 1
          }
          i += 1
        }
        val joined = naturalJoin(items(bi), items(bj))
        items.remove(bj); items.remove(bi)
        items += joined
      }
      items.head
    }

    // join inside each bag; a cyclic eligible bag goes worst-case-optimal
    def bagDf(b: JoinHyperGraph.Bag): DataFrame = {
      val rels = b.edgeIds.map(relations(_))
      val cyclic = rels.size >= 2 && !JoinHyperGraph.isAcyclic(rels.map(_._2.toSet))
      if (wcoj && cyclic && wcojEligible(rels)) wcojBag(rels)
      else joinBag(rels.map(_._1))
    }

    val bagDfs0 = ghd.bags.map(bagDf)

    def semiReduce(target: DataFrame, by: DataFrame): DataFrame = {
      val common = target.columns.intersect(by.columns).toIndexedSeq
      if (common.isEmpty) target else target.join(by, common, "left_semi")
    }

    // Yannakakis: leaves→root (attachment order reversed), then root→leaves.
    // Bags are lazily localCheckpoint'ed first — textbook Yannakakis
    // materializes the bag relations once; without it each bag's join plan
    // executes again for every semijoin pass that references it (2-3x work).
    // Lazy (eager=false) keeps plan construction side-effect free.
    val bagDfs =
      if (!reduce || bagDfs0.size == 1) bagDfs0
      else {
        val arr = bagDfs0.map(_.localCheckpoint(false)).toArray
        ghd.treeEdges.reverse.foreach { case (parent, child) =>
          arr(parent) = semiReduce(arr(parent), arr(child))
        }
        ghd.treeEdges.foreach { case (parent, child) =>
          arr(child) = semiReduce(arr(child), arr(parent))
        }
        arr.toSeq
      }

    // join bags along the GHD tree edges, parent-first: the tree grows from
    // bag 0 in attachment order, so each (t, b) has t already joined.
    ghd.treeEdges.foldLeft(bagDfs(0)) { case (acc, (_, child)) =>
      naturalJoin(acc, bagDfs(child))
    }
  }

  /** One cyclic bag through the worst-case-optimal join. */
  private def wcojBag(rels: Seq[(DataFrame, Seq[String])]): DataFrame =
    graft.wcoj.WcojJoin.join(rels.head._1.sparkSession, rels,
      wcojAttrOrder(rels, rels.flatMap(_._2).toSet))

  /** Expose the chosen decomposition (for tests / explain tooling). */
  def plan(relations: Seq[Seq[String]]): JoinHyperGraph.Decomposition =
    JoinHyperGraph.decompose(relations.zipWithIndex.map { case (attrs, i) =>
      JoinHyperGraph.Edge(i, attrs.toSet)
    })
}
