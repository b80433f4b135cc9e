package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Graph analytics over derived relation graphs — weighted PageRank, the
  * iterative-propagation flagship beside [[Dedup.closePairs]] (connected
  * components): the same per-round join+aggregate shape, but with numeric
  * mass instead of min-id labels. Rank feeds curation (authority-weighted
  * sampling of a link graph) and entity resolution.
  *
  * Exact-replay arithmetic (every round replays in the oracle):
  *  - edge weights and out-strengths are exact BIGINTs;
  *  - ranks live in DECIMAL(18,12);
  *  - each contribution is ONE double expression
  *    `round(rank · w / out_strength, 12)` pinned back to DECIMAL — so the
  *    per-destination SUM is exact and order/partitioning-independent;
  *  - the update is ONE double expression
  *    `round((1−d)/N + d · Σcontrib, 12)` pinned to DECIMAL.
  *  Dangling mass (nodes with no out-edges) is dropped, not redistributed
  *  — the common simplified variant; pinned so both engines agree.
  *
  * Scale shape per round: one src-keyed join of the node-sized rank table
  * into the edge table (edges partitioned by src; a rank table small
  * enough broadcasts automatically), one dst-keyed partial aggregate —
  * map-side combine collapses each partition's contributions before the
  * shuffle — and one node-keyed left join for the update. Iteration count
  * is the only sequential dimension; per-round cost is |E| + |V|, the
  * textbook Pregel budget. `localCheckpoint` guards the growing lineage
  * like [[Dedup.closePairs]] (reliable `checkpoint` on a cluster). */
object Graph {

  /** (node, rank) after `iters` rounds of weighted PageRank over
    * `edges(srcCol, dstCol, weightCol)`; parallel edges are pre-summed. */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               weightCol: String, iters: Int, damping: Double = 0.85,
               checkpoint: Boolean = true): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val e = edges.select(col(srcCol).as("__s"), col(dstCol).as("__d"),
        col(weightCol).cast("long").as("__w"))
      .groupBy("__s", "__d").agg(sum(col("__w")).as("__w"))
      .cache()
    val outW = e.groupBy("__s").agg(sum(col("__w")).as("__ow"))
    val nodes = e.select(col("__s").as("__v"))
      .union(e.select(col("__d"))).distinct().cache()
    val nRow = broadcast(nodes.agg(count(lit(1)).as("__n")))

    // r0 = round(1/N, 12); base = round((1-d)/N, 12) — both one double
    // division over the exact count, pinned to DECIMAL
    def pin12(c: org.apache.spark.sql.Column) =
      round(c, 12).cast("decimal(18,12)")
    var ranks = nodes.crossJoin(nRow)
      .select(col("__v"), pin12(lit(1.0) / col("__n")).as("__r"))
    // cache: every round re-joined the (already cached) edge table with
    // the out-strengths — one materialization serves all iterations
    val weighted = e.join(outW, "__s").cache()
    for (_ <- 1 to iters) {
      val contribs = weighted
        .join(ranks.withColumnRenamed("__v", "__s"), "__s")
        .select(col("__d"),
          pin12(col("__r").cast("double") * col("__w") / col("__ow"))
            .as("__c"))
        .groupBy("__d").agg(sum(col("__c")).as("__in"))
      val next = nodes.crossJoin(nRow)
        .join(contribs.withColumnRenamed("__d", "__v"), Seq("__v"), "left")
        .select(col("__v"), pin12(
          lit(1.0 - damping) / col("__n") +
            lit(damping) *
              coalesce(col("__in"), lit(0).cast("decimal(18,12)"))
                .cast("double")).as("__r"))
      ranks = if (checkpoint) next.localCheckpoint(eager = true) else next
    }
    ranks.select(col("__v").as("node"),
      col("__r").cast("double").as("rank"))
  }

  /** Per-vertex triangle participation counts over an undirected simple
    * graph (`edges(aCol, bCol)`, self-loops and duplicates tolerated).
    *
    * Degree-ordered wedge enumeration — the standard distributed triangle
    * algorithm: orient every edge from the lower-(degree, id) endpoint to
    * the higher, enumerate wedges only from each vertex's OUT-edges, and
    * close them against the oriented edge set. Each triangle is produced
    * exactly once, and out-degrees are bounded by ~√m on any graph — the
    * wedge count is O(Σ out-deg²) ≤ O(m^1.5) instead of Σ deg² (which a
    * hub vertex makes quadratic). Three shuffles total (degree join,
    * wedge self-join, closing semi-join); no iteration.
    *
    * Returns `(v, n_triangles)` for vertices in ≥1 triangle.
    *
    * `maxBroadcastEdges` gates the closing-join broadcast hint (the
    * [[graft.ops.Skew.adaptiveJoin]] measure-then-pick convention): the
    * raw input row count — a fully parallel `count()`, an upper bound on
    * the distinct undirected set (a `limit(cap+1)` probe was measured
    * WORSE: GlobalLimit funnels every row through one task) — must stay
    * under the cap for the hint to be applied. Above it the semi-join is
    * left unhinted and AQE picks the physical strategy (shuffled-hash,
    * or its own runtime broadcast if the built set turns out small)
    * instead of an explicit hint forcing an 8 GB-cap / driver-OOM
    * broadcast of a 100×-scale edge set. Measured at sf0.1 (min-of-two):
    * probe+hint 10.4 s vs never-hint 14.0 s — AQE's runtime broadcast
    * conversion does not recover the wedge-side SMJ sort, so the probe's
    * ~1 s pays for itself; cap ≤ 0 / MaxValue skip the probe for callers
    * who know their scale. */
  def triangleCounts(edges: DataFrame, aCol: String, bCol: String,
                     maxBroadcastEdges: Long = 5000000L,
                     expectedEdges: Long = -1L): DataFrame = {
    // NOTE: no persist() barrier here although the edge set feeds four
    // consumers — AQE's ReusedExchange already deduplicates the identical
    // scan+distinct subtrees, and a persist() disables AQE inside the
    // cached subtree (measured 9 s → 13 s WORSE at sf0.1)
    val und = edges.select(
        least(col(aCol), col(bCol)).as("__a"),
        greatest(col(aCol), col(bCol)).as("__b"))
      .filter(col("__a") =!= col("__b"))
      .distinct()
    val deg = und.select(col("__a").as("__v"))
      .unionAll(und.select(col("__b").as("__v")))
      .groupBy("__v").agg(count(lit(1)).as("__deg"))
    // orient low-(deg, id) → high-(deg, id)
    val d = und
      .join(deg.withColumnRenamed("__v", "__a").withColumnRenamed("__deg", "__da"), "__a")
      .join(deg.withColumnRenamed("__v", "__b").withColumnRenamed("__deg", "__db"), "__b")
      .select(
        when(col("__da") < col("__db") ||
          (col("__da") === col("__db") && col("__a") < col("__b")),
          struct(col("__a").as("s"), col("__b").as("t")))
          .otherwise(struct(col("__b").as("s"), col("__a").as("t"))).as("__e"))
      .select(col("__e.s").as("__s"), col("__e.t").as("__t"))
    // wedges (s; u < v by id) from common source; since `und` is already
    // the a<b-by-id undirected edge set, the closing test is ONE semi-join
    // against it. (An adjacency-array intersection variant was measured
    // SLOWER here: shipping each vertex's adjacency to every incident
    // edge shuffles Σdeg² elements — the same mass as the wedge join —
    // with worse constants than the codegen'd SMJ.)
    // Pin the wedge join's parallelism: its input shuffle is small (tens
    // of MB) but the join PRODUCES Σ outdeg² rows — profiled 60 s of task
    // time from a 22 MB shuffle read — so AQE's byte-based partition
    // coalescing shrinks exactly the stage that needs every core. An
    // explicit cores-sized hash repartition on the wedge key replaces the
    // implicit exchange the join would insert anyway (same bytes moved,
    // both legs co-partitioned, no second exchange) and is exempt from
    // AQE coalescing. Skew-safe: degree orientation bounds out-degrees
    // by ~√m, so no single __s key can dominate a partition.
    // Round-15 re-measurement (the r14 driver bench suggested the pin
    // regressed; isolated runs, 4-5 reps each, same box — OPTIMIZATION_r15.md):
    //   32 cores: pin min 7.45 s vs un-pinned min 7.26 s — a tie;
    //    8 cores: pin min 7.73 s vs un-pinned min 11.04 s — pin 1.4x
    //             faster (AQE byte-based coalescing shrinks the
    //             CPU-amplifying stage below the core count exactly as
    //             profiled in r14).
    // So the pin stays. `spark.graft.wedgePartitions` overrides for
    // clusters where cores-sized tasks would each produce too large a
    // slice of the Σ outdeg² wedge output (the output streams into the
    // closing semi-join's partial aggregation, so the cost of too-few
    // partitions is straggler tasks, not memory).
    val wedgeParts = d.sparkSession.conf
      .getOption("spark.graft.wedgePartitions").map(_.toInt)
      .getOrElse(d.sparkSession.sparkContext.defaultParallelism)
    val dP = d.repartition(wedgeParts, col("__s"))
    val e1 = dP.select(col("__s"), col("__t").as("__u"))
    val e2 = dP.select(col("__s"), col("__t").as("__v"))
    val wedges = e1.join(e2, "__s").filter(col("__u") < col("__v"))
    // closing join: wedges (O(m^1.5) rows) STREAM through a
    // BroadcastHashJoin semi when the edge set fits — never sorted,
    // never shuffled. The hint is gated on a measured row probe (an
    // explicit broadcast() overrides autoBroadcastJoinThreshold, so an
    // unconditional hint would OOM the driver at 100× scale); above the
    // cap the join is unhinted and AQE chooses shuffled-hash / runtime
    // broadcast from actual sizes.
    val closing = und.select(col("__a").as("__u"), col("__b").as("__v"))
    // cap <= 0 pins the unhinted plan and MaxValue pins the hint, both
    // WITHOUT paying the probe job — for callers who know their scale
    // (the probe recomputes a derived edge frame just to count it)
    val applyHint =
      if (maxBroadcastEdges <= 0L) false
      else if (maxBroadcastEdges == Long.MaxValue) true
      else edges.count() <= maxBroadcastEdges
    val closingSide = if (applyHint) broadcast(closing) else closing
    // Unhinted (at-scale) path: the closing sort-merge join otherwise
    // sorts and shuffles EVERY wedge — Σ outdeg² rows, the dominant cost
    // once the edge set is too big to broadcast (measured on a
    // synthesized 10× corpus: 131 s at 32 cores, nearly all in the wedge
    // sort). Guide §3.2: a Bloom filter over the edge pairs drops
    // non-closing wedges BEFORE the exchange; false positives only leak
    // a few extra rows into the exact semi-join below, so the result is
    // unchanged. Needs a size estimate from the caller (`expectedEdges`,
    // an upper bound — the Σ c·(c−1)/2 probe the shipped query already
    // computes); capped so the filter itself stays executor-friendly
    // (200 M keys ≈ 175 MB at 3% fpp). The edge set is scanned twice
    // (filter build + join) — the documented §3.2 trade.
    val useBloom =
      !applyHint && expectedEdges > 0L && expectedEdges <= 200000000L
    val wedgesF =
      if (!useBloom) wedges
      else {
        // tiered fpp: 1% when the filter stays small (≤ 100 M keys ≈
        // 120 MB), 3% up to the cap (≤ 175 MB).
        //
        // Built via RDD treeAggregate, NOT df.stat.bloomFilter: since the
        // stat function delegates to BloomFilterAggregate it silently
        // CAPS the filter at spark.sql.optimizer.runtime.bloomFilter
        // .maxNumBits (64 Mbit default) — measured at the 10× SF: a 12 M-
        // key filter came back 8 MB regardless of fpp, an ACTUAL fp rate
        // of ~22% (105.9 M of 410.9 M wedges passed vs the ~22.7 M a real
        // 1% filter admits — OPTIMIZATION_r15.md). treeAggregate sizes the
        // filter honestly and never routes the bits through the driver
        // more than the final merge already must.
        val fpp = if (expectedEdges <= 100000000L) 0.01 else 0.03
        val bf = closing
          .select(xxhash64(col("__u"), col("__v")).as("__k"))
          .rdd.treeAggregate(
            org.apache.spark.util.sketch.BloomFilter
              .create(expectedEdges, fpp))(
            (f, r) => { f.putLong(r.getLong(0)); f },
            (f1, f2) => { f1.mergeInPlace(f2); f1 })
        val bfB = edges.sparkSession.sparkContext.broadcast(bf)
        val mightClose =
          udf((k: Long) => bfB.value.mightContainLong(k))
        wedges.where(mightClose(xxhash64(col("__u"), col("__v"))))
      }
    // In the bloom path the closing side is known bounded (expectedEdges
    // ≤ 200 M, spread over the shuffle partitions), so force a SHUFFLED
    // HASH join: the default sort-merge sorted the surviving wedge side —
    // OPTIMIZATION_r15.md at 10× SF: 1.1 GB of sort spill, the single most
    // expensive stage of the query. Streaming wedges through a per-
    // partition hash build never sorts them (guide §3.1). Above the cap
    // (or with no estimate) the unhinted SMJ stays — it spills gracefully
    // at any build size.
    val closingJ = if (useBloom) closingSide.hint("shuffle_hash")
                   else closingSide
    val tris = wedgesF.join(closingJ, Seq("__u", "__v"), "leftsemi")
    tris.select(explode(array(col("__s"), col("__u"), col("__v"))).as("v"))
      .groupBy("v").agg(count(lit(1)).as("n_triangles"))
  }

  /** Adamic–Adar link prediction — rank NON-edges by
    * `Σ_c 1/ln(deg(c))` over common neighbors c (plus the plain
    * common-neighbor count): the classic "who should connect next"
    * score where rare shared neighbors count more than hubs.
    *
    * Float discipline: each center's term is `round(1/ln(deg), 9)`
    * pinned to DECIMAL(18,9) BEFORE the per-pair sum (the [[InfoTheory]]
    * rule) — exact, order-independent totals; ranking is on the exact
    * DECIMAL score with (a, b) tie-break. A wedge center has deg ≥ 2 by
    * construction, so ln is never 0.
    *
    * Scale shape: wedge enumeration through each center costs deg², so
    * centers with deg > maxDeg are DROPPED before pairing — the
    * capHotKeys convention; a hub's 1/ln(deg) term is the smallest
    * signal in the score, so the cap removes quadratic mass, not
    * meaningful evidence (the [[graft.functions.Retrieval]] maxDf
    * argument). Known edges leave via one anti-join against the
    * canonical edge set; top-k plans as TakeOrderedAndProject. */
  def linkPrediction(edges: DataFrame, aCol: String, bCol: String,
                     k: Int, maxDeg: Int): DataFrame = {
    require(k >= 1 && maxDeg >= 2, s"need k >= 1, maxDeg >= 2")
    // NOTE: no barrier although the edge set fans into four consumers —
    // AQE's ReusedExchange deduplicates the identical distinct subtrees
    // (the triangleCounts finding holds here too: a localCheckpoint was
    // measured ~1.5× SLOWER at sf0.1 than letting AQE reuse the exchange)
    val und = edges.select(
        least(col(aCol), col(bCol)).as("__a"),
        greatest(col(aCol), col(bCol)).as("__b"))
      .filter(col("__a") =!= col("__b"))
      .distinct()
    val adj = und.select(col("__a").as("__v"), col("__b").as("__n"))
      .unionAll(und.select(col("__b").as("__v"), col("__a").as("__n")))
    val deg = adj.groupBy(col("__n")).agg(count(lit(1)).as("__deg"))
    // capped centers with their pinned AA term; deg-1 vertices can't
    // center a wedge AND would evaluate 1/ln(1) — excluded before the
    // term projection (ANSI division-by-zero, not just dead rows)
    val centers = adj.join(
        deg.where(col("__deg") >= 2 && col("__deg") <= maxDeg), "__n")
      .select(col("__n"), col("__v"),
        round(lit(1.0) / log(col("__deg")), 9).cast("decimal(18,9)")
          .as("__term"))
    // NOTE: no explicit repartition here (unlike the triangle wedge join):
    // `centers` is born hash-partitioned on __n by the deg join, so the
    // pairing self-join reuses that partitioning — an explicit repartition
    // was tried this round and only added a redundant exchange.
    val cand = centers.as("x").join(centers.as("y"),
        col("x.__n") === col("y.__n") && col("x.__v") < col("y.__v"))
      .select(col("x.__v").as("a"), col("y.__v").as("b"),
        col("x.__term").as("__term"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("common_neighbors"), sum(col("__term")).as("__aa"))
    cand
      .join(und.select(col("__a").as("a"), col("__b").as("b")),
        Seq("a", "b"), "left_anti")
      .select(col("a"), col("b"), col("common_neighbors"),
        col("__aa").cast("double").as("aa_score"))
      .orderBy(col("aa_score").desc, col("a").asc, col("b").asc)
      .limit(k)
  }
}
