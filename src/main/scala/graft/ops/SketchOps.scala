package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.PortableHash

/** Sketch-tier operators beyond Spark's built-ins: a relational
  * count-min sketch (Cormode/Muthukrishnan '05) for heavy-hitter
  * counting. `approx_stats_check` (RelationalOps) covers Spark's own
  * HLL++/quantile sketches, which a DuckDB oracle can only bound with
  * tolerance booleans; the CMS here is built from PORTABLE integer
  * arithmetic (sha-derived bucket hashes + integer counts), so every
  * cell and every estimate is bit-reproducible and the oracle checks
  * exact values, not tolerances.
  *
  * Scale shape — why CMS at 100 TB: the sketch table is depth×width
  * cells regardless of input size. The build is one groupBy over
  * (row, bucket) with map-side partial counts, so each executor sends
  * at most depth·width rows into the shuffle no matter how many
  * billions of events it scanned; the merged sketch fits on a
  * postcard and broadcasts to wherever estimates are probed.
  */
object SketchOps {

  /** CMS bucket for one hash row: sha-derived, row-salted so the
    * depth hash functions are independent. */
  private def cmsBucket(key: Column, row: Int, width: Int): Column =
    PortableHash.bucket(concat(lit(s"cms$row:"), key.cast("string")), width)

  /** Count-min cell counts: (j, bucket, c) — depth·width rows. Each
    * input row contributes one increment per hash row; partial
    * aggregation compresses every map task's contribution to ≤
    * depth·width update rows before the shuffle. */
  def countMinTable(keyed: DataFrame, key: String, depth: Int, width: Int): DataFrame =
    (0 until depth)
      .map(j => keyed.select(lit(j).as("j"), cmsBucket(col(key), j, width).as("bucket")))
      .reduce(_ union _)
      .groupBy(col("j"), col("bucket"))
      .agg(count(lit(1)).as("c"))

  /** Heavy hitters with CMS verification: the exact top-`k` keys by
    * frequency, each carrying its count-min estimate (the min over
    * the sketch's depth rows — CMS guarantees est ≥ exact, with
    * overcount bounded by collisions at ~N/width per row). The exact
    * side is the verification twin: a drifting sketch shows up as a
    * changed `cms_est`/`overcount`, and `est_ge_exact` pins the
    * one-sided error guarantee into the hash-checked output.
    *
    * All integer arithmetic on portable hashes — deterministic on any
    * engine, any partitioning (integer min/sum are merge-order-free).
    */
  def countMinHeavyHitters(events: DataFrame, key: String = "user_id",
                           depth: Int = 3, width: Int = 64, k: Int = 10): DataFrame = {
    val keyed = events.select(col(key))
    val cms = countMinTable(keyed, key, depth, width)
    val top = keyed
      .groupBy(col(key))
      .agg(count(lit(1)).as("exact_cnt"))
      .orderBy(col("exact_cnt").desc, col(key))
      .limit(k)
    val est = (0 until depth)
      .map(j => top.select(col(key), lit(j).as("j"), cmsBucket(col(key), j, width).as("bucket")))
      .reduce(_ union _)
      .join(cms, Seq("j", "bucket"))
      .groupBy(col(key))
      .agg(min(col("c")).as("cms_est"))
    top
      .join(est, key)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("exact_cnt").desc, col(key))).cast("long"))
      .select(col("rank"), col(key), col("exact_cnt"), col("cms_est"),
        (col("cms_est") - col("exact_cnt")).as("overcount"),
        (col("cms_est") >= col("exact_cnt")).as("est_ge_exact"))
  }

  /** CMS error-vs-width curve as a DECLARED receipt — the sketch-tier
    * twin of `ann_recall`'s recall-vs-nProbe curve: for each width
    * (depth fixed), probe EVERY distinct key against a freshly built
    * sketch and report the achieved error profile — key count, max
    * and total overcount, and the one-sided guarantee (est ≥ exact)
    * as a pinned boolean. The curve makes the ε ≈ e/width capacity
    * trade a replayable measurement: a hash change, a width
    * misconfiguration, or a broken merge shows up as a hash mismatch
    * on the error numbers themselves, not a tolerance flake —
    * everything is integer arithmetic on portable hashes.
    *
    * Scale shape: the exact census is the ground-truth cost (same
    * role as ann_recall's brute-force side, bounded by the key
    * domain); each width's sketch build partial-aggregates to
    * depth·width cells per map task; the probe is a census×depth
    * equi-join on (j, bucket). */
  def cmsErrorCurve(events: DataFrame, key: String = "user_id", depth: Int = 3,
                    widths: Seq[Int] = Seq(16, 64, 256)): DataFrame = {
    val keyed = events.select(col(key))
    val census = keyed.groupBy(col(key))
      .agg(count(lit(1)).as("exact_cnt")).localCheckpoint(false)
    widths.map { w =>
      val cms = countMinTable(keyed, key, depth, w)
      (0 until depth)
        .map(j => census.select(col(key), col("exact_cnt"),
          lit(j).as("j"), cmsBucket(col(key), j, w).as("bucket")))
        .reduce(_ union _)
        .join(cms, Seq("j", "bucket"))
        .groupBy(col(key), col("exact_cnt"))
        .agg(min(col("c")).as("est"))
        .agg(
          count(lit(1)).as("n_keys"),
          max(col("est") - col("exact_cnt")).as("max_overcount"),
          sum(col("est") - col("exact_cnt")).cast("long").as("total_overcount"),
          min((col("est") >= col("exact_cnt")).cast("int")).cast("boolean")
            .as("all_ge_exact"))
        .withColumn("width", lit(w.toLong))
        .select(col("width"), col("n_keys"), col("max_overcount"),
          col("total_overcount"), col("all_ge_exact"))
    }.reduce(_ unionByName _)
  }

  /** Poisson(1) inverse-CDF thresholds on the 48-bit uniform hash —
    * exact Long constants shared VERBATIM with the oracle (k = 0..5;
    * the >t(5) tail, ~0.06%, draws 6). */
  private[graft] val PoissonT = Seq(103548857136060L, 207097714272121L,
    258872142840152L, 276130285696162L, 280444821410164L, 281307728552965L)

  /** Deterministic POISSON BOOTSTRAP confidence intervals — the
    * distributed bootstrap (each row's resample-r multiplicity drawn
    * Poisson(1) instead of multinomial, the standard big-data form
    * since exact n-out-of-n resampling needs global coordination):
    * per event type, the mean of `value` with a 95% order-statistic
    * CI over `b` resamples. Every draw derives from the portable
    * 48-bit hash of (resample, event_id) through fixed integer CDF
    * thresholds, and resample means sum in fixed-point micros — so
    * the whole stochastic procedure is bit-reproducible and the
    * oracle pins the CI bounds EXACTLY, the `cms_error_curve`
    * discipline applied to resampling statistics.
    *
    * Scale shape: one b-way row explode with map-side partial aggs
    * onto the bounded (type, resample) key — b× map work, tiny
    * shuffle; order statistics rank b rows per type. At 100 TB the
    * explode factor is the knob (b=40 ⇒ 40× map cost, same one
    * shuffle). */
  def bootstrapCI(events: DataFrame, b: Int = 40): DataFrame = {
    val t = PoissonT
    val base = events
      .select(col("event_id"), col("event_type"),
        round(col("value") * 1000000).cast("long").as("v_mu"), col("value"))
      .withColumn("r", explode(sequence(lit(0), lit(b - 1))))
      .withColumn("u", PortableHash.hash48(
        concat(lit("boot:"), col("r"), lit(":"), col("event_id"))))
      .withColumn("w",
        when(col("u") < t(0), 0L).when(col("u") < t(1), 1L)
          .when(col("u") < t(2), 2L).when(col("u") < t(3), 3L)
          .when(col("u") < t(4), 4L).when(col("u") < t(5), 5L).otherwise(6L))
    val means = base
      .groupBy(col("event_type"), col("r"))
      .agg(sum(col("w")).as("sw"), sum(col("w") * col("v_mu")).as("swv"))
      .withColumn("mean_r", graft.functions.VectorMath.roundn(
        col("swv").cast("double") /
          (greatest(col("sw"), lit(1L)).cast("double") * 1000000.0), 6))
    val rk = means.withColumn("rn", row_number().over(
      Window.partitionBy(col("event_type")).orderBy(col("mean_r"), col("r"))))
    val stats = events.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_rows"),
        graft.functions.VectorMath.roundn(avg(col("value")), 6).as("mean_value"))
    stats
      .join(rk.filter(col("rn") === 2)
        .select(col("event_type"), col("mean_r").as("ci_lo")), "event_type")
      .join(rk.filter(col("rn") === b - 1)
        .select(col("event_type"), col("mean_r").as("ci_hi")), "event_type")
  }

  /** KMV distinct-count estimate per event type, verified against the
    * exact count (Beyer et al. SIGMOD'07 unbiased estimator
    * (k−1)·H/U(k) over the 48-bit portable hash range H = 2^48; when
    * the sketch never fills, its size IS the exact distinct count).
    *
    * Scale shape: one groupBy over event_type where BOTH aggregates
    * partial-aggregate map-side — the exact count via count-distinct's
    * two-phase expansion, the sketch via
    * [[graft.functions.SketchAggregators.kmv]]'s ≤k-element
    * mergeable buffer. At 100 TB the exact twin is the expensive half
    * (it shuffles every distinct key); a production pipeline keeps
    * only the sketch column, whose shuffle volume is k·8 bytes per
    * (task × group) regardless of input rows. The estimate itself is
    * pure Long arithmetic ((k−1)·2^48 via 63·2^48 < 2^63, then
    * integer div), so the oracle reproduces it exactly.
    *
    * Estimator variance is ~1/√(k−2) ≈ 13% at k=64 — `rel_err` in the
    * output lets the oracle pin the achieved error, and the spec
    * asserts the theoretical bound on random inputs. */
  /** Type-1 (no-interpolation) quantile rank: the 1-based index of the
    * p-th percentile in an n-row sorted list, ceil(n·p/100) computed in
    * exact integer arithmetic ((n·p + 99) div 100 — double mult stays
    * below 2^53 up to n ≈ 9·10^13 rows even at p = 99). */
  private def targetRank(n: Column, pct: Column): Column =
    greatest(lit(1L), floor((n * pct + lit(99L)) / lit(100L)).cast("long"))

  /** Exact type-1 percentiles per event type in value-micros:
    * (event_type, pct, n_rows, exact_mu). The expensive ground-truth
    * twin — it ranks EVERY row per type (same role as kmv_distinct's
    * countDistinct side); a production pipeline keeps only the sketch.
    * Ties on value break by event_id, so both engines rank
    * identically. */
  private def exactQuantiles(events: DataFrame, pcts: Seq[Int]): DataFrame = {
    val vm = events.select(col("event_type"), col("event_id"),
      round(col("value") * 1000000).cast("long").as("v_mu"))
    vm
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("event_type"))
          .orderBy(col("v_mu"), col("event_id"))).cast("long"))
      .withColumn("n_rows", count(lit(1)).over(Window.partitionBy(col("event_type"))))
      .withColumn("pct", explode(filter(
        array(pcts.map(p => lit(p.toLong)): _*),
        p => col("rn") === targetRank(col("n_rows"), p))))
      .select(col("event_type"), col("pct"), col("n_rows"), col("v_mu").as("exact_mu"))
  }

  /** Sample percentiles from a bottom-k pair sketch:
    * (event_type, pct, n_sample, est_mu). The sketch rows with the k
    * smallest (hash, value) pairs are a uniform row sample (hash is
    * over row identity), so the sample's type-1 percentile estimates
    * the population's. Interleaved pairs [h0,v0,h1,v1,…]: values sit
    * at odd 0-based slots. */
  private def sampleQuantiles(events: DataFrame, k: Int, pcts: Seq[Int]): DataFrame = {
    val h = events.select(col("event_type"),
      PortableHash.hash48(concat(lit("qsk:"), col("event_id").cast("string"))).as("h"),
      round(col("value") * 1000000).cast("long").as("v_mu"))
    h.groupBy(col("event_type"))
      .agg(graft.functions.SketchAggregators.bottomKPairsUdaf(k)(col("h"), col("v_mu")).as("sk"))
      .withColumn("svals",
        array_sort(expr("transform(sequence(1, size(sk) div 2), i -> sk[2*i - 1])")))
      .withColumn("n_sample", (size(col("svals"))).cast("long"))
      .withColumn("pct", explode(array(pcts.map(p => lit(p.toLong)): _*)))
      .withColumn("est_mu",
        element_at(col("svals"), targetRank(col("n_sample"), col("pct")).cast("int")))
      .select(col("event_type"), col("pct"), col("n_sample"), col("est_mu"))
  }

  /** Mergeable SAMPLE-QUANTILE sketch, verified against exact
    * percentiles — the third sketch in the family (CMS counts
    * frequencies, KMV counts distincts, bottom-k pairs summarize a
    * VALUE distribution): per event type and percentile, the type-1
    * percentile of the k-row bottom-hash uniform sample next to the
    * exact percentile of all rows, with the achieved absolute error.
    * Every number derives from portable sha-hashes and fixed-point
    * micros, so the whole stochastic procedure is bit-reproducible and
    * the oracle pins estimates AND errors exactly (the `kmv_distinct`
    * discipline applied to order statistics).
    *
    * Scale shape: the sketch side ships ≤2k Longs per (task × group)
    * through the shuffle regardless of input rows (map-side combine on
    * the Aggregator buffer); the exact side is the expensive
    * ground-truth twin ranking every row. Sample error is the
    * Dvoretzky–Kiefer–Wolfowitz envelope ~√(ln(2/δ)/2k) in rank space;
    * the spec gates it, the output exposes it. */
  def quantileSketch(events: DataFrame, k: Int = 128,
                     pcts: Seq[Int] = Seq(25, 50, 75, 95)): DataFrame =
    exactQuantiles(events, pcts)
      .join(sampleQuantiles(events, k, pcts), Seq("event_type", "pct"))
      .select(col("event_type"), col("pct"), col("n_rows"), col("n_sample"),
        graft.functions.VectorMath.roundn(col("exact_mu") / 1e6, 6).as("exact_v"),
        graft.functions.VectorMath.roundn(col("est_mu") / 1e6, 6).as("est_v"),
        graft.functions.VectorMath.roundn(abs(col("exact_mu") - col("est_mu")) / 1e6, 6)
          .as("abs_err"))

  /** Quantile-sketch error-vs-k curve as a DECLARED receipt — the
    * bottom-k twin of [[cmsErrorCurve]]: for each sample budget k,
    * every (type, percentile) cell's absolute error against the exact
    * percentile, collapsed to the curve (max and mean error per k).
    * Monotone-shrinking error as k grows is the capacity trade made
    * replayable; a broken merge or hash drift shows up as a hash
    * mismatch on the error numbers themselves. */
  def quantileErrorCurve(events: DataFrame, ks: Seq[Int] = Seq(16, 64, 256),
                         pcts: Seq[Int] = Seq(25, 50, 75, 95)): DataFrame = {
    val exact = exactQuantiles(events, pcts).localCheckpoint(false)
    ks.map { k =>
      exact.join(sampleQuantiles(events, k, pcts), Seq("event_type", "pct"))
        .select(col("event_type"), col("pct"),
          abs(col("exact_mu") - col("est_mu")).as("err_mu"))
        .agg(count(lit(1)).as("n_cells"),
          graft.functions.VectorMath.roundn(max(col("err_mu")) / 1e6, 6).as("max_abs_err"),
          graft.functions.VectorMath.roundn(sum(col("err_mu")) / (count(lit(1)) * 1e6), 6)
            .as("avg_abs_err"))
        .withColumn("k", lit(k.toLong))
        .select(col("k"), col("n_cells"), col("max_abs_err"), col("avg_abs_err"))
    }.reduce(_ unionByName _)
  }

  /** Bloom-filter FPR-vs-bits curve as a DECLARED receipt — the
    * membership-sketch member of the error-curve family
    * (cms_error_curve counts, quantile_error_curve order statistics,
    * this one set membership): build a k-hash Bloom filter over the
    * distinct user keys at several bit widths FROM PORTABLE HASHES
    * (unlike `decontaminate_bloom`'s built-in `stat.bloomFilter`,
    * whose bit layout a foreign oracle cannot replay), probe it with
    * keys known to be absent, and pin the measured false-positive
    * rate next to the (1 − (1 − 1/m)^{kn})^k theory value. No false
    * negatives is part of the pinned contract (every inserted key
    * re-probes positive — checked by construction: the measured FPR
    * uses only disjoint probe keys).
    *
    * Scale shape: the bit table is ≤m rows per width (distinct over
    * the keys' hash positions, map-side partials); probes explode
    * k rows each and equi-join the bit table (broadcastable — m is
    * the SKETCH size); a probe is a false positive iff all k
    * positions hit. */
  def bloomFprCurve(events: DataFrame, ms: Seq[Int] = Seq(256, 1024, 4096),
                    k: Int = 3, nProbe: Int = 2000): DataFrame = {
    val spark = events.sparkSession
    val keys = events.select(col("user_id").cast("string").as("key")).distinct()
      .localCheckpoint(false)
    val nIns = keys.agg(count(lit(1)).as("n_inserted"))
    val probes = spark.range(nProbe).select(concat(lit("neg:"), col("id")).as("key"))
    ms.map { m =>
      val bits = (0 until k)
        .map(j => keys.select(
          PortableHash.bucket(concat(lit(s"bf$j:"), col("key")), m).as("pos")))
        .reduce(_ union _).distinct()
      val nBits = bits.agg(count(lit(1)).as("n_bits_set"))
      val probed = (0 until k)
        .map(j => probes.select(col("key"), lit(j).as("j"),
          PortableHash.bucket(concat(lit(s"bf$j:"), col("key")), m).as("pos")))
        .reduce(_ union _)
      val fps = probed.join(bits, "pos")
        .groupBy(col("key")).agg(countDistinct(col("j")).as("nh"))
        .filter(col("nh") === k)
        .agg(count(lit(1)).as("n_false_pos"))
      fps.crossJoin(nIns).crossJoin(nBits)
        .select(
          lit(m.toLong).as("m_bits"), col("n_inserted"), col("n_bits_set"),
          lit(nProbe.toLong).as("n_probed"), col("n_false_pos"),
          graft.functions.VectorMath.roundn(
            col("n_false_pos") / lit(nProbe.toDouble), 6).as("fpr"),
          graft.functions.VectorMath.roundn(
            pow(lit(1.0) - pow(lit(1.0 - 1.0 / m),
              col("n_inserted") * k), lit(k.toDouble)), 6).as("theory_fpr"))
    }.reduce(_ unionByName _)
  }

  /** KMV SET-INTERSECTION estimate (theta-sketch style) — the
    * audience-overlap primitive [[kmvDistinct]] can't answer alone:
    * |viewers ∩ purchasers| from two k-min sketches. θ = the smaller
    * of the two k-th minima (an under-filled sketch contributes
    * θ = 2⁴⁸ — it IS its full set); both retained sets cut at θ are
    * uniform samples of their sets at the SAME known rate θ/2⁴⁸, so
    * the intersection estimate is |S_A ∩ S_B| · 2⁴⁸ / θ, exact Long
    * arithmetic throughout. The exact distinct-intersection twin
    * rides along; when both sketches are under-filled the estimate
    * degenerates to the exact count by construction.
    *
    * Scale shape: two sketch builds (map-side k·8-byte partials),
    * a 1×1 crossJoin of sketch rows, array arithmetic on ≤k
    * elements; the exact twin's distinct-intersect is the receipt's
    * cost only. */
  def kmvIntersect(events: DataFrame, typeA: String = "view",
                   typeB: String = "purchase", k: Int = 64): DataFrame = {
    import graft.functions.VectorMath.roundn
    val H = 281474976710656L // 2^48
    def side(t: String, nm: String): DataFrame =
      events.filter(col("event_type") === t)
        .select(col("user_id")).distinct()
        .select(PortableHash.hash48(
          concat(lit("kmv:"), col("user_id").cast("string"))).as("h"))
        .agg(graft.functions.SketchAggregators.kmvUdaf(k)(col("h")).as(nm))
    val ex = events.filter(col("event_type") === typeA)
      .select(col("user_id")).distinct()
      .intersect(events.filter(col("event_type") === typeB)
        .select(col("user_id")).distinct())
      .agg(count(lit(1)).as("n_exact_inter"))
    side(typeA, "ska").crossJoin(side(typeB, "skb")).crossJoin(ex)
      .withColumn("tha",
        when(size(col("ska")) < k, lit(H)).otherwise(element_at(col("ska"), k)))
      .withColumn("thb",
        when(size(col("skb")) < k, lit(H)).otherwise(element_at(col("skb"), k)))
      .withColumn("theta", least(col("tha"), col("thb")))
      .withColumn("n_si", size(expr(
        "array_intersect(filter(ska, x -> x < theta), filter(skb, x -> x < theta))"))
        .cast("long"))
      .withColumn("n_inter_est", expr(s"(n_si * ${H}L) div theta"))
      .select(col("n_exact_inter"), col("theta"), col("n_si"), col("n_inter_est"),
        roundn(abs(col("n_inter_est") - col("n_exact_inter")).cast("double") /
          greatest(col("n_exact_inter"), lit(1L)).cast("double"), 6).as("rel_err"))
  }

  /** BLOOM-PRUNED JOIN receipt — runtime filtering, THE 100 TB join
    * optimization (Spark's own runtime row-group filters / DPP do
    * this opaquely; here it is explicit and oracle-replayable): build
    * a k-hash Bloom over the FILTERED build side's join keys
    * (customers in one market segment), probe every fact row map-side
    * BEFORE the join shuffle, and pin the two numbers that justify
    * the technique — the fraction of probe rows that survive (shuffle
    * bytes saved ≈ 1 − pass_frac) and the equality of the pruned join
    * with the unpruned join (Bloom has NO false negatives, so pruning
    * can never drop a join row — a pinned boolean, not a hope).
    *
    * Scale shape: the bit table folds into ONE broadcast sorted
    * array of ≤m positions; probing is k conjunctive
    * `array_contains` tests per fact row inside a single map-side
    * Filter — zero exchanges touch the fact table before pruning;
    * only survivors reach the join exchange. The receipt's exact
    * twin joins the unpruned side once. */
  def bloomJoin(orders: DataFrame, customer: DataFrame,
                segment: String = "BUILDING", m: Int = 4096, k: Int = 3): DataFrame = {
    import graft.functions.VectorMath.roundn
    val buildRows = customer.filter(col("c_mktsegment") === segment)
      .select(col("c_custkey")).localCheckpoint(false)
    val build = buildRows.select(col("c_custkey").cast("string").as("key")).distinct()
    val bits = (0 until k)
      .map(j => build.select(
        PortableHash.bucket(concat(lit(s"bj$j:"), col("key")), m).as("pos")))
      .reduce(_ union _).distinct().localCheckpoint(false)
    // Map-side probe: the ≤m set positions fold into ONE broadcast
    // sorted array; every fact row tests its k bucket positions in a
    // single conjunctive Filter — no exchange touches the fact table
    // before pruning (the receipt's own claim, now true in the plan).
    val bitsArr = bits.agg(array_sort(collect_set(col("pos"))).as("bits_arr"))
    val passed = orders.select(col("o_orderkey"), col("o_custkey"))
      .crossJoin(broadcast(bitsArr))
      .filter((0 until k).map(j => array_contains(col("bits_arr"),
        PortableHash.bucket(
          concat(lit(s"bj$j:"), col("o_custkey").cast("string")), m)))
        .reduce(_ && _))
      .select(col("o_orderkey"), col("o_custkey"))
    val nBuild = build.agg(count(lit(1)).as("n_build_keys"))
    val nBits = bits.agg(count(lit(1)).as("n_bits_set"))
    val nProbe = orders.agg(count(lit(1)).as("n_probe_rows"))
    val nPass = passed.agg(count(lit(1)).as("n_pass"))
    val joinFull = orders
      .join(buildRows, orders("o_custkey") === buildRows("c_custkey"))
      .agg(count(lit(1)).as("n_join_rows"))
    val joinPruned = passed
      .join(buildRows, passed("o_custkey") === buildRows("c_custkey"))
      .agg(count(lit(1)).as("n_join_pruned"))
    nBuild.crossJoin(nBits).crossJoin(nProbe).crossJoin(nPass)
      .crossJoin(joinFull).crossJoin(joinPruned)
      .select(col("n_build_keys"), col("n_bits_set"), col("n_probe_rows"),
        col("n_pass"),
        roundn(col("n_pass").cast("double") / col("n_probe_rows").cast("double"), 6)
          .as("pass_frac"),
        col("n_join_rows"),
        (col("n_join_rows") === col("n_join_pruned")).as("join_unchanged"))
  }

  /** Sketch-based JOIN-SIZE ESTIMATION — the cardinality-estimator
    * receipt (Alon-Matias-Szegedy lineage; the CMS inner-product
    * form, Cormode & Muthukrishnan §4.2): |A ⋈ B| on an equi-key is
    * the inner product of the two frequency vectors, which two
    * count-min sketches estimate as min_j Σ_b ca(j,b)·cb(j,b) — an
    * OVERESTIMATE (collision terms are nonnegative), so est ≥ exact
    * is a pinnable one-sided guarantee, exactly the shape a join
    * planner needs for safe sizing. The exact join count beside it is
    * the verification twin.
    *
    * Scale shape: each side reduces to depth·width cells with
    * map-side partials regardless of input rows; the estimate is a
    * cell-aligned equi-join over two postcard tables; the exact twin
    * is the receipt's cost (the real join). Cell products accumulate
    * in decimal(38,0) — two 10^12-row sides put cell counts near
    * 10^12 and products near 10^24, far past Long. */
  def joinSizeSketch(customer: DataFrame, orders: DataFrame, lineitem: DataFrame,
                     depth: Int = 3, width: Int = 64): DataFrame = {
    def one(name: String, a: DataFrame, aKey: String, b: DataFrame, bKey: String): DataFrame = {
      val cmsA = countMinTable(a.select(col(aKey).as("k")), "k", depth, width)
        .withColumnRenamed("c", "ca")
      val cmsB = countMinTable(b.select(col(bKey).as("k")), "k", depth, width)
        .withColumnRenamed("c", "cb")
      val est = cmsA.join(cmsB, Seq("j", "bucket"))
        .groupBy(col("j"))
        .agg(sum(col("ca").cast("decimal(38,0)") * col("cb")).as("dot"))
        .agg(min(col("dot")).cast("long").as("cms_est"))
      val exact = a.select(col(aKey).as("k")).join(b.select(col(bKey).as("k")), "k")
        .agg(count(lit(1)).as("exact_size"))
      exact.crossJoin(est)
        .select(lit(name).as("join_name"), col("exact_size"), col("cms_est"),
          (col("cms_est") - col("exact_size")).as("overcount"),
          (col("cms_est") >= col("exact_size")).as("est_ge_exact"))
    }
    one("orders_customer", orders, "o_custkey", customer, "c_custkey")
      .unionByName(one("lineitem_orders", lineitem, "l_orderkey", orders, "o_orderkey"))
  }

  /** KMV MERGEABILITY as a declared receipt — the distributed-sketch
    * contract ("merge of partials equals the sketch of the union")
    * pinned by the oracle instead of only by specs: per event type,
    * the bottom-k union of per-DAY sketches must equal the sketch
    * built over the whole period in one pass, element for element.
    * This is the exact property that lets a 1000-executor job keep
    * k·8-byte partials per (task × group) and merge them on the
    * reduce side; a broken insert/merge shows up as
    * `merged_eq_whole = false` — a hash mismatch, not a flake.
    *
    * Scale shape: the per-day tier is a (type, day)-keyed agg with
    * map-side sketch partials; the merge tier re-aggregates the
    * ≤k-element day arrays (explode moves k rows per day, not the
    * stream); the whole-period twin is the receipt's cost. */
  def kmvUnionReceipt(events: DataFrame, k: Int = 64): DataFrame = {
    val H = 281474976710656L
    val kmv = graft.functions.SketchAggregators.kmvUdaf(k)
    val h = events.select(col("event_type"),
      expr(s"ts div ${RelationalOps.DayNanos}L").as("day"),
      PortableHash.hash48(concat(lit("kmv:"), col("user_id").cast("string"))).as("h"))
    val perDay = h.groupBy(col("event_type"), col("day")).agg(kmv(col("h")).as("sk"))
    val merged = perDay
      .select(col("event_type"), col("day"), explode(col("sk")).as("h"))
      .groupBy(col("event_type"))
      .agg(countDistinct(col("day")).as("n_days"), kmv(col("h")).as("sk_merged"))
    val whole = h.groupBy(col("event_type")).agg(kmv(col("h")).as("sk_whole"))
    merged.join(whole, "event_type")
      .withColumn("n_kmv",
        when(size(col("sk_merged")) < k, size(col("sk_merged")).cast("long"))
          .otherwise(expr(s"(${k - 1}L * ${H}L) div greatest(element_at(sk_merged, $k), 1L)")))
      .select(col("event_type"), col("n_days"),
        size(col("sk_merged")).cast("long").as("size_merged"),
        size(col("sk_whole")).cast("long").as("size_whole"),
        (col("sk_merged") === col("sk_whole")).as("merged_eq_whole"),
        col("n_kmv"))
  }

  def kmvDistinct(events: DataFrame, key: String = "user_id", k: Int = 64): DataFrame = {
    val H = 281474976710656L // 2^48, the PortableHash.hash48 range
    val h = events.select(col("event_type"), col(key),
      PortableHash.hash48(concat(lit("kmv:"), col(key).cast("string"))).as("h"))
    h.groupBy(col("event_type"))
      .agg(
        countDistinct(col(key)).as("n_exact"),
        graft.functions.SketchAggregators.kmvUdaf(k)(col("h")).as("sk"))
      .withColumn("n_kmv",
        // greatest(…, 1): hash48's range includes 0, so the k-th
        // smallest hash can be 0 with probability ~k/2^48 — without
        // the guard that corner divides by zero on both engines
        when(size(col("sk")) < k, size(col("sk")).cast("long"))
          .otherwise(expr(s"(${k - 1}L * ${H}L) div greatest(element_at(sk, $k), 1L)")))
      .withColumn("rel_err",
        graft.functions.VectorMath.roundn(
          abs(col("n_kmv") - col("n_exact")).cast("double") / col("n_exact"), 6))
      .select(col("event_type"), col("n_exact"), col("n_kmv"), col("rel_err"))
  }

  /** RANGE-PARTITION boundary planning + balance audit — what
    * `repartitionByRange` / a sorted-parquet write does internally
    * (sample → pick split points → route rows), surfaced as a
    * DETERMINISTIC, oracle-replayable receipt: boundaries are the
    * n·i/parts rank statistics of the bottom-k pair sketch's uniform
    * row sample (the [[quantileSketch]] kernel — Spark's own
    * RangePartitioner does exactly this with a non-reproducible
    * reservoir), every row is routed by counting boundaries below its
    * value, and the output pins each partition's row count, value
    * range, and balance factor (frac·parts; 1.0 = perfectly even).
    * The balance column is the number a 100 TB sorted-write plan is
    * approved on — a skewed boundary set shows up as balance ≫ 1
    * before any executor OOMs on the real write.
    *
    * Scale shape: the sketch ships ≤2k Longs per map task; boundaries
    * broadcast (parts−1 Longs); routing is map-side integer compares;
    * the audit agg keys on ≤parts values. No global sort anywhere —
    * that is the point. */
  def rangeBoundaries(events: DataFrame, nParts: Int = 8, k: Int = 256): DataFrame = {
    import graft.functions.VectorMath.roundn
    val h = events.select(
      PortableHash.hash48(concat(lit("rb:"), col("event_id").cast("string"))).as("h"),
      round(col("value") * 1000000).cast("long").as("v_mu"))
    val bounds = h
      .agg(graft.functions.SketchAggregators.bottomKPairsUdaf(k)(
        col("h"), col("v_mu")).as("sk"))
      .withColumn("svals",
        array_sort(expr("transform(sequence(1, size(sk) div 2), i -> sk[2*i - 1])")))
      .withColumn("n_sample", size(col("svals")).cast("long"))
      .select(expr(
        s"""transform(sequence(1, ${nParts - 1}), bi ->
           |  element_at(svals, cast(greatest(1L, (n_sample * bi) div ${nParts}L) as int)))
           |""".stripMargin).as("bs"))
    val total = h.agg(count(lit(1)).as("n_total"))
    h.crossJoin(broadcast(bounds))
      .withColumn("part_idx",
        expr("aggregate(bs, 0L, (acc, b) -> acc + if(v_mu > b, 1L, 0L))"))
      .groupBy(col("part_idx"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("v_mu")).as("min_mu"), max(col("v_mu")).as("max_mu"))
      .crossJoin(broadcast(total))
      .select(col("part_idx"),
        roundn(col("min_mu") / 1e6, 6).as("min_v"),
        roundn(col("max_mu") / 1e6, 6).as("max_v"),
        col("n_rows"),
        roundn(col("n_rows").cast("double") / col("n_total").cast("double"), 6)
          .as("frac"),
        roundn(col("n_rows").cast("double") * nParts /
          col("n_total").cast("double"), 6).as("balance"))
  }

  /** HyperLogLog registers for one keyed stream — the OTHER
    * mergeable cardinality sketch beside [[kmvDistinct]] (Flajolet et
    * al. '07, the industry default: fixed 64-register state vs KMV's
    * k hashes, register-wise max merge vs KMV's sorted-merge).
    * `approx_stats_check` only tolerance-bounds Spark's built-in
    * HLL++; this one is built from PORTABLE arithmetic (hash48 →
    * top-6-bit register index, leading-zero rank of the low 42 bits
    * via integer bin-length — no float log2), so every register and
    * the final estimate replay exactly in the oracle.
    *
    * Returns (event_type, idx, m_j): the occupied registers. */
  private def hllRegisters(events: DataFrame, key: String): DataFrame = {
    val two42 = 4398046511104L // 2^42
    events
      .select(col("event_type"),
        PortableHash.hash48(concat(lit("hll:"), col(key).cast("string"))).as("h"))
      .select(col("event_type"),
        shiftright(col("h"), 42).as("idx"),
        (col("h") % two42).as("rr"))
      // rank of the first 1-bit in the 42-bit remainder: 43 - bitlength
      // (rr = 0 → all zeros → rank 43). bin() length is exact integer
      // arithmetic on both engines — no float log2 boundary hazard.
      .select(col("event_type"), col("idx"),
        when(col("rr") === 0L, lit(43L))
          .otherwise(lit(43L) - length(bin(col("rr")))).as("rho"))
      .groupBy(col("event_type"), col("idx"))
      .agg(max(col("rho")).as("m_j"))
  }

  /** HLL estimate per type from occupied registers: the harmonic-mean
    * raw estimate with the standard small-range linear-counting
    * correction. Z's reciprocal-power sum is computed as an EXACT
    * integer numerator over 2^43 (each term 2^(43−m_j) ≤ 2^43, 64
    * terms < 2^49 — no float sum order anywhere); the branch compares
    * the ONCE-rounded raw estimate so both engines take the same arm. */
  private def hllEstimate(regs: DataFrame): DataFrame = {
    import graft.functions.VectorMath.roundn
    val two43 = 8796093022208L // 2^43
    regs
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_regs"),
        sum(expr("shiftleft(1L, cast(43 - m_j as int))")).as("sum_present"))
      .withColumn("v0", lit(64L) - col("n_regs"))
      .withColumn("sum_num", col("sum_present") + col("v0") * two43)
      .withColumn("est_raw", roundn(
        lit(0.709) * lit(4096.0) * lit(8796093022208.0) /
          col("sum_num").cast("double"), 6))
      .withColumn("n_hll",
        when(col("v0") > 0L && col("est_raw") <= lit(160.0),
          roundn(log(lit(64.0) / col("v0").cast("double")) * 64.0, 6))
          .otherwise(col("est_raw")))
      .select(col("event_type"), col("n_regs"), col("v0"), col("n_hll"))
  }

  /** Declared query: per-type distinct-user estimate from a 64-register
    * portable HLL beside the exact count — registers, estimate, and
    * relative error all pinned exactly by the oracle.
    *
    * Scale shape: one sha per row map-side, registers reduce on the
    * (type, idx) key (≤ 64·|types| rows into the final agg regardless
    * of input size — the postcard-sized state that makes HLL the 100 TB
    * default); the exact twin is the receipt's cost, production keeps
    * registers only. */
  def hllDistinct(events: DataFrame, key: String = "user_id"): DataFrame = {
    import graft.functions.VectorMath.roundn
    val est = hllEstimate(hllRegisters(events, key))
    val exact = events.groupBy(col("event_type"))
      .agg(countDistinct(col(key)).as("n_exact"))
    est.join(exact, "event_type")
      .withColumn("rel_err",
        roundn(abs(col("n_hll") - col("n_exact").cast("double")) /
          col("n_exact").cast("double"), 6))
      .select(col("event_type"), col("n_exact"), col("n_regs"), col("v0"),
        col("n_hll"), col("rel_err"))
  }

  /** HLL error-vs-registers curve — the cardinality member of the
    * error-curve family (cms_error_curve counts, quantile_error_curve
    * order statistics, bloom_fpr_curve membership, this one distinct
    * counting): the full stream's distinct-user estimate at m ∈ {16,
    * 64, 256} registers beside the exact count — the σ ≈ 1.04/√m
    * capacity trade made a replayable measurement. Register index =
    * top log₂m hash bits, rank = bitlength of the remainder, α the
    * standard constant (0.673 / 0.697 / 0.709 for m = 16 / 32 / 64,
    * 0.7213/(1 + 1.079/m) for m ≥ 128 — Flajolet et al. 2007, so any
    * power-of-two m is accepted, not just the three defaults).
    *
    * Scale shape: the stream is scanned ONCE — one sha per row
    * map-side reducing onto the FINEST register key (≤2^pmax rows);
    * every coarser leg is an exact fold of that postcard table (a
    * coarse register's remainder is [dropped idx bits ∥ fine
    * remainder], so its rank is bitlength arithmetic on the dropped
    * bits when they are nonzero and a shift of the fine rank when
    * they are zero — max commutes with the fold). Nothing
    * corpus-sized is ever materialized; the round-10 shape
    * localCheckpointed the full hashed stream to serve the legs. */
  def hllErrorCurve(events: DataFrame,
                    ms: Seq[Int] = Seq(16, 64, 256)): DataFrame = {
    import graft.functions.VectorMath.roundn
    def alphaFor(m: Int): Double = m match {
      case 16 => 0.673
      case 32 => 0.697
      case 64 => 0.709
      case mm if mm >= 128 => 0.7213 / (1.0 + 1.079 / mm)
      case mm => throw new IllegalArgumentException(
        s"hllErrorCurve: m must be >= 16, got $mm")
    }
    def pOf(m: Int): Int = {
      val p = (math.log(m) / math.log(2)).round.toInt
      require((1L << p) == m && p >= 4 && p <= 20,
        s"hllErrorCurve: m must be a power of two in [16, 2^20], got $m")
      p
    }
    val exact = events.agg(countDistinct(col("user_id")).as("n_exact"))
      .localCheckpoint(false)
    val pmax = ms.map(pOf).max
    val maxRhoMax = 48 - pmax + 1
    // one corpus pass: registers at the finest precision (postcard)
    val baseRegs = events
      .select(PortableHash.hash48(
        concat(lit("hll:"), col("user_id").cast("string"))).as("h"))
      .select(shiftright(col("h"), 48 - pmax).as("idx"),
        (col("h") % lit(1L << (48 - pmax))).as("rr"))
      .select(col("idx"),
        when(col("rr") === 0L, lit(maxRhoMax.toLong))
          .otherwise(lit(maxRhoMax.toLong) - length(bin(col("rr")))).as("rho"))
      .groupBy(col("idx")).agg(max(col("rho")).as("m_j"))
      .localCheckpoint(false)
    ms.map { m =>
      val p = pOf(m)
      val maxRho = 48 - p + 1
      val two = math.pow(2.0, maxRho).toLong
      val alpha = alphaFor(m)
      val shift = pmax - p
      val regs =
        if (shift == 0) baseRegs
        else baseRegs
          .select(shiftright(col("idx"), shift).as("cidx"),
            (col("idx") % lit(1L << shift)).as("extra"), col("m_j"))
          .select(col("cidx").as("idx"),
            when(col("extra") =!= 0L,
              lit(shift.toLong + 1L) - length(bin(col("extra"))))
              .otherwise(lit(shift.toLong) + col("m_j")).as("rho"))
          .groupBy(col("idx")).agg(max(col("rho")).as("m_j"))
      regs.agg(count(lit(1)).as("n_regs"),
        sum(expr(s"shiftleft(1L, cast($maxRho - m_j as int))")).as("sum_present"))
        .withColumn("v0", lit(m.toLong) - col("n_regs"))
        .withColumn("est_raw", roundn(
          lit(alpha) * lit((m.toLong * m).toDouble) * lit(two.toDouble) /
            (col("sum_present") + col("v0") * two).cast("double"), 6))
        .withColumn("n_hll",
          when(col("v0") > 0L && col("est_raw") <= lit(2.5 * m),
            roundn(log(lit(m.toDouble) / col("v0").cast("double")) * m.toDouble, 6))
            .otherwise(col("est_raw")))
        .crossJoin(broadcast(exact))
        .select(lit(m.toLong).as("m_regs"), col("n_regs"), col("v0"),
          col("n_hll"), col("n_exact"),
          roundn(abs(col("n_hll") - col("n_exact").cast("double")) /
            col("n_exact").cast("double"), 6).as("rel_err"))
    }.reduce(_ unionByName _)
  }

  /** Declared query: the HLL mergeability receipt, [[kmvUnionReceipt]]'s
    * twin — per-day register tables max-merged must equal the
    * whole-stream register table, register for register (the property
    * that makes HLL state a shuffle-safe partial aggregate), pinned as
    * a boolean beside the merged estimate. */
  def hllUnionReceipt(events: DataFrame, key: String = "user_id"): DataFrame = {
    val two42 = 4398046511104L
    val perDay = events
      .select(col("event_type"), expr(s"ts div ${RelationalOps.DayNanos}L").as("day"),
        PortableHash.hash48(concat(lit("hll:"), col(key).cast("string"))).as("h"))
      .select(col("event_type"), col("day"),
        shiftright(col("h"), 42).as("idx"),
        (col("h") % two42).as("rr"))
      .select(col("event_type"), col("day"), col("idx"),
        when(col("rr") === 0L, lit(43L))
          .otherwise(lit(43L) - length(bin(col("rr")))).as("rho"))
      .groupBy(col("event_type"), col("day"), col("idx"))
      .agg(max(col("rho")).as("m_j"))
    val merged = perDay.groupBy(col("event_type"), col("idx"))
      .agg(max(col("m_j")).as("m_j"))
    val nDays = perDay.select(col("event_type"), col("day")).distinct()
      .groupBy(col("event_type")).agg(count(lit(1)).as("n_days"))
    val whole = hllRegisters(events, key)
    def packed(df: DataFrame, out: String): DataFrame =
      df.groupBy(col("event_type"))
        .agg(sort_array(collect_list(struct(col("idx"), col("m_j")))).as(out))
    packed(merged, "regs_merged")
      .join(packed(whole, "regs_whole"), "event_type")
      .join(nDays, "event_type")
      .join(hllEstimate(merged).select(col("event_type"), col("n_hll")), "event_type")
      .select(col("event_type"), col("n_days"),
        size(col("regs_merged")).cast("long").as("n_regs_merged"),
        (col("regs_merged") === col("regs_whole")).as("merged_eq_whole"),
        col("n_hll"))
  }
}
