package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Join operators (SURVEY.md §2.3).
  *
  * J1 is the reference's enrichment join: each consumed voter event is
  * merged with one candidate row by dict union
  * (`/root/reference/voting.py:99-103`); the output schema is exactly that
  * union (`spark-streaming.py:35-62`).
  */
object Joins {

  /** J1: stream/fact–static enrichment join. The dim side is explicitly
    * `broadcast()` — the reference's candidates table is 3 rows
    * (`/root/reference/main.py:181`), and at 100 TB a fact-side shuffle for
    * a small dim would be the single worst plan choice; broadcast hash join
    * keeps the fact side pipelined with zero exchange. */
  def enrich(fact: DataFrame, dim: DataFrame,
             factKey: String, dimKey: String): DataFrame =
    fact.join(broadcast(dim), fact(factKey) === dim(dimKey), "inner")

  /** J2: deterministic 1-of-N assignment — the reference picks the voted
    * candidate with `random.choice` (`/root/reference/voting.py:99`) under
    * `random.seed(21)` (`main.py:12`); the deterministic engine form is
    * modulo indexing into the choice list, as SURVEY §2.3 prescribes
    * (`pmod`-based so golden tests and the oracle agree). */
  def assignOneOfN(df: DataFrame, key: String, choices: Seq[String],
                   outCol: String): DataFrame = {
    val arr = array(choices.map(lit): _*)
    df.withColumn(outCol,
      element_at(arr, (pmod(col(key), lit(choices.size)) + 1).cast("int")))
  }

  /** J6: FULL OUTER totals — users totalled on either side survive with
    * the other side null→0. At scale both derived aggregates shuffle once
    * on user_id and the outer join reuses that partitioning (the only join
    * type where neither side can be the broadcast build side). */
  def fullOuterTotals(events: DataFrame): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .groupBy(col("user_id").as("cu")).agg(count(lit(1)).as("n_clicks"))
    val purchases = events.filter(col("event_type") === "purchase")
      .groupBy(col("user_id").as("pu"))
      .agg(round(sum("value"), 2).as("purchase_value"))
    clicks.join(purchases, col("cu") === col("pu"), "full_outer")
      .select(coalesce(col("cu"), col("pu")).as("user_id"),
              coalesce(col("n_clicks"), lit(0L)).as("n_clicks"),
              coalesce(col("purchase_value"), lit(0.0)).as("purchase_value"))
      .orderBy("user_id")
  }

  /** J3: post-aggregation result join back to dim metadata for display
    * (`.../Note_Projet1_...txt:36-37`): aggregate the fact first (shrinks
    * it to key-cardinality), then broadcast-join the dim — never join before
    * aggregating when only aggregates are consumed. */
  def aggThenEnrich(events: DataFrame, customer: DataFrame): DataFrame =
    events.groupBy("user_id")
      .agg(round(sum("value"), 2).as("total_value"))
      .join(broadcast(customer),
            col("user_id") === col("c_custkey"), "inner")
      .select(col("c_name"), col("total_value"))

  /** J7: SALTED shuffle join — the skew fix when one probe-side key
    * dominates and the build side is too big to broadcast (the join
    * mirror of [[Aggregates.votesPerCandidateSalted]]'s two-phase agg).
    * The probe side gets a deterministic per-row salt in [0, salts); the
    * build side is replicated once per salt value via an exploded
    * sequence; the join key becomes (key, salt), so the hot key's rows
    * spread across `salts` shuffle partitions instead of one straggler
    * task. Row multiplicity is EXACTLY that of the plain join — each
    * probe row meets each matching build row in precisely one salt
    * bucket — so the op is semantics-transparent (the oracle replays the
    * UNSALTED join). Replication costs `salts×` the build side: size it
    * to the hot keys' spread, not the cluster. AQE's skew-join split is
    * the runtime alternative (`Probe plans --aqe-skew` pins it); the
    * salt is the plan-level form that also works under joins AQE can't
    * split (e.g. under a required distribution). */
  def saltedJoin(probe: DataFrame, build: DataFrame,
                 probeKey: String, buildKey: String,
                 probeRowId: String, salts: Int): DataFrame = {
    val saltedProbe = probe.withColumn("__salt",
      pmod(hash(col(probeRowId)), lit(salts)).cast("int"))
    val saltedBuild = build.withColumn("__salt",
      explode(sequence(lit(0), lit(salts - 1))))
    saltedProbe.join(saltedBuild,
        saltedProbe(probeKey) === saltedBuild(buildKey) &&
        saltedProbe("__salt") === saltedBuild("__salt"))
      .drop("__salt")
  }

  /** J7c: the same skewed shuffle join handled by AQE's runtime skew
    * split instead of an explicit salt — the OTHER half of the skew
    * story [[saltedJoin]]'s scaladoc points at. The plan is the PLAIN
    * join (no salt column, no build replication) pinned to a shuffle
    * join with a MERGE hint: at runtime AQE's OptimizeSkewedJoin
    * measures the actual map output, and when one partition exceeds
    * `skewedPartitionFactor × median` (and the byte threshold) it splits
    * that partition into advisory-sized slices, each joined against a
    * DUPLICATED copy of the matching build partition — the same
    * replicate-the-small-side idea as the salt, but sized from observed
    * bytes instead of a compile-time constant, and only where skew
    * actually materialized. Semantics-transparent like the salt (the
    * oracle replays the plain join); the MERGE hint only forbids the
    * broadcast strategy so the shuffle path — the one a too-big-to-
    * broadcast build side forces at 100 TB — is what executes. The
    * runtime split itself is asserted by SkewSpec (thresholds scaled to
    * the fixture) and printed by `Probe plans --aqe-skew`; at production
    * scale the default 256 MB threshold binds instead. */
  def skewJoinAqe(probe: DataFrame, build: DataFrame,
                  probeKey: String, buildKey: String): DataFrame =
    probe.hint("MERGE").join(build, col(probeKey) === col(buildKey))

  /** The SHARED injected-skew fixture behind j7b/j7c and their auditors
    * (SkewSpec, `Probe plans --aqe-skew`): ~90% of probe rows collapse
    * onto one deterministic hot key. One definition, so the graded
    * queries and the plan/spec assertions can never drift apart. */
  def injectSkewKey(events: DataFrame): DataFrame =
    events
      .withColumn("skew_key",
        when(pmod(col("event_id"), lit(100)) < 90, lit(1L))
          .otherwise(col("user_id")))
      .select("event_id", "skew_key", "value")

  /** Incremental JOIN maintenance (append-only IVM) — the join sibling of
    * [[graft.ops.Aggregates.incrementalMerge]]: with facts E = E₀ ⊎ ΔE
    * and dim D = D₀ ⊎ ΔD (both append-only ingest batches), the refreshed
    * join is EXACTLY
    *
    *   (E₀ ⋈ D₀)  ∪  (ΔE ⋈ D)  ∪  (E₀ ⋈ ΔD)
    *
    * — the first term is the standing materialization (touched, never
    * re-joined, in production; recomputed here only because the graded
    * query is one self-contained plan, the incr_agg_merge convention),
    * and the delta terms each join ONE batch against the other side. At
    * 100 TB that is the difference between an hourly refresh joining an
    * hour×dim and re-joining a year×dim. The ΔE ⋈ ΔD corner belongs to
    * the middle term exactly once — the decomposition is disjoint by
    * construction (bag semantics), which is precisely what the
    * differential oracle grades: one lost or doubled term shifts the
    * per-nation counts. Cents are integer, so the post-union fold is
    * order-insensitive. Batch membership is a deterministic id hash (the
    * stand-in for arrival day). */
  def incrementalJoinMerge(events: DataFrame, dim: DataFrame): DataFrame = {
    val e = events.select(col("user_id"),
      round(col("value") * 100).cast("long").as("cents"),
      pmod(col("event_id"), lit(2)).as("eb"))
    val d = dim.select(col("c_custkey"), col("c_nationkey"),
      pmod(col("c_custkey"), lit(10)).as("db"))
    val baseE = e.filter(col("eb") === 0)
    val deltaE = e.filter(col("eb") === 1)
    val baseD = d.filter(col("db") =!= 0)
    val deltaD = d.filter(col("db") === 0)
    def term(l: DataFrame, r: DataFrame): DataFrame =
      l.join(r, l("user_id") === r("c_custkey"))
        .select(col("c_nationkey"), col("cents"))
    term(baseE, baseD)
      .unionByName(term(deltaE, d))
      .unionByName(term(baseE, deltaD))
      .groupBy("c_nationkey")
      .agg(count(lit(1)).as("n_rows"), sum("cents").as("cents"))
      .orderBy("c_nationkey")
  }

  /** Confs under which [[bloomPrunedJoin]] runs: runtime Bloom-filter
    * injection on, broadcast off (the 100 TB regime — at scale NEITHER
    * side of a fact⋈derived-keys join fits in a broadcast), and the
    * production size thresholds scaled to the fixture so the mechanism
    * fires locally exactly as it would past the 10 GB default on a real
    * fact table. */
  private[graft] val bloomConfs = Map(
    "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
    "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
    "spark.sql.autoBroadcastJoinThreshold" -> "-1")

  /** The logical query [[bloomPrunedJoin]] materializes: revenue per
    * high-value order — a selective derived key set (orders filtered on a
    * NON-join column) meeting the lineitem fact in a shuffle equi-join. */
  private[graft] def bloomJoinPlan(lineitem: DataFrame,
                                   orders: DataFrame): DataFrame = {
    val li = lineitem.select("l_orderkey", "l_extendedprice")
    val big = orders.filter(col("o_totalprice") > 400000)
      .select("o_orderkey")
    li.join(big, li("l_orderkey") === big("o_orderkey"))
      .groupBy("o_orderkey")
      .agg(round(sum("l_extendedprice"), 2).as("rev"))
      .orderBy("o_orderkey")
  }

  /** J9: runtime BLOOM-FILTER pruned shuffle join — the row-level sibling
    * of partition-level DPP (`storage_dpp_join`). The creation side's
    * selective predicate sits on o_totalprice, NOT the join key, so no
    * static filter can be inferred onto the fact side; instead Catalyst's
    * InjectRuntimeFilter builds a Bloom filter over the filtered orders'
    * join keys (`bloom_filter_agg`) and pushes `might_contain` onto the
    * lineitem scan — fact rows that cannot join die AT THE SCAN, before
    * the shuffle, cutting exchange volume to ~the matching fraction. At
    * 100 TB this is the difference between shuffling the firehose and
    * shuffling the answer; false positives are re-checked by the join
    * itself, so the op is semantics-transparent (the oracle replays the
    * plain join; [[BloomFilterJoinSpec]] pins both the injection and the
    * neutrality). The result is materialized INSIDE the conf scope —
    * optimizer rules read session confs at action time, so returning a
    * lazy frame would silently grade the default plan. */
  def bloomPrunedJoin(spark: SparkSession, lineitem: DataFrame,
                      orders: DataFrame): DataFrame =
    Storage.materializeUnderConf(spark, bloomConfs)(
      bloomJoinPlan(lineitem, orders))
}
