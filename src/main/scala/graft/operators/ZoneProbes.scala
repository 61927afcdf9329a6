package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Probe-side pruning for daily joins against STANDING zones — the
  * machinery that keeps an O(increment) day from paying an O(corpus)
  * exchange.
  *
  * The shape: every incremental operator joins a bounded daily increment
  * against a corpus-scale zone (fingerprint anti-join, banded signature
  * probe, cluster-keyed semantic probe). A plain shuffle join exchanges
  * BOTH sides on the key — a daily shuffle of the whole standing index,
  * the one cost in these paths that grows with the corpus instead of the
  * increment (the round-10 d9 10×-corpus ratio of 1.19× was exactly this
  * term). The fix here: the increment's key set rides to the zone scan —
  * as a BROADCAST left-semi or a plan-literal BLOOM — before any exchange,
  * so the only zone rows that ever enter a shuffle are those in buckets
  * the increment actually touches — O(candidates). The zone still pays
  * one linear SCAN (columnar, pruned to the key columns); no
  * FILE-SKIPPING layout can avoid that for hash-image keys —
  * sorting/clustering by band key gives row groups min/max ranges over
  * a UNIFORM key space, and a daily increment's ~10⁵
  * uniformly-spread probe keys intersect every such range, so parquet
  * stats prune nothing (the expected probes-per-row-group is far above
  * zero at any realistic file count) — and a bucketed layout would only
  * relocate the exchange, not remove it, while breaking the zones'
  * month-fold lifecycle (bucket files cannot be written through the
  * path-based day-partition publish). What the scan CAN shed (round 14)
  * is per-row work and payload width: Dedup's probes evaluate the band
  * bloom as a row-level OR of per-band probes over the STORED signature
  * arrays inside the scan stage (no bands×rows explode, no string keys
  * for dead rows), and the confirm stage fetches its heavy payload
  * columns (hgrams/vectors) by the BOUNDED candidate-id list as a pushable
  * parquet In — THERE row-group stats do skip, because candidate ids are
  * few and id layout is write-ordered, not hash-image.
  *
  * Exactness: pruning keeps WHOLE key groups — a zone row whose key is
  * absent from the increment can never join — so every downstream
  * operator (bucket counts, grid-salting factors, candidate joins) sees
  * bit-identical inputs for every key that can still match.
  *
  * Dispatch: the two incremental LSH probes (MinHash and embedding)
  * build ONE [[keyBloom]] over the increment's band keys at every size
  * and prune with [[pruneByBloom]] — a key set past the bloom's sizing
  * only raises its fpp, pruning less but never wrongly. The fingerprint
  * [[zoneAntiJoin]] dispatches on the INCREMENT's distinct-key count:
  * up to [[BroadcastProbeMaxRows]] a broadcast semi; past it an explicit
  * BLOOM prune (one distributed agg over the increment keys → an ≤8 MB
  * plan literal filtering the zone scan) — explicit because Spark's
  * InjectRuntimeFilter never blooms the right side of a LEFT ANTI join,
  * so "the optimizer covers it" was an unverifiable claim at exactly the
  * scale that matters. Past [[BloomProbeMaxRows]] the plain shuffle join
  * stands: the increment is then a material fraction of the corpus and
  * the exchange is proportionally sane.
  */
object ZoneProbes {

  /** Engagement bound for the broadcast prune: ~1M probe keys ≈ tens of
    * MB broadcast — comfortably inside executor/driver budgets at any
    * cluster size; a larger increment takes the bloom prune below.
    */
  val BroadcastProbeMaxRows: Long = 1L << 20

  /** Engagement bound for the BLOOM prune that covers the band above the
    * broadcast limit: past ~32M increment keys even a capped-size bloom
    * (8 MB, [[BloomNumBitsCap]]) holds < 2 bits per item and stops
    * pruning meaningfully — and an increment that large is no longer a
    * "daily increment" against the zone, so the plain shuffle join's
    * proportional cost is the honest plan.
    */
  val BloomProbeMaxRows: Long = 1L << 25

  /** Bloom sizing: 8 bits per expected item (~2% fpp) capped at 2^26 bits
    * = 8 MB — Spark's own runtime-filter ceiling, small enough to ride
    * the plan as a literal to every task.
    */
  val BloomNumBitsCap: Long = 1L << 26

  /** Zone rows whose `keys` tuple appears in `probe` — a broadcast
    * left-semi that runs on the zone SCAN, before any exchange. Callers
    * dispatch via `engage` (their increment-size knowledge); disengaged
    * the zone passes through untouched.
    *
    * Right for SMALL probe key sets (the cluster-keyed semantic probe:
    * ≤ k keys). For band-key probes of ~10⁵-10⁶ keys prefer the
    * [[keyBloom]]/[[pruneByBloom]] pair: the semi's broadcast collects
    * the whole key set to the driver, builds a hash relation and ships
    * it per executor — measured ~1.2 s of fixed overhead per prune at
    * bench scale (the round-11 d9/d12 regression), re-paid on every
    * re-execution of the consuming plan (iterative consumers like the
    * cluster closure re-evaluate lineage) — while the bloom is one tiny
    * agg job whose ≤1 MB result rides the plan as a literal.
    */
  def pruneByKeys(
      zone: DataFrame, probe: DataFrame, keys: Seq[String], engage: Boolean): DataFrame =
    if (!engage) zone
    else zone.join(broadcast(probe.select(keys.map(col): _*).distinct()), keys, "left_semi")

  /** ONE bloom filter over the probe's key tuples (composite-hashed),
    * computed eagerly (a single partial-agg job over the probe — cheap;
    * callers hold the probe cached anyway) and reusable across every
    * zone prune of the operator. ~1 MB at the default sizing (1M
    * expected items, the engagement bound's order), ~0.1% fpp at 10⁵
    * actual keys.
    */
  /** `expectedItems` sizes the filter at 8 bits/item (~2% fpp): callers
    * that know their key count SHOULD pass it — a right-sized bloom for
    * a daily increment (~10⁵ keys → ~100 KB) stays L2-resident under
    * the zone scan's per-row probe loop and rides the plan as a small
    * literal, where the former fixed 1M-item default (1 MB) thrashed
    * the cache at 16 probes/row and bloated every task binary.
    */
  def keyBloom(
      probe: DataFrame, keys: Seq[String], expectedItems: Long = 1L << 20): Array[Byte] = {
    val est = math.max(1024L, math.min(expectedItems, 1L << 22))
    // 16 bits/item (~0.04% fpp), not the anti-join arm's 8: the row
    // prefilters probe this bloom bands-times PER ROW, so row-level
    // false-positive survival compounds ~bands × fpp (16 bands at 2%
    // fpp kept 24% of a measured x100 zone; at 0.04% it keeps <1%) —
    // the doubled filter is still increment-sized (~100s of KB)
    val numBits = math.min(16L * est, BloomNumBitsCap)
    probe
      .select(keys.map(col): _*)
      // one task: the probe is increment-sized and cached (this
      // function's contract) — a 32-partition partial agg merges 32
      // bloom buffers on the driver for no parallelism gain,
      // measured at ~0.5 s of pure overhead per bloom job
      .coalesce(1)
      .select(call_function("graft_bloom_agg",
        xxhash64(keys.map(col): _*), lit(est), lit(numBits)).as("bf"))
      .head().getAs[Array[Byte]]("bf")
  }

  /** Zone rows whose composite key hash the bloom might contain — a
    * plan-literal filter on the zone SCAN, before any exchange. False
    * positives keep WHOLE extra key groups, and pruning semantics only
    * require a superset of the matching groups, so every downstream
    * consumer (bucket counts, grid factors, candidate joins) stays
    * exact.
    */
  def pruneByBloom(zone: DataFrame, bloom: Array[Byte], keys: Seq[String]): DataFrame =
    zone.filter(call_function("graft_might_contain", lit(bloom), xxhash64(keys.map(col): _*)))

  /** `increment LEFT ANTI zone` on `keys`, with the corpus-scale side
    * kept out of every exchange: the probe direction is INVERTED — the
    * zone scans once against the broadcast increment keys (left-semi,
    * producing the ≤increment-sized hit set), and the increment
    * anti-joins the hits. Result-identical to the plain anti join;
    * `nIncrement` (the caller's row count for the increment, usually
    * already in hand for its ledger) gates the broadcast. Increment keys
    * are assumed non-null (fingerprints) — null-keyed rows never match
    * an anti join's probe on either path.
    */
  def zoneAntiJoin(
      increment: DataFrame,
      zone: DataFrame,
      keys: Seq[String],
      nIncrement: Long): DataFrame =
    if (nIncrement <= BroadcastProbeMaxRows) {
      val hits = zone.join(
        broadcast(increment.select(keys.map(col): _*).distinct()), keys, "left_semi")
      increment.join(broadcast(hits), keys, "left_anti")
    } else if (nIncrement <= BloomProbeMaxRows) {
      // DISENGAGED broadcast, ENGAGED bloom: past the broadcast bound the
      // key set no longer fits a broadcast semi, but the zone still must
      // not shuffle at corpus width. The increment aggregates to ONE
      // bloom-filter row (a distributed agg over the composite key hash —
      // the pass costs O(increment), the side the join scans anyway), and
      // non-matching zone rows die on the SCAN, before the anti-join
      // exchange. Spark's own runtime-bloom rewrite does not cover this
      // join (InjectRuntimeFilter never prunes the right side of a
      // LEFT ANTI), so the filter is wired explicitly via the registered
      // BloomFilterAggregate/BloomFilterMightContain pair. False
      // positives only pass extra zone rows through to the exact anti
      // join — result identical (spec-pinned alongside the broadcast arm).
      val est = math.min(nIncrement, 1L << 22) // agg's maxNumItems guard
      val numBits = math.min(8L * nIncrement, BloomNumBitsCap)
      val hash = xxhash64(keys.map(col): _*)
      val bloom = increment
        .select(call_function("graft_bloom_agg", hash, lit(est), lit(numBits)).as("bf"))
        .head().getAs[Array[Byte]]("bf")
      val pruned = zone.filter(
        call_function("graft_might_contain", lit(bloom), hash))
      increment.join(pruned, keys, "left_anti")
    } else increment.join(zone, keys, "left_anti")
}
